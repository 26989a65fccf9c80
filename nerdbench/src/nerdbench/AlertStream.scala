package nerdbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.WardenFilter
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.MergeOnReadSnapshotStore

/** Open-loop alert feed. Setup seeds a merge-on-read store with 30 days of
  * history (folded with a 31-day window, as if it had arrived over those 30
  * days) and stages the feed files; the run renames one file into a
  * Structured Streaming file source every `intervalMs`, and each micro-batch
  * runs WardenFilter -> `StreamIngest.runBatchExactlyOnce` -> `Derive.snapshot`
  * over all landed alert files (the append-only event store) -> one `Search`
  * probe for the marker entities of the batch's files.
  *
  * The feed runs above capacity: a trigger takes about twice `intervalMs`,
  * so the file source folds the two or three files that landed meanwhile
  * into the next trigger, and freshness includes the wait for the trigger in
  * flight. A slower feed would leave too few samples in the run for a tail.
  */
final class AlertStream(env: Env, seconds: Int) extends Workload {
  import Env._
  private val spark = env.spark
  private val entities = 40000
  private val histFiles = 4
  private val histFileSize = 5000
  private val feedFileSize = 200
  private val intervalMs = 1000L
  // the first triggers still run JIT-cold (probe, fold and derive times fall
  // for about 8 s of feed): their files are not measured
  private val warmupFiles = 8
  private val feedFiles = warmupFiles + (seconds * 1000L / intervalMs).toInt

  private final case class State(dir: String, hist: Seq[AlertFile], histPaths: Seq[String],
                                 feed: Seq[AlertFile], staged: Seq[String],
                                 store: MergeOnReadSnapshotStore)
  private var st: State = _

  def prepare(): Unit = {
    val gen = new Gen(env.seed, entities)
    val hist = (0 until histFiles).map(i =>
      gen.file(i, histFileSize, recentSecs = 30L * 86400, eventIdBase = i * 1000000L))
    val feed = (0 until feedFiles).map(j =>
      gen.file(histFiles + j, feedFileSize, recentSecs = 6L * 3600, eventIdBase = (histFiles + j) * 1000000L))
    st = State(null, hist, writeAlertFiles(spark, hist, env.dir("alert_stream/history")),
      feed, writeAlertFiles(spark, feed, env.dir("alert_stream/staged")), null)
  }

  /** The program's own set-up: seed a fresh store with the history and
    * publish the first entity table.
    */
  def setup(round: Int): Unit = {
    if (st.dir != null) deleteRecursively(new File(st.dir))
    val dir = env.dir(s"alert_stream/round$round")
    val store = newStore(spark, s"$dir/store")
    env.span("setup.seed_store") {
      StreamIngest.runBatch(store, readEvents(spark, st.histPaths), Gen.NowEpoch, maxAgeDays = 31)
    }
    env.span("setup.publish") { publishTable(spark, st.histPaths, s"$dir/table/v0") }
    st = st.copy(dir = dir, store = store)
  }

  def run(out: Metrics): Unit = {
    val s = st
    val src = env.dir("alert_stream-feed/src")
    val byName = s.feed.map(f => fileName(f.index) -> f).toMap
    val due = new ConcurrentHashMap[Int, Double]()
    val landed = new AtomicInteger(0)
    val processed = mutable.ArrayBuffer.empty[String]
    val processedFiles = mutable.ArrayBuffer.empty[AlertFile]
    val fresh = mutable.ArrayBuffer.empty[Double]
    val probeMs = mutable.ArrayBuffer.empty[Double]
    val deriveMs = mutable.ArrayBuffer.empty[Double]
    var batchAlerts = 0L
    var batchMs = 0.0
    var liveTable = s"${s.dir}/table/v0"
    val firstMeasured = s.feed(warmupFiles).index

    def processBatch(batch: DataFrame, batchId: Long): Unit = {
      val t0 = nowMs()
      // the batch frame foreachBatch gets has no file index left to ask
      val files = batch.select(input_file_name()).distinct().collect()
        .map(r => new File(new java.net.URI(r.getString(0)).getPath).getName)
        .flatMap(byName.get).sortBy(_.index).toSeq
      if (files.isEmpty) return
      env.record("streaming.lag_files", landed.get - processed.size)
      files.foreach(f => env.record("streaming.queue_wait_ms", t0 - due.get(f.index)))
      env.span("streaming.trigger", s"batch$batchId") {
        val filtered = env.span("ingest.warden_filter", s"batch$batchId") {
          WardenFilter(batch, Gen.FilterRules)
        }
        if (env.tracer.enabled) env.countIngest(batch, filtered, s"batch$batchId")
        val before = s.store.versionCount
        val a0 = nowMs()
        env.span("streaming.store.apply", s"batch$batchId") {
          StreamIngest.runBatchExactlyOnce(s.store, filtered, Gen.NowEpoch, batchId, maxAgeDays = 7)
        }
        if (env.tracer.enabled) recordStore(before, nowMs() - a0, files)
        processed ++= files.map(f => s"$src/${fileName(f.index)}")
        processedFiles ++= files
        val next = s"${s.dir}/table/b$batchId"
        val d0 = nowMs()
        env.span("derive.snapshot", s"batch$batchId") { publishTable(spark, s.histPaths ++ processed, next) }
        val dMs = nowMs() - d0
        val table = spark.read.parquet(next)
        val p0 = nowMs()
        val shown = env.span("query.probe", s"batch$batchId") {
          probe(table, files.map(Reference.markerExpectation))
        }
        val end = nowMs()
        if (files.exists(_.index >= firstMeasured)) probeMs += end - p0
        files.zip(shown).foreach { case (f, ok) =>
          env.check(ok, s"probe of ${fileName(f.index)}")
          // a failed or stale probe never made the alert searchable: an SLO miss
          if (f.index >= firstMeasured)
            fresh += (if (ok) end - due.get(f.index) else Double.PositiveInfinity)
        }
        deleteRecursively(new File(liveTable))
        liveTable = next
        if (files.exists(_.index >= firstMeasured)) {
          deriveMs += dMs
          // ingest throughput counts the alerts that reach the fold
          batchAlerts += files.flatMap(_.alerts)
            .count(a => Gen.passesFilter(a) && Gen.valid(a, Gen.NowEpoch, 7))
          batchMs += nowMs() - t0
        }
      }
    }

    val query = spark.readStream.schema(EventSchema).parquet(src)
      .writeStream
      .option("checkpointLocation", env.dir("alert_stream-feed/ckpt"))
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
    env.tracer.alias(query.runId.toString)
    // open-loop schedule: file j is due at start + j * interval, whatever the
    // pipeline is doing
    val start = nowMs() + 200.0
    val lateness = mutable.ArrayBuffer.empty[Double]
    s.feed.zip(s.staged).zipWithIndex.foreach { case ((f, path), j) =>
      val d = start + j * intervalMs
      val wait = d - nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
      due.put(f.index, d)
      val dst = Paths.get(src, fileName(f.index))
      Files.move(Paths.get(path), dst)
      // admission order is by mtime, as the file source sees it
      dst.toFile.setLastModified(System.currentTimeMillis())
      landed.incrementAndGet()
      lateness += nowMs() - d
    }
    env.log("feed landed")
    val deadline = nowMs() + 60000.0
    while (processed.size < s.feed.size && nowMs() < deadline && query.isActive) Thread.sleep(20)
    query.stop()
    env.check(processed.size == s.feed.size, s"feed drained (${processed.size}/${s.feed.size} files)")

    env.log("feed drained")
    // correctness: the store equals a one-shot fold of what it should hold
    val accepted = s.hist.flatMap(_.alerts).filter(Gen.valid(_, Gen.NowEpoch, 31)) ++
      processedFiles.flatMap(_.alerts).filter(a => Gen.passesFilter(a) && Gen.valid(a, Gen.NowEpoch, 7))
    env.check(Reference.storeMatchesOneShot(spark, s.store, accepted), "store equals one-shot fold")
    env.log("store checked")

    out.freshness(fresh.toSeq)
    out.search(probeMs.toSeq, probeMs.sum / 1000.0)
    out.e2e("ingest_alerts_per_s", batchAlerts / (batchMs / 1000.0))
    out.e2e("rederive_s", Stats.median(deriveMs.toSeq) / 1000.0)
    // space after maintenance: how many deltas happen to be pending when the
    // feed ends is a matter of phase, not of the program
    out.info += (("store_mb_before_compaction", "MB", dirBytes(new File(s"${s.dir}/store")) / 1e6))
    s.store.compact()
    out.e2e("store_mb_end", (dirBytes(new File(s"${s.dir}/store")) + dirBytes(new File(liveTable))) / 1e6)
    out.info += (("generator_late_ms_max", "ms", lateness.max))
  }

  /** Traced run only: what the apply wrote, read back from the store. */
  private def recordStore(before: Int, applyMs: Double, files: Seq[AlertFile]): Unit = {
    val root = new File(st.dir, "store")
    val newest = root.listFiles().filter(d => d.getName.matches("v\\d+"))
      .maxBy(_.getName.drop(1).toLong)
    val compacted = st.store.versionCount < before + 1
    env.record("streaming.store.apply.ms", applyMs)
    env.record("streaming.store.versions", math.max(before + 1, st.store.versionCount))
    if (compacted) env.record("streaming.store.compactions", 1)
    else env.recordDelta(newest, files.map(_.alerts.size).sum)
  }
}
