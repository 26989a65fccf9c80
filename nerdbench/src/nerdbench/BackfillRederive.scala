package nerdbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.derive.{Reputation, ThreatCategorize}
import graft.sinks.Exports
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.MergeOnReadSnapshotStore
import graft.tagsdsl.Tags

/** Batch backfill. A backlog lands at once; `StreamIngest.start` drains it
  * with `Trigger.AvailableNow` and a bounded `maxFilesPerTrigger` into an
  * empty merge-on-read store; then one full re-scoring pass (NERD's updater
  * and nightly cycle) derives, scores, categorizes, tags and exports.
  * `StreamIngest.start` keeps the default 7-day reception window, so the
  * backlog's alerts fall inside it (apart from the generator's declared late
  * and future shares), and every trigger folds thousands of alerts.
  * Once the table is published, two analyst clients run the search mix over
  * it with no writes in flight. Passes repeat, each on a fresh store.
  */
final class BackfillRederive(env: Env, seconds: Int) extends Workload {
  import Env._
  import BackfillRederive._
  private val spark = env.spark
  private val entities = 150000
  private val files = 4
  private val fileSize = 5000
  private val maxFilesPerTrigger = 2

  private var dir: String = _
  private var backlog: Seq[AlertFile] = Nil
  private var staged: Seq[String] = Nil
  private val passS = mutable.ArrayBuffer.empty[Double]
  private var lastPass: Option[Pass] = None

  def prepare(): Unit = {
    val gen = new Gen(env.seed, entities)
    backlog = (0 until files).map(i =>
      gen.file(i, fileSize, recentSecs = 6L * 86400, eventIdBase = i * 1000000L))
  }

  /** A backfill starts from nothing but the backlog: set-up stages it as
    * parquet files, ready to land.
    */
  def setup(round: Int): Unit = {
    if (dir != null) deleteRecursively(new File(dir))
    dir = env.dir(s"backfill/round$round")
    staged = env.span("setup.stage_backlog") { writeAlertFiles(spark, backlog, s"$dir/staged") }
  }

  def run(out: Metrics): Unit = {
    val fresh = mutable.ArrayBuffer.empty[Double]
    val searchMs = mutable.ArrayBuffer.empty[Double]
    var searchS = 0.0
    val rates = mutable.ArrayBuffer.empty[Double]
    val rederive = mutable.ArrayBuffer.empty[Double]
    // one small untimed pass first, so the timed passes run warm
    runPass(env, s"$dir/warmup", backlog.take(1), staged.take(1), "warmup", maxFilesPerTrigger)
    deleteRecursively(new File(s"$dir/warmup"))
    env.log("warm-up pass")
    env.progress.triggers.clear()
    env.progress.addBatchMs.clear()
    // A pass takes about PassSeconds; the count follows from --seconds alone,
    // so every run measures the same passes of the JIT warm-up curve.
    val passes = math.max(1L, math.round(seconds / PassSeconds)).toInt
    (0 until passes).foreach { n =>
      lastPass.foreach(p => deleteRecursively(new File(p.dir)))
      val p = runPass(env, s"$dir/pass$n", backlog, staged, s"pass$n", maxFilesPerTrigger)
      lastPass = Some(p)
      fresh ++= p.freshMs
      searchMs ++= p.searchMs
      searchS += p.searchS
      rates += p.folded / p.drainS
      rederive += p.rederiveS
      passS += p.drainS + p.rederiveS
      env.log(f"pass $n: drain ${p.drainS}%.1f s, re-score ${p.rederiveS}%.1f s, search ${p.searchS}%.1f s")
    }
    val p = lastPass.get
    val accepted = backlog.flatMap(_.alerts).filter(Gen.valid(_, Gen.NowEpoch, 7))
    env.check(Reference.storeMatchesOneShot(spark, p.store, accepted), "store equals one-shot fold")
    val exported = spark.read.option("header", "true").csv(s"${p.dir}/ip_rep.csv").count()
    env.check(exported == spark.read.parquet(s"${p.dir}/reputation").count(), "export row count")
    env.log("outputs checked")

    out.freshness(fresh.toSeq)
    out.search(searchMs.toSeq, searchS)
    out.e2e("ingest_alerts_per_s", Stats.median(rates.toSeq))
    out.e2e("rederive_s", Stats.median(rederive.toSeq))
    out.e2e("store_mb_end", (dirBytes(new File(s"${p.dir}/store")) + dirBytes(new File(s"${p.dir}/table"))) / 1e6)
    env.record("streaming.store.versions", p.store.versionCount)
    env.record("streaming.store.compactions", p.compactions)
  }

  /** Traced run only: the same pass on one core, as a scaling baseline. */
  def singleCorePass(local1: SparkSession): Double = {
    val e = new Env(local1, new Tracer(local1, enabled = false), dir, env.seed)
    val p = runPass(e, s"$dir/pass_local1", backlog, staged, "local1", maxFilesPerTrigger)
    e.progress.close()
    (p.drainS + p.rederiveS) / Stats.median(passS.toSeq)
  }

  // staging a backlog is short and its first rounds run cold: more rounds
  // keep its median steady
  override def setupRounds: Int = 5
}

object BackfillRederive {
  final case class Pass(dir: String, store: MergeOnReadSnapshotStore, folded: Long, drainS: Double,
                        rederiveS: Double, freshMs: Seq[Double], searchMs: Seq[Double], searchS: Double,
                        compactions: Int)

  val SearchClients = 2
  val PassSeconds = 9.0

  /** NERD's reputation config: the warden source plus two weighted feeds. */
  private def repSources = Seq(
    Reputation.RepSource("warden", lit(true), scaleEvents = 10d, scaleDetectors = Some(2d)),
    Reputation.RepSource("bruteforce", col("event_type") === "bruteforce", scaleEvents = 5d,
      timeDecay = "half_life", halfLife = 3d, trustFactor = 0.8),
    Reputation.RepSource("heavy", col("value") > 150d, scaleEvents = 3d, dateRange = 7,
      timeDecay = "none", trustFactor = 0.5))

  private def catRules = Seq(
    ThreatCategorize.CatRule("scan", "src", col("event_type") === "scan" && col("k") >= 50),
    ThreatCategorize.CatRule("bruteforce", "src", col("event_type") === "bruteforce"),
    ThreatCategorize.CatRule("ddos", "src", col("event_type") === "ddos" && col("value") > 100d),
    ThreatCategorize.CatRule("malware", "src", col("event_type") === "malware"))

  /** Land the staged backlog, drain it into an empty store, re-score, and
    * probe every file's marker.
    */
  def runPass(env: Env, dir: String, backlog: Seq[AlertFile], staged: Seq[String], req: String,
              maxFilesPerTrigger: Int): Pass = {
    import Env._
    val spark = env.spark
    val src = s"$dir/src"
    Files.createDirectories(Paths.get(src))
    val landed = nowMs()
    val landedWall = System.currentTimeMillis()
    val paths = link(staged, src)
    val store = newStore(spark, s"$dir/store")
    val t0 = nowMs()
    val triggersBefore = env.progress.triggers.size
    val runId = env.span("streaming.backfill", req) {
      val q = StreamIngest.start(spark, src, store, s"$dir/ckpt", () => Gen.NowEpoch,
        maxFilesPerTrigger = Some(maxFilesPerTrigger), trigger = Some(Trigger.AvailableNow()))
      env.tracer.alias(q.runId.toString)
      q.awaitTermination()
      q.runId.toString
    }
    val drained = nowMs()
    val events = readEvents(spark, paths)
    env.span("derive.snapshot", req) { publishTable(spark, paths, s"$dir/table") }
    val table = spark.read.parquet(s"$dir/table")
    env.span("derive.reputation_multi", req) {
      Reputation.multiSource(events, Gen.Today, repSources).write.parquet(s"$dir/reputation")
    }
    env.span("derive.threat_summary", req) {
      val withK = events.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      ThreatCategorize.summary(ThreatCategorize.classify(withK, catRules), Gen.Today)
        .write.parquet(s"$dir/threats")
    }
    env.span("tagsdsl.evaluate", req) {
      Tags.evaluate(table, TagDefs).write.parquet(s"$dir/tags")
    }
    env.span("sinks.export", req) {
      Exports.writeCsv(Exports.ipRepFrame(spark.read.parquet(s"$dir/reputation")), s"$dir/ip_rep.csv")
    }
    val rescored = nowMs()
    val fresh = mutable.ArrayBuffer.empty[Double]
    backlog.foreach { f =>
      val ok = env.span("query.probe", fileName(f.index)) {
        probe(table, Seq(Reference.markerExpectation(f))).head
      }
      env.check(ok, s"probe of ${fileName(f.index)} after $req")
      if (ok) fresh += nowMs() - landed
    }
    val (searchMs, searchS) = env.span("query.search_mix", req) {
      SearchOps.burst(env, table, events, backlog.flatMap(_.alerts), SearchClients,
        env.seed * 7919 + req.hashCode, req)
    }
    // versions created = applied batches + compactions (each writes one)
    val batches = env.progress.triggers.size - triggersBefore
    val created = new File(s"$dir/store").listFiles().map(_.getName).filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong).max + 1
    val compactions = math.max(0, (created - batches).toInt)
    if (env.tracer.enabled && !req.startsWith("warmup"))
      traceBatches(env, dir, backlog, landedWall, runId, req, deltasIntact = compactions == 0)
    // ingest throughput counts the alerts that reach the fold
    val folded = backlog.map(_.alerts.count(Gen.valid(_, Gen.NowEpoch, 7)).toLong).sum
    Pass(dir, store, folded, (drained - t0) / 1000.0,
      (rescored - drained) / 1000.0, fresh.toSeq, searchMs, searchS, compactions)
  }

  /** Traced run only: per drained micro-batch, the ingest counts, the file
    * lag and queue wait at its trigger's start, and what its store apply
    * wrote. Batch membership comes from the file source's log in the
    * checkpoint. While no compaction ran, batch `n` of an empty store wrote
    * delta version `v<n>`. This path has no Warden filter, so every landed
    * alert enters validation.
    */
  private def traceBatches(env: Env, dir: String, backlog: Seq[AlertFile], landedWall: Long,
                           runId: String, req: String, deltasIntact: Boolean): Unit = {
    import Env._
    val byName = backlog.map(f => fileName(f.index) -> f).toMap
    val PathRe = "\"path\":\"([^\"]+)\"".r
    val logs = new File(s"$dir/ckpt/sources/0").listFiles().filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong)
    var done = 0
    logs.foreach { log =>
      val id = log.getName.toLong
      val files = PathRe.findAllMatchIn(new String(Files.readAllBytes(log.toPath), "UTF-8"))
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName).flatMap(byName.get).toSeq
      env.record("streaming.lag_files", backlog.size - done)
      Option(env.progress.starts.get((runId, id))).foreach(start =>
        files.foreach(_ => env.record("streaming.queue_wait_ms", (start - landedWall).toDouble)))
      val events = readEvents(env.spark, files.map(f => s"$dir/src/${fileName(f.index)}"))
      env.countIngest(events, events, s"$req.batch$id")
      val delta = new File(s"$dir/store/v$id")
      if (deltasIntact && delta.isDirectory) env.recordDelta(delta, files.map(_.alerts.size).sum)
      done += files.size
    }
  }
}
