package nerdbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

trait Workload {
  /** Generate and write the workload's inputs; once, untimed. */
  def prepare(): Unit
  /** Build the workload's starting state; called `setupRounds` times, timed. */
  def setup(round: Int): Unit
  def setupRounds: Int = 3
  /** Measure for the run's seconds and record the end-to-end metrics. */
  def run(out: Metrics): Unit
}

/** End-to-end values of one run, plus informational lines (tail
  * percentile, sample counts, SLO misses) printed beside them.
  */
final class Metrics {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.ArrayBuffer.empty[(String, String, Double)]
  def e2e(name: String, v: Double): Unit = e2e(name) = v

  /** Alert -> searchable samples; +Inf marks a probe that never showed. */
  def freshness(xs: Seq[Double]): Unit = {
    val ok = xs.filter(x => !x.isInfinite)
    val (p, tail) = Stats.tail(ok)
    e2e("freshness_p50_ms", Stats.median(ok))
    e2e("freshness_tail_ms", tail)
    info += (("freshness_tail_percentile", "pct", p))
    info += (("freshness_samples", "count", xs.size.toDouble))
    info += (("freshness_slo_miss_ratio", "ratio", xs.count(x => !(x <= Main.SloMs)).toDouble / math.max(1, xs.size)))
  }

  /** Search latencies, and throughput over the wall time during which a
    * search was in flight (`busyS`).
    */
  def search(xs: Seq[Double], busyS: Double): Unit = {
    val (p, tail) = Stats.tail(xs)
    e2e("search_p50_ms", Stats.median(xs))
    e2e("search_tail_ms", tail)
    e2e("search_qps", xs.size / busyS)
    info += (("search_tail_percentile", "pct", p))
    info += (("search_samples", "count", xs.size.toDouble))
  }
}

object Main {
  val SloMs = 10000.0
  /** Cores of the measured session, `local[Cores]`. */
  val Cores = 4

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "freshness_p50_ms" -> "ms", "freshness_tail_ms" -> "ms",
    "ingest_alerts_per_s" -> "alerts/s", "rederive_s" -> "s", "search_p50_ms" -> "ms",
    "search_tail_ms" -> "ms", "search_qps" -> "ops/s", "store_mb_end" -> "MB")

  /** Per-layer metrics, reported by the traced run: (name, unit, how the
    * recorded samples reduce). Absent on a workload, a metric reads 0.
    */
  val PerLayer: Seq[(String, String, String, String)] = Seq(
    ("streaming.trigger.ms_p50", "ms", "streaming.trigger_ms", "p50"),
    ("streaming.trigger.overhead_ms_p50", "ms", "streaming.trigger_overhead_ms", "p50"),
    ("streaming.queue_wait_ms_p50", "ms", "streaming.queue_wait_ms", "p50"),
    ("streaming.lag_files_max", "count", "streaming.lag_files", "max"),
    ("streaming.store.apply.ms_p50", "ms", "streaming.store.apply.ms", "p50"),
    ("streaming.store.apply.ms_tail", "ms", "streaming.store.apply.ms", "tail"),
    ("streaming.store.touched_bucket_ratio", "ratio", "streaming.store.touched_bucket_ratio", "mean"),
    ("streaming.store.rewrite_ratio", "ratio", "streaming.store.rewrite_ratio", "p50"),
    ("streaming.store.bytes_written_per_alert", "B", "streaming.store.bytes_written_per_alert", "p50"),
    ("streaming.store.compactions", "count", "streaming.store.compactions", "sum"),
    ("streaming.store.versions_max", "count", "streaming.store.versions", "max"),
    ("ingest.filter_pass_ratio", "ratio", "ingest.filter_pass_ratio", "mean"),
    ("ingest.validate_drop_ratio", "ratio", "ingest.validate_drop_ratio", "mean"),
    ("ingest.tasks_per_alert", "ratio", "ingest.tasks_per_alert", "mean"),
    ("fold.entities_touched", "count", "fold.entities_touched", "p50"),
    ("derive.snapshot.ms_p50", "ms", "span:derive.snapshot", "p50"),
    ("derive.snapshot.rows_scanned", "count", "rows:derive.snapshot", "p50"),
    ("derive.reputation_multi.ms", "ms", "span:derive.reputation_multi", "p50"),
    ("derive.threat_summary.ms", "ms", "span:derive.threat_summary", "p50"),
    ("tagsdsl.evaluate.ms", "ms", "span:tagsdsl.evaluate", "p50"),
    ("sinks.export.ms", "ms", "span:sinks.export", "p50"),
    ("query.probe.ms_p50", "ms", "span:query.probe", "p50"),
    ("query.search_page.ms_p50", "ms", "query.search_page.ms", "p50"),
    ("query.bulk_rep.ms_p50", "ms", "query.bulk_rep.ms", "p50"),
    ("query.event_listing.ms_p50", "ms", "query.event_listing.ms", "p50"),
    ("query.plan_ms_p50", "ms", "query.plan_ms", "p50"),
    ("query.jobs_per_op", "count", "query.jobs_per_op", "mean"),
    ("query.rows_scanned_per_row_returned", "ratio", "query.rows_scanned_per_row", "mean"),
    ("scaling.local1_slowdown", "ratio", "scaling.local1_slowdown", "max"))

  def session(cores: Int, root: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("nerdbench")
    .config("spark.sql.shuffle.partitions", (2 * cores).toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.files.maxPartitionBytes", "8m")
    .config("spark.sql.files.openCostInBytes", "262144")
    .config("spark.sql.json.enablePartialResults", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.kryo.registrator", "graft.GraftKryoRegistrator")
    .config("spark.local.dir", s"$root/spark-local")
    .config("spark.sql.warehouse.dir", s"$root/warehouse")
    .config("spark.sql.streaming.pollingDelay", "10ms")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val root = opts("work")
    val resultPath = opts("result")

    val spark = session(Cores, root)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val env = new Env(spark, tracer, root, seed)
    env.log("session up")
    val w: Workload = workload match {
      case "alert_stream" => new AlertStream(env, seconds)
      case "backfill_rederive" => new BackfillRederive(env, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Metrics
    tracer.span("prepare", workload) { w.prepare() }
    env.log("inputs written")
    val setupS = (0 until w.setupRounds).map { i =>
      val t0 = System.nanoTime()
      tracer.span("setup", s"round$i") { w.setup(i) }
      env.log(s"setup round $i")
      (System.nanoTime() - t0) / 1e9
    }
    out.e2e("setup_s", Stats.median(setupS))
    // setup's own streaming triggers stay out of the per-layer samples
    tracer.drain()
    env.progress.triggers.clear()
    env.progress.addBatchMs.clear()
    System.gc()
    tracer.span("run", workload) { w.run(out) }
    env.log("run")
    tracer.drain()

    env.progress.triggers.forEach { case (_, ms, overhead) =>
      env.record("streaming.trigger_ms", ms.toDouble)
      env.record("streaming.trigger_overhead_ms", overhead.toDouble)
    }
    if (workload == "backfill_rederive")
      env.progress.addBatchMs.forEach(ms => env.record("streaming.store.apply.ms", ms.toDouble))
    val rdds = spark.sparkContext.getRDDStorageInfo
    val pinnedMb = rdds.map(r => r.memSize + r.diskSize).sum / 1e6
    out.info += (("storage_mem_mb_end", "MB", pinnedMb))
    out.info += (("cached_rdds_end", "count", rdds.length.toDouble))
    out.info += (("cached_blocks_end", "count", rdds.map(_.numCachedPartitions.toLong).sum.toDouble))
    out.info += (("failed_ops_ratio", "ratio", env.failed.toDouble / math.max(1L, env.attempted)))

    val perLayer: Seq[(String, String, Double)] =
      if (!traced) Nil
      else {
        spanSamples(tracer, env)
        env.progress.close()
        spark.stop()
        w match {
          case b: BackfillRederive =>
            val local1 = session(1, root)
            local1.sparkContext.setLogLevel("ERROR")
            env.record("scaling.local1_slowdown", b.singleCorePass(local1))
            local1.stop()
          case _ =>
        }
        PerLayer.map { case (name, unit, key, how) =>
          (name, unit, reduce(env.layer.get(key).map(_.toSeq).getOrElse(Nil), how))
        }
      }
    if (!traced) { env.progress.close(); spark.stop() }
    env.log("stopped")

    val metrics =
      if (traced) perLayer
      else Main.E2eUnits.map { case (n, u) => (n, u, out.e2e(n)) }
    (metrics ++ out.info).foreach { case (n, u, v) => println(s"$n $u $v") }
    val json = Json.obj(
      "correct" -> (env.failed == 0 && metrics.forall(m => !m._3.isNaN && !m._3.isInfinite)),
      "attempted" -> env.attempted,
      "failed" -> env.failed,
      "metrics" -> Json.Raw(metrics.map { case (n, u, v) =>
        Json.quote(n) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}")))
    Files.writeString(Paths.get(resultPath), json + "\n")
    env.log("result written")
    if (traced) {
      Files.writeString(Paths.get(resultPath.stripSuffix(".json") + ".trace.json"),
        s"""{"workload":${Json.quote(workload)},"seed":$seed,"seconds":$seconds,""" +
          s""""e2e":${Main.E2eUnits.map { case (n, u) => Json.quote(n) + ":" + Json.obj("value" -> out.e2e(n), "unit" -> u) }.mkString("{", ",", "}")},""" +
          s""""summary":${tracer.summaryJson()},\n"spans":${tracer.spansJson()}}""" + "\n")
    }
    // Spark can leave non-daemon pool threads behind that would hold the JVM
    // open for their keep-alive time
    sys.exit(0)
  }

  /** Per-layer samples the tracer's spans carry. */
  private def spanSamples(tracer: Tracer, env: Env): Unit = {
    val all = tracer.spans
    val incl = tracer.inclusiveStats(all)
    val measured = all.filter(!_.req.startsWith("warmup"))
    measured.foreach { s =>
      env.record(s"span:${s.name}", s.ms)
      env.record(s"rows:${s.name}", incl(s.id).rowsScanned.toDouble)
    }
    val opSpans = SearchOps.Shares.map { case (kind, _) => s"query.$kind" }.toSet
    measured.filter(s => opSpans(s.name)).foreach { s =>
      env.record("query.jobs_per_op", incl(s.id).jobs.toDouble)
      if (s.rowsReturned > 0)
        env.record("query.rows_scanned_per_row", incl(s.id).rowsScanned.toDouble / s.rowsReturned)
    }
  }

  def reduce(xs: Seq[Double], how: String): Double =
    if (xs.isEmpty) 0.0
    else how match {
      case "p50" => Stats.median(xs)
      case "tail" => Stats.tail(xs)._2
      case "max" => xs.max
      case "sum" => xs.sum
      case "mean" => xs.sum / xs.size
    }
}
