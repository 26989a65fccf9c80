package nerdbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.derive.Derive
import graft.ingest.EventTasks
import graft.query.Search
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.MergeOnReadSnapshotStore
import graft.tagsdsl.Tags

/** Shared state of one benchmark run: session, tracer, scratch root, and
  * the counters every workload feeds.
  */
final class Env(val spark: SparkSession, val tracer: Tracer, val root: String, val seed: Long) {
  val progress = new StreamProgress(spark)
  var attempted = 0L
  var failed = 0L
  /** Per-layer samples, reduced to the reported metrics at the end. */
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def record(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  /** Count one operation; a false check counts as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[nerdbench] check failed: $what") }
    ok
  }

  def dir(name: String): String = {
    val d = new File(root, name)
    d.mkdirs()
    d.getPath
  }

  def span[T](name: String, req: String = "")(body: => T): T = tracer.span(name, req)(body)

  /** Traced runs only: the counts behind the ingest ratios for one batch,
    * `raw` as it landed and `filtered` as it enters validation.
    */
  def countIngest(raw: DataFrame, filtered: DataFrame, req: String): Unit =
    span("ingest.counts", req) {
      val in = raw.count().toDouble
      val passed = filtered.count().toDouble
      val valid = StreamIngest.validate(filtered, Gen.NowEpoch, 7)
      val nValid = valid.count().toDouble
      val tasks = EventTasks.preAggregated(valid).count().toDouble
      val touched = valid.select("user_id").distinct().count().toDouble
      record("ingest.filter_pass_ratio", passed / in)
      record("ingest.validate_drop_ratio", (passed - nValid) / passed)
      record("ingest.tasks_per_alert", tasks / nValid)
      record("fold.entities_touched", touched)
    }

  /** Traced runs only: what one store apply wrote, read back from its delta
    * version directory `v` (manifest, rows, bytes); `alerts` is the batch's
    * size, and the batch's entities are the last `fold.entities_touched`.
    */
  def recordDelta(v: File, alerts: Int): Unit = {
    val manifest = new String(Files.readAllBytes(new File(v, "_buckets.json").toPath), "UTF-8")
    val buckets = "\"buckets\":\\[([^\\]]*)\\]".r.findFirstMatchIn(manifest)
      .map(_.group(1).split(",").count(_.nonEmpty)).getOrElse(0)
    record("streaming.store.touched_bucket_ratio", buckets.toDouble / Env.StoreBuckets)
    val rewritten = spark.read.parquet(v.getPath).count().toDouble
    val touched = layer.get("fold.entities_touched").map(_.last).getOrElse(Double.NaN)
    record("streaming.store.rewrite_ratio", rewritten / touched)
    record("streaming.store.bytes_written_per_alert", Env.dirBytes(v).toDouble / alerts)
  }

  private val t0 = System.nanoTime()
  /** Progress note on stderr, with seconds since the run started. */
  def log(what: String): Unit =
    System.err.println(f"[nerdbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
}

object Env {
  val EventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Tag rules evaluated into the searchable entity table. */
  val TagDefs: Seq[Tags.TagDef] = Seq(
    Tags.TagDef("scanner", "'scan' in types_arr and total7 > 20", Some("7d events: {total7}")),
    Tags.TagDef("multi_vector", "nodes_30d >= 3"),
    Tags.TagDef("rep_score", "rep * 10"),
    Tags.TagDef("volume", "total30 / 100"))

  def nowMs(): Double = System.nanoTime() / 1e6

  val StoreBuckets = 8

  /** The entity store both workloads fold into: merge-on-read, compacting
    * once more than four deltas pile up.
    */
  def newStore(spark: SparkSession, root: String): MergeOnReadSnapshotStore =
    new MergeOnReadSnapshotStore(spark, root, numBuckets = StoreBuckets, maxDeltas = 4)

  def fileName(index: Int): String = f"alerts-$index%06d.parquet"

  private val RawSchema = StructType.fromDDL(
    "f INT, event_id BIGINT, ts_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")

  /** Alerts as a frame in the `events` schema, `f` tagging each row's file. */
  def alertRows(spark: SparkSession, files: Seq[(Int, Seq[Alert])]): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    files.foreach { case (f, alerts) =>
      alerts.foreach(a => rows.add(org.apache.spark.sql.Row(f, a.eventId, a.tsMicros, a.userId,
        a.eventType, a.value, a.props)))
    }
    spark.createDataFrame(rows, RawSchema)
      .select(col("f"), col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** Write every file in one Spark job, each as `dir/alerts-<index>.parquet`
    * with its rows in event-id order.
    */
  def writeAlertFiles(spark: SparkSession, files: Seq[AlertFile], dir: String): Seq[String] = {
    val tmp = s"$dir/_staging_tmp"
    alertRows(spark, files.map(f => f.index -> f.alerts))
      .repartition(math.max(1, math.min(files.size, 8)), col("f"))
      .sortWithinPartitions("f", "event_id")
      .write.partitionBy("f").parquet(tmp)
    val out = files.map { f =>
      val part = new File(s"$tmp/f=${f.index}").listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(dir, fileName(f.index))
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toString
    }
    deleteRecursively(new File(tmp))
    out
  }

  /** Land files in `dir` as hard links: instant, and the staged copies stay
    * for the next round.
    */
  def link(files: Seq[String], dir: String): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    files.map { s =>
      val dst = Paths.get(dir, new File(s).getName)
      Files.createLink(dst, Paths.get(s))
      dst.toString
    }
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  def readEvents(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(EventSchema).parquet(paths: _*)

  /** Derive the searchable entity table (snapshot + tags) from the event
    * files and write it to `out`.
    */
  def publishTable(spark: SparkSession, eventPaths: Seq[String], out: String): Unit =
    Tags.tagsMapColumn(Derive.snapshot(readEvents(spark, eventPaths), Gen.Today), TagDefs)
      .write.mode("overwrite").parquet(out)

  /** The freshness probe: one `Search.searchPage` call for the markers
    * (entity, total, reputation). Per marker: does its row show the expected
    * total and reputation?
    */
  def probe(table: DataFrame, markers: Seq[(Long, Long, Double)]): Seq[Boolean] = {
    val rows = Search.searchPage(table, Search.SearchFilter(entityIn = Some(markers.map(_._1))),
      "rep", asc = false, skip = 0, limit = markers.size + 10).select("entity", "total", "rep")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    markers.map { case (m, total, rep) =>
      rows.get(m).exists { case (t, r) => t == total && math.abs(r - rep) < 1e-9 }
    }
  }
}
