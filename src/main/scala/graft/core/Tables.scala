package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided test tables (TESTDATA.md).
  *
  * At cluster scale these would be external catalog tables; the loaders keep
  * the path-based contract in one place so every operator reads through the
  * same scan (predicate pushdown / column pruning verified in specs).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"${globEscaped(sfDir)}/$name.parquet")

  /** `dir` with Hadoop's glob characters escaped: the parquet reader expands
    * every load path as a glob, so a data dir whose name holds `\`, `[`,
    * `{`, `*` or `?` would otherwise match nothing (`PATH_NOT_FOUND`).
    */
  private def globEscaped(dir: String): String =
    dir.flatMap(c => if ("\\[{*?".indexOf(c) >= 0) s"\\$c" else c.toString)

  /** Adaptive scan parallelism for the CPU-heavy document/embedding pipelines:
    * a 100 TB table arrives as thousands of input splits and needs no help,
    * but a single small parquet file scans as ONE partition, serializing all
    * map-side hashing/shingling onto one core. When the scan has fewer
    * partitions than the cluster has slots, fan it out once up front; the
    * shuffle is O(small input) by construction — a table big enough for the
    * shuffle to hurt has enough splits to skip it. Only applied to tables
    * whose operators are order-insensitive (hash/integer/row-local work):
    * fanning out a table feeding floating-point SUMs would legally reorder
    * the addition and wobble last-ulp results across runs/engines.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanPartitions(df) < target) df.repartition(target) else df
  }

  /** Scan-side partition estimate WITHOUT converting the frame to an RDD
    * (an `.rdd` probe plans + materializes an RDD lineage per table load —
    * a driver-side planning wart). Reads the file-index metadata Spark's own
    * `FilePartition` packing consumes: splittable-format partitions ≈
    * ceil(bytes / maxPartitionBytes) summed per file. Frames that don't
    * bottom out in a single file scan (unit-test `createDataFrame` locals)
    * report "enough" — fanning out a test-local frame is never needed.
    */
  private def estimatedScanPartitions(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scans = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          val sqlConf = df.sparkSession.sessionState.conf
          val files = fs.location.inputFiles
          if (files.isEmpty) 0L
          else {
            val conf = df.sparkSession.sessionState.newHadoopConf()
            val lens = files.map { f =>
              val p = new org.apache.hadoop.fs.Path(f)
              p.getFileSystem(conf).getFileStatus(p).getLen
            }
            // FilePartition.maxSplitBytes: min(maxPartitionBytes,
            //   max(openCostInBytes, (totalBytes + files*openCost) / cores))
            val openCost = sqlConf.filesOpenCostInBytes
            val bytesPerCore = (lens.sum + files.length * openCost) /
              math.max(1, df.sparkSession.sparkContext.defaultParallelism)
            val maxSplit = math.max(1L, math.min(
              sqlConf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore)))
            lens.map(len => (len + maxSplit - 1) / maxSplit).sum
          }
        case _ => Long.MaxValue
      }
    }
    val total: BigInt =
      if (scans.isEmpty) BigInt(Long.MaxValue) else scans.map(BigInt(_)).sum
    if (total > Int.MaxValue) Int.MaxValue else total.toInt
  }

  /** The events table's `ts` has shipped in two physical shapes across
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default — read as a raw nanos long and truncate to micros with integer
    * division; never double-divide an epoch-nanos long, 1.7e18 is beyond
    * double's 2^53 exact-integer range) and plain TIMESTAMP(MICROS) (read
    * natively as TIMESTAMP_NTZ). Both normalize to session-local
    * TimestampType here so every downstream day-bucket/window sees one type.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // All day bucketing and the DuckDB oracles assume UTC; pin it here so a
    // driver-provided session (which may not set it) gets the same windows.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = load(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ → TimestampType under the pinned UTC session tz: same instant,
        // same wall-clock arithmetic as the nanos-long path produced
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = fanOut(load(spark, sfDir, "documents"))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = fanOut(load(spark, sfDir, "embeddings"))

  /** Fan-out variant of `events` for map-heavy queries with NO unrounded
    * double aggregation (pure filters, integer counts, string sets): the
    * single-file testdata parquet otherwise serializes the whole JSON-parse
    * map phase through one scan partition (10× scale smoke: warden/idea
    * queries ran 12–20× instead of ~10×). At cluster scale the input is many
    * files and this repartition is a no-op. Never use under double sums —
    * reordered float addition wobbles last-ulp results across runs.
    */
  def eventsFanned(spark: SparkSession, sfDir: String): DataFrame =
    fanOut(events(spark, sfDir))
}
