package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Batch-id replay protection for SIDE-INDEX appends driven from
  * `foreachBatch` — the missing half of exactly-once for the persisted
  * ANN/LSH/boilerplate side-indexes, mirroring the replay ledger
  * [[StreamIngest.MergeOnReadSnapshotStore.applyBatchIdempotent]] gives the
  * entity store (reference contract: ack-after-processing redelivery,
  * `update_manager.py:442–457`).
  *
  * Why it exists: `foreachBatch` is at-least-once. A driver crash between
  * a side-index append and the streaming checkpoint commit replays the
  * micro-batch, and a raw `.write.mode("append")` then double-counts a
  * boilerplate dictionary (over-scrubbing documents) and duplicates index
  * rows (duplicate top-k candidates, inflated drift ledger). The entity
  * store solves this by recording each committed batch id in the manifest
  * of the version it wrote; a shared append-layout index has no per-batch
  * version to carry that record, so this ledger makes the APPEND itself
  * idempotent instead:
  *
  *  1. `ledgerDir/b<batchId>` marker present → the batch is already fully
  *     published; return without touching storage (metadata-only no-op).
  *  2. No marker → first DELETE any `b<batchId>-*` data files under
  *     `dataDir` (remnants of a crashed prior attempt — streaming replays
  *     the failed batch before admitting the next one, so the remnants
  *     are always this batch's own), then stage the batch's rows to a
  *     scratch directory, RENAME every staged data file into `dataDir`
  *     under the batch-prefixed name `b<batchId>-<part>` (preserving
  *     partition subdirectories, so `partitionBy` layouts work
  *     unchanged), and only then create the marker.
  *
  * Every crash window degrades to a clean replay: mid-stage → the staging
  * dir is overwritten by the retry; mid-rename → the retry's step-2 sweep
  * removes the half-published files; after the renames but before the
  * marker → same sweep, then a byte-identical re-publish; after the
  * marker → step 1 skips. Compaction may later rewrite the batch-prefixed
  * files under fresh names — safe, because a compaction is only reachable
  * AFTER the marker commit, and from then on replay never looks at file
  * names again.
  *
  * Scale shape: the ledger is one empty marker file per micro-batch and
  * the publish adds one rename per staged part file — O(batch) metadata,
  * never O(index). The staging write is the same parquet job a raw append
  * would run; the only added cost is the renames (move-within-filesystem,
  * no data copy).
  */
object SideIndexLedger {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def prefix(batchId: Long): String = s"b$batchId-"

  private def fsFor(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Has `batchId` been fully published to the index this ledger guards? */
  def committed(spark: SparkSession, ledgerDir: String, batchId: Long): Boolean =
    fsFor(spark, ledgerDir).exists(new Path(s"$ledgerDir/b$batchId"))

  /** Number of committed batch markers (replay-dedup receipt: a replayed
    * batch must NOT mint a new marker — the side-index counterpart of
    * `MergeOnReadSnapshotStore.committedBatchIds`). */
  def commitCount(spark: SparkSession, ledgerDir: String): Int = {
    val fs = fsFor(spark, ledgerDir)
    val p = new Path(ledgerDir)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      n.startsWith("b") && n.length > 1 && n.drop(1).forall(_.isDigit)
    }
  }

  /** Publish one micro-batch into the side-index at `dataDir` exactly once
    * per `batchId`. `stage` writes the batch's rows (mode `overwrite`,
    * optionally `partitionBy`) to the scratch path it is handed; the files
    * are then renamed into `dataDir` under batch-prefixed names and the
    * marker committed. Returns true iff this call published (false = the
    * batch was already committed and storage was not touched).
    */
  def publishOnce(spark: SparkSession, ledgerDir: String, dataDir: String,
                  batchId: Long)(stage: String => Unit): Boolean = {
    val fs = fsFor(spark, dataDir)
    val marker = new Path(s"$ledgerDir/b$batchId")
    if (fs.exists(marker)) {
      log.info(s"side-index replay skip: batch $batchId already committed " +
        s"to $dataDir (ledger $ledgerDir)")
      return false
    }
    val dataPath = fs.makeQualified(new Path(dataDir))
    // sweep remnants of a crashed prior attempt at THIS batch
    if (fs.exists(dataPath)) {
      val it = fs.listFiles(dataPath, true)
      val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.startsWith(prefix(batchId))) stale += f
      }
      if (stale.nonEmpty) {
        stale.foreach(fs.delete(_, false))
        log.warn(s"side-index replay of batch $batchId: removed " +
          s"${stale.size} half-published files from $dataDir before re-publish")
      }
    }
    val staging = fs.makeQualified(new Path(dataDir + s".staged-b$batchId"))
    stage(staging.toString)
    // move staged data files into the index, preserving partition subdirs
    val files = fs.listFiles(staging, true)
    while (files.hasNext) {
      val f = files.next().getPath
      val name = f.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = staging.toUri.relativize(f.getParent.toUri).getPath
        val destDir = if (rel.isEmpty) dataPath else new Path(dataPath, rel)
        fs.mkdirs(destDir)
        val dest = new Path(destDir, prefix(batchId) + name)
        require(fs.rename(f, dest),
          s"side-index publish rename failed: $f -> $dest")
      }
    }
    fs.delete(staging, true)
    fs.mkdirs(new Path(ledgerDir))
    fs.create(marker, true).close()
    // the session's shared FileStatusCache pins listings — without this a
    // reader created after the publish resolves the pre-publish file set
    spark.catalog.refreshByPath(dataDir)
    true
  }
}
