package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Ann, Dedup, Pq, TextStats}
import graft.streaming.SideIndexLedger

/** Replay-injection coverage for the side-index batch-id ledger (r14 ask
  * #1): `foreachBatch` is at-least-once, so every persisted side-index
  * append must be a no-op when its micro-batch is redelivered — the same
  * contract `nerd_stream_recovery` proves for the entity store's
  * manifest ledger (`MergeOnReadSnapshotStore.applyBatchIdempotent`),
  * here proven for the LSH band index, the boilerplate dictionary, and
  * the IVF/IVFADC corpus/codes layouts. Each
  * test runs a batch's side-effect TWICE with the same batchId and asserts
  * storage (row counts, dictionary counts, drift ledger) is unchanged;
  * the crash-injection tests re-run after deleting the commit marker
  * (a crash after the renames but before the marker — the worst window)
  * and assert the sweep-and-republish converges to the same bytes-exact
  * row set instead of duplicating.
  */
class SideIndexLedgerSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def docs(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, s"w${i}a w${i}b w${i}c w${i}d")).toDF("doc_id", "text")
  }

  test("LSH appendOnce: a replayed batchId changes nothing; a new batchId appends") {
    val idx = tmp("ledger-lsh") + "/index"
    val b0 = Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(1L, 2L), 2), 64))
    Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(10L, 11L), 2), 64))
      .write.mode("overwrite").parquet(idx)
    val base = spark.read.parquet(idx).count()

    assert(Dedup.appendToLshIndexOnce(idx, b0, batchId = 0L, maxFiles = 64))
    val afterOnce = spark.read.parquet(idx).count()
    assert(afterOnce > base)
    // replay: same batchId → metadata-only no-op
    assert(!Dedup.appendToLshIndexOnce(idx, b0, batchId = 0L, maxFiles = 64))
    assert(spark.read.parquet(idx).count() == afterOnce)
    assert(SideIndexLedger.commitCount(spark, idx + ".ledger") == 1)
    // a NEW batch still lands
    val b1 = Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(3L), 2), 64))
    assert(Dedup.appendToLshIndexOnce(idx, b1, batchId = 1L, maxFiles = 64))
    assert(spark.read.parquet(idx).count() > afterOnce)
    assert(SideIndexLedger.commitCount(spark, idx + ".ledger") == 2)
  }

  test("LSH appendOnce crash-injection: replay after a lost commit marker republishes without duplicates") {
    val idx = tmp("ledger-lsh-crash") + "/index"
    Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(10L), 2), 64))
      .write.mode("overwrite").parquet(idx)
    val b0 = Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(1L, 2L), 2), 64))
    assert(Dedup.appendToLshIndexOnce(idx, b0, batchId = 7L, maxFiles = 64))
    val committed = spark.read.parquet(idx).count()
    // crash window: renames done, marker never written — delete the marker
    val marker = new java.io.File(idx + ".ledger/b7")
    assert(marker.isFile, "commit marker missing after publish")
    assert(marker.delete())
    // redelivery: the sweep removes the half-published files, republishes
    // byte-identically, and re-commits the marker
    assert(Dedup.appendToLshIndexOnce(idx, b0, batchId = 7L, maxFiles = 64))
    assert(spark.read.parquet(idx).count() == committed,
      "replay after a crashed commit duplicated index rows")
    assert(marker.isFile, "marker not re-committed by the replay")
  }

  test("boilerplate dict appendOnce: a replayed batch does not double-count digest partials") {
    val dict = tmp("ledger-bp") + "/dict"
    // the same 2-token chunk in two docs; maxDocs = 1 → hot iff nd > 1
    val batch = {
      import spark.implicits._
      Seq((1L, "HDR HDR"), (2L, "HDR HDR")).toDF("doc_id", "text")
    }
    val rows = TextStats.boilerplateDictRows(batch, chunkToks = 2)
    assert(TextStats.appendToBoilerplateDictOnce(dict, rows, batchId = 0L))
    val hot = TextStats.readBoilerplateDict(spark, dict, maxDocs = 1).count()
    assert(hot == 1L, "the shared chunk must be hot after one append")
    // replay: a raw append would double the partial (nd 2 → 4); the ledger
    // must keep the cumulative count — and the hot set — unchanged
    assert(!TextStats.appendToBoilerplateDictOnce(dict, rows, batchId = 0L))
    val dictRows = Dedup.readLshIndex(spark, dict)
      .groupBy(col("chunk_digest")).agg(sum(col("n_docs")).as("nd"))
      .collect()
    assert(dictRows.length == 1 && dictRows.head.getLong(1) == 2L,
      s"replayed batch changed the dictionary: ${dictRows.mkString(",")}")
  }

  test("IVF appendOnce: replay leaves corpus rows AND the drift ledger unchanged") {
    import spark.implicits._
    val idx = tmp("ledger-ivf") + "/index"
    val base = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0), 0L), (1L, Array(0.9, 0.1, 0.0, 0.0), 0L),
      (2L, Array(0.0, 1.0, 0.0, 0.0), 1L), (3L, Array(0.1, 0.9, 0.0, 0.0), 1L)
    ).toDF("vec_id", "embedding", "label")
    Ann.writeIvfIndex(base, clusterCol = "label", dir = idx)
    val batch = Seq(
      (4L, Array(0.95, 0.05, 0.0, 0.0)), (5L, Array(0.05, 0.95, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    assert(Ann.appendToIvfIndexOnce(batch, idx, batchId = 0L))
    val rows = spark.read.parquet(s"$idx/corpus").count()
    val meta = Ann.ivfIndexMeta(spark, idx).get
    assert(rows == 6L && meta.appendedRows == 2L)
    assert(!Ann.appendToIvfIndexOnce(batch, idx, batchId = 0L))
    assert(spark.read.parquet(s"$idx/corpus").count() == rows,
      "replayed batch duplicated IVF corpus rows")
    assert(Ann.ivfIndexMeta(spark, idx).get.appendedRows == 2L,
      "replayed batch double-advanced the drift ledger")
  }

  test("IVFADC appendOnce: replay leaves code rows AND the drift ledger unchanged") {
    import spark.implicits._
    val idx = tmp("ledger-adc") + "/index"
    val base = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0), 0L), (1L, Array(0.9, 0.1, 0.1, 0.0), 0L),
      (2L, Array(0.0, 1.0, 0.0, 0.1), 1L), (3L, Array(0.1, 0.9, 0.0, 0.0), 1L)
    ).toDF("vec_id", "embedding", "label")
    Pq.writeIvfAdcIndex(base, clusterCol = "label", dir = idx,
      m = 2, subDim = 2, k = 2)
    val batch = Seq((4L, Array(0.95, 0.05, 0.05, 0.0)))
      .toDF("vec_id", "embedding")
    assert(Pq.appendToIvfAdcIndexOnce(batch, idx, batchId = 3L))
    val rows = spark.read.parquet(s"$idx/codes").count()
    val appended = Ann.ivfIndexMeta(spark, idx).get.appendedRows
    assert(rows == 5L && appended == 1L)
    assert(!Pq.appendToIvfAdcIndexOnce(batch, idx, batchId = 3L))
    assert(spark.read.parquet(s"$idx/codes").count() == rows,
      "replayed batch duplicated IVFADC code rows")
    assert(Ann.ivfIndexMeta(spark, idx).get.appendedRows == appended,
      "replayed batch double-advanced the drift ledger")
    // crash-injection on the partitioned layout: lost marker → the replay
    // sweeps the cluster partitions' b3-* files and republishes
    val marker = new java.io.File(idx + ".ledger/b3")
    assert(marker.delete())
    assert(Pq.appendToIvfAdcIndexOnce(batch, idx, batchId = 3L))
    assert(spark.read.parquet(s"$idx/codes").count() == rows,
      "crash replay duplicated IVFADC code rows")
  }

  test("tombstone GC fires without append pressure: delete-only traffic converges to an empty mask") {
    val idx = tmp("gc-lsh") + "/index"
    val corpus = docs(0L, 1L, 2L, 3L, 4L, 5L)
    Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(corpus, 2), 64))
      .write.mode("overwrite").parquet(idx)
    val total = spark.read.parquet(idx).count()
    import spark.implicits._
    // 3 delete calls, gc threshold 2 files → the third call must trigger
    // the compaction that applies and clears the mask — no append ever runs
    for (id <- Seq(0L, 1L, 2L))
      Dedup.deleteFromLshIndex(idx, Seq(id).toDF("doc_id"),
        gcMaxDeleteFiles = 2)
    assert(!new java.io.File(idx + ".deletes").exists(),
      "delete-only traffic never converged: .deletes still present")
    val left = spark.read.parquet(idx)
    assert(left.count() < total, "GC compaction applied no tombstones")
    assert(left.filter(col("doc_id").isin(0L, 1L, 2L)).count() == 0L,
      "GC compaction left tombstoned rows in the index")
  }

  test("re-added ids clear their pending tombstones (LSM sequencing, r14 advice)") {
    val idx = tmp("readd-lsh") + "/index"
    Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(1L, 2L, 3L), 2), 64))
      .write.mode("overwrite").parquet(idx)
    import spark.implicits._
    Dedup.deleteFromLshIndex(idx, Seq(2L).toDF("doc_id"))
    assert(Dedup.readLshIndex(spark, idx)
      .filter(col("doc_id") === 2L).count() == 0L)
    // re-ingest doc 2: the append must clear the pending tombstone, so the
    // doc is visible again immediately AND survives the next compaction.
    // Documented semantics: the clear also unmasks the doc's EARLIER rows
    // (tombstones are per-id, not per-epoch), so the visible count here is
    // old + re-added — duplicates the probes absorb (candidates dedup,
    // exact verification); the contract under test is presence, not count.
    val readd = Dedup.lshBandRows(Dedup.minhashSignaturesWide(
      Dedup.shingles(docs(2L), 2), 64))
    val readdRows = readd.count()
    Dedup.appendToLshIndex(idx, readd, maxFiles = 64)
    assert(Dedup.readLshIndex(spark, idx)
      .filter(col("doc_id") === 2L).count() >= readdRows,
      "re-added doc still masked by its stale tombstone")
    Dedup.compactLshIndex(spark, idx, targetFiles = 1)
    assert(Dedup.readLshIndex(spark, idx)
      .filter(col("doc_id") === 2L).count() >= readdRows,
      "compaction physically dropped a re-added doc (tombstone not cleared)")
    assert(!new java.io.File(idx + ".deletes").exists(),
      "cleared tombstone set should have been dropped entirely")
  }

  test("broadcast guards: an over-threshold hot set and tombstone mask degrade to a shuffle join, same answers") {
    import spark.implicits._
    val d = Seq(
      (1L, "HDR1 HDR2 a1 b1"), (2L, "HDR1 HDR2 a2 b2"),
      (3L, "HDR1 HDR2 a3 b3"), (4L, "p4 q4 r4 s4")
    ).toDF("doc_id", "text")
    val expected = TextStats.boilerplateScrub(d, chunkToks = 2, maxDocs = 2)
      .orderBy(col("doc_id")).collect().toSeq
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // 16 bytes: no hot set or mask fits — every guard must fall back
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
      val guarded = TextStats.boilerplateScrub(d, chunkToks = 2, maxDocs = 2)
        .orderBy(col("doc_id"))
      assert(guarded.collect().toSeq == expected,
        "shuffle-fallback scrub diverged from the broadcast scrub")
      assert(!guarded.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "hot-set joined via broadcast despite the 16-byte threshold")
      // tombstone mask on read: same fallback, same masking semantics
      val idx = tmp("guard-lsh") + "/index"
      Dedup.lshBandRows(Dedup.minhashSignaturesWide(
        Dedup.shingles(docs(1L, 2L, 3L), 2), 64))
        .write.mode("overwrite").parquet(idx)
      Dedup.deleteFromLshIndex(idx, Seq(2L).toDF("doc_id"))
      val masked = Dedup.readLshIndex(spark, idx)
      assert(masked.filter(col("doc_id") === 2L).count() == 0L)
      assert(masked.filter(col("doc_id") =!= 2L).count() > 0L)
      assert(!masked.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "tombstone mask joined via broadcast despite the 16-byte threshold")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
