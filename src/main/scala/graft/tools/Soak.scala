package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long-run LIFECYCLE SOAK — the receipt that the four mutable disk
  * layouts (merge-on-read snapshot store, persisted banded-LSH index,
  * partitioned IVF index, IVFADC codes index) keep file counts, on-disk
  * size, and per-trigger
  * latency BOUNDED over many more maintenance cycles than any single
  * correctness row drives (default 50 vs the suite's 2–4). A standing
  * 100-TB ingest runs these lifecycles all day; what this tool guards
  * against is the failure mode a 3-batch test cannot see — per-batch cost
  * or file count creeping up with batch INDEX (compaction not engaging,
  * ledger growth leaking into the fold, append fragmenting a layout).
  *
  * Output: one JSON object with the full per-batch series (wall ms, part
  * files, bytes) per lifecycle plus first-K/last-K latency means — "is the
  * tail no slower than the head" is the bounded-cost check, subject to the
  * documented co-tenant variance band.
  *
  * Usage: `runMain graft.tools.Soak <sfDir> <outJson> [nBatches]`
  */
object Soak {

  private def dirStats(dir: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) = {
      if (!f.exists()) (0L, 0L)
      else if (f.isDirectory) {
        val cs = Option(f.listFiles()).getOrElse(Array.empty).map(walk)
        (cs.map(_._1).sum, cs.map(_._2).sum)
      } else if (f.getName.startsWith("part-")) (1L, f.length())
      else (0L, f.length())
    }
    walk(new java.io.File(dir))
  }

  private def jArr(xs: Seq[Long]): String = xs.mkString("[", ",", "]")

  private final case class Series(ms: Seq[Long], files: Seq[Long],
                                  bytes: Seq[Long]) {
    def json(extra: String = ""): String = {
      val k = math.min(10, ms.length / 2)
      val head = if (k == 0) 0L else ms.take(k).sum / k
      val tail = if (k == 0) 0L else ms.takeRight(k).sum / k
      s"""{"ms":${jArr(ms)},"part_files":${jArr(files)},""" +
        s""""bytes":${jArr(bytes)},"lat_first${k}_ms":$head,""" +
        s""""lat_last${k}_ms":$tail$extra}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val n = if (args.length > 2) args(2).toInt else 50
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("graft-soak").toString

    // ---- 1. streaming merge-on-read store: n single-file micro-batches
    //         through a real Structured Streaming query, auto-compaction
    //         live (maxDeltas = 4), batch-id ledger on every version ----
    val events = graft.core.Tables.events(spark, sfDir)
    val now = events.agg(max(col("ts").cast("date"))).head().getDate(0)
      .toLocalDate.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond
    val src = s"$tmp/mor-src"
    (0 until n).foreach { g =>
      events.filter(col("event_id") % n === g)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val store = new graft.streaming.StreamIngest.MergeOnReadSnapshotStore(
      spark, s"$tmp/mor-store", numBuckets = 8, maxDeltas = 4)
    val morMs = scala.collection.mutable.ArrayBuffer[Long]()
    val morFiles = scala.collection.mutable.ArrayBuffer[Long]()
    val morBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .option("checkpointLocation", s"$tmp/mor-ck")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val t0 = System.nanoTime()
        graft.streaming.StreamIngest.runBatchExactlyOnce(store, batch, now,
          bid, maxAgeDays = 7)
        morMs += (System.nanoTime() - t0) / 1000000L
        val (f, b) = dirStats(s"$tmp/mor-store")
        morFiles += f
        morBytes += b
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val morCommits = store.committedBatchIds.size
    val morRows = store.read().count()
    val mor = Series(morMs.toSeq, morFiles.toSeq, morBytes.toSeq)

    // ---- 2. persisted banded-LSH index: n survivor appends with
    //         compaction bounded at maxFiles = 8 ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sig = graft.llm.Dedup
      .minhashSignaturesWide(graft.llm.Dedup.shingles(docs, 3), 64)
      .localCheckpoint()
    val lshDir = s"$tmp/lsh-index"
    graft.llm.Dedup.lshBandRows(sig.filter(col("doc_id") % (n + 1) === 0))
      .write.parquet(lshDir)
    val lshMs = scala.collection.mutable.ArrayBuffer[Long]()
    val lshFiles = scala.collection.mutable.ArrayBuffer[Long]()
    val lshBytes = scala.collection.mutable.ArrayBuffer[Long]()
    (1 to n).foreach { i =>
      val bands = graft.llm.Dedup.lshBandRows(
        sig.filter(col("doc_id") % (n + 1) === i))
      val t0 = System.nanoTime()
      graft.llm.Dedup.appendToLshIndex(lshDir, bands, maxFiles = 8)
      lshMs += (System.nanoTime() - t0) / 1000000L
      val (f, b) = dirStats(lshDir)
      lshFiles += f
      lshBytes += b
    }
    val lshRows = graft.llm.Dedup.readLshIndex(spark, lshDir).count()
    val lsh = Series(lshMs.toSeq, lshFiles.toSeq, lshBytes.toSeq)
    graft.core.Artifacts.freeLocalCheckpoint(sig)

    // ---- 3. partitioned IVF index: n assign-to-frozen-centroid appends
    //         with partition-local compaction bounded at 8 files/cluster,
    //         the DRIFT GATE read every trigger, live probes served every
    //         trigger, and ONE mid-soak quantizer rebuild fired when the
    //         gate opens — the LIVENESS receipt the crash-heal tests can't
    //         give: probes keep answering while the swap happens, and the
    //         ledger resets behind it.
    //         Base = the even half of the corpus; each append is one of n
    //         odd slices, so appendedFraction after i appends is exactly
    //         i/(n+i) — it crosses the 1/3 gate threshold at i = n/2,
    //         genuinely MID-soak rather than on the first append. ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivfDir = s"$tmp/ivf-index"
    val gateThreshold = 1.0 / 3.0
    graft.llm.Ann.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
      clusterCol = "label", dir = ivfDir)
    val probeQ = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    def probeIvf(): Long = {
      val t0 = System.nanoTime()
      val served = graft.llm.Ann.ivfTopKPruned(probeQ, ivfDir, k = 5).count()
      require(served > 0L, "IVF probe served zero rows mid-soak")
      (System.nanoTime() - t0) / 1000000L
    }
    val ivfMs = scala.collection.mutable.ArrayBuffer[Long]()
    val ivfFiles = scala.collection.mutable.ArrayBuffer[Long]()
    val ivfBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val ivfGateBp = scala.collection.mutable.ArrayBuffer[Long]()
    val ivfGateOpen = scala.collection.mutable.ArrayBuffer[Long]()
    val ivfProbeMs = scala.collection.mutable.ArrayBuffer[Long]()
    var ivfCompactions = 0
    var ivfRebuildAt = -1L
    var ivfRebuildMs = -1L
    (1 to n).foreach { i =>
      val batch = emb.filter(col("vec_id") % (2 * n) === (2 * i - 1))
      val t0 = System.nanoTime()
      graft.llm.Ann.appendToIvfIndex(batch, ivfDir)
      ivfCompactions +=
        graft.llm.Ann.compactIvfIndex(spark, ivfDir, maxFilesPerCluster = 8)
      ivfMs += (System.nanoTime() - t0) / 1000000L
      val frac = graft.llm.Ann.ivfIndexMeta(spark, ivfDir)
        .map(_.appendedFraction).getOrElse(-1d)
      val open = graft.llm.Ann.needsIvfRebuild(spark, ivfDir, gateThreshold)
      ivfGateBp += math.round(frac * 10000)
      ivfGateOpen += (if (open) 1L else 0L)
      if (open && ivfRebuildAt < 0) {
        // the gate's scheduled action: retrain the quantizer over the FULL
        // current corpus (base + all appended slices) and swap the layout
        // in; the very next probe serves from the rebuilt index
        val r0 = System.nanoTime()
        graft.llm.Ann.writeIvfIndex(
          emb.filter(col("vec_id") % 2 === 0 ||
            col("vec_id") % (2 * n) <= (2 * i - 1)),
          clusterCol = "label", dir = ivfDir)
        ivfRebuildMs = (System.nanoTime() - r0) / 1000000L
        ivfRebuildAt = i
      }
      ivfProbeMs += probeIvf()
      val (f, b) = dirStats(s"$ivfDir/corpus")
      ivfFiles += f
      ivfBytes += b
    }
    val ivfLedgerAfter = graft.llm.Ann.ivfIndexMeta(spark, ivfDir).get
    val ivfRows = spark.read.parquet(s"$ivfDir/corpus").count()
    val ivf = Series(ivfMs.toSeq, ivfFiles.toSeq, ivfBytes.toSeq)
    val ivfGateJson =
      s""","gate_threshold":$gateThreshold,"gate_fraction_bp":${jArr(ivfGateBp.toSeq)},""" +
        s""""gate_open":${jArr(ivfGateOpen.toSeq)},"probe_ms":${jArr(ivfProbeMs.toSeq)},""" +
        s""""rebuild_at_batch":$ivfRebuildAt,"rebuild_ms":$ivfRebuildMs,""" +
        s""""ledger_after_run":{"base_rows":${ivfLedgerAfter.baseRows},"appended_rows":${ivfLedgerAfter.appendedRows}}"""

    // ---- 3b. persisted IVFADC codes layout: n frozen-coarse +
    //          frozen-codebook appends with the shared partition-local
    //          compaction — the compressed index must stay as bounded as
    //          the full-vector one (same contract, ~100x fewer bytes) ----
    val adcDir = s"$tmp/ivfadc-index"
    graft.llm.Pq.writeIvfAdcIndex(emb.filter(col("vec_id") % 2 === 0),
      clusterCol = "label", dir = adcDir, m = 4, subDim = 16, k = 4)
    def probeAdc(): Long = {
      val t0 = System.nanoTime()
      val served = graft.llm.Pq
        .ivfAdcTopKFromIndex(probeQ, adcDir, topK = 5, nprobe = 1).count()
      require(served > 0L, "IVFADC probe served zero rows mid-soak")
      (System.nanoTime() - t0) / 1000000L
    }
    val adcMs = scala.collection.mutable.ArrayBuffer[Long]()
    val adcFiles = scala.collection.mutable.ArrayBuffer[Long]()
    val adcBytes = scala.collection.mutable.ArrayBuffer[Long]()
    val adcGateBp = scala.collection.mutable.ArrayBuffer[Long]()
    val adcGateOpen = scala.collection.mutable.ArrayBuffer[Long]()
    val adcProbeMs = scala.collection.mutable.ArrayBuffer[Long]()
    var adcCompactions = 0
    var adcRebuildAt = -1L
    var adcRebuildMs = -1L
    (1 to n).foreach { i =>
      val batch = emb.filter(col("vec_id") % (2 * n) === (2 * i - 1))
      val t0 = System.nanoTime()
      graft.llm.Pq.appendToIvfAdcIndex(batch, adcDir)
      adcCompactions +=
        graft.llm.Pq.compactIvfAdcIndex(spark, adcDir, maxFilesPerCluster = 8)
      adcMs += (System.nanoTime() - t0) / 1000000L
      val frac = graft.llm.Ann.ivfIndexMeta(spark, adcDir)
        .map(_.appendedFraction).getOrElse(-1d)
      val open = graft.llm.Ann.needsIvfRebuild(spark, adcDir, gateThreshold)
      adcGateBp += math.round(frac * 10000)
      adcGateOpen += (if (open) 1L else 0L)
      if (open && adcRebuildAt < 0) {
        // quantizer + codebook refresh over the full current corpus —
        // the compressed index's scheduled rebuild, swapped under probes
        val r0 = System.nanoTime()
        graft.llm.Pq.writeIvfAdcIndex(
          emb.filter(col("vec_id") % 2 === 0 ||
            col("vec_id") % (2 * n) <= (2 * i - 1)),
          clusterCol = "label", dir = adcDir, m = 4, subDim = 16, k = 4)
        adcRebuildMs = (System.nanoTime() - r0) / 1000000L
        adcRebuildAt = i
      }
      adcProbeMs += probeAdc()
      val (f, b) = dirStats(s"$adcDir/codes")
      adcFiles += f
      adcBytes += b
    }
    val adcLedgerAfter = graft.llm.Ann.ivfIndexMeta(spark, adcDir).get
    val adcRows = spark.read.parquet(s"$adcDir/codes").count()
    val adc = Series(adcMs.toSeq, adcFiles.toSeq, adcBytes.toSeq)
    val adcGateJson =
      s""","gate_threshold":$gateThreshold,"gate_fraction_bp":${jArr(adcGateBp.toSeq)},""" +
        s""""gate_open":${jArr(adcGateOpen.toSeq)},"probe_ms":${jArr(adcProbeMs.toSeq)},""" +
        s""""rebuild_at_batch":$adcRebuildAt,"rebuild_ms":$adcRebuildMs,""" +
        s""""ledger_after_run":{"base_rows":${adcLedgerAfter.baseRows},"appended_rows":${adcLedgerAfter.appendedRows}}"""

    // ---- 4. keyed streaming state under event-time TTL: n TIME-ORDERED
    //         micro-batches through flatMapGroupsWithState; the state row
    //         count must PLATEAU (expiry keeping pace with arrivals), and
    //         per-batch duration must not trend with batch index ----
    val span = events.agg(
      (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("s"))
      .head().getLong(0)
    val ttlSecs = math.max(1L, span / 5)
    val ttlSrc = s"$tmp/ttl-src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ttlSrc))
    // salt the entity id by time slice so keys CHURN: every trigger
    // introduces a fresh key cohort and cohorts stop being touched once
    // their slice passes — state must climb to a plateau (~n/5 live
    // cohorts at ttl = span/5) and then hold, with expiry tombstones
    // flowing for the rest of the run. Without churn every key stays
    // alive and a 50-trigger soak would never exercise eviction.
    val evOrd = events.withColumn("_slice",
      ntile(n).over(org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
      .withColumn("user_id", col("user_id") + col("_slice") * lit(100000L))
      .localCheckpoint()
    (1 to n).foreach { g =>
      val staging = s"$tmp/ttl-stage-$g"
      evOrd.filter(col("_slice") === g).drop("_slice")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(ttlSrc, f"slice-$g%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // pin admission order: the file source orders by mtime (ties by path)
      dst.setLastModified(1700000000000L + g * 1000L)
    }
    val ttlStream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(ttlSrc)
    val ttlOut = graft.streaming.StreamIngest
      .statefulCountsWithTtl(ttlStream, ttlSecs)
    val qs = ttlOut.writeStream.format("memory").queryName("soak_ttl")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ttl-ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    qs.awaitTermination()
    val prog = qs.recentProgress.filter(_.numInputRows > 0)
    val ttlMs = prog.map(_.batchDuration).toSeq
    val ttlState = prog.map(p =>
      if (p.stateOperators.nonEmpty) p.stateOperators(0).numRowsTotal else 0L).toSeq
    val tombstones = spark.table("soak_ttl")
      .filter(col("_2") === -1L).count()
    val ttlJson = {
      val k = math.min(10, ttlMs.length / 2)
      val headMean = if (k == 0) 0L else ttlMs.take(k).sum / k
      val tailMean = if (k == 0) 0L else ttlMs.takeRight(k).sum / k
      s"""{"ms":${jArr(ttlMs)},"state_rows":${jArr(ttlState)},""" +
        s""""lat_first${k}_ms":$headMean,"lat_last${k}_ms":$tailMean,""" +
        s""""max_state_rows":${if (ttlState.isEmpty) 0L else ttlState.max},""" +
        s""""final_state_rows":${ttlState.lastOption.getOrElse(0L)},""" +
        s""""ttl_secs":$ttlSecs,"tombstones":$tombstones}"""
    }

    val json =
      s"""{"n_batches":$n,"sf_dir":"$sfDir",""" +
        s""""ttl_state":$ttlJson,""" +
        s""""mor":${mor.json(s""","commits":$morCommits,"entities":$morRows""")},""" +
        s""""lsh":${lsh.json(s""","rows":$lshRows""")},""" +
        s""""ivf":${ivf.json(s""","rows":$ivfRows,"partitions_compacted":$ivfCompactions$ivfGateJson""")},""" +
        s""""ivfadc":${adc.json(s""","rows":$adcRows,"partitions_compacted":$adcCompactions$adcGateJson""")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(json)
    spark.stop()
  }
}
