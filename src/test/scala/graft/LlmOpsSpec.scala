package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, TextStats}

/** Unit coverage for llm-operator paths the oracle queries don't reach: the
  * inverted-index skew guard, the trigram classifier, and the snapshot's
  * shuffle budget.
  */
class LlmOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  test("boilerplateScrub drops corpus-frequent chunks, keeps order, preserves membership") {
    import spark.implicits._
    // "HDR1 HDR2" is a 2-token license header shared by docs 1-3 (> maxDocs
    // = 2); each doc's body is unique. Doc 4 is PURE boilerplate; doc 5
    // shares nothing.
    val docs = Seq(
      (1L, "HDR1 HDR2 a1 b1 c1 d1"),
      (2L, "HDR1 HDR2 a2 b2 c2 d2"),
      (3L, "x3 y3 HDR1 HDR2 c3 d3"),
      (4L, "HDR1 HDR2"),
      (5L, "p5 q5 r5 s5")
    ).toDF("doc_id", "text")
    val out = TextStats.boilerplateScrub(docs, chunkToks = 2, maxDocs = 2)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a1 b1 c1 d1", 2L, 1L), // header chunk dropped, body intact
      (2L, "a2 b2 c2 d2", 2L, 1L),
      (3L, "x3 y3 c3 d3", 2L, 1L), // mid-document header: order preserved
      (4L, "", 0L, 1L),            // fully-boilerplate doc SURVIVES, empty
      (5L, "p5 q5 r5 s5", 2L, 0L)  // untouched doc round-trips verbatim
    ))
    // the scrub is one corpus shuffle: the hot dictionary broadcasts back
    // as a flag, so the plan has no sort-merge join and no second exchange
    // over the chunk stream after the flag join
    val plan = TextStats.boilerplateScrub(docs, chunkToks = 2, maxDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("incremental boilerplate dictionary: threshold crossing is batch-local, compaction bounds files") {
    import spark.implicits._
    import java.nio.file.Files
    val dictDir = Files.createTempDirectory("graft-bpdict-spec").toString + "/dict"
    // "HDR HDR" arrives in one doc per batch; maxDocs = 2 means it turns
    // hot in batch 3 — batches 1-2 keep it (cumulative count 1, 2), batch
    // 3+ scrub it. Dictionary state accumulates; batch output is final.
    def batch(id: Long) = Seq((id, s"HDR HDR b$id x$id")).toDF("doc_id", "text")
    val outs = (1L to 4L).map { i =>
      val b = batch(i)
      TextStats.appendToBoilerplateDict(dictDir,
        TextStats.boilerplateDictRows(b, chunkToks = 2), maxFiles = 2)
      val r = TextStats.scrubWithDict(b, spark, dictDir, chunkToks = 2,
        maxDocs = 2).collect().head
      (r.getLong(0), r.getString(1), r.getLong(3))
    }
    assert(outs == Seq(
      (1L, "HDR HDR b1 x1", 0L), // count 1: kept
      (2L, "HDR HDR b2 x2", 0L), // count 2: still <= maxDocs
      (3L, "b3 x3", 1L),         // count 3 > 2: hot from ITS OWN batch on
      (4L, "b4 x4", 1L)))
    // compaction kept the layout bounded across 4 appends (maxFiles = 2)
    val fs = new org.apache.hadoop.fs.Path(dictDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dictDir))
      .count(_.getPath.getName.startsWith("part-"))
    assert(parts <= 2, s"dictionary layout not compacted: $parts part files")
    // the re-aggregated hot set survives compaction: partial rows merged
    val hot = TextStats.readBoilerplateDict(spark, dictDir, maxDocs = 2)
      .collect().map(_.getString(0))
    assert(hot.length == 1) // only the header digest is corpus-hot
  }

  test("LSH tombstone deletion: masked reads now, physical at compaction, idempotent clear") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft-lshdel-spec").toString + "/index"
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBandRows(
      Dedup.minhashSignaturesWide(Dedup.shingles(docs, 3), 64))
    bands.write.parquet(idx)
    Dedup.deleteFromLshIndex(idx, Seq(2L).toDF("doc_id"))
    // masked immediately: reads never see the tombstoned doc
    assert(!Dedup.readLshIndex(spark, idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).contains(2L))
    // tombstones survive as a side-list until compaction
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx + ".deletes")))
    // an append that trips maxFiles applies tombstones PHYSICALLY and
    // clears the side-list
    Dedup.appendToLshIndex(idx,
      Dedup.lshBandRows(Dedup.minhashSignaturesWide(
        Dedup.shingles(Seq((5L, "p q r s t u")).toDF("doc_id", "text"), 3), 64)),
      maxFiles = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".deletes")),
      "compaction must clear applied tombstones")
    val raw = spark.read.parquet(idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(raw == Set(1L, 3L, 5L), s"physical rows after compaction: $raw")
    // re-deleting an already-gone doc is a harmless no-op (idempotence)
    Dedup.deleteFromLshIndex(idx, Seq(2L).toDF("doc_id"))
    assert(Dedup.readLshIndex(spark, idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
  }

  test("IVF targeted deletion rewrites only the touched cluster partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdel-spec").toString + "/index"
    val emb = Seq(
      (1L, 0L, Seq(1.0f, 0.0f)), (2L, 0L, Seq(0.9f, 0.1f)),
      (3L, 1L, Seq(0.0f, 1.0f)), (4L, 1L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "label", "embedding")
    graft.llm.Ann.writeIvfIndex(emb, clusterCol = "label", dir = dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles(c: Long) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/corpus/cluster=$c"))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(f => (f.getPath.getName, f.getModificationTime)).toSeq.sorted
    val beforeC1 = partFiles(1L)
    val n = graft.llm.Ann.deleteFromIvfIndex(spark, dir,
      Seq(2L).toDF("vec_id"))
    assert(n == 1, s"vec 2 lives in one cluster; rewrote $n partitions")
    // untouched cluster's files are byte-for-byte the same objects
    assert(partFiles(1L) == beforeC1, "untouched partition was rewritten")
    // the deleted vector is gone from the layout and from the probe
    val left = spark.read.parquet(s"$dir/corpus").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(1L, 3L, 4L))
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("qid", "qe")
    val probed = graft.llm.Ann.ivfTopKPruned(q, dir, k = 3, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!probed.contains(2L), s"probe returned a deleted vector: $probed")
    // centroids are NOT retrained by deletion
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/centroids")))
  }

  test("a crashed IVF delete swap self-heals through the shared compaction machinery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdel-crash").toString + "/index"
    val emb = Seq(
      (1L, 0L, Seq(1.0f, 0.0f)), (2L, 0L, Seq(0.9f, 0.1f)),
      (3L, 1L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    graft.llm.Ann.writeIvfIndex(emb, clusterCol = "label", dir = dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a delete that crashed between aside-rename and swap-in: the
    // partition is GONE, the pre-delete copy sits at the aside name the
    // deletion shares with compaction
    val part = new org.apache.hadoop.fs.Path(s"$dir/corpus/cluster=0")
    val aside = new org.apache.hadoop.fs.Path(dir, ".old-cluster=0")
    require(fs.rename(part, aside))
    assert(!fs.exists(part))
    // the next maintenance pass (compaction's self-heal sweep) restores it
    graft.llm.Ann.compactIvfIndex(spark, dir, maxFilesPerCluster = 16)
    assert(fs.exists(part), "crashed delete swap was not healed")
    spark.catalog.refreshByPath(s"$dir/corpus")
    val ids = spark.read.parquet(s"$dir/corpus").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L), s"healed layout lost rows: $ids")
    // and a RE-ISSUED delete completes normally after the heal
    assert(graft.llm.Ann.deleteFromIvfIndex(spark, dir,
      Seq(2L).toDF("vec_id")) == 1)
    val after = spark.read.parquet(s"$dir/corpus").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 3L))
  }

  test("maxShingleDf skew guard drops stop-shingles but keeps rare-shingle pairs") {
    import spark.implicits._
    // "a b c" appears in EVERY doc (a stop-shingle); docs 1/2 also share the
    // rare tail "x y z w".
    val docs = Seq(
      (1L, "a b c x y z w"),
      (2L, "a b c x y z w"),
      (3L, "a b c q r s t"),
      (4L, "a b c u v n m")
    ).toDF("doc_id", "text")
    // Without the cap: every pair is a candidate through "a b c".
    val all = Dedup.nearDupPairs(docs, n = 3, threshold = 0.1).collect()
    assert(all.length == 6) // all pairs share >= 1 shingle and pass 0.1
    // Cap df at 3: the universal shingle is dropped; only the rare-overlap
    // pair (1,2) survives - and its Jaccard is now computed over the pruned
    // shingle sets (identical sets => 1.0).
    val guarded = Dedup.nearDupPairs(docs, n = 3, threshold = 0.1, maxShingleDf = Some(3))
      .collect()
    assert(guarded.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(guarded.head.getDouble(2) == 1.0)
  }

  test("trigram language classifier picks the profiled language") {
    assert(TextStats.classifyTrigram("the thing and the other thing") == "en")
    assert(TextStats.classifyTrigram("ich habe einen schönen deutschen Satz geschrieben") == "de")
    assert(TextStats.classifyTrigram("la casa de la señora que vive en el barrio") == "es")
    assert(TextStats.classifyTrigram("zzzz qqqq") == "und")
  }

  test("MinHash-LSH finds no false positives and recalls the exact pair set") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Dedup.nearDupPairs(docs, n = 3, threshold = 0.5)
      .select(col("d1"), col("d2")).collect().map(key).toSet
    val lsh = Dedup.minhashLsh(docs, n = 3, k = 64, rowsPerBand = 4, threshold = 0.5)
      .select(col("d1"), col("d2")).collect().map(key).toSet
    // exact-verification step => no false positives, ever
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // banded signatures: P(candidate) ~ 1 for the true-duplicate band, so
    // recall on the fixture must be high (deterministic given the data)
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.8,
      s"recall ${lsh.size}/${exact.size}")
  }

  test("signature-estimate gate leaves the LSH result identical and only prunes sub-bar candidates") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.shingles(docs, 3)
    val sig = Dedup.minhashSignaturesWide(sh, 64)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    // gate disabled (margin = threshold => bar 0) vs default gate: identical
    val ungated = Dedup.minhashLshFromSignatures(sig, sh,
        threshold = 0.5, prefilterMargin = 0.5).collect().map(key).toSet
    val gated = Dedup.minhashLshFromSignatures(sig, sh,
        threshold = 0.5).collect().map(key).toSet
    assert(gated == ungated,
      s"gate changed the result: only=${gated -- ungated} missing=${ungated -- gated}")
    assert(gated.nonEmpty)
    // the estimator itself: an identical-signature pair passes any bar;
    // a disjoint pair is pruned at every positive bar
    import spark.implicits._
    val sig2 = Dedup.minhashSignaturesWide(
      Dedup.shingles(Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon zeta"),
        (3L, "uno dos tres cuatro cinco seis")).toDF("doc_id", "text"), 3), 64)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val kept = Dedup.signatureGate(sig2, pairs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L)))
  }

  test("calibration sample is deterministic, bounded, and keeps near-dup pairs together") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.shingles(docs, 3)
    val sig = Dedup.minhashSignaturesWide(sh, 64)
    val a = Dedup.calibrationSample(sig, 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = Dedup.calibrationSample(sig, 100).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 100)
    // the md5(mh0) bucketing keeps true pairs together: the sampled truth
    // set must retain a nontrivial share of the full truth relative to the
    // naive per-doc expectation ((100/500)^2 = 4% of pairs) — both-members
    // survival via the shared-min bucket is the whole design
    val full = Dedup.nearDupPairsFromShingles(sh, 0.5, None)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSample = full.count { case (d1, d2) => a.contains(d1) && a.contains(d2) }
    assert(full.isEmpty || inSample.toDouble / full.size > 0.08,
      s"sample kept $inSample of ${full.size} true pairs")
    // the sampled report itself runs and has one row per config
    val rep = Dedup.lshCalibrationSampled(sig, sh, n = 100).collect()
    assert(rep.length == 3 && rep.forall(_.getLong(4) >= 0L))
  }

  test("image payload is a genuine PNG; decode features the actual pixels; corrupt bytes fall back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val docs = Seq((1L, "hello spark world"), (2L, "ab")).toDF("doc_id", "text")
    val media = Multimodal.withImagePayload(docs)
    assert(media.select(col("media_meta.format")).distinct().head().getString(0) == "png")
    val rows = media.select(col("doc_id"), col("media")).collect()
    for (r <- rows) {
      val bytes = r.getAs[Array[Byte]](1)
      // PNG magic: 89 50 4E 47 0D 0A 1A 0A
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G',
        s"doc ${r.getLong(0)} payload is not a PNG")
      // and the JVM decoder genuinely decodes it
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null)
    }
    // decoded features equal the source-byte stats (PNG is lossless)
    val feats = Multimodal.decodeImage(media).orderBy(col("doc_id")).collect()
    val t1 = "hello spark world".getBytes("UTF-8")
    val w1 = t1.length % 13 + 3
    val h1 = math.max(1, (t1.length + w1 - 1) / w1)
    val r1 = feats(0)
    assert(r1.getLong(1) == 1L && r1.getLong(2) == w1 && r1.getLong(3) == h1)
    assert(r1.getLong(4) == t1.map(_ & 0xff).map(_.toLong).sum)
    val pad = w1 * h1 - t1.length
    assert(r1.getLong(5) == t1.count(b => (b & 0xff) / 64 == 0) + pad)
    assert(r1.getLong(6) == t1.count(b => (b & 0xff) / 64 == 1))
    // a corrupt payload takes the fallback path instead of failing the batch
    val bad = Seq((9L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "media")
    val fb = Multimodal.decodeImage(bad).head()
    assert(fb.getLong(1) == 0L && fb.getLong(2) == 0L && fb.getLong(4) == 10L)
  }

  test("image dHash: decoded fp equals the byte-grid fp, exact dups at hamming 0, corrupt bytes fall back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.{Multimodal, Simhash}
    val docs = Seq(
      (1L, "hello spark world this is a slightly longer body of text"),
      (2L, "hello spark world this is a slightly longer body of text"), // exact dup
      (3L, "a completely different document with other bytes entirely")
    ).toDF("doc_id", "text")
    val fps = Multimodal.dHash(Multimodal.withImagePayload(docs))
      .orderBy(col("doc_id")).collect()
    // all three decoded, and the fixture's decoded pixels ARE the byte grid,
    // so the fallback (byte-grid) hash of the same text must agree: compute
    // it by corrupting the payload and substituting the text bytes
    assert(fps.forall(_.getLong(1) == 1L))
    assert(fps(0).getLong(2) == fps(1).getLong(2), "exact dup images must share the fp")
    val textBytes = "hello spark world this is a slightly longer body of text"
      .getBytes("UTF-8")
    val viaFallback = Multimodal.dHash(
      Seq((1L, textBytes)).toDF("doc_id", "media")).head()
    assert(viaFallback.getLong(1) == 0L, "raw text bytes are not a decodable image")
    assert(viaFallback.getLong(2) == fps(0).getLong(2),
      "byte-grid fallback must produce the decoded hash on fixture payloads")
    // the fingerprint-agnostic banding finds the exact-dup pair at hamming 0
    val pairs = Simhash.nearDupPairsOf(
      Multimodal.dHash(Multimodal.withImagePayload(docs))
        .select(col("doc_id"), col("fp"))).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
    assert(pairs.forall(r => !(r.getLong(1) == 3L)), "doc 3 is not a near-dup")
  }

  test("audio payload is a genuine WAV; decode features the actual samples; corrupt bytes fall back") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val docs = Seq((1L, "hello spark world"), (2L, "ab")).toDF("doc_id", "text")
    val media = Multimodal.withAudioPayload(docs)
    assert(media.select(col("media_meta.format")).distinct().head().getString(0) == "wav")
    for (r <- media.select(col("doc_id"), col("media")).collect()) {
      val bytes = r.getAs[Array[Byte]](1)
      // RIFF container magic + WAVE form type
      assert(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')
      assert(bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E')
      // and the JVM audio stack genuinely parses it
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      assert(ais.getFormat.getSampleSizeInBits == 16)
      ais.close()
    }
    // decoded features equal the per-byte sample function (PCM is lossless)
    val feats = Multimodal.decodeAudio(media).orderBy(col("doc_id")).collect()
    val t1 = "hello spark world".getBytes("UTF-8")
    val smp = t1.map(b => ((b & 0xff).toLong * 2654435761L) % 65536L - 32768L)
    val r1 = feats(0)
    assert(r1.getLong(1) == 1L && r1.getLong(2) == 8000L &&
      r1.getLong(3) == t1.length.toLong)
    assert(r1.getLong(4) == smp.map(math.abs).sum)
    assert(r1.getLong(5) == smp.map(math.abs).max)
    assert(r1.getLong(6) ==
      smp.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    // a corrupt payload takes the fallback path instead of failing the batch
    val bad = Seq((9L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "media")
    val fa = Multimodal.decodeAudio(bad).head()
    assert(fa.getLong(1) == 0L && fa.getLong(2) == 0L && fa.getLong(4) == 10L)
  }

  test("video payload is a genuine AVI; demux walks the container; sampled-frame decode features the pixels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    // 200 chars -> 4 frames of 64 (last padded), frames 0 and 3 sampled
    val text = ("the quick brown fox jumps over the lazy dog " * 5).take(200)
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val media = Multimodal.withVideoPayload(docs)
    val bytes = media.select(col("media")).head().getAs[Array[Byte]](0)
    // RIFF container magic + AVI form type + an idx1 index is present
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(bytes, 8, 4, "US-ASCII") == "AVI ")
    assert(new String(bytes, "ISO-8859-1").contains("idx1"))
    // the demuxer walks the chunk list and recovers PNG frame payloads
    val frames = Multimodal.demuxAvi(bytes)
    assert(frames.length == 4)
    frames.foreach { f =>
      assert((f(0) & 0xff) == 0x89 && f(1) == 'P' && f(2) == 'N' && f(3) == 'G')
      assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f)) != null)
    }
    // features == byte stats of the sampled frames' source slices (frames
    // 0 and 3; frame 3 carries 200-192=8 real bytes + 56 pad zeros)
    val t = text.getBytes("UTF-8")
    val sampled = t.slice(0, 64) ++ t.slice(192, 200)
    val r = Multimodal.decodeVideo(media).head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 4L && r.getLong(3) == 2L)
    assert(r.getLong(4) == sampled.map(b => (b & 0xff).toLong).sum)
    assert(r.getLong(5) == sampled.count(b => (b & 0xff) < 64) + 56L)
    assert(r.getLong(6) == sampled.count(b => (b & 0xff) >= 64 && (b & 0xff) < 128))
    // a corrupt container takes the byte-level fallback, not a crash
    val bad = Seq((9L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "media")
    val fb = Multimodal.decodeVideo(bad).head()
    assert(fb.getLong(1) == 0L && fb.getLong(2) == 0L && fb.getLong(4) == 10L)
    // a corrupt FRAME inside a valid container is skipped, not fatal:
    // splice garbage over one sampled frame's payload
    val f0 = frames(0)
    val garbled = bytes.clone()
    val idx = {
      // locate frame 0's payload inside the container and garble it
      val s = new String(bytes, "ISO-8859-1")
      s.indexOf(new String(f0, "ISO-8859-1"))
    }
    java.util.Arrays.fill(garbled, idx, idx + f0.length, 0x5A.toByte)
    val g = Multimodal.decodeVideo(
      Seq((2L, garbled)).toDF("doc_id", "media")).head()
    assert(g.getLong(1) == 1L && g.getLong(2) == 4L && g.getLong(3) == 1L,
      s"corrupt frame must drop from n_sampled: $g")
  }

  test("sampled demux reads only sampled frames via idx1; a lying index falls back to the walk") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    val text = ("sampled demux fixture content 0123456789 " * 12).take(460)
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val bytes = Multimodal.withVideoPayload(docs, codec = "jpeg")
      .select(col("media")).head().getAs[Array[Byte]](0)
    val all = Multimodal.demuxAvi(bytes) // 460/64 -> 8 frames
    assert(all.length == 8)
    // idx1 path: total count is ALL frames, payloads are frames 0,3,6
    val (n, sampled) = Multimodal.demuxAviSampled(bytes, 3)
    assert(n == 8 && sampled.length == 3)
    sampled.zip(Seq(0, 3, 6)).foreach { case (f, i) =>
      assert(java.util.Arrays.equals(f, all(i)), s"sampled frame $i differs")
    }
    // corrupt the index (garble entry 0's offset): validation must detect
    // the mismatch and the movi walk must produce the identical result —
    // a lying index silently dropping frames would be worse than no index
    val garbled = bytes.clone()
    val idxPos = new String(bytes, "ISO-8859-1").indexOf("idx1")
    garbled(idxPos + 16) = 0x77 // entry 0 offset field
    val (n2, sampled2) = Multimodal.demuxAviSampled(garbled, 3)
    assert(n2 == 8 && sampled2.length == 3)
    sampled2.zip(sampled).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
    // stride 1 through the index == the full demux
    val (n3, everyFrame) = Multimodal.demuxAviSampled(bytes, 1)
    assert(n3 == 8 && everyFrame.length == 8)
    everyFrame.zip(all).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }

  test("MJPEG video: frames are real JPEGs through the same demux; fidelity bounded; decode row exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.llm.Multimodal
    // 200 chars -> 4 frames; varied content so fidelity checks have signal
    val text = ("the quick brown fox jumps over the lazy dog 0123 " * 4).take(200)
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val media = Multimodal.withVideoPayload(docs, codec = "jpeg")
    val bytes = media.select(col("media")).head().getAs[Array[Byte]](0)
    assert(new String(bytes, 0, 4, "US-ASCII") == "RIFF")
    // the stream headers carry the MJPG fourcc
    assert(new String(bytes, "ISO-8859-1").contains("MJPG"))
    val frames = Multimodal.demuxAvi(bytes)
    assert(frames.length == 4)
    val t = text.getBytes("UTF-8")
    def tile(f: Int): Array[Int] = (0 until 64)
      .map(i => if (f * 64 + i < t.length) t(f * 64 + i) & 0xff else 0).toArray
    def mae(a: Array[Int], b: Array[Int]): Double =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum / 64.0
    frames.zipWithIndex.foreach { case (f, i) =>
      // every frame is a genuine JPEG bytestream (SOI marker) the JVM
      // decodes at the right geometry
      assert((f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8, s"frame $i not JPEG")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(img != null && img.getWidth == 8 && img.getHeight == 8)
      val px = new Array[Int](64)
      img.getRaster.getSamples(0, 0, 8, 8, 0, px)
      // lossy but bounded: decoded pixels track the source tile...
      assert(mae(px, tile(i)) < 24.0, s"frame $i MAE ${mae(px, tile(i))}")
      // ...and track IT, not some other tile (content flows through the DCT)
      if (i < 3)
        assert(mae(px, tile(i)) < mae(px, tile(i + 1)),
          s"frame $i closer to a foreign tile")
    }
    // end-to-end: decode demuxes and JPEG-decodes every sampled frame, and
    // the codec-independent columns match the oracle arithmetic exactly
    val r = Multimodal.decodeVideo(media)
      .select(col("doc_id"), col("decoded"), col("n_frames"), col("n_sampled"))
      .head()
    assert(r.getLong(1) == 1L && r.getLong(2) == 4L && r.getLong(3) == 2L, s"$r")
  }

  test("LSH index append preserves content; compaction bounds part files and survives readers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("lsh-idx-spec").toString + "/idx"
    val mk = (ids: Seq[Long]) => ids.flatMap(id => (0 until 4)
      .map(b => (id, b, s"h$id-$b"))).toDF("doc_id", "band", "bh")
    mk(Seq(1L, 2L)).repartition(3).write.parquet(dir)
    // three appends at maxFiles=2: each triggers compaction
    for (batch <- Seq(Seq(3L), Seq(4L), Seq(5L, 6L)))
      Dedup.appendToLshIndex(dir, mk(batch).repartition(2), maxFiles = 2)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nParts = fs.listStatus(path).count(_.getPath.getName.startsWith("part-"))
    assert(nParts <= 2, s"compaction left $nParts part files")
    // content = union of every append, nothing lost or duplicated
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == (1L to 6L).flatMap(id => (0 until 4)
      .map(b => (id, b, s"h$id-$b"))).toSet)
    // a reader created after the last mutation sees the fresh listing
    assert(spark.read.parquet(dir).where(col("doc_id") === 6L).count() == 4L)
  }

  test("sign-LSH cosine near-dup is a no-false-positive subset of brute force") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Ann
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val b = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", org.apache.spark.sql.functions.round(
        Ann.cosine(col("a.embedding").cast("array<double>"),
          col("b.embedding").cast("array<double>")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.cosineNearDupPairs(emb, threshold = 0.35)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(b), s"false positives: ${lsh -- b}")
    assert(b.isEmpty || lsh.nonEmpty, "bucketing lost every true pair")
  }

  test("star-contraction components match a union-find reference") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12 sharing node 12 with 13, pair (20,21),
    // plus a high-id star — shapes that need transitivity, not just pairs
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 13L), (20L, 21L), (30L, 33L), (30L, 31L), (30L, 32L))
    // union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical root = component MINIMUM (find() keeps the min because unions
    // always parent the larger root under the smaller)
    val want = nodes.map(n => (n, find(n))).filter { case (n, r) => n != r }.toSet
    val got = Dedup.components(edges.toDF("d1", "d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got $got want $want")
  }

  test("components of an empty pair set is empty; assignments fall back to self") {
    import spark.implicits._
    val docs = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val asg = Dedup.clusterAssignments(docs, none).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(asg == Set((7L, 7L, 1L), (8L, 8L, 1L)))
  }

  test("contamination containment is asymmetric: full embedding scores 1.0") {
    import spark.implicits._
    // doc 100 contains ALL of bench doc 1's text plus twice as much more —
    // Jaccard would be ~0.33, containment must be exactly 1.0
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (100L, "alpha beta gamma delta epsilon pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8 pad9")
    ).toDF("doc_id", "text")
    val hits = Dedup.contamination(Dedup.shingles(docs, 3), benchMaxId = 1L, threshold = 0.5)
      .collect()
    assert(hits.length == 1)
    assert(hits.head.getLong(0) == 100L && hits.head.getLong(1) == 1L)
    assert(hits.head.getDouble(2) == 1.0)
  }

  test("stratified sample respects the per-stratum quota and is deterministic") {
    import graft.llm.Sample
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val s1 = Sample.stratified(docs, "lang", quota = 10)
    val counts = s1.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ <= 10), s"quota exceeded: $counts")
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sample.stratified(docs, "lang", quota = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "same quota, different sample — not deterministic")
  }

  test("shuffle order is a permutation, salt-sensitive, and salt-stable") {
    import spark.implicits._
    import graft.llm.Sample
    val docs = (1L to 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val o1 = Sample.shuffleOrder(docs, "epoch0").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1.keySet == (1L to 100L).toSet)
    assert(o1.values.toSeq.sorted == (1L to 100L))
    val o1b = Sample.shuffleOrder(docs, "epoch0").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1 == o1b, "same salt must reproduce the same order")
    val o2 = Sample.shuffleOrder(docs, "epoch1").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(o1 != o2, "different salt must re-shuffle")
  }

  test("tf-idf ranks a repeated rare term above common terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common common filler filler filler"),
      (3L, "common common other other other")
    ).toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(docs, k = 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // "common" is in every doc (idf ~ 0); the per-doc rare term must win
    assert(top == Map(1L -> "zebra", 2L -> "filler", 3L -> "other"))
  }

  test("repetition scores duplicated 3-grams; short docs score zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b c a b c"), // 7 grams, 3 distinct -> dup 4/7
      (2L, "all words here are different ones"),
      (3L, "x y") // shorter than one gram
    ).toDF("doc_id", "text")
    val r = TextStats.repetition(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((7L, 3L, 0.571429)))
    assert(r(2L)._3 == 0.0 && r(2L)._1 == 4L)
    assert(r(3L) == ((0L, 0L, 0.0)))
  }

  test("quality gate emits each reason and keeps a clean doc") {
    import spark.implicits._
    val clean = (1 to 30).map(i => s"tok$i").mkString(" ") // 30 distinct, no stopwords
    val docs = Seq(
      (1L, "en", clean),
      (2L, "en", "tiny doc"),                                // too_short (+low_quality)
      (3L, "en", (1 to 90).map(i => s"w$i").mkString(" ")),  // too_long
      (4L, "en", "the a of and in to " * 5 + "pad"),         // stopword_heavy
      (5L, "en", "rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep"), // repetitive+low_quality
      (6L, "fr", "the the a a of of and and " + clean)       // lang_mismatch (en markers, fr label)
    ).toDF("doc_id", "lang", "text")
    val g = TextStats.qualityGate(docs, minTokens = 25, maxTokens = 80,
        maxStopRatio = 0.15, minQuality = 0.6, maxDupFrac = 0.02)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(g(1L) == (("", 1L)))
    assert(g(2L)._1.contains("too_short") && g(2L)._2 == 0L)
    assert(g(3L)._1.contains("too_long"))
    assert(g(4L)._1.contains("stopword_heavy"))
    assert(g(5L)._1.contains("repetitive") && g(5L)._1.contains("low_quality"))
    assert(g(6L)._1.contains("lang_mismatch"))
  }

  test("native codegen cosine is bit-identical to the HOF fold") {
    import org.apache.spark.sql.functions._
    import graft.llm.Ann
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val self = e.limit(200).select(col("vec_id"),
      Ann.cosine(col("embedding"), reverse(col("embedding"))).as("hof"),
      call_function("cosine_sim", col("embedding"), reverse(col("embedding"))).as("native"))
    // EXACT equality, not approximate: the native loop preserves the fold's
    // summation order, so any ulp drift is a regression
    val bad = self.filter(col("hof") =!= col("native")).count()
    assert(bad == 0, s"$bad rows diverged between HOF and native cosine")
    // length mismatch → NULL, same as the zip_with fold: a truncated
    // embedding must fail threshold filters, not rank on a prefix
    val mm = e.limit(5).select(
      call_function("cosine_sim", col("embedding"), slice(col("embedding"), 1, 3)))
      .collect()
    assert(mm.forall(_.isNullAt(0)), "mismatched-length cosine must be NULL")
  }

  test("native distinct_ngrams matches the Column array_distinct formulation") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val grams = expr(
      "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', slice(w, i + 1, 3)))")
    val bad = docs
      .withColumn("column_form",
        when(size(col("w")) >= 3, size(array_distinct(grams))).otherwise(0))
      .withColumn("native", call_function("distinct_ngrams", col("w"), lit(3)))
      .filter(col("column_form") =!= col("native")).count()
    assert(bad == 0, s"$bad docs diverged between Column and native distinct-gram counts")
  }

  test("centroid outlier scan surfaces the vector far from its cluster") {
    import spark.implicits._
    import graft.llm.Ann
    // cluster 0: three near-identical vectors + one opposed; cluster 1: two aligned
    val emb = Seq(
      (1L, 0, Array(1f, 0f, 0f, 0f)),
      (2L, 0, Array(0.9f, 0.1f, 0f, 0f)),
      (3L, 0, Array(0.95f, 0f, 0.05f, 0f)),
      (4L, 0, Array(-1f, 0f, 0f, 0f)), // the outlier
      (5L, 1, Array(0f, 1f, 0f, 0f)),
      (6L, 1, Array(0f, 0.9f, 0.1f, 0f))
    ).toDF("vec_id", "label", "embedding")
    val worst = Ann.centroidOutliers(emb, k = 1).collect()
    assert(worst.head.getLong(0) == 4L)
    assert(worst.head.getDouble(2) < 0)
  }

  test("rolling-hash chunks: verbatim shared run fires, reorder does not, short docs drop") {
    import spark.implicits._
    val run = (1 to 32).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta"),             // run at offset 0
      (2L, s"one two $run tail1 tail2"),                // same run, offset 2 (unaligned)
      (3L, run.split(" ").reverse.mkString(" ")),       // same bag, reversed order
      (4L, "short doc under the window size")           // < w tokens: no chunks
    ).toDF("doc_id", "text")
    val fps = Dedup.chunkFingerprints(docs, w = 32, stride = 1)
    val byDoc = fps.collect().groupBy(_.getLong(0))
    assert(!byDoc.contains(4L))
    // stride 1 slides over every offset, so doc 2's unaligned copy of the run
    // still produces the identical fingerprint docs 1 and 3 would need...
    val fp1 = byDoc(1L).find(_.getInt(1) == 0).get.getLong(2)
    val fp2 = byDoc(2L).find(_.getInt(1) == 2).get.getLong(2)
    assert(fp1 == fp2)
    // ...but the reversed doc (same token BAG) shares nothing: order matters.
    assert(!byDoc(3L).map(_.getLong(2)).contains(fp1))
    // default stride (16) only keys aligned offsets; repeatedChunks still
    // groups the doc-1/doc-2 pair when both runs sit on stride boundaries
    val aligned = Seq((1L, run), (2L, s"pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8 " +
      s"pad9 pad10 pad11 pad12 pad13 pad14 pad15 pad16 $run")).toDF("doc_id", "text")
    val rep = Dedup.repeatedChunks(aligned).collect()
    assert(rep.exists(r => r.getLong(1) == 2L && r.getLong(3) == 1L))
  }

  test("resizeStub box-filters the pixel grid with integer means") {
    import org.apache.spark.sql.functions.{col, expr, lit, struct}
    import spark.implicits._
    // 4-wide, 2-row grid: "abcd" / "wxyz" -> 2x2 boxes of 1x2 pixels each
    val df = Seq((1L, "abcdwxyz")).toDF("doc_id", "text")
      .withColumn("media", col("text").cast("binary"))
      .withColumn("media_meta", struct(lit("raw").as("format"),
        lit(4).as("width"), lit(2).as("height")))
    val r = graft.llm.Multimodal.resizeStub(df, outW = 2, outH = 2).collect().head
    assert(r.getSeq[Long](1) == Seq(97L, 99L, 119L, 121L)) // ('a'+'b')/2, ...
    assert(r.getDouble(2) == 109.0)
  }

  test("PII scrub redacts all three classes and counts them") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail bob.smith+x@corp.example.org and carol@ex.io end"),
      (2L, "host 192.168.1.20 then 10.0.0.1 call 555-0142"),
      (3L, "clean text only"),
      // PII nested inside an earlier class: the email pass consumes the
      // dotted-quad domain, so it must NOT also count as an unredacted IP
      (4L, "reach bob@10.1.2.3.com maybe")).toDF("doc_id", "text")
    val r = graft.llm.Privacy.scrub(docs).collect().sortBy(_.getLong(0))
    assert(r(0).getLong(1) == 2 && r(0).getString(4) == "mail <EMAIL> and <EMAIL> end")
    assert(r(1).getLong(2) == 2 && r(1).getLong(3) == 1 &&
      r(1).getString(4) == "host <IP> then <IP> call <PHONE>")
    assert(r(2).getLong(1) == 0 && r(2).getLong(2) == 0 && r(2).getLong(3) == 0 &&
      r(2).getString(4) == "clean text only")
    assert(r(3).getLong(1) == 1 && r(3).getLong(2) == 0 &&
      r(3).getString(4) == "reach <EMAIL> maybe",
      s"nested-IP email row: ${r(3)}")
  }

  test("vocabMerges ranks the most frequent adjacent pair as the BPE merge candidate") {
    import spark.implicits._
    // "b c" occurs 3x (the merge candidate); "a b" 2x; tokens b and c tie
    // at 3x and the (cnt desc, token asc) tie-break puts b first.
    val docs = Seq(
      (1L, "a b c b c"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val r = TextStats.vocabMerges(docs, k = 2).collect()
    val pairs = r.filter(_.getString(0) == "pair").map(x => (x.getString(1), x.getLong(2)))
    val unis = r.filter(_.getString(0) == "unigram").map(x => (x.getString(1), x.getLong(2)))
    assert(pairs.toSeq.sortBy(-_._2).head == ("b c", 3L))
    assert(unis.toSeq.sortBy(-_._2).head == ("b", 3L))
    // top-k is deterministic under ties: (cnt desc, token asc)
    assert(pairs.length == 2 && unis.length == 2)
  }

  test("corpusStats medians interpolate and the mean accumulates in decimal") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four", "en", "s1"),      // 4 tokens
      (2L, "one two three four five six", "en", "s1"), // 6 -> median (4+6)/2 = 5
      (3L, "uno dos", "es", "s2")).toDF("doc_id", "text", "lang", "source")
    val r = TextStats.corpusStats(docs).collect().sortBy(_.getString(0))
    val en = r(0)
    assert(en.getString(0) == "en" && en.getLong(1) == 2 && en.getLong(2) == 1)
    assert(en.getLong(3) == 10 && en.getDouble(4) == 5.0)
    val es = r(1)
    assert(es.getString(0) == "es" && es.getLong(1) == 1 && es.getDouble(4) == 2.0)
  }

  test("temperature sampling flattens the mix: head downsampled, tail kept") {
    import spark.implicits._
    // 900 "en" docs vs 100 "sw": natural shares 0.9/0.1
    val docs = (1L to 1000L).map(i =>
      (i, s"tok$i text", if (i <= 900) "en" else "sw")).toDF("doc_id", "text", "lang")
    val kept = graft.llm.Sample.temperatureSample(docs, "lang", tau = 3.0, targetFrac = 0.4)
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = kept.getOrElse("en", 0L) / 900d
    val swRate = kept.getOrElse("sw", 0L) / 100d
    // τ=3 compresses 9:1 shares to 9^(1/3)≈2.08:1 weights — the tail's
    // keep-RATE must exceed the head's by a wide margin
    assert(swRate > 2 * enRate, s"en=$enRate sw=$swRate")
    // determinism: the identical call yields the identical set
    val again = graft.llm.Sample.temperatureSample(docs, "lang", tau = 3.0, targetFrac = 0.4)
    assert(again.collect().map(_.getLong(0)).sorted.toSeq ==
      graft.llm.Sample.temperatureSample(docs, "lang", 3.0, 0.4)
        .collect().map(_.getLong(0)).sorted.toSeq)
    assert(math.abs(kept.values.sum - 400L) < 80, s"total kept ${kept.values.sum} far from target 400")
  }

  test("bucketed stratified sample degenerates to exact-rank at B=1, fans out and fills quota at B>1") {
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    // B=1 is exactly the exact-rank sampler (same doc set AND same ranks)
    val exact = graft.llm.Sample.stratified(docs, "lang", quota = 40)
      .select(col("doc_id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1 = graft.llm.Sample.stratifiedBucketed(docs, "lang", quota = 40, buckets = 1)
      .select(col("doc_id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1 == exact)
    // B=4: the per-stratum sort fans out across more (stratum, bucket)
    // groups than there are strata — the scale-out property
    val b4 = graft.llm.Sample.stratifiedBucketed(docs, "lang", quota = 40, buckets = 4)
    val groups = b4.select(col("stratum"), col("bucket")).distinct().count()
    val strata = docs.select(col("lang")).distinct().count()
    assert(groups > strata, s"no fan-out: $groups groups for $strata strata")
    // quota accuracy: never over; filled exactly when the stratum is large
    // enough that each of 4 buckets surely drew its 10 (>=120 docs puts a
    // short bucket 4+ binomial sigmas out — and the draw is deterministic)
    val per = b4.groupBy(col("stratum")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    per.foreach { case (s, n) => assert(n <= 40, s"stratum $s over quota: $n") }
    val big = sizes.filter(_._2 >= 120).keys
    assert(big.nonEmpty, "fixture has no large stratum — quota assertion is vacuous")
    big.foreach { s =>
      assert(per.getOrElse(s, 0L) == 40L, s"large stratum $s under-filled: ${per.get(s)}")
    }
  }

  test("incremental Bloom dedup is exact even with a saturated filter") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"),
      // incoming: 10 is a byte-dup of prior 1, 11/12 are new
      (10L, "alpha beta"), (11L, "fresh text here"), (12L, "gamma delta x"))
      .toDF("doc_id", "text")
    // UNDERSIZED: lie that one prior exists at a loose fpp — sizing clamps to
    // the 64-bit floor, the filter saturates, nearly everything is a "maybe"
    // — the anti-join verification must still yield the exact set
    val tiny = Dedup.incrementalExactDedup(docs, cutoff = 10L,
      expectedPrior = 1L, fpp = 0.5)
    assert(tiny.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 12L))
    // roomy filter: same exact result
    val roomy = Dedup.incrementalExactDedup(docs, cutoff = 10L,
      expectedPrior = 1000L, fpp = 0.01)
    assert(roomy.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 12L))
    // empty prior: everything is new, no filter built
    val none = Dedup.incrementalExactDedup(docs, cutoff = 0L,
      expectedPrior = 10L, fpp = 0.02)
    assert(none.count() == 6)
    // oversized ask: honest sizing for 10^12 priors at 1% blows any literal
    // budget — the operator must fall back to the plain anti-join, still exact
    val fallback = Dedup.incrementalExactDedup(docs, cutoff = 10L,
      expectedPrior = 1000000000000L, fpp = 0.01)
    assert(fallback.collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 12L))
  }

  test("incremental near-dedup reports crawl-vs-corpus pairs only, with exact jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // corpus (even ids): 2 and 4 are near-dups of each other; crawl (odd
    // ids): 1 is a verbatim dup of corpus 2, 3 is novel, 5 is a verbatim
    // dup of crawl 1 (an INTRA-crawl pair the operator must NOT report)
    val docs = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "the quick brown fox jumps over the lazy dog tonight"),
      (6L, "completely different corpus content about spark plans"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "novel crawl text that matches nothing in the corpus"),
      (5L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, 3)
    val sig = Dedup.minhashSignaturesWide(sh, 64)
    val idx = Dedup.lshBandRows(sig.filter(col("doc_id") % 2 === 0))
    val crawl = Dedup.lshBandRows(sig.filter(col("doc_id") % 2 === 1))
    val out = Dedup.incrementalNearDups(crawl, idx, sh, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1 and 5 each hit corpus 2 (identical: jaccard 1.0) and near-dup 4;
    // the intra-crawl pair (1,5) and the intra-corpus pair (2,4) are absent
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((5L, 2L)), out.mkString(","))
    assert(out.forall(t => t._1 % 2 == 1 && t._2 % 2 == 0), out.mkString(","))
    assert(out.filter(t => t._2 == 2L && (t._1 == 1L || t._1 == 5L))
      .forall(_._3 == 1.0), out.mkString(","))
  }

  test("soft dedup: singletons always survive, big clusters thin to ~1, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 50 singleton clusters + one 200-member cluster
    val singles = (1000L to 1049L).map(i => (i, i, 1L))
    val big = (1L to 200L).map(i => (i, 1L, 200L))
    val asg = (singles ++ big).toDF("doc_id", "cluster", "csize")
    val out = graft.llm.Sample.softDedupSample(asg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // p = 1 for csize = 1: every singleton survives
    assert(out.count(_._2 >= 1000L) == 50, out.filter(_._2 >= 1000L).length)
    // the 200-cluster thins to ~1 expected survivor (allow 0..6 — binomial
    // tail at p = 1/200 over 200 draws; the draw is deterministic, so this
    // is a fixed number, the bound just documents the contract)
    val kept = out.count(_._2 == 1L)
    assert(kept <= 6, s"200-cluster kept $kept")
    // determinism: same input, same survivors
    val again = graft.llm.Sample.softDedupSample(asg).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(again == out)
  }

  test("proportionalBits: floor at oracle SFs, grows with log n, capped at 32") {
    import graft.llm.Ann.proportionalBits
    // every driver-oracle scale stays on the floor -> results unchanged
    assert(proportionalBits(200L) == 8)    // sf0.01
    assert(proportionalBits(2000L) == 8)   // sf0.1
    assert(proportionalBits(20000L) == 8)  // 10x (ceil-log2(79) = 7 < floor)
    // growth: 100x corpus -> 10 bits (2^9 = 512 < ceil(200000/256) = 782 <= 2^10)
    assert(proportionalBits(200000L) == 10)
    // exact power-of-two boundary (the FP-log hazard case): m = 512 -> 9
    assert(proportionalBits(512L * 256L) == 9)
    assert(proportionalBits(512L * 256L + 1L) == 10)
    assert(proportionalBits(Long.MaxValue / 4) == 32)
  }

  test("bloom sizing formula hits the requested fpp within tolerance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 5000L
    val fpp = 0.05
    val bits = Dedup.bloomBitsFor(n, fpp)
    // ~ -n ln(p)/(ln 2)^2 = n * 6.235... at p=0.05
    assert(bits >= (n * 6).toLong && bits <= (n * 7).toLong, s"bits=$bits")
    val members = spark.range(n).select(col("id"))
    val bf = members.agg(expr(s"graft_bloom_agg(xxhash64(id), ${n}L, ${bits}L)"))
      .head.getAs[Array[Byte]](0)
    // probe 20k NON-members; the realized rate must be within ±20% of the
    // request (binomial noise at 20k draws is ~±3% relative, well inside)
    val probes = 20000L
    val hits = spark.range(n, n + probes)
      .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("id"))))
      .count()
    val realized = hits.toDouble / probes
    assert(realized <= fpp * 1.2, s"realized fpp $realized vs requested $fpp")
    assert(realized >= fpp * 0.5, s"suspiciously low fpp $realized — oversized filter?")
  }

  test("capped near-dedup default recalls the exact pair set at threshold 0.8") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // boilerplate header shared by EVERY doc (hot shingles, df = |docs|) +
    // per-doc unique bodies; docs 100/101 and 200/201 are true near-dups
    val header = "terms of service apply to all content on this site"
    val docs = ((0L until 60L).map { i =>
      (i, s"$header unique body ${i}a ${i}b ${i}c ${i}d ${i}e ${i}f ${i}g ${i}h")
    } ++ Seq(
      (100L, s"$header shared dup body one two three four five six seven eight nine"),
      (101L, s"$header shared dup body one two three four five six seven eight nine ten"),
      (200L, s"$header another dup text red green blue cyan magenta yellow black"),
      (201L, s"$header another dup text red green blue cyan magenta yellow black white")
    )).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Dedup.nearDupPairs(docs, n = 3, threshold = 0.8, maxShingleDf = None)
      .select(col("d1"), col("d2")).collect().map(key).toSet
    // cap at a df that kills the 64-doc boilerplate shingles but none of the
    // discriminative ones — the DEFAULT behavior class at corpus scale
    val capped = Dedup.nearDupPairs(docs, n = 3, threshold = 0.8, maxShingleDf = Some(10))
      .select(col("d1"), col("d2")).collect().map(key).toSet
    assert(exact.nonEmpty, "fixture must contain true near-dup pairs")
    // recall pin: a >=0.8-Jaccard pair shares mostly discriminative shingles,
    // so dropping stop-shingles must not lose it
    assert(exact.subsetOf(capped), s"capped path lost pairs: ${exact -- capped}")
    // and the default signature IS capped now — the 100-TB footgun is opt-in
    assert(Dedup.nearDupPairs(docs, n = 3, threshold = 0.8)
      .select(col("d1"), col("d2")).collect().map(key).toSet == exact)
  }

  test("uncapped near-dedup suite row is env-gated: absent from the default registry") {
    // the bench/verify suite must carry no standing super-linear shape: the
    // uncapped exactness baseline has no suite row (its semantics stay
    // covered by the capped-vs-exact recall pin above)
    assert(!SparkEntry.queries.contains("llm_near_dedup"))
    assert(!SparkEntry.oracleSql.contains("llm_near_dedup"))
    assert(SparkEntry.queries.contains("llm_near_dedup_capped"))
    assert(SparkEntry.oracleSql.contains("llm_near_dedup_capped"))
  }

  test("unigram-LM quality ranks common-token docs above gibberish; DSIR flags target-like docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "en", "the cat sat on the mat the cat sat again"),   // common tokens
      (2L, "en", "zqx wvu ptr mno jkl hgf dse abc qwe rty"),    // all-rare tokens
      (3L, "de", "der hund lief durch den wald der hund lief"), // target-exclusive? no: de
      (4L, "de", "the cat sat on the mat the cat sat more"))    // en-like tokens, de label
      .toDF("doc_id", "lang", "text")
    val lp = TextStats.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // doc 1 repeats corpus-frequent tokens; doc 2 is singleton soup
    assert(lp(1L) > lp(2L), s"lp=$lp")
    val w = TextStats.dsirWeights(docs, col("lang") === "en").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3))).toList
    val byId = w.map(x => x._1 -> x).toMap
    // ordering: a doc whose vocabulary never appears in the target slice
    // (3) must score below one sharing the target vocabulary (4), which
    // scores below a pure target-slice doc (1)
    assert(byId(3L)._2 < byId(4L)._2 && byId(4L)._2 < byId(1L)._2, s"w=$w")
    // the selected flag is exactly the positive-weight slice
    w.foreach { case (id, wt, sel) =>
      assert(sel == (if (wt > 0) 1 else 0), s"doc $id: weight $wt selected $sel")
    }
  }

  test("holdout split: fractions within binomial bounds, id-stable under corpus growth") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Sample
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Sample.holdoutSplit(docs, valFrac = 0.1, testFrac = 0.1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val n = full.size
    val shares = full.values.groupBy(identity).map { case (s, xs) => s -> xs.size }
    // 3-sigma binomial bounds around 10% / 10% / 80%
    def within(k: Int, p: Double) =
      math.abs(k - n * p) <= 3 * math.sqrt(n * p * (1 - p)) + 1
    assert(within(shares.getOrElse("test", 0), 0.1), s"shares=$shares")
    assert(within(shares.getOrElse("val", 0), 0.1), s"shares=$shares")
    assert(within(shares.getOrElse("train", 0), 0.8), s"shares=$shares")
    // the anti-contamination property: a half-corpus run assigns every doc
    // the SAME split — growth never reshuffles existing assignments
    val half = Sample.holdoutSplit(docs.filter(col("doc_id") % 2 === 0),
        valFrac = 0.1, testFrac = 0.1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id moved: ${full(id)} -> $s") }
  }

  test("native ngram_spans is byte-identical to the HOF concat_ws pipeline") {
    import org.apache.spark.sql.functions.{call_function, col, expr, lit}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.split(col("text"), " ").as("w"))
      .filter(org.apache.spark.sql.functions.size(col("w")) >= 3)
    val diff = docs
      .select(call_function("ngram_spans", col("w"), lit(3)).as("native"),
        expr("transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', slice(w, i + 1, 3)))").as("hof"))
      .filter(org.apache.spark.sql.functions.not(col("native") <=> col("hof")))
      .count()
    assert(diff == 0, s"$diff rows diverged")
  }

  test("native chunk_fps is bit-identical to the HOF transform/aggregate pipeline") {
    import org.apache.spark.sql.functions.{call_function, col, expr, lit}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.split(col("text"), " ").as("toks"))
      .filter(org.apache.spark.sql.functions.size(col("toks")) >= 32)
    val diff = docs
      .select(call_function("chunk_fps", col("toks"), lit(32), lit(16)).as("native"),
        expr("transform(sequence(0, cast(floor((size(toks) - 32) / 16) as int)), i -> " +
          "aggregate(transform(slice(toks, i * 16 + 1, 32), " +
          "t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint)), " +
          "cast(0 as bigint), (a, h) -> (a * 131 + h) % 2147483647))").as("hof"))
      .filter(org.apache.spark.sql.functions.not(col("native") <=> col("hof")))
      .count()
    assert(diff == 0, s"$diff rows diverged")
  }

  test("native span_digests is bit-identical to the HOF md5 pipeline") {
    import org.apache.spark.sql.functions.{call_function, col, expr, lit}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.split(col("text"), " ").as("w"))
      .filter(org.apache.spark.sql.functions.size(col("w")) >= 10)
    val diff = docs
      .select(call_function("span_digests", col("w"), lit(10)).as("native"),
        expr("transform(sequence(0, size(w) - 10), " +
          "i -> md5(cast(concat_ws(' ', slice(w, i + 1, 10)) as binary)))").as("hof"))
      .filter(org.apache.spark.sql.functions.not(col("native") <=> col("hof")))
      .count()
    assert(diff == 0, s"$diff rows diverged")
  }

  test("dup-span stats match a driver-side reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 4).foreach { _ =>
      val docs = (0L until 20L).map { id =>
        // alphabet of 4 tokens forces genuine span collisions
        (id, Seq.fill(rnd.nextInt(25) + 5)("abcd" (rnd.nextInt(4)).toString).mkString(" "))
      }
      val n = 5
      // reference: global occurrence count over every stride-1 n-token span
      val spansOf = docs.map { case (id, t) =>
        val w = t.split(" ")
        id -> (if (w.length < n) Seq.empty[String]
               else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")))
      }.toMap
      val occ = spansOf.values.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
      val want = spansOf.collect { case (id, sp) if sp.nonEmpty =>
        val dup = sp.count(occ(_) >= 2)
        id -> ((sp.size.toLong, dup.toLong,
          BigDecimal(dup.toDouble / sp.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      val got = graft.llm.Dedup.dupSpanStats(docs.toDF("doc_id", "text"), n = n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got == want, s"got $got want $want")
    }
  }

  test("int8 quantization: codes in range, endpoints exact, error within the SQ8 bound") {
    import spark.implicits._
    import graft.llm.Ann
    // dim 0 is constant (must code to 0 with zero error); dim 1 spans [-0.5, 0.5]
    val tiny = Seq(
      (1L, Array(1.0f, 0.5f)), (2L, Array(1.0f, -0.5f)), (3L, Array(1.0f, 0.1f)))
      .toDF("vec_id", "embedding")
    val t = Ann.quantizeInt8(tiny).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(t(1L)._2 == 255 && t(2L)._1 == 0, s"endpoints must hit the code range: $t")
    // interval endpoints dequantize exactly; 0.1 lands within half a step
    t.values.foreach { case (_, _, mse) => assert(mse <= 1e-6, s"mse $mse") }
    // real fixture: every code in [0,255], per-vector MSE under the
    // worst-case SQ8 bound (half a quantization step per dimension)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Ann.quantizeInt8(emb).collect()
    assert(rows.length == emb.count().toInt)
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(2) <= 255)
      assert(r.getDouble(3) >= 0 && r.getDouble(3) < 1e-3, s"mse ${r.getDouble(3)}")
    }
  }

  test("dup-span stats catch verbatim reuse at any alignment, count within-doc repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),            // 3 spans; first shared with doc 2
      (2L, "z a b c d e f g h i j"),              // the shared span sits at offset 1
      (3L, "p q r s t u v w x y"),                // unique single span
      (4L, "m n o p q r s t u v m n o p q r s t u v"), // self-repeat at offset 10
      (5L, "too short"))                          // < 10 tokens: absent
      .toDF("doc_id", "text")
    val got = graft.llm.Dedup.dupSpanStats(docs, n = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((3L, 1L, 0.3333)), s"got ${got(1L)}")   // alignment-shifted hit
    assert(got(2L) == ((2L, 1L, 0.5)), s"got ${got(2L)}")
    assert(got(3L) == ((1L, 0L, 0.0)), s"got ${got(3L)}")
    assert(got(4L) == ((11L, 2L, 0.1818)), s"got ${got(4L)}")  // both self-repeat sites
  }

  test("bigram LM scores phrase structure, not just token frequency") {
    import spark.implicits._
    // docs 1 and 2 have IDENTICAL unigram distributions (4x a, 4x b); doc 1
    // repeats the corpus-dominant bigram "a b", doc 2 is the shuffled soup
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, "a a b b a a b b"),
      (3L, "a b a b a b a b"),
      (4L, "z"))
      .toDF("doc_id", "text")
    val got = TextStats.bigramLogProb(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the single-token doc has no bigrams and is absent
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L)._1 == 7L, "n_bigrams = tokens - 1")
    assert(got(1L)._2 == got(3L)._2, "identical docs score identically")
    assert(got(1L)._2 > got(2L)._2,
      s"phrase-repeating doc must outscore shuffled doc: $got")
  }

  test("kmeans: every vector gets its argmax centroid; <= k clusters survive") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Ann
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val got = Ann.kmeans(emb, k = 4, iters = 2).collect()
    assert(got.length == n, "every vector must be assigned")
    val clusters = got.map(_.getLong(1)).toSet
    assert(clusters.size <= 4 && clusters.forall(c => c >= 0 && c < 4))
    // the reported ccos is the MAX over the updated centroids, which are the
    // means of the PASS-1 assignment (iters=1): re-derive that centroid
    // table and check a sample of rows against a driver-side argmax
    val cents = Ann.kmeans(emb, k = 4, iters = 1)
      .join(emb.withColumnRenamed("embedding", "e2"), Seq("vec_id"))
      .select(col("cluster"),
        org.apache.spark.sql.functions.posexplode(col("e2").cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.sum(col("x").cast("decimal(28,12)")).cast("double") /
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)), 6).as("m"))
      .collect().groupBy(_.getLong(0))
      .map { case (c, rows) => c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.foldLeft(0d)(_ + _)
      val na = math.sqrt(a.map(x => x * x).foldLeft(0d)(_ + _))
      val nb = math.sqrt(b.map(x => x * x).foldLeft(0d)(_ + _))
      BigDecimal(d / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    got.take(20).foreach { r =>
      val (id, cl, cc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val best = cents.map { case (c, ce) => (cos(vecs(id), ce.toSeq), -c) }.max
      assert(best._1 == cc && -best._2 == cl,
        s"vec $id: assigned ($cl, $cc) but argmax is (${-best._2}, ${best._1})")
    }
  }

  test("semanticDedup: min-centroid-cosine member of every duplicate group survives") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Ann
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val res = Ann.semanticDedup(emb, threshold = 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(res.length == emb.count().toInt)
    val dropped = res.filter(_._4 == 0)
    assert(dropped.nonEmpty, "fixture must exercise the drop path")
    // per cluster, the member with the global minimum ccos is always kept
    res.groupBy(_._2).foreach { case (_, members) =>
      val minC = members.minBy(m => (m._3, m._1))
      assert(minC._4 == 1, s"minimum-ccos member $minC was dropped")
    }
    // and every dropped vector really has a >=-threshold neighbor with
    // strictly lower (ccos, vec_id)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.foldLeft(0d)(_ + _)
      BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byCluster = res.groupBy(_._2)
    dropped.take(10).foreach { case (id, cl, cc, _) =>
      val witness = byCluster(cl).exists { case (oid, _, occ, _) =>
        oid != id && cos(vecs(id), vecs(oid)) >= 0.35 &&
          (occ < cc || (occ == cc && oid < id))
      }
      assert(witness, s"vec $id dropped without a lower-ccos duplicate witness")
    }
  }

  test("PQ encode: codes in range, finer codebook strictly more faithful") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val enc = graft.llm.Pq.encodeAudit(emb, m = 4, subDim = 16, k = 4).collect()
    assert(enc.length == emb.count().toInt)
    enc.foreach { r =>
      (1 to 4).foreach { i =>
        val c = r.getInt(i)
        assert(c >= 0 && c < 4, s"code $c out of [0,4) in row $r")
      }
      assert(r.getDouble(5) >= 0d, s"negative mse in $r")
    }
    // a 1-centroid codebook reconstructs every subvector to the subspace
    // mean; 4 centroids must cut the average reconstruction error
    val mse4 = enc.map(_.getDouble(5)).sum / enc.length
    val enc1 = graft.llm.Pq.encodeAudit(emb, m = 4, subDim = 16, k = 1).collect()
    val mse1 = enc1.map(_.getDouble(5)).sum / enc1.length
    assert(mse4 < mse1, s"k=4 mse $mse4 not below k=1 mse $mse1")
    // r15 shape pin: the encode is a per-row projection against the
    // broadcast 1-row codebook array — no corpus regroup shuffle (the old
    // explode→join→groupBy(vec_id) shape would reintroduce one), and the
    // codebook still arrives broadcast
    val plan = graft.llm.Pq.encodeWithRecon(emb, 4, 16, 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(vec_id"),
      "PQ encode regained a corpus regroup shuffle")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "PQ codebook array lost its broadcast")
  }

  test("native l2_dist is bit-identical to the HOF sqrt-of-fold pipeline") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val a = emb.select(col("vec_id"), col("embedding").as("ea"))
    val b = emb.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("eb"))
    val both = a.join(b, "vec_id")
      .select(graft.llm.Pq.l2(col("ea"), col("eb")).as("nat"),
        graft.llm.Pq.l2Hof(col("ea"), col("eb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"l2_dist diverged from the HOF fold: $r")
    }
  }

  test("IVFADC probes exactly one cluster per query and broadcasts the probe") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val asg = graft.llm.Ann.kmeans(emb, k = 4, iters = 2)
    val top = graft.llm.Pq.ivfAdcTopK(emb, asg, queryMaxId = 3, topK = 5,
      m = 4, subDim = 16, k = 4)
    val rows = top.collect()
    // every query's candidates come from ONE coarse cluster (nprobe = 1)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).distinct.length == 1)
      assert(rs.map(_.getInt(4)).sorted.sameElements(1 to rs.length))
    }
    val plan = top.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "IVFADC centroid/probe joins lost their broadcast")
  }

  test("PQ ADC recall is a valid recall over the exact top-k") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rep = graft.llm.Pq.adcRecall(emb, queryMaxId = 3, topK = 5,
      m = 4, subDim = 16, k = 4).collect()
    assert(rep.length == 3)
    rep.foreach { r =>
      assert(r.getLong(1) == 5)
      val hit = r.getLong(2)
      assert(hit >= 0 && hit <= 5)
      assert(math.abs(r.getDouble(3) - hit / 5.0) < 1e-6)
    }
  }

  test("token-budget mix: budget conserved when feasible, caps honored, infeasible shows shortfall") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = graft.llm.Sample
      .tokenBudgetMix(docs, "lang", budgetTokens = 32000L, maxEpochs = 1.4)
      .collect()
    assert(rows.nonEmpty)
    var sumFinal = 0d
    rows.foreach { r =>
      val nTok = r.getLong(2).toDouble
      val capped = r.getLong(5)
      val fin = r.getDouble(6)
      if (capped == 1L) assert(math.abs(fin - 1.4 * nTok) < 1e-3,
        s"capped source off its cap: $r")
      else assert(fin >= r.getDouble(4) - 1e-3,
        s"uncapped source lost tokens to redistribution: $r")
      assert(math.abs(r.getDouble(7) - fin / nTok) < 1e-5, s"epochs mismatch: $r")
      if (capped == 1L) assert(r.getDouble(7) <= 1.4 + 1e-6)
      sumFinal += fin
    }
    // one-round algebra: if any source is uncapped, the surplus lands there
    // and the budget is conserved exactly
    if (rows.exists(_.getLong(5) == 0L))
      assert(math.abs(sumFinal - 32000d) < 1e-2, s"budget leaked: $sumFinal")
    // infeasible: budget far above maxEpochs * corpus -> every source caps
    // and the table SHOWS the shortfall instead of silently water-filling
    val tight = graft.llm.Sample
      .tokenBudgetMix(docs, "lang", budgetTokens = 10000000L, maxEpochs = 1.0)
      .collect()
    assert(tight.forall(_.getLong(5) == 1L))
    val totTok = tight.map(_.getLong(2)).sum.toDouble
    assert(math.abs(tight.map(_.getDouble(6)).sum - totTok) < 1e-3)
  }

  test("SRP signatures: tables rows per vector, buckets within 2^bits") {
    import org.apache.spark.sql.functions.{col, count}
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val sig = graft.llm.Ann.srpSignatures(emb, tables = 16, bits = 4)
    assert(sig.count() == n * 16)
    assert(sig.groupBy(col("vec_id")).agg(count(col("t")).as("c"))
      .filter(col("c") =!= 16).count() == 0)
    assert(sig.filter(col("bucket") < 0 || col("bucket") >= 16).count() == 0)
    // different tables genuinely decorrelate: no two tables produce the
    // identical bucket assignment across the corpus
    val perTable = (0 until 16).map(t =>
      sig.filter(col("t") === t).orderBy(col("vec_id"))
        .select(col("bucket")).collect().toSeq)
    assert(perTable.distinct.length == 16, "two SRP tables collapsed")
  }

  test("SRP top-k: ranks contiguous, cosines exact, recall report valid") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val top = graft.llm.Ann.srpTopK(emb, queryMaxId = 3, k = 5,
      tables = 16, bits = 4)
    val rows = top.collect()
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      // contiguous ranks from 1; candidate count >= returned rows
      assert(rs.map(_.getLong(3)).sorted.sameElements(1L to rs.length))
      assert(rs.forall(_.getLong(4) >= rs.length))
      // re-rank is by exact cosine, descending
      val cs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(!rs.exists(_.getLong(1) == qid), "query returned itself")
    }
    val rep = graft.llm.Ann.srpRecallReport(emb, queryMaxId = 3, k = 5,
      tables = 16, bits = 4).collect()
    assert(rep.length == 3)
    rep.foreach { r =>
      assert(r.getLong(1) == 5)
      val hit = r.getLong(2)
      assert(hit >= 0 && hit <= 5)
      assert(math.abs(r.getDouble(3) - hit / 5.0) < 1e-6)
    }
  }

  test("SRP index lifecycle: append lands, compaction bounds files, probe equals live") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val root = java.nio.file.Files.createTempDirectory("graft-srpidx-spec")
    val idx = root.toString + "/index"
    try {
      graft.llm.Ann.srpSignatures(emb.filter(col("vec_id") % 5 =!= 4),
        tables = 16, bits = 4).write.parquet(idx)
      graft.llm.Dedup.appendToLshIndex(idx,
        graft.llm.Ann.srpSignatures(emb.filter(col("vec_id") % 5 === 4),
          tables = 16, bits = 4),
        maxFiles = 1)
      // compaction engaged (append pushed parts past maxFiles) and bounded
      // the layout; no signature row lost or duplicated
      val parts = Option(new java.io.File(idx).listFiles()).get
        .count(_.getName.startsWith("part-"))
      assert(parts == 1, s"compaction left $parts part files")
      val stored = graft.llm.Dedup.readLshIndex(spark, idx)
      assert(stored.count() == n * 16)
      // the stored-index probe is pointwise identical to the live projection
      val live = graft.llm.Ann.srpTopK(emb, queryMaxId = 3, k = 5,
        tables = 16, bits = 4).collect().map(_.toString).sorted
      val fromIdx = graft.llm.Ann.srpProbe(emb, stored, queryMaxId = 3, k = 5,
        tables = 16, bits = 4).collect().map(_.toString).sorted
      assert(live.sameElements(fromIdx))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("source overlap: full pair matrix, intersections bounded, jaccard algebra holds") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val nSrc = docs.select("source").distinct().count()
    val rows = graft.llm.Dedup.sourceOverlap(docs).collect()
    assert(rows.length == nSrc * (nSrc - 1) / 2,
      "every source pair sharing at least one shingle should appear")
    rows.foreach { r =>
      val (nA, nB, shared, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(r.getString(0) < r.getString(1), "pairs must be canonical a<b")
      assert(shared >= 1 && shared <= math.min(nA, nB))
      assert(math.abs(j - shared.toDouble / (nA + nB - shared)) < 1e-5)
    }
  }

  test("PngEncoder round-trips through the real ImageIO decoder at any size") {
    // the encoder is hand-rolled (see Multimodal.PngEncoder for why), so the
    // decoder of record — javax.imageio, the one decodeVideo uses — is the
    // conformance oracle: random dimensions, random (incompressible) pixels,
    // plus the flat frames that compress hardest, all byte-exact after decode
    val rng = new scala.util.Random(20260815L)
    val cases =
      Seq((8, 8), (1, 1), (3, 7), (13, 2), (32, 32), (64, 64)) ++
        Seq.fill(20)((rng.nextInt(48) + 1, rng.nextInt(48) + 1))
    cases.foreach { case (w, h) =>
      val enc = new graft.llm.Multimodal.PngEncoder(w, h)
      try {
        val flats = Seq(Array.fill[Byte](w * h)(0), Array.fill[Byte](w * h)(-1))
        val randoms = Seq.fill(3) {
          val a = new Array[Byte](w * h); rng.nextBytes(a); a
        }
        (flats ++ randoms).foreach { gray =>
          val png = enc.encode(gray)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          assert(img != null, s"ImageIO rejected hand-rolled PNG at ${w}x$h")
          assert(img.getWidth == w && img.getHeight == h)
          var i = 0
          while (i < w * h) {
            assert(img.getRaster.getSample(i % w, i / w, 0) == (gray(i) & 0xff),
              s"pixel $i mismatch at ${w}x$h")
            i += 1
          }
        }
      } finally enc.close()
    }
  }

  // ---- crash injection for the index-swap self-heal paths (VERDICT r11
  // #6): each test MANUFACTURES the exact on-disk state a crash leaves
  // mid-swap (the steps before the kill performed, the steps after skipped)
  // and asserts the documented self-heal actually restores a serving index.
  // Removing any heal branch makes the matching test fail with a missing
  // path, not a skipped assertion. ----

  private def hadoopFs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("crash injection: IVF meta swap heals the orphaned tmp; a torn ledger degrades to rebuild-needed") {
    import graft.llm.Ann
    val dir = java.nio.file.Files.createTempDirectory("ivf-meta-crash").toString
    val fs = hadoopFs(dir)
    val pub = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/.meta-tmp")
    // crash state: writeIvfMeta died between delete-published and rename-in
    // (tmp fully written, published missing)
    val out = fs.create(tmp, true)
    try out.write("100,30\n".getBytes("UTF-8")) finally out.close()
    assert(!fs.exists(pub))
    val healed = Ann.ivfIndexMeta(spark, dir)
    assert(healed.contains(Ann.IvfMeta(100L, 30L)), s"got $healed")
    assert(fs.exists(pub) && !fs.exists(tmp), "heal must promote tmp to published")
    // 30/130 = 0.23 > 0.2: the healed ledger drives the gate
    assert(Ann.needsIvfRebuild(spark, dir, threshold = 0.2))
    assert(!Ann.needsIvfRebuild(spark, dir, threshold = 0.3))
    // crash state: died between fs.create's truncate and the write — a torn
    // (empty) tmp. The heal promotes it, the parse degrades to None, and the
    // gate answers rebuild-needed instead of bricking.
    fs.delete(pub, true)
    fs.create(tmp, true).close()
    assert(Ann.ivfIndexMeta(spark, dir).isEmpty)
    assert(Ann.needsIvfRebuild(spark, dir))
  }

  test("crash injection: IVF compaction swap heals the missing cluster partition and sweeps orphaned tmps") {
    import spark.implicits._
    import graft.llm.Ann
    val dir = java.nio.file.Files.createTempDirectory("ivf-crash").toString + "/idx"
    val emb = (0L until 12L).map(i =>
      (i, Array(i.toDouble % 3, 1.0), i % 3)).toDF("vec_id", "embedding", "cluster")
    Ann.writeIvfIndex(emb, "cluster", dir)
    val fs = hadoopFs(dir)
    val part = new org.apache.hadoop.fs.Path(s"$dir/corpus/cluster=1")
    val aside = new org.apache.hadoop.fs.Path(s"$dir/.old-cluster=1")
    // crash state: compactClusterData died between rename-aside and
    // rename-in (partition gone, aside holds the only copy)
    assert(fs.rename(part, aside), "test setup: aside rename failed")
    assert(!fs.exists(part))
    // plus an orphaned rewrite tmp from a crash between the coalesce write
    // and the aside rename
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.compact-cluster=2"))
    Ann.compactIvfIndex(spark, dir, maxFilesPerCluster = 1000)
    assert(fs.exists(part), "heal must restore the partition from its aside")
    assert(!fs.exists(aside), "heal must consume the aside")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.compact-cluster=2")),
      "orphaned rewrite tmp must be swept")
    val got = spark.read.parquet(s"$dir/corpus")
    assert(got.count() == 12L, "no vector may be lost across the heal")
    assert(got.where(org.apache.spark.sql.functions.col("cluster") === 1L).count() == 4L)
    // a completed swap's stale aside (partition present AND aside present)
    // is garbage, not truth: it must be dropped, not renamed over the data
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.old-cluster=0"))
    Ann.compactIvfIndex(spark, dir, maxFilesPerCluster = 1000)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/.old-cluster=0")))
    assert(spark.read.parquet(s"$dir/corpus").count() == 12L)
  }

  test("IVF append routes a zero-norm vector to the lowest cluster, not the -1 sentinel") {
    import spark.implicits._
    import graft.llm.Ann
    val dir = java.nio.file.Files.createTempDirectory("ivf-nan").toString + "/idx"
    val emb = (0L until 12L).map(i =>
      (i, Array(i.toDouble % 3, 1.0), i % 3 + 5)).toDF("vec_id", "embedding", "cluster")
    Ann.writeIvfIndex(emb, "cluster", dir)
    // every cosine of a zero-norm vector is NaN: NaN ranks largest, ties
    // go to the lower cluster
    Ann.appendToIvfIndex(Seq((100L, Array(0.0, 0.0))).toDF("vec_id", "embedding"), dir)
    val got = spark.read.parquet(s"$dir/corpus").where($"vec_id" === 100L)
      .select($"cluster").as[Long].collect().toSeq
    assert(got == Seq(5L), s"zero-norm vector landed in $got")
  }

  test("crash injection: IVFADC codes compaction heals through the shared swap discipline") {
    import spark.implicits._
    import graft.llm.Pq
    val dir = java.nio.file.Files.createTempDirectory("adc-crash").toString + "/idx"
    val emb = (0L until 8L).map(i =>
      (i, Array(i.toDouble, (i % 2).toDouble), i % 2)).toDF("vec_id", "embedding", "cluster")
    Pq.writeIvfAdcIndex(emb, "cluster", dir, m = 2, subDim = 1, k = 2)
    val fs = hadoopFs(dir)
    val part = new org.apache.hadoop.fs.Path(s"$dir/codes/cluster=0")
    val aside = new org.apache.hadoop.fs.Path(s"$dir/.old-cluster=0")
    assert(fs.rename(part, aside), "test setup: aside rename failed")
    Pq.compactIvfAdcIndex(spark, dir, maxFilesPerCluster = 1000)
    assert(fs.exists(part) && !fs.exists(aside))
    assert(spark.read.parquet(s"$dir/codes").count() == 8L,
      "no coded vector may be lost across the heal")
  }

  test("IVFADC append routes a zero-norm vector to the lowest cluster, not the -1 sentinel") {
    import spark.implicits._
    import graft.llm.Pq
    val dir = java.nio.file.Files.createTempDirectory("adc-nan").toString + "/idx"
    val emb = (0L until 8L).map(i =>
      (i, Array(i.toDouble, (i * i).toDouble), i % 2 + 5)).toDF("vec_id", "embedding", "cluster")
    Pq.writeIvfAdcIndex(emb, "cluster", dir, m = 2, subDim = 1, k = 2)
    Pq.appendToIvfAdcIndex(Seq((100L, Array(0.0, 0.0))).toDF("vec_id", "embedding"), dir)
    val got = spark.read.parquet(s"$dir/codes").where($"vec_id" === 100L)
      .select($"cluster").as[Long].collect().toSeq
    assert(got == Seq(5L), s"zero-norm vector landed in $got")
  }

  test("IVFADC append refuses a codebook with a gap in a subspace's codes") {
    import spark.implicits._
    import graft.llm.Pq
    val root = java.nio.file.Files.createTempDirectory("adc-gap").toString
    val dir = root + "/idx"
    // distinct values in both subspaces: every seed keeps its code
    val emb = (0L until 12L).map(i =>
      (i, Array(i.toDouble, (i * i).toDouble), i % 2)).toDF("vec_id", "embedding", "cluster")
    Pq.writeIvfAdcIndex(emb, "cluster", dir, m = 2, subDim = 1, k = 3)
    val cb = spark.read.parquet(s"$dir/codebooks")
    assert(cb.count() == 6L, "test setup: the build lost a code")
    // drop code 1 of 0..2 in sub 0; dropping only the last code would
    // leave the codes contiguous, which decodes correctly
    cb.where(!($"sub" === 0 && $"code" === 1)).write.parquet(s"$root/gap")
    spark.read.parquet(s"$root/gap").write.mode("overwrite").parquet(s"$dir/codebooks")
    val batch = Seq((100L, Array(1.0, 1.0))).toDF("vec_id", "embedding")
    val err = intercept[Exception](Pq.appendToIvfAdcIndex(batch, dir))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("not positionally decodable")), s"got $err")
  }

  test("crash injection: LSH compaction swap heals on read from the .old aside") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lsh-crash").toString + "/idx"
    val rows = (1L to 4L).flatMap(id => (0 until 4).map(b => (id, b, s"h$id-$b")))
    rows.toDF("doc_id", "band", "bh").write.parquet(dir)
    val fs = hadoopFs(dir)
    val path = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    // crash state: appendToLshIndex died between rename-aside and rename-in
    // (published path missing, .old aside holds the pre-compaction index)
    assert(fs.rename(path, old), "test setup: aside rename failed")
    assert(!fs.exists(path))
    val got = graft.llm.Dedup.readLshIndex(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == rows.toSet, "healed read must serve the full pre-compaction index")
    assert(fs.exists(path) && !fs.exists(old), "heal must restore the published path")
  }

  test("snapshot stays within its 2-shuffle budget") {
    // "today" deliberately differs from the data's real max date: SparkEntry
    // persists its snapshot, and an identical plan here would be substituted
    // by the cached InMemoryRelation (whose printed child plan inflates the
    // Exchange count)
    val snap = graft.derive.Derive.snapshot(
      graft.core.Tables.events(spark, "/root/testdata/sf0.001"), "2024-01-29")
    val exchanges = "Exchange".r
      .findAllIn(snap.queryExecution.executedPlan.toString).size
    assert(exchanges <= 2, s"snapshot plan grew to $exchanges exchanges")
  }

  test("centroids average only the non-null embeddings of a cluster") {
    import spark.implicits._
    val emb = Seq(
      (0L, 1, Some(Seq(1.0f, 2.0f))),
      (1L, 1, Some(Seq(3.0f, 6.0f))),
      (2L, 1, None),                   // no embedding: must not pull toward zero
      (3L, 2, Some(Seq(5.0f, 5.0f)))
    ).toDF("vec_id", "label", "embedding")
    val got = graft.llm.Ann.centroids(emb).as[(Int, Seq[Double])].collect().toMap
    assert(got(1) == Seq(2.0, 4.0))
    assert(got(2) == Seq(5.0, 5.0))
  }
}
