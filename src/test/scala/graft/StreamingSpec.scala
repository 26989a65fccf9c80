package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamIngest

/** Structured-Streaming ingest wrapper: streaming the events through the
  * file source in micro-batches must converge to the same snapshot as the
  * one-shot fold, and the late-data gate must reject out-of-window rows.
  */
class StreamingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    // the watermarked day-window test needs the trailing no-data micro-batch
    // to flush append-mode windows closed by the final batch's watermark;
    // pin the behavior rather than rely on the default staying true
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    s
  }

  test("streamed micro-batches converge to the one-shot fold") {
    import spark.implicits._
    import graft.fold.{EntityFold, EntityState}
    import graft.ingest.EventTasks
    import graft.ops.TaskCodec

    val ev = graft.core.Tables.events(spark, sf)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) + 60

    // Source dir with the events split into two parquet files = two batches
    // for maxFilesPerTrigger=1.
    val srcDir = Files.createTempDirectory("graft-stream-src").toString
    val cut = ev.agg(max(col("event_id"))).head.getLong(0) / 2
    ev.filter(col("event_id") <= cut).coalesce(1).write.mode("append").parquet(srcDir)
    ev.filter(col("event_id") > cut).coalesce(1).write.mode("append").parquet(srcDir)

    val stateDir = Files.createTempDirectory("graft-stream-state").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, stateDir, numBuckets = 8)

    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // gate disabled here: the equivalence target folds ALL events; the
        // late-data gate has its own test below
        StreamIngest.runBatch(store, b, now, maxAgeDays = 10000)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    // two batches: the second folds onto records the first one wrote
    assert(store.versionCount == 2)

    val streamed = store.read().map(s => (s.eid, s.json)).collect().sortBy(_._1)
    val oneShot = EntityFold
      .applyToSnapshot(spark.emptyDataset[EntityState],
        EntityFold.wire(EventTasks.preAggregated(ev)), now)
      .map(s => (s.eid, s.json)).collect().sortBy(_._1)
    assert(streamed.length == oneShot.length && streamed.length > 0)
    // Records must be identical field-by-field (JSON key order is stable:
    // the codec writes insertion-ordered maps and both paths apply the same
    // op sequence per entity).
    streamed.zip(oneShot).foreach { case ((id1, j1), (id2, j2)) =>
      assert(id1 == id2)
      assert(TaskCodec.parseRec(j1) == TaskCodec.parseRec(j2), s"entity $id1 diverged")
    }
  }

  test("task-less entities pass through applyToSnapshot byte-identical") {
    import spark.implicits._
    import graft.fold.{EntityFold, EntityState, UpdateTask}
    import graft.ops.TaskCodec

    // Non-canonical JSON (extra whitespace): any parse/re-render would
    // normalize it, so byte-identical output proves the untouched entity
    // never went through the codec.
    val odd = """{ "rep" :  0.5 , "tags" : [ "a" , "b" ] }"""
    val snap = Seq(
      EntityState("ip", 1L, odd),
      EntityState("ip", 2L, """{"n":1}""")).toDS()
    val tasks = Seq(
      UpdateTask("ip", 2L, 0L, "t", """[["set","n",5]]""")).toDS()
    val out = EntityFold.applyToSnapshot(snap, tasks, now = 1000L)
      .collect().map(s => s.eid -> s.json).toMap
    assert(out(1L) == odd, "task-less entity was re-encoded")
    assert(TaskCodec.parseRec(out(2L))("n") == 5L, "touched entity not folded")
  }

  test("merge-on-read store rewrites only the buckets a batch touches") {
    import spark.implicits._
    import graft.fold.{EntityState, UpdateTask}
    import graft.ops.TaskCodec
    import org.apache.hadoop.fs.Path

    val root = Files.createTempDirectory("graft-mor").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 16)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(v: Int) = fs.getContentSummary(new Path(s"$root/v$v")).getLength

    // batch 0: seed 200 entities spread across all 16 buckets
    val seed = (0L until 200L).map(i =>
      UpdateTask("ip", i, 0L, "t", s"""[["set","n",$i]]"""))
    store.applyBatch(seed.toDS(), nowEpoch = 1000L)
    assert(store.read().count() == 200)

    // batch 1: touch ONE entity → exactly one bucket rewritten, tiny delta
    store.applyBatch(Seq(UpdateTask("ip", 5L, 1L, "t", """[["add","n",1]]""")).toDS(), 1001L)
    val manifest1 = scala.io.Source.fromInputStream(
      fs.open(new Path(s"$root/v1/_buckets.json")), "UTF-8").mkString
    val owned1 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(manifest1).get("buckets")
    assert(owned1 != null && owned1.size == 1,
      s"batch touching one entity owns one bucket, got $manifest1")
    assert(bytes(1) * 4 < bytes(0), s"delta v1 (${bytes(1)}B) not << full v0 (${bytes(0)}B)")
    val rec5 = TaskCodec.parseRec(store.read().filter(_.eid == 5L).head().json)
    assert(rec5("n") == 6L)
    assert(store.read().count() == 200)

    // batch 2: delete an entity — newer empty-ish bucket must shadow, not
    // resurrect, the old version's copy
    store.applyBatch(Seq(UpdateTask("ip", 7L, 2L, "t", """[["event","!DELETE"]]""")).toDS(), 1002L)
    assert(store.read().filter(_.eid == 7L).isEmpty)
    assert(store.read().count() == 199)

    // compaction folds the deltas into one full version
    assert(store.versionCount == 3)
    store.compact()
    assert(store.versionCount == 1)
    assert(store.read().count() == 199)
    assert(TaskCodec.parseRec(store.read().filter(_.eid == 5L).head().json)("n") == 6L)
  }

  test("merge-on-read auto-compaction bounds the delta chain") {
    import spark.implicits._
    import graft.fold.UpdateTask
    import graft.ops.TaskCodec

    val root = Files.createTempDirectory("graft-mor-compact").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(
      spark, root, numBuckets = 8, maxDeltas = 3)
    for (b <- 0 until 6) {
      store.applyBatch(Seq(
        UpdateTask("ip", b.toLong, b.toLong, "t", s"""[["add","n",1]]""")).toDS(), 1000L + b)
      assert(store.versionCount <= 4, s"delta chain unbounded at batch $b")
    }
    // all six entities live, each folded exactly once, across compactions
    val recs = store.read().collect().map(s => s.eid -> TaskCodec.parseRec(s.json)).toMap
    assert(recs.keySet == (0L until 6L).toSet)
    assert(recs.values.forall(_("n") == 1L))
  }

  test("random batches: merge-on-read store equals the chained pure fold") {
    import spark.implicits._
    import graft.fold.{EntityFold, EntityState, UpdateTask}
    import graft.ops.TaskCodec

    val r = new scala.util.Random(7)
    var folded = spark.emptyDataset[EntityState]
    val mor = new StreamIngest.MergeOnReadSnapshotStore(
      spark, Files.createTempDirectory("graft-eq-mor").toString,
      numBuckets = 8, maxDeltas = 2)
    for (b <- 0 until 4) {
      val tasks = (0 until 40).map { i =>
        val op = r.nextInt(4) match {
          case 0 => """[["add","n",1]]"""
          case 1 => s"""[["setmax","m",${r.nextInt(100)}]]"""
          case 2 => s"""[["add_to_set","s","v${r.nextInt(5)}"]]"""
          case 3 => """[["event","!DELETE"]]"""
        }
        UpdateTask("ip", r.nextInt(30).toLong, b * 1000L + i, "t", op)
      }
      folded = EntityFold.applyToSnapshot(folded, tasks.toDS(), 1000L + b)
      mor.applyBatch(tasks.toDS(), 1000L + b)
    }
    val a = folded.collect().map(s => s.eid -> TaskCodec.parseRec(s.json)).toMap
    val c = mor.read().collect().map(s => s.eid -> TaskCodec.parseRec(s.json)).toMap
    assert(a.keySet == c.keySet && a.nonEmpty)
    a.keySet.foreach(eid => assert(a(eid) == c(eid), s"entity $eid diverged"))
  }

  test("mapGroupsWithState counters accumulate across micro-batches") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val srcDir = Files.createTempDirectory("graft-state-src").toString
    val cut = ev.agg(max(col("event_id"))).head.getLong(0) / 2
    ev.filter(col("event_id") <= cut).coalesce(1).write.mode("append").parquet(srcDir)
    ev.filter(col("event_id") > cut).coalesce(1).write.mode("append").parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-state-ckpt").toString

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = StreamIngest.statefulCounts(stream)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("state_counts")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()

    // the final (largest) per-entity count must equal the batch totals —
    // counts grow monotonically, so max over the update-mode rows is the
    // last state
    val got = spark.sql(
      """SELECT _1 AS entity, max(_2) AS n FROM state_counts GROUP BY _1""")
      .as[(Long, Long)].collect().toMap
    val want = ev.groupBy(col("user_id")).count()
      .as[(Long, Long)].collect().toMap
    assert(want.forall { case (e, n) => got.get(e).contains(n) },
      s"state totals diverged: got=$got want=$want")
  }

  test("stateful dedup: later-batch duplicates map to the first batch's canonical") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-dedup-src").toString
    // batch 1: first sightings of x and y; batch 2: duplicates of both plus
    // a brand-new z — the duplicate of x carries a SMALLER id than batch 1's
    // canonical, proving first-SEEN (not min-id) wins across batches
    Seq((3L, "x x x"), (5L, "y y y"), (7L, "x x x")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq((2L, "x x x"), (4L, "y y y"), (6L, "z z z")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = StreamIngest.statefulDedup(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_dedup").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT _1, _2, _3 FROM stream_dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (3L, 3L, 1L), (5L, 5L, 1L), (7L, 3L, 0L),   // batch 1: 3 and 5 canonical
      (2L, 3L, 0L), (4L, 5L, 0L), (6L, 6L, 1L)),  // batch 2: 2 < 3 still a dup
      s"got $got")
  }

  test("warden filter in Hash sample mode runs unchanged on a stream") {
    // Counter mode needs an occurrence window (unsupported over unbounded
    // input); Hash mode is a pure stateless filter — the documented reason
    // it exists. The same rule chain must drive readStream with no changes.
    import graft.ingest.WardenFilter
    val srcDir = Files.createTempDirectory("graft-warden-src").toString
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("props"))
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    val rules = Seq("k = 87 ; drop", "k = 3 OR k = 5 ; sample 3", "k != 0 ; pass", "; drop")

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-warden-ckpt").toString
    val q = WardenFilter(stream, rules, sampleMode = WardenFilter.SampleMode.Hash)
      .writeStream.outputMode("append").format("memory")
      .queryName("warden_stream").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()

    val got = spark.sql("SELECT event_id FROM warden_stream")
      .collect().map(_.getLong(0)).toSet
    val want = WardenFilter(ev, rules, sampleMode = WardenFilter.SampleMode.Hash)
      .collect().map(_.getLong(0)).toSet
    assert(got == want, s"stream/batch diverged: ${got.size} vs ${want.size} rows")
  }

  test("streaming exact dedup drops cross-batch duplicate texts") {
    // exact dedup composes with Structured Streaming as stateful
    // dropDuplicates on the digest: the fingerprint state carries across
    // micro-batches, so a copy arriving hours later is still dropped.
    // (Unbounded state without a watermark — a real deployment bounds it
    // with withWatermark on an arrival-time column, same operator.)
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-dedup-src").toString
    val b1 = (1L to 10L).map(i => (i, s"text body $i"))
    val b2 = (11L to 15L).map(i => (i, s"text body ${i - 10}")) ++ // copies
      (16L to 20L).map(i => (i, s"text body $i"))                  // fresh
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    val ckpt = Files.createTempDirectory("graft-dedup-ckpt").toString
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .withColumn("fp", md5(col("text")))
      .dropDuplicates("fp")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()

    val kept = spark.sql("SELECT text FROM stream_dedup")
      .collect().map(_.getString(0))
    assert(kept.length == 15, s"expected 15 survivors, got ${kept.length}")
    assert(kept.distinct.length == 15, "a duplicate text survived the stateful dedup")
  }

  test("watermarked day windows emit exactly the watermark-closed buckets, equal to batch") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.core.Tables.events(spark, sf)
    val srcDir = Files.createTempDirectory("graft-win-src").toString
    // two files so the source takes two micro-batches and the watermark
    // actually advances between them
    ev.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    ev.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema(ev.schema).parquet(srcDir)
    val q = StreamIngest.dailyCounts(stream).writeStream
      .format("memory").queryName("win_counts").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft-win-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("SELECT entity, d, n, conns FROM win_counts")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
      .toSet
    // append mode emits a window only once the watermark (max event time −
    // 7 d) passes its END; the still-open tail stays in state. The emitted
    // set must equal the batch day-counts restricted to closed windows.
    val wmCut = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) - 7 * 86400L
    val want = ev
      .groupBy(col("user_id").as("entity"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value")).cast("long")).as("conns"))
      .filter(unix_timestamp(date_add(col("d"), 1).cast("timestamp")) <= wmCut)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty, "fixture too short: no window closes under the 7-day watermark")
    assert(got === want)
  }

  test("start() wires the file source to the snapshot store end-to-end") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) + 60
    val srcDir = Files.createTempDirectory("graft-start-src").toString
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    val stateDir = Files.createTempDirectory("graft-start-state").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, stateDir, numBuckets = 8)
    val q = StreamIngest.start(spark, srcDir, store,
      Files.createTempDirectory("graft-start-ckpt").toString, () => now)
    q.processAllAvailable()
    q.stop()
    // the 7-day gate admits only the newest slice, but the store must exist
    // and hold folded records
    assert(store.read().count() > 0)
  }

  test("maxFilesPerTrigger backpressure drains a backlog in bounded batches") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) + 60
    val srcDir = Files.createTempDirectory("graft-bp-src").toString
    val cut = ev.agg(max(col("event_id"))).head.getLong(0)
    // backlog of 3 files before the query starts
    ev.filter(col("event_id") % 3 === 0).coalesce(1).write.mode("append").parquet(srcDir)
    ev.filter(col("event_id") % 3 === 1).coalesce(1).write.mode("append").parquet(srcDir)
    ev.filter(col("event_id") % 3 === 2).coalesce(1).write.mode("append").parquet(srcDir)
    val store = new StreamIngest.MergeOnReadSnapshotStore(
      spark, Files.createTempDirectory("graft-bp-state").toString, numBuckets = 8)
    val q = StreamIngest.start(spark, srcDir, store,
      Files.createTempDirectory("graft-bp-ckpt").toString, () => now,
      maxFilesPerTrigger = Some(1))
    q.processAllAvailable()
    q.stop()
    // admission control: 3 bounded batches, not one catch-up batch
    assert(store.versionCount == 3, s"expected 3 delta versions, got ${store.versionCount}")
    assert(store.read().count() > 0)
  }

  test("batch watchdog retries transient failures, propagates persistent ones") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf).limit(50)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) + 60
    val inner = new StreamIngest.MergeOnReadSnapshotStore(
      spark, Files.createTempDirectory("graft-wd-state").toString, numBuckets = 4)
    var calls = 0
    val flaky = new StreamIngest.EntityStore {
      override def read() = inner.read()
      override def applyBatch(t: org.apache.spark.sql.Dataset[graft.fold.UpdateTask],
                              now: Long): Unit = {
        calls += 1
        if (calls == 1) throw new RuntimeException("transient store hiccup")
        inner.applyBatch(t, now)
      }
    }
    StreamIngest.runBatchWithRetry(flaky, ev, now, maxAgeDays = 10000, maxAttempts = 3)
    assert(calls == 2 && inner.read().count() > 0)
    // a persistently-failing batch must surface after maxAttempts
    calls = 0
    val dead = new StreamIngest.EntityStore {
      override def read() = inner.read()
      override def applyBatch(t: org.apache.spark.sql.Dataset[graft.fold.UpdateTask],
                              now: Long): Unit = { calls += 1; throw new RuntimeException("down") }
    }
    intercept[RuntimeException] {
      StreamIngest.runBatchWithRetry(dead, ev, now, maxAgeDays = 10000, maxAttempts = 3)
    }
    assert(calls == 3)
  }

  test("event-time state TTL evicts idle entities with a tombstone") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
    val srcDir = Files.createTempDirectory("graft-ttl-src").toString
    // file 1: the full history; files 2 and 3: lone entity-0 heartbeats that
    // push the watermark 30/31 days ahead so every other entity's state
    // (TTL 3 days) times out — timeouts fire one batch after the watermark
    // passes them, hence the third file.
    ev.coalesce(1).write.mode("append").parquet(srcDir)
    def heartbeat(epoch: Long) = ev.limit(1)
      .withColumn("user_id", lit(0L))
      .withColumn("ts", timestamp_seconds(lit(epoch)).cast("timestamp"))
    heartbeat(maxTs + 30L * 86400).coalesce(1).write.mode("append").parquet(srcDir)
    heartbeat(maxTs + 31L * 86400).coalesce(1).write.mode("append").parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-ttl-ckpt").toString

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = StreamIngest.statefulCountsWithTtl(stream, ttlSecs = 3L * 86400)
      .writeStream.outputMode("append").format("memory")
      .queryName("ttl_counts").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()

    val tombstoned = spark.sql("SELECT DISTINCT _1 FROM ttl_counts WHERE _2 = -1")
      .as[Long].collect().toSet
    val all = ev.select(col("user_id")).distinct().as[Long].collect().toSet
    // every idle entity evicted; the heartbeating entity 0 survives
    assert(tombstoned == all - 0L, s"tombstoned=$tombstoned")
  }

  test("reactivated entity restarts its counter after the TTL tombstone") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val maxTs = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
    val srcDir = Files.createTempDirectory("graft-ttl-react-src").toString
    def one(uid: Long, epoch: Long) = ev.limit(1)
      .withColumn("user_id", lit(uid))
      .withColumn("ts", timestamp_seconds(lit(epoch)).cast("timestamp"))
    // batch 1: entity 42 active (2 events). batches 2+3: entity-0 heartbeats
    // advance the watermark past 42's 3-day TTL (timeout fires one batch
    // after the watermark passes it). batch 4: 42 REACTIVATES.
    one(42L, maxTs).union(one(42L, maxTs + 60)).coalesce(1)
      .write.mode("append").parquet(srcDir)
    one(0L, maxTs + 30L * 86400).coalesce(1).write.mode("append").parquet(srcDir)
    one(0L, maxTs + 31L * 86400).coalesce(1).write.mode("append").parquet(srcDir)
    one(42L, maxTs + 32L * 86400).coalesce(1).write.mode("append").parquet(srcDir)
    val ckpt = Files.createTempDirectory("graft-ttl-react-ckpt").toString

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = StreamIngest.statefulCountsWithTtl(stream, ttlSecs = 3L * 86400)
      .writeStream.outputMode("append").format("memory")
      .queryName("ttl_react").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()

    val rows42 = spark.sql("SELECT _2, _3 FROM ttl_react WHERE _1 = 42 ORDER BY _3, _2")
      .as[(Long, Long)].collect().toList
    // lifetime 1: cumulative count 2, then the tombstone; lifetime 2 (after
    // reactivation): counter restarts at 1 — the !DELETE => fresh-record
    // semantics documented on statefulCountsWithTtl
    assert(rows42.contains((2L, maxTs + 60)), s"rows42=$rows42")
    assert(rows42.contains((-1L, maxTs + 60)), s"rows42=$rows42")
    assert(rows42.contains((1L, maxTs + 32L * 86400)), s"rows42=$rows42")
    assert(!rows42.exists(r => r._1 > 1 && r._2 == maxTs + 32L * 86400),
      s"reactivated lifetime must restart at 1: $rows42")
  }

  test("late/future events are rejected by the validation gate") {
    val ev = graft.core.Tables.events(spark, sf)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0)
    val total = ev.count()
    // window covering everything passes all rows
    assert(StreamIngest.validate(ev, now, maxAgeDays = 10000).count() == total)
    // 1-day window rejects old rows but keeps the newest
    val kept = StreamIngest.validate(ev, now, maxAgeDays = 1).count()
    assert(kept > 0 && kept < total)
    // a "now" far in the past makes everything future-skewed => all rejected
    assert(StreamIngest.validate(ev, now - 100 * 86400L, maxAgeDays = 1).count() == 0)
  }

  test("two-lane admission: priority lands in batch 0, normal drains one file per batch") {
    import spark.implicits._
    val normalDir = Files.createTempDirectory("graft-2lane-n").toString
    val priorityDir = Files.createTempDirectory("graft-2lane-p").toString
    // 3 normal files, 2 priority files, all present before the query starts
    Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)).foreach(ids =>
      ids.toDF("user_id").coalesce(1).write.mode("append").parquet(normalDir))
    Seq(Seq(100L), Seq(101L, 102L)).foreach(ids =>
      ids.toDF("user_id").coalesce(1).write.mode("append").parquet(priorityDir))
    val sink = Files.createTempDirectory("graft-2lane-sink").toString
    val q = StreamIngest.startTwoLane(spark, normalDir, priorityDir,
      spark.read.parquet(normalDir).schema,
      Files.createTempDirectory("graft-2lane-ck").toString, sink,
      normalMaxFiles = 1)
    q.awaitTermination()
    val out = spark.read.parquet(sink)
      .select("lane", "batch_id", "user_id").as[(String, Long, Long)].collect()
    val pri = out.filter(_._1 == "priority")
    val norm = out.filter(_._1 == "normal")
    // the whole priority backlog is serviced in the first micro-batch
    assert(pri.length == 3 && pri.forall(_._2 == 0L))
    // the bounded normal lane spans exactly one batch per file, 0..2
    assert(norm.length == 5)
    assert(norm.map(_._2).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
    // nothing lost or duplicated across the union
    assert(out.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 100L, 101L, 102L))
  }

  test("merge-on-read replay ledger: idempotent folds, ledger survives compaction") {
    import spark.implicits._
    import graft.fold.UpdateTask
    import graft.ops.TaskCodec
    val root = Files.createTempDirectory("graft-mor-txn").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4)
    def task(eid: Long) = UpdateTask("ip", eid, eid, "t", """[["add","total",1]]""")
    store.applyBatchIdempotent(Seq(task(1), task(2)).toDS(), nowEpoch = 1000L, batchId = 0)
    assert(store.committedBatchIds == Set(0L))
    val after0 = store.read().collect().map(s => s.eid -> s.json).toMap
    // crash-replay of batch 0 — no re-fold, no new version
    store.applyBatchIdempotent(Seq(task(1), task(2)).toDS(), nowEpoch = 1000L, batchId = 0)
    assert(store.committedBatchIds == Set(0L))
    assert(store.versionCount == 1)
    assert(store.read().collect().map(s => s.eid -> s.json).toMap == after0)
    store.applyBatchIdempotent(Seq(task(1)).toDS(), nowEpoch = 1000L, batchId = 1)
    // a half-written version (no manifest) must stay invisible to readers
    Files.createDirectories(java.nio.file.Paths.get(root, "v99"))
    assert(store.versionCount == 2)
    // compaction rewrites the snapshot but carries the ledger forward
    store.compact()
    assert(store.committedBatchIds == Set(0L, 1L))
    store.applyBatchIdempotent(Seq(task(1)).toDS(), nowEpoch = 1000L, batchId = 1)
    val rec1 = TaskCodec.parseRec(store.read().collect().find(_.eid == 1L).get.json)
    assert(rec1("total").toString == "2") // batch 1 folded once, replay ignored
  }

  test("merge-on-read: delete leaves a tombstone, compaction drops it, re-create starts fresh") {
    import spark.implicits._
    import graft.fold.UpdateTask
    import graft.ops.TaskCodec
    val root = Files.createTempDirectory("graft-mor-tomb").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4)
    def rows(v: Int) = spark.read.parquet(s"$root/v$v")
    store.applyBatch(Seq(
      UpdateTask("ip", 1L, 0L, "t", """[["add","n",5]]"""),
      UpdateTask("ip", 2L, 0L, "t", """[["add","n",7]]""")).toDS(), 1000L)
    store.applyBatch(Seq(UpdateTask("ip", 1L, 1L, "t", """[["event","!DELETE"]]""")).toDS(), 1001L)
    // the delta holds only the deleted key, as a tombstone
    assert(rows(1).collect().map(r => (r.getAs[Long]("eid"), r.getAs[String]("json"))).toSeq ==
      Seq((1L, null)))
    assert(store.read().collect().map(_.eid).toSet == Set(2L))
    store.compact()
    assert(store.versionCount == 1)
    // the base keeps live records only
    assert(rows(2).count() == 1 && rows(2).where($"json".isNull).isEmpty)
    store.applyBatch(Seq(UpdateTask("ip", 1L, 2L, "t", """[["add","n",1]]""")).toDS(), 1002L)
    val recs = store.read().collect().map(s => s.eid -> TaskCodec.parseRec(s.json)).toMap
    assert(recs.keySet == Set(1L, 2L))
    assert(recs(1L)("n") == 1L, "re-created record carried state from before its delete")
    assert(recs(2L)("n") == 7L)
    store.compact()
    assert(store.read().collect().map(s => s.eid -> TaskCodec.parseRec(s.json)).toMap == recs)
  }

  test("merge-on-read: a batch that compacts writes a base without its tombstones") {
    import spark.implicits._
    import graft.fold.UpdateTask
    val root = Files.createTempDirectory("graft-mor-fused").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4, maxDeltas = 2)
    store.applyBatch((0L until 10L).map(i =>
      UpdateTask("ip", i, 0L, "t", """[["add","n",1]]""")).toDS(), 1000L)
    store.applyBatch(Seq(UpdateTask("ip", 1L, 1L, "t", """[["add","n",1]]""")).toDS(), 1001L)
    assert(store.versionCount == 2)
    // the third version would exceed maxDeltas: it is written as the base
    store.applyBatch(Seq(UpdateTask("ip", 2L, 2L, "t", """[["event","!DELETE"]]"""),
      UpdateTask("ip", 10L, 2L, "t", """[["add","n",1]]""")).toDS(), 1002L)
    assert(store.versionCount == 1)
    val base = spark.read.parquet(s"$root/v2")
    assert(base.count() == 10 && base.where($"json".isNull).isEmpty)
    assert(store.read().collect().map(_.eid).toSet == (0L to 10L).toSet - 2L)
  }

  test("merge-on-read: replaying a committed batch after a key-level delta changes nothing") {
    import spark.implicits._
    import graft.fold.UpdateTask
    val root = Files.createTempDirectory("graft-mor-replay").toString
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4)
    val seed = (0L until 20L).map(i => UpdateTask("ip", i, 0L, "t", """[["add","n",1]]"""))
    store.applyBatchIdempotent(seed.toDS(), nowEpoch = 1000L, batchId = 0)
    val batch1 = Seq(UpdateTask("ip", 3L, 1L, "t", """[["add","n",1]]"""),
      UpdateTask("ip", 4L, 1L, "t", """[["event","!DELETE"]]"""))
    store.applyBatchIdempotent(batch1.toDS(), nowEpoch = 1001L, batchId = 1)
    assert(spark.read.parquet(s"$root/v1").count() == 2, "delta is not key-level")
    val before = store.read().collect().map(s => s.eid -> s.json).toMap
    assert(store.versionCount == 2 && before.size == 19)
    store.applyBatchIdempotent(batch1.toDS(), nowEpoch = 1002L, batchId = 1)
    assert(store.versionCount == 2)
    assert(store.read().collect().map(s => s.eid -> s.json).toMap == before)
  }

  test("merge-on-read: a delta left behind by a compaction cannot resurrect a deleted entity") {
    import spark.implicits._
    import graft.fold.UpdateTask
    import java.nio.file.Paths
    val root = Files.createTempDirectory("graft-mor-crash").toString
    val keep = Files.createTempDirectory("graft-mor-crash-keep")
    val store = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4)
    store.applyBatch(Seq(UpdateTask("ip", 1L, 0L, "t", """[["add","n",1]]"""),
      UpdateTask("ip", 2L, 0L, "t", """[["add","n",1]]""")).toDS(), 1000L)
    store.applyBatch(Seq(UpdateTask("ip", 1L, 1L, "t", """[["event","!DELETE"]]""")).toDS(), 1001L)
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      Files.walk(from).forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    // v0 holds entity 1 live; put it back after the compaction deleted it,
    // as a crash between the base's commit and the deletion would leave it
    copyTree(Paths.get(root, "v0"), keep.resolve("v0"))
    store.compact()
    copyTree(keep.resolve("v0"), Paths.get(root, "v0"))
    val fresh = new StreamIngest.MergeOnReadSnapshotStore(spark, root, numBuckets = 4)
    assert(fresh.versionCount == 1)
    assert(fresh.read().collect().map(_.eid).toSet == Set(2L))
    fresh.applyBatch(Seq(UpdateTask("ip", 2L, 2L, "t", """[["add","n",1]]""")).toDS(), 1002L)
    assert(fresh.read().collect().map(_.eid).toSet == Set(2L))
    fresh.compact()
    assert(fresh.read().collect().map(_.eid).toSet == Set(2L))
    assert(!Files.exists(Paths.get(root, "v0")), "compaction left the stale version behind")
  }

  test("supervisor restarts a dead query; replayed batch folds exactly once") {
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val now = ev.agg(max(unix_timestamp(col("ts")))).head.getLong(0) + 60
    val src = Files.createTempDirectory("graft-recov-src").toString
    Seq(0L, 1L, 2L).foreach(g =>
      ev.filter(col("event_id") % 3 === g).coalesce(1).write.mode("append").parquet(src))
    val store = new StreamIngest.MergeOnReadSnapshotStore(
      spark, Files.createTempDirectory("graft-recov-store").toString, numBuckets = 8)
    val ck = Files.createTempDirectory("graft-recov-ck").toString
    val marker = Files.createTempDirectory("graft-recov-flag").resolve("failed")
    val schema = ev.schema
    val restarts = StreamIngest.superviseRestarts(3) { () =>
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
          StreamIngest.runBatchExactlyOnce(store, b, now, bid, maxAgeDays = 10000)
          if (bid == 1 && !Files.exists(marker)) {
            Files.createFile(marker)
            throw new RuntimeException("injected death after batch-1 commit")
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    assert(restarts == 1)
    // one ledger entry per batch; the replay of batch 1 minted no version
    assert(store.committedBatchIds == Set(0L, 1L, 2L) && store.versionCount == 3)
    // final state equals the one-shot fold: the crash was invisible.
    // Compare the PROJECTED record (conns rounded, like the oracle row): the
    // double `conns` sums accumulate in batch-split order, so the raw values
    // differ from the one-shot fold by float-addition reassociation — the
    // rounding at the query edge is exactly where that is absorbed.
    import graft.fold.{EntityFold, EntityState}
    import graft.ingest.EventTasks
    import graft.ops.TaskCodec
    def projected(states: Array[EntityState]) = states.map { s =>
      val f = EventTasks.projectFolded(s.eid, TaskCodec.parseRec(s.json))
      f.copy(conns = math.round(f.conns * 100).toDouble / 100)
    }.sortBy(_.entity).toSeq
    val oneShot = projected(EntityFold.applyToSnapshot(spark.emptyDataset[EntityState],
        EntityFold.wire(EventTasks.preAggregated(ev)), now).collect())
    val streamed = projected(store.read().collect())
    assert(streamed.nonEmpty && streamed == oneShot)
  }
}
