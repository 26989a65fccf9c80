package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.fold.{EntityFold, EntityState, UpdateTask}
import graft.ingest.EventTasks

/** Structured-Streaming wrapper over the batch fold (SURVEY §2.13): the
  * reference's filer-watcher + RabbitMQ + worker pipeline collapses to
  * `readStream → validate → foreachBatch(store.applyBatch)`.
  *
  *  - Source: file stream (the reference's `read_dir` maildir claim protocol,
  *    `warden_receiver.py:50–172`, is exactly what Spark's file source +
  *    checkpointing gives for free).
  *  - Late/future data: events older than `maxAgeDays` or more than 5 min in
  *    the future are rejected (`warden_receiver.py:444–457,510–517`); the
  *    watermark bounds any event-time state the same way.
  *  - State: the entity records live in a [[MergeOnReadSnapshotStore]];
  *    each micro-batch folds its tasks onto the records it touches and
  *    writes them as one manifested version. The exactly-once story is
  *    [[MergeOnReadSnapshotStore.applyBatchIdempotent]]: the manifest ledger
  *    records each committed batch id, so a batch replayed from the source
  *    checkpoint folds once, mirroring the reference's ack-after-write
  *    (`update_manager.py:452–457`).
  */
object StreamIngest {

  /** Timestamp validation (`warden_receiver.py:510–517`): drop events beyond
    * the reception window or from the future (>5 min skew).
    */
  def validate(batch: DataFrame, nowEpoch: Long, maxAgeDays: Int = 7): DataFrame =
    batch.filter(
      unix_timestamp(col("ts")) > nowEpoch - maxAgeDays * 86400L &&
        unix_timestamp(col("ts")) <= nowEpoch + 300L)

  /** Day-tumbling windowed event counters with a watermark — the §2.13
    * "calendar-day buckets relative to event time" shape as a genuine
    * Structured-Streaming aggregation (reference `event_counter.py:77–105`
    * recomputes the same per-day vector from stored events; here the stream
    * maintains it incrementally). The 7-day watermark mirrors
    * `max_event_reception_age`: state for a day window is dropped once the
    * watermark passes its end, so event-time state is bounded by
    * |entities| × 7 windows regardless of stream length. In append output
    * mode a window emits exactly once, when the watermark closes it —
    * downstream gets immutable per-(entity, day) rows.
    */
  def dailyCounts(events: DataFrame, watermark: String = "7 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id").as("entity"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sum(floor(col("value")).cast("long")).as("conns"))
      .select(col("entity"), to_date(col("w").getField("start")).as("d"),
        col("n"), col("conns"))

  /** A persisted entity snapshot that a micro-batch of tasks folds onto. */
  trait EntityStore {
    def read(): Dataset[EntityState]
    /** Fold one batch of tasks onto the stored snapshot and persist. */
    def applyBatch(tasks: Dataset[UpdateTask], nowEpoch: Long): Unit
  }

  /** Reads and writes the merge-on-read manifests. */
  private val manifestJson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** One row of the merge-on-read store's merge exchange: a stored row
    * (`kind` 0, from version `version`; `json` null marks a tombstone) or a
    * batch task (`kind` 1, with `seq`, `src` and `ops`).
    */
  private[streaming] final case class MergeRow(bucket: Int, etype: String, eid: Long, kind: Int,
                                               version: Long, json: String, seq: Long,
                                               src: String, ops: String)

  /** A row as the merge-on-read store keeps it; `json` null is a tombstone. */
  private[streaming] final case class StoredRow(bucket: Int, etype: String, eid: Long,
                                                json: String)

  /** Merge one partition of [[MergeRow]]s sorted by (bucket, etype, eid,
    * kind, version): each key's run is its stored rows, oldest version
    * first, then its tasks, which fold onto its newest stored row. For a
    * delta, a key yields its folded record, or a tombstone when the fold
    * deletes a live record, and a key without tasks yields nothing; for a
    * `base`, every key yields its live record, if it has one.
    */
  private def mergeRuns(rows: Iterator[MergeRow], now: Long,
                        base: Boolean): Iterator[StoredRow] = {
    val in = rows.buffered
    new Iterator[Option[StoredRow]] {
      def hasNext: Boolean = in.hasNext
      def next(): Option[StoredRow] = {
        val head = in.head
        var live: Option[String] = None
        val tasks = scala.collection.mutable.ArrayBuffer.empty[UpdateTask]
        while (in.hasNext && in.head.eid == head.eid && in.head.etype == head.etype) {
          val r = in.next()
          if (r.kind == 0) live = Option(r.json)
          else tasks += UpdateTask(r.etype, r.eid, r.seq, r.src, r.ops)
        }
        val out =
          if (tasks.isEmpty) { if (base) live else None }
          else EntityFold.foldRecord(live, tasks.iterator, now, head.eid) match {
            case None if live.isDefined && !base => Some(null) // tombstone
            case folded => folded
          }
        out.map(StoredRow(head.bucket, head.etype, head.eid, _))
      }
    }.flatten
  }

  /** Merge-on-read snapshot store: a micro-batch writes only the records it
    * changed. Entities hash into `numBuckets` buckets; a delta version holds
    * the folded record of each key the batch's tasks touch, plus a
    * tombstone row (`json` null) for each live record the fold deleted, so
    * per-batch write cost is O(touched entities), not O(snapshot). Reads
    * keep the newest row per `(etype, eid)` across the live versions and
    * drop tombstones. `compact()` folds the live versions into one base
    * version without tombstones and drops the rest (the read-amplification
    * ceiling).
    *
    * An apply runs one exchange: the touched buckets' stored rows and the
    * batch's tasks, repartitioned by bucket and sorted by key, with each
    * key's run folded in `mapPartitions`. Compaction resolves newest-wins in
    * the same single bucket exchange.
    *
    * Layout: `root/v<n>/bucket=<b>/part-....parquet` (zstd pages, one file
    * per bucket, sorted by `(etype, eid)` so parquet min/max zone maps prune
    * subnet/range scans) + `root/v<n>/_buckets.json`, the manifest
    * `{"buckets":[...],"batches":[...],"base":...}`: the buckets the version
    * wrote, the micro-batch ids it committed, and whether it is a base. A
    * base hides every older version, so a compaction that dies before
    * deleting what it absorbed cannot bring a deleted record back.
    *
    * @param maxDeltas if > 0, a batch that would grow the live chain past
    *                  this many versions is written as a base instead of a
    *                  delta (the compaction rides the batch's exchange), so
    *                  reads scan at most `maxDeltas` version directories —
    *                  bounded read amplification under a long-running
    *                  micro-batch stream.
    */
  final class MergeOnReadSnapshotStore(spark: SparkSession, root: String,
                                       numBuckets: Int = 64,
                                       maxDeltas: Int = 0) extends EntityStore {
    import spark.implicits._
    require(numBuckets > 0)

    private def fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def versions: Seq[Long] = {
      val path = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).toSeq
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toLong)
        .filter(v => fs.exists(manifestPath(v))) // manifest = commit record
        .sorted
    }

    private def manifestPath(v: Long) =
      new org.apache.hadoop.fs.Path(s"$root/v$v/_buckets.json")

    /** A version's manifest, its COMMIT RECORD: `versions` only lists
      * directories whose manifest exists, so a version that crashed between
      * the parquet write and the manifest write is invisible to readers and
      * healed by the retry's overwrite. `batches` carries the micro-batch
      * ids this version (or, for a base, its absorbed ancestors) committed —
      * the idempotent-replay ledger.
      */
    private case class Manifest(buckets: Seq[Int], batches: Seq[Long], base: Boolean)

    /** Per-instance parse cache: a manifest is immutable once written, so
      * each version's file is opened and parsed at most once per store
      * instance (on an object store every open is a metadata round-trip).
      * Version numbers are never reused (`next` is strictly increasing,
      * compaction continues past the deleted range), so entries can't go
      * stale; `compact()` still drops the absorbed ids for hygiene.
      */
    private val manifestCache =
      new java.util.concurrent.ConcurrentHashMap[Long, Manifest]()

    private def readManifest(v: Long): Manifest =
      manifestCache.computeIfAbsent(v, _ => {
        val in = fs.open(manifestPath(v))
        val node = try manifestJson.readTree(in) finally in.close()
        import scala.jdk.CollectionConverters._
        def longs(field: String) = node.path(field).elements().asScala.map(_.asLong()).toSeq
        Manifest(longs("buckets").map(_.toInt), longs("batches"), node.path("base").asBoolean(false))
      })

    private def writeManifest(v: Long, m: Manifest): Unit = {
      val node = manifestJson.createObjectNode()
      val buckets = node.putArray("buckets")
      m.buckets.sorted.foreach(b => buckets.add(b))
      val batches = node.putArray("batches")
      m.batches.sorted.foreach(b => batches.add(b))
      node.put("base", m.base)
      val out = fs.create(manifestPath(v), true)
      try out.write(manifestJson.writeValueAsBytes(node))
      finally out.close()
    }

    /** The versions a reader sees: the newest base and every version after
      * it (all of `vs` before the first compaction).
      */
    private def live(vs: Seq[Long]): Seq[Long] =
      vs.drop(math.max(0, vs.lastIndexWhere(readManifest(_).base)))

    /** Micro-batch ids committed into this store (carried forward through
      * compaction) — the replay-dedup ledger of [[applyBatchIdempotent]]. */
    def committedBatchIds: Set[Long] =
      versions.flatMap(v => readManifest(v).batches).toSet

    private val fileSchema = org.apache.spark.sql.Encoders.product[EntityState].schema
      .add("bucket", org.apache.spark.sql.types.IntegerType)

    private def bucketCol(etype: org.apache.spark.sql.Column,
                          eid: org.apache.spark.sql.Column) =
      pmod(hash(etype, eid), lit(numBuckets))

    /** The stored rows of versions `vs` as merge rows, scanning only the
      * `bucket=` directories in `buckets` when given. The version comes
      * from each file's path, not a literal, so the plan of a chain of a
      * given length is the same for every batch and its generated code is
      * reused.
      */
    private def stored(vs: Seq[Long], buckets: Option[Set[Int]]): Dataset[MergeRow] =
      vs.map { v =>
        val all = spark.read.schema(fileSchema)
          .option("basePath", s"$root/v$v")
          .parquet(s"$root/v$v")
        buckets.fold(all)(bs => all.where(col("bucket").isin(bs.toSeq.map(Integer.valueOf): _*)))
          .select(col("bucket"), col("etype"), col("eid"), lit(0).as("kind"),
            regexp_extract(col("_metadata.file_path"), "/v(\\d+)/bucket=", 1).cast("long")
              .as("version"),
            col("json"), lit(0L).as("seq"), lit(null).cast("string").as("src"),
            lit(null).cast("string").as("ops"))
          .as[MergeRow]
      }.reduceOption(_ union _).getOrElse(spark.emptyDataset[MergeRow])

    /** The store's one exchange: co-locate each bucket, sort each key's run
      * and fold it with [[mergeRuns]]. The chain's small files would each
      * make a map task, so they are coalesced first; the explicit partition
      * count keeps adaptive execution from folding all buckets into one
      * reduce task.
      */
    private def merge(rows: Dataset[MergeRow], now: Long, base: Boolean): Dataset[StoredRow] =
      rows.coalesce(spark.sparkContext.defaultParallelism)
        .repartition(numBuckets, col("bucket"))
        .sortWithinPartitions("bucket", "etype", "eid", "kind", "version")
        .mapPartitions(mergeRuns(_, now, base))

    /** Write `rows` as version `v`: one file per bucket, key-sorted, with
      * zstd pages, because the records are JSON text, which zstd shrinks
      * far more than the snappy default.
      */
    private def writeVersion(rows: Dataset[StoredRow], v: Long): Unit =
      rows.sortWithinPartitions("bucket", "etype", "eid")
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("bucket").parquet(s"$root/v$v")

    override def read(): Dataset[EntityState] = {
      val vs = live(versions)
      // one version holds one row per key: nothing to merge
      val rows = if (vs.size <= 1) stored(vs, None).toDF()
        else merge(stored(vs, None), 0L, base = true).toDF()
      rows.where(col("json").isNotNull).select("etype", "eid", "json").as[EntityState]
    }

    override def applyBatch(tasks: Dataset[UpdateTask], nowEpoch: Long): Unit =
      applyInternal(tasks, nowEpoch, Seq.empty)

    /** Exactly-once variant for streaming crash-replay: a `batchId` already
      * in the committed ledger returns without touching storage, so the replay
      * of a batch that committed before the streaming checkpoint recorded
      * it cannot double-fold. The ledger rides the per-version manifest
      * (the store's existing commit point — a version is invisible until
      * its manifest lands) and survives compaction, which carries absorbed
      * ids forward. A batch whose task set is EMPTY records no id (there is
      * no version to record it on); its replay is a no-op by vacuity.
      */
    def applyBatchIdempotent(tasks: Dataset[UpdateTask], nowEpoch: Long,
                             batchId: Long): Unit =
      if (!committedBatchIds.contains(batchId))
        applyInternal(tasks, nowEpoch, Seq(batchId))

    private def applyInternal(tasks: Dataset[UpdateTask], nowEpoch: Long,
                              batchIds: Seq[Long]): Unit = {
      // One directory listing per batch (the store is single-writer by
      // contract, so the listing can't change under us mid-batch).
      val vs = versions
      val keyed = tasks.select(bucketCol(col("etype"), col("eid")).as("bucket"), col("etype"),
        col("eid"), lit(1).as("kind"), lit(0L).as("version"), lit(null).cast("string").as("json"),
        col("seq"), col("src"), col("ops")).as[MergeRow]
      // The task set is read twice (bucket discovery + the fold): pin it for
      // the batch so a streaming source isn't re-scanned.
      keyed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Touched-bucket set: one pass, no shuffle (≤ numBuckets ints a partition).
        val touched = keyed.select("bucket").as[Int]
          .mapPartitions(_.toSet.iterator).collect().toSet
        if (touched.isEmpty) return
        val chain = live(vs)
        val next = vs.lastOption.getOrElse(-1L) + 1
        // A batch that would grow the chain past maxDeltas writes a base
        // instead of a delta: the compaction rides the batch's own exchange.
        val base = maxDeltas > 0 && chain.size + 1 > maxDeltas
        val rows = stored(chain, if (base) None else Some(touched)).union(keyed)
        writeVersion(merge(rows, nowEpoch, base), next)
        if (base) commitBase(next, vs, batchIds)
        else writeManifest(next, Manifest(touched.toSeq, batchIds, base = false))
      } finally keyed.unpersist()
    }

    /** Rewrite the live snapshot as one base version and drop every older
      * version — bounds read amplification after many small batches.
      */
    def compact(): Unit = {
      val olds = versions
      if (olds.isEmpty) return
      val next = olds.last + 1
      writeVersion(merge(stored(live(olds), None), 0L, base = true), next)
      commitBase(next, olds, Seq.empty)
    }

    /** Commit version `next` as the base that absorbs `olds`, then delete
      * them. Their batch ids ride along, so the replay ledger survives.
      */
    private def commitBase(next: Long, olds: Seq[Long], batchIds: Seq[Long]): Unit = {
      val absorbed = olds.flatMap(v => readManifest(v).batches) ++ batchIds
      writeManifest(next, Manifest(0 until numBuckets, absorbed.distinct, base = true))
      olds.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/v$v"), true)
        manifestCache.remove(v)
      }
    }

    /** Live-version count since the last compaction (read-amp telemetry). */
    def versionCount: Int = live(versions).size
  }

  /** One micro-batch: validate → derive tasks → fold onto the snapshot. */
  def runBatch(store: EntityStore, batch: DataFrame, nowEpoch: Long,
               maxAgeDays: Int = 7): Unit =
    store.applyBatch(deriveBatchTasks(batch, nowEpoch, maxAgeDays), nowEpoch)

  /** Streaming-native stateful counters via `mapGroupsWithState` — the
    * `flatMapGroupsWithState` pattern SURVEY §2.13 maps NERD's per-entity
    * worker state onto: the shuffle keys by entity (the reference's
    * hash-routing), state is the running (total, last_activity) pair, and
    * `GroupStateTimeout` carries the `_ttl` eviction semantics. This is the
    * ingest-critical-subset alternative to the snapshot-rebuild path; the
    * full record stays on the batch fold (state size, SURVEY §7.3).
    */
  def statefulCounts(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]):
      org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val keyed = events
      .selectExpr("user_id", "cast(floor(unix_timestamp(ts)) as long) as epoch")
      .as[(Long, Long)]
      .groupByKey(_._1)
    keyed.mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
      (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
        val (prevN, prevLast) = state.getOption.getOrElse((0L, 0L))
        var n = prevN
        var last = prevLast
        rows.foreach { case (_, ep) => n += 1; last = math.max(last, ep) }
        state.update((n, last))
        (uid, n, last)
    }
  }

  /** Event-time state TTL (SURVEY §2.13 state-TTL row): the reference's
    * `_ttl`-token eviction (`cleaner.py:204–241` — all tokens expired ⇒
    * `!DELETE` the record) expressed as a NATIVE streaming state timeout
    * instead of a daily batch sweep. Per-entity counter state expires
    * `ttlSecs` after the entity's last event-time activity; a timed-out
    * group emits one tombstone row `(entity, -1, lastSeen)` — the `!DELETE`
    * analog — and drops its state, bounding state size by the active-entity
    * set, which is what makes the operator viable at 100 TB.
    *
    * Reactivation semantics (reference-faithful, `cleaner.py:204–241`): a
    * `!DELETE`d record that receives new events afterwards is a FRESH record
    * — so an entity reactivated after its tombstone restarts its counter at
    * 0, exactly like the reference re-creating the entity. Eviction drops
    * state, so a cross-lifetime grand total is deliberately NOT kept (it
    * would require unbounded tombstone state, defeating the TTL). Consumers
    * that need all-time totals aggregate per-lifetime outputs downstream
    * (each lifetime's rows are cumulative; lifetimes are delimited by the
    * tombstone). Pinned by `StreamingSpec` "reactivated entity restarts".
    */
  def statefulCountsWithTtl(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                            ttlSecs: Long): org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val keyed = events
      .withWatermark("ts", "0 seconds")
      .selectExpr("user_id", "ts")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
       state: GroupState[(Long, Long)]) =>
        if (state.hasTimedOut) {
          val (_, last) = state.get
          state.remove()
          Iterator((uid, -1L, last))
        } else {
          val (prevN, prevLast) = state.getOption.getOrElse((0L, 0L))
          var n = prevN
          var last = prevLast
          rows.foreach { case (_, t) => n += 1; last = math.max(last, t.getTime / 1000) }
          val timeoutMs = (last + ttlSecs) * 1000
          if (timeoutMs < state.getCurrentWatermarkMs()) {
            // the group's data arrived with the watermark ALREADY past its
            // would-be expiry (late-ish data after an earlier batch advanced
            // the clock): a past timeout timestamp is rejected by the
            // runtime, and semantically the record is expired the moment the
            // batch commits — evict now, emitting the update and the
            // tombstone in order (the reference's cleaner would delete it on
            // the very next sweep)
            state.remove()
            Iterator((uid, n, last), (uid, -1L, last))
          } else {
            state.update((n, last))
            state.setTimeoutTimestamp(timeoutMs)
            Iterator((uid, n, last))
          }
        }
    }
  }

  /** Streaming first-seen exact deduplication: the stateful, micro-batch
    * form of the crawl-vs-corpus dedup (`llm_incr_dedup`'s Bloom path is the
    * batch analog). Each micro-batch shuffles its documents by content
    * digest; state holds ONE long per distinct digest ever seen (the
    * canonical doc id — the minimum id in the digest's first-seen batch),
    * so state size is bounded by the distinct-content count, not the stream
    * length, and a duplicate arriving any number of batches later maps to
    * the same canonical without rescanning the corpus. Emits every input
    * row exactly once: (doc_id, canonical, kept 0/1).
    */
  def statefulDedup(docs: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                    keyExpr: String = "md5(text)"):
      org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    // keyExpr picks the identity: the default exact digest, or e.g. the
    // bag-of-words fingerprint for order-insensitive streaming dedup
    val keyed = docs.selectExpr("doc_id", s"$keyExpr as dg")
      .as[(Long, String)]
      .groupByKey(_._2)
    keyed.flatMapGroupsWithState[Long, (Long, Long, Long)](
      OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
      (_: String, rows: Iterator[(Long, String)], state: GroupState[Long]) =>
        val ids = rows.map(_._1).toVector
        val canonical = state.getOption.getOrElse(ids.min)
        if (!state.exists) state.update(canonical)
        ids.iterator.map(id =>
          (id, canonical, if (id == canonical) 1L else 0L))
    }
  }

  /** One micro-batch folded exactly once per `batchId`: validate → derive
    * tasks → [[MergeOnReadSnapshotStore.applyBatchIdempotent]].
    */
  def runBatchExactlyOnce(store: MergeOnReadSnapshotStore, batch: DataFrame,
                          nowEpoch: Long, batchId: Long, maxAgeDays: Int): Unit =
    store.applyBatchIdempotent(deriveBatchTasks(batch, nowEpoch, maxAgeDays),
      nowEpoch, batchId)

  private def deriveBatchTasks(batch: DataFrame, nowEpoch: Long,
                               maxAgeDays: Int): Dataset[UpdateTask] =
    EntityFold.wire(EventTasks.preAggregated(validate(batch, nowEpoch, maxAgeDays)))

  /** Two-lane source admission — the reference's bounded normal queue +
    * unbounded priority queue, priority consumed first
    * (`task_queue.py:4–12,365–377`; internal tasks are priority,
    * `update_manager.py:349–361`). Spark-first restatement: per-source
    * trigger admission on a union of two file sources. The normal lane is
    * rate-limited (`maxFilesPerTrigger`), so a backlog drains across many
    * micro-batches; the priority lane has NO admission cap, so everything
    * waiting on it lands in the first micro-batch — the whole priority
    * queue is serviced while the normal backlog is still queued, which is
    * exactly the drain-priority-first contract. Each row lands in the sink
    * tagged with its lane and micro-batch id, so the admission schedule
    * itself is an auditable output (and, because the fold downstream is
    * order-insensitive by design, the FINAL folded state is invariant to
    * the admission split — the property that makes bounded admission safe
    * at 100-TB backlog scale).
    */
  def startTwoLane(spark: SparkSession, normalDir: String, priorityDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   checkpointDir: String, sinkDir: String,
                   normalMaxFiles: Int = 1): StreamingQuery = {
    val normal = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", normalMaxFiles.toString)
      .parquet(normalDir)
      .withColumn("lane", lit("normal"))
    val priority = spark.readStream.schema(schema)
      .parquet(priorityDir)
      .withColumn("lane", lit("priority"))
    priority.unionByName(normal)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(sinkDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Query-level restart supervisor (`update_manager.py:478–497`: the thread
    * watchdog that restarts dead workers, ≤ 20 restarts). Spark retries
    * TASKS for free; what it does not do by itself is resurrect a DRIVER
    * query whose micro-batch exhausted its task retries. This supervisor
    * rebuilds the query from its checkpoint after a failure, up to
    * `maxRestarts` times — combined with
    * [[MergeOnReadSnapshotStore.applyBatchIdempotent]], whose manifest
    * ledger skips a committed batch id, the restarted query replays the
    * failed batch exactly once. Returns the number of restarts consumed;
    * rethrows once the budget is spent.
    */
  def superviseRestarts(maxRestarts: Int)(mkQuery: () => StreamingQuery): Int = {
    var restarts = 0
    var done = false
    while (!done) {
      // mkQuery()/start() sit INSIDE the try: a restart attempt that dies
      // while rebuilding the query (transient checkpoint-dir IO, a source
      // listing hiccup) consumes restart budget like a post-start death —
      // otherwise a start-time failure would escape the supervisor entirely.
      // NonFatal (not just StreamingQueryException) for the same reason;
      // fatal JVM errors still propagate immediately.
      try { mkQuery().awaitTermination(); done = true }
      catch {
        case scala.util.control.NonFatal(e) =>
          if (restarts >= maxRestarts) throw e
          restarts += 1
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"query failed (restart $restarts/$maxRestarts): ${e.getMessage}")
      }
    }
    restarts
  }

  /** Batch-level watchdog (`NERDd/core/scheduler.py` + the reference's
    * worker-watchdog restarts): a failing micro-batch retries up to
    * `maxAttempts` times before the failure propagates and kills the query —
    * Spark already retries TASKS; this covers batch-scoped transient faults
    * (a flaky store listing, an external fixture hiccup) the same way the
    * reference's supervisor re-runs a crashed worker.
    */
  def runBatchWithRetry(store: EntityStore, batch: DataFrame, nowEpoch: Long,
                        maxAgeDays: Int = 7, maxAttempts: Int = 3): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      // NonFatal only: retrying after a fatal JVM error (OutOfMemoryError,
      // StackOverflowError) would re-run the batch on a corrupted heap —
      // those must propagate and kill the query so the SUPERVISOR restarts
      // a fresh JVM-side query from the checkpoint instead
      try { runBatch(store, batch, nowEpoch, maxAgeDays); done = true }
      catch {
        case scala.util.control.NonFatal(e) if attempt < maxAttempts =>
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"batch attempt $attempt failed, retrying: ${e.getMessage}")
      }
    }
  }

  /** Start the streaming ingest over a parquet file source. `nowEpoch` is a
    * function so tests can pin batch time (determinism rule SURVEY §7.3).
    *
    * Backpressure: the reference bounds inflow with RabbitMQ prefetch +
    * queue length; the Spark analog is source-side trigger admission —
    * `maxFilesPerTrigger` caps what each micro-batch admits, so a backlog
    * drains in bounded-size batches instead of one giant catch-up batch
    * that overwhelms executor memory.
    */
  def start(spark: SparkSession, sourceDir: String, store: EntityStore,
            checkpointDir: String, nowEpoch: () => Long,
            maxFilesPerTrigger: Option[Int] = None,
            maxAttempts: Int = 1,
            trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery = {
    val schema = spark.read.parquet(sourceDir).schema
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val writer = reader
      .parquet(sourceDir)
      .withWatermark("ts", "7 days")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatchWithRetry(store, batch, nowEpoch(), maxAttempts = math.max(1, maxAttempts))
      }
    // Trigger.AvailableNow drains the backlog in admission-bounded batches
    // and terminates — the finite-run mode (correctness gate, backfills);
    // default is the continuous watcher the reference's daemon runs.
    trigger.fold(writer)(writer.trigger).start()
  }
}
