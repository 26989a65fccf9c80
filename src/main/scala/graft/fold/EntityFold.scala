package graft.fold

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.ops.{TaskCodec, UpdateAlgebra}
import graft.ops.UpdateAlgebra.{Rec, UpdateOp}

/** One update task on one entity (wire form; ops is a JSON op list,
  * FIXTURES.md §3). `seq` is the total order within an entity — the reference
  * guarantees per-entity serial application by hash-routing tasks to a single
  * owner (`common/task_queue.py:58–60`, `update_manager.py:420–435`); we get
  * the same guarantee from the shuffle in `groupByKey` plus an explicit sort.
  */
case class UpdateTask(etype: String, eid: Long, seq: Long, src: String, ops: String)

/** Internal-pipeline task: ops stay typed through the shuffle (Kryo-encoded).
  * The JSON wire format is an *external boundary* concern only — rendering
  * and re-parsing it inside one job would cost billions of string round-trips
  * at 100 TB for data that never leaves the pipeline.
  */
case class TypedTask(etype: String, eid: Long, seq: Long, src: String, ops: Seq[UpdateOp])

/** Persisted entity state: dynamic-schema record as JSON (snapshot format). */
case class EntityState(etype: String, eid: Long, json: String)

/** The update-op fold: NERD's write path re-expressed as a keyed Dataset fold.
  *
  * Scale notes: the shuffle key is (etype, eid) — identical to the reference's
  * hash partitioning, so a 1000-executor cluster gets the same "one owner per
  * key" semantics with no locks. Per-group work is O(tasks for that key);
  * skewed entities (one IP with millions of alerts) are bounded upstream
  * because ingest pre-aggregates per (entity, day, category) before task
  * generation (see `graft.ingest.EventTasks.preAggregated`).
  */
object EntityFold {

  /** Fold tasks into fresh per-entity records and project each surviving
    * record. Tasks apply in `(seq, src)` order within each entity.
    *
    * @param now epoch seconds used for `ts_added`/`ts_last_update` on record
    *            creation — pass the batch time explicitly (determinism; see
    *            SURVEY §7.3 "today-relative scoring").
    */
  def applyTasks[T: Encoder](tasks: Dataset[UpdateTask], now: Long)
                            (project: (Long, Rec) => T): Dataset[T] = {
    import tasks.sparkSession.implicits._
    applyTypedTasks(tasks.map(t =>
      TypedTask(t.etype, t.eid, t.seq, t.src, TaskCodec.parse(t.ops)))(typedTaskEncoder),
      now)(project)
  }

  /** Kryo for the typed task (the op ADT holds `Any` values, so no product
    * encoder exists); keys and outputs keep product encoders.
    */
  implicit val typedTaskEncoder: Encoder[TypedTask] = Encoders.kryo[TypedTask]

  /** Typed tasks in the JSON wire form that [[applyToSnapshot]] and the
    * entity store fold.
    */
  def wire(ts: Dataset[TypedTask]): Dataset[UpdateTask] = {
    import ts.sparkSession.implicits._
    ts.map(t => UpdateTask(t.etype, t.eid, t.seq, t.src, TaskCodec.render(t.ops)))
  }

  /** Same fold, no codec in the hot path: ops arrive typed. */
  def applyTypedTasks[T: Encoder](tasks: Dataset[TypedTask], now: Long)
                                 (project: (Long, Rec) => T): Dataset[T] = {
    import tasks.sparkSession.implicits._
    tasks
      .groupByKey(t => (t.etype, t.eid))
      .flatMapGroups { (key, it) =>
        val (_, eid) = key
        foldTyped(None, it, now, eid).map(r => project(eid, r)).iterator
      }
  }

  /** Incremental variant: cogroup new tasks with an existing snapshot and fold
    * on top of the stored record — the pure reference that the
    * merge-on-read store's per-key merge must equal. Entities with no tasks
    * pass through unchanged; records whose fold ends in `!DELETE` are
    * dropped (the reference's delete-on-event, `update_manager.py:640–647`).
    */
  def applyToSnapshot(snapshot: Dataset[EntityState], tasks: Dataset[UpdateTask],
                      now: Long): Dataset[EntityState] = {
    import snapshot.sparkSession.implicits._
    snapshot
      .groupByKey(s => (s.etype, s.eid))
      .cogroup(tasks.groupByKey(t => (t.etype, t.eid))) { (key, states, ts) =>
        val (etype, eid) = key
        // Task-less entities pass through byte-identical — no JSON parse or
        // re-render. At a billion-record snapshot with a small micro-batch,
        // per-batch codec cost is O(touched entities), not O(snapshot).
        if (ts.isEmpty) states
        else foldRecord(states.buffered.headOption.map(_.json), ts, now, eid)
          .map(EntityState(etype, eid, _)).iterator
      }
  }

  /** Fold one entity's tasks onto its stored record (JSON, if any): the
    * record they leave, as JSON, or None when they end in `!DELETE`.
    */
  def foldRecord(json: Option[String], tasks: Iterator[UpdateTask], now: Long,
                 eid: Long): Option[String] =
    foldAll(json.map(jsonToRec), tasks, now, eid).map(TaskCodec.recToJson)

  private def foldAll(initial: Option[Rec], it: Iterator[UpdateTask], now: Long,
                      eid: Long): Option[Rec] =
    foldTyped(initial,
      it.map(t => TypedTask(t.etype, t.eid, t.seq, t.src, TaskCodec.parse(t.ops))),
      now, eid)

  private def foldTyped(initial: Option[Rec], it: Iterator[TypedTask], now: Long,
                        eid: Long): Option[Rec] = {
    val sorted = it.toArray.sortBy(t => (t.seq, t.src))
    var rec: Option[Rec] = initial
    sorted.foreach { t =>
      rec = UpdateAlgebra.applyTask(rec, t.ops, now, eid)._1
    }
    rec
  }

  private def jsonToRec(json: String): Rec = TaskCodec.parseRec(json)
}
