package nerdbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: summed over the tasks of every job
  * submitted under the span's job group.
  */
final class JobStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var scanBytes = 0L
  var rowsScanned = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var schedWaitMs = 0L

  def add(o: JobStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes
    scanBytes += o.scanBytes; rowsScanned += o.rowsScanned; spillBytes += o.spillBytes
    gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
  }
}

/** One timed call into a layer. `req` names the request it served (an alert
  * file, a search op, a backfill pass).
  */
final case class Span(id: Long, name: String, req: String, parent: Long,
                      startNs: Long, var endNs: Long = 0L, var rowsReturned: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each module, plus a
  * `SparkListener` that charges every job to the span whose job group it ran
  * under. Disabled, `span` just runs its body: the end-to-end run pays
  * nothing for it.
  *
  * Streaming queries run their micro-batches on their own thread, under a job
  * group Spark sets to the query's run id; `alias` charges those jobs to the
  * span that started the query.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stats = new ConcurrentHashMap[Long, JobStats]()
  private val groupToSpan = new ConcurrentHashMap[String, Long]()
  private val stageToSpan = new ConcurrentHashMap[Int, Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val GroupPrefix = "nerdbench-span-"

  private def statsOf(span: Long): JobStats = stats.computeIfAbsent(span, _ => new JobStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.flatMap { g =>
        if (g.startsWith(GroupPrefix)) Some(g.stripPrefix(GroupPrefix).toLong)
        else Option(groupToSpan.get(g)).map(_.longValue)
      }
      span.foreach { s =>
        statsOf(s).synchronized { statsOf(s).jobs += 1 }
        e.stageIds.foreach(st => stageToSpan.put(st, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageToSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        val st = statsOf(s)
        st.synchronized {
          st.tasks += 1
          st.cpuNs += m.executorCpuTime
          st.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          st.scanBytes += m.inputMetrics.bytesRead
          st.rowsScanned += m.inputMetrics.recordsRead
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.gcMs += m.jvmGCTime
          val sub = stageSubmitted.get(e.stageId)
          if (sub != 0L && e.taskInfo != null)
            st.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val parents = current.get
      val s = Span(ids.incrementAndGet(), name, req, parents.headOption.map(_.id).getOrElse(0L),
        System.nanoTime())
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", GroupPrefix + s.id)
      current.set(s :: parents)
      try body
      finally {
        s.endNs = System.nanoTime()
        current.set(parents)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        done.add(s)
      }
    }

  /** Note on the innermost open span how many rows the call returned. */
  def returned(rows: Long): Unit =
    if (enabled) current.get.headOption.foreach(_.rowsReturned = rows)

  /** Charge jobs run under `group` (a streaming query's run id) to the
    * innermost open span of the calling thread.
    */
  def alias(group: String): Unit =
    if (enabled) current.get.headOption.foreach(s => groupToSpan.put(group, s.id))

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def statsFor(s: Span): JobStats = Option(stats.get(s.id)).getOrElse(new JobStats)

  /** Spark work of a span and all its descendants. */
  def inclusiveStats(all: Seq[Span]): Map[Long, JobStats] = {
    val kids = all.groupBy(_.parent)
    def walk(s: Span): JobStats = {
      val acc = new JobStats
      acc.add(statsFor(s))
      kids.getOrElse(s.id, Nil).foreach(c => acc.add(walk(c)))
      acc
    }
    all.map(s => s.id -> walk(s)).toMap
  }

  /** Duration minus the part of it that child spans cover. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** All spans as JSON, with self time and the Spark work charged to each. */
  def spansJson(): String = {
    val all = spans
    val self = selfMs(all)
    all.map { s =>
      val st = statsFor(s)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "req" -> s.req, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "ms" -> s.ms, "self_ms" -> self(s.id),
        "jobs" -> st.jobs, "tasks" -> st.tasks, "cpu_ms" -> st.cpuNs / 1e6,
        "shuffle_bytes" -> st.shuffleBytes, "scan_bytes" -> st.scanBytes,
        "rows_scanned" -> st.rowsScanned, "rows_returned" -> s.rowsReturned,
        "spill_bytes" -> st.spillBytes, "gc_ms" -> st.gcMs, "sched_wait_ms" -> st.schedWaitMs)
    }.mkString("[", ",\n", "]")
  }

  /** Per span name: count, wall and self time, and inclusive Spark work. */
  def summaryJson(): String = {
    val all = spans
    val self = selfMs(all)
    val incl = inclusiveStats(all)
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val st = new JobStats
      ss.foreach(s => st.add(incl(s.id)))
      val ms = ss.map(_.ms)
      Json.quote(name) + ":" + Json.obj(
        "count" -> ss.size, "ms_p50" -> Stats.median(ms), "ms_total" -> ms.sum,
        "self_ms_total" -> ss.map(s => self(s.id)).sum,
        "jobs" -> st.jobs, "tasks" -> st.tasks, "cpu_ms" -> st.cpuNs / 1e6,
        "shuffle_bytes" -> st.shuffleBytes, "scan_bytes" -> st.scanBytes,
        "rows_scanned" -> st.rowsScanned, "spill_bytes" -> st.spillBytes,
        "gc_ms" -> st.gcMs, "sched_wait_ms" -> st.schedWaitMs)
    }.mkString("{", ",\n", "}")
  }
}

/** Streaming progress of every query: per-trigger `durationMs` parts. */
final class StreamProgress(spark: SparkSession) {
  import org.apache.spark.sql.streaming.StreamingQueryListener
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  val triggers = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (rows, trigger ms, overhead ms)
  val addBatchMs = new ConcurrentLinkedQueue[Long]()
  /** Wall-clock start (epoch ms) of each trigger that had input, by query run and batch id. */
  val starts = new ConcurrentHashMap[(String, Long), Long]()
  private val overheadParts = Seq("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")
  private val l = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        triggers.add((p.numInputRows, d("triggerExecution"), overheadParts.map(d).sum))
        addBatchMs.add(d("addBatch"))
        starts.put((p.runId.toString, p.batchId), java.time.Instant.parse(p.timestamp).toEpochMilli)
      }
    }
  }
  spark.streams.addListener(l)
  def close(): Unit = spark.streams.removeListener(l)
}
