package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-trigger cost decomposition for the structured-streaming queries
  * (VERDICT r15 "Next round" #1): the streaming family is a third of the
  * suite wall at sf0.1, and the builder's "framework-fixed cost" claim was
  * asserted, not measured. This probe runs each named streaming query under
  * a [[StreamingQueryListener]] and splits every micro-batch's
  * `triggerExecution` into the components Spark itself reports:
  *
  *  - `addBatch`        — the batch's PLAN WORK (for `foreachBatch` queries
  *    this is the whole user body: probe joins, index appends, compaction);
  *  - `walCommit` + `commitOffsets` — the offset/commit LOG machinery
  *    (two HDFS-backed atomic file writes per trigger);
  *  - `latestOffset` + `getBatch` — SOURCE admission (file-source listing
  *    under maxFilesPerTrigger backpressure);
  *  - `queryPlanning`   — per-trigger incremental planning;
  *  - state-store commit time (`stateOperators[].commitTimeMs`, summed) for
  *    the stateful (`mapGroupsWithState`/dedup) queries.
  *
  * Residual = wall − Σ triggerExecution is the query START/STOP overhead
  * (checkpoint dir creation, source schema resolution, stream start and
  * AvailableNow termination) — cost that no per-trigger plan change can
  * remove. Output: one JSON line per query to `SPARK_GRAFT_PROBE_OUT`
  * (default `plans/r16/stream_decomposition.json`).
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    val defaults = Seq("llm_stream_near_dedup", "nerd_stream_recovery",
      "llm_stream_ann_ingest", "nerd_stream_counters", "llm_stream_dedup",
      "nerd_stream_ttl", "nerd_stream_reactivate", "llm_stream_curate",
      "nerd_stream_ingest", "nerd_stream_priority", "llm_stream_boilerplate")
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaults)

    // one shared listener; cleared per query. Progress callbacks are async —
    // the buffer is only read after awaitTermination + a drain sleep.
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        buf.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def runOne(name: String): String = {
      val fn = graft.SparkEntry.queries(name)
      // untimed warmup (codegen/scan warmup, fixture-source builds land here)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(500); buf.clear(); System.gc()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // drain async progress callbacks
      import scala.jdk.CollectionConverters._
      val rows = buf.asScala.toSeq.sortBy(p => (p.id.toString, p.batchId))
      def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
        Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      val batches = rows.map { p =>
        val state = p.stateOperators.map(s => s.commitTimeMs).sum
        s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
          s""""triggerExecution":${d(p, "triggerExecution")},""" +
          s""""addBatch":${d(p, "addBatch")},""" +
          s""""walCommit":${d(p, "walCommit")},""" +
          s""""commitOffsets":${d(p, "commitOffsets")},""" +
          s""""latestOffset":${d(p, "latestOffset")},""" +
          s""""getBatch":${d(p, "getBatch")},""" +
          s""""queryPlanning":${d(p, "queryPlanning")},""" +
          s""""stateCommitMs":$state}"""
      }
      val trigSum = rows.map(d(_, "triggerExecution")).sum / 1e3
      val addSum = rows.map(d(_, "addBatch")).sum / 1e3
      val logSum = rows.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum / 1e3
      val srcSum = rows.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum / 1e3
      val planSum = rows.map(d(_, "queryPlanning")).sum / 1e3
      val stateSum = rows.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3
      s""""$name":{"wall_sec":$wall,"n_triggers":${rows.size},""" +
        s""""trigger_exec_sec":$trigSum,"add_batch_sec":$addSum,""" +
        s""""offset_commit_log_sec":$logSum,"source_admission_sec":$srcSum,""" +
        s""""query_planning_sec":$planSum,"state_commit_sec":$stateSum,""" +
        s""""startup_residual_sec":${wall - trigSum},""" +
        s""""batches":[${batches.mkString(",")}]}"""
    }

    val entries = names.map { n =>
      spark.sparkContext.setJobDescription(s"stream-probe: $n")
      val r = runOne(n)
      spark.sparkContext.setJobDescription(null)
      r
    }
    val json = s"""{"metric":"stream_decomposition","unit":"sec","sf":"$sfDir","cpus":$cpus,${entries.mkString(",")}}"""
    println("PROBE " + json)
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      "plans/r16/stream_decomposition.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
