package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level wall-clock attribution for a multi-action query (guide §1.1:
  * find where the time actually goes before touching anything): runs each
  * named query once untimed (warmup) and once timed under a SparkListener,
  * then prints every Spark job the timed run submitted — description,
  * duration, task count — plus the driver-side gaps (wall − Σ job time),
  * which is where pure-FS choreography (renames, listings, manifest I/O)
  * and planning live. Output JSON to `SPARK_GRAFT_PROBE_OUT` (default
  * `plans/r16/job_decomposition.json`).
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    final case class Job(id: Int, var desc: String = "", var start: Long = 0L,
                         var end: Long = 0L, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording.get) {
        val j = Job(e.jobId)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
        j.start = e.time
        j.tasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.end = e.time
      }
    })

    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "llm_ann_ivf_append")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val entries = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      System.gc()
      jobs.clear(); recording.set(true)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      recording.set(false)
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      val jobSum = js.map(j => math.max(0L, j.end - j.start)).sum / 1e3
      val lines = js.map { j =>
        val dur = math.max(0L, j.end - j.start) / 1e3
        val d = j.desc.replace("\\", "\\\\").replace("\"", "'").take(140)
        s"""{"job":${j.id},"sec":$dur,"tasks":${j.tasks},"desc":"$d"}"""
      }
      // driver gaps: time between consecutive jobs (FS renames, planning,
      // collects' deserialization, ledger I/O) — large gaps are driver work
      val gaps = js.sliding(2).collect {
        case Seq(a, b) if b.start - a.end > 100 =>
          s"""{"after_job":${a.id},"gap_sec":${(b.start - a.end) / 1e3}}"""
      }.toSeq
      s""""$name":{"wall_sec":$wall,"n_jobs":${js.size},"job_sum_sec":$jobSum,""" +
        s""""driver_residual_sec":${wall - jobSum},"jobs":[${lines.mkString(",")}],""" +
        s""""gaps":[${gaps.mkString(",")}]}"""
    }
    val json = s"""{"metric":"job_decomposition","sf":"$sfDir","cpus":$cpus,${entries.mkString(",")}}"""
    println("PROBE " + json)
    val out = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT",
      "plans/r16/job_decomposition.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
