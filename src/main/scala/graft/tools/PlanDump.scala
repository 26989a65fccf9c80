package graft.tools


/** Dump `.explain("formatted")` for a set of declared queries to text files
  * — the optimization rounds' plan-shape receipts (`plans/r<N>/<q>_<tag>.txt`).
  *
  * Usage: `runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...>`
  * (query-name list; `all` dumps every declared query). The session config
  * mirrors `graft.Bench` exactly so the dumped plan is the plan the bench
  * times. Building a query's DataFrame executes its fixture/lifecycle side
  * effects (index builds, stream replays) — the dump costs roughly one
  * bench pass of the named queries.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <q1,q2,...|all>")
    val (outDir, tag) = (args(0), args(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val wanted = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.contains("all") || wanted.contains(n) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { case (n, f) =>
      try {
        val df = f(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), plan)
        println(s"PLANDUMP wrote $outDir/${n}_$tag.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"PLANDUMP $n failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
