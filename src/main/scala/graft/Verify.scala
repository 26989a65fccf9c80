package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=name1,name2 restricts the dump (local iteration aid,
    // same contract as Bench); the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = new ObjectMapper()
    val oracle = json.createObjectNode()
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .foreach { case (k, v) => oracle.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json.writeValueAsString(oracle))
    spark.stop()
  }
}
