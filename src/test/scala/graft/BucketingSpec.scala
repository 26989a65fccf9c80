package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing evidence: the 100-TB plan for repeated entity-keyed joins
  * (snapshot ⋈ snapshot, snapshot ⋈ event aggregates) is to store both sides
  * bucketed by the entity key, so the join needs NO exchange on either side.
  * This suite actually writes bucketed tables and pins the exchange-free
  * plan — the claim in README's scale notes, made checkable.
  */
class BucketingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = GraftSession.local(4)

  test("entity-bucketed tables sort-merge join with zero exchange") {
    val snap = graft.derive.Derive.snapshot(
        graft.core.Tables.events(spark, sf), "2024-01-29")
      .select(col("entity"), col("rep"), col("total30"))
    // external tables in fresh directories: nothing depends on the
    // session's warehouse location or on what an earlier run left there
    def save(name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      snap.write.bucketBy(8, "entity").sortBy("entity").mode("overwrite").format("parquet")
        .option("path", Files.createTempDirectory(name).toString).saveAsTable(name)
    }
    save("graft_bl_a")
    save("graft_bl_b")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the join must co-locate on the bucket layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bl_a").as("a")
        .join(spark.table("graft_bl_b").as("b"), "entity")
        .select(col("entity"), col("a.rep"), col("b.total30"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
      assert(j.count() == snap.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed scan co-locates the entity aggregation too") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val agg = spark.table("graft_bl_a")
        .groupBy(col("entity")).agg(max(col("rep")).as("mx"))
      val p = agg.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"entity agg over bucketed layout shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
