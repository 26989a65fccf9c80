package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke over sf0.001: the flagship entry plus every declared
  * query must produce rows and agree between the fold path and the relational
  * path where both exist (SURVEY §7.3 equivalence requirement).
  */
class PipelineSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.local(4)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("queries and oracles cover each other exactly") {
    // Queries that are legitimately not SQL-expressible in DuckDB go here
    // (driver records a weaker rows-only check for them); keep this empty
    // unless a query truly can't be oracled.
    val noOracleAllowlist = Set.empty[String]
    val danglingOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(danglingOracles.isEmpty, s"oracle entries without queries: $danglingOracles")
    val unverified = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- noOracleAllowlist
    assert(unverified.isEmpty, s"queries without oracle entries: $unverified")
  }

  test("JSON wire-format fold path equals typed fold path") {
    import graft.fold.EntityFold
    import graft.ingest.EventTasks
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val now = 1706659200L
    val typed = EventTasks.preAggregated(ev)
    val wire = EntityFold.wire(typed)
    val a = EntityFold.applyTypedTasks(typed, now)(EventTasks.projectFolded)
      .toDF().orderBy($"entity").collect()
    val b = EntityFold.applyTasks(wire, now)(EventTasks.projectFolded)
      .toDF().orderBy($"entity").collect()
    assert(a.sameElements(b))
  }

  test("on-demand record creation: one web task creates a short-lived record") {
    // Reference: /ajax/fetch_ip_data issues ('set', '_ttl.web', now+3h)
    // creating the record on the spot (nerd_main.py:1473–1489).
    import graft.fold.{EntityFold, EntityState, UpdateTask}
    import spark.implicits._
    val now = 1706659200L
    val task = Seq(UpdateTask("ip", 999999L, 0L, "web",
      s"""[["set","_ttl.web",${now + 3 * 3600}]]""")).toDS()
    val out = EntityFold.applyToSnapshot(spark.emptyDataset[EntityState], task, now).collect()
    assert(out.length == 1 && out.head.eid == 999999L)
    val rec = graft.ops.TaskCodec.parseRec(out.head.json)
    assert(rec("ts_added") == now)
    assert(rec("_ttl").asInstanceOf[scala.collection.mutable.LinkedHashMap[String, Any]]("web") == now + 3 * 3600)
  }

  test("event append sink round-trips through parquet") {
    // SURVEY §2.2 event batch insert: append-only parquet write of the raw
    // event stream (the PSQL execute_values analog).
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    val ev = graft.core.Tables.events(spark, sf)
    ev.limit(100).write.mode("append").parquet(dir)
    ev.limit(50).write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 150)
  }

  test("fold path equals relational path (per-event tasks vs pre-aggregated)") {
    import graft.fold.EntityFold
    import graft.ingest.EventTasks
    import spark.implicits._
    val ev = graft.core.Tables.events(spark, sf)
    val now = 1706659200L
    val a = EntityFold.applyTypedTasks(EventTasks.tasks(ev), now)(EventTasks.projectFolded)
      .toDF().withColumn("conns", org.apache.spark.sql.functions.round($"conns", 2))
      .orderBy($"entity").collect()
    val b = EntityFold.applyTypedTasks(EventTasks.preAggregated(ev), now)(EventTasks.projectFolded)
      .toDF().withColumn("conns", org.apache.spark.sql.functions.round($"conns", 2))
      .orderBy($"entity").collect()
    assert(a.sameElements(b))
  }
}
