package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Artifacts

/** Direct tests of the artifact registry: build-once under nesting, one
  * entry per data dir, persisted frames, and the live-checkpoint swap that
  * frees the previous call's blocks.
  */
class ArtifactsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  /** A dir no other test (or suite) keys an artifact under. */
  private def freshDir(): String = s"artifacts-spec-${java.util.UUID.randomUUID()}"

  test("nested builds run each builder exactly once, outside any map update") {
    val dir = freshDir()
    val innerRuns, outerRuns = new AtomicInteger()
    def inner: DataFrame = Artifacts.pinned(spark, dir, "inner") {
      innerRuns.incrementAndGet()
      spark.range(10).toDF("id")
    }
    def outer: DataFrame = Artifacts.pinned(spark, dir, "outer") {
      outerRuns.incrementAndGet()
      inner.filter("id % 2 = 0")
    }
    assert(outer.count() == 5)
    assert(outer.count() == 5 && inner.count() == 10)
    assert((innerRuns.get, outerRuns.get) == ((1, 1)))

    // a deep chain: each level's builder reads the level below, so hundreds
    // of builds are in flight at once while the registry's map grows
    val chainRuns = new AtomicInteger()
    def chain(i: Int): Int = Artifacts.memo(spark, dir, s"chain$i") {
      chainRuns.incrementAndGet()
      if (i == 0) 0 else chain(i - 1) + 1
    }
    assert(chain(200) == 200)
    assert(chain(200) == 200 && chain(100) == 100)
    assert(chainRuns.get == 201)
  }

  test("two data dirs never share an entry") {
    val (a, b) = (freshDir(), freshDir())
    assert(Artifacts.memo(spark, a, "today")("2024-01-29") == "2024-01-29")
    assert(Artifacts.memo(spark, b, "today")("2024-02-05") == "2024-02-05")
    assert(Artifacts.memo(spark, a, "today")("unused") == "2024-01-29")
    val fa = Artifacts.pinned(spark, a, "table")(spark.range(3).toDF("id"))
    val fb = Artifacts.pinned(spark, b, "table")(spark.range(7).toDF("id"))
    assert((fa.count(), fb.count()) == ((3L, 7L)))
  }

  test("a pinned frame is persisted once and served again without a rebuild") {
    val dir = freshDir()
    val runs = new AtomicInteger()
    def table: DataFrame = Artifacts.pinned(spark, dir, "table") {
      runs.incrementAndGet()
      spark.range(100).toDF("id")
    }
    val first = table
    assert(first.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val second = table
    assert(second eq first)
    assert(runs.get == 1)
  }

  test("swapLiveCheckpoint frees the previous call's checkpoint blocks") {
    def rddIds(df: DataFrame): Seq[Int] =
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    def live = spark.sparkContext.getPersistentRDDs.keySet
    val op = s"artifacts-spec-${java.util.UUID.randomUUID()}"

    val first = Artifacts.swapLiveCheckpoint(op, spark.range(50).toDF("id").localCheckpoint())
    val firstIds = rddIds(first)
    assert(firstIds.nonEmpty && firstIds.forall(live.contains))

    val second = Artifacts.swapLiveCheckpoint(op, spark.range(60).toDF("id").localCheckpoint())
    val secondIds = rddIds(second)
    assert(firstIds.forall(id => !live.contains(id)), "the previous checkpoint is still cached")
    assert(secondIds.forall(live.contains))
    assert(second.count() == 60)

    Artifacts.freeLocalCheckpoint(second)
    assert(secondIds.forall(id => !live.contains(id)))
  }
}
