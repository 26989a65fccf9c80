package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.derive.Reputation
import graft.derive.Reputation.RepSource

/** Hand-computed fixtures for the multi-source reputation combiner
  * (reference `reputation.py:100–136`): each decay variant's weighted
  * average and the `1 − Π(1 − trust·rep_m)` total.
  */
class ReputationSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  private val today = "2024-01-10"

  // entity 1: one event today (age 0) and one 2 days ago (age 2)
  private def events = {
    import spark.implicits._
    Seq(
      (1L, "2024-01-10 01:00:00", "error", 10.0),
      (1L, "2024-01-08 01:00:00", "error", 10.0)
    ).toDF("user_id", "ts_s", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  }

  private def rep(src: RepSource): Double =
    Reputation.multiSource(events, today, Seq(src))
      .select(col(s"rep_${src.name}")).head.getDouble(0)

  // nonlin(1, 1) = 1 - 0.5^1 = 0.5 on each active day
  test("linear decay weights (range-d)/range normalized by the full window") {
    val s = RepSource("lin", lit(true), scaleEvents = 1d, dateRange = 4, timeDecay = "linear")
    // days 0 and 2 active: (0.5*(4-0)/4 + 0.5*(4-2)/4) / (1/4+2/4+3/4+4/4)
    val want = (0.5 * 1.0 + 0.5 * 0.5) / 2.5
    assert(math.abs(rep(s) - math.rint(want * 1e6) / 1e6) < 1e-9)
  }

  test("half-life decay: weight 0.5^(d/hl)") {
    val s = RepSource("hl", lit(true), scaleEvents = 1d, dateRange = 4,
      timeDecay = "half_life", halfLife = 2d)
    val wsum = (0 until 4).map(d => math.pow(0.5, d / 2.0)).sum
    val want = (0.5 * 1.0 + 0.5 * 0.5) / wsum
    assert(math.abs(rep(s) - want) < 1e-6)
  }

  test("no decay: plain average over the window") {
    val s = RepSource("flat", lit(true), scaleEvents = 1d, dateRange = 4, timeDecay = "none")
    val want = (0.5 + 0.5) / 4.0
    assert(math.abs(rep(s) - want) < 1e-9)
  }

  test("total combines partials as 1 - prod(1 - trust*rep_m)") {
    val a = RepSource("a", lit(true), scaleEvents = 1d, dateRange = 4, timeDecay = "none")
    val b = RepSource("b", col("event_type") === "error", scaleEvents = 1d,
      dateRange = 4, timeDecay = "none", trustFactor = 0.5)
    val row = Reputation.multiSource(events, today, Seq(a, b))
      .select(col("rep_a"), col("rep_b"), col("rep")).head
    val (ra, rb, r) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    assert(math.abs(r - (1 - (1 - 1.0 * ra) * (1 - 0.5 * rb))) < 1e-6)
  }

  test("events outside the source's date range contribute nothing") {
    val s = RepSource("short", lit(true), scaleEvents = 1d, dateRange = 2, timeDecay = "none")
    // only the age-0 event is inside [0, 2)
    assert(math.abs(rep(s) - 0.5 / 2.0) < 1e-9)
  }
}
