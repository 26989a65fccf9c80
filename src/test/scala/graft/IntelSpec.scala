package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.query.AsOf
import graft.sources.Intel
import graft.streaming.StreamIngest

/** Unit coverage for the threat-intel receivers, as-of join, and timestamp
  * validation added in round 4.
  */
class IntelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  test("asOfJoin assigns the last boundary with start <= key") {
    import spark.implicits._
    val facts = Seq(5L, 499L, 500L, 4100L).toDF("k")
    val bounds = Seq((0L, "a"), (500L, "b"), (4000L, "c")).toDF("start", "rir")
    val got = AsOf.asOfJoin(facts, "k", bounds)
      .select($"k", $"rir").as[(Long, String)].collect().toMap
    assert(got === Map(5L -> "a", 499L -> "a", 500L -> "b", 4100L -> "c"))
  }

  test("asOfJoin drops keys below the first boundary (not-found path)") {
    import spark.implicits._
    val facts = Seq(-1L, 10L).toDF("k")
    val bounds = Seq((0L, "a")).toDF("start", "rir")
    assert(AsOf.asOfJoin(facts, "k", bounds).count() === 1)
  }

  test("dnsbl budget caps the queried set; unqueried keep empty listings") {
    import spark.implicits._
    val ips = (0L until 10L).map(e => (e, e * 100)).toDF("entity", "ip")
    val zones = (0L until 10L).filter(_ % 2 == 0)
      .map(e => ("z1", e * 100)).toDF("zone", "ip")
    val out = Intel.dnsblLookups(ips, zones, "bl.example", budget = 4)
      .select($"entity", $"queried", $"n_listed").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out.count(_._2 == 1L) === 4)
    // entity 8 is even (listed in the zone) but outside the budget window
    assert(out.find(_._1 == 8L).get._3 === 0L)
    assert(out.find(_._1 == 2L).get._3 === 1L)
  }

  test("shodan miss takes the 404-removal path") {
    import spark.implicits._
    val ips = Seq((1L, 10L), (2L, 20L)).toDF("entity", "ip")
    val db = Seq((10L, "22,80", "iot")).toDF("ip", "ports", "tags")
    val got = Intel.shodanEnrich(ips, db)
      .select($"entity", $"n_open", $"removed").as[(Long, Long, Long)]
      .collect().toSet
    assert(got === Set((1L, 2L, 0L), (2L, 0L, 1L)))
  }

  test("redis blacklist hits union set membership with prefix intervals") {
    import spark.implicits._
    val ips = Seq((1L, 50L), (2L, 150L), (3L, 999L)).toDF("entity", "ip")
    val sets = Seq(("tor", 50L), ("tor", 999L)).toDF("bl_id", "ip")
    val prefixes = Seq(("pbl", 100L, 200L)).toDF("bl_id", "first", "last")
    val got = Intel.redisBlHits(ips, sets, prefixes)
      .select($"entity", $"bl_hits").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "tor", 2L -> "pbl", 3L -> "tor"))
  }

  test("pre-aggregation bounds a hot entity: tasks = days x categories, not events") {
    // the 100-TB skew guard: one entity with 10k alerts must arrive at the
    // fold as (days x cats) tasks, never 10k
    import spark.implicits._
    val hot = (1 to 10000).map { i =>
      (i.toLong, s"2024-01-0${i % 3 + 1} 0${i % 9}:00:00", 7L, if (i % 2 == 0) "error" else "click", 1.5)
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val n = graft.ingest.EventTasks.preAggregated(hot).count()
    assert(n === 6, s"3 days x 2 categories, got $n tasks")
  }

  test("intervals: a single-event entity emits no row (ADVICE r3)") {
    // sequence(1, 0) is DESCENDING in Spark — without the >=2 guard this
    // entity emitted n_intervals=2 with null mean/median
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 8L),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 03:00:00"), 8L)
    ).toDF("event_id", "ts", "user_id")
    val got = graft.derive.Derive.intervals(ev)
      .select($"entity", $"n_intervals", $"mean_interval").collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === 8L && got.head.getLong(1) === 1L)
    assert(got.head.getDouble(2) === 97200.0)
  }

  test("ts_validate 'ok' class is exactly StreamIngest.validate's survivor set") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.core.Tables.events(spark, dir)
    val nowEpoch = ev.agg(max(to_date(col("ts")))).head.getDate(0).toLocalDate
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond - 3600L
    val okCount = SparkEntry.queries("nerd_ts_validate")(spark, dir)
      .filter(col("status") === "ok").select(col("n")).head.getLong(0)
    assert(StreamIngest.validate(ev, nowEpoch).count() === okCount)
  }
}
