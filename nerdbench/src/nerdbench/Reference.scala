package nerdbench

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fold.EntityFold
import graft.ingest.EventTasks
import graft.ops.TaskCodec
import graft.streaming.StreamIngest.MergeOnReadSnapshotStore

/** Independent expectations the benchmark checks the program against. */
object Reference {
  private val today = LocalDate.parse(Gen.Today)

  def age(a: Alert): Long =
    today.toEpochDay - Instant.ofEpochSecond(a.epoch).atZone(ZoneOffset.UTC).toLocalDate.toEpochDay

  private def nonlin(v: Double, scale: Double): Double =
    if (v / scale > 20d) 1.0 else 1.0 - math.pow(0.5, v / scale)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `Derive.snapshot`'s total (30-day count) and warden reputation for one
    * entity's alerts, in plain Scala.
    */
  def totalAndRep(alerts: Seq[Alert]): (Long, Double) = {
    val perDay = alerts.filter(a => age(a) >= 0 && age(a) <= 30).groupBy(age)
    val total = perDay.values.map(_.size.toLong).sum
    val sumWeights = (1 to 14).map(_.toDouble / 14).sum
    val rep = perDay.toSeq.filter(_._1 < 14).map { case (ag, as) =>
      nonlin(as.size.toDouble, 10d) * nonlin(as.map(_.eventType).distinct.size.toDouble, 2d) *
        ((14.0 - ag) / 14.0)
    }.sum / sumWeights
    (total, round6(rep))
  }

  /** The marker of `f` with the total and reputation a probe must show. */
  def markerExpectation(f: AlertFile): (Long, Long, Double) = {
    val (total, rep) = totalAndRep(f.alerts.filter(_.userId == f.marker))
    (f.marker, total, rep)
  }

  def alertsFrame(spark: SparkSession, alerts: Seq[Alert]): DataFrame =
    Env.alertRows(spark, Seq(0 -> alerts)).drop("f")

  /** The store's folded records must equal a one-shot fold of exactly the
    * alerts it should have accepted (chosen here in plain Scala, not by the
    * program's filter and validation).
    */
  def storeMatchesOneShot(spark: SparkSession, store: MergeOnReadSnapshotStore,
                          accepted: Seq[Alert]): Boolean = {
    import spark.implicits._
    // conns sums doubles in a different order on each side: compare in cents
    def norm(xs: Array[EventTasks.FoldedEntity]) =
      xs.map(e => e.copy(conns = BigDecimal(e.conns).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy(_.entity).toSeq
    val ref = EntityFold.applyTypedTasks(EventTasks.preAggregated(alertsFrame(spark, accepted)),
      Gen.NowEpoch)(EventTasks.projectFolded).collect()
    val got = store.read().map(st => EventTasks.projectFolded(st.eid, TaskCodec.parseRec(st.json))).collect()
    norm(got) == norm(ref)
  }
}
