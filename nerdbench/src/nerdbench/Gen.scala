package nerdbench

import java.util.SplittableRandom

/** One generated alert in the `events` schema. `tsMicros` is epoch
  * microseconds (UTC); `props` is the JSON message the Warden filter reads.
  */
final case class Alert(eventId: Long, tsMicros: Long, userId: Long,
                       eventType: String, value: Double, props: String) {
  def epoch: Long = Math.floorDiv(tsMicros, 1000000L)
}

/** What the generator put into a file: its alerts, the marker entity the
  * freshness probe looks for, and the declared counts of each alert class.
  */
final case class AlertFile(index: Int, alerts: Vector[Alert], marker: Long,
                           markerAlerts: Int, late: Int, future: Int, filtered: Int)

/** Seeded alert generator.
  *
  * Entities are Zipf-ranked over `entities` ids (a few hot scanners get most
  * alerts); ranks map to ids through a fixed permutation so hot ids are
  * spread over the address range. Every file also carries:
  *  - late alerts (older than the 7-day reception window) and future alerts
  *    (more than 5 minutes ahead), which `StreamIngest.validate` rejects;
  *  - alerts from a test sensor or with a `Test` category, which the
  *    benchmark's `WardenFilter` rules drop;
  *  - a marker entity that appears only in that file, with a known alert
  *    count, for the freshness probe.
  * Marker, late, future and filtered alerts are disjoint classes (filtered
  * alerts are always inside the window), so the declared counts are exact;
  * `late` also counts normal alerts that a long `recentSecs` put outside the
  * 7-day window.
  */
final class Gen(seed: Long, val entities: Int) {
  import Gen._

  private val cdf: Array[Double] = {
    val w = Array.tabulate(entities)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    var acc = 0.0
    val c = new Array[Double](entities)
    var i = 0
    while (i < entities) { acc += w(i); c(i) = acc; i += 1 }
    c.map(_ / acc)
  }

  // multiplier coprime with `entities`: rank -> id is a bijection
  private val mult: Long = Iterator.from(1000003, 2).map(_.toLong)
    .find(m => BigInt(m).gcd(BigInt(entities)) == 1).get

  def idOfRank(rank: Int): Long = EntityBase + (rank.toLong * mult) % entities

  private def zipfRank(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(entities - 1, if (i >= 0) i else -i - 1)
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def normalProps(r: SplittableRandom, k: Int): String =
    s"""{"k":$k,"node":"${pick(r, Sensors)}","Category":["${pick(r, Categories)}"]}"""

  /** One alert file. `recentSecs` is how far back normal alerts reach from
    * `NowEpoch`; `eventIdBase` keeps ids unique across files.
    */
  def file(index: Int, size: Int, recentSecs: Long, eventIdBase: Long): AlertFile = {
    val r = new SplittableRandom(seed * 1000003L + index * 7919L + 17L)
    var id = eventIdBase
    def nextId(): Long = { id += 1; id }
    val markerN = 2 + r.nextInt(5)
    val marker = MarkerBase + index
    val nLate = math.round(size * LateShare).toInt
    val nFuture = math.round(size * FutureShare).toInt
    val nFiltered = math.round(size * FilteredShare).toInt
    val nNormal = math.max(0, size - markerN - nLate - nFuture - nFiltered)
    def micros(epoch: Long) = epoch * 1000000L + r.nextInt(1000000)
    def value() = math.round((1.0 + r.nextDouble() * r.nextDouble() * 400.0) * 100.0) / 100.0
    val out = Vector.newBuilder[Alert]
    var organicLate = 0 // normal alerts a long `recentSecs` pushed out of the window
    (0 until nNormal).foreach { _ =>
      val ep = NowEpoch - 1 - (r.nextDouble() * recentSecs).toLong
      if (ep <= NowEpoch - 7 * 86400L) organicLate += 1
      out += Alert(nextId(), micros(ep), idOfRank(zipfRank(r)), pick(r, Types), value(),
        normalProps(r, r.nextInt(100)))
    }
    (0 until markerN).foreach { _ =>
      // all on the last day before NowEpoch, inside every window
      val ep = NowEpoch - 1 - r.nextInt(3600)
      out += Alert(nextId(), micros(ep), marker, pick(r, Types), value(),
        normalProps(r, r.nextInt(100)))
    }
    (0 until nLate).foreach { _ =>
      val ep = NowEpoch - 8 * 86400L - r.nextInt(10 * 86400)
      out += Alert(nextId(), micros(ep), idOfRank(zipfRank(r)), pick(r, Types), value(),
        normalProps(r, r.nextInt(100)))
    }
    (0 until nFuture).foreach { _ =>
      val ep = NowEpoch + 600 + r.nextInt(7200)
      out += Alert(nextId(), micros(ep), idOfRank(zipfRank(r)), pick(r, Types), value(),
        normalProps(r, r.nextInt(100)))
    }
    (0 until nFiltered).foreach { i =>
      val ep = NowEpoch - 1 - (r.nextDouble() * math.min(recentSecs, 6 * 86400L)).toLong
      val props =
        if (i % 2 == 0) s"""{"k":${r.nextInt(100)},"node":"$TestSensor","Category":["${pick(r, Categories)}"]}"""
        else s"""{"k":${r.nextInt(100)},"node":"${pick(r, Sensors)}","Category":["Test","${pick(r, Categories)}"]}"""
      out += Alert(nextId(), micros(ep), idOfRank(zipfRank(r)), pick(r, Types), value(), props)
    }
    // interleave the classes the way a feed would
    val shuffled = shuffle(out.result(), r)
    AlertFile(index, shuffled, marker, markerN, nLate + organicLate, nFuture, nFiltered)
  }

  private def shuffle(xs: Vector[Alert], r: SplittableRandom): Vector[Alert] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }
}

object Gen {
  /** Scenario clock: alerts are generated relative to this instant, and
    * ingest validates against it. Midnight, so `Today` is the day before.
    */
  val NowEpoch: Long = 1717200000L // 2024-06-01T00:00:00Z
  val Today: String = "2024-05-31"

  val ZipfS = 0.8
  val LateShare = 0.02
  val FutureShare = 0.01
  val FilteredShare = 0.04

  val EntityBase: Long = 0x0A000000L // 10.0.0.0
  val MarkerBase: Long = 0xC0A80000L // 192.168.0.0, disjoint from EntityBase + entities

  val Types: IndexedSeq[String] =
    Vector("scan", "scan", "scan", "bruteforce", "bruteforce", "ddos", "malware", "spam")
  val Sensors: IndexedSeq[String] = Vector("sensor-a", "sensor-b", "sensor-c", "sensor-d")
  val Categories: IndexedSeq[String] =
    Vector("Recon.Scanning", "Attempt.Login", "Availability.DoS", "Malware", "Abusive.Spam")
  val TestSensor = "test.node"

  /** The Warden filter rules the benchmark ingests through: drop the test
    * sensor and anything carrying a `Test` category, pass the rest.
    */
  val FilterRules: Seq[String] = Seq(
    s"node = $TestSensor ; drop",
    "Category[*] = Test ; drop",
    "; pass")

  /** Independent restatement of [[FilterRules]] over the raw JSON text. */
  def passesFilter(a: Alert): Boolean =
    !a.props.contains(s""""node":"$TestSensor"""") && !a.props.contains(""""Test"""")

  /** `StreamIngest.validate` restated: inside the reception window and not
    * more than 5 minutes ahead.
    */
  def valid(a: Alert, now: Long, maxAgeDays: Int): Boolean =
    a.epoch > now - maxAgeDays * 86400L && a.epoch <= now + 300L
}
