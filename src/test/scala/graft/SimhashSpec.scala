package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Simhash

/** SimHash unit coverage: the banded candidate join must be EXACT (zero
  * recall loss vs brute-force all-pairs Hamming at dist ≤ Bands−1), and the
  * hot-band skew cap must drop only pairs whose every agreeing band is hot.
  */
class SimhashSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  /** Doc fixture: near-duplicate families (shared long prefix, tiny suffix
    * edits) plus unrelated singletons — the suffix edits flip only a few
    * fingerprint bits, so some pairs land within Hamming ≤ 3 and others
    * safely outside.
    */
  private def fixture = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    (Seq(
      (1L, base),
      (2L, base + " x"),
      (3L, base + " y"),
      (4L, base + " x z"),
      (5L, "completely different words about spark catalyst plans and shuffles"),
      (6L, "completely different words about spark catalyst plans and shuffles too")
    )).toDF("doc_id", "text")
  }

  test("banded pairs == brute-force all-pairs Hamming (pigeonhole exactness)") {
    val docs = fixture
    val fps = Simhash.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- fps.keys; b <- fps.keys; if a < b
      d = java.lang.Long.bitCount(fps(a) ^ fps(b)); if d <= 3
    } yield (a, b, d)).toSet
    assert(exact.nonEmpty, "fixture must contain at least one near-dup pair")
    val banded = Simhash.nearDupPairs(docs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == exact)
  }

  test("fingerprint band values tile the 64 bits exactly") {
    val rows = Simhash.bandValues(fixture).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, bands) =>
      val fp = bands.head.getLong(1)
      val rebuilt = bands.map(r => r.getLong(3) << (r.getInt(2) * Simhash.BandBits))
        .reduce(_ | _)
      assert(rebuilt == fp)
      assert(bands.map(_.getInt(2)).sorted.toSeq == (0 until Simhash.Bands))
    }
  }

  test("maxBandDf cap drops hot-bucket-only pairs, keeps cold-band agreements") {
    import spark.implicits._
    // All docs share identical text => identical fingerprints => every band
    // bucket holds all 5 docs. Cap 4 drops every bucket => no candidates.
    val clones = (1L to 5L).map(i => (i, "same words in every single doc")).toDF("doc_id", "text")
    assert(Simhash.nearDupPairs(clones, maxDist = 3, maxBandDf = Some(4)).count() == 0)
    assert(Simhash.nearDupPairs(clones, maxDist = 3, maxBandDf = Some(5)).count() == 10)
    // Mixed corpus: the near-dup family agrees on cold buckets too, so a cap
    // that only bites genuinely hot buckets keeps the exact result.
    val docs = fixture
    val exact = Simhash.nearDupPairs(docs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Simhash.nearDupPairs(docs, maxDist = 3, maxBandDf = Some(6)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == exact)
  }
}
