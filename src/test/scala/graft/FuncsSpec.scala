package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.Funcs

/** Scalar-function edge cases (SURVEY §2.9): ip codec roundtrips over the
  * full 32-bit range, reserved-range boundaries, and next_step arithmetic.
  */
class FuncsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  test("ipstr2int(int2ipstr(x)) == x across the 32-bit range (property)") {
    import spark.implicits._
    val ips = Gen.listOfN(200, Gen.chooseNum(0L, 4294967295L)).sample.get
      .:+(0L).:+(4294967295L).:+(2147483648L) // boundaries
    val got = ips.toDF("ip")
      .select(col("ip"), Funcs.ipstr2int(Funcs.int2ipstr(col("ip"))).as("rt"))
      .as[(Long, Long)].collect()
    got.foreach { case (ip, rt) => assert(ip === rt, s"roundtrip broke at $ip") }
  }

  test("reserved ranges classify their boundaries and miss their neighbors") {
    import spark.implicits._
    val cases = Funcs.ReservedRanges.flatMap { case (name, lo, hi) =>
      Seq((lo, name), (hi, name)) ++
        (if (lo > 0) Seq((lo - 1, null: String)) else Nil)
    }.toMap // later entries may overwrite neighbors that fall in another range
    val got = cases.keys.toSeq.toDF("ip")
      .select(col("ip"), Funcs.reservedRange(col("ip")).as("cls"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Funcs.ReservedRanges.foreach { case (name, lo, hi) =>
      assert(got(lo) == name && got(hi) == name, s"boundary of $name")
    }
  }

  test("nextStep yields the smallest base + k*step strictly above minimum") {
    import spark.implicits._
    val rows = Seq((0L, 13L, 7L), (0L, 14L, 7L), (100L, 100L, 10L), (5L, 3L, 4L))
    val got = rows.toDF("base", "minimum", "step")
      .select(Funcs.nextStep(col("base"), col("minimum"), col("step")).cast("long"))
      .as[Long].collect().toSeq
    assert(got === Seq(14L, 21L, 110L, 5L))
    got.zip(rows).foreach { case (ns, (b, m, st)) =>
      assert(ns > m && (ns - b) % st === 0)
    }
  }

  test("matchStr ignores case, separators, and surrounding space") {
    import spark.implicits._
    val got = Seq(("Zeu_S", "the zeus-malware family"), ("emotet", "EMO.TET rules"),
      ("agent", "nothing here")).toDF("needle", "hay")
      .select(Funcs.matchStr(col("needle"), col("hay")))
      .as[Boolean].collect().toSeq
    assert(got === Seq(true, true, false))
  }

  test("latest_k equals sort+slice on random data, including duplicates and k > n (property)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, collect_list, lit, slice, sort_array}
    // values drawn from a SMALL domain so boundary duplicates are common —
    // the case where a wrong tie-break would diverge from sort+slice
    val rows = Gen.listOfN(400, Gen.zip(Gen.chooseNum(0, 7), Gen.chooseNum(0L, 50L)))
      .sample.get
    val df = rows.toDF("g", "v").repartition(4)
    val k = 5
    val got = df.groupBy(col("g"))
      .agg(call_function("latest_k", col("v"), lit(k)).as("ring"))
    val want = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.functions.expr(
        s"slice(sort_array(collect_list(v)), greatest(size(collect_list(v)) - ${k - 1}, 1), $k)")
        .as("ring"))
    val g = got.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val w = want.collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(g === w)
    // k larger than any group: every value comes back, ascending
    val all = df.groupBy(col("g"))
      .agg(call_function("latest_k", col("v"), lit(10000)).as("ring"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val allWant = rows.groupBy(_._1).map { case (gk, vs) => gk -> vs.map(_._2).sorted }
    assert(all === allWant)
  }

  test("vec_sum buffer: null inputs skipped, empty partials absorbed, mismatches fail, serde round-trips") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val agg = graft.functions.VecSum(BoundReference(0, ArrayType(DoubleType), nullable = true))
    def row(xs: Double*) = InternalRow(new GenericArrayData(xs.toArray[Any]))

    // update: a null input leaves the buffer as it was, empty or not
    val empty = agg.createAggregationBuffer()
    assert(agg.update(empty, InternalRow(null)).isEmpty)
    val one = agg.update(agg.createAggregationBuffer(), row(1.0, 2.0))
    assert(agg.update(one, InternalRow(null)).toSeq == Seq(1.0, 2.0))
    assert(agg.update(one, row(0.5, 0.5)).toSeq == Seq(1.5, 2.5))

    // merge: an empty partial (a group whose rows were all null) is absorbed
    // from either side
    assert(agg.merge(Array(1.0, 2.0), agg.createAggregationBuffer()).toSeq == Seq(1.0, 2.0))
    assert(agg.merge(agg.createAggregationBuffer(), Array(3.0, 4.0)).toSeq == Seq(3.0, 4.0))
    assert(agg.merge(Array(1.0, 2.0), Array(3.0, 4.0)).toSeq == Seq(4.0, 6.0))
    assert(agg.eval(agg.createAggregationBuffer()) == null)

    // a length mismatch fails fast instead of truncating
    val u = intercept[IllegalArgumentException](agg.update(Array(1.0, 2.0), row(1.0, 2.0, 3.0)))
    assert(u.getMessage.contains("length mismatch"))
    val m = intercept[IllegalArgumentException](agg.merge(Array(1.0), Array(1.0, 2.0)))
    assert(m.getMessage.contains("length mismatch"))

    // the partial buffer survives the shuffle's serialize/deserialize
    val buf = Array(1.25, -0.0, Double.MaxValue, 1e-300)
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    assert(agg.deserialize(agg.serialize(Array.emptyDoubleArray)).isEmpty)
  }

  test("spark.sql.extensions alone makes every native function visible; register stays idempotent") {
    // a fresh session builds its function registry from the injected
    // extensions only: nothing registered imperatively on `spark` reaches it
    val fresh = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(fresh.catalog.functionExists(id.funcName), s"${id.funcName} not injected")
    }
    GraftExtensions.register(fresh)
    GraftExtensions.register(fresh)
    val cos = fresh.sql("SELECT cosine_sim(array(3.0D, 4.0D), array(4.0D, 3.0D))").head().getDouble(0)
    assert(math.abs(cos - 0.96) < 1e-12)
  }
}
