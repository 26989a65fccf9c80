package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tagsdsl.TagsDsl

/** One-row record for DSL evaluation (top-level: Spark's deserializer codegen
  * cannot instantiate classes nested in the suite).
  */
case class TagsDslTestRecord(num: Long, zero: Long, fnum: Double, s: String,
                             empty_s: String, nstr: String, arr: Seq[String],
                             earr: Seq[String], b: Boolean)

/** Semantics tests for the tags DSL compiler, mirroring the reference's
  * lenient evaluation rules (`NERDd/modules/tags.py:509–720`, grammar doc
  * `etc/tags.yml:1–45`): every case here reproduces what the Python
  * interpreter returns for the same record.
  */
class TagsDslSpec extends AnyFunSuite {
  private type R = TagsDslTestRecord
  private def R(num: Long, zero: Long, fnum: Double, s: String, empty_s: String,
                nstr: String, arr: Seq[String], earr: Seq[String], b: Boolean): R =
    TagsDslTestRecord(num, zero, fnum, s, empty_s, nstr, arr, earr, b)

  private lazy val spark: SparkSession = GraftSession.local(4)

  private lazy val df = {
    import spark.implicits._
    Seq(R(5L, 0L, 0.5, "abc", "", null, Seq("a", "b"), Seq.empty, b = true)).toDF()
  }

  /** (tagged?, confidence) for a condition over the one-row record. */
  private def eval(cond: String): (Boolean, Double) = {
    val c = TagsDsl.compileCondition(cond, df.schema)
    val row = df.select(c.logical.as("l"), c.confidence.as("m")).head()
    (row.getBoolean(0), row.getDouble(1))
  }

  test("arithmetic coercions: None=>0, string=>1, bool=>1; div-by-zero=>0") {
    assert(eval("num + 2") == (true, 7d))
    assert(eval("missing + 2") == (true, 2d))     // None => 0
    assert(eval("'str' + 1") == (true, 2d))       // string => 1
    assert(eval("b + 1") == (true, 2d))           // True => 1
    assert(eval("num / zero") == (false, 0d))     // ZeroDivisionError => 0
    assert(eval("num / 2") == (true, 2.5d))
    assert(eval("-missing + 3") == (true, 3d))
    assert(eval("-s + 1") == (false, 0d))         // -(1) + 1 = 0 => not tagged
  }

  test("comparison exceptions => False; None == None => True; bool is number") {
    assert(eval("missing == other_missing")._1)   // None == None
    assert(!eval("missing == 1")._1)
    assert(!eval("num > missing")._1)             // TypeError => False
    assert(!eval("missing <= missing2")._1)       // None <= None raises => False
    assert(eval("s == 'abc'")._1)
    assert(!eval("s == 5")._1)                    // mixed-type == => False
    assert(!eval("s < 5")._1)                     // mixed-type < raises => False
    assert(eval("b == 1")._1)                     // True == 1 (bools are numbers)
    assert(eval("nstr == missing")._1)            // both None => True
    assert(eval("1 + 2 * 3 == 7")._1)             // precedence
  }

  test("in / not in: exception => False for both polarities; substring on strings") {
    assert(eval("'a' in arr")._1)
    assert(eval("'z' not in arr")._1)
    assert(!eval("'z' in arr")._1)
    assert(!eval("'a' in missing")._1)            // TypeError => False
    assert(!eval("'a' not in missing")._1)        // TypeError => False, not True
    assert(eval("'b' in s")._1)                   // Python substring membership
    assert(!eval("5 in arr")._1)                  // mixed type: no exception, False
    assert(eval("5 not in arr")._1)
  }

  test("not uses Python truthiness; and/or use the non-None coercion") {
    assert(eval("not empty_s")._1)                // '' is falsy under not
    assert(!eval("not s")._1)
    assert(eval("not earr")._1)                   // [] falsy under not
    assert(eval("not zero")._1)
    assert(!eval("not num")._1)
    assert(eval("not missing")._1)
    assert(eval("empty_s and num")._1)            // '' non-None => true for and/or
    assert(eval("missing or num")._1)
    assert(!eval("zero or missing")._1)
    assert(!eval("not (num > 1)")._1)             // not binds over the comparison group
  }

  test("top-level evaluate_logical/mathematical") {
    assert(eval("earr") == (false, 1d))           // [] => not tagged (conf moot)
    assert(eval("empty_s") == (true, 1d))         // '' is NOT in the false set
    assert(eval("zero") == (false, 0d))
    assert(eval("num") == (true, 5d))             // numeric confidence passes through
    assert(eval("fnum") == (true, 0.5d))
    assert(eval("missing") == (false, 0d))
    assert(eval("b") == (true, 1d))
  }

  test("info interpolation leaves missing placeholders verbatim") {
    val info = TagsDsl.compileInfo("count={num} x={missing} tail", df.schema)
    assert(df.select(info).head().getString(0) == "count=5 x={missing} tail")
  }

  test("parser collects trigger attribute paths") {
    val (_, triggers) = TagsDsl.parse("a.b > 1 and c in d or not e")
    assert(triggers == Set("a.b", "c", "d", "e"))
  }
}
