package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.WardenFilter

/** Rule-engine semantics pinned against the reference's `_evaluate_rule`
  * (`warden_receiver.py:209–401`): set-membership `=`/`!=`, first-match-wins,
  * default action, AND/OR no-mixing, deterministic 1-in-N sampling, and the
  * missing-attribute `!=` pass.
  */
class WardenFilterSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  private def mk(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("event_id", "props")
  }

  test("missing attribute satisfies != (reference semantics)") {
    import spark.implicits._
    val df = mk(1L -> """{"k":"0"}""", 2L -> """{"x":"1"}""")
    val out = WardenFilter(df, Seq("k != 0 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(2L)) // row 1 has k=0 (fails !=), row 2 lacks k (passes)
  }

  test("first matching rule wins; default action applies to the rest") {
    import spark.implicits._
    val df = mk(1L -> """{"k":"a"}""", 2L -> """{"k":"b"}""", 3L -> """{"k":"c"}""")
    val out = WardenFilter(df, Seq(
      "k = a ; drop",
      "k = a ; pass", // unreachable: first match wins
      "k = b ; pass",
      "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(2L))
  }

  test("AND requires every clause; OR any clause") {
    import spark.implicits._
    val df = mk(
      1L -> """{"a":"1","b":"2"}""",
      2L -> """{"a":"1","b":"9"}""",
      3L -> """{"a":"9","b":"2"}""")
    val and = WardenFilter(df, Seq("a = 1 AND b = 2 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(and === Set(1L))
    val or = WardenFilter(df, Seq("a = 1 OR b = 2 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(or === Set(1L, 2L, 3L))
  }

  test("AND and OR cannot be mixed in one rule") {
    intercept[IllegalArgumentException] {
      WardenFilter.parseRules(Seq("a = 1 AND b = 2 OR c = 3 ; pass"))
    }
  }

  test("sample N keeps every Nth matching row in arrival order, deterministically") {
    import spark.implicits._
    val df = mk((1L to 10L).map(i => i -> s"""{"k":"s"}"""): _*)
    val out = WardenFilter(df, Seq("k = s ; sample 3", "; drop"))
      .select($"event_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(3L, 6L, 9L)) // occurrence index % 3 == 0
    // same input, same result — the sampler is a counter, not a coin
    val again = WardenFilter(df, Seq("k = s ; sample 3", "; drop"))
      .select($"event_id").as[Long].collect().sorted
    assert(again.toSeq === out.toSeq)
  }

  test("wildcard path '=' matches when the value is among ALL JSONPath matches") {
    import spark.implicits._
    val df = mk(
      1L -> """{"Source":[{"IP4":["1.2.3.4","5.6.7.8"]},{"IP4":["9.9.9.9"]}]}""",
      2L -> """{"Source":[{"IP4":["8.8.8.8"]}]}""",
      3L -> """{"Category":["Test"]}""")
    val out = WardenFilter(df, Seq("Source[*].IP4[*] = 9.9.9.9 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L)) // 9.9.9.9 is in row 1's flattened match list only
  }

  test("wildcard path '!=' passes rows whose matches lack the value, incl. missing attr") {
    import spark.implicits._
    val df = mk(
      1L -> """{"Source":[{"IP4":["1.2.3.4","5.6.7.8"]},{"IP4":["9.9.9.9"]}]}""",
      2L -> """{"Source":[{"IP4":["8.8.8.8"]}]}""",
      3L -> """{"Category":["Test"]}""")
    val out = WardenFilter(df, Seq("Source[*].IP4[*] != 8.8.8.8 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L, 3L)) // row 2 has it; row 3's missing attr satisfies !=
  }

  test("wildcard matches stringify numbers (reference str() semantics)") {
    import spark.implicits._
    val df = mk(
      1L -> """{"Target":[{"Port":[5060,443]}]}""",
      2L -> """{"Target":[{"Port":[22]}]}""")
    val out = WardenFilter(df, Seq("Target[*].Port[*] = 5060 ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L))
  }

  test("single-level wildcard works (Category[*])") {
    import spark.implicits._
    val df = mk(
      1L -> """{"Category":["Recon.Scanning","Test"]}""",
      2L -> """{"Category":["Abusive.Spam"]}""")
    val out = WardenFilter(df, Seq("Category[*] = Recon.Scanning ; pass", "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L))
  }

  test("hash sample mode is deterministic, 1-in-N-ish, and shuffle-free") {
    import spark.implicits._
    val df = mk((1L to 60L).map(i => i -> s"""{"k":"s"}"""): _*)
    val q = WardenFilter(df, Seq("k = s ; sample 3", "; drop"),
      sampleMode = WardenFilter.SampleMode.Hash)
    val out = q.select($"event_id").as[Long].collect().sorted.toSeq
    assert(out.nonEmpty && out.size < 60) // a strict, non-trivial subset
    val again = WardenFilter(df, Seq("k = s ; sample 3", "; drop"),
        sampleMode = WardenFilter.SampleMode.Hash)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(again === out)
    // the scale contract: zero Exchange — no window, no single-partition ceiling
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hash sample mode must not shuffle:\n$plan")
  }

  test("default action defaults to pass when no trailing rule is given") {
    import spark.implicits._
    val df = mk(1L -> """{"k":"z"}""")
    val out = WardenFilter(df, Seq("k = nope ; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L))
  }

  test("scalar paths ride the shared parse; mixed rules evaluate in one from_json") {
    import spark.implicits._
    val df = mk(
      1L -> """{"cat":"x","src":[{"ip":"1.1.1.1"}]}""",
      2L -> """{"cat":"y","src":[{"ip":"2.2.2.2"}]}""",
      3L -> """{"cat":"x","src":[{"ip":"3.3.3.3"}]}""")
    val q = WardenFilter(df,
      Seq("cat = x AND src[*].ip = 1.1.1.1 ; pass", "; drop"))
    assert(q.select($"event_id").as[Long].collect().toSet === Set(1L))
    // ONE parse for both the scalar and the wildcard clause (the local
    // fixture folds to LocalTableScan in the physical plan, so inspect the
    // analyzed plan where the extraction expressions are still visible)
    val plan = q.queryExecution.analyzed.toString
    assert(plan.contains("from_json"), plan)
    assert(!plan.contains("get_json_object"), plan)
  }

  test("a scalar path conflicting with a wildcard spine falls back and still evaluates") {
    import spark.implicits._
    // `a.b` (scalar leaf) vs `a.b[*].c` (array spine at b): incompatible
    // types in one tree — the scalar must fall back to get_json_object
    val df = mk(
      1L -> """{"a":{"b":[{"c":"hit"}]},"k":"s"}""",
      2L -> """{"a":{"b":"plain"},"k":"s"}""")
    val out = WardenFilter(df, Seq(
      "a.b[*].c = hit ; pass",
      "a.b = plain ; pass",
      "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L))
  }

  test("two conflicting wildcard paths both evaluate (per-path parse fallback)") {
    import spark.implicits._
    // `a[*]` (leaf array of strings) vs `a[*].b` (array of structs): the
    // spines cannot share one schema. The non-merged wildcard must get its
    // own from_json + multi-match — NOT a get_json_object scalar, which
    // would fail analysis under array_contains.
    val df = mk(
      1L -> """{"a":["v","w"]}""",
      2L -> """{"a":[{"b":"hit"}]}""",
      3L -> """{"a":["z"]}""")
    val out = WardenFilter(df, Seq(
      "a[*] = v ; pass",
      "a[*].b = hit ; pass",
      "; drop"))
      .select($"event_id").as[Long].collect().toSet
    assert(out === Set(1L, 2L))
  }

  test("heterogeneous runtime shapes: a row conflicting on one subtree keeps sibling extractions") {
    import spark.implicits._
    // Merged schema says src is array<struct<ip>> (from `src[*].ip`), but
    // row 2's src is an OBJECT at runtime. With enablePartialResults (Spark
    // 4.x default, pinned in Bench/Verify) the conflict is confined to the
    // src subtree: row 2's sibling scalar `cat` still extracts, so the
    // `cat = y` rule passes it — matching the reference's independent
    // per-path extraction.
    val prev = spark.conf.get("spark.sql.json.enablePartialResults", "true")
    spark.conf.set("spark.sql.json.enablePartialResults", "true")
    try {
      val df = mk(
        1L -> """{"cat":"x","src":[{"ip":"1.1.1.1"}]}""",
        2L -> """{"cat":"y","src":{"ip":"2.2.2.2"}}""",
        3L -> """{"cat":"z","src":[{"ip":"3.3.3.3"}]}""")
      val out = WardenFilter(df, Seq(
        "src[*].ip = 1.1.1.1 ; pass",
        "cat = y ; pass",
        "; drop"))
        .select($"event_id").as[Long].collect().toSet
      assert(out === Set(1L, 2L))
    } finally spark.conf.set("spark.sql.json.enablePartialResults", prev)
  }
}
