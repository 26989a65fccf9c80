package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Bpe, Retrieval, Sketch}

/** Pins the native BPE encode expression against a reference
  * one-merge-at-a-time implementation (including the self-pair case a
  * replace-chain formulation mis-merges), and unit-covers the BM25 and HLL
  * paths the oracle queries exercise only end-to-end.
  */
class BpeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.local(4)

  /** Reference BPE encode: split to chars per word, then repeatedly merge
    * the single leftmost occurrence of the merge pair until none remains —
    * the textbook per-merge fixpoint the double-replace chain must equal.
    */
  private def referenceEncode(text: String, merges: Seq[(String, String)]): Seq[String] =
    text.split(" ").filter(_.nonEmpty).toSeq.flatMap { word =>
      var syms = word.map(_.toString).toVector
      for ((x, y) <- merges) {
        var i = syms.indexOfSlice(Seq(x, y))
        while (i >= 0) {
          syms = (syms.take(i) :+ (x + y)) ++ syms.drop(i + 2)
          i = syms.indexOfSlice(Seq(x, y))
        }
      }
      syms
    }

  test("native encode equals the one-merge-at-a-time reference (pretrained table)") {
    import spark.implicits._
    val texts = Seq(
      "spark window table join scan hash",
      "the thing under the table",
      "aaaa abab ababab",  // adjacent-occurrence boundary-space case
      "x", "und under thunder")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.encode(docs, Bpe.PretrainedMerges).orderBy(col("doc_id")).collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val ref = referenceEncode(t, Bpe.PretrainedMerges)
      val row = got(i)
      assert(row.getLong(1) == t.split(" ").length, s"n_words for '$t'")
      assert(row.getLong(2) == ref.length,
        s"n_tokens for '$t': got ${row.getLong(2)}, ref $ref")
    }
  }

  test("native encode matches the reference under the full 5000-rule production table") {
    import spark.implicits._
    val texts = Seq(
      "spark window table join scan hash the thing under thunder",
      "a quick jolt of scans and hashes over sorted tables",
      "zzz qqq xyzzy plugh")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.encode(docs).orderBy(col("doc_id")).collect()
    assert(Bpe.ProductionMerges.size == 5000)
    texts.zipWithIndex.foreach { case (t, i) =>
      val ref = referenceEncode(t, Bpe.ProductionMerges)
      assert(got(i).getLong(2) == ref.length,
        s"n_tokens for '$t': got ${got(i).getLong(2)}, ref $ref")
    }
  }

  test("adjacent pair occurrences all merge (per-merge fixpoint)") {
    import spark.implicits._
    // "ererer" with merge (e,r): all three occurrences merge -> 3 tokens,
    // not 5 (a single leftmost replace-all pass would strand the middle).
    val docs = Seq((1L, "ererer")).toDF("doc_id", "text")
    val row = Bpe.encode(docs, Seq("e" -> "r")).head()
    assert(row.getLong(2) == 3L)
    assert(referenceEncode("ererer", Seq("e" -> "r")).length == 3)
  }

  test("self-pair merge (x == y) over a run merges exactly like the reference") {
    import spark.implicits._
    // The case the old replace-chain got WRONG (it stranded tokens 3 and 6
    // of a 6-run, yielding 4 tokens): iterative leftmost merging of (a,a)
    // over "aaaaaa" gives aa aa aa = 3 tokens; "aaaaa" gives aa aa a = 3;
    // chained self-pairs ((a,a) then (aa,aa)) collapse further.
    val docs = Seq(
      (1L, "aaaaaa"), (2L, "aaaaa"), (3L, "aaa aaaa"), (4L, "a")
    ).toDF("doc_id", "text")
    val selfPair = Seq("a" -> "a")
    val got = Bpe.encode(docs, selfPair).orderBy(col("doc_id")).collect()
    assert(got.map(_.getLong(2)).toSeq == Seq(3L, 3L, 4L, 1L))
    for ((t, i) <- Seq("aaaaaa", "aaaaa", "aaa aaaa", "a").zipWithIndex)
      assert(got(i).getLong(2) == referenceEncode(t, selfPair).length, t)
    val chained = Seq("a" -> "a", "aa" -> "aa")
    val got2 = Bpe.encode(docs, chained).orderBy(col("doc_id")).collect()
    for ((t, i) <- Seq("aaaaaa", "aaaaa", "aaa aaaa", "a").zipWithIndex)
      assert(got2(i).getLong(2) == referenceEncode(t, chained).length, t)
  }

  test("repeated tokenCount calls against one merge table reuse ONE broadcast; unregister destroys it") {
    import spark.implicits._
    import graft.functions.BpeBroadcasts
    val docs = Seq((1L, "spark table"), (2L, "window join")).toDF("doc_id", "text")
    val table = Seq("q" -> "w", "qw" -> "e") // distinct from other tests' tables
    val before = BpeBroadcasts.registeredCount
    val id1 = BpeBroadcasts.registerCached(spark, table)
    // five more encode calls against the SAME table: registry must not grow
    for (_ <- 1 to 5) {
      val n = docs.select(Bpe.tokenCount(docs, col("text"), table).as("n"))
        .agg(sum(col("n"))).head().getLong(0)
      assert(n > 0L)
    }
    assert(BpeBroadcasts.registerCached(spark, table) == id1)
    assert(BpeBroadcasts.registeredCount == before + 1,
      "same-content table must reuse one broadcast across calls")
    // a DIFFERENT table gets its own broadcast
    val id2 = BpeBroadcasts.registerCached(spark, Seq("z" -> "x"))
    assert(id2 != id1 && BpeBroadcasts.registeredCount == before + 2)
    // unregister drops both registry and content cache; re-register re-broadcasts
    BpeBroadcasts.unregister(id1)
    BpeBroadcasts.unregister(id2)
    assert(BpeBroadcasts.registeredCount == before)
    intercept[IllegalArgumentException](BpeBroadcasts.get(id1))
    val id3 = BpeBroadcasts.registerCached(spark, table)
    assert(id3 != id1, "destroyed broadcast must not be served from the cache")
    BpeBroadcasts.unregister(id3)
  }

  test("merges never cross word boundaries") {
    import spark.implicits._
    // merge (a,b) must not fuse "a b" across the gap between words "xa" "by"
    val docs = Seq((1L, "xa by")).toDF("doc_id", "text")
    val row = Bpe.encode(docs, Seq("a" -> "b")).head()
    assert(row.getLong(2) == 4L) // x a b y stay 4 symbols
  }

  test("BM25 ranks the doc with more query-term mass first; scores positive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark join filler filler"),
      (2L, "spark filler filler filler filler filler"),
      (3L, "filler filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(docs, Seq("spark", "join"), k = 10).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // doc 3 has no hit
    assert(top.forall(_.getDouble(2) > 0.0))
    assert(top(0).getLong(1) == 2L && top(1).getLong(1) == 1L) // n_terms
  }

  test("HLL estimate tracks exact distinct within the p=6 error regime") {
    import spark.implicits._
    val items = (1 to 2000).map(i => ("g1", s"tok$i")) ++
      (1 to 10).map(i => ("g2", s"t$i"))
    val out = Sketch.hllDistinct(items.toDF("grp", "tok"), "grp", "tok", p = 6)
      .orderBy(col("grp")).collect()
    assert(out(0).getLong(1) == 2000L && out(1).getLong(1) == 10L)
    // m=64 registers: stderr ~ 1.04/sqrt(64) = 13%; allow 3 sigma
    assert(out(0).getDouble(3) < 0.4, s"rel_err g1 = ${out(0).getDouble(3)}")
    // small-range group goes through linear counting: much tighter
    assert(out(1).getDouble(3) < 0.3, s"rel_err g2 = ${out(1).getDouble(3)}")
  }

  test("HLL register formation is deterministic (md5-derived, no seed)") {
    import spark.implicits._
    val items = (1 to 500).map(i => ("g", s"v$i")).toDF("grp", "tok")
    val a = Sketch.hllDistinct(items, "grp", "tok").head().getDouble(2)
    val b = Sketch.hllDistinct(items, "grp", "tok").head().getDouble(2)
    assert(a == b)
  }

  test("count-min never underestimates; exact on a collision-free stream") {
    import spark.implicits._
    // single distinct item: no other key can collide into its counters
    val solo = Seq.fill(37)("only").toDF("tok")
    val r = Sketch.countMinTopK(solo, "tok").head()
    assert(r.getLong(1) == 37L && r.getLong(2) == 37L && r.getLong(3) == 0L)
    // mixed stream: the CMS guarantee is est >= exact for every probe
    val mixed = ((1 to 300).map(i => s"t${i % 40}") ++ Seq.fill(50)("hot"))
      .toDF("tok")
    val rows = Sketch.countMinTopK(mixed, "tok", k = 41).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(3) >= 0L))
    assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
    // the heavy hitter ranks first with its true count dominated
    assert(rows.head.getString(0) == "hot" && rows.head.getLong(1) == 50L)
  }

  test("fertility by language: merge-covered words hit 1.0, uncovered words stay fragmented") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark table", "en"), (2L, "window join", "en"),
      (3L, "zq wq", "xx"), (4L, "zq", "xx")
    ).toDF("doc_id", "text", "lang")
    val r = Bpe.fertilityByLang(docs, Bpe.PretrainedMerges).orderBy(col("lang")).collect()
    // en: every word is a single token under the pretrained merges
    assert(r(0).getString(0) == "en" && r(0).getDouble(4) == 1.0)
    // xx: no merge applies -> 2 chars = 2 tokens per word
    assert(r(1).getString(0) == "xx" && r(1).getDouble(4) == 2.0)
    assert(r(1).getLong(2) == 3L && r(1).getLong(3) == 6L)
  }

  test("histogram quantiles: upper-edge estimates bound the exact within one bucket") {
    import spark.implicits._
    val vals = (1 to 100).map(v => ("g", v.toLong)).toDF("grp", "v")
    val r = Sketch.histQuantiles(vals, "grp", "v", bucketWidth = 4).head()
    val (p50e, p50s) = (r.getDouble(2), r.getLong(3))
    val (p90e, p90s) = (r.getDouble(4), r.getLong(5))
    val (p99e, p99s) = (r.getDouble(6), r.getLong(7))
    assert(r.getLong(1) == 100L)
    // rank 50 lands in bucket 12 (48..51) -> upper edge 52
    assert(p50s == 52L && p50e == 50.5)
    for ((e, s) <- Seq((p50e, p50s), (p90e, p90s), (p99e, p99s))) {
      assert(s >= e - 4 && s <= e + 4, s"est $s vs exact $e")
    }
    assert(p50s <= p90s && p90s <= p99s)
  }

  test("embedding dim stats: dead dim, spread dim, and sparsity counter") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(0.5f, 0.0f)), (2L, Array(0.5f, 1.0f))
    ).toDF("vec_id", "embedding")
    val r = graft.llm.Ann.dimStats(embs).orderBy(col("pos")).collect()
    // dim 0: constant -> std 0, never small
    assert(r(0).getDouble(2) == 0.5 && r(0).getDouble(3) == 0.0 && r(0).getLong(6) == 0L)
    // dim 1: {0, 1} -> mean .5, std .5, one |x|<0.01 value
    assert(r(1).getDouble(2) == 0.5 && r(1).getDouble(3) == 0.5 && r(1).getLong(6) == 1L)
    assert(r(1).getDouble(4) == 0.0 && r(1).getDouble(5) == 1.0)
  }

  test("randomized: CMS estimates dominate exact counts on arbitrary streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 3) {
      // Zipf-ish stream: token t{i} appears ~ 400/i times
      val stream = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"t$i"))
      val shuffled = rnd.shuffle(stream).toDF("tok")
      val rows = Sketch.countMinTopK(shuffled, "tok", k = 40).collect()
      assert(rows.forall(r => r.getLong(2) >= r.getLong(1)))
      assert(rows.forall(_.getLong(3) >= 0L))
    }
  }

  test("randomized: histogram quantile estimate brackets the true order statistic") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 3) {
      val n = 200 + rnd.nextInt(300)
      val vals = Vector.fill(n)(rnd.nextInt(4000).toLong)
      val r = Sketch.histQuantiles(vals.map(("g", _)).toDF("grp", "v"),
        "grp", "v", bucketWidth = 4).head()
      val sorted = vals.sorted
      for ((q, idx) <- Seq(0.5 -> 3, 0.9 -> 5, 0.99 -> 7)) {
        val stat = sorted(math.ceil(q * n).toInt - 1) // rank-q order statistic
        val est = r.getLong(idx)
        assert(stat < est && est <= stat + 4,
          s"q=$q n=$n stat=$stat est=$est")
      }
    }
  }

  test("chunk dedup flags cross-doc reuse, ignores within-doc repetition") {
    import spark.implicits._
    val shared = (0 until 150).map(i => s"w$i").mkString(" ")
    val unique = (0 until 150).map(i => s"u$i").mkString(" ")
    // doc 3 repeats a 48-token period INSIDE one doc: every grid chunk has
    // the same digest, but only one doc is involved -> must not be flagged
    val periodic = (0 until 160).map(i => s"p${i % 48}").mkString(" ")
    val docs = Seq((1L, shared), (2L, shared), (3L, unique), (4L, periodic))
      .toDF("doc_id", "text")
    val rows = graft.llm.TextStats.chunkDedup(docs).collect()
    assert(rows.nonEmpty)
    // every flagged chunk spans exactly docs 1 and 2
    assert(rows.forall(r => r.getLong(1) == 2L &&
      r.getLong(3) == 1L && r.getLong(4) == 2L))
    // all three of doc 1's grid chunks are caught
    assert(rows.length == 3)
  }

  test("RAG chunks tile the document: full coverage, exact overlap, content-keyed digests") {
    import spark.implicits._
    val n = 150
    val text = (0 until n).map(i => s"w$i").mkString(" ")
    // doc 2 repeats doc 1's first 64 tokens at a DIFFERENT position
    val shifted = ("x " * 48) + (0 until 64).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, shifted), (3L, "a b c")).toDF("doc_id", "text")
    val rows = graft.llm.TextStats.ragChunks(docs).collect()
      .groupBy(_.getLong(0))
    val d1 = rows(1L).sortBy(_.getInt(1))
    // starts step by stride=48 while adding tokens beyond the 16-tok overlap
    assert(d1.map(_.getLong(2)).toSeq == Seq(0L, 48L, 96L))
    // coverage: union of [start, start+len) is exactly [0, n)
    val covered = d1.flatMap(r => r.getLong(2) until (r.getLong(2) + r.getLong(3))).toSet
    assert(covered == (0L until n.toLong).toSet)
    // a short doc yields one whole-doc chunk
    val d3 = rows(3L)
    assert(d3.length == 1 && d3.head.getLong(3) == 3L)
    // digest keys on content: doc 2's chunk at start 48 equals doc 1's first
    val d2 = rows(2L).find(_.getLong(2) == 48L).get
    assert(d2.getString(4) == d1.head.getString(4))
  }
}
