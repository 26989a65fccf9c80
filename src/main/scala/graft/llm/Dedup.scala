package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Artifacts

/** Document deduplication operators for large-scale training-data pipelines.
  *
  * Every operator here is built around one scale rule: NEVER form the n²
  * document-pair space. Candidates come from an inverted index (shared
  * shingle), MinHash band buckets, or SimHash band buckets — all of which are
  * equi-joins Catalyst executes as shuffled hash joins keyed on the bucket,
  * so cost is O(candidate pairs), and candidate generation is itself bounded
  * (`maxShingleDf` caps inverted-index skew: a stop-shingle shared by
  * millions of docs would otherwise create a quadratic bucket).
  *
  * Cross-engine determinism: the base hash is `md5` (identical in Spark and
  * DuckDB); MinHash uses one md5-derived 32-bit base hash per shingle and an
  * affine integer permutation family, so the DuckDB oracle implements the
  * same pipeline bit-for-bit.
  */
object Dedup {

  /** Rabin–Karp rolling-hash chunk fingerprints: one polynomial hash
    * `fp = Σ h(tok_i)·B^(w-1-i) mod P` per `w`-token window every `stride`
    * tokens. Order-SENSITIVE where [[fingerprint]] is a bag — a repeated
    * chunk means a verbatim shared passage (boilerplate, quoted text, a
    * copied paragraph), the unit content-defined chunk dedup works on.
    * All-integer modular arithmetic (base 131, mod 2³¹−1) over one md5-derived
    * 32-bit hash per token, so the DuckDB oracle reproduces it bit-for-bit.
    *
    * Scale shape: per-document map-side expression work (the windows never
    * explode into a shuffle wider than |docs|·windows-per-doc), then one
    * hash aggregation keyed on the fingerprint. Documents shorter than `w`
    * have no chunk (also guards Spark's descending `sequence(0, -1)`).
    */
  def chunkFingerprints(docs: DataFrame, w: Int = 32, stride: Int = 16): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    // chunk_fps is the native codegen form of the transform/aggregate HOF
    // pipeline (one md5 per token, Horner per window) — bit-identical,
    // pinned by LlmOpsSpec; window k's offset is k*stride via posexplode
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(call_function("chunk_fps", col("toks"), lit(w), lit(stride)))
          .as(Seq("pos", "fp")))
      .select(col("doc_id"), (col("pos") * stride).as("off"), col("fp"))
  }

  /** Verbatim-shared passages across documents: chunk fingerprints appearing
    * in ≥2 distinct documents. `size(collect_set)` not `countDistinct` (one
    * shuffle, see the snapshot plan pin); the keeper is the minimum holder.
    */
  def repeatedChunks(docs: DataFrame, w: Int = 32, stride: Int = 16): DataFrame =
    chunkFingerprints(docs, w, stride)
      .groupBy(col("fp"))
      .agg(size(collect_set(col("doc_id"))).cast("long").as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("keeper"))
      .filter(col("n_docs") >= 2)

  /** Per-document duplicated-span statistics — the ExactSubstr signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") at span granularity: every stride-1 `n`-token span is keyed
    * across the corpus, a span with total occurrence count ≥ 2 (anywhere,
    * including within its own document) is duplicated, and each document
    * reports what fraction of its spans is duplicated — the signal the
    * paper cuts on. The full-resolution complement of [[repeatedChunks]]'
    * strided probe: stride 1 catches verbatim reuse at ANY alignment.
    *
    * Scale shape: span formation stays in-projection (`transform` over the
    * token array — no self-join, no window); occurrence counting is one
    * hash aggregation keyed by the span's 128-bit md5 (the shuffle carries
    * the fixed-width digest, never the raw n-token string); scoring
    * re-joins by the digest with both sides shuffle-partitioned on it (the
    * span inventory is corpus-sized and never broadcasts). Documents
    * shorter than `n` tokens have no spans and are absent (the `sequence`
    * descent guard, as in chunking).
    */
  def dupSpanStats(docs: DataFrame, n: Int = 10): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val t = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
    // span_digests is the native codegen form of
    //   transform(sequence(0, size(w)-n), i -> md5(concat_ws(' ', slice(...))))
    // — the HOF pipeline evaluates interpreted, this stays in codegen
    val spans = t.select(col("doc_id"),
      explode(call_function("span_digests", col("w"), lit(n))).as("span"))
    val counts = spans.groupBy(col("span")).agg(count(lit(1)).as("occ"))
    spans.join(counts, Seq("span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_spans"), 4).as("dup_frac"))
  }

  /** Exact duplicate groups: hash-groupBy on the full text. One shuffle keyed
    * on the 128-bit digest; at 100 TB you'd group on (md5, length) prefix
    * buckets the same way.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Bag-of-words fingerprint (word-order-insensitive dedup): md5 of the
    * sorted distinct token set. Catches shuffled/reordered near-copies that
    * exact hashing misses, still one shuffle.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", md5(array_join(sort_array(array_distinct(split(col("text"), " "))), " ")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_docs"))

  /** Distinct word n-gram shingles per document: (doc_id, s). */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    // ngram_spans is the native codegen form of the transform/slice HOF
    // pipeline — byte-identical strings, pinned by LlmOpsSpec
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        explode(call_function("ngram_spans", col("w"), lit(n))).as("s"))
      .distinct()
  }

  /** Cross-source shingle-overlap matrix — the dataset-composition audit
    * published with corpus papers and consumed by dedup policy ("how much
    * of source A is already in source B" decides which source survives a
    * cross-source near-dup): distinct n-gram shingle sets per source,
    * pairwise intersection sizes, Jaccard per source pair.
    *
    * Scale shape: ONE distinct hash-agg builds the (source, shingle) set,
    * materialized via localCheckpoint because THREE consumers fan out from
    * it (both self-join sides and the per-source size aggregate — exchange
    * reuse covers the identically-partitioned join sides but the size
    * branch would otherwise re-run the full shingle pipeline); the
    * self-join is keyed on the shingle, and a shingle shared by k of
    * the S sources contributes C(k,2) ≤ C(S,2) slim count rows — constant
    * per shingle for a fixed source taxonomy (sources are a taxonomy of
    * tens, not a per-document id), so total work is O(|distinct shingles|)
    * with map-side-combined counts and a broadcast of the S-row size table.
    * (On a cluster with a checkpoint dir, `checkpoint` — the blob is the
    * distinct (source, shingle) set, the table a dedup campaign
    * materializes anyway.) Output: (src_a, src_b, n_a, n_b, shared,
    * jaccard).
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    // Artifacts.swapLiveCheckpoint: the returned matrix is a lazy plan over
    // ss, so ss cannot be freed here — the swap bounds the former
    // session-lifetime leak to one live |distinct shingles|-sized copy
    val ss = Artifacts.swapLiveCheckpoint("sourceOverlap", shingles(docs, n)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), col("s")).distinct()
      .localCheckpoint())
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val res = ss.as("a").join(ss.as("b"),
        col("a.s") === col("b.s") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b"))), Seq("src_b"))
      .withColumn("jaccard",
        round((col("shared") / (col("n_a") + col("n_b") - col("shared")))
          .cast("decimal(28,10)"), 6).cast("double"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("shared"), col("jaccard"))
    res
  }

  /** Default document-frequency cap for the inverted-index candidate join.
    * A shingle shared by df documents contributes df² candidate rows, so the
    * uncapped index is super-linear in corpus size (measured 3.3× normalized
    * at a 10× scale smoke); capping bounds any single shingle's contribution
    * at cap² while dropping only stop-shingles that carry no near-dup signal
    * (a pair at Jaccard ≥ 0.8 shares hundreds of DISCRIMINATIVE shingles —
    * `LlmOpsSpec` pins recall vs. the exact result at the default threshold).
    */
  val DefaultMaxShingleDf = 1000

  /** Exact shingle-Jaccard near-duplicate pairs via an inverted-index join:
    * candidates are pairs sharing at least one shingle (a superset of any
    * positive-threshold result), intersections counted per pair, sizes joined
    * back. `maxShingleDf` drops shingles whose document frequency exceeds the
    * cap — the skew guard for 100 TB (a shingle in 10⁶ docs would contribute
    * 10¹² candidate rows). CAPPED BY DEFAULT: the uncapped index is the one
    * job shape here that cannot finish at corpus scale, so exact semantics
    * are opt-in (`maxShingleDf = None`), not a flag you can forget.
    */
  def nearDupPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Option[Int] = Some(DefaultMaxShingleDf)): DataFrame =
    nearDupPairsFromShingles(shingles(docs, n), threshold, maxShingleDf)

  /** Same, over a prepared shingle table — at corpus scale the (doc, shingle)
    * table is materialized ONCE per dedup campaign and shared by every
    * candidate generator (inverted-index, MinHash), not re-derived per query.
    */
  def nearDupPairsFromShingles(sh0: DataFrame, threshold: Double,
                               maxShingleDf: Option[Int] = Some(DefaultMaxShingleDf)): DataFrame = {
    val sh = maxShingleDf match {
      case Some(cap) =>
        val hot = sh0.groupBy(col("s")).agg(count(lit(1)).as("df")).filter(col("df") > cap)
        // Eagerly surface how much the cap degraded recall: an approximate
        // run must be distinguishable from an exact one in the logs. One
        // extra pass over the shingle table — the observability is the point.
        val st = hot.agg(count(lit(1)).as("n"), coalesce(max(col("df")), lit(0L)).as("m")).head()
        if (st.getLong(0) > 0)
          log.warn(s"shingle-df cap $cap engaged: dropping ${st.getLong(0)} hot shingles " +
            s"(max df ${st.getLong(1)}); pairs whose SHARED shingles are all above the cap " +
            "are not emitted — result is approximate (recall pinned in LlmOpsSpec)")
        else
          log.info(s"shingle-df cap $cap set but no shingle exceeds it: result is exact")
        // the stop-shingle set is small by construction (≤ |occurrences|/cap
        // distinct values): broadcast it so the anti-join costs a map-side
        // bloom-style pass instead of re-shuffling the full shingle table
        sh0.join(broadcast(hot), Seq("s"), "left_anti")
      case None => sh0
    }
    // Exact path: intersections straight off the inverted-index self-join —
    // one shuffled hash join on the shingle plus one pair-keyed aggregation.
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    attachJaccard(sh, inter, threshold)
  }

  /** Exact Jaccard for given candidate pairs, filtered to `>= threshold`.
    * Candidate-FIRST: shingles are joined onto the candidate pairs (by d1,
    * then the d2 side matched on (d2, s)), so the heavy work scales with
    * O(Σ_candidates |shingles(d1)|) — not with the full all-shingle-sharing
    * pair space the LSH bucketing exists to avoid. Pairs with an empty
    * intersection drop out of the equi-join, which is correct for any
    * threshold > 0.
    */
  def jaccardOverCandidates(sh: DataFrame, cands: DataFrame, threshold: Double,
                            k1: String = "d1", k2: String = "d2"): DataFrame = {
    val inter = cands
      .join(sh.select(col("doc_id").as(k1), col("s")), Seq(k1))
      .join(sh.select(col("doc_id").as(k2), col("s")), Seq(k2, "s"))
      .groupBy(col(k1), col(k2))
      .agg(count(lit(1)).as("inter"))
    attachJaccard(sh, inter, threshold, k1, k2)
  }

  /** Join per-doc shingle-set sizes onto pair intersection counts and filter
    * by the Jaccard threshold.
    */
  private def attachJaccard(sh: DataFrame, inter: DataFrame, threshold: Double,
                            k1: String = "d1", k2: String = "d2"): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("doc_id").as(k1), col("sz").as("sz1")), Seq(k1))
      .join(sizes.select(col("doc_id").as(k2), col("sz").as("sz2")), Seq(k2))
      .withColumn("jaccard", round(col("inter") / (col("sz1") + col("sz2") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col(k1), col(k2), col("jaccard"))
  }

  /** WIDE MinHash signatures: all k per-document minima as k aggregate
    * columns of ONE `groupBy(doc_id)` — `mh_i = min(md5(i || '|' || s))`.
    * A string-min MinHash (any uniform hash family estimates Jaccard; md5 +
    * lexicographic min reproduces in any engine). The wide shape matters at
    * scale: the k hashes are evaluated per input row but partial aggregation
    * collapses them map-side, so the shuffle carries |docs| rows of k values
    * instead of |doc-shingle pairs|·k exploded rows (a k× shuffle-volume
    * reduction that cut this operator 3× on the bench).
    */
  def minhashSignaturesWide(sh: DataFrame, k: Int = 64): DataFrame = {
    // ONE base hash per shingle (first 8 md5 hex digits as a 32-bit int),
    // then k affine permutations (h·(2i+1) + i·2654435761) mod (2³¹−1) — the
    // classic universal-hash MinHash family. Integer arithmetic replaces k
    // md5 evaluations per shingle (md5 was >90% of this operator's CPU),
    // stays in whole-stage codegen, and reproduces exactly in DuckDB.
    val withH = sh.withColumn("h", conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"))
    val aggs = (0 until k).map { i =>
      min((col("h") * (2L * i + 1) + lit(i.toLong) * 2654435761L) % MinhashPrime).as(s"mh$i")
    }
    withH.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  val MinhashPrime = 2147483647L // 2^31 - 1

  /** Banded LSH over the MinHash signature: band b hashes the concatenation
    * of its `rowsPerBand` signature values; docs colliding in ≥1 band are
    * candidates; candidates are verified with EXACT Jaccard so the output has
    * no false positives (`threshold` is the verification bar). With k=64,
    * r=4: P(candidate) = 1-(1-s⁴)¹⁶ — ≈1 for s ≥ 0.8, ≈0.0004 for the 0.07
    * background, i.e. the candidate set is ~linear in true duplicates.
    */
  def minhashLsh(docs: DataFrame, n: Int = 3, k: Int = 64, rowsPerBand: Int = 4,
                 threshold: Double = 0.5,
                 prefilterMargin: Double = 0.25): DataFrame =
    minhashLshFromShingles(shingles(docs, n), k, rowsPerBand, threshold,
      prefilterMargin)

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise hits into DEDUP GROUPS (a cluster keeps one canonical
    * document; transitive duplicates a~b, b~c must land in one group even
    * when a~c itself scored below threshold).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
    * two shuffle-bounded self-aggregations of the EDGE list (never the pair
    * closure), and the edge count only shrinks; convergence is O(log n)
    * rounds. This is the 100-TB shape: label-propagation converges in
    * graph-diameter rounds (a duplicate chain of length d needs d passes),
    * star contraction in log. Each round materializes the edge set via
    * `localCheckpoint` to cut the iterative plan's lineage — on a cluster
    * with a checkpoint dir, `checkpoint` — so the plan does not grow
    * per-iteration.
    *
    * Input: pairs with columns (d1, d2). Output: one row per NODE that is
    * not its own component minimum — columns (node, root) with
    * root = min(component). Nodes absent from any pair are absent here
    * (callers left-join and coalesce to self, see [[clusterAssignments]]).
    */
  def components(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    var e = pairs
      .select(greatest(col("d1"), col("d2")).as("u"), least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: every node attaches its LARGER neighbors to the minimum
      // of its closed neighborhood — long chains fold toward the small ids.
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = bidir.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = bidir.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: orient edges large→small; every node re-points itself and
      // all its smaller neighbors at the smallest one.
      val or = large.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val sMin = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = or.join(sMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(sMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      // equal-size + one-sided multiset difference ⇒ set equality (both are
      // distinct), at half the exceptAll cost of the naive two-sided check
      converged = next.count() == e.count() && next.exceptAll(e).isEmpty
      // the convergence count() above materialized `next`, so the previous
      // round's checkpointed edge blocks are dead — free them eagerly
      // instead of waiting for the ContextCleaner's GC-driven sweep, which
      // on a long-lived session can retain O(rounds) full edge sets
      if (!converged) Artifacts.freeLocalCheckpoint(e)
      e = next
      i += 1
    }
    require(converged, s"components() did not converge in $maxIter rounds")
    e.select(col("u").as("node"), col("v").as("root"))
  }

  /** Benchmark-contamination scan: for each corpus document, the CONTAINMENT
    * of each benchmark (eval-set) document's shingle set inside it —
    * `|shingles(doc) ∩ shingles(bench)| / |shingles(bench)|`. Asymmetric on
    * purpose: a training document that embeds a whole eval item scores 1.0
    * no matter how much other text surrounds it, where Jaccard would dilute
    * the hit below any threshold.
    *
    * Scale shape: the eval set is tiny (thousands of items) against a 100-TB
    * corpus, so BOTH the benchmark shingle table and the per-benchmark sizes
    * are broadcast — the corpus-side shingle table is scanned once, map-side,
    * with no shuffle until the (doc, bench) intersection counts (bounded by
    * hits, not by corpus size).
    */
  def contamination(sh: DataFrame, benchMaxId: Long, threshold: Double = 0.5): DataFrame = {
    val bench = sh.filter(col("doc_id") <= benchMaxId)
      .select(col("doc_id").as("bench_id"), col("s"))
    val bsizes = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("bsz"))
    val inter = sh.filter(col("doc_id") > benchMaxId)
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("inter"))
    // decimal-hop round: integer/integer ratios can land exactly on a 6-dp
    // half boundary, where Spark (decimal-string HALF_UP) and the DuckDB
    // oracle (binary round) disagree; the 10-dp decimal hop unifies both.
    inter.join(broadcast(bsizes), Seq("bench_id"))
      .withColumn("containment",
        round((col("inter") / col("bsz")).cast("decimal(28,10)"), 6).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("containment"))
  }

  /** Long-n-gram decontamination — the GPT-3/PaLM discipline (the GPT-3
    * paper filters training docs sharing any 13-gram with an eval set;
    * PaLM/Llama use the same long-n-gram hit rule): a single shared n-gram
    * at n = 13 is an effectively verbatim overlap, so ANY hit flags the
    * (corpus doc, benchmark doc) pair — no containment ratio, no threshold
    * tuning. Complements [[contamination]]'s shingle-containment scan: that
    * one catches paraphrase-level overlap on short shingles; this one is
    * the strict verbatim filter run before a training dump ships.
    *
    * Scale shape: identical to [[contamination]] — the benchmark side is
    * tiny and BROADCAST, the corpus side streams through one hash join and
    * an (doc, bench)-keyed count; no corpus shuffle, no pair space.
    * Output: (doc_id, bench_id, n_hits) — distinct shared n-grams per pair.
    */
  def ngramContamination(shN: DataFrame, benchMaxId: Long): DataFrame = {
    val bench = shN.filter(col("doc_id") <= benchMaxId)
      .select(col("doc_id").as("bench_id"), col("s"))
    shN.filter(col("doc_id") > benchMaxId)
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document cluster assignment: every document mapped to the minimum
    * doc_id of its near-duplicate component (itself when it has no
    * duplicates), plus the cluster size. The canonical "which copy do we
    * keep" answer: keep `doc_id == cluster`, drop the rest.
    */
  def clusterAssignments(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val roots = components(pairs)
    val asg = docs.select(col("doc_id"))
      .join(roots.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster"))
    asg.withColumn("csize",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))))
  }

  /** Incremental exact dedup of an incoming batch against a prior corpus,
    * Bloom-pruned: the common case at 100 TB is "new crawl vs. existing
    * corpus", where joining every incoming digest against the full prior
    * digest table shuffles the (huge) prior side for a batch that is mostly
    * novel. Instead:
    *
    *  1. ONE aggregate pass over prior digests builds a Bloom filter
    *     (Spark's native `BloomFilterAggregate`, the same sketch the
    *     runtime-filter optimizer injects), collected to the driver and
    *     embedded as a plan literal — the broadcast shape, sized by
    *     `expectedPrior`/`fpp`.
    *  2. Incoming docs whose digest the filter rules out are DEFINITELY new
    *     and never touch a join.
    *  3. Only the maybe-duplicates (true dups + fpp false positives) run
    *     the exact anti-join verification, so the join input is a sliver of
    *     the batch and the result is EXACT regardless of the fpp.
    *
    * Sizing is DERIVED, not caller-supplied: `numBits` comes from the
    * standard `(expectedPrior, fpp)` formula (see [[bloomBitsFor]]), so the
    * two knobs cannot drift apart — an under-bit filter silently degrades to
    * all-maybe-dup, which keeps the answer exact but pays the full join this
    * operator exists to avoid. When honest sizing would exceed `maxBits`
    * (the sketch is a driver-side plan literal; ~10⁹ priors at 1% is ~1.2 GB)
    * the operator logs and falls back to the plain distinct anti-join rather
    * than ship a filter that no longer filters.
    *
    * Output: the incoming rows that are not byte-duplicates of any prior
    * doc, with their digests.
    */
  def incrementalExactDedup(docs: DataFrame, cutoff: Long,
                            expectedPrior: Long = 1000000L,
                            fpp: Double = 0.02,
                            maxBits: Long = 1L << 30): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val withDigest = docs.withColumn("digest", md5(col("text")))
    val prior = withDigest.filter(col("doc_id") < cutoff).select(col("digest"))
    val incoming = withDigest.filter(col("doc_id") >= cutoff)
      .select(col("doc_id"), col("digest"))
    val exactAntiJoin = incoming.join(prior.distinct(), Seq("digest"), "left_anti")
      .select(col("doc_id"), col("digest"))
    val numBits = bloomBitsFor(expectedPrior, fpp)
    if (numBits > maxBits) {
      log.warn(s"incrementalExactDedup: honest Bloom sizing ($numBits bits for " +
        s"$expectedPrior priors at fpp=$fpp) exceeds maxBits=$maxBits; " +
        "falling back to the plain anti-join")
      exactAntiJoin
    } else {
      val bf = prior
        .agg(expr(s"graft_bloom_agg(xxhash64(digest), ${expectedPrior}L, ${numBits}L)"))
        .head.getAs[Array[Byte]](0)
      if (bf == null) incoming // empty prior: everything is new
      else {
        val maybeDup = call_function("graft_might_contain", lit(bf), xxhash64(col("digest")))
        incoming.filter(!maybeDup)
          .unionByName(
            incoming.filter(maybeDup)
              .join(prior.distinct(), Seq("digest"), "left_anti")
              .select(col("doc_id"), col("digest")))
      }
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Standard Bloom sizing: m = ⌈−n·ln(p) / (ln 2)²⌉ bits for n expected
    * items at false-positive rate p (with the optimal hash count Spark's
    * implementation derives from m/n, the realized rate lands on p).
    */
  def bloomBitsFor(expectedItems: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")
    val ln2 = math.log(2)
    math.max(64L, math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong)
  }

  /** Banded-LSH pipeline over a prepared shingle table (see
    * [[nearDupPairsFromShingles]] for why the table is shared).
    */
  /** LSH banding calibration: for each candidate `rowsPerBand` r, the
    * realized candidate volume, precision, and recall against the EXACT
    * pair set at `threshold` — the measurement that picks r before a
    * 100-TB dedup run commits to it. The banding S-curve
    * `P(candidate | jaccard=s) = 1−(1−s^r)^(k/r)` says more rows per band
    * → fewer, higher-precision candidates and lower recall; this report
    * replaces the formula with the corpus' own numbers.
    *
    * Scale shape: ONE wide-signature aggregation feeds every config (the
    * per-config band projections re-derive the same exchange, which Spark's
    * ReuseExchange collapses); the per-config candidate sets union into a
    * single tagged frame judged by ONE left join against the broadcast
    * exact-pair truth (`exactPairs`, materialized once per campaign by the
    * caller — it is one row per true duplicate pair, tiny by construction),
    * then one |configs|-row aggregation. No per-config verification joins.
    * Output: (rows_per_band, n_bands, n_cand, n_true, n_exact, precision,
    * recall).
    */
  def lshCalibration(sig: DataFrame, exactPairs: DataFrame, k: Int = 64,
                     configs: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    // a candidate is TRUE iff it is in the exact pair set, so the per-config
    // re-verification join collapses to one semi-judgment against the tiny
    // broadcast truth table — the expensive exact pass runs once (the caller
    // materializes it per campaign), not once per config
    val exact = exactPairs.select(col("d1"), col("d2"), lit(1L).as("istrue"))
    val candsAll = configs.map { r =>
      val bandCols = (0 until k / r).map { b =>
        md5(concat_ws("|", (0 until r).map(j => col(s"mh${b * r + j}")): _*))
      }
      sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
        .as("a").join(
          sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh"))).as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
        .select(lit(r.toLong).as("rows_per_band"), col("d1"), col("d2"))
    }.reduce(_ unionAll _)
    val perCfg = candsAll.join(broadcast(exact), Seq("d1", "d2"), "left")
      .groupBy(col("rows_per_band"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("istrue"), lit(0L))).as("n_true"))
    // a config whose candidate set is EMPTY drops out of the aggregation —
    // reinstate it with zeros so the report always has one row per config
    val cfgDf = sig.sparkSession.range(1)
      .select(explode(array(configs.map(r =>
        struct(lit(r.toLong).as("rows_per_band"), lit((k / r).toLong).as("n_bands"))): _*))
        .as("c"))
      .select(col("c.rows_per_band"), col("c.n_bands"))
    cfgDf.join(perCfg, Seq("rows_per_band"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .crossJoin(broadcast(exactPairs.agg(count(lit(1)).as("n_exact"))))
      .withColumn("precision", when(col("n_cand") === 0, lit(0d)).otherwise(
        round((col("n_true") * lit(1.0) / col("n_cand")).cast("decimal(28,10)"), 6)
          .cast("double")))
      .withColumn("recall", when(col("n_exact") === 0, lit(0d)).otherwise(
        round((col("n_true") * lit(1.0) / col("n_exact")).cast("decimal(28,10)"), 6)
          .cast("double")))
  }

  /** Deterministic FIXED-SIZE calibration sample over a signature table:
    * the `n` documents ranking lowest by `md5(mh0)` (tie-broken by doc_id).
    * Ranking by a hash of the FIRST MINHASH — not of the doc id — is the
    * point: two documents at Jaccard s share their minimum shingle hash
    * with probability s, land on the SAME rank key, and survive the cut
    * together — so true near-dup pairs enter the sample at rate ≈ s·(n/N)
    * instead of the (n/N)² an independent per-doc draw would give, and the
    * sampled truth set still contains enough positives to measure recall.
    * Fixed size means the downstream exact all-pairs truth is bounded by
    * n² at ANY corpus scale. A top-n by rank is `TakeOrderedAndProject` —
    * per-partition top-n, no global sort.
    */
  def calibrationSample(sig: DataFrame, n: Int): DataFrame =
    sig.withColumn("_r", md5(col("mh0").cast("string").cast("binary")))
      .orderBy(col("_r"), col("doc_id")).limit(n).drop("_r")

  /** SAMPLED LSH banding calibration — the scale-capable variant of
    * [[lshCalibration]]. The full calibration consumes the deliberately
    * uncapped exact all-pairs truth, which by its own definition cannot
    * complete at corpus scale — but banding must be calibrated IN the
    * regime it is chosen for. This variant measures the same report on a
    * deterministic [[calibrationSample]] of `n` documents: the only
    * corpus-size-proportional work is the signature pass the campaign has
    * already paid (one linear scan), while the exact truth, the band joins,
    * and the report are all bounded by the sample — the job completes
    * unchanged at 1× or 1000×. The banding S-curve is a per-pair property,
    * so precision/recall measured on a content-bucketed sample estimate
    * the corpus values (the sample preserves the pair-level Jaccard mix;
    * only pair COUNTS shrink).
    */
  def lshCalibrationSampled(sig: DataFrame, sh: DataFrame, n: Int = 200,
                            k: Int = 64,
                            configs: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    // the sample is ≤ n rows: checkpoint it once so the per-config band
    // projections and the truth path reuse the materialized rows instead of
    // re-running the top-n over the signature table per consumer
    val ssig = Artifacts.swapLiveCheckpoint("lshCalibrationSampled",
      calibrationSample(sig, n).localCheckpoint())
    val ids = ssig.select(col("doc_id"))
    val ssh = sh.join(broadcast(ids), Seq("doc_id"))
    val truth = nearDupPairsFromShingles(ssh, threshold = 0.5,
      maxShingleDf = None)
    lshCalibration(ssig, truth, k, configs)
  }

  def minhashLshFromShingles(sh: DataFrame, k: Int = 64, rowsPerBand: Int = 4,
                             threshold: Double = 0.5,
                             prefilterMargin: Double = 0.25): DataFrame =
    minhashLshFromSignatures(minhashSignaturesWide(sh, k), sh, k, rowsPerBand,
      threshold, prefilterMargin)

  /** The banded candidate join over an ALREADY-materialized signature table
    * — in a real dedup campaign the k-column signatures are stored once and
    * reused across band configs, incremental batches, and calibration runs
    * (they are the expensive part: one pass over every shingle of the
    * corpus).
    *
    * COST FLOOR, measured (`SmokeProbes.lshCost`, 500k docs at 100×): this
    * is the suite's heaviest scaled job, and the receipt says the cost is a
    * floor, not a fixable plan defect. The band-bucket histogram is FLAT
    * (p999 bucket = 12 docs, max 307; buckets >64 docs hold 7% of raw
    * collision mass, >256 hold 1.5%), so a hot-bucket cap — the
    * `DefaultMaxShingleDf` trick — buys under 10% here and is not applied.
    * The real mass is moderate-overlap candidates: of 2.46M distinct
    * candidate pairs, 46% have signature estimates within 2σ BELOW the
    * threshold (k = 64 ⇒ σ ≈ 0.0625) and 11% at/above it — no
    * signature-based gate can drop within-2σ mass without real recall risk,
    * which is why the shipped 4σ gate only removes the unambiguous 13%.
    * Exactly verifying that near-threshold mass (~1.4M shingle-join pairs
    * here) IS the operator's honest price; the corpus plants it by design
    * (replica pairs at Jaccard ≈ 0.4 against a 0.5 threshold), mirroring a
    * post-crawl corpus where near-miss duplicates hug the dedup bar.
    */
  def minhashLshFromSignatures(sig: DataFrame, sh: DataFrame, k: Int = 64,
                               rowsPerBand: Int = 4,
                               threshold: Double = 0.5,
                               prefilterMargin: Double = 0.25): DataFrame = {
    val bands = lshBandRows(sig, k, rowsPerBand)
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // The gated survivor list feeds the exact join LAZILY — deliberately no
    // localCheckpoint/persist. Measured A/B at both regimes (same host,
    // minutes apart): an eager localCheckpoint of the survivors trims
    // ~0.3 s at sf0.1 (the materialized stats let AQE broadcast the small
    // survivor set) but DOUBLES the 100× cost (63.7 s lazy vs 125.5 s
    // checkpointed) — at corpus scale survivors are tens of millions of
    // rows and the checkpoint is a pure extra materialization barrier in
    // front of a join AQE already plans correctly from runtime stats. Keep
    // the single-query pipeline; AQE's runtime re-planning is the
    // size-adaptive broadcast decision here, at every scale.
    jaccardOverCandidates(sh,
      signatureGate(sig, cands, threshold, prefilterMargin, k), threshold)
  }

  /** Signature-estimate PREFILTER for banded-LSH verification: before the
    * exact shingle-intersection join, estimate each candidate pair's Jaccard
    * from the k minhash columns already in hand (the fraction of equal
    * columns is an unbiased Jaccard estimator, stderr √(s(1−s)/k) ≈ 0.06 at
    * k = 64) and drop pairs whose estimate sits more than `margin` BELOW the
    * verification threshold. Only the gate uses the estimate — survivors are
    * still verified exactly, so precision is untouched; the margin (default
    * 0.25 ≈ 4σ) makes dropping a true ≥-threshold pair a 4-sigma event, and
    * the estimator is DETERMINISTIC (md5-derived hashes), so a fixture's
    * result is reproducibly identical with and without the gate (pinned in
    * `LlmOpsSpec`).
    *
    * QUANTIFIED recall cost, stated honestly: for a true pair sitting
    * EXACTLY at the threshold, P(estimate < threshold − 0.25) ≈ 2·10⁻⁵ at
    * k = 64 (binomial tail); pairs at threshold + 0.1 or higher are
    * effectively never dropped (< 10⁻⁸). A corpus with 10⁶ true pairs
    * hugging the threshold therefore loses ~20 of them from the
    * exact-verified output — the price of not shingle-joining the
    * moderate-overlap candidate mass. Callers needing the gate OFF
    * (bit-exact parity with ungated verification, e.g. an audit) pass
    * `prefilterMargin >= threshold`: the bar goes non-positive and the
    * gate short-circuits to a pass-through — the parameter is threaded
    * through every public entry point ([[minhashLsh]],
    * [[minhashLshFromShingles]], [[minhashLshFromSignatures]]).
    *
    * Why it matters at scale: band collisions admit moderate-overlap pairs
    * (s ≈ 0.2–0.4) whose full shingle intersection is the expensive part of
    * the operator, and whose count grows with corpus size; the gate costs
    * two |docs|-row signature joins on the (small) candidate list instead of
    * two shingle-table joins on every candidate (measured: the rising 100×
    * trend of `llm_minhash_lsh` was exactly this). A non-positive gate bar
    * (threshold ≤ margin) disables the filter — nothing could be dropped.
    */
  def signatureGate(sig: DataFrame, cands: DataFrame, threshold: Double,
                    margin: Double = 0.25, k: Int = 64,
                    k1: String = "d1", k2: String = "d2"): DataFrame = {
    val bar = threshold - margin
    if (bar <= 0) cands.select(col(k1), col(k2))
    else {
      val s1 = sig.select(col("doc_id").as(k1) +:
        (0 until k).map(i => col(s"mh$i").as(s"_a$i")): _*)
      val s2 = sig.select(col("doc_id").as(k2) +:
        (0 until k).map(i => col(s"mh$i").as(s"_b$i")): _*)
      val matches = (0 until k)
        .map(i => when(col(s"_a$i") === col(s"_b$i"), 1).otherwise(0))
        .reduce(_ + _)
      cands.join(s1, Seq(k1)).join(s2, Seq(k2))
        .filter(matches >= math.ceil(bar * k).toInt)
        .select(col(k1), col(k2))
    }
  }

  /** The banded-index rows of a k-column signature table: one
    * (doc_id, band, bh) row per band — the physical row format of a stored
    * LSH index (and the shape both sides of every banded candidate join
    * take). 16 rows per document at k=64/r=4, independent of corpus size.
    */
  def lshBandRows(sig: DataFrame, k: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    val bandCols = (0 until k / rowsPerBand).map { b =>
      md5(concat_ws("|", (0 until rowsPerBand).map(j => col(s"mh${b * rowsPerBand + j}")): _*))
    }
    sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
  }

  /** Incremental crawl-vs-corpus NEAR dedup — the near-dup sibling of the
    * Bloom-backed exact path ([[incrementalExactDedup]]): the corpus's
    * banded LSH index is a PERSISTED build artifact (written once by
    * [[lshBandRows]]`.write`, the index-as-layout discipline of
    * [[graft.llm.Ann.writeIvfIndex]]); each new crawl batch computes its own
    * band rows and joins the stored index on (band, bh) — candidates are
    * crawl×corpus only (a batch is deduplicated against the CORPUS here;
    * intra-batch duplicates are [[minhashLshFromSignatures]] over the batch
    * alone). Verification is exact Jaccard over the candidate pairs, so the
    * output has no false positives.
    *
    * Scale shape: the join is keyed on (band, bh) — shuffle volume is 16
    * rows per document per side, never the pair space — and the corpus side
    * is read straight from the index layout with no signature recompute. A
    * production caller whose crawl batch is small relative to the corpus
    * broadcasts the crawl band rows (|batch|·16 rows), making the probe one
    * shuffle-free pass over the stored index; the suite's fixture halves
    * are same-sized, so the plan here keeps the neutral keyed join.
    * Output: (crawl_doc, corpus_doc, jaccard).
    */
  /** Total bytes of data files under `dir` (0 when absent) — the job-free
    * size bound the broadcast guards use: file lengths come from the
    * filesystem listing, so deciding broadcast-vs-shuffle costs no Spark
    * job and no second execution of whatever produced the frame.
    */
  private[graft] def dirBytes(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L
    else {
      val it = fs.listFiles(path, true)
      var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) bytes += f.getLen
      }
      bytes
    }
  }

  /** Broadcast `df` only when `bytes` (a KNOWN on-disk bound for its
    * contents) fits the session's broadcast threshold; above it — or when
    * the user disabled broadcasting (threshold <= 0) — return the frame
    * unhinted so the join degrades to a shuffle instead of an OOM'd
    * broadcast build (r14: the hot-set and tombstone masks forced
    * `broadcast(...)` unconditionally on a documented-but-unenforced
    * smallness assumption).
    */
  private[graft] def maybeBroadcast(df: DataFrame, bytes: Long): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 && bytes <= thr) broadcast(df)
    else {
      log.info(s"mask/hot-set of $bytes bytes exceeds broadcast threshold " +
        s"$thr — joining without a broadcast hint (graceful shuffle fallback)")
      df
    }
  }

  private def indexFs(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Count data files (non-hidden, non-marker) directly under `path`. The
    * compaction trigger counts THESE, not just `part-*`: ledger-published
    * appends land as `b<batchId>-part-*` ([[appendToLshIndexOnce]]) and
    * fragment the layout exactly like plain appends do.
    */
  private def dataFileCount(fs: org.apache.hadoop.fs.FileSystem,
                            path: org.apache.hadoop.fs.Path): Int =
    if (!fs.exists(path)) 0
    else fs.listStatus(path).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  private def deletesPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir + ".deletes")

  /** Self-heal an interrupted tombstone-set rewrite ([[clearTombstonesFor]]
    * swaps `.deletes` through a tmp/aside dance like the index compaction
    * does). Direction matters: roll FORWARD to a COMPLETE `.deletes.tmp`
    * (job-committed, `_SUCCESS` present) when the crash landed between the
    * two renames — the tmp is the newer state, and rolling back would
    * resurrect tombstones for ids a completed append already re-introduced
    * (silent loss of the re-add); only without a complete tmp does the
    * `.old` aside roll back.
    */
  private def healDeletes(fs: org.apache.hadoop.fs.FileSystem,
                          indexDir: String): Unit = {
    val del = deletesPath(indexDir)
    if (fs.exists(del)) return
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".deletes.tmp")
    val old = new org.apache.hadoop.fs.Path(indexDir + ".deletes.old")
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      require(fs.rename(tmp, del), s"tombstone self-heal failed: $tmp -> $del")
      fs.delete(old, true)
      log.warn(s"self-healed interrupted tombstone rewrite for $indexDir " +
        "(rolled forward to the completed .deletes.tmp)")
    } else if (fs.exists(old)) {
      require(fs.rename(old, del), s"tombstone self-heal failed: $old -> $del")
      fs.delete(tmp, true)
      log.warn(s"self-healed interrupted tombstone rewrite for $indexDir " +
        "(rolled back to the .deletes.old aside)")
    }
  }

  /** LSM sequencing for re-added ids (r14 advice): tombstones here are NOT
    * sequence-ordered, so band rows appended for an id AFTER
    * [[deleteFromLshIndex]] would be masked by the still-pending tombstone
    * and physically dropped at the next compaction — re-ingesting a
    * previously deleted document would silently lose it. Every append
    * therefore first CLEARS pending tombstones matching the incoming
    * batch's ids: rewrite `.deletes` minus the batch (O(mask) + O(batch)
    * work, only when a mask exists at all), swapped through tmp/aside with
    * [[healDeletes]] covering a crash at any point. Clearing runs BEFORE
    * the rows land, so the worst crash outcome is "tombstone cleared, rows
    * not yet visible" — the at-least-once retry re-appends; never a lost
    * re-add.
    *
    * Stated honestly: tombstones are per-id, not per-epoch, so the clear
    * also unmasks the id's EARLIER index rows (the ones the tombstone was
    * deleting). For the probe pipelines this is benign — candidate pairs
    * are `distinct()`-ed and then EXACT-verified against the current
    * shingle/vector tables, so stale band rows cost extra candidates,
    * never wrong answers. A caller that needs clean replacement (changed
    * content under the same id) should delete → [[compactLshIndex]] →
    * re-append; full per-epoch LSM sequencing isn't worth a seq column on
    * every index row here.
    */
  private def clearTombstonesFor(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String, batch: DataFrame): Unit = {
    val fs = indexFs(spark, indexDir)
    healDeletes(fs, indexDir)
    val del = deletesPath(indexDir)
    if (!fs.exists(del)) return
    val delDf = spark.read.parquet(del.toString)
    val keys = delDf.columns.toSeq
    if (!keys.forall(batch.columns.contains)) return
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".deletes.tmp")
    val old = new org.apache.hadoop.fs.Path(indexDir + ".deletes.old")
    fs.delete(tmp, true)
    fs.delete(old, true)
    delDf.join(batch.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .write.mode("overwrite").parquet(tmp.toString)
    if (spark.read.parquet(tmp.toString).isEmpty) {
      // the batch re-introduced every pending id — drop the mask entirely
      fs.delete(del, true)
      fs.delete(tmp, true)
    } else {
      require(fs.rename(del, old), s"tombstone aside-rename failed for $indexDir")
      require(fs.rename(tmp, del), s"tombstone swap failed for $indexDir " +
        s"(previous tombstones preserved at $old)")
      fs.delete(old, true)
    }
    spark.catalog.refreshByPath(del.toString)
  }

  /** Maintain a persisted banded-LSH index ([[lshBandRows]] written as a
    * parquet directory): APPEND a batch's band rows (the deduped survivors
    * of the batch — duplicates must not enter the index, or every later
    * batch re-matches them), then COMPACT when the append history has
    * fragmented the layout past `maxFiles` part files
    * ([[compactLshIndex]]). Appends also clear pending tombstones for ids
    * the batch re-introduces ([[clearTombstonesFor]] — LSM sequencing).
    *
    * The caller must MATERIALIZE any result computed against the
    * pre-append index before calling this (plans are lazy; compaction
    * deletes the files a lazy plan would read), and re-`read.parquet` the
    * directory afterwards to see the appended rows — file listings are
    * pinned at DataFrame creation. When tombstones are pending, `bands` is
    * consumed twice (tombstone clear + append) — a `foreachBatch` caller
    * already holds it checkpointed per the same contract.
    *
    * This raw append is AT-LEAST-ONCE: a caller that may redeliver the
    * same batch (foreachBatch replay after a crash) must use
    * [[appendToLshIndexOnce]] instead, or duplicates enter the index.
    */
  def appendToLshIndex(indexDir: String, bands: DataFrame,
                       maxFiles: Int = 64): Unit = {
    val spark = bands.sparkSession
    clearTombstonesFor(spark, indexDir, bands)
    bands.write.mode("append").parquet(indexDir)
    maybeCompact(spark, indexDir, maxFiles)
    // the session's shared FileStatusCache pins path listings forever by
    // default — without this, a reader created after the append/compact
    // still resolves the PRE-mutation file set and dies on the deleted parts
    spark.catalog.refreshByPath(indexDir)
  }

  /** [[appendToLshIndex]] with batch-id replay protection — the EXACTLY-
    * ONCE append a `foreachBatch` caller needs (at-least-once delivery:
    * a driver crash between the side-effect and the streaming checkpoint
    * commit redelivers the batch). The publish routes through
    * [[graft.streaming.SideIndexLedger]]: a committed `batchId` returns
    * without touching storage, a crashed half-publish is swept and redone
    * byte-identically. Returns true iff this call published. Same
    * reference contract as the MOR snapshot's batch-id ledger
    * (ack-after-processing, `update_manager.py:442–457`).
    */
  def appendToLshIndexOnce(indexDir: String, bands: DataFrame, batchId: Long,
                           maxFiles: Int = 64): Boolean = {
    val spark = bands.sparkSession
    val ledger = indexDir + ".ledger"
    if (graft.streaming.SideIndexLedger.committed(spark, ledger, batchId))
      return false
    clearTombstonesFor(spark, indexDir, bands)
    val published = graft.streaming.SideIndexLedger
      .publishOnce(spark, ledger, indexDir, batchId) { staging =>
        bands.write.mode("overwrite").parquet(staging)
      }
    if (published) maybeCompact(spark, indexDir, maxFiles)
    spark.catalog.refreshByPath(indexDir)
    published
  }

  private def maybeCompact(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, maxFiles: Int): Unit = {
    val nParts = dataFileCount(indexFs(spark, indexDir),
      new org.apache.hadoop.fs.Path(indexDir))
    if (nParts > maxFiles)
      compactLshIndex(spark, indexDir, math.max(1, maxFiles / 2))
  }

  /** Consolidate a fragmented banded-index layout NOW: rewrite to
    * `targetFiles` part files THROUGH the tombstone mask — pending deletes
    * ([[deleteFromLshIndex]]) are applied physically here, then cleared
    * after the swap (idempotent if a crash re-applies them). Standalone
    * (not only inside the append path) so tombstone GC can fire WITHOUT
    * append pressure: a delete-heavy, append-quiet index would otherwise
    * re-read and re-apply an ever-growing `.deletes` mask forever (r14
    * gap #3).
    *
    * Swap: rename-aside -> rename-in -> delete-aside, NOT
    * delete-then-rename — a crash at any point loses NO data (both full
    * copies exist on disk until the final delete-aside). Stated honestly:
    * between the two renames the published path briefly does not exist —
    * a reader listing it in that window (or after a crash inside it)
    * misses; that is what [[readLshIndex]]'s `.old` fallback covers,
    * turning both the window and the crashed-swap state into a
    * self-healing read instead of a 404.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, targetFiles: Int = 32): Unit = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexFs(spark, indexDir)
    healDeletes(fs, indexDir)
    val nParts = dataFileCount(fs, path)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compact")
    val del = deletesPath(indexDir)
    val masked =
      if (fs.exists(del)) {
        val delDf = spark.read.parquet(del.toString).distinct()
        val keys = delDf.columns.toSeq
        spark.read.parquet(indexDir).join(
          maybeBroadcast(delDf, dirBytes(spark, del.toString)),
          keys, "left_anti")
      } else spark.read.parquet(indexDir)
    masked
      .coalesce(math.max(1, targetFiles))
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(indexDir + ".old")
    fs.delete(old, true) // clear any leftover from a prior crashed swap
    require(fs.rename(path, old), s"compaction aside-rename failed for $indexDir")
    require(fs.rename(tmp, path), s"compaction swap failed for $indexDir " +
      s"(previous index preserved at $old)")
    fs.delete(old, true)
    // tombstones are now physically applied; clearing AFTER the swap is
    // the crash-safe order (a crash here leaves redundant tombstones
    // whose re-application is a no-op, never a resurrection)
    fs.delete(del, true)
    log.info(s"compacted LSH index $indexDir: $nParts part files -> " +
      s"${math.max(1, targetFiles)}")
    spark.catalog.refreshByPath(indexDir)
  }

  /** Read a persisted banded-LSH index directory, SELF-HEALING a crashed
    * [[compactLshIndex]] swap: if the published path is missing but the
    * `.old` aside from an interrupted rename-aside -> rename-in sequence
    * exists, the aside is renamed back into place before reading — so a
    * crash inside the swap window degrades to "the compaction didn't
    * happen" instead of an unreadable index needing manual recovery. The
    * tombstone mask joins on the DELETES' OWN columns (doc_id for the
    * band index, vec_id for an SRP signature index — [[deleteFromLshIndex]]
    * records whatever key the caller deletes by), and is broadcast only
    * while its on-disk bytes fit the session threshold
    * ([[maybeBroadcast]]).
    */
  def readLshIndex(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(indexDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      val old = new org.apache.hadoop.fs.Path(indexDir + ".old")
      if (fs.exists(old)) {
        require(fs.rename(old, path),
          s"LSH index self-heal rename failed: $old -> $path")
        log.warn(s"self-healed crashed compaction swap for $indexDir " +
          "(restored the pre-compaction index from the .old aside)")
        spark.catalog.refreshByPath(indexDir)
      }
    }
    healDeletes(fs, indexDir)
    val raw = spark.read.parquet(indexDir)
    // tombstone mask: deleted ids filter out of every read until the next
    // compaction applies them physically ([[deleteFromLshIndex]])
    val del = deletesPath(indexDir)
    if (fs.exists(del)) {
      val delDf = spark.read.parquet(del.toString).distinct()
      raw.join(maybeBroadcast(delDf, dirBytes(spark, del.toString)),
        delDf.columns.toSeq, "left_anti")
    } else raw
  }

  /** TARGETED DELETION from the flat band index — LSM-style tombstones,
    * the right shape for an UNPARTITIONED index where a physical rewrite
    * would be O(index) per request: the deleted ids append to a side-list
    * (`<indexDir>.deletes`, O(|request|) now), every [[readLshIndex]]
    * masks them with a size-guarded anti-join, and the next compaction
    * applies them PHYSICALLY and clears the list — clearing after the
    * swap is crash-safe because re-applying a tombstone to an
    * already-filtered index is a no-op (idempotent id filter). Contrast
    * [[Ann.deleteFromIvfIndex]]: the partitioned layout makes immediate
    * surgical rewrite cheap there; here deferral to a scheduled compaction
    * is the bounded path.
    *
    * `keyCol` names the id column (doc_id for the band index, vec_id for
    * an SRP signature index) — the mask joins on the recorded column, so
    * one tombstone mechanism serves every flat side-index layout.
    *
    * Tombstone GC decoupled from append pressure (r14 gap #3): when the
    * mask itself fragments past `gcMaxDeleteFiles` part files, a
    * compaction fires HERE — so N delete calls with zero appends still
    * converge to an empty `.deletes` instead of re-broadcasting an
    * ever-growing mask on every read. (The ordinary path remains "applied
    * at the next append-triggered compaction"; this is the backstop for
    * delete-heavy, append-quiet indexes.)
    */
  def deleteFromLshIndex(indexDir: String, docIds: DataFrame,
                         keyCol: String = "doc_id",
                         gcMaxDeleteFiles: Int = 8): Unit = {
    val spark = docIds.sparkSession
    val fs = indexFs(spark, indexDir)
    healDeletes(fs, indexDir)
    docIds.select(col(keyCol)).distinct()
      .write.mode("append").parquet(indexDir + ".deletes")
    spark.catalog.refreshByPath(indexDir + ".deletes")
    if (dataFileCount(fs, deletesPath(indexDir)) > gcMaxDeleteFiles) {
      val nIndex = dataFileCount(fs, new org.apache.hadoop.fs.Path(indexDir))
      compactLshIndex(spark, indexDir, math.max(1, math.min(32, nIndex)))
    }
  }

  def incrementalNearDups(crawlBands: DataFrame, indexBands: DataFrame,
                          sh: DataFrame, threshold: Double = 0.5): DataFrame = {
    val cands = crawlBands.as("w")
      .join(indexBands.as("c"),
        col("w.band") === col("c.band") && col("w.bh") === col("c.bh"))
      .select(col("w.doc_id").as("crawl_doc"), col("c.doc_id").as("corpus_doc"))
      .distinct()
    // exact-Jaccard verification keyed directly on the (crawl, corpus)
    // roles — one execution of the candidate join (a least/greatest
    // symmetrization + re-attach join would put the band join in the plan
    // TWICE; Spark only reuses shuffle exchanges, not arbitrary subtrees)
    jaccardOverCandidates(sh, cands, threshold,
      k1 = "crawl_doc", k2 = "corpus_doc")
  }
}
