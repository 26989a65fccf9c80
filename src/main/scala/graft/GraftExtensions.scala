package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BpeBroadcasts, BpeTokenCount, ChunkFps, CosineSim, DistinctNGrams, L2Dist, LatestK, NGramSpans, SpanDigests, VecSum}

/** The library's `SparkSessionExtensions` hook — the supported way to make
  * graft's native expressions visible to SQL and `call_function` on any
  * session. [[GraftSession.local]], the in-repo session, wires it with:
  *
  * {{{ .config("spark.sql.extensions", "graft.GraftExtensions") }}}
  *
  * For sessions the caller does not build (notebooks, foreign applications),
  * [[GraftExtensions.register]] performs the same registration imperatively
  * and is idempotent — the operator code calls it before `call_function`, so
  * either path works.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def arity(name: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${es.length}")

  /** (identifier, info, builder) triples for every native function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (es: Seq[Expression]) => {
        arity("cosine_sim", es, 2)
        CosineSim(es.head, es(1))
      }),
    (FunctionIdentifier("l2_dist"),
      new ExpressionInfo(classOf[L2Dist].getName, "l2_dist"),
      (es: Seq[Expression]) => {
        arity("l2_dist", es, 2)
        L2Dist(es.head, es(1))
      }),
    (FunctionIdentifier("distinct_ngrams"),
      new ExpressionInfo(classOf[DistinctNGrams].getName, "distinct_ngrams"),
      (es: Seq[Expression]) => { arity("distinct_ngrams", es, 2); es(1) } match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) =>
          DistinctNGrams(es.head, n)
        case other => throw new IllegalArgumentException(
          s"distinct_ngrams(arr, n): n must be an integer literal, got $other")
      }),
    (FunctionIdentifier("span_digests"),
      new ExpressionInfo(classOf[SpanDigests].getName, "span_digests"),
      (es: Seq[Expression]) => { arity("span_digests", es, 2); es(1) } match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) =>
          SpanDigests(es.head, n)
        case other => throw new IllegalArgumentException(
          s"span_digests(arr, n): n must be an integer literal, got $other")
      }),
    (FunctionIdentifier("ngram_spans"),
      new ExpressionInfo(classOf[NGramSpans].getName, "ngram_spans"),
      (es: Seq[Expression]) => { arity("ngram_spans", es, 2); es(1) } match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) =>
          NGramSpans(es.head, n)
        case other => throw new IllegalArgumentException(
          s"ngram_spans(arr, n): n must be an integer literal, got $other")
      }),
    (FunctionIdentifier("chunk_fps"),
      new ExpressionInfo(classOf[ChunkFps].getName, "chunk_fps"),
      (es: Seq[Expression]) => {
        arity("chunk_fps", es, 3)
        (es(1), es(2)) match {
          case (org.apache.spark.sql.catalyst.expressions.Literal(w: Int, _),
                org.apache.spark.sql.catalyst.expressions.Literal(s: Int, _)) =>
            ChunkFps(es.head, w, s)
          case other => throw new IllegalArgumentException(
            s"chunk_fps(arr, w, stride): w and stride must be integer literals, got $other")
        }
      }),
    // bpe_token_count(text, table_id): the id is a handle into
    // BpeBroadcasts (registered by Bpe.tokenCount) — the merge table rides
    // a Spark broadcast, NOT the plan, so plan shape is vocab-independent
    (FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (es: Seq[Expression]) => { arity("bpe_token_count", es, 2); es(1) } match {
        case org.apache.spark.sql.catalyst.expressions.Literal(id: Int, _) =>
          BpeTokenCount(es.head, BpeBroadcasts.get(id))
        case other => throw new IllegalArgumentException(
          s"bpe_token_count(text, table_id): table_id must be an integer literal, got $other")
      }),
    (FunctionIdentifier("latest_k"),
      new ExpressionInfo(classOf[LatestK].getName, "latest_k"),
      (es: Seq[Expression]) => { arity("latest_k", es, 2); es(1) } match {
        case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) =>
          LatestK(es.head, n).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"latest_k(col, k): k must be an integer literal, got $other")
      }),
    (FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "vec_sum"),
      (es: Seq[Expression]) => {
        arity("vec_sum", es, 1)
        VecSum(es.head).toAggregateExpression()
      }),
    // Spark ships BloomFilterAggregate / BloomFilterMightContain for its
    // runtime-filter optimizer but does not register them for users; expose
    // them under graft_ names for the incremental-dedup pruning path.
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (es: Seq[Expression]) => {
        arity("graft_bloom_agg", es, 3)
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(es(0), es(1), es(2)).toAggregateExpression()
      }),
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (es: Seq[Expression]) => {
        arity("graft_might_contain", es, 2)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))
      }))

  /** Idempotent imperative registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
