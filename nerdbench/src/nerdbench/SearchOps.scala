package nerdbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.query.Search
import graft.query.Search.SearchFilter

/** The analyst search mix: seven `Search` calls in fixed shares, run by
  * closed-loop clients over a published entity table, each result checked
  * against the same filter, sort and page computed in plain Scala.
  */
object SearchOps {
  /** Run a burst: `clients` closed-loop clients share `BurstDecks` shuffled
    * decks of the mix. Returns every op's latency and the wall time the
    * burst took; every result is checked against the reference.
    */
  def burst(env: Env, table: DataFrame, events: DataFrame, alerts: Seq[Alert],
            clients: Int, seed: Long, req: String): (Seq[Double], Double) = {
    val ref = new SearchReference(table.select("entity", "rep", "total", "total1", "types_arr")
      .collect().map(r => TRow(r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getSeq[String](4).toSet)).toIndexedSeq, alerts)
    val ids = ref.rows.map(_.entity)
    val done = new ConcurrentLinkedQueue[(Op, Double, Seq[Any])]()
    val r = new SplittableRandom(seed)
    val ops = new ConcurrentLinkedQueue[Op]((Op.deck(r).take(BurstDecks * DeckSize).map(Op.draw(_, r, ids)).toSeq).asJava)
    val t0 = Env.nowMs()
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        Iterator.continually(ops.poll()).takeWhile(_ != null).foreach { o =>
          val s0 = Env.nowMs()
          val res = runOp(env, o, table, events, req)
          done.add((o, Env.nowMs() - s0, res))
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = (Env.nowMs() - t0) / 1000.0
    val all = done.asScala.toSeq
    all.foreach { case (o, ms, res) =>
      env.check(sameAnswer(ref.answer(o), res), s"search op $o")
      if (!req.startsWith("warmup")) env.record(s"query.${o.kind}.ms", ms)
    }
    (all.map(_._2), wall)
  }

  /** Execute one op through `Search` and return its result in comparable
    * form. Traced, it also records plan time, jobs and rows scanned per row
    * returned.
    */
  private def runOp(env: Env, o: Op, table: DataFrame, events: DataFrame, req: String): Seq[Any] = {
    val spark = table.sparkSession
    var df: DataFrame = null
    val rows: Array[Row] = env.span(s"query.${o.kind}", req) {
      df = o match {
        case p: Page => Search.searchPage(table, p.f, p.sort, p.asc, p.skip, p.limit).select("entity")
        case p: TopK => Search.search(table, p.f, p.sort, p.asc, p.limit).select("entity")
        case p: Count => Search.countEndpoint(table, p.f)
        case p: Bulk =>
          val req = new java.util.ArrayList[Row]()
          p.ids.zipWithIndex.foreach { case (e, i) => req.add(Row(e, i.toLong)) }
          Search.bulkRep(table, spark.createDataFrame(req, BulkSchema)).select("entity", "rep")
        case p: Prefix => Search.prefixSummary(table, p.bits)
        case p: Range => Search.searchPage(table, p.f, "entity", asc = true, 0, p.limit).select("entity")
        case p: Listing =>
          Search.eventListing(events, table.filter(Search.compile(p.f)), p.limit).select("event_id")
      }
      val rows = df.collect()
      env.tracer.returned(rows.length)
      rows
    }
    if (env.tracer.enabled && !req.startsWith("warmup")) {
      val phases = df.queryExecution.tracker.phases
      env.record("query.plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    }
    rows.toSeq.map(r => if (r.length == 1) r.get(0) else r.toSeq)
  }

  /** Results agree when everything matches exactly except doubles, which
    * may differ by a rounding step: the program sums reputations in Spark's
    * order, the reference in exact decimals.
    */
  def sameAnswer(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1.5e-6
    case (x: Seq[_], y: Seq[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => sameAnswer(p, q) }
    case _ => a == b
  }

  private val BulkSchema = org.apache.spark.sql.types.StructType.fromDDL("entity BIGINT, idx BIGINT")

  final case class TRow(entity: Long, rep: Double, total: Long, total1: Long, types: Set[String])

  sealed trait Op { def kind: String }
  final case class Page(f: SearchFilter, sort: String, asc: Boolean, skip: Int, limit: Int) extends Op { def kind = "search_page" }
  final case class TopK(f: SearchFilter, sort: String, asc: Boolean, limit: Int) extends Op { def kind = "top_k" }
  final case class Count(f: SearchFilter) extends Op { def kind = "count" }
  final case class Bulk(ids: Seq[Long]) extends Op { def kind = "bulk_rep" }
  final case class Prefix(bits: Int) extends Op { def kind = "prefix_summary" }
  final case class Range(f: SearchFilter, limit: Int) extends Op { def kind = "entity_range" }
  final case class Listing(f: SearchFilter, limit: Int) extends Op { def kind = "event_listing" }

  /** Op kinds and their fixed shares of the mix, out of 20. The one-job ops
    * (page, top-k, range) make up 65%, so the median and the tail each fall
    * well inside one cost class rather than on the edge between two.
    */
  val DeckSize = 20
  /** Decks per burst: a burst's samples then span a few seconds, not one
    * short stretch of the run.
    */
  val BurstDecks = 2
  val Shares: Seq[(String, Int)] = Seq("search_page" -> 7, "top_k" -> 3, "entity_range" -> 3,
    "count" -> 2, "bulk_rep" -> 2, "event_listing" -> 2, "prefix_summary" -> 1)

  object Op {
    private val sorts = Vector("rep", "total", "total1", "entity")

    /** Ops in their exact shares: each run of 20 is a fresh shuffle of the
      * deck, so every run serves the same mix.
      */
    def deck(r: SplittableRandom): Iterator[String] = {
      val cards = Shares.flatMap { case (op, n) => Seq.fill(n)(op) }.toArray
      Iterator.continually {
        var i = cards.length - 1
        while (i > 0) { val j = r.nextInt(i + 1); val t = cards(i); cards(i) = cards(j); cards(j) = t; i -= 1 }
        cards.toSeq
      }.flatten
    }
    private def filter(r: SplittableRandom): SearchFilter = SearchFilter(
      minRep = if (r.nextBoolean()) Some(Vector(0.01, 0.05, 0.1)(r.nextInt(3))) else None,
      minTotal = if (r.nextBoolean()) Some(Vector(2L, 5L, 20L)(r.nextInt(3))) else None,
      typesAny = if (r.nextInt(3) == 0) Some(Seq(Gen.Types(r.nextInt(Gen.Types.size)))) else None)
    def draw(kind: String, r: SplittableRandom, ids: IndexedSeq[Long]): Op = kind match {
      case "search_page" => Page(filter(r), sorts(r.nextInt(sorts.size)), r.nextBoolean(),
        Vector(0, 100, 1000, 5000)(r.nextInt(4)), 20)
      case "top_k" => TopK(filter(r), sorts(r.nextInt(sorts.size)), asc = false, 20)
      case "count" => Count(filter(r))
      case "bulk_rep" => Bulk(Seq.fill(1000) {
        // one in ten ids is absent from the table
        if (r.nextInt(10) == 0) Gen.MarkerBase + 100000 + r.nextInt(1000000) else ids(r.nextInt(ids.size))
      })
      case "prefix_summary" => Prefix(Vector(8, 12)(r.nextInt(2)))
      case "entity_range" =>
        val lo = ids(r.nextInt(ids.size)) & ~0xfffL
        Range(SearchFilter(entityRange = Some((lo, lo + 0xfff))), 100)
      case "event_listing" => Listing(SearchFilter(minRep = Some(0.1), typesAny = Some(Seq(Gen.Types(r.nextInt(Gen.Types.size))))), 50)
    }
  }

  /** The same filters, sorts, pages and aggregates in plain Scala over the
    * table collected once at setup.
    */
  final class SearchReference(val rows: IndexedSeq[TRow], alerts: Seq[Alert]) {
    private val byId = rows.map(r => r.entity -> r).toMap
    private def matches(f: SearchFilter)(r: TRow): Boolean =
      f.entityRange.forall { case (lo, hi) => r.entity >= lo && r.entity <= hi } &&
        f.entityIn.forall(_.contains(r.entity)) &&
        f.minRep.forall(r.rep >= _) && f.minTotal.forall(r.total >= _) &&
        f.typesAny.forall(_.exists(r.types)) && f.typesAll.forall(_.forall(r.types))
    // every (sort key, direction) order, sorted once
    private val orders: Map[(String, Boolean), IndexedSeq[TRow]] = {
      val keys: Map[String, TRow => Double] = Map("rep" -> (_.rep), "total" -> (_.total.toDouble),
        "total1" -> (_.total1.toDouble), "entity" -> (_.entity.toDouble))
      keys.toSeq.flatMap { case (k, key) => Seq(
        (k, true) -> rows.sortBy(r => (key(r), r.entity)),
        (k, false) -> rows.sortBy(r => (-key(r), r.entity)))
      }.toMap
    }
    private def sorted(f: SearchFilter, sort: String, asc: Boolean): Iterator[TRow] =
      orders((sort, asc)).iterator.filter(matches(f))
    private def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    def answer(o: Op): Seq[Any] = o match {
      case Page(f, s, a, skip, limit) => sorted(f, s, a).slice(skip, skip + limit).map(_.entity).toSeq
      case TopK(f, s, a, limit) => sorted(f, s, a).take(limit).map(_.entity).toSeq
      case Count(f) => Seq(rows.count(matches(f)).toLong)
      case Bulk(ids) => ids.map(e => Seq(e, byId.get(e).map(_.rep).getOrElse(0.0)))
      case Prefix(bits) =>
        rows.groupBy(_.entity >> bits).toSeq.sortBy(_._1).map { case (p, rs) =>
          val sum = rs.map(r => BigDecimal(r.rep)).sum
          Seq(p, round6((sum / BigDecimal(1L << bits)).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble),
            rs.size.toLong, round6(rs.map(_.rep).max))
        }
      case Range(f, limit) => sorted(f, "entity", asc = true).take(limit).map(_.entity).toSeq
      case Listing(f, limit) =>
        val sel = rows.filter(matches(f)).map(_.entity).toSet
        alerts.filter(a => sel(a.userId)).sortBy(a => (-a.epoch, a.eventId)).take(limit).map(_.eventId)
    }
  }
}
