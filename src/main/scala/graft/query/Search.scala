package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** NERD's read-side query surface (`NERDweb/nerd_main.py:965–1045` filter
  * algebra, `:1082–1085` sort/limit, `:2288–2335` prefix summary,
  * `:2408–2468` bulk lookup, `scripts/update_db_meta_info.js` facet counts)
  * over a derived entity snapshot.
  *
  * Everything here is a declarative `Column` conjunction over a columnar
  * snapshot: Catalyst pushes the predicates into the scan (min/max row-group
  * skipping replaces every secondary index the reference maintains —
  * `install/mongo_prepare_db.js:8–33`), and top-k compiles to
  * `TakeOrderedAndProject`, which never materializes a full sort at scale.
  */
object Search {

  /** Conjunctive search filter (subset of `create_query`'s algebra matching
    * the snapshot's columns; each `Option` = one form field).
    */
  case class SearchFilter(
      entityRange: Option[(Long, Long)] = None,          // subnet range on int id
      entityIn: Option[Seq[Long]] = None,                // explicit IP list
      minRep: Option[Double] = None,                     // reputation threshold
      minTotal: Option[Long] = None,                     // events_meta.total >= n
      typesAny: Option[Seq[String]] = None,              // event category membership (OR)
      typesAll: Option[Seq[String]] = None)              // event category membership (AND)

  def compile(f: SearchFilter): Column = {
    val conds = Seq(
      f.entityRange.map { case (lo, hi) => col("entity").between(lo, hi) },
      f.entityIn.map(ids => col("entity").isInCollection(ids)),
      f.minRep.map(t => col("rep") >= t),
      f.minTotal.map(t => col("total") >= t),
      f.typesAny.map(ts => ts.map(t => array_contains(col("types_arr"), t)).reduce(_ || _)),
      f.typesAll.map(ts => ts.map(t => array_contains(col("types_arr"), t)).reduce(_ && _))
    ).flatten
    if (conds.isEmpty) lit(true) else conds.reduce(_ && _)
  }

  /** search → sort → limit (`nerd_main.py:1082–1085`). Sort keys get a
    * deterministic entity tiebreak (the reference tiebreaks on Mongo's `_id`
    * index order).
    */
  def search(snapshot: DataFrame, f: SearchFilter, sortKey: String,
             asc: Boolean, limit: Int): DataFrame = {
    val k = if (asc) col(sortKey).asc else col(sortKey).desc
    snapshot.filter(compile(f)).orderBy(k, col("entity").asc).limit(limit)
  }

  /** Paged search (`nerd_main.py:1082–1085` passes Mongo `skip`/`limit` from
    * the web UI's pager): `offset(skip)` + `limit` after the deterministic
    * sort — Spark folds both into one TakeOrderedAndProject, so a deep page
    * never materializes a full sort.
    */
  def searchPage(snapshot: DataFrame, f: SearchFilter, sortKey: String,
                 asc: Boolean, skip: Int, limit: Int): DataFrame = {
    val k = if (asc) col(sortKey).asc else col(sortKey).desc
    snapshot.filter(compile(f)).orderBy(k, col("entity").asc)
      .offset(skip).limit(limit)
  }

  /** Bulk reputation lookup (`nerd_main.py:2408–2468`): left join requested
    * keys against the snapshot, missing entities score 0.0, input order
    * preserved via the request index.
    */
  def bulkRep(snapshot: DataFrame, requests: DataFrame): DataFrame =
    requests
      .join(snapshot.select(col("entity"), col("rep")), Seq("entity"), "left")
      .na.fill(0.0, Seq("rep"))
      .orderBy(col("idx"))

  /** The bulk endpoint end-to-end (`nerd_main.py:2427–2468`,
    * `application/octet-stream` in AND out): big-endian 4-byte IPs in the
    * request, native-order packed reputation doubles in the response, input
    * order preserved, missing entities 0.0. The driver-side collect is the
    * HTTP-response boundary — result size == request size by construction.
    */
  def bulkRepBinary(snapshot: DataFrame, payload: Array[Byte]): Array[Byte] = {
    val spark = snapshot.sparkSession
    import spark.implicits._
    val ips = graft.functions.EdgeCodec.unpackIps(payload)
    val req = ips.toSeq.zipWithIndex.map { case (ip, i) => (ip, i.toLong) }
      .toDF("entity", "idx")
    val reps = bulkRep(snapshot, req)
      .select(col("rep").cast("double")).as[Double].collect()
    graft.functions.EdgeCodec.packDoubles(reps)
  }

  /** Facet counts (`scripts/update_db_meta_info.js`): distinct entities per
    * event category — the materialized aggregate behind the search form.
    */
  def facetCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_entities"), count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Prefix aggregation (`scripts/set_prefix_repscore.js` + `/api/v1/prefix`,
    * `nerd_main.py:2288–2335`): average reputation over the *full* prefix size
    * (absent members count as 0), plus member count.
    */
  def prefixSummary(snapshot: DataFrame, prefixBits: Int): DataFrame = {
    val prefixSize = 1L << prefixBits
    snapshot
      .groupBy((col("entity") / prefixSize).cast("long").as("prefix"))
      .agg(
        // round THROUGH a 10-dp decimal: Spark's double round() goes via the
        // shortest decimal string while DuckDB rounds the binary value, so a
        // half-boundary quotient (k + 0.5)/10^6 rounds differently per
        // engine; the decimal hop absorbs ulp noise and unifies the
        // half-up decision (hit at sf0.1, prefix 27/59)
        round((sum(col("rep")) / prefixSize).cast("decimal(28,10)"), 6)
          .cast("double").as("prefix_rep"),
        count(lit(1)).as("n_members"),
        round(max(col("rep")), 6).as("max_rep"))
      .orderBy(col("prefix"))
  }

  /** The remaining `create_query` predicate families (`nerd_main.py:965–1045`)
    * over an enriched snapshot: hostname suffix (the reference's
    * reversed-string range scan becomes a plain pushdown-friendly
    * `endswith`), country membership, tag existence + confidence threshold
    * over the `tags` map column, and blacklist membership (the
    * `bl $elemMatch {n, v:1}` analog).
    */
  final case class ExtendedFilter(
      base: SearchFilter = SearchFilter(),
      hostSuffix: Option[String] = None,
      countryIn: Option[Seq[String]] = None,
      tagConf: Option[(String, Double)] = None,   // tags[id].confidence >= t
      onBlacklist: Option[Boolean] = None)

  def compileExtended(f: ExtendedFilter): Column = {
    val conds = Seq(
      Some(compile(f.base)),
      f.hostSuffix.map(s => col("host").endsWith(s)),
      f.countryIn.map(cs => col("ctry").isInCollection(cs)),
      f.tagConf.map { case (id, t) =>
        map_contains_key(col("tags"), lit(id)) &&
          col("tags").getItem(id).getField("confidence") >= t
      },
      f.onBlacklist.map(b => col("on_bl") === b)
    ).flatten
    conds.reduce(_ && _)
  }

  /** The reference's five search sort keys (`nerd_main.py:899–908`) mapped
    * to snapshot columns; every sort gets the deterministic entity tiebreak.
    */
  val SortKeys: Map[String, String] = Map(
    "rep" -> "rep",
    "events" -> "total",          // events_meta.total
    "last_activity" -> "total1",  // most-recent-activity proxy on the snapshot
    "ts_added" -> "entity",       // insertion order == id order for int ids
    "id" -> "entity")

  /** Worst-prefix top-k (`nerd_main.py:2362–2374`): prefixes above a score
    * threshold, worst first.
    */
  def badPrefixes(prefixAgg: DataFrame, minRep: Double, limit: Int): DataFrame =
    prefixAgg.filter(col("prefix_rep") > minRep)
      .orderBy(col("prefix_rep").desc, col("prefix"))
      .limit(limit)

  /** Count endpoint (`nerd_main.py:1272–1285`): `count_documents(query)`. */
  def countEndpoint(snapshot: DataFrame, f: SearchFilter): DataFrame =
    snapshot.filter(compile(f)).agg(count_distinct(col("entity")).as("n"))

  /** Search-result date×category pivot (`nerd_main.py:1120–1190`): per
    * selected entity, event counts per day per category over the trailing
    * `days` window. The category list is FIXED config (never discovered with
    * a driver-side pass — a two-phase pivot would scan 100 TB twice).
    */
  def eventPivot(events: DataFrame, entities: DataFrame, today: String,
                 categories: Seq[String], days: Int = 5): DataFrame =
    events
      .join(entities.select(col("entity").as("user_id")), Seq("user_id"), "left_semi")
      .withColumn("d", to_date(col("ts")))
      .filter(datediff(lit(today).cast("date"), col("d")) < days &&
        datediff(lit(today).cast("date"), col("d")) >= 0)
      .groupBy(col("user_id").as("entity"), col("d"))
      .pivot("event_type", categories)
      .count()
      .na.fill(0L, categories)

  /** Event listing (`common/eventdb_psql.py:69–72`): latest N events for the
    * entities selected by a snapshot filter — join + `ORDER BY detecttime
    * DESC LIMIT n` with a deterministic id tiebreak. Ordering is on
    * second-truncated time (`ts_sec`) so the cutoff is reproducible across
    * engines with different sub-second precision.
    */
  def eventListing(events: DataFrame, entities: DataFrame, limit: Int): DataFrame =
    events
      .join(entities.select(col("entity").as("user_id")), Seq("user_id"), "left_semi")
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .orderBy(col("ts_sec").desc, col("event_id").asc)
      .limit(limit)
}
