package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the codec that makes a 100-TB embedding
  * index fit in memory: the D-dim vector splits into `m` subvectors of
  * `subDim` dims, each quantized independently against a per-subspace
  * codebook of `k` centroids, so a vector stores as `m` small codes
  * (m·log2(k) bits) instead of D floats. Combined with the IVF coarse
  * quantizer ([[Ann.kmeans]]/[[Ann.ivfTopK]]) this is the standard
  * IVFADC layout.
  *
  * Scale shapes (the 100-TB contract):
  *  - TRAIN: codebooks are m·k rows. Per Lloyd pass the current codebook
  *    BROADCASTS onto one corpus scan; the per-(sub,vector) argmin collapses
  *    map-side (partial `min(struct(d, code))`), and the centroid update is
  *    an explode→hash-agg on (sub, code, pos) — map-side combined. At
  *    production scale training runs on a bounded md5-top-N sample; nothing
  *    here depends on seeing the full corpus.
  *  - ENCODE: one corpus scan against the broadcast codebook; output is
  *    |corpus| rows of m codes. No shuffle of the corpus.
  *  - ADC: a query's distance to a coded vector is the distance to its
  *    reconstruction; with codebooks broadcast, a real index precomputes the
  *    m·k lookup table per query and scans codes. Here the reconstruction is
  *    materialized explicitly (same numbers, auditable), and the global
  *    top-k compiles to per-partition heaps, not a total sort.
  *
  * Cross-engine determinism (the oracle replays every step bit-for-bit):
  * seeds are the k vectors with the smallest `md5(vec_id)` (shared across
  * subspaces); distances round to 6 dp with argmin ties to the lower code;
  * centroid components are DECIMAL(28,12)-summed (order-independent) then
  * rounded to 6 dp; squared reconstruction errors quantize to
  * DECIMAL(28,12) before summing.
  */
object Pq {

  private def asDouble(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, col(c).cast("array<double>"))

  /** Euclidean distance as a sequential double fold, rounded to 6 dp — the
    * tie-break-stable quantity both engines agree on. Computed by the
    * native codegen `l2_dist` expression (`graft.functions.L2Dist`): same
    * summation order as the `sqrt(aggregate(zip_with(...)))` HOF fold it
    * replaces (bit-identity pinned by `LlmOpsSpec`), but inside whole-stage
    * codegen instead of a per-element lambda interpreter.
    */
  def l2(a: Column, b: Column): Column = round(call_function("l2_dist", a, b), 6)

  /** The HOF formulation of [[l2]] — kept as the bit-identity reference the
    * spec pins the native expression against.
    */
  def l2Hof(a: Column, b: Column): Column =
    round(sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, v) => acc + v)), 6)

  /** The m·k-row codebook table collapsed to ONE nested-array row
    * (`cb[sub][code] = centroid`, both levels ascending) — the broadcast
    * shape [[codesExpr]] / the ADC decode index into per row. Two tiny
    * aggregations over m·k rows; the result replaces a broadcast JOIN plus
    * regroup with a per-row array lookup (r15, guide §2.4).
    */
  private def codebookArray(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("centroid")))).as("bc"))
      .agg(sort_array(collect_list(struct(col("sub"), col("bc")))).as("sc"))
      .select(transform(col("sc"), (s, i) => {
        // POSITIONAL decode is only sound if each subspace's codes are
        // contiguous 0..k-1 and the subs are 0..m-1 — train()'s Lloyd update
        // drops a (sub, code) row when a cluster empties, and a gap would
        // silently remap every later code to the wrong centroid (r15 advice,
        // medium). Codes arrive sorted ascending and unique (train groups by
        // (sub, code)), so contiguity ⟺ first == 0 ∧ last == size − 1; the
        // check rides the same projection (no extra action — an eager audit
        // would re-execute the whole Lloyd lineage) and fails fast instead
        // of misdecoding.
        val bc = s.getField("bc")
        val codesOk =
          element_at(bc, 1).getField("code") === 0 &&
            element_at(bc, size(bc)).getField("code") === size(bc) - 1 &&
            s.getField("sub") === i
        when(codesOk, transform(bc, c => c.getField("centroid")))
          .otherwise(raise_error(concat(
            lit("PQ codebook is not positionally decodable: sub "),
            s.getField("sub").cast("string"),
            lit(" has non-contiguous codes (a Lloyd update emptied a "),
            lit("cluster); rebuild the codebook before encoding"))))
      }).as("cb"))

  /** Per-row PQ encode against the nested codebook array: for each subspace
    * (ascending — the `sort_array(collect_list(struct(sub, …)))` order the
    * regroup shape produced), the code of the L2-nearest centroid, ties to
    * the LOWER code. Identical decision rule to [[assign]]'s
    * `min(struct(d, code))`: the fold walks codes ascending and only a
    * STRICTLY smaller distance displaces the incumbent. Geometry (m,
    * subDim) is read off the array itself, so callers cannot desync it.
    * One projection — no explode, no broadcast join, no regroup shuffle.
    */
  private def codesExpr(cbCol: Column, embedding: Column): Column =
    transform(codesDistExpr(cbCol, embedding), cd => cd.getField("code"))

  /** Per-subspace (d, code) of the L2-nearest centroid — the fold behind
    * [[codesExpr]], kept as a struct so [[encodeAudit]] can reuse the
    * assignment distances without an explode→pivot round trip. Exactly
    * [[assign]]'s `min(struct(d, code))` decision rule, INCLUDING its NaN
    * order (r15 advice: the previous `d < acc.d` fold left a NaN-distance
    * row at the `-1` sentinel, which decodes `element_at(cb, 0)` downstream;
    * the old assign path sent it to code 0). Spark struct-min sorts NaN
    * ABOVE every double, so: a NaN distance never displaces, ties keep the
    * lower code, and the all-NaN row lands on the code-0 seed.
    */
  private def codesDistExpr(cbCol: Column, embedding: Column): Column = {
    val subDim = size(element_at(element_at(cbCol, 1), 1))
    transform(sequence(lit(0), size(cbCol) - 1), s => {
      val sub = slice(embedding, s * subDim + 1, subDim)
      val cents = element_at(cbCol, s + 1)
      aggregate(sequence(lit(0), size(cents) - 1),
        struct(lit(Double.PositiveInfinity).as("d"), lit(0).as("code")),
        (acc, c) => {
          val d = l2(sub, element_at(cents, c + 1))
          // displace iff strictly smaller under "NaN is largest" — the
          // +∞/code-0 seed means an all-NaN subvector keeps code 0 with
          // d = NaN recorded by the final rewrite below
          when(!isnan(d) && (isnan(acc.getField("d")) || d < acc.getField("d")),
            struct(d.as("d"), c.cast("int").as("code"))).otherwise(acc)
        },
        a => {
          // a row whose EVERY distance is NaN never displaced the seed:
          // report (NaN, 0) — assign()'s min-struct answer — not (+∞, 0)
          val allNan = a.getField("d") === lit(Double.PositiveInfinity)
          struct(
            when(allNan, l2(sub, element_at(cents, 1)))
              .otherwise(a.getField("d")).as("d"),
            a.getField("code").as("code"))
        })
    })
  }

  /** One corpus scan exploded to (sub, vec_id, v): subvector s covers dims
    * [s·subDim, (s+1)·subDim). A single generator, not m scans.
    */
  private def subvectors(e: DataFrame, m: Int, subDim: Int): DataFrame =
    e.select(col("vec_id"), posexplode(array(
      (0 until m).map(s => slice(col("embedding"), s * subDim + 1, subDim)): _*
    )).as(Seq("sub", "v")))

  /** Assign every subvector to its nearest centroid: broadcast codebook,
    * map-side-combined argmin (ties to the lower code). The subvector
    * rides through the aggregation (`first(v)` — constant within the
    * (sub, vec_id) group, so deterministic), which lets the Lloyd update
    * consume the assignment directly instead of re-joining the corpus:
    * one fewer shuffle per iteration. Output: (sub, vec_id, code, d, v).
    */
  private def assign(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("sub"))
      .withColumn("d", l2(col("v"), col("centroid")))
      .groupBy(col("sub"), col("vec_id"))
      .agg(min(struct(col("d"), col("code"))).as("best"), first(col("v")).as("v"))
      .select(col("sub"), col("vec_id"),
        col("best.code").as("code"), col("best.d").as("d"), col("v"))

  /** Train the m per-subspace codebooks (k centroids each) with `iters`
    * assignment passes of Lloyd's algorithm (iters−1 centroid updates —
    * the [[Ann.kmeans]] convention). Output: (sub, code, centroid).
    */
  def train(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
            iters: Int = 2): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val e = asDouble(embeddings, "embedding")
    val subs = subvectors(e, m, subDim)
    // the k-row window runs on the already-limited seed set — a
    // single-partition exchange of k rows, not a global sort
    val seeds = e
      .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .withColumn("code",
        (row_number().over(Window.orderBy(col("h"), col("vec_id"))) - 1).cast("int"))
    var cents = seeds.select(col("code"), posexplode(array(
      (0 until m).map(s => slice(col("embedding"), s * subDim + 1, subDim)): _*
    )).as(Seq("sub", "centroid")))
    var assigned = assign(subs, cents)
    // Per-round lineage truncation, same discipline as [[Ann.kmeans]] /
    // Dedup.components: checkpoint each round's subvector assignment so the
    // plan never compounds across iterations (each snapshot is m·|vectors|
    // assignment rows; at most two are live — the previous round's blocks
    // free as soon as the new checkpoint truncates lineage past them). As
    // in [[Ann.kmeans]], the FIRST loop round stays fused — one round of
    // lineage hasn't compounded, and iters = 2 (the default) then runs as a
    // single pipelined job instead of paying an eager materialization.
    var liveCkpt: Option[DataFrame] = None
    for (i <- 2 to iters) {
      val ck = if (i == 2) assigned else {
        val c = assigned.localCheckpoint()
        liveCkpt.foreach(Dedup.freeLocalCheckpoint)
        liveCkpt = Some(c)
        c
      }
      cents = ck
        .select(col("sub"), col("code"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("mv"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("mv")))),
          x => x.getField("mv")).as("centroid"))
      assigned = assign(subs, cents)
    }
    // as in Ann.kmeans: checkpoint the (tiny, m·k-row) returned codebook and
    // free the last intermediate assignment snapshot, so deep-iters builds
    // don't leave a per-call |vectors|-row block behind for the session
    if (liveCkpt.isDefined) {
      val fin = cents.localCheckpoint()
      liveCkpt.foreach(Dedup.freeLocalCheckpoint)
      fin
    } else cents
  }

  /** Final code assignment against a trained codebook plus the per-vector
    * reconstruction (the m centroid subvectors concatenated in subspace
    * order). Output: (vec_id, codes: array<int> sorted by sub, rvec).
    */
  def encodeWithRecon(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
                      iters: Int = 2): DataFrame = {
    val e = asDouble(embeddings, "embedding")
    val cb = train(embeddings, m, subDim, k, iters)
    // Per-row encode + decode against the 1-row nested codebook array
    // (r15, guide §2.4) — the previous shape exploded the corpus m-ways,
    // broadcast-joined the codebook, and regrouped by vec_id: one
    // corpus-sized exchange for a computation that is per-row given the
    // broadcast codebook. codes reproduce assign()'s exact argmin/tie rule
    // ([[codesExpr]]); rvec is the chosen centroids flattened in subspace
    // order — the identical sort_array(collect_list)-by-sub result.
    e.join(broadcast(codebookArray(cb)), lit(true))
      .withColumn("codes", codesExpr(col("cb"), col("embedding")))
      .select(col("vec_id"), col("codes"),
        flatten(transform(col("codes"), (c, s) =>
          element_at(element_at(col("cb"), s + 1), c + 1))).as("rvec"))
  }

  /** The PQ audit: every vector's codes plus its reconstruction MSE — the
    * number that decides whether an m×k codebook is faithful enough before
    * re-encoding a 100-TB index (the same role [[Ann.quantizeInt8]] plays
    * for SQ8). The MSE comes straight from the assignment distances the
    * encode pass already computed (`Σ_s d_s² / D`, each dₛ the 6-dp
    * subspace L2 to the chosen centroid, summed in subspace order) — no
    * reconstruction materialization, no corpus re-join: train + ONE
    * assignment pass + one pivot on vec_id.
    * Output: (vec_id, code columns c0..c{m−1}, mse).
    */
  def encodeAudit(embeddings: DataFrame, m: Int, subDim: Int, k: Int,
                  iters: Int = 2): DataFrame = {
    val e = asDouble(embeddings, "embedding")
    val cb = train(embeddings, m, subDim, k, iters)
    // Per-row fold carrying the (d, code) struct per subspace (r15 deferred
    // item 1, guide §2.4): the previous shape exploded the corpus m ways,
    // broadcast-joined the codebook, and PIVOTED back on vec_id — one
    // corpus-sized hashpartitioning(vec_id) exchange for a computation that
    // is per-row once the codebook is broadcast. [[codesDistExpr]] keeps the
    // per-subspace distances the audit's MSE needs, so nothing re-derives;
    // the decision rule, the 6-dp distances, and the MSE arithmetic
    // (Σ_s d_s·d_s in subspace order / (m·subDim), rounded to 8) are the
    // assign→pivot path's exactly.
    val enc = e.join(broadcast(codebookArray(cb)), lit(true))
      .withColumn("cd", codesDistExpr(col("cb"), col("embedding")))
    def dAt(s: Int): Column = element_at(col("cd"), s + 1).getField("d")
    val codeCols = (0 until m).map(s =>
      element_at(col("cd"), s + 1).getField("code").as(s"c$s"))
    val mse = round(
      (0 until m).map(s => dAt(s) * dAt(s)).reduce(_ + _) /
        lit(m * subDim), 8).as("mse")
    enc.select(col("vec_id") +: codeCols :+ mse: _*)
  }

  /** The full IVFADC probe (Jégou et al. §IV): route each query to its
    * nearest coarse cluster (the [[Ann.kmeans]] assignment passed in as
    * `clusters`), then rank ONLY that cluster's members by asymmetric
    * distance to their PQ reconstructions — the two-level index layout a
    * 100-TB ANN deployment actually runs: coarse quantizer prunes the scan
    * to ~1/nlist of the corpus (cluster-partitioned on disk), PQ codes make
    * the candidate scan memory-resident, the exact vectors are never
    * touched at query time. Centroid table and probe table BROADCAST; the
    * per-query top-k is a window over one cluster's candidates.
    * Output: (qid, probe_cluster, vec_id, adc, rank).
    */
  def ivfAdcTopK(embeddings: DataFrame, clusters: DataFrame, queryMaxId: Long,
                 topK: Int, m: Int, subDim: Int, k: Int,
                 nprobe: Int = 1): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val e = asDouble(embeddings, "embedding")
    val ej = e.join(clusters.select(col("vec_id"), col("cluster")), Seq("vec_id"))
    val cents = Ann.centroids(ej, "cluster")
    val q = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probe = q.join(broadcast(cents), lit(true))
      .withColumn("pccos",
        round(call_function("cosine_sim", col("qe"), col("centroid")), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("pccos").desc, col("cluster"))))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qe"), col("cluster").as("probe_cluster"))
    val rv = encodeWithRecon(embeddings, m, subDim, k)
      .select(col("vec_id"), col("rvec"))
    rv.join(ej.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .join(broadcast(probe),
        col("cluster") === col("probe_cluster") && col("vec_id") =!= col("qid"))
      .withColumn("adc", l2(col("qe"), col("rvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("probe_cluster").cast("long").as("probe_cluster"),
        col("vec_id"), col("adc"), col("rank"))
  }

  /** Write the PERSISTED IVFADC layout — the index a 100-TB ANN deployment
    * actually serves from, completing the index-lifecycle trio (LSH bands,
    * IVF full-vector, now IVFADC codes):
    *  - `dir/codes`     — the compressed corpus, partitioned by coarse
    *    `cluster`: (vec_id, codes array<int>). m small codes per vector
    *    instead of D floats — at m=4 this is what makes the candidate scan
    *    memory-resident at any corpus size; partition pruning gives the
    *    same ~nprobe/nlist byte bound as the full-vector layout, on a
    *    corpus that is ~100× smaller on disk;
    *  - `dir/codebooks` — the m·k-row PQ codebook ([[train]] output), the
    *    artifact every probe broadcasts to decode candidates;
    *  - `dir/centroids` — the coarse-quantizer table ([[Ann.centroids]]);
    *  - `dir/meta`      — the SAME 1-row drift ledger as the full-vector
    *    layout ([[Ann.IvfMeta]] / [[Ann.needsIvfRebuild]]): a (re)build
    *    resets it; frozen appends advance it. Here the ledger guards TWO
    *    frozen artifacts at once — coarse routing (cell imbalance under
    *    shift, measured by the `ivf_shift` probe) and codebook fidelity
    *    (appended vectors quantized by centroids fit to the old
    *    distribution lose reconstruction accuracy).
    */
  def writeIvfAdcIndex(embeddings: DataFrame, clusterCol: String, dir: String,
                       m: Int, subDim: Int, k: Int, iters: Int = 2): Unit = {
    val spark = embeddings.sparkSession
    val e = asDouble(embeddings, "embedding")
    // train ONCE: the codebook is a multi-pass Lloyd lineage, so write it
    // to its final home FIRST and encode from the read-back table — an
    // unmaterialized `cb` consumed by both the codes write and the
    // codebooks write would re-execute the full training (the build's most
    // expensive stage) twice at any corpus size
    train(embeddings, m, subDim, k, iters)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    val cb = spark.read.parquet(s"$dir/codebooks")
    // Encode as ONE per-row projection against the 1-row nested codebook
    // array (r15, guide §2.3/§2.4): the previous shape exploded the corpus
    // m-ways, broadcast-joined the codebook, regrouped by vec_id (one
    // corpus-sized exchange), and re-joined the cluster column (a second
    // exchange). [[codesExpr]] reproduces assign()'s exact argmin/tie rule
    // per row; the single remaining exchange is the cluster-keyed layout
    // shuffle ([[Ann.clusterKeyed]], r16) that writes one healthy file per
    // cluster instead of one per (task × cluster). baseRows rides the
    // write as an observed metric instead of a third full source pass.
    val obs = org.apache.spark.sql.Observation()
    Ann.clusterKeyed(e.join(broadcast(codebookArray(cb)), lit(true))
        .select(col("vec_id"), col(clusterCol).cast("long").as("cluster"),
          codesExpr(col("cb"), col("embedding")).as("codes")))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$dir/codes")
    Ann.centroids(embeddings, clusterCol)
      .withColumn("cluster", col("cluster").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/centroids")
    Ann.writeIvfMeta(spark, dir,
      Ann.IvfMeta(baseRows = obs.get("rows").asInstanceOf[Long], appendedRows = 0L))
  }

  /** Append a batch into an EXISTING IVFADC layout without a rebuild: the
    * batch is routed by the FROZEN coarse centroids (nearest stored
    * centroid, broadcast argmax — the identical rule to
    * [[Ann.appendToIvfIndex]]) and encoded by the FROZEN codebooks (the
    * standard IVFADC add path — re-training either artifact would orphan
    * every already-coded row). O(batch) work, partition-local appended
    * files, untouched partitions byte-identical; the drift ledger advances
    * so [[Ann.needsIvfRebuild]] schedules the joint refresh. m/subDim are
    * read off the stored codebook — the index is self-describing, callers
    * cannot desync the geometry.
    */
  def appendToIvfAdcIndex(newVectors: DataFrame, indexDir: String): Unit = {
    appendIvfAdc(newVectors, indexDir, batchId = None); ()
  }

  /** [[appendToIvfAdcIndex]] with batch-id replay protection — the form a
    * `foreachBatch` caller MUST use (at-least-once delivery: a replayed
    * micro-batch through the raw append duplicates code rows — duplicate
    * top-k candidates — and double-advances the drift ledger). Publishes
    * through [[graft.streaming.SideIndexLedger]] (`<indexDir>.ledger`):
    * a committed `batchId` is a metadata-only no-op, a crashed
    * half-publish is swept and redone. Returns true iff this call
    * published. Same reference contract as the MOR snapshot's batch-id
    * ledger (ack-after-processing, `update_manager.py:442–457`).
    */
  def appendToIvfAdcIndexOnce(newVectors: DataFrame, indexDir: String,
                              batchId: Long): Boolean =
    appendIvfAdc(newVectors, indexDir, Some(batchId))

  private def appendIvfAdc(newVectors: DataFrame, indexDir: String,
                           batchId: Option[Long]): Boolean = {
    val spark = newVectors.sparkSession
    graft.GraftExtensions.register(spark)
    val ledger = indexDir + ".ledger"
    if (batchId.exists(graft.streaming.SideIndexLedger.committed(spark, ledger, _)))
      return false
    val e = asDouble(newVectors, "embedding")
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebooks")
    // The whole append — coarse routing AND PQ encode — as ONE zero-shuffle
    // projection (r15, guide §2.3/§2.4). Previous shape per batch: a
    // broadcast nested-loop × window row_number for the coarse argmax
    // (|batch|·|clusters| payload rows shuffled AND sorted), two driver
    // head() jobs for m/subDim, an m-way explode + broadcast join +
    // regroup for the codes, a vec_id join to marry the two, and a
    // cache()+count() for the ledger. Now: the centroid table and codebook
    // collapse to two 1-row broadcast arrays; each batch row folds over
    // them for its cluster ([[Ann.nearestCluster]]) and codes ([[codesExpr]],
    // assign()'s exact argmin/tie rule); geometry is read off the array
    // sizes; the ledger count rides the write as an observed metric.
    val centsArr = cents.agg(sort_array(collect_list(struct(
      col("cluster").cast("long").as("cluster"), col("centroid")))).as("cents"))
    val assigned = e.join(broadcast(centsArr), lit(true))
      .join(broadcast(codebookArray(cb)), lit(true))
      .select(col("vec_id"),
        Ann.nearestCluster(col("embedding"), col("cents")).as("cluster"),
        codesExpr(col("cb"), col("embedding")).as("codes"))
    // clusterKeyed: one O(batch) exchange → one file per touched cluster
    // per append (guide §6; same rationale as [[Ann.appendIvf]])
    val obs = org.apache.spark.sql.Observation()
    val observed = Ann.clusterKeyed(assigned).observe(obs, count(lit(1)).as("rows"))
    batchId match {
      case None =>
        observed.write.mode("append").partitionBy("cluster").parquet(s"$indexDir/codes")
      case Some(bid) =>
        graft.streaming.SideIndexLedger.publishOnce(spark, ledger,
          s"$indexDir/codes", bid) { staging =>
          observed.write.mode("overwrite").partitionBy("cluster").parquet(staging)
        }
    }
    // same crash-honesty contract as Ann.appendToIvfIndex: dying between the
    // codes append and this write under-counts drift by one batch; the
    // ledger schedules rebuilds, it is not a correctness surface. (On a
    // replayed batch the ledger skip above keeps the meta from advancing
    // twice — the replay-inflated drift the r14 verdict flagged.)
    Ann.ivfIndexMeta(spark, indexDir).foreach { meta =>
      Ann.writeIvfMeta(spark, indexDir,
        meta.copy(appendedRows = meta.appendedRows + obs.get("rows").asInstanceOf[Long]))
    }
    true
  }

  /** Bounded partition-local compaction of the codes layout — the same
    * fragmentation bound a standing ingest needs on the full-vector layout,
    * delegated to the ONE shared implementation ([[Ann.compactClusterData]]:
    * only over-fragmented cluster partitions rewrite, rename-aside swap,
    * crashed-swap self-heal).
    */
  def compactIvfAdcIndex(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, maxFilesPerCluster: Int = 16): Int =
    Ann.compactClusterData(spark, indexDir, "codes", maxFilesPerCluster)

  /** TARGETED DELETION from the IVFADC codes layout — right-to-be-forgotten
    * must hit every persisted projection of a vector, and the PQ codes ARE
    * a (lossy) projection: deleting only the full-vector index while the
    * codes table can still rank the vector into a top-k would not be a
    * deletion. Same surgical shape as [[Ann.deleteFromIvfIndex]] (shared
    * body [[Ann.deleteFromClusterData]]): rewrite ONLY the ≤|ids| cluster
    * partitions holding deleted vec_ids via the compaction's tmp/aside
    * swap (crash self-heal included); codebooks, centroids, and the drift
    * ledger are deliberately untouched — they encode the trained geometry,
    * not row membership. Returns the number of partitions rewritten.
    */
  def deleteFromIvfAdcIndex(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, ids: DataFrame): Int =
    Ann.deleteFromClusterData(spark, indexDir, "codes", ids)

  /** IVFADC probe AGAINST the persisted layout: route each query to its
    * `nprobe` nearest stored coarse centroids, scan ONLY those clusters'
    * CODE partitions (the same explicit driver-side router and static `IN`
    * partition filter as [[Ann.ivfTopKPruned]], for the same byte-contract
    * reason), decode the candidates through the broadcast codebook, and
    * rank by asymmetric distance to the reconstruction. The decode is a
    * posexplode→broadcast-join→regroup bounded to the probed partitions —
    * the corpus never shuffles and the exact vectors are never touched.
    * Same output contract as [[ivfAdcTopK]]:
    * (qid, probe_cluster, vec_id, adc, rank) — and bit-identical to it
    * when the index was built from the same corpus/assignment (pinned in
    * `PlanSpec`).
    */
  def ivfAdcTopKFromIndex(queries: DataFrame, indexDir: String, topK: Int,
                          nprobe: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    graft.GraftExtensions.register(spark)
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val cb = spark.read.parquet(s"$indexDir/codebooks")
    val q = queries.select(col("qid"), col("qe").cast("array<double>").as("qe"))
    val probe = q.join(broadcast(cents), lit(true))
      .withColumn("pccos",
        round(call_function("cosine_sim", col("qe"), col("centroid")), 6))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("pccos").desc, col("cluster"))))
      .filter(col("crank") <= nprobe)
      .select(col("qid"), col("qe"), col("cluster").as("probe_cluster"))
    // the router action: ≤ |queries|·nprobe longs, a documented bounded
    // boundary exactly like Ann.ivfTopKPruned's
    val probedClusters = probe.select(col("probe_cluster")).distinct()
      .collect().map(_.getLong(0)).sorted
    // Decode per row against the 1-row nested codebook array (r15, guide
    // §2.4): `rvec = flatten(codes[s] -> cb[s][code])` in subspace order —
    // the previous posexplode → broadcast join → regroup paid one exchange
    // of the probed candidates on the SERVING path for what is a pure
    // array lookup. Zero shuffles between the pruned codes scan and the
    // ADC ranking window.
    val rv = spark.read.parquet(s"$indexDir/codes")
      .filter(col("cluster").isin(probedClusters.map(Long.box): _*))
      .join(broadcast(codebookArray(cb)), lit(true))
      .select(col("vec_id"), col("cluster"),
        flatten(transform(col("codes"), (c, s) =>
          element_at(element_at(col("cb"), s + 1), c + 1))).as("rvec"))
    rv.join(broadcast(probe),
        col("cluster") === col("probe_cluster") && col("vec_id") =!= col("qid"))
      .withColumn("adc", l2(col("qe"), col("rvec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("probe_cluster").cast("long").as("probe_cluster"),
        col("vec_id"), col("adc"), col("rank"))
  }

  /** ADC recall report: per query, the overlap between the exact Euclidean
    * top-k and the top-k ranked by distance to PQ reconstructions
    * (asymmetric distance computation — the query stays exact, only the
    * corpus is coded). The evaluation that justifies a PQ index's
    * compression before pointing it at a corpus; same output contract as
    * [[Ann.recallReport]]: (qid, n_true, n_hit, recall).
    */
  def adcRecall(embeddings: DataFrame, queryMaxId: Long, topK: Int,
                m: Int, subDim: Int, k: Int, iters: Int = 2): DataFrame = {
    graft.GraftExtensions.register(embeddings.sparkSession)
    val e = asDouble(embeddings, "embedding")
    val rv = encodeWithRecon(embeddings, m, subDim, k, iters)
      .select(col("vec_id"), col("rvec"))
    val q = e.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def topk(corpus: DataFrame, vcol: String): DataFrame =
      corpus.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("d", l2(col("qe"), col(vcol)))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d").asc, col("vec_id"))))
        .filter(col("rank") <= topK)
        .select(col("qid"), col("vec_id"))
    val truth = topk(e, "embedding")
    val approx = topk(rv, "rvec")
    val hits = truth.join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("qid")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        round((col("n_hit") / col("n_true")).cast("decimal(28,10)"), 6).cast("double"))
      .select(col("qid"), col("n_true"), col("n_hit"), col("recall"))
  }
}
