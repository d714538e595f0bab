package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.Manifest

/** An IVF (inverted-file) ANN index AT REST in the versioned manifest
  * store — the vector-search twin of the stored postings index
  * ([[graft.text.Search.writePostingsIndex]]): vectors live as an
  * ordinary versioned table whose file layout IS the index, so a probe
  * is a stats-pruned scan of the probed lists' files, with snapshot
  * isolation, exactly-once appends, time travel, and gc inherited from
  * the store instead of re-implemented (the public "vector search over
  * a lakehouse table" shape — e.g. Delta + file skipping, not a bespoke
  * index server).
  *
  * Layout contract: each appended batch is range-partitioned on the
  * list id before landing, so every data file covers a TIGHT
  * `[min, max]` list range in the manifest's skip stats, and a probe
  * of p of L lists reads ~p/L of the files through the
  * planner-integrated scan ([[Manifest.read]] — IN prunes). Centroid
  * state is a sidecar manifest table of per-list PARTIAL SUMS: sums
  * are additive, so index maintenance is pure append — no rebuild, no
  * read-modify-write — and the probe aggregates the (lists × batches)
  * sidecar rows at plan time (tiny: one row per list per batch).
  * Cosine against a summed centroid equals cosine against the mean
  * (scale invariance), so partial sums lose nothing.
  *
  * The sidecar is ADVISORY: it only chooses which lists to probe
  * (recall, like every IVF), never filters rows — a lagging sidecar
  * (e.g. a crash between the two appends) degrades recall of the
  * freshest batch, not correctness of what is returned.
  *
  * Exact-integer envelope: list selection squares the summed
  * components inside [[Similarity.cosineQ]]'s int64 kernel, so a
  * list's per-component |sum| must stay under √(2⁶³/dims) ≈ 3.8×10⁸
  * at 64 dims — with ×1000-quantized unit-scale embeddings that is
  * ~3.8×10⁵ vectors per list (the standard IVF sizing L ∝ √N keeps
  * lists AT √N, i.e. the bound would bind only past ~10¹¹ vectors).
  * Routing is GATED on that envelope ([[routingEnvelopeOk]], the
  * [[Similarity]] kmeans `envelopeSafe` pattern): the worst-case
  * dot/norm terms are computed from the ACTUAL sums; in-envelope
  * tables — everything at battery scale — take the exact int64 kernel
  * byte-identically, and only past the envelope does scoring switch
  * to an IEEE-double fold, which cannot overflow at any magnitude and
  * ranks within ~1e-16 relative error — a vanishing perturbation of
  * an ADVISORY choice, vs the sign-flipping garbage of silent wrap
  * (a uniform integer down-shift was rejected: it zeroes SMALL lists'
  * sums next to a giant one, losing their routing entirely). An
  * overflowed sum could only ever mis-rank list CHOICE (recall),
  * never the returned rows; now it cannot even do that. */
object ManifestAnn {

  /** The centroid-sum sidecar table root for an index root. */
  def centsRoot(root: String): String = root + "_cents"

  /** Append one vector batch (`idCol`, `listCol`, quantized `qvCol`)
    * into the index: data range-partitioned by list into the versioned
    * table with `listCol` skip stats, then the batch's per-list
    * centroid partial sums appended to the sidecar. Exactly the
    * store's append semantics — atomic per table, schema-enforced. */
  def appendBatch(emb: DataFrame, root: String, listCol: String,
      idCol: String, qvCol: String, listPartitions: Int = 8): Unit = {
    require(listPartitions >= 1,
      s"appendBatch: listPartitions must be >= 1, got $listPartitions")
    // one materialization (lazy) feeds the range sampling, the range
    // shuffle, AND the centroid-sums fold — the caller's `emb` frame
    // (often a full upstream derivation) otherwise evaluated 3x
    val base = emb.select(col(idCol), col(listCol), col(qvCol))
      .localCheckpoint(false)
    Manifest.append(
      base.repartitionByRange(listPartitions, col(listCol)),
      root, statsCols = Seq(listCol))
    Manifest.append(
      Similarity.listCentroidSums(base, listCol, qvCol), centsRoot(root))
    base.unpersist()
    ()
  }

  /** Current per-list centroid sums: the sidecar's partial sums folded
    * once per list (integer adds — order-free, exact). */
  def centroidSums(spark: SparkSession, root: String,
      listCol: String): DataFrame =
    Manifest.read(spark, centsRoot(root))
      .select(col(listCol), posexplode(col("cvec")).as(Seq("pos", "v")))
      .groupBy(listCol, "pos").agg(sum("v").as("sv"))
      .groupBy(listCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        s => s.getField("sv")).as("cvec"))

  /** Fold the sidecar to ONE row per list (an overwrite commit of the
    * folded sums): probe-time sidecar aggregation returns to O(lists)
    * after any number of appended batches. Pure maintenance — the sums
    * are unchanged, so list selection is identical before and after.
    * Same single-maintainer contract as [[Manifest.compact]]: not
    * concurrent-safe with an in-flight [[appendBatch]] on the same
    * root (the fold reads then replaces; an append landing in between
    * would be erased from the sidecar — recall loss, not
    * incorrectness, but run it from the index's maintenance owner). */
  def compactCents(spark: SparkSession, root: String,
      listCol: String): Unit =
    // safe to read-and-replace in one pass: overwrite stages the folded
    // rows from the pinned snapshot's files, which stay on disk until a
    // LATER gc — the commit only swaps the pointer
    Manifest.overwrite(
      centroidSums(spark, root, listCol).select(col(listCol), col("cvec")),
      centsRoot(root))

  /** Rebuild the sidecar FROM the data table (overwrite commit): the
    * repair tool for when the additive fold no longer reflects the
    * rows — after a DELETE on the index root (vectors removed from a
    * list leave its sum stale: advisory recall skew, not
    * incorrectness) or a crash that landed data without its sidecar
    * half. One scan of the index; same single-maintainer contract as
    * [[compactCents]]. */
  def refreshCents(spark: SparkSession, root: String, listCol: String,
      qvCol: String): Unit =
    Manifest.overwrite(
      Similarity.listCentroidSums(Manifest.read(spark, root), listCol, qvCol),
      centsRoot(root))

  /** IVF probe with optional metadata filtering: rank lists by
    * centroid-sum cosine against `queryQv`, take the top `nProbe`
    * (ties to the smaller list id), then exact top-`k` cosine over
    * ONLY those lists' rows — the list IN-filter prunes files at scan
    * planning through the manifest stats, and `rowFilter` (the
    * filtered-ANN predicate: source, license, date, …) applies INSIDE
    * the pruned vectorized scan, never as a post-filter over a wider
    * candidate pull. Returns (`idCol`, `listCol`, cosine) ordered by
    * cosine then id. The probed list ids are a driver handoff bounded
    * by `nProbe`. */
  def probe(spark: SparkSession, root: String, listCol: String,
      idCol: String, qvCol: String, queryQv: Seq[Long], nProbe: Int,
      k: Int, rowFilter: Column = lit(true)): DataFrame = {
    require(nProbe >= 1, s"probe: nProbe must be >= 1, got $nProbe")
    require(k >= 1, s"probe: k must be >= 1, got $k")
    val qlit = typedLit(queryQv)
    val probed = probedLists(spark, root, listCol, queryQv, nProbe)
    Manifest.read(spark, root)
      .filter(col(listCol).isin(probed: _*) && rowFilter)
      .select(col(idCol), col(listCol),
        Similarity.cosineQ(col(qvCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-`nProbe` list ids by centroid-sum cosine (ties to the smaller
    * list id) — the routing step both probe forms share; bounded
    * driver handoff. Sums pass the [[routingSafeCents]] overflow gate
    * first, so list choice never rides a wrapped int64. */
  private def probedLists(spark: SparkSession, root: String,
      listCol: String, queryQv: Seq[Long], nProbe: Int): Seq[Any] = {
    // materialized once (tiny: one row per list) — the envelope gate
    // and the scoring pass are separate actions, and each would
    // otherwise re-fold the sidecar
    val cents = centroidSums(spark, root, listCol).localCheckpoint()
    val qlit = typedLit(queryQv)
    val score = routingScore(col("cvec"), qlit,
      exact = routingEnvelopeOk(cents, queryQv))
    cents
      .select(col(listCol), score.as("cscore"))
      .orderBy(col("cscore").desc, col(listCol).asc)
      .limit(nProbe)
      .select(col(listCol))
      .collect().map(_.get(0)).toSeq
  }

  /** The routing overflow gate (the header's exact-integer envelope):
    * [[Similarity.cosineQ]] folds exact int64 multiply-adds, so the
    * worst-case terms dims·maxS² (the sum's own norm), dims·maxS·maxQ
    * (the dot) and dims·maxQ² must stay under 2⁶². Computed from the
    * ACTUAL folded sums (one tiny O(lists) aggregate); true for every
    * realistically-sized table. */
  private[graft] def routingEnvelopeOk(cents: DataFrame,
      queryQv: Seq[Long]): Boolean = {
    val r = cents.agg(
      max(aggregate(col("cvec"), lit(0L), (a, v) => greatest(a, abs(v)))),
      max(size(col("cvec")))).head()
    if (r.isNullAt(0)) return true // empty sidecar: nothing to score
    val maxS = BigInt(r.getLong(0))
    val dims = BigInt(math.max(r.getInt(1), queryQv.length))
    val maxQ = BigInt(if (queryQv.isEmpty) 0L else queryQv.map(v => math.abs(v)).max)
    val lim = BigInt(1) << 62
    dims * maxS * maxS < lim && dims * maxS * maxQ < lim &&
      dims * maxQ * maxQ < lim
  }

  /** List-routing score under the gate — [[Similarity.routingCosine]],
    * the same kernel pair the in-memory IVF routers run. */
  private[graft] def routingScore(cvec: Column, qlit: Column,
      exact: Boolean): Column = Similarity.routingCosine(cvec, qlit, exact)

  // ------------------------------------------------------------------ //
  // PQ/ADC codes AT REST — the compression layer of the stored index.  //
  // The full-vector table answers exact reads; at 100 TB the probe's   //
  // working set must be the CODES (m bytes-ish per vector, 64× smaller //
  // at m=8 over 64 dims), with the full vectors touched only for the   //
  // bounded re-rank candidate set. Layout mirrors the main table:      //
  // codes range-partitioned on the list id with list skip stats, so    //
  // the probed-lists IN-filter file-prunes the CODES scan the same way //
  // it prunes the vector scan. The coarse means and the residual       //
  // codebook are tiny versioned sidecar tables (the trained artifact — //
  // frozen between rebuilds, the production stance; drift-gated        //
  // rebuild is the existing [[Similarity.rebuildSemanticIndexIfDrifted]]//
  // story).                                                            //
  // ------------------------------------------------------------------ //

  /** The floored-mean coarse-centroid sidecar of a PQ-compressed index. */
  def meansRoot(root: String): String = root + "_means"
  /** The residual-PQ codebook sidecar. */
  def pqRoot(root: String): String = root + "_pq"
  /** The PQ codes table (the compressed corpus). */
  def codesRoot(root: String): String = root + "_codes"

  /** Build (or rebuild) the PQ/ADC compression layer over the CURRENT
    * index rows — the IVFADC-R form ([[Similarity]] §residual): per-list
    * floored-mean coarse centroids, residuals rv = qv − mvec, a
    * residual PQ codebook (trained with [[Similarity.pqTrainCodebookQ]]
    * unless a deterministic `codebook` is supplied), and the codes
    * table, range-partitioned on the list id with skip stats so probes
    * file-prune it. Three overwrite commits (means, codebook, codes) —
    * the build is a maintenance action with the same single-maintainer
    * contract as [[compactCents]]. */
  def buildPq(spark: SparkSession, root: String, listCol: String,
      idCol: String, qvCol: String, m: Int = 4, ksub: Int = 8,
      iters: Int = 4, codebook: Option[DataFrame] = None,
      listPartitions: Int = 8): Unit = {
    val rows = Manifest.read(spark, root)
    val means = Similarity.listCentroidMeans(
      rows.select(col(listCol), col(qvCol).as("qv")), listCol, "qv")
    Manifest.overwrite(means, meansRoot(root))
    val rf = rows.join(broadcast(means), Seq(listCol))
      .select(col(idCol), col(listCol),
        zip_with(col(qvCol), col("mvec"), (x, mv) => x - mv).as("rv"))
    val cb = codebook.getOrElse(
      Similarity.pqTrainCodebookQ(rf, idCol, "rv", m, ksub, iters))
    Manifest.overwrite(cb, pqRoot(root))
    // materialize the encode once (lazy): the range exchange's sampling
    // job otherwise runs the whole residual PQ encode a second time
    val codes = Similarity.pqEncodeQ(rf, idCol, "rv", cb)
      .join(rf.select(col(idCol).as("id"), col(listCol)), Seq("id"))
      .localCheckpoint(false)
    Manifest.overwrite(
      codes.repartitionByRange(listPartitions, col(listCol)),
      codesRoot(root), statsCols = Seq(listCol))
    codes.unpersist()
    // id BLOOM sidecar over the fresh codes: the codes layout is
    // range-partitioned on the LIST id, so every file's vector-id
    // range spans the corpus and [min, max] stats cannot prune a
    // point lookup BY id ("which list/code does vector x carry") —
    // without the bloom it scans every codes file
    Manifest.buildBloomIndex(spark, codesRoot(root), "id")
  }

  /** [[appendBatch]] for a PQ-compressed index: the batch lands in the
    * main table + centroid sidecar AND is residual-encoded against the
    * STORED means/codebook into the codes table — pure appends
    * everywhere, nothing retrained (the frozen-codebook streaming-
    * encode production shape). Every batch list must already have a
    * stored coarse mean — a brand-new list id needs a [[buildPq]]
    * rebuild to adopt it (loud throw, not silent recall loss). */
  def appendBatchPq(emb: DataFrame, root: String, listCol: String,
      idCol: String, qvCol: String, listPartitions: Int = 8): Unit = {
    val spark = emb.sparkSession
    appendBatch(emb, root, listCol, idCol, qvCol, listPartitions)
    val means = Manifest.read(spark, meansRoot(root))
    val novel = emb.select(col(listCol)).distinct()
      .join(broadcast(means.select(col(listCol))), Seq(listCol), "left_anti")
      .limit(1).collect()
    require(novel.isEmpty,
      s"appendBatchPq: batch carries list id ${novel.headOption.map(_.get(0))} " +
        "with no stored coarse mean — rebuild the PQ layer (buildPq) to " +
        "adopt new lists")
    val cb = Manifest.read(spark, pqRoot(root))
    val rf = emb.join(broadcast(means), Seq(listCol))
      .select(col(idCol), col(listCol),
        zip_with(col(qvCol), col("mvec"), (x, mv) => x - mv).as("rv"))
    // same single-materialization as buildPq: sampling + shuffle read
    // the encoded blocks instead of re-running the PQ encode
    val codes = Similarity.pqEncodeQ(rf, idCol, "rv", cb)
      .join(rf.select(col(idCol).as("id"), col(listCol)), Seq("id"))
      .localCheckpoint(false)
    Manifest.append(
      codes.repartitionByRange(listPartitions, col(listCol)),
      codesRoot(root), statsCols = Seq(listCol))
    codes.unpersist()
    // keep the id bloom's coverage from decaying under the standing
    // append loop (metadata-only check; rebuild only past the valve)
    Manifest.maybeRefreshBloomIndex(spark, codesRoot(root), "id")
    ()
  }

  /** Point lookup INTO THE CODES TABLE by vector id — "which list and
    * code word does vector `id` carry": the codes files are range-
    * partitioned on the LIST id, so every file's vector-id range spans
    * the corpus and [min, max] stats keep all of them; the id bloom
    * sidecar ([[buildPq]] builds it, [[appendBatchPq]] refreshes its
    * coverage) prunes to the file(s) whose sketch might contain the
    * id. Post-refresh appends are unscreened-but-found (the bloom
    * contract — conservative, never wrong). */
  def codesById(spark: SparkSession, root: String, id: Any): DataFrame =
    Manifest.readWhereEquals(spark, codesRoot(root), "id", id)

  /** COMPRESSED probe — IVFADC-R against the stored index, with exact
    * re-rank: route by centroid-sum cosine exactly as [[probe]], ADC-
    * score ONLY the probed lists' members from the file-pruned CODES
    * scan (score = ⟨q, mvec_list⟩ + Σ_sub LUT[sub][code], exact
    * integers — [[Similarity.ivfPqResidualTopKNeighbors]]'s
    * decomposition over the at-rest tables), keep the top k·`rerank`
    * candidates (bounded driver handoff), then EXACT cosine over just
    * those ids' full vectors — read through the probed lists' pruned
    * files of the main table. Data bytes touched: the probed lists'
    * CODES files + O(k·rerank) full vectors, never the probed lists'
    * full-vector bulk — the memory story at 10⁹+ vectors. Returns
    * (idCol, listCol, cosine) ordered by (cosine desc, id), ≤ k rows.
    *
    * DELETES on the index root: the exact re-rank reads the MAIN
    * table (deletion-vector-filtered), so removed vectors can never
    * be returned; their codes go stale-but-harmless — wasted
    * candidate slots that can shorten the result below k under heavy
    * deletion (recall, not correctness — the sidecar-advisory
    * stance). A [[buildPq]] rebuild re-derives codes from the live
    * rows, the same repair cadence as [[refreshCents]]. */
  def probePq(spark: SparkSession, root: String, listCol: String,
      idCol: String, qvCol: String, queryQv: Seq[Long], nProbe: Int,
      k: Int, rerank: Int = 4): DataFrame = {
    require(nProbe >= 1, s"probePq: nProbe must be >= 1, got $nProbe")
    require(k >= 1 && rerank >= 1,
      s"probePq: k and rerank must be >= 1, got ($k, $rerank)")
    val qlit = typedLit(queryQv)
    val probed = probedLists(spark, root, listCol, queryQv, nProbe)
    val cb = Manifest.read(spark, pqRoot(root))
    val subDim = cb.select(min(size(col("cvec")))).head().getInt(0)
    val lut = cb.select(col("sub"), col("code"),
      Similarity.dotQ(slice(qlit, col("sub") * subDim + 1, lit(subDim)),
        col("cvec")).as("lut"))
    val coarse = Manifest.read(spark, meansRoot(root))
      .filter(col(listCol).isin(probed: _*))
      .select(col(listCol), Similarity.dotQ(col("mvec"), qlit).as("coarse"))
    val cand = Manifest.read(spark, codesRoot(root))
      .filter(col(listCol).isin(probed: _*))
      .join(broadcast(coarse), Seq(listCol))
      .select(col("id"), col("coarse"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("id"))
      .agg((sum(col("lut")) + first(col("coarse"))).as("adc"))
      .orderBy(col("adc").desc, col("id").asc)
      .limit(k * rerank)
      .select(col("id"))
      .collect().map(_.get(0)).toSeq
    if (cand.isEmpty)
      return Manifest.read(spark, root).filter(lit(false))
        .select(col(idCol), col(listCol), lit(0.0).as("cosine"))
    Manifest.read(spark, root)
      .filter(col(listCol).isin(probed: _*) && col(idCol).isin(cand: _*))
      .select(col(idCol), col(listCol),
        Similarity.cosineQ(col(qvCol), qlit).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
