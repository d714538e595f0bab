package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.analytics.Battery

/** Dumps `explain("formatted")` for the headline battery queries to
  * PLANS.md — the written-down result of the "explain and iterate until
  * it's the plan you'd want" loop, so plan regressions are reviewable
  * in diffs, not just caught by PlanSpec assertions. */
object PlanDump {

  private val annotated: Seq[(String, String)] = Seq(
    "q01_pricing_summary" ->
      "Partial (map-side) HashAggregate feeding a final aggregate inside one whole-stage codegen span; decimal sums for cross-engine exactness.",
    "q02_top_nations_revenue" ->
      "Star join: nation/region broadcast (BroadcastHashJoin), lineitem⋈orders⋈customer shuffled; ORDER BY+LIMIT plans as TakeOrderedAndProject — no global sort.",
    "q16_ref_integrity" ->
      "Referential integrity as a broadcast LEFT ANTI join — orphan check without shuffling the child table.",
    "q26_minhash_lsh_pairs" ->
      "LSH banding: equi-join on (band, bandsig) — NO cross product; merge-hinted self-join so both sides reuse ONE exchange (signature UDF computed once).",
    "q44_range_band_join" ->
      "Non-equi band join: BroadcastNestedLoopJoin with the 4-row tier table broadcast — the right plan when one side is tiny; the fact side never shuffles.",
    "q50_topk_per_group" ->
      "Window formulation of per-group top-k: every row shuffles to sort its partition — contrast with q53.",
    "q53_topk_agg" ->
      "Native topk_by TypedImperativeAggregate: partial ObjectHashAggregate keeps ≤k rows per group per mapper — only k·|groups| rows cross the shuffle.",
    "q47_levenshtein_pairs" ->
      "Blocked entity-resolution self-join (Blocking.selfPairs): equi-join on the (brand, size) block key, merge-hinted so both sides reuse ONE exchange; the maxBlockSize valve (off here) caps hot-block quadratic blowup at scale.",
    "q56_asof_native" ->
      "Custom AsOfJoin operator: EnsureRequirements inserts per-side hash exchanges + (key,time) sorts; one streaming merge per partition, O(1) state.",
    "q63_sliding_windows" ->
      "Sliding window() in batch: Expand generates 7 window rows per order before the aggregate — map-side partial keeps the shuffle at aggregate grain.",
    "q64_neardup_clusters" ->
      "Near-dup clustering: LSH equi-join candidates → Jaccard verify → connected components (at this edge count the adaptive driver union-find path fires, so the shown plan is the tiny labels table; above the bound, the distributed min-label fixpoint runs).",
    "q65_decontamination" ->
      "Benchmark decontamination: the eval-set gram hashes BROADCAST to a hash join — the corpus (100 TB) side reaches its per-doc count aggregate without a join shuffle.",
    "q69_centroid_outliers" ->
      "Embedding outlier screen: tiny (label,pos) centroid aggregate broadcast back; exact BIGINT deviations; top-k as TakeOrderedAndProject, no global sort.",
    "q75_span_dedup" ->
      "Substring-dedup remove phase: token array materialized ONCE before the chunk lambda (no per-chunk re-split); winner election is a single window shuffle on the span; reassembly aggregates on the doc id.",
    "q77_kmeans_assign" ->
      "k-means assignment: the k seed vectors broadcast to a nested-loop join — no join shuffle on the 100 TB vector side; the per-id argmin reduces in-stage via partial min(struct) and exchanges only the (id, best) pairs.",
    "q80_span_dedup_hashed" ->
      "Substring dedup, hashed-winner form: winners elected on 8-byte xxhash64 keys (one exchange of hashes, not span text); winner positions join back on the doc id, so the span text crosses the wire ONCE — vs twice in q75's window form.",
    "q81_kmeans_lloyd" ->
      "Full Lloyd loop: per iteration one broadcast nested-loop assignment (no vector shuffle) + one (cid,pos) exchange with map-side partial sums for the exact integer centroid update; centroids localCheckpointed so plans stay shallow across iterations.",
    "q83_bloom_decontamination" ->
      "Bloom-prefiltered decontamination: might_contain runs as a narrow codegen'd scan predicate (one KB-scale blob, no broadcast join), so only the ~fpp survivor fraction reaches the exact sort-merge verification join — the shape for a non-broadcastable eval set.",
    "q84_quality_deciles" ->
      "NTILE curriculum binning: one window exchange on source with a total-order (score, doc_id) sort — ties never make the cut engine-arbitrary.",
    "q90_incremental_neardup" ->
      "Incremental near-dup screen: the new batch bands and probes the STORED corpus index via a plain (band, bandsig) equi-join — the corpus is never re-shingled, and when the daily batch ≪ corpus, AQE broadcasts the batch side so the index is probed without a corpus-side shuffle; verification joins fingerprints only for candidate ids.",
    "q91_column_profile" ->
      "Single-pass column profile: ONE FileScan feeds the Expand-planned multi-countDistinct (each row fans out once per distinct-agg, partials combine map-side; the dedup exchange carries ~sum of per-column NDVs, not rows) — vs one scan per column for the naive per-column profile.",
    "q92_leakage_safe_splits" ->
      "Leakage-safe splits: the (id, component) map — only docs WITH a near-dup, ≪ corpus — broadcasts to a BroadcastHashJoin, so the corpus side takes the cluster key and the md5 CASE as a narrow projection with ZERO shuffles (PlanSpec pins the exchange count at 0). At this sf the CC front end resolves on the driver union-find path, so the shown probe side is the tiny labels relation.",
    "q93_simhash64_neardup" ->
      "64-bit simhash near-dup at 16-bit bands: ONE codegen simhash pass (localCheckpointed) feeds a merge-hinted banded self-join — an equi-join on (band, bv) over ONE reused exchange, never a cross product; 65,536 bucket values per band defer the occupancy saturation that bent the 8-bit q29 form (BENCH_SCALE: 0.22x linear, flat). PlanSpec pins the sort-merge + ReusedExchange shape.",
    "q97_ann_recall" ->
      "ANN recall evaluation: the query set broadcasts to both the brute-force and IVF scoring joins (the corpus side never shuffles for scoring); per-query top-k reduces through k-bounded TopKBy partial/final ObjectHashAggregate pairs, so <= k*|queries| ids cross each exchange — the n*|queries| scored rows never do. PlanSpec pins the broadcast + bounded-aggregate shape.",
    "q94_semdedup" ->
      "SemDeDup: k-means bounds the pairwise-cosine search to a cid EQUI-join (merge-hinted self-join over ONE reused exchange — never a cross product); per Lloyd iteration the centroids broadcast and only (cid,pos) partial sums shuffle; the ≥θ edge graph entering connected components is ≪ corpus. PlanSpec pins the sort-merge + ReusedExchange shape.",
    "q95_chunk_stride" ->
      "Overlapping chunking: one Generate + Project over the scan — ZERO data shuffles (the only exchange is this presentation ORDER BY); the window/stride output inflation flows straight to the sink without crossing the wire. PlanSpec pins the exchange count at 0 for the bare operator.",
    "q96_source_cap" ->
      "Per-source cap: partial ObjectHashAggregate keeps ≤k ids per group per mapper, so the exchange carries k·|groups| ids — not every row, unlike q68's window form; kept ids broadcast back to a LeftSemi join, so the corpus rows never shuffle. PlanSpec pins the aggregate pair + single exchange.",
    "q112_ivfpq_residual_topk" ->
      "Residual IVFADC read path: routing and LUT products are broadcast builders over list-count/m·ksub-row sides; the corpus-sized CODES table is filtered to probed lists by a BroadcastHashJoin BEFORE any per-subspace explode or scoring (pruning × compression — nprobe/|lists| of the rows at m·8/dims·8 of the bytes); the coarse ⟨q,mvec⟩ term rides the same broadcast, and the final per-(qid,id) sum + k-bounded TopKBy keep every exchange ≤ k·|queries| rows. PlanSpec pins the broadcast prune.",
    "q114_repeated_spans" ->
      "Sliding-window substring dedup, discovery phase: positional n-grams shuffle ONCE on the 16-byte md5 gram key into a partial count+min(struct) aggregate; occurrences rejoin the ≥2-count stats on the same key as a plain equi-join (corpus-sized both sides — nothing broadcast, never a cross product; AQE may broadcast at toy SF); the span merge windows over FLAGGED rows only. PlanSpec pins the equi-join + partial-agg shape.",
    "q125_lm_surprisal" ->
      "LM perplexity scoring: transition extraction is fully narrow (slice/zip in-row); the vocab-sized bigram and history model tables build once and BROADCAST to every lookup (never sort-merge against the corpus — PlanSpec pins it), so the 100 TB side pays only its per-doc aggregate; the filter decision is an integer cross-multiplication, no division node anywhere.",
    "q128_cms_cells" ->
      "Count-Min sketch build: ONE partial/final TypedImperativeAggregate pair — each mapper's d×w long matrix is the only thing crossing the exchange (the token stream never does); posexplode of the single result row is driver-scale.",
    "q131_phrase_search" ->
      "Phrase search: each phrase term's posting list is a filtered narrow pass (against the STORED index: a pushed EqualTo(term) scan over term-sorted buckets — SearchSpec pins it), chained by (id, pos) equi-joins; cost follows the PHRASE terms' posting sizes, never the corpus. No window functions, no per-doc rescan.",
    "q134_triangle_count" ->
      "Triangle counting: degree-oriented EDGE-iterator (compact-forward) — canonicalize, one degree aggregate, orient, then each oriented edge equi-joins its two O(√m)-bounded out-neighbor lists and intersects them IN-STAGE; the O(Σ out-deg²) wedge set is never materialized or shuffled (the wedge count is Σ C(out-deg,2) off the degree aggregate), and edges+triangles reduce in ONE pass; every stage an equi-join or partial aggregate, no product anywhere (PlanSpec pins it).",
    "q136_kcore" ->
      "k-core peeling: per round one degree aggregate + two LEFT SEMI joins over the monotonically shrinking live edge set, localCheckpoint barriers so round plans never stack; round count = the graph's cascade depth (5 here), not a data-sized loop.",
    "q140_fs_linkage" ->
      "Fellegi–Sunter linkage: candidate pairs from the blocking EQUI-join (never all-pairs); training is ONE aggregate producing a fields-sized count table; scoring rides the pairs as a narrow literal-weight sum — no second join in the scored plan (PlanSpec pins ≤ the blocking join).",
    "q141_weighted_sample" ->
      "Weighted PPS sampling: the global cumulative sum is a TWO-LEVEL scan — per-bucket totals (one small aggregate, offsets broadcast as a literal CASE) + an INTRA-bucket window — so no single-partition global window exists; the threshold walk is exact BIGINT div arithmetic in-row.",
    "q144_bm25_rank" ->
      "BM25 ranking: doc lengths are ONE postings aggregate on the id (stored beside the index at rest); the query-terms-only idf table BROADCASTS to the tf rows; saturation/length factors are in-row BIGINT div arithmetic; the cut is a bounded TakeOrderedAndProject (PlanSpec pins broadcast + TakeOrdered + no product).",
    "q147_scd2_versions" ->
      "SCD Type 2 apply: closed versions PASS THROUGH (union side, untouched); the per-key timeline is one hashpartitioning(key) exchange feeding lag (run-dedup) + lead (closing) windows — no single-partition window anywhere (PlanSpec pins it); validation joins are batch-sized key equi-joins.")

  /** The q87 PageRank ITERATION body, shown separately: the real loop
    * localCheckpoints rank state each pass, so the battery query's
    * final explain shows only a checkpoint scan — the per-iteration
    * join structure (where the scale risk lives) would be invisible.
    * Built on a synthetic edge list; the shape is data-independent. */
  private def pagerankLoopSection(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val base = spark.range(2000).selectExpr("id % 97 AS src", "(id * 31 + 1) % 97 AS dst")
    val e = base.union(base.selectExpr("dst AS src", "src AS dst")).localCheckpoint(false)
    val (eDeg, nodes) = graft.operators.Centrality.loopInputs(e)
    val rank0 = nodes.select(col("v"), lit(1000000L).as("pr")).localCheckpoint(false)
    val it = graft.operators.Centrality.iterate(eDeg, nodes, rank0, lit(150000L))
    it.collect()
    val plan = it.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val note =
      "One PageRank iteration (q87's loop body; the battery query's own plan is a " +
        "checkpoint scan + TakeOrdered). The edge+degree list and the node list are " +
        "cached HASH-DISTRIBUTED on their join keys (InMemoryTableScan reports " +
        "HashPartitioning), so EnsureRequirements exchanges ONLY the rank side of the " +
        "contribution join and the dst-keyed contribution aggregate — the edge list " +
        "never re-crosses the wire, at any iteration count."
    s"## q87_pagerank_loop_body\n\n$note\n\n```\n${plan.trim}\n```\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val byName = Battery.all.map(q => q.name -> q).toMap
    val sections = annotated.map { case (name, note) =>
      val df = byName(name).run(spark, sfDir)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      s"## $name\n\n$note\n\n```\n${plan.trim}\n```\n"
    } :+ pagerankLoopSection(spark)
    val header =
      s"""# PLANS — formatted physical plans of the headline queries
         |
         |Generated by `sbt "runMain graft.tools.PlanDump"` at $sfDir (plans are scale-
         |independent in shape; AQE-final). Each section notes WHY this is the plan we
         |want at 100 TB. Regenerate after optimizer-relevant changes and review the diff.
         |""".stripMargin
    Files.writeString(Paths.get(out), (header +: sections).mkString("\n"))
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
