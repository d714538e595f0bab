package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact distributed triangle counting — the clustering-structure
  * probe for the engine's graphs (near-dup graphs, co-occurrence
  * graphs): triangle density separates genuine duplicate CLUSTERS
  * (cliquish) from chains of borderline pairs, and is the numerator
  * of the global clustering coefficient.
  *
  * Algorithm: the degree-oriented node-iterator (the MapReduce-era
  * standard, Suri & Vassilvitskii WWW 2011): orient every undirected
  * edge from its (degree, id)-smaller endpoint to the larger, build
  * wedges by self-joining oriented edges on their source, and close
  * each wedge against the oriented edge set. Orientation makes each
  * triangle count EXACTLY once and bounds any node's out-degree by
  * O(√m) — the skew cap that keeps the wedge join from exploding on
  * hub nodes (a hub's edges point INTO it once its degree passes its
  * neighbors'). Cost: two shuffles over the edge list plus one over
  * the wedge set (|wedges| = Σ out-deg² ≤ O(m^1.5) worst case, far
  * less on real graphs).
  *
  * Everything is exact integer and join-ordered deterministically, so
  * the whole pipeline replays in ANSI SQL (battery q134). Self-loops
  * are dropped, duplicate/bidirectional input edges collapse to one
  * undirected edge.
  */
object Triangles {

  /** Canonical undirected edges (u < v, deduped, loop-free) from any
    * (a, b) pair frame. */
  def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Edges oriented by the (degree, id) total order: `src ≺ dst`.
    * Carries the dst's order key so wedge endpoints compare without
    * another degree join. */
  private[operators] def orient(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .union(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val e = edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), Seq("v"))
    def uFirst = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    e.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"),
      when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
  }

  /** The oriented edge list hash-widened on `src` to session width
    * before its checkpoint: the frame's SHUFFLE bytes are tiny (three
    * longs per edge, compressed), so AQE's byte-based coalescing lands
    * the checkpoint on 2-4 partitions — and every downstream consumer
    * (the collect_list adjacency build, the probe join's intersect
    * pass: the family's CPU, ~10 task-sec at sf0.1) inherits that
    * width and serializes onto those few cores. An EXPLICIT
    * repartition is exempt from AQE coalescing; hash-by-src means the
    * adjacency groupBy collapses onto the same exchange (no second
    * shuffle), and defaultParallelism == the session's shuffle width
    * under the engine's convention, so a large graph's natural width
    * is never narrowed. */
  private def orientedWide(edges: DataFrame): DataFrame = {
    val par = edges.sparkSession.sparkContext.defaultParallelism
    orient(edges).repartition(par, col("src")).localCheckpoint(false)
  }

  /** Oriented out-neighbor lists `(src, nbrs)` — the compact-forward
    * adjacency the intersection counter probes. Orientation bounds
    * every list at O(√m) elements (the hub skew cap), so the whole
    * relation is ~|E| longs — a few bytes per edge, broadcastable for
    * small graphs and an ordinary equi-join build side otherwise. */
  private def adjacency(o: DataFrame): DataFrame =
    o.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))

  /** Each oriented edge `(u, v)` paired with its closing corners
    * `ws = N⁺(u) ∩ N⁺(v)`: a triangle a ≺ b ≺ c (orientation order) is
    * found EXACTLY once, at edge (a, b) with corner c — `(a, c)` and
    * `(b, c)` both orient toward c, and no other edge of the triangle
    * sees both remaining corners downstream. This is the edge-iterator
    * / compact-forward form of the same degree-oriented algorithm: the
    * O(Σ out-deg²) wedge set is never MATERIALIZED or shuffled — each
    * edge carries two O(√m)-bounded neighbor arrays through an
    * equi-join and intersects them in-stage, so the only rows crossing
    * the wire are |E| edges + 2·|E| adjacency-list fetches (vs the
    * wedge enumeration's |wedges| rows, 60× |E| on the battery's
    * co-order graph). */
  private def withCorners(o: DataFrame, adj0: DataFrame): DataFrame = {
    // materialize the adjacency aggregate ONCE (lazy): it feeds BOTH
    // probe joins, and without this the planner computes the
    // collect_list aggregation — the family's heaviest stage — twice,
    // once inside each join's broadcast build (the two subtrees are
    // wrapped in different BroadcastExchanges, so ReuseExchange never
    // collapses them; r19 plan dump: ops 11-16 ≡ 19-24)
    val adj = adj0.localCheckpoint(false)
    o.join(adj.select(col("src"), col("nbrs").as("__nu")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("__nv")),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("__nu"),
          coalesce(col("__nv"), array_repeat(col("dst"), 0))).as("ws"))
  }

  /** Per-node triangle membership + degree — the local-clustering
    * ingredients `(node, degree, n_triangles)` as exact integers (the
    * coefficient itself, `2t/(d(d−1))`, is one IEEE division of exact
    * operands away — left to the caller so rankings can stay pure
    * integer). Each closed triangle credits all three corners; nodes
    * in no triangle report 0. Built on [[withCorners]]: the credit
    * stream is 2 rows per triangle-carrying edge plus one per closed
    * corner — O(|E| + |Δ|), never the wedge set. */
  def perNode(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = canonicalEdges(pairs, aCol, bCol).localCheckpoint(false)
    val o = orientedWide(edges)
    val perCorner = withCorners(o, adjacency(o))
      .filter(size(col("ws")) > 0)
      .select(explode(expr(
        """concat(
             array(named_struct('node', src, 'c', cast(size(ws) as bigint)),
                   named_struct('node', dst, 'c', cast(size(ws) as bigint))),
             transform(ws, w -> named_struct('node', w, 'c', cast(1 as bigint))))"""))
        .as("x"))
      .select(col("x.node").as("node"), col("x.c").as("c"))
      .groupBy("node").agg(sum(col("c")).as("n_triangles"))
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    deg.join(perCorner, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** (n_edges, n_wedges, n_triangles) as one row — wedges counted in
    * the oriented order (each unordered open/closed pair-of-edges at
    * a common apex once), triangles exactly once each. The wedge COUNT
    * is Σ C(out-deg, 2) straight off the out-degree aggregate — the
    * wedge set itself is never enumerated — and edges + triangles come
    * from ONE pass over [[withCorners]] (the r17 form ran the wedge
    * self-join twice: once for the wedge count, again under the close
    * join). */
  def countsRow(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val edges = canonicalEdges(pairs, aCol, bCol).localCheckpoint(false)
    val o = orientedWide(edges)
    val et = withCorners(o, adjacency(o))
      .agg(count(lit(1)).as("ne"), sum(size(col("ws")).cast("long")).as("nt"))
      .head()
    val nE = et.getLong(0)
    val nT = if (et.isNullAt(1)) 0L else et.getLong(1)
    val wr = o.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("d * (d - 1) div 2")).as("nw")).head()
    val nW = if (wr.isNullAt(0)) 0L else wr.getLong(0)
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq((nE, nW, nT)).toDF("n_edges", "n_wedges", "n_triangles")
  }

  /** APPROXIMATE triangle count by edge sampling — the Doulion
    * estimator (Tsourakakis, Kang, Miller, Faloutsos, KDD 2009): keep
    * each canonical edge with probability 1/k, count triangles EXACTLY
    * on the sparsified graph, scale by k³. A surviving triangle needs
    * all three edges kept (probability 1/k³), so the estimate
    * `triangles_sampled · k³` is unbiased; the sparsified graph has
    * ~m/k edges and ~Σd'² wedges, cutting the wedge join — the exact
    * counter's dominant cost — by ~k² in expectation. The cheap mode
    * beside the exact [[countsRow]], completing the exact/approx
    * pairing the engine offers everywhere else (countDistinct/HLL,
    * groupBy/CMS, brute/ANN).
    *
    * Sampling is a DETERMINISTIC portable hash (top 60 bits of
    * md5("u_v_seed"), the [[graft.dedup.Dedup.shingleHash60]]
    * convention), never an RNG: the same (k, seed) replays the same
    * sample in any engine — the battery oracle re-derives it in SQL —
    * and different seeds give independent estimates to average.
    * `estimate` is exact integer arithmetic (no float variance path),
    * computed in BigInt — at the k = 10⁶ cap, k³ alone is 10¹⁸, so
    * Long multiplication would silently wrap for any sampled count
    * ≥ 10; an estimate that genuinely exceeds Long.MaxValue throws
    * loudly rather than wrapping. */
  /** The 1/k-sampled canonical edge set [[approxCountsRow]] counts on.
    * The sample predicate is a pure function of the canonical (u, v),
    * so it commutes with the dedup: filtering BEFORE the distinct
    * yields the identical sampled edge set while the distinct — the
    * dominant shuffle when the input pair list is dup-heavy (the
    * co-order graph's 7M pair rows → 1.2M edges) — processes ~1/k of
    * the rows (plan-pinned in PlanSpec). On pre-deduped edge lists
    * it's the wedge-join shrink (~k²) that pays instead. */
  def sampledCanonicalEdges(
      pairs: DataFrame, aCol: String, bCol: String,
      k: Int, seed: Long): DataFrame = {
    val h = conv(substring(md5(concat_ws("_",
        col("u").cast("string"), col("v").cast("string"),
        lit(seed.toString))), 1, 15), 16, 10)
      .cast(org.apache.spark.sql.types.LongType)
    pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .filter(pmod(h, lit(k.toLong)) === 0L)
      .distinct()
  }

  /** MEASURED operating point for the exact/approx pair
    * (TriangleCrossoverBench, retired: see "Retired harnesses" in
    * BENCH_NOTES.md; plus the isolated q134/q154 A/B, BENCH_SCALE
    * x168): Doulion k=3 beats the exact counter 1.45× on the 1.2M-edge
    * co-order graph (7M raw pairs) and 2.7×/6.1×
    * (k=3/k=30) on a 10M-edge hub-heavy graph — the sampling pass
    * commutes with the canonical-edge distinct, so dup-heavy inputs
    * sample BEFORE the dominant shuffle. Below ~10⁶ raw pair rows both
    * forms are ~1 s and the exact answer removes estimator variance
    * for free, so [[countsRowAuto]] selects exact there. */
  val ApproxCrossoverPairRows: Long = 1000000L

  /** Exact/approx AUTO-SELECT in the approx result shape: inputs under
    * `exactBelowRows` RAW pair rows (one narrow count, no shuffle) run
    * the k=1 degenerate — everything sampled, estimate == exact count
    * — larger inputs run the requested-k Doulion estimator. One schema
    * either way; the `k` column records which path ran. */
  def countsRowAuto(pairs: DataFrame, aCol: String, bCol: String,
      k: Int, seed: Long = 0L,
      exactBelowRows: Long = ApproxCrossoverPairRows): DataFrame = {
    val eff = if (pairs.count() < exactBelowRows) 1 else k
    approxCountsRow(pairs, aCol, bCol, eff, seed)
  }

  def approxCountsRow(
      pairs: DataFrame, aCol: String, bCol: String,
      k: Int, seed: Long = 0L): DataFrame = {
    require(k >= 1 && k <= 1000000, s"approxCountsRow: k=$k out of (0, 10^6]")
    val sampled = sampledCanonicalEdges(pairs, aCol, bCol, k, seed)
      .localCheckpoint(false)
    val o = orientedWide(sampled)
    // one pass: sampled-edge count (withCorners keeps one row per
    // edge) and exact sparsified triangle count together
    val et = withCorners(o, adjacency(o))
      .agg(count(lit(1)).as("ne"), sum(size(col("ws")).cast("long")).as("nt"))
      .head()
    val nE = et.getLong(0)
    val nT = if (et.isNullAt(1)) 0L else et.getLong(1)
    val est = BigInt(nT) * BigInt(k).pow(3)
    require(est.isValidLong,
      s"approxCountsRow: estimate $est (n_triangles_sampled=$nT, k=$k) " +
        "overflows Long — lower k for this graph")
    val spark = pairs.sparkSession
    import spark.implicits._
    Seq((k.toLong, nE, nT, est.toLong))
      .toDF("k", "n_edges_sampled", "n_triangles_sampled", "estimate")
  }
}
