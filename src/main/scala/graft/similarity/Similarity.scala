package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Similarity search over embedding columns (north-star extension,
  * SURVEY §2.E / BASELINE.json): brute-force cosine as the exactness
  * baseline, sign-LSH bucketing and IVF-style list probing as the scale
  * paths.
  *
  * Exactness strategy (shared with the DuckDB oracle): embeddings are
  * quantized to integer units (×1000, round-half-up), so dot products
  * and squared norms are exact BIGINT arithmetic; the cosine is then a
  * single IEEE division of identical exact operands in any engine.
  */
object Similarity {

  /** Quantize a float/double array to integer units (×scale). */
  def quantize(c: Column, scale: Int = 1000): Column =
    transform(c, x => round(x.cast("double") * scale, 0).cast(LongType))

  /** Exact integer dot product of two quantized vectors — the native
    * codegen kernel ([[graft.functions.DotLongArrays]]; the composed
    * aggregate∘zip_with form evaluates interpreted, ~30 µs per 64-dim
    * pair, and this expression is the entire cost of any pairwise
    * similarity stage). Same left-fold of exact multiply-adds. */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.DotLongArrays.dot(a, b)

  /** Exact integer squared norm (= [[dotQ]] of the vector with itself). */
  def normSqQ(a: Column): Column = dotQ(a, a)

  /** Cosine similarity of quantized vectors — deterministic double. */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") / (sqrt(normSqQ(a).cast("double")) * sqrt(normSqQ(b).cast("double")))

  /** Sign-LSH bucket id from the first `bits` components: bit i set iff
    * component i+1 > 0. Random-hyperplane LSH with axis-aligned planes —
    * crude but deterministic and engine-portable; at scale the bucket
    * join replaces the O(n²) all-pairs cross product with a shuffle on
    * the bucket key.
    *
    * CLUSTERED-DATA CAVEAT (measured, BENCH_SCALE.md): members of a
    * tight cluster share their leading sign bits at ANY bit width, so
    * on clustered embeddings — which real corpora are — the buckets
    * degenerate to one mega-bucket per cluster and the self-join goes
    * quadratic per cluster with total skew (one straggler task per
    * mega-bucket). More bits do NOT help; the remedy is a different
    * bucketing: IVF list probing ([[ivfTopKNeighbors]]) or k-means-
    * bounded pairwise ([[semDedup]]). Appropriate only when vectors
    * are spread (near-random sign structure). */
  def signBucket(qv: Column, bits: Int = 8): Column =
    (0 until bits).map { i =>
      when(element_at(qv, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF-style list vectors: per-list (label) elementwise SUM of
    * quantized vectors. Sums, not means: cosine is scale-invariant, and
    * integer sums stay exact and order-independent (a float mean would
    * be neither). One shuffle on (label, pos), then regroup. */
  /** Routing overflow gate shared by every IVF router (in-memory and
    * at-rest — [[graft.similarity.ManifestAnn]] runs the same check on
    * its stored sidecar): [[cosineQ]] folds exact int64 multiply-adds
    * over the per-list SUMS, so dims·maxS², dims·maxS·maxQ and
    * dims·maxQ² must stay under 2⁶², computed from the ACTUAL sums and
    * queries (two tiny aggregates). True for every realistically-sized
    * list; a ~10¹²-member list (or a giant hand-fed sum) trips it. */
  def routingEnvelopeOk(cents: DataFrame, queries: DataFrame,
      qCol: String = "qqv"): Boolean = {
    def maxAbsDims(df: DataFrame, c: String): (BigInt, Int) = {
      val r = df.agg(
        max(aggregate(col(c), lit(0L), (a, v) => greatest(a, abs(v)))),
        max(size(col(c)))).head()
      if (r.isNullAt(0)) (BigInt(0), 0) else (BigInt(r.getLong(0)), r.getInt(1))
    }
    val (s, d1) = maxAbsDims(cents, "cvec")
    val (q, d2) = maxAbsDims(queries, qCol)
    val dims = BigInt(math.max(d1, d2))
    val lim = BigInt(1) << 62
    dims * s * s < lim && dims * s * q < lim && dims * q * q < lim
  }

  /** List-routing score under the gate: the exact int64 cosine kernel
    * in-envelope (byte-identical to every pre-gate release), the
    * IEEE-double fold past it — overflow-free at any magnitude, within
    * ~1e-16 relative error of the true cosine (an ADVISORY choice
    * perturbation, vs the sign-flipping garbage of silent wrap), with
    * zero-norm sums ranked LAST rather than dividing by zero. */
  def routingCosine(a: Column, b: Column, exact: Boolean): Column =
    if (exact) cosineQ(a, b)
    else {
      def dotD(x: Column, y: Column): Column = aggregate(
        zip_with(x, y, (u, v) => u.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v)
      val (na, nb) = (dotD(a, a), dotD(b, b))
      when(na === 0.0 || nb === 0.0, lit(-2.0))
        .otherwise(dotD(a, b) / (sqrt(na) * sqrt(nb)))
    }

  /** Top-`nprobe` probed lists per query — the routing step every IVF
    * router shares, envelope-gated. The sums are MATERIALIZED once
    * (localCheckpoint — one row per list, tiny): the gate's aggregate
    * and the scoring pass are separate Spark actions, and without the
    * checkpoint each would re-run the full base-table centroid-sum
    * shuffle. */
  private def probedListsByQuery(cents0: DataFrame, labelCol: String,
      queries: DataFrame, nprobe: Int): DataFrame = {
    val cents = cents0.localCheckpoint()
    val exact = routingEnvelopeOk(cents, queries)
    cents.crossJoin(broadcast(queries))
      .select(col("qid"), col(labelCol),
        routingCosine(col("cvec"), col("qqv"), exact).as("cscore"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cscore"), col(labelCol), nprobe).as("__ls"))
      .select(col("qid"), explode(col("__ls")).as(labelCol))
  }

  def listCentroidSums(base: DataFrame, labelCol: String, qvCol: String): DataFrame =
    base.select(col(labelCol), posexplode(col(qvCol)).as(Seq("pos", "v")))
      .groupBy(labelCol, "pos").agg(sum("v").as("sv"))
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        s => s.getField("sv")).as("cvec"))

  /** One k-means ASSIGNMENT step over an embedding column — the
    * clustering primitive of corpus curation (topic bucketing, per-
    * cluster mixture weighting, semantic dedup beyond [[signBucket]]).
    * Seeds are the `k` vectors with the smallest ids (deterministic,
    * engine-portable — no RNG); each vector goes to the centroid with
    * the minimum EXACT integer squared distance Σ(x−c)² over ×1000-
    * quantized components, ties to the smaller centroid id. Returns
    * (idCol, cid, dist2).
    *
    * A full Lloyd iteration is this plus [[listCentroidSums]] on the
    * assignment (cosine-invariant integer centroid sums) — both halves
    * stay exact, so iterating is deterministic in any engine.
    *
    * Scale shape: the seed set is k·dims longs — broadcast; the
    * assignment itself is a narrow scan (broadcast nested-loop against
    * k rows — no join shuffle). The per-id argmin reduces in-stage
    * (partial min(struct) rides the scan) and exchanges only the
    * (id, best) pairs — one partial-agg-collapsed exchange on the id,
    * ~one narrow row per vector on the wire. Overflow: |x−c| ≤ 2¹² for unit-scale
    * ×1000 quantization, so dist2 ≤ dims·2²⁴ — nowhere near BIGINT. */
  def kmeansAssign(
      emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val base = emb.select(col(idCol), quantize(col(vecCol)).as("qv"))
    val seeds = base.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), col("qv").as("cqv"))
    // ‖x − c‖² = x·x − 2(x·c) + c·c through the native dot kernel —
    // exact-integer-identical to the elementwise zip_with form, which
    // Spark would evaluate interpreted (see dotQ)
    val dist2 = dotQ(col("qv"), col("qv")) - lit(2L) * dotQ(col("qv"), col("cqv")) +
      dotQ(col("cqv"), col("cqv"))
    base.crossJoin(broadcast(seeds))
      .select(col(idCol), col("cid"), dist2.as("dist2"))
      .groupBy(idCol)
      .agg(min(struct(col("dist2"), col("cid"))).as("best"))
      .select(col(idCol), col("best.cid").as("cid"), col("best.dist2").as("dist2"))
  }

  /** Full Lloyd's k-means over an embedding column — [[kmeansAssign]]
    * (assignment) and [[listCentroidSums]]-style integer updates
    * composed into an iterated loop, every step exact and
    * engine-portable (no RNG, no float accumulation):
    *
    *  - seeds: the k smallest-id vectors, as (sum = qv, n = 1);
    *  - assignment: centroids are carried UNDIVIDED as (Σ-vector, n),
    *    and the distance to the mean is compared via the exact integer
    *    numerator ‖n·x − S‖² (= n²·‖x − S/n‖²) over the count-squared —
    *    ONE IEEE division of exact operands per (vector, centroid),
    *    deterministic in any engine; ties go to the smaller cid;
    *  - update: per-(cid, pos) integer sums/counts — exact and
    *    order-independent, unlike a float mean;
    *  - clusters that lose all members drop out (both engines derive
    *    centroids from the same assignment, so they agree).
    *
    * Returns the final assignment (idCol, cid) after `iters` assignment
    * rounds (iters = 1 ⇒ exactly [[kmeansAssign]]'s clustering, with
    * n = 1 making the scaled comparison integer-exact).
    *
    * Scale shape per iteration: centroids are k·dims longs — broadcast;
    * assignment is the same narrow broadcast nested-loop + argmin
    * exchange as [[kmeansAssign]]; the update is one exchange on
    * (cid, pos) with map-side partial sums, |k|·dims rows out. The
    * quantized input is localCheckpointed once (lazy) so the k+1 passes
    * read stored blocks instead of re-deriving the scan — same
    * fault-tolerance caveat as Dedup.verifiedNearDupPairs's
    * fingerprints. Overflow bound: |n·x − S| ≤ 2n·2¹² for unit-scale
    * ×1000 quantization ⇒ numerator ≤ dims·n²·2²⁶ — safe in BIGINT to
    * n ≈ 1.4·10⁵ vectors per cluster at 64 dims; beyond that the
    * update-side sums still fit but the assignment numerator needs the
    * DECIMAL escape (cf. [[centroidDeviations]] `decimalExact`). */
  def kmeans(
      emb: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame =
    kmeansDetailed(
      emb.select(col(idCol), quantize(col(vecCol)).as("qv")).localCheckpoint(false),
      idCol, k, iters)
      .select(col(idCol), col("cid"))

  /** The Lloyd loop over a pre-quantized `(idCol, qv)` frame, returning
    * the final assignment WITH its exact integer distance numerator:
    * (idCol, cid, dist_num) where dist_num = ‖n·x − S‖² against the
    * centroid the last round assigned to. Within one cluster all
    * members share n, so dist_num orders members by true centroid
    * distance EXACTLY (no float) — what [[semDedup]]'s representative
    * selection consumes. `base` should already be checkpointed (the
    * loop reads it k+1 times). */
  private[graft] def kmeansDetailed(
      base: DataFrame, idCol: String, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    val maxX = maxAbsQv(base) // loop-invariant envelope probe, scanned once
    var cent = base.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), col("qv").as("s"), lit(1L).as("n"))
    var assigned = assignToSummedCentroids(base, idCol, cent, maxX)
    var i = 1
    while (i < iters) {
      cent = base.join(assigned.select(col(idCol), col("cid")), idCol)
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x")).as("sv"), count(lit(1)).as("cnt"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
          s => s.getField("sv")).as("s"),
          max(col("cnt")).as("n"))
        // k·dims rows — checkpointing (lazy) keeps each round's plan
        // shallow instead of nesting the whole history of iterations
        .localCheckpoint(false)
      assigned = assignToSummedCentroids(base, idCol, cent, maxX)
      i += 1
    }
    assigned
  }

  /** ENVELOPE GUARD for the scaled-assignment numerator: the exact
    * form n²(x·x) − 2n(x·s) + s·s overflows int64 once cluster counts
    * pass the scaladoc's dims·n²·2²⁶ bound (measured: the 1M-vector
    * decade of AnnAtRestBench's PQ build threw ARITHMETIC_OVERFLOW in
    * training; the bench is retired, see "Retired harnesses" in
    * BENCH_NOTES.md). When the worst case — computed from the ACTUAL frames:
    * max n and max |s| from the k-row centroid frame, max |x| from the
    * member frame — can exceed 2⁶², the summed centroids are demoted
    * to floored MEANS (n = 1): the numerator becomes x·x − 2(x·c) + c·c
    * with |c| ≤ max|x|+1, trivially in range at any cluster size.
    * Rounding the mean moves each component by < 1 — an assignment
    * perturbation far below the quantization grain, and deterministic
    * (same data ⇒ same path), so battery-scale runs stay byte-identical
    * on the exact path while corpus-scale training no longer throws. */
  private def envelopeSafe(maxXOf: () => Long, cent: DataFrame): DataFrame = {
    // ONE driver action over the k-row centroid frame answers every
    // centroid-side envelope question (max n, max |s|, dims — was two
    // separate jobs). The member-frame probe (max |x|) is behind
    // `maxXOf`: the member frame is LOOP-INVARIANT across a Lloyd
    // loop's rounds, so callers memoize that full scan once instead of
    // re-running it every assignment round.
    val cr = cent.agg(
      max(col("n")),
      max(aggregate(col("s"), lit(0L), (a, v) => greatest(a, abs(v)))),
      min(size(col("s")))).head()
    val maxN = if (cr.isNullAt(0)) 1L else cr.getLong(0)
    if (maxN <= 1L) return cent // data-vector seeds: always in range
    val maxS = if (cr.isNullAt(1)) 0L else cr.getLong(1)
    val dims = BigInt(if (cr.isNullAt(2)) 0 else cr.getInt(2))
    val (n, s, x) = (BigInt(maxN), BigInt(maxS), BigInt(maxXOf()))
    val worst = n * n * dims * x * x + 2 * n * dims * x * s + dims * s * s
    if (worst < (BigInt(1) << 62)) cent
    else cent
      .withColumn("s", transform(col("s"),
        v => floor(v.cast("double") / col("n").cast("double")).cast(LongType)))
      .withColumn("n", lit(1L))
  }

  /** Memoized max |component| over a member frame's `qv` column — the
    * envelope guard's only corpus-sized probe. Evaluated at most once
    * (and only if a guard round actually needs it: round 1's n = 1
    * seeds early-return before calling), then reused by every later
    * round of the same loop. */
  private def maxAbsQv(df: DataFrame): () => Long = {
    lazy val v = {
      val r = df.select(
        max(aggregate(col("qv"), lit(0L), (a, b) => greatest(a, abs(b))))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    () => v
  }

  /** One scaled-assignment round against (cid, s = Σ-vector, n = count)
    * centroids: argmin over cid of ‖n·x − s‖²/n² (exact BIGINT
    * numerator, one IEEE division), ties to the smaller cid. The
    * winning numerator rides along as `dist_num` (it never affects the
    * argmin — (dev2, cid) is already a total order per row). Centroids
    * pass the [[envelopeSafe]] overflow gate first. */
  private def assignToSummedCentroids(
      base: DataFrame, idCol: String, cent0: DataFrame,
      maxX: () => Long): DataFrame = {
    val cent = envelopeSafe(maxX, cent0)
    // ‖n·x − s‖² = n²(x·x) − 2n(x·s) + s·s — native dot kernel, exact-
    // integer-identical to the zip_with form (same BIGINT bound: the
    // n² (x·x) term is the scaladoc's dims·n²·2²⁶ envelope)
    val num = col("n") * col("n") * dotQ(col("qv"), col("qv")) -
      lit(2L) * col("n") * dotQ(col("qv"), col("s")) +
      dotQ(col("s"), col("s"))
    base.crossJoin(broadcast(cent))
      .select(col(idCol),
        (num.cast("double") / (col("n") * col("n")).cast("double")).as("dev2"),
        col("cid"), num.as("num"))
      .groupBy(idCol)
      .agg(min(struct(col("dev2"), col("cid"), col("num"))).as("best"))
      .select(col(idCol), col("best.cid").as("cid"), col("best.num").as("dist_num"))
  }

  /** IVF-SEEDED Lloyd — the large-k form of [[kmeansDetailed]].
    * BENCH_SCALE.md's x94 finding: flat Lloyd's assignment is O(n·k)
    * multiply-adds, and at the SemDeDup operating regime (k ∝ n so
    * expected cluster size stays constant) that turns quadratic —
    * k = 800 over 200k vectors × 64 dims ≈ 10¹⁰ multiply-adds per
    * round. Two levels instead:
    *
    *  1. COARSE: the flat Lloyd loop builds kc = ⌈√k⌉ lists —
    *     O(n·√k) per round;
    *  2. FINE: each list's ⌈k/kc⌉ smallest-id members seed its own
    *     fine clusters, and fine assignment joins members to ONLY
    *     their list's seeds (equi-join on the list id in place of the
    *     flat form's broadcast nested-loop over all k) — O(n·k/kc) =
    *     O(n·√k) per round.
    *
    * Total O(n·√k): ~14× fewer multiply-adds at k = 800, growing with
    * √k. Same exact-integer arithmetic, determinism (no RNG), and
    * (idCol, cid, dist_num) output contract as [[kmeansDetailed]] —
    * fine cids are seed ids, globally unique across lists. The IVF
    * approximation: fine clusters never cross coarse lists, so a
    * vector whose globally-nearest fine centroid sits in a
    * neighboring list keeps its own list's best instead. That is the
    * standard coarse-quantizer trade (assignments are an index
    * structure, not a model — the [[admitSemanticBatch]] drift note's
    * rationale); for [[semDedup]] the verdicts it feeds are
    * θ-threshold cosine checks on near-identical vectors, which share
    * a list under any sane coarse quantizer. Cluster count is at most
    * kc·⌈k/kc⌉ (< k + kc), not exactly k.
    *
    * Scale shape per fine round: the seed/centroid frame is ≤ ~k·dims
    * longs — broadcast; the member side is a narrow scan + the same
    * argmin partial-agg exchange as the flat form. The coarse
    * assignment is checkpointed once and reused by every fine round. */
  private[graft] def kmeansIvfSeededDetailed(
      base: DataFrame, idCol: String, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val kf = math.max(1, (k + kc - 1) / kc)
    val lists = kmeansDetailed(base, idCol, kc, iters)
      .select(col(idCol), col("cid").as("lcid"))
    val withList = base.join(lists, idCol)
      .select(col(idCol), col("qv"), col("lcid"))
      .localCheckpoint(false) // read by the seed scan + every fine round
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lcid").orderBy(col(idCol))
    var cent = withList
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= kf)
      .select(col("lcid"), col(idCol).as("cid"), col("qv").as("s"), lit(1L).as("n"))
      .localCheckpoint(false)
    val maxXL = maxAbsQv(withList) // loop-invariant envelope probe, scanned once
    var assigned = assignWithinLists(withList, idCol, cent, maxXL)
    var i = 1
    while (i < iters) {
      cent = withList.join(assigned.select(col(idCol), col("cid")), idCol)
        .select(col("lcid"), col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        // every member of a fine cluster shares its list: max(lcid) is
        // the constant, carried through the regroup
        .agg(max(col("lcid")).as("lcid"), sum(col("x")).as("sv"), count(lit(1)).as("cnt"))
        .groupBy("cid")
        .agg(max(col("lcid")).as("lcid"),
          transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
            s => s.getField("sv")).as("s"),
          max(col("cnt")).as("n"))
        .localCheckpoint(false)
      assigned = assignWithinLists(withList, idCol, cent, maxXL)
      i += 1
    }
    assigned
  }

  /** [[assignToSummedCentroids]] restricted to each vector's coarse
    * list: the (lcid-keyed) equi-join replaces the broadcast
    * nested-loop, so each member scores only its own list's centroids.
    * Same exact scaled-integer argmin and (dev2, cid) tie rule, same
    * [[envelopeSafe]] overflow gate. */
  private def assignWithinLists(
      baseL: DataFrame, idCol: String, cent0: DataFrame,
      maxX: () => Long): DataFrame = {
    val cent = envelopeSafe(maxX, cent0)
    val num = col("n") * col("n") * dotQ(col("qv"), col("qv")) -
      lit(2L) * col("n") * dotQ(col("qv"), col("s")) +
      dotQ(col("s"), col("s"))
    baseL.join(broadcast(cent), Seq("lcid"))
      .select(col(idCol),
        (num.cast("double") / (col("n") * col("n")).cast("double")).as("dev2"),
        col("cid"), num.as("num"))
      .groupBy(idCol)
      .agg(min(struct(col("dev2"), col("cid"), col("num"))).as("best"))
      .select(col(idCol), col("best.cid").as("cid"), col("best.num").as("dist_num"))
  }

  /** Above this k, [[semDedup]] and [[writeSemanticIndex]] route
    * clustering through [[kmeansIvfSeededDetailed]] — below it the
    * flat loop is cheaper AND the battery-pinned oracle form (q94's
    * k = 8 stays byte-identical). The crossover is measured, not
    * guessed: the seeded path adds ~4 s of fixed stage overhead
    * (coarse pass + per-list seeding window), while the flat
    * assignment costs ~90 ns per 64-dim candidate dot — x94 at the
    * 20k/k=80 decade was 2× SLOWER seeded (8.1 vs 4.0 s, overhead
    * dominated) and at the 200k/k=800 decade 1.9× FASTER (15.5 vs
    * 29.4 s, O(n·k) dominated). Under the k = n/250 indexing rule the
    * curves cross near k ≈ 400. */
  val SemDedupSeededKThreshold: Int = 400

  /** SemDeDup — semantic (embedding-space) deduplication: k-means the
    * corpus, compare pairwise cosine ONLY within each cluster, connect
    * pairs at `cosine ≥ theta` into duplicate groups, and keep one
    * representative per group — the member FARTHEST from its cluster
    * centroid (most atypical; ties to the smaller id), the retention
    * policy of the SemDeDup paper (Abbas et al., 2023, arXiv:2303.09540).
    *
    * Returns one row per input vector: (idCol, cid, component, kept) —
    * component = min id of the duplicate group (its own id when the
    * vector duplicates nothing), kept = false only for non-
    * representative members of a duplicate group.
    *
    * Scale shape: clustering bounds the quadratic. All-pairs cosine is
    * O(n²); within-cluster pairs are Σ_c s_c² — with k grown ∝ n
    * (the paper's regime) expected cluster size is constant and the
    * pair count linear. In that regime the CLUSTERING itself becomes
    * the bottleneck (flat Lloyd assignment is O(n·k) = O(n²/c)), so
    * k > [[SemDedupSeededKThreshold]] routes through the IVF-seeded
    * two-level loop ([[kmeansIvfSeededDetailed]], O(n·√k)); small k
    * stays on the flat loop, keeping q94's oracle-pinned output
    * byte-identical. The cluster equi-join is the same
    * ReuseExchange'd merge self-join as the LSH bucket join
    * (Dedup.candidatePairsFromBanded), `maxClusterSize` is the same
    * default-off quadratic valve with a [[graft.operators.CapReport]]
    * drop report, and cosine compares quantized integers (one IEEE
    * division — [[cosineQ]]), so verdicts are engine-exact. The
    * duplicate-group graph enters [[graft.operators.ConnectedComponents]]
    * AFTER the ≥ theta filter — at dedup thresholds that graph is tiny
    * relative to the corpus. Representative selection compares
    * dist_num = n²·‖x − centroid‖² (exact BIGINT; n is shared within a
    * cluster, and components never span clusters) — no float ordering
    * anywhere. */
  /** [[semDedup]]'s pairwise stage, split out so its plan shape is
    * directly pinnable (the CC fixpoint consumes it behind checkpoint
    * barriers, so it is invisible in the end-to-end plan): duplicate
    * candidate pairs at `cosine ≥ theta` over a `(id, cid, qv)` member
    * frame — a cid equi-join (merge-hinted; both sides one reused
    * exchange), never a cross product. */
  private[graft] def withinClusterPairs(members: DataFrame, theta: Double): DataFrame = {
    val a = members.as("a").hint("merge")
    val b = members.as("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineQ(col("a.qv"), col("b.qv")).as("cosine"))
      .filter(col("cosine") >= theta)
      .select("id_a", "id_b")
  }

  def semDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, theta: Double,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val base = emb.select(col(idCol), quantize(col(vecCol)).as("qv"))
      .localCheckpoint(false)
    // (id, cid, dist_num) + the qv needed for pairwise cosine; one
    // checkpoint so the self-join and the three output joins all read
    // the same stored assignment. Large k (the k ∝ n operating regime)
    // routes through the IVF-seeded two-level loop — O(n·√k)
    // assignment instead of flat O(n·k); small k stays on the flat
    // loop (battery q94's oracle-pinned form).
    val clustering =
      if (k > SemDedupSeededKThreshold) kmeansIvfSeededDetailed(base, idCol, k, iters)
      else kmeansDetailed(base, idCol, k, iters)
    val members = clustering
      .join(base, idCol)
      .select(col(idCol).as("id"), col("cid"), col("dist_num"), col("qv"))
      .localCheckpoint(false)
    val capped =
      if (maxClusterSize == Int.MaxValue) members
      else {
        val counts = members.groupBy("cid").agg(count(lit(1)).as("__n"))
        val ok = graft.operators.CapReport
          .observeExclusions(counts, "semdedup_clusters", col("__n"), maxClusterSize)
          .filter(col("__n") <= maxClusterSize)
          .select("cid")
        members.join(ok, Seq("cid"))
      }
    val comps = graft.operators.ConnectedComponents
      .components(withinClusterPairs(capped, theta))
    // representative per duplicate group: max dist_num, ties to min id
    // (min over (−dist_num, id) — exact integer ordering)
    val reps = comps.join(members.select(col("id"), col("dist_num")), "id")
      .groupBy("comp")
      .agg(min(struct((-col("dist_num")).as("nd"), col("id").as("rid"))).as("best"))
      .select(col("best.rid").as("id"), lit(true).as("__rep"))
    members
      .join(comps, Seq("id"), "left")
      .join(reps, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"),
        coalesce(col("comp"), col("id")).as("component"),
        (col("comp").isNull || col("__rep").isNotNull).as("kept"))
  }

  /** Assignment against a LITERAL centroid set — the stateless twin of
    * [[kmeansAssign]] for when the centroids are already known (a
    * trained codebook, the output of a batch Lloyd run). Because the
    * centroids are inlined as literal arrays, the expression is fully
    * narrow — no join, no shuffle, no state — which makes it legal in
    * a Structured Streaming micro-batch as-is: route each incoming
    * document's embedding to its topic cluster at ingest time (online
    * curation), with batch/stream results identical by construction.
    * Ties go to the smaller centroid id via the lexicographic
    * (dist2, cid) least().
    *
    * Appends `cid` and `dist2` to the input's columns (enrichment —
    * the streaming use keeps the document payload); the input must not
    * already carry columns with those names (checked).
    *
    * The quantized vector is materialized in its OWN projection before
    * the k zip_with lambdas: feeding one lambda-bearing array
    * expression into k outer higher-order functions is the documented
    * Spark 4.1.2 nested-lambda wrong-results hazard
    * (the hazard note above Dedup.hashedDocs). That protection relies on the
    * projection NOT collapsing, which Catalyst only guarantees while
    * `__qv` is referenced more than once — so a 1-entry codebook goes
    * through least(c, c) (same value, two references) instead of the
    * bare candidate, which CollapseProject would re-inline into the
    * hazard shape. */
  def assignToCentroids(
      df: DataFrame, vecCol: String, centroids: Seq[(Long, Array[Long])]): DataFrame = {
    require(centroids.nonEmpty, "assignToCentroids needs at least one centroid")
    require(!df.columns.contains("cid") && !df.columns.contains("dist2"),
      "assignToCentroids appends cid/dist2 — rename the existing columns first")
    val withQ = df.withColumn("__qv", quantize(col(vecCol)))
    val candidates = centroids.map { case (cid, cv) =>
      val cvLit = array(cv.map(lit).toIndexedSeq: _*)
      // ‖x − c‖² via the native dot kernel (c·c folds to a constant);
      // exact-integer-identical to the zip_with form — and with no
      // lambda anywhere, the nested-lambda hazard the scaladoc's
      // projection guard defends against has no surface here at all
      val d = dotQ(col("__qv"), col("__qv")) -
        lit(2L) * dotQ(col("__qv"), cvLit) +
        lit(cv.map(x => x * x).sum)
      struct(d.as("dist2"), lit(cid).as("cid"))
    }
    val best =
      if (candidates.size == 1) least(candidates.head, candidates.head)
      else least(candidates: _*)
    withQ.withColumn("__best", best)
      .select((df.columns.map(col) :+
        col("__best.cid").as("cid") :+ col("__best.dist2").as("dist2")).toIndexedSeq: _*)
  }

  /** [[assignToCentroids]] for SUMMED (Σ-vector, count) centroids —
    * the literal twin of the Lloyd loop's `assignToSummedCentroids`:
    * the same exact scaled-integer rule (argmin over cid of
    * ‖n·x − s‖²/n², exact BIGINT numerator, one IEEE division, ties to
    * the smaller cid), but with the k centroids inlined as literals so
    * the expression is fully NARROW — no join, no aggregation, no
    * state — and therefore legal in a Structured Streaming micro-batch
    * as-is. This is what lets a STREAM assign against the maintained
    * codebook ([[literalCodebookSums]]) with cluster choices
    * BIT-IDENTICAL to the batch screen's assignment — the foundation
    * of [[graft.streaming.StreamOps]]' semantic screen parity.
    * Appends (cid, dist_num) to the input's columns. */
  def assignToCentroidSums(
      df: DataFrame, vecCol: String,
      centroids: Seq[(Long, Array[Long], Long)]): DataFrame = {
    require(centroids.nonEmpty, "assignToCentroidSums needs at least one centroid")
    require(!df.columns.contains("cid") && !df.columns.contains("dist_num"),
      "assignToCentroidSums appends cid/dist_num — rename the existing columns first")
    val withQ = df.withColumn("__qv", quantize(col(vecCol)))
    val candidates = centroids.map { case (cid, s, n) =>
      val sLit = array(s.map(lit).toIndexedSeq: _*)
      // ‖n·x − s‖² = n²(x·x) − 2n(x·s) + s·s (s·s folds to a constant)
      val num = lit(n) * lit(n) * dotQ(col("__qv"), col("__qv")) -
        lit(2L) * lit(n) * dotQ(col("__qv"), sLit) +
        lit(s.map(x => x * x).sum)
      struct((num.cast("double") / lit((n * n).toDouble)).as("dev2"),
        lit(cid).as("cid"), num.as("dist_num"))
    }
    // same single-candidate projection guard rationale as
    // assignToCentroids — and with no lambda anywhere, no hazard surface
    val best =
      if (candidates.size == 1) least(candidates.head, candidates.head)
      else least(candidates: _*)
    withQ.withColumn("__best", best)
      .select((df.columns.map(col) :+
        col("__best.cid").as("cid") :+ col("__best.dist_num").as("dist_num")).toIndexedSeq: _*)
  }

  /** Collect a stored index's maintained codebook into the literal
    * (cid, Σ-vector, n) form [[assignToCentroidSums]] inlines — k·dims
    * longs, the driver-side handoff that turns the codebook table into
    * a narrow streaming expression. Re-collect after admissions to
    * pick up folded deltas. */
  def literalCodebookSums(
      spark: org.apache.spark.sql.SparkSession, table: String): Seq[(Long, Array[Long], Long)] =
    codebookCentroids(graft.store.Store.table(spark, codebookTable(table)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .toIndexedSeq

  /** Exact cosine top-k neighbor ids for a SET of query vectors —
    * the ground-truth half of ANN evaluation ([[recallAtK]]), and the
    * multi-query generalization of the q25 single-query scan. `base`
    * must carry (id, qv), `queries` (qid, qqv) — both quantized
    * ([[quantize]]). Self-matches (id = qid) are excluded.
    *
    * Scale shape: the query set broadcasts (evaluation uses tens to
    * thousands of probes — the corpus side is the big one), cosines are
    * a narrow projection over the corpus scan, and the per-query top-k
    * reduces through the k-bounded [[graft.functions.TopKBy]] aggregate
    * — ≤ k·|queries| ids cross the shuffle, the n·|queries| scored
    * rows never do. Ties at the k boundary go to the smaller id in
    * both this and [[ivfTopKNeighbors]] (TopKBy payload-asc), so
    * recall compares like against like. */
  /** TopKBy carries ids as LongType: a non-integral id would cast to
    * null, be skipped by the aggregate, and silently shrink result
    * sets — fail loud at the operator boundary instead. */
  private def requireIntegralId(df: DataFrame, c: String, op: String): Unit = {
    import org.apache.spark.sql.types._
    val t = df.schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$op needs an integral $c (TopKBy carries ids as LongType); got $t — " +
        "map string ids to a surrogate (e.g. xxhash64) first")
  }

  def bruteTopKNeighbors(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    requireIntegralId(base, "id", "bruteTopKNeighbors")
    base.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosineQ(col("qv"), col("qqv")).as("cosine"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cosine"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  /** (id, pv): the corpus under a deterministic ±1 Johnson-
    * Lindenstrauss sign projection to `outDims`
    * ([[graft.functions.SignProjectLongs]] — exact integer, SQL-
    * replayable, training-free). Narrow: one codegen kernel call per
    * vector, zero exchanges. */
  def signProject(emb: DataFrame, idCol: String, vecCol: String, outDims: Int): DataFrame =
    emb.select(col(idCol).as("id"),
      graft.functions.SignProjectLongs.signProject(
        quantize(col(vecCol)), outDims).as("pv"))

  /** JL-prefiltered exact top-k: score the corpus in the PROJECTED
    * space (d→outDims fewer multiply-adds per pair and proportionally
    * smaller k-bounded shuffles), keep a generous top-(k·factor)
    * candidate set per query, then re-rank ONLY those candidates with
    * the exact full-dimension cosine — the final ordering is exact for
    * everything the prefilter retained, and recall is a measurable
    * knob ([[recallAtK]] against [[bruteTopKNeighbors]]) paid for with
    * `candidateFactor`. The cheap, stateless first rung of the ANN
    * ladder: no training, no stored index, nothing to drift — reach
    * for IVF/IVFADC-R when a persistent index pays for itself. Same
    * (id, qv)/(qid, qqv) quantized contract and (score desc, id asc)
    * tie rule as the brute scan.
    *
    * Recall is MARGIN-dependent — the JL distortion at 64→16 is far
    * too coarse to micro-rank dense near-ties, so on a clustered
    * corpus whose top-k differ from the next 200 candidates in the
    * third cosine decimal the factor must approach
    * cluster-size/k (measured on the driver embeddings, m=16:
    * 0.14 @ f=5 → 0.60 @ f=20 → 0.88 @ f=40; m=32 @ f=40: 0.98).
    * Neighbors separated by real margin recall at small factors.
    * Tune with [[recallAtK]] — the same measured loop as IVF. */
  def jlPrefilterTopK(
      base: DataFrame, queries: DataFrame, k: Int,
      outDims: Int, candidateFactor: Int = 5): DataFrame = {
    requireIntegralId(base, "id", "jlPrefilterTopK")
    require(candidateFactor >= 1, "candidateFactor must be positive")
    val held = base.localCheckpoint(false) // scanned for projection + re-rank
    val proj = held.select(col("id"),
      graft.functions.SignProjectLongs.signProject(col("qv"), outDims).as("pv"))
    val qproj = queries.select(col("qid"), col("qqv"),
      graft.functions.SignProjectLongs.signProject(col("qqv"), outDims).as("qpv"))
    val cand = proj.crossJoin(broadcast(qproj.select(col("qid"), col("qpv"))))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), cosineQ(col("pv"), col("qpv")).as("pcos"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(
        col("pcos"), col("id"), k * candidateFactor).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
    cand.join(held, "id")
      .join(broadcast(queries.select(col("qid"), col("qqv"))), "qid")
      .select(col("qid"), col("id"), cosineQ(col("qv"), col("qqv")).as("cosine"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cosine"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  /** IVF top-k neighbor ids for a SET of query vectors: probe the
    * `nprobe` nearest inverted lists (by centroid cosine over the
    * [[listCentroidSums]] sum-vectors — scale-invariant, so sums work
    * as centroids), score only their members, k-bound per query. Same
    * (id, qv) / (qid, qqv) contract and tie rule as
    * [[bruteTopKNeighbors]]; `base` additionally needs the list key in
    * `labelCol`. The centroid table (|lists| rows) and the probe
    * assignment (nprobe·|queries| rows) both broadcast — the corpus
    * side is touched once, filtered to probed lists by a broadcast
    * join before any scoring. */
  def ivfTopKNeighbors(
      base: DataFrame, labelCol: String, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    requireIntegralId(base, "id", "ivfTopKNeighbors")
    val cents = listCentroidSums(base, labelCol, "qv")
    val probed = probedListsByQuery(cents, labelCol, queries, nprobe)
    base.join(broadcast(probed), Seq(labelCol))
      .filter(col("id") =!= col("qid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), cosineQ(col("qv"), col("qqv")).as("cosine"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cosine"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  /** Recall@k of an approximate neighbor result against the exact one:
    * per query, |approx ∩ exact| / k. The evaluation loop that tunes
    * an ANN index (nprobe, LSH bits, band widths) runs THIS — measured
    * recall against a brute-force sample, not hope. Both inputs are
    * (queryCol, idCol) pairs (e.g. [[bruteTopKNeighbors]] /
    * [[ivfTopKNeighbors]] output); queries with zero overlap are
    * reported at 0.0, not dropped. One equi-join + one count — at
    * evaluation sizes (≤ k·|queries| rows per side) this is
    * broadcast-weight. */
  def recallAtK(
      exact: DataFrame, approx: DataFrame,
      queryCol: String, idCol: String, k: Int): DataFrame = {
    val hits = exact.join(approx, Seq(queryCol, idCol))
      .groupBy(queryCol).agg(count(lit(1)).as("n_hit"))
    exact.select(queryCol).distinct()
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") /
          lit(k).cast("double")).as("recall"))
  }

  /** HARD-NEGATIVE MINING — the contrastive-training data op (the
    * public DPR/ANCE recipe): for each query, the top-`k` most-similar
    * corpus items that are NOT its labeled positives, mined through
    * the IVF probe (same routing/scoring as [[ivfTopKNeighbors]] — the
    * corpus side is touched once, filtered to probed lists before any
    * scoring). `positives` is (qid, id); the anti-join runs BEFORE the
    * k-cut, so every returned slot is a real negative, and it
    * broadcasts (|queries|·few rows).
    *
    * `skipAbovePositive`: the standard false-negative guard — ALSO
    * drop candidates scoring at or above the query's weakest labeled
    * positive (an unlabeled item more similar than a known positive is
    * presumed a missed positive, and training on it as a negative
    * poisons the loss). Positive scores come from one broadcast join
    * of the positive ids against the corpus. Queries with no scored
    * positive keep all candidates (nothing to compare against).
    *
    * Returns (qid, id) like the sibling probes — deterministic
    * (cosine desc, id asc) tie rule; re-attach scores by joining the
    * corpus if the consumer needs them. */
  def hardNegatives(base: DataFrame, labelCol: String, queries: DataFrame,
      positives: DataFrame, k: Int, nprobe: Int,
      skipAbovePositive: Boolean = false): DataFrame = {
    requireIntegralId(base, "id", "hardNegatives")
    val cents = listCentroidSums(base, labelCol, "qv")
    val probed = probedListsByQuery(cents, labelCol, queries, nprobe)
    val scored = base.join(broadcast(probed), Seq(labelCol))
      .filter(col("id") =!= col("qid"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("id"), cosineQ(col("qv"), col("qqv")).as("cosine"))
      .join(broadcast(positives.select(col("qid"), col("id"))),
        Seq("qid", "id"), "left_anti")
    val kept =
      if (!skipAbovePositive) scored
      else {
        val posMin = positives.select(col("qid"), col("id"))
          .join(base.select(col("id"), col("qv")), Seq("id"))
          .join(queries, Seq("qid"))
          .groupBy("qid")
          .agg(min(cosineQ(col("qv"), col("qqv"))).as("__pmin"))
        scored.join(broadcast(posMin), Seq("qid"), "left")
          .filter(col("__pmin").isNull || col("cosine") < col("__pmin"))
          .drop("__pmin")
      }
    kept.groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cosine"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  /** Per-(cid, pos) integer component sums + member counts of a
    * semantic index frame carrying (cid, qv) — the codebook in its
    * MAINTAINABLE form. Because the entries are exact integer sums,
    * the maintained codebook (bootstrap sums + each admitted batch's
    * deltas added on admission) is BIT-IDENTICAL to re-deriving from
    * the full index — integer addition is associative — which is what
    * lets [[admitSemanticBatch]] keep a persistent k·dims-row sums
    * table instead of re-aggregating the whole corpus every batch. */
  // ------------------------------------------------------------------ //
  // Product quantization (PQ) — compressed-vector ANN                  //
  // ------------------------------------------------------------------ //

  /** Fixed slice of subspace `sub` from a quantized vector. */
  private def pqSub(qv: Column, sub: Int, subDim: Int): Column =
    slice(qv, sub * subDim + 1, subDim)

  /** Train a PQ codebook: split each vector into `m` subvectors and
    * run the exact-integer Lloyd loop ([[kmeansDetailed]]) in each
    * subspace independently — `ksub` centroids per subspace, cids
    * re-ranked to dense codes 0..ksub−1. Codebook contract:
    * `(sub INT, code BIGINT, cvec ARRAY<BIGINT>)` with INTEGER
    * centroid components (elementwise floor of the exact sum/count —
    * one deterministic rounding at train time, so encode and ADC
    * below stay fully integer-exact). m·ksub rows total: broadcast
    * weight by construction, never sharded.
    *
    * Memory story at 100 TB: a 64-dim quantized vector is 512 B; its
    * PQ codes are m small ints (m bytes in principle, byte-packed by
    * parquet). At m = 8 that is a 64× smaller index — the difference
    * between an ANN index that fits executor memory and one that does
    * not. The price is approximation, MEASURED by [[recallAtK]]
    * (SimilaritySpec), not hoped — and it is DATA-DEPENDENT: PQ
    * exploits inter-dimension correlation, so decorrelated
    * (near-random) vectors are its worst case (measured on the
    * driver-testdata embeddings: recall@10 0.30 at m = 4 → 0.54 at
    * m = 16 → 0.72 at m = 32); real embedding corpora sit well above
    * these floors at the same m. The tuning loop is: raise m (code
    * bytes per vector) until [[recallAtK]] against a brute-force
    * sample clears the target. */
  def pqTrainCodebook(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame =
    pqTrainCodebookQ(
      emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")),
      "id", "qv", m, ksub, iters)

  /** PQ-encode a vector frame against a codebook: per subspace, the
    * code of the nearest centroid by exact integer squared L2
    * (‖x−c‖² = x·x − 2x·c + c·c, native dot kernel; ties to the
    * smaller code). Output `(id, codes ARRAY<BIGINT>)`, codes ordered
    * by subspace. The codebook broadcasts; the data side is one
    * narrow pass with an m-way explode — no shuffle wider than the
    * final per-id regroup. */
  def pqEncode(
      emb: DataFrame, idCol: String, vecCol: String, codebook: DataFrame): DataFrame =
    pqEncodeQ(
      emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("qv")),
      "id", "qv", codebook)

  /** Asymmetric-distance (ADC) scores: approximate inner product of
    * each query against every ENCODED vector as Σ_sub LUT[sub][code],
    * where LUT[sub][code] = ⟨query_sub, centroid_{sub,code}⟩ — exact
    * integers end to end (the approximation is the encoding, not the
    * arithmetic). The LUT (|queries|·m·ksub rows) broadcasts; the
    * codes side — the only corpus-sized table, and m·8 bytes per
    * vector instead of dims·8 — is touched once. O(m) integer adds
    * per (query, vector) in place of O(dims) multiply-adds: the PQ
    * scan cost model. Output (qid, id, adc). */
  def pqAdcScores(
      codes: DataFrame, codebook: DataFrame, queries: DataFrame): DataFrame = {
    val subDim = codebook.select(min(size(col("cvec")))).head().getInt(0)
    val lut = codebook.crossJoin(broadcast(queries))
      .select(col("qid"), col("sub"), col("code"),
        dotQ(slice(col("qqv"), col("sub") * subDim + 1, lit(subDim)), col("cvec")).as("lut"))
    codes.select(col("id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id")
      .agg(sum(col("lut")).as("adc"))
  }

  /** PQ top-k neighbor ids per query by ADC score — same contract and
    * k-bounded shuffle shape as [[bruteTopKNeighbors]] /
    * [[ivfTopKNeighbors]] (only ≤ k·|queries| id rows cross the final
    * exchange), with the corpus side reading CODES instead of
    * full vectors. Compose with [[recallAtK]] to tune m/ksub against
    * a brute-force sample. */
  def pqTopKNeighbors(
      codes: DataFrame, codebook: DataFrame, queries: DataFrame, k: Int): DataFrame =
    pqAdcScores(codes, codebook, queries)
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("adc").cast("double"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))

  /** IVFADC — the standard production vector-index read path: coarse
    * IVF routing picks each query's `nprobe` nearest lists (full-
    * precision integer centroid sums, as [[ivfTopKNeighbors]]), then
    * the ADC scan scores ONLY the probed lists' members from their PQ
    * CODES. Compression and pruning compose: the corpus-sized side of
    * the join is the codes table (m small ints per vector) filtered
    * to probed lists by a broadcast join before any scoring — at
    * nprobe/|lists| = 1/16 and m = 8 over 64 dims, that is ~1/16 of
    * the rows at ~1/64 of the bytes each versus a brute full-vector
    * scan. `codes` must carry the list key in `labelCol`
    * ([[pqEncode]] output joined back to the assignment, or encode
    * the assigned frame directly); `base` supplies the full-precision
    * (labelCol, qv) pairs the coarse centroids derive from. At
    * nprobe = |lists| this is exactly [[pqTopKNeighbors]]
    * (SimilaritySpec pins the equivalence). */
  def ivfPqTopKNeighbors(
      codes: DataFrame, labelCol: String, base: DataFrame,
      codebook: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = listCentroidSums(base, labelCol, "qv")
    val probed = probedListsByQuery(cents, labelCol, queries, nprobe)
    val subDim = codebook.select(min(size(col("cvec")))).head().getInt(0)
    val lut = codebook.crossJoin(broadcast(queries))
      .select(col("qid"), col("sub"), col("code"),
        dotQ(slice(col("qqv"), col("sub") * subDim + 1, lit(subDim)), col("cvec")).as("lut"))
    codes.join(broadcast(probed), Seq(labelCol))
      .select(col("qid"), col("id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id")
      .agg(sum(col("lut")).as("adc"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("adc").cast("double"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  // ------------------------------------------------------------------ //
  // Residual quantization (IVFADC-R) — PQ over coarse-centroid         //
  // residuals, the form production vector indexes actually ship: the   //
  // coarse quantizer absorbs the corpus's cluster structure, so the PQ //
  // codebook only has to cover the RESIDUAL cloud (tight, centered at  //
  // zero) instead of the full embedding spread. Same code bytes per    //
  // vector, strictly less quantization error whenever the corpus is    //
  // clustered — which real embedding corpora are (SimilaritySpec       //
  // measures the recall gap on a synthetic clustered frame: the raw-   //
  // vector PQ collapses clusters the residual form keeps separate).    //
  // Everything stays exact-integer: floored-mean coarse centroids are  //
  // integers, so residuals (qv − mvec) are integers, and the ADC score //
  // decomposes EXACTLY as ⟨q, mvec⟩ + Σ_sub LUT[sub][code] — integer   //
  // adds; the only approximation anywhere is the encoding itself.      //
  // ------------------------------------------------------------------ //

  /** Per-list FLOORED-MEAN coarse centroids — (labelCol, mvec), mvec
    * elementwise ⌊Σx/n⌋. Means, not sums, because residual arithmetic
    * needs a subtractable vector in the same units as the data; the
    * floor is one deterministic rounding at build time (the same
    * discipline as [[pqTrainCodebook]]'s centroid components), after
    * which every downstream step is exact integer. One shuffle on
    * (label, pos), then a label-rows regroup — list-count weight. */
  def listCentroidMeans(base: DataFrame, labelCol: String, qvCol: String): DataFrame =
    base.select(col(labelCol), posexplode(col(qvCol)).as(Seq("pos", "v")))
      .groupBy(labelCol, "pos")
      .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
      .select(col(labelCol), col("pos"),
        floor(col("sv").cast("double") / col("cnt").cast("double"))
          .cast(LongType).as("mv"))
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        s => s.getField("mv")).as("mvec"))

  /** Residual frame: each quantized vector minus its list's floored-
    * mean coarse centroid, elementwise — (id, labelCol, rv). The means
    * table is |lists| rows and broadcasts; the corpus side is one
    * narrow pass (no shuffle — the zip_with runs in the scan stage).
    * Feed `rv` to [[pqTrainCodebookQ]] / [[pqEncodeQ]] for the
    * residual codebook and codes. */
  def residualFrame(
      base: DataFrame, idCol: String, labelCol: String, vecCol: String): DataFrame = {
    requireIntegralId(base.select(col(idCol).as("id")), "id", "residualFrame")
    val q = base.select(col(idCol).as("id"), col(labelCol), quantize(col(vecCol)).as("qv"))
    val means = listCentroidMeans(q, labelCol, "qv")
    q.join(broadcast(means), Seq(labelCol))
      .select(col("id"), col(labelCol),
        zip_with(col("qv"), col("mvec"), (x, m) => x - m).as("rv"))
  }

  /** [[pqTrainCodebook]] over an ALREADY-quantized integer vector
    * column (e.g. [[residualFrame]]'s `rv`) — same contract, minus the
    * ×1000 quantization step. */
  def pqTrainCodebookQ(
      qemb: DataFrame, idCol: String, qvCol: String,
      m: Int, ksub: Int, iters: Int): DataFrame = {
    require(m >= 1 && ksub >= 1, s"m and ksub must be positive ($m, $ksub)")
    val q = qemb.select(col(idCol).as("id"), col(qvCol).as("qv")).localCheckpoint(false)
    val dims = q.select(size(col("qv"))).head().getInt(0)
    require(dims % m == 0, s"dims $dims not divisible by m = $m")
    val subDim = dims / m
    val frames = (0 until m).map { s =>
      val sv = q.select(col("id"), pqSub(col("qv"), s, subDim).as("qv"))
        .localCheckpoint(false)
      val assigned = kmeansDetailed(sv, "id", ksub, iters).select(col("id"), col("cid"))
      val cents = sv.join(assigned, "id")
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x")).as("sv"), count(lit(1)).as("cnt"))
        .select(col("cid"), col("pos"),
          floor(col("sv").cast("double") / col("cnt").cast("double"))
            .cast(LongType).as("cv"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          t => t.getField("cv")).as("cvec"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("cid")
      cents.select(lit(s).as("sub"),
        (row_number().over(w) - 1).cast(LongType).as("code"), col("cvec"))
    }
    frames.reduce(_ unionByName _)
  }

  /** [[pqEncode]] over an ALREADY-quantized integer vector column —
    * same per-subspace integer argmin, tie to the smaller code. */
  def pqEncodeQ(
      qemb: DataFrame, idCol: String, qvCol: String, codebook: DataFrame): DataFrame = {
    requireIntegralId(qemb.select(col(idCol).as("id")), "id", "pqEncodeQ")
    val meta = codebook.agg(max(col("sub")).as("m1"), min(size(col("cvec"))).as("sd")).head()
    val m = meta.getInt(0) + 1
    val subDim = meta.getInt(1)
    val q = qemb.select(col(idCol).as("id"), col(qvCol).as("qv"))
    val bySub = q.select(col("id"),
      posexplode(array((0 until m).map(s => pqSub(col("qv"), s, subDim)): _*))
        .as(Seq("sub", "x")))
    val dist = dotQ(col("x"), col("x")) - lit(2L) * dotQ(col("x"), col("cvec")) +
      dotQ(col("cvec"), col("cvec"))
    bySub.join(broadcast(codebook), "sub")
      .select(col("id"), col("sub"), struct(dist.as("d"), col("code")).as("sc"))
      .groupBy("id", "sub")
      .agg(min(col("sc")).as("best"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("best.code").as("code")))),
        t => t.getField("code")).as("codes"))
  }

  /** IVFADC over RESIDUAL codes — the full production read path.
    * Routing: each query probes its `nprobe` nearest lists by cosine
    * against the floored-mean coarse centroids (`means`, broadcast).
    * Scan: only the probed lists' members are scored, from their
    * residual PQ codes, as the EXACT integer decomposition
    * ⟨q, x̂⟩ = ⟨q, mvec_list⟩ + Σ_sub LUT[sub][code] — the coarse term
    * joins per (qid, list) from the routing product (|queries|·nprobe
    * rows, broadcast weight), the LUT from the residual codebook
    * (|queries|·m·ksub rows, broadcast). The corpus-sized side is the
    * codes table alone, filtered to probed lists BEFORE any scoring,
    * exactly as [[ivfPqTopKNeighbors]] — compression × pruning — with
    * the residual codebook's tighter cells buying recall at the same
    * m (measured: SimilaritySpec's clustered-frame recall gap).
    * `codes` = (labelCol, id, codes) from [[pqEncodeQ]] over
    * [[residualFrame]]; `means` from [[listCentroidMeans]]. At
    * nprobe = |lists| the routing prunes nothing and the result is the
    * deterministic full-scan ranking (SimilaritySpec pins it against
    * an independently-computed direct form). Output (qid, id). */
  def ivfPqResidualTopKNeighbors(
      codes: DataFrame, labelCol: String, means: DataFrame,
      codebook: DataFrame, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val routed = means.crossJoin(broadcast(queries))
      .select(col("qid"), col(labelCol),
        cosineQ(col("mvec"), col("qqv")).as("cscore"),
        dotQ(col("mvec"), col("qqv")).as("coarse"))
      .localCheckpoint(false) // |lists|·|queries| rows — routing-table weight
    val probed = routed
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("cscore"), col(labelCol), nprobe).as("__ls"))
      .select(col("qid"), explode(col("__ls")).as("__l"))
      .select(col("qid"), col("__l").cast(routed.schema(labelCol).dataType).as(labelCol))
      .join(routed.select(col("qid"), col(labelCol), col("coarse")), Seq("qid", labelCol))
    val subDim = codebook.select(min(size(col("cvec")))).head().getInt(0)
    val lut = codebook.crossJoin(broadcast(queries))
      .select(col("qid"), col("sub"), col("code"),
        dotQ(slice(col("qqv"), col("sub") * subDim + 1, lit(subDim)), col("cvec")).as("lut"))
    codes.join(broadcast(probed), Seq(labelCol))
      .select(col("qid"), col("id"), col("coarse"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(lut), Seq("qid", "sub", "code"))
      .filter(col("id") =!= col("qid"))
      .groupBy("qid", "id")
      .agg((sum(col("lut")) + first(col("coarse"))).as("adc"))
      .groupBy("qid")
      .agg(graft.functions.TopKBy.topkBy(col("adc").cast("double"), col("id"), k).as("__ids"))
      .select(col("qid"), explode(col("__ids")).as("id"))
  }

  private[graft] def codebookSums(indexRows: DataFrame): DataFrame =
    indexRows
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(sum(col("x")).as("sv"), count(lit(1)).as("cnt"))

  /** Assemble the broadcastable (cid, s = Σ-vector, n = count)
    * centroid frame [[assignToSummedCentroids]] consumes from a
    * (cid, pos, sv, cnt) sums frame — a k·dims-row regroup, the same
    * final reshape the Lloyd loop's update step performs. */
  private[graft] def codebookCentroids(sums: DataFrame): DataFrame =
    sums.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        s => s.getField("sv")).as("s"),
        max(col("cnt")).as("n"))

  /** The codebook-sums companion table of a semantic index table. */
  def codebookTable(table: String): String = table + "__codebook"

  /** The probe half of the semantic screen, over an ALREADY-assigned
    * batch frame (batch_id, cid, qv) — which the caller must have
    * materialized (localCheckpoint) so the cluster-set collect below
    * reads stored blocks instead of recomputing the assignment.
    *
    * The corpus side is PRUNED to the batch's assigned clusters before
    * the join: the cid set is collected (≤ min(|batch|, k) values) and
    * pushed into the corpus scan as an `isin` filter — on the bucketed,
    * cid-sorted index table that lands in `PushedFilters` as
    * `In(cid, ...)`, so a batch touching B of k clusters reads ~B/k of
    * the index's row groups instead of every bucket. Semantics are
    * unchanged (the cid equi-join already discards non-matching
    * clusters); only the I/O shrinks. */
  private[graft] def probeAssigned(
      assignedBatch: DataFrame, corpusAssigned: DataFrame, theta: Double): DataFrame = {
    val cids = assignedBatch.select("cid").distinct().collect().map(_.get(0))
    val pruned =
      if (cids.isEmpty) corpusAssigned.filter(lit(false))
      else corpusAssigned.filter(col("cid").isin(cids.toIndexedSeq: _*))
    assignedBatch.select(col("batch_id"), col("cid"), col("qv").as("__bqv"))
      .join(pruned.select(col("id").as("corpus_id"), col("cid"),
        col("qv").as("__cqv")), Seq("cid"))
      .select(col("batch_id"), col("corpus_id"),
        cosineQ(col("__bqv"), col("__cqv")).as("cosine"))
      .filter(col("cosine") >= theta)
  }

  /** Quantize + assign a batch against a centroid frame, returning the
    * materialized (batch_id, cid, qv) frame the screen's probe and the
    * admission's index append BOTH consume — derived once. */
  private def assignBatch(
      batch: DataFrame, idCol: String, vecCol: String, cent: DataFrame): DataFrame = {
    val base = batch.select(col(idCol), quantize(col(vecCol)).as("qv"))
      .localCheckpoint(false)
    base.join(assignToSummedCentroids(base, idCol, cent, maxAbsQv(base))
        .select(col(idCol), col("cid")), idCol)
      .select(col(idCol).as("batch_id"), col("cid"), col("qv"))
      .localCheckpoint(false)
  }

  /** Incremental SEMANTIC screen — the embedding-space twin of the
    * text side's `Dedup.incrementalNearDupPairs`: which vectors of a
    * NEW batch duplicate (cosine ≥ theta) something already in a
    * STORED corpus index, where the index is ONE table of
    * (id, cid, qv) — each corpus vector with its k-means cluster and
    * quantized embedding ([[writeSemanticIndex]] bootstraps it).
    *
    * The screen takes the cluster codebook from `codebook` — the
    * maintained (cid, pos, sv, cnt) sums table [[writeSemanticIndex]]
    * persists and [[admitSemanticBatch]] updates with exact integer
    * deltas — or, when none is supplied (an ad-hoc index frame with no
    * companion table), re-derives the identical sums from the index
    * (exact, so any engine recomputing them agrees). It assigns each
    * batch vector to its nearest cluster by the same scaled-integer
    * rule as the Lloyd loop, and compares it against ONLY that
    * cluster's members — SemDeDup's probe discipline applied
    * incrementally. Returns (batch_id, corpus_id, cosine) at ≥ theta;
    * screen the batch by anti-joining batch ids.
    *
    * Scale shape: with the maintained codebook the per-batch cost is
    * O(batch + probed clusters) — k·dims sums rows in, a broadcast
    * assignment, and a probe pruned to the batch's assigned cid set
    * ([[probeAssigned]]); the full corpus index is NOT re-aggregated.
    * With the index table BUCKETED on cid (as [[writeSemanticIndex]]
    * writes it) the probe joins the corpus side from its buckets
    * without a shuffle, and a small daily batch broadcasts. The corpus
    * is never re-embedded, re-quantized, or re-clustered. */
  def semanticScreen(
      batch: DataFrame, idCol: String, vecCol: String,
      corpusAssigned: DataFrame, theta: Double,
      codebook: Option[DataFrame] = None): DataFrame = {
    val cent = codebookCentroids(codebook.getOrElse(codebookSums(corpusAssigned)))
    probeAssigned(assignBatch(batch, idCol, vecCol, cent), corpusAssigned, theta)
  }

  /** Bootstrap the persistent semantic-dedup index: Lloyd k-means over
    * the founding corpus, stored as TWO tables —
    *
    *  - `table` (id, cid, qv), BUCKETED on cid so every future
    *    [[semanticScreen]] probe joins the corpus side from its
    *    buckets with no shuffle;
    *  - `table`__codebook (cid, pos, sv, cnt) — the cluster codebook
    *    as exact integer sums ([[codebookSums]]), the k·dims-row state
    *    that makes every future screen O(batch), not O(corpus):
    *    admissions add their deltas instead of re-aggregating the
    *    index ([[admitSemanticBatch]]). */
  def writeSemanticIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, table: String, numBuckets: Int = 32): Unit =
    writeSemanticIndexQ(
      corpus.select(col(idCol), quantize(col(vecCol)).as("qv")).localCheckpoint(false),
      idCol, k, iters, table, numBuckets)

  /** [[writeSemanticIndex]] over an ALREADY-quantized, materialized
    * `(idCol, qv)` frame — the shared bootstrap/rebuild core
    * ([[rebuildSemanticIndexIfDrifted]] feeds it the stored index's own
    * qv rows, which must not be re-quantized). `base` must be
    * checkpointed off any lineage that reads `table` (the rebuild path
    * overwrites the table it was derived from). */
  private[graft] def writeSemanticIndexQ(
      base: DataFrame, idCol: String,
      k: Int, iters: Int, table: String, numBuckets: Int): Unit = {
    val spark = base.sparkSession
    // same large-k routing as semDedup: the bootstrap's flat Lloyd is
    // O(n·k), which at the k ∝ n indexing regime dominates index
    // construction (measured: 35 s of the g100x bootstrap) — the
    // seeded loop cuts it to O(n·√k); battery-scale k stays flat
    val assigned =
      if (k > SemDedupSeededKThreshold) kmeansIvfSeededDetailed(base, idCol, k, iters)
      else kmeansDetailed(base, idCol, k, iters)
    val ix = base.join(assigned.select(col(idCol), col("cid")), idCol)
      .select(col(idCol).as("id"), col("cid"), col("qv"))
      .localCheckpoint(false) // read thrice: bucketed write + sums + drift baseline
    graft.store.Store.overwriteBucketed(ix, table, Seq("cid"), numBuckets)
    graft.store.Store.overwrite(codebookSums(ix), codebookTable(table))
    recordSemanticDriftBaseline(spark, table, k, iters, numBuckets)
  }

  /** Drop a semantic index and its companion tables. */
  def dropSemanticIndex(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    graft.store.Store.drop(spark, table)
    graft.store.Store.drop(spark, codebookTable(table))
    graft.store.Store.drop(spark, driftTable(table))
  }

  /** Per-cluster health report of a stored semantic index — the
    * REBUILD signal for [[admitSemanticBatch]]'s documented drift
    * mode: admissions keep the current assignment (an index structure,
    * not a model), so clusters spread as the corpus grows and the
    * screen's probe reads progressively worse-shaped lists. Reports,
    * per cid: member count, mean and max squared deviation from the
    * MAINTAINED centroid (dev2 = ‖n·x − s‖²/n² — the Lloyd loop's
    * exact integer numerator over one IEEE division). Read it
    * periodically next to [[graft.store.Store.fileReport]]; the
    * corpus-wide mean of the same quantity drives the AUTOMATED gate —
    * [[rebuildSemanticIndexIfDrifted]] rebuilds when it climbs past
    * α× the recorded bootstrap value. Cost: one index
    * scan + a k·dims broadcast — O(index), cheap next to the rebuild
    * it gates. (mean_dev2 is a float mean of exact per-row values —
    * an operational signal, not an oracle-stable quantity.) */
  def semanticIndexStats(
      spark: org.apache.spark.sql.SparkSession, table: String): DataFrame = {
    val ix = graft.store.Store.table(spark, table)
    val cent = codebookCentroids(
      graft.store.Store.table(spark, codebookTable(table)))
    val num = col("n") * col("n") * dotQ(col("qv"), col("qv")) -
      lit(2L) * col("n") * dotQ(col("qv"), col("s")) +
      dotQ(col("s"), col("s"))
    ix.join(broadcast(cent), Seq("cid"))
      .select(col("cid"),
        (num.cast("double") / (col("n") * col("n")).cast("double")).as("dev2"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        avg(col("dev2")).as("mean_dev2"),
        max(col("dev2")).as("max_dev2"))
      .orderBy("cid")
  }

  /** The drift-baseline companion table of a semantic index: one row —
    * (bootstrap_mean_dev2, k, iters, num_buckets) — recorded when the
    * index is (re)built, so [[rebuildSemanticIndexIfDrifted]] has both
    * the reference value the drift gate compares against and the build
    * parameters the rebuild re-runs with. */
  def driftTable(table: String): String = table + "__drift"

  /** Corpus-wide mean squared deviation from the MAINTAINED centroids —
    * the scalar the drift gate thresholds ([[semanticIndexStats]] is
    * its per-cluster decomposition). One index scan + a k·dims
    * broadcast; empty index reports 0.0. */
  private def globalMeanDev2(ix: DataFrame, cent: DataFrame): Double = {
    val num = col("n") * col("n") * dotQ(col("qv"), col("qv")) -
      lit(2L) * col("n") * dotQ(col("qv"), col("s")) +
      dotQ(col("s"), col("s"))
    val r = ix.join(broadcast(cent), Seq("cid"))
      .agg(avg(num.cast("double") / (col("n") * col("n")).cast("double")))
      .head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Record the CURRENT mean dev2 of a stored index as its drift
    * baseline, with the build parameters a rebuild re-runs with.
    * Called by every (re)build; also the migration valve for indices
    * bootstrapped before drift persistence. */
  def recordSemanticDriftBaseline(
      spark: org.apache.spark.sql.SparkSession, table: String,
      k: Int, iters: Int, numBuckets: Int): Unit = {
    val ix = graft.store.Store.table(spark, table)
    val cent = codebookCentroids(graft.store.Store.table(spark, codebookTable(table)))
    val boot = globalMeanDev2(ix, cent)
    import spark.implicits._
    graft.store.Store.overwrite(
      Seq((boot, k, iters, numBuckets))
        .toDF("bootstrap_mean_dev2", "k", "iters", "num_buckets"),
      driftTable(table))
  }

  /** The REBUILD half of the drift mode every admission scaladoc
    * documents: admissions keep the current assignment (an index
    * structure, not a model), so clusters spread as the corpus grows —
    * this closes the operating loop (admit → compact → drift-check →
    * rebuild). Compares the index's current corpus-wide mean dev2
    * against `alpha ×` the baseline recorded at the last (re)build;
    * past the threshold, re-runs the full Lloyd bootstrap over the
    * stored (id, qv) rows with the RECORDED build parameters —
    * bit-exact quantization is preserved (the stored qv is the input;
    * nothing is re-quantized) — and re-records the baseline, so the
    * gate re-arms against the fresh fit. Returns whether it rebuilt.
    *
    * Cost: the check is one index scan + a k·dims broadcast (cheap
    * next to the rebuild it gates — run it after admissions, e.g.
    * every N batches); the rebuild is a full [[writeSemanticIndex]].
    * The recorded k is reused as-is — when the corpus has grown enough
    * that the k ∝ n rule wants a bigger k, re-run
    * [[writeSemanticIndex]] out-of-band with the new k instead.
    * Indices bootstrapped before drift persistence must
    * [[recordSemanticDriftBaseline]] once (fails loud otherwise). */
  def rebuildSemanticIndexIfDrifted(
      spark: org.apache.spark.sql.SparkSession, table: String,
      alpha: Double = 2.0): Boolean = {
    require(alpha >= 1.0, s"alpha $alpha < 1 would rebuild on any admission")
    val dt = driftTable(table)
    require(spark.catalog.tableExists(dt),
      s"$table has no drift baseline ($dt missing) — the index predates drift " +
        "persistence; run recordSemanticDriftBaseline(spark, table, k, iters, numBuckets) once")
    val row = graft.store.Store.table(spark, dt).head()
    val boot = row.getAs[Double]("bootstrap_mean_dev2")
    val (k, iters, nb) =
      (row.getAs[Int]("k"), row.getAs[Int]("iters"), row.getAs[Int]("num_buckets"))
    val ix = graft.store.Store.table(spark, table)
    val cent = codebookCentroids(graft.store.Store.table(spark, codebookTable(table)))
    val cur = globalMeanDev2(ix, cent)
    if (cur > alpha * boot) {
      // EAGER checkpoint: the rebuild overwrites the table this frame
      // reads (Spark refuses a read-from-target overwrite otherwise)
      val base = ix.select(col("id"), col("qv")).localCheckpoint()
      writeSemanticIndexQ(base, "id", k, iters, table, nb)
      base.unpersist()
      true
    } else false
  }

  /** Rebuild the maintained codebook from the index — the repair for
    * [[admitSemanticBatch]]'s documented crash window (a failure
    * between the index append and the codebook fold leaves the sums
    * one batch stale, and later successful admissions CANNOT catch the
    * sums up — their deltas assume the stored base). Because the sums
    * are exact integers, re-derivation is bit-identical to what an
    * uninterrupted fold history would have produced, so one repair
    * heals any number of missed folds. O(index) — run it on crash
    * recovery, not per batch (the maintained sums exist precisely to
    * avoid this aggregate in the steady state). */
  def repairSemanticCodebook(
      spark: org.apache.spark.sql.SparkSession, table: String): Unit =
    graft.store.Store.overwrite(
      codebookSums(graft.store.Store.table(spark, table)), codebookTable(table))

  /** The standing semantic-ingest transaction, mirroring the text
    * side's `Dedup.admitBatch`: screen a batch against the stored
    * index ([[semanticScreen]]), ADMIT the vectors that duplicate
    * nothing (< theta against every probed corpus vector), append ONLY
    * the admitted (id, cid, qv) rows — each under the cluster the
    * screen assigned it to — fold the admitted rows' integer deltas
    * into the persisted codebook, and return the admitted batch rows.
    * Same contracts: batch ids disjoint from corpus ids, intra-batch
    * dups both admitted (pre-dedup with [[semDedup]] when that
    * matters), the append is non-transactional (re-running the batch
    * re-screens it; already-admitted ids would then be flagged as
    * duplicates of themselves — the idempotent outcome; a crash
    * between the append and the codebook fold leaves the codebook one
    * batch stale, which the next successful admission CANNOT repair —
    * run [[repairSemanticCodebook]] on recovery if that window is hit).
    *
    * Steady-state cost is O(batch), not O(corpus): the batch is
    * quantized and assigned ONCE (screen and append share the frame),
    * the codebook comes from the k·dims-row sums table instead of a
    * full-index aggregate, the probe reads only the batch's assigned
    * clusters ([[probeAssigned]]), and the codebook fold touches
    * k·dims + batch rows. After the append, [[maintainSemanticIndex]]
    * compacts the bucketed index when N small admissions have sprawled
    * it into small files (same policy as `Dedup.maintainIndexTables`).
    *
    * Note the admitted rows keep the CURRENT codebook's assignment;
    * clusters therefore drift from their true Lloyd optimum as the
    * index grows. That is the standard IVF operating mode (assignments
    * are an index structure, not a model) — re-run
    * [[writeSemanticIndex]] out-of-band when drift warrants. */
  def admitSemanticBatch(
      batch: DataFrame, idCol: String, vecCol: String,
      table: String, theta: Double,
      compactTargetBytes: Long = 128L * 1024 * 1024,
      compactMinFiles: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    val corpus = graft.store.Store.table(spark, table)
    val cbTable = codebookTable(table)
    // Migration valve: an index bootstrapped before codebook
    // persistence has no sums table — derive once from the index and
    // persist, making every SUBSEQUENT admission incremental.
    if (!spark.catalog.tableExists(cbTable))
      graft.store.Store.overwrite(codebookSums(corpus), cbTable)
    val sums = graft.store.Store.table(spark, cbTable)
    // ONE quantization + assignment, shared by screen and append
    val assignedBatch = assignBatch(batch, idCol, vecCol, codebookCentroids(sums))
    val dupIds = probeAssigned(assignedBatch, corpus, theta)
      .select(col("batch_id")).distinct()
    val admitRows = assignedBatch.join(dupIds, Seq("batch_id"), "left_anti")
      .select(col("batch_id").as("id"), col("cid"), col("qv"))
      .localCheckpoint(false) // read thrice: append, codebook delta, return semi-join
    graft.store.Store.appendBucketed(admitRows, table)
    // Exact integer fold: maintained sums ≡ re-deriving from the whole
    // index (addition is associative) — proven by SimilaritySpec. The
    // eager checkpoint breaks lineage before overwriting the table the
    // plan reads (Spark refuses a read-from-target overwrite).
    val merged = sums.unionByName(codebookSums(admitRows))
      .groupBy("cid", "pos")
      .agg(sum(col("sv")).as("sv"), sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    graft.store.Store.overwrite(merged, cbTable)
    merged.unpersist()
    maintainSemanticIndex(spark, table, compactTargetBytes, compactMinFiles)
    batch.join(admitRows.select(col("id").as(idCol)), Seq(idCol), "left_semi")
  }

  /** The maintenance half of the semantic admission loop — the
    * embedding twin of `Dedup.maintainIndexTables`: every
    * [[admitSemanticBatch]] appends NEW FILES to the bucketed index,
    * which after N daily batches is the small-files sprawl
    * [[graft.store.Store.fileReport]] detects. Compacts the index
    * (bucket-spec-preserving — [[graft.store.Store.compactBucketed]],
    * so the no-shuffle probe guarantee survives the rewrite) when its
    * file count exceeds both its byte-justified target AND `minFiles`.
    * The codebook table needs no maintenance: each admission rewrites
    * it whole (k·dims rows). Screen verdicts are unaffected —
    * compaction rewrites the same rows into fewer files. */
  def maintainSemanticIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 64): Unit = {
    val sprawled = graft.store.Store.fileReport(spark, table, targetBytes)
      .filter(col("needs_compaction") && col("n_files") > minFiles)
      .limit(1).count() > 0
    if (sprawled) graft.store.Store.compactBucketed(spark, table, targetBytes)
  }

  /** Per-vector squared deviation from its group centroid, built from
    * EXACT integer arithmetic: dist2 = Σ_pos (n·x_pos − S_pos)² (all
    * BIGINT — no float centroid), where S/n are the per-(group, pos)
    * sum/count of quantized components; dist2 = n²·‖x − centroid‖².
    * Because the n² factor differs per group, `dev2` = dist2/n² (one
    * IEEE division of exact operands — deterministic and
    * engine-portable) is ALSO emitted and is the column to rank
    * outliers on across groups of unequal size (q69).
    *
    * Shuffle shape: one aggregate on (group, pos) producing
    * |groups|·dims rows (tiny → broadcast back), then one aggregate on
    * the vector id. Overflow headroom: |n·x − S| ≤ 2n·2¹¹ for
    * ×1000-quantized unit-scale embeddings, so dist2 ≤ dims·n²·2²⁴ —
    * under 2⁶³ up to n ≈ 9·10⁴ vectors per group at 64 dims. Beyond
    * that, pass `decimalExact = true` to route the squared terms
    * through DECIMAL(38,0) — exact to ~10¹⁵ vectors per group, at
    * decimal-arithmetic cost; the BIGINT form is the fast path, not a
    * silent-wraparound trap. */
  def centroidDeviations(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      decimalExact: Boolean = false): DataFrame = {
    val exploded = emb
      .select(col(idCol), col(labelCol), posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
    val cent = exploded.groupBy(labelCol, "pos")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
    val devL = col("n") * col("x") - col("s")
    val dev = if (decimalExact) devL.cast(org.apache.spark.sql.types.DecimalType(38, 0)) else devL
    exploded.join(broadcast(cent), Seq(labelCol, "pos"))
      .groupBy(idCol, labelCol)
      .agg(sum(dev * dev).as("dist2"), max(col("n")).as("n"))
      .select(col(idCol), col(labelCol), col("dist2"),
        (col("dist2").cast("double") / (col("n") * col("n")).cast("double")).as("dev2"))
  }
}
