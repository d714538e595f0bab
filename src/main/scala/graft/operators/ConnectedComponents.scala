package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected pair list —
  * the step that turns near-dup PAIRS into dedup CLUSTERS (component =
  * min reachable id; keep that doc, drop the rest).
  *
  * Algorithm: iterative min-label propagation with a pointer-jumping
  * step (comp := comp[comp]) per round, so convergence is
  * O(log diameter) rounds rather than O(diameter). Each round is two
  * joins + an aggregate — all distributed, no driver-side graph. The
  * driver only runs the loop and the convergence check; `localCheckpoint`
  * breaks lineage each round so plans don't grow exponentially.
  *
  * Small-side escape hatch: after Jaccard verification the edge list
  * is normally ≪ the corpus (near-dup rate is a few percent), while
  * the distributed fixpoint costs 4-6 shuffle rounds of fixed
  * overhead. When the pair list fits comfortably on the driver
  * (explicit bound, default 1M directed edges ≈ 50 MB of collected
  * tuples — sized for a modest driver heap, not this box) and ids are
  * LongType, a driver union-find computes the identical labels in
  * microseconds — the same adaptive small-side move as a broadcast
  * join, with the distributed loop as the unconditional fallback.
  * The pairs are lazily localCheckpointed as given, undirected and
  * with any repeats: `count()` is the job that fills the checkpoint,
  * and the driver path collects from it. Union-find is indifferent to
  * edge direction and repeats, so only the distributed loop builds
  * the symmetric, distinct edge list (a shuffle) from the checkpoint.
  *
  * Null ids are dropped from the edge list up front (garbage-in for a
  * dedup-pairs operator), which also keeps the two paths
  * behavior-identical on malformed input.
  *
  * Scale: rounds scale with log of the largest cluster's diameter;
  * near-dup clusters are short-diameter by construction. State per
  * round is one (id, comp) table the size of the vertex set.
  */
object ConnectedComponents {

  /** @param pairs DataFrame with columns (id_a, id_b), undirected edges
    * @param driverThreshold the driver union-find path runs while
    *        2 × the non-null pair rows (counting self-loops and repeats)
    *        is below it — an upper bound on the deduplicated directed
    *        edges; 0 forces the distributed loop
    * @return (id, component): every vertex appearing in `pairs`, with
    *         component = min id of its connected component */
  def components(
      pairs: DataFrame, maxRounds: Int = 25,
      driverThreshold: Long = 1000000L): DataFrame = {
    val undirected = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(false)

    // LongType only, so the driver path's output schema matches the
    // distributed path's exactly; strict < honors "0 forces the
    // distributed loop" even for an empty pair list
    val longIds = undirected.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && 2 * undirected.count() < driverThreshold)
      return driverUnionFind(undirected)

    val edges = undirected
      .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()

    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()

    var round = 0
    var converged = false
    // labels are monotonically non-increasing per vertex, so the fixpoint
    // test is simply "sum(comp) unchanged" — one cheap aggregate per
    // round instead of a self-join diff
    var prevSum = Long.MinValue
    while (!converged && round < maxRounds) {
      // 1) neighbor-min propagation
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dcomp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dcomp")).as("ncomp"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // 2) pointer jumping: comp := comp's comp (halves chain lengths)
      val jumped = propagated
        .join(propagated.select(col("id").as("comp"), col("comp").as("ccomp")), Seq("comp"), "left")
        .select(col("id"), coalesce(col("ccomp"), col("comp")).as("comp"))
        .localCheckpoint()
      val s = jumped.agg(sum(col("comp"))).head()
      // an empty label set sums to null: nothing to propagate, converged
      converged = s.isNullAt(0) || s.getLong(0) == prevSum
      if (!converged) prevSum = s.getLong(0)
      labels = jumped
      round += 1
    }
    labels
  }

  /** Path-compressing union-find over a collected (src, dst) edge list,
    * in either direction and with repeats, with min-id representatives —
    * byte-identical labels to the distributed fixpoint, used below
    * [[components]]'s driverThreshold. */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    // primitive-tuple encoder, not Row collect: ~3x less transient heap
    // per edge (no Row wrapper / boxed fields) at the threshold
    edges.as[(Long, Long)].collect().foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // min id becomes the representative, matching min-label propagation
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labels = parent.keys.toSeq.map(id => (id, find(id)))
    spark.createDataset(labels).toDF("id", "comp")
  }

  /** INCREMENTAL connected components — fold a NEW edge batch into an
    * existing exact min-label assignment without recomputing over the
    * full edge history: the missing piece of the standing near-dup
    * loop, whose candidate graph grows batch by batch while
    * leakage-safe splits / cluster reads want current components.
    *
    * `labels` is an exact `(id, comp)` min-label assignment (the
    * output of [[components]], or of previous incremental folds)
    * covering every vertex seen so far. The fold CONTRACTS the new
    * edges through it — each endpoint maps to its existing component
    * root (itself when unseen) — and runs [[components]] on that
    * contracted delta graph only: one vertex per TOUCHED existing
    * component plus each genuinely new vertex, i.e. delta-sized, never
    * history-sized. Existing assignments then relabel through one join
    * against the delta mapping (untouched components coalesce through
    * unchanged), and new vertices take their delta label directly.
    *
    * EXACTNESS (spec-pinned ≡ full recompute): min-labels compose —
    * every contracted vertex is the MINIMUM id of the vertex set it
    * stands for, so the delta's min over contracted roots IS the min
    * over the union's merged vertex set. Holds inductively over any
    * number of folds.
    *
    * Cost: CC on the delta graph + one labels ⋈ delta-mapping join
    * (delta mapping is touched-components-sized — broadcast under AQE
    * in the standing loop's usual regime) + one anti-join for new
    * vertices. The full labels table is read once and shuffles once. */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    // null endpoints dropped up front, matching components()'s rule —
    // otherwise the newNodes path would mint (null, null) labels and
    // singleton the non-null partner, diverging from a full recompute
    val e = newEdges.select(col("id_a"), col("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val contracted = e
      .join(l.select(col("id").as("id_a"), col("comp").as("__ca")), Seq("id_a"), "left")
      .join(l.select(col("id").as("id_b"), col("comp").as("__cb")), Seq("id_b"), "left")
      .select(coalesce(col("__ca"), col("id_a")).as("id_a"),
        coalesce(col("__cb"), col("id_b")).as("id_b"))
    val delta = components(contracted).localCheckpoint(false)
    val updatedOld = l
      .join(delta.select(col("id").as("comp"), col("comp").as("__new")), Seq("comp"), "left")
      .select(col("id"), coalesce(col("__new"), col("comp")).as("comp"))
    val newNodes = e.select(col("id_a").as("id"))
      .union(e.select(col("id_b").as("id"))).distinct()
      .join(l.select("id"), Seq("id"), "left_anti")
    val newLabels = newNodes.join(delta, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    updatedOld.unionByName(newLabels)
  }
}
