package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.dedup.Dedup

/** The corpus-curation operator family as a reusable API: each stage is
  * a `DataFrame => DataFrame` over a documents table with (idCol,
  * textCol), so pipelines compose with `.transform`. Battery q54 runs
  * exactly this composition end-to-end against a DuckDB oracle.
  *
  * Scale shape: stages 1-2 are narrow (scan-local filters, no
  * shuffle); exact dedup is one shuffle on the content hash; near-dup
  * is the LSH banding path (near-linear candidates, see
  * [[Dedup.minhashCandidatePairs]]); sampling is a narrow filter. A
  * 100 TB corpus pays two shuffles plus the LSH pair join.
  */
object Curation {

  val DefaultStopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  private def toks(textCol: String): Column = split(trim(lower(col(textCol))), "\\s+")

  /** Quality filter: ≥ minTokens tokens and stopword ratio < maxStopRatio. */
  def qualityFilter(
      textCol: String, minTokens: Int = 20, maxStopRatio: Double = 0.5,
      stopwords: Seq[String] = DefaultStopwords)(df: DataFrame): DataFrame = {
    val t = toks(textCol)
    val nTok = size(t).cast(LongType)
    val nStop = size(filter(t, tk => tk.isInCollection(stopwords))).cast(LongType)
    df.filter(nTok >= minTokens &&
      nStop.cast("double") / nTok.cast("double") < lit(maxStopRatio))
  }

  /** Stopword-hit language scores for a text column, one count column
    * per (language, markers) entry. */
  def langScores(textCol: String, markers: Seq[(String, Seq[String])]): Seq[(String, Column)] =
    markers.map { case (lang, words) =>
      lang -> size(filter(toks(textCol), tk => tk.isInCollection(words))).cast(LongType)
    }

  val DefaultLangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "es"))

  /** Predicted language = argmax of marker hits (ties resolve in marker
    * order, matching a chained CASE in any SQL engine). */
  def predictedLang(
      textCol: String, markers: Seq[(String, Seq[String])] = DefaultLangMarkers): Column = {
    val scores = langScores(textCol, markers)
    val best = greatest(scores.map(_._2): _*)
    scores.init.foldRight(lit(scores.last._1): Column) { case ((lang, score), elseCol) =>
      when(score === best, lang).otherwise(elseCol)
    }
  }

  /** Keep documents whose labeled language matches the heuristic
    * prediction — a cheap label-consistency screen. */
  def langConsistencyFilter(
      textCol: String, langCol: String,
      markers: Seq[(String, Seq[String])] = DefaultLangMarkers)(df: DataFrame): DataFrame =
    df.filter(predictedLang(textCol, markers) === col(langCol))

  /** Exact dedup: keep the min-id row per identical content. */
  def exactDedup(idCol: String, textCol: String)(df: DataFrame): DataFrame =
    Dedup.exactDedup(df, textCol, idCol)

  /** Near-dup removal: LSH candidates → exact Jaccard ≥ threshold →
    * drop the larger id of each verified pair. */
  def nearDedup(
      idCol: String, textCol: String, shingleN: Int = 5,
      bands: Int = 8, rowsPerBand: Int = 4, jaccardThreshold: Double = 0.5)(
      df: DataFrame): DataFrame = {
    val drops = Dedup.verifiedNearDupPairs(
        df, idCol, textCol, Dedup.CharShingles(shingleN), bands, rowsPerBand)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Cluster-aware near-dup removal: verified pairs → connected
    * components → keep ONLY the min-id doc of each cluster. Differs
    * from [[nearDedup]] on transitive chains: pair-based dropping keeps
    * docs that are only transitively similar (1-3, 2-3 keeps 1 AND 2);
    * cluster-based keeps one representative per component — the
    * standard corpus-dedup policy when near-dup is treated as an
    * equivalence. */
  def nearDedupClustered(
      idCol: String, textCol: String, shingleN: Int = 5,
      bands: Int = 8, rowsPerBand: Int = 4, jaccardThreshold: Double = 0.5)(
      df: DataFrame): DataFrame = {
    val verified = Dedup.verifiedNearDupPairs(
        df, idCol, textCol, Dedup.CharShingles(shingleN), bands, rowsPerBand)
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b")
    val drops = graft.operators.ConnectedComponents.components(verified)
      .filter(col("id") =!= col("comp")) // non-representatives
      .select(col("id").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Deterministic Bernoulli sample: md5(id) mod `outOf` < `keep` —
    * reproducible across engines, retries, and partitionings. */
  def hashSample(idCol: String, keep: Int, outOf: Int = 100)(df: DataFrame): DataFrame =
    df.filter(
      expr(s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        % outOf < keep)

  /** Per-group cap — domain/source balancing: keep at most `k` rows per
    * group, chosen deterministically by md5(id) order (a fixed "random"
    * sample that is stable across engines, retries, and partitionings).
    * The pretraining use: cap boilerplate-heavy domains so no source
    * dominates the mixture.
    *
    * This is the SCALE form of [[stratifiedSample]]: the window form
    * shuffles and sorts EVERY row of every group to rank them; this one
    * aggregates with the k-bounded [[graft.functions.TopKBy]] summary,
    * so the exchange carries at most k ids per group per map partition
    * (map-side combine), then one semi-join recovers the rows. Same
    * kept set, verdicts engine-exact: the order key is the first
    * 52 bits of md5(id) — 13 hex chars, chosen to survive TopKBy's
    * double-typed order slot losslessly (2⁵² < 2⁵³), ties to the
    * smaller id. */
  def capPerGroup(groupCol: String, idCol: String, k: Int)(df: DataFrame): DataFrame = {
    // TopKBy's payload slot is LongType: a non-integral id (string UUID)
    // would cast to null, be skipped by the aggregate, and silently
    // shrink the kept set — fail loud instead
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(idType),
      s"capPerGroup needs an integral $idCol (TopKBy carries ids as LongType); got $idType — " +
        "map string ids to a surrogate (e.g. xxhash64) first")
    // negated: topk_by keeps the k LARGEST orders; we want smallest-hash
    val order = -expr(
      s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 13), 16, 10) AS BIGINT)")
    val kept = df.groupBy(col(groupCol))
      .agg(graft.functions.TopKBy.topkBy(order, col(idCol), k).as("__ids"))
      .select(explode(col("__ids")).as(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** Deterministic stratified sample: the first `nPerStratum` rows of
    * each stratum in md5(id) order — a fixed-size-per-group sample
    * that is reproducible across engines, retries, and partitionings
    * (unlike reservoir sampling, whose kept set depends on encounter
    * order). One shuffle on the stratum key. At scale, when strata are
    * huge, pre-thin with [[hashSample]] (narrow) so the sort input per
    * stratum is ~nPerStratum·oversample rather than the full stratum,
    * or use the k-bounded graft.functions.TopKBy aggregate — the
    * window form here is the oracle-checkable parity form (q68). */
  def stratifiedSample(
      strataCol: String, idCol: String, nPerStratum: Int,
      rankCol: Option[String] = None)(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val rc = rankCol.getOrElse("__rn")
    val ranked = df.withColumn(rc, row_number().over(w))
      .filter(col(rc) <= nPerStratum)
    if (rankCol.isDefined) ranked else ranked.drop(rc)
  }

  /** Weighted systematic sampling, EXACT-INTEGER form: select ~`n`
    * units with probability proportional to an integer weight (sample
    * documents ∝ token count for a token-budget mixture, orders ∝
    * value, …) by walking `n` equally-spaced thresholds down the
    * cumulative weight axis — the classic PPS-systematic design, made
    * deterministic and engine-replayable: a unit whose cumulative
    * interval `(C−w, C]` contains `k` thresholds is emitted with
    * `n_copies = ⌊C·n/W⌋ − ⌊(C−w)·n/W⌋` (heavy units CAN repeat —
    * that is PPS semantics, not a bug; Σ n_copies = n exactly).
    *
    * Distribution shape: the global cumulative sum is the textbook
    * two-level scan — deterministic id-range buckets, per-bucket
    * totals rolled into broadcast offsets (bucket-count-bounded
    * driver handoff), then an INTRA-bucket window cumsum — so no
    * single-partition global window exists anywhere. Requires unique
    * ids (the walk order), nonnegative weights, and `W·n < 2⁶³`
    * (loud require — cross-multiplication stays in BIGINT). */
  def systematicWeightedSample(
      idCol: String, weightCol: String, n: Long, buckets: Int = 64)(
      df: DataFrame): DataFrame = {
    require(n >= 1, s"systematicWeightedSample: n must be >= 1, got $n")
    require(buckets >= 1, s"systematicWeightedSample: buckets must be >= 1, got $buckets")
    val bounds = df.agg(
      min(col(idCol)).cast("long"), max(col(idCol)).cast("long"),
      coalesce(sum(col(weightCol)), lit(0L)).cast("long"),
      coalesce(sum(when(col(weightCol) < 0, 1L).otherwise(0L)), lit(0L)),
      count(lit(1)), countDistinct(col(idCol))).head()
    // count first: on an empty frame min/max are NULL and getLong
    // would NPE before any friendly message could fire
    require(bounds.getLong(4) > 0L, "systematicWeightedSample: input is empty")
    val (lo, hi, total) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    require(bounds.getLong(3) == 0L, "systematicWeightedSample: negative weights")
    require(bounds.getLong(4) == bounds.getLong(5),
      "systematicWeightedSample: ids must be unique (they define the walk order)")
    require(total >= 1, "systematicWeightedSample: total weight is zero")
    require(total <= Long.MaxValue / n,
      s"systematicWeightedSample: W·n overflows BIGINT (W=$total, n=$n)")
    val width = math.max(1L, (hi - lo) / buckets + 1L)
    val withB = df.withColumn("__b", expr(
      s"CAST((CAST(`$idCol` AS BIGINT) - ${lo}L) div ${width}L AS INT)"))
    val offsets = withB.groupBy("__b")
      .agg(sum(col(weightCol)).cast("long").as("__s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      .scanLeft((Int.MinValue, 0L)) { case ((_, acc), (b, s)) => (b, acc + s) }
      .toList.sliding(2).collect { case List((_, off), (b, _)) => b -> off }.toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (b, off)) =>
      when(col("__b") === b, lit(off)).otherwise(acc)
    }
    val cum = sum(col(weightCol)).over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col(idCol))).cast("long") + offCol
    withB.withColumn("__c", cum)
      // `div`, not `/`: Spark's slash is DOUBLE division even on
      // BIGINTs, and the threshold walk must be exact integer floor
      .withColumn("n_copies", expr(
        s"((__c * ${n}L) div ${total}L) - " +
          s"(((__c - `$weightCol`) * ${n}L) div ${total}L)"))
      .filter(col("n_copies") > 0)
      .drop("__b", "__c")
  }

  /** Training-mixture sampling: per-source deterministic Bernoulli
    * rates (md5-bucket < rate·outOf) — the "data mixing" step that
    * up-/down-weights sources when assembling a training corpus.
    * Narrow scan-local filter like [[hashSample]]; reproducible at any
    * partitioning, across retries, and in any engine with md5().
    * Sources not in `fractions` keep `default`. */
  def mixtureSample(
      sourceCol: String, idCol: String, fractions: Map[String, Double],
      default: Double = 0.0, outOf: Int = 10000)(df: DataFrame): DataFrame = {
    val bucket =
      expr(s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 15), 16, 10) AS BIGINT)") % outOf
    val threshold = fractions.toSeq.sortBy(_._1).foldRight(
      lit(math.round(default * outOf)): Column) { case ((s, f), other) =>
      when(col(sourceCol) === s, lit(math.round(f * outOf))).otherwise(other)
    }
    df.filter(bucket < threshold)
  }

  /** Leakage-safe train/val/test assignment: every near-dup CLUSTER
    * lands wholly in ONE split, so a document can never sit in train
    * while its near-duplicate sits in eval — the standard defense
    * against evaluation leakage through near-dups (splitting docs
    * independently leaks whenever a cluster straddles the boundary).
    *
    * `components` is (id, comp) from
    * [[graft.operators.ConnectedComponents]] over verified near-dup
    * pairs; docs absent from it are singletons (their own id is the
    * cluster key). The split is decided by md5(cluster key) mod 100
    * against the cumulative `splits` percentages — deterministic
    * across engines, retries, and partitionings, like [[hashSample]].
    *
    * Scale shape: one left join of docs against the component table —
    * which holds only docs that HAVE a near-dup (usually ≪ corpus), so
    * AQE broadcasts it and the corpus side never shuffles; everything
    * after is a narrow hash + CASE. Split sizes are approximate (hash
    * buckets of clusters, weighted by cluster size), which is inherent:
    * exact-size splits cannot be cluster-cohesive. */
  def leakageSafeSplits(
      docs: DataFrame, idCol: String, components: DataFrame,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) && splits.map(_._2).sum == 100,
      s"split percentages must be positive and sum to 100: $splits")
    val comp = components.select(col("id").as(idCol), col("comp").as("__comp"))
    val withComp = docs.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("__comp"), col(idCol)))
      .drop("__comp")
    val bucket =
      expr("CAST(conv(substring(md5(CAST(component AS STRING)), 1, 15), 16, 10) AS BIGINT)") % 100
    val uppers = splits.map(_._2).scanLeft(0)(_ + _).tail // cumulative upper bounds
    val chain = splits.zip(uppers).init.foldLeft(Option.empty[Column]) {
      case (None, ((name, _), up))    => Some(when(bucket < up, name))
      case (Some(c), ((name, _), up)) => Some(c.when(bucket < up, name))
    }
    val splitCol = chain.map(_.otherwise(splits.last._1)).getOrElse(lit(splits.last._1))
    withComp.withColumn("split", splitCol)
  }

  /** [[leakageSafeSplits]] with EXACT split sizes (±0 docs, unless a
    * single cluster is bigger than its split's whole quota). The hash
    * form is cluster-cohesive but only approximately sized — hash
    * buckets of clusters land a few percent off target, which matters
    * when eval sets are contractually sized. This variant keeps full
    * cluster cohesion and hits the largest-remainder integer targets
    * exactly:
    *
    *  1. Multi-doc clusters (one summary row per cluster — ≪ corpus;
    *     `maxClusters` valves the driver step) are assigned GREEDILY,
    *     largest first, each to the currently most underfilled split —
    *     deterministic (size desc, component, split order ties).
    *  2. Singletons — the bulk of the corpus — fill each split's exact
    *     remaining quota by deterministic md5 rank: ranks are assigned
    *     with the distributed two-phase SK (no single-partition
    *     window), and contiguous rank ranges map to splits.
    *
    * Cost over the hash form: two extra actions (total count + cluster
    * summary collect) and the singleton rank sort — the price of exact
    * sizing. Assignment depends only on (ids, component structure,
    * split spec), so it is reproducible across runs, partitionings, and
    * engines; it is NOT stable under corpus growth (adding docs can
    * move earlier ones between splits) — use the hash form when
    * incremental stability matters more than exact ratios. */
  def leakageSafeSplitsExact(
      docs: DataFrame, idCol: String, components: DataFrame,
      splits: Seq[(String, Int)], maxClusters: Int = 5000000): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) && splits.map(_._2).sum == 100,
      s"split percentages must be positive and sum to 100: $splits")
    val spark = docs.sparkSession
    val comp = components.select(col("id").as(idCol), col("comp").as("__comp"))
    // materialized once (lazy): feeds the total count, the cluster
    // summary, AND both output branches
    val withComp = docs.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("__comp"), col(idCol)))
      .withColumn("__clustered", col("__comp").isNotNull)
      .drop("__comp")
      .localCheckpoint(false)
    val n = withComp.count()

    // integer targets per split: largest-remainder so they sum to n
    val targets: Array[Long] = {
      val floors = splits.map { case (_, p) => n * p / 100 }.toArray
      val rem = (n - floors.sum).toInt
      splits.zipWithIndex.map { case ((_, p), i) => (n * p % 100, i) }
        .sortBy { case (f, i) => (-f, i) }
        .take(rem).foreach { case (_, i) => floors(i) += 1 }
      floors
    }

    // greedy over the cluster SUMMARY (|multi-doc clusters| rows, not
    // docs): biggest cluster to the most underfilled split
    val clusterRows = withComp.filter(col("__clustered"))
      .groupBy("component").agg(count(lit(1)).as("__sz"))
      .orderBy(col("__sz").desc, col("component"))
      .limit(maxClusters + 1).collect()
    require(clusterRows.length <= maxClusters,
      s"leakageSafeSplitsExact: more than $maxClusters multi-doc clusters — " +
        "raise maxClusters or use the hash-bucket leakageSafeSplits form")
    val assigned = new Array[Long](splits.length)
    val clusterAsg: Seq[(Any, String)] = clusterRows.toSeq.map { r =>
      val sz = r.getAs[Long]("__sz")
      val i = assigned.indices.maxBy(i => targets(i) - assigned(i)) // ties -> first split
      assigned(i) += sz
      (r.get(0), splits(i)._1)
    }

    // singleton quotas = exact remainders (clamped when a giant cluster
    // overshot its split; the deficit is taken from the fullest quota
    // so quotas still sum to the singleton count)
    val quotas = assigned.indices.map(i => math.max(0L, targets(i) - assigned(i))).toArray
    var excess = quotas.sum - (n - assigned.sum)
    while (excess > 0) {
      val i = quotas.indices.maxBy(i => (quotas(i), -i))
      val cut = math.min(excess, quotas(i))
      quotas(i) -= cut; excess -= cut
    }

    val docCols = docs.columns.map(col)
    val outCols = docCols :+ col("component") :+ col("split")
    val asgSchema = org.apache.spark.sql.types.StructType(Seq(
      withComp.schema("component"),
      org.apache.spark.sql.types.StructField("split",
        org.apache.spark.sql.types.StringType, nullable = false)))
    val asgDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        clusterAsg.map { case (c, s) => org.apache.spark.sql.Row(c, s) }, 1),
      asgSchema)
    val clustered = withComp.filter(col("__clustered"))
      .join(broadcast(asgDf.withColumnRenamed("component", idCol)
        .withColumnRenamed("split", "__split")
        .withColumnRenamed(idCol, "component")), Seq("component"))
      .withColumn("split", col("__split"))
      .select(outCols: _*)

    val bounds = quotas.scanLeft(0L)(_ + _).tail
    val singleChain = splits.map(_._1).zip(bounds).init
      .foldLeft(Option.empty[Column]) {
        case (None, (name, hi))    => Some(when(col("__rank") <= hi, name))
        case (Some(c), (name, hi)) => Some(c.when(col("__rank") <= hi, name))
      }
      .map(_.otherwise(splits.last._1)).getOrElse(lit(splits.last._1))
    val singles = graft.star.Sk.withDistributedSk(
        withComp.filter(!col("__clustered")), "__rank",
        Seq(md5(col(idCol).cast("string")).asc, col(idCol).asc))
      .withColumn("split", singleChain)
      .select(outCols: _*)

    clustered.unionByName(singles)
  }

  /** Per-corpus-doc count of distinct word n-grams shared with an
    * eval/benchmark set — the discovery half of benchmark
    * DECONTAMINATION (a training corpus must not contain eval data;
    * the standard screen is long-n-gram overlap). Grams are compared
    * as 60-bit md5 hashes ([[Dedup.shingleHash60]]), so the eval-side
    * gram set is ~8 bytes per distinct gram and is BROADCAST: the
    * corpus side — the 100 TB side — joins without shuffling; the only
    * exchange is the per-doc count aggregate. */
  def contaminationCounts(
      corpus: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val corpusGrams = Dedup.hashedDocs(corpus, idCol, textCol, Dedup.WordShingles(n))
      .select(col("id").as(idCol), explode(col("h")).as("g"))
    val evalGrams = Dedup.hashedDocs(evalSet, idCol, textCol, Dedup.WordShingles(n))
      .select(explode(col("h")).as("g")).distinct()
    // plain count, not countDistinct: the per-doc gram sets are already
    // distinct (hashedDocs) and the eval side is deduplicated, so the
    // join emits each (doc, gram) at most once — a distinct-agg here
    // would re-shuffle the exploded corpus-gram stream for nothing
    corpusGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared_grams"))
  }

  /** [[contaminationCounts]] with a BLOOM-FILTER prefilter — the form
    * for when the eval/benchmark side is too big to broadcast exactly.
    * The eval gram hashes are folded into one Spark `BloomFilter` blob
    * (a few MB even for 10⁸ grams at 3% fpp — vs 8 bytes PER GRAM for
    * the exact broadcast), the corpus-gram stream is prefiltered by
    * `might_contain` as a NARROW codegen'd scan predicate, and only
    * the surviving ~fpp fraction reaches the exact verification join —
    * here a sort-merge join, the strategy a non-broadcastable eval set
    * forces at 100 TB. Results are EXACTLY [[contaminationCounts]]'s:
    * bloom false positives are struck by the exact join; false
    * negatives don't exist. Cost: one extra action to build the blob
    * (the same two-pass shape as Spark's own runtime filters).
    *
    * `expectedGrams` sizes the filter — overestimating wastes blob
    * bytes, underestimating inflates fpp (never correctness). */
  def contaminationCountsBloom(
      corpus: DataFrame, evalSet: DataFrame, idCol: String, textCol: String,
      n: Int = 5, expectedGrams: Long = 4000000L): DataFrame = {
    // localCheckpoint: the eval grams feed TWO consumers — the blob
    // action below and the verification join — and would otherwise run
    // the eval-side shingle-hash scan twice
    val evalGrams = Dedup.hashedDocs(evalSet, idCol, textCol, Dedup.WordShingles(n))
      .select(explode(col("h")).as("g")).distinct()
      .localCheckpoint(false)
    val blob = bloomOfLongs(evalGrams, "g", expectedGrams)
    val corpusGrams = Dedup.hashedDocs(corpus, idCol, textCol, Dedup.WordShingles(n))
      .select(col("id").as(idCol), explode(col("h")).as("g"))
    corpusGrams.filter(bloomMightContain(blob, col("g")))
      .join(evalGrams.hint("merge"), Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Fold a BIGINT column into one Spark `BloomFilter` blob (driver-side
    * bytes — broadcast-weight, a few MB even for 10⁸ items at ~3% fpp). */
  def bloomOfLongs(df: DataFrame, colName: String, expectedItems: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomCol = GraftSqlBridge.column(
      new BloomFilterAggregate(GraftSqlBridge.expression(col(colName)), expectedItems)
        .toAggregateExpression())
    df.agg(bloomCol.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** `might_contain(blob, value)` as a Column (value must be BIGINT).
    * A null blob — what [[bloomOfLongs]] yields for an EMPTY input —
    * means "contains nothing": the predicate is FALSE, not an analysis
    * error (might_contain over a raw null literal would fail type
    * checking). */
  def bloomMightContain(blob: Array[Byte], value: Column): Column = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    if (blob == null) lit(false)
    else GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(lit(blob)), GraftSqlBridge.expression(value)))
  }

  /** STATELESS contamination screen for ONLINE ingest: TRUE iff any
    * word n-gram of `textCol` hits the eval-set bloom blob. Fully
    * narrow (the codegen shingle-hash set + one `exists` over it), so
    * it is legal as-is inside a Structured Streaming micro-batch —
    * batch and stream verdicts are identical by construction, the
    * online twin of [[contaminationCountsBloom]] the way
    * `assignToCentroids` is the online twin of `kmeansAssign`.
    *
    * Caveat (documented, not silent): a bloom false positive flags a
    * CLEAN doc with probability ~fpp — acceptable for an ingest screen
    * that over-drops ~3% of nothing-in-common docs at worst; the
    * verdict is a strict SUPERSET of the exact > 0-shared-grams set,
    * never a subset (no false negatives — contaminated docs are always
    * flagged). Route flagged docs to the exact verifier
    * ([[contaminationCounts]]) when over-dropping matters. */
  def bloomContaminated(textCol: Column, blob: Array[Byte], n: Int = 5): Column =
    exists(
      graft.functions.ShingleHashSet.shingleHashSet(textCol, Dedup.WordShingles(n)),
      g => bloomMightContain(blob, g))

  /** Drop corpus docs sharing more than `maxShared` word n-grams with
    * the eval set (left-anti against [[contaminationCounts]]). */
  def decontaminate(
      evalSet: DataFrame, idCol: String, textCol: String,
      n: Int = 5, maxShared: Long = 0)(corpus: DataFrame): DataFrame =
    corpus.join(
      contaminationCounts(corpus, evalSet, idCol, textCol, n)
        .filter(col("n_shared_grams") > maxShared).select(idCol),
      Seq(idCol), "left_anti")

  /** Intra-document repetition stats: total vs distinct word n-gram
    * counts and the repeated fraction — the Gopher-style "excessive
    * repetition" quality signal. Total n-gram count is plain
    * arithmetic on the token count (max(tokens−n+1, 1), matching the
    * whole-text fallback of [[Dedup.wordShinglesScala]] for short
    * docs); the distinct count reuses the shingle UDF. Narrow — no
    * shuffle, one scan. */
  def repetitionStats(textCol: String, n: Int = 3)(df: DataFrame): DataFrame = {
    val nTok = size(split(trim(col(textCol)), "\\s+")).cast(LongType)
    val total = greatest(nTok - (n - 1), lit(1L))
    val distinctN = size(Dedup.wordShingles(col(textCol), n)).cast(LongType)
    df.withColumn("n_ngrams", total)
      .withColumn("n_distinct_ngrams", distinctN)
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct_ngrams").cast("double") / col("n_ngrams").cast("double"))
  }

  /** Overlapping token-window CHUNKING — the RAG/embedding preparation
    * op: split each document into windows of `window` tokens advancing
    * by `stride` (< window ⇒ overlap of window − stride tokens, the
    * boundary-context hedge), tail included even when short. Emits
    * (all input columns minus textCol) + (chunk_idx, chunk_text,
    * n_tokens).
    *
    * Chunk count is 1 + ⌈max(tokens − window, 0) / stride⌉, computed
    * with non-negative integer arithmetic only (`DIV`) — float ceil and
    * negative integer division both round differently across engines.
    * Fully NARROW: tokenization, the per-doc index sequence, and the
    * slices are one generate + project over the scan — no shuffle, no
    * state, legal in a streaming micro-batch as-is. At 100 TB this is
    * the shape you want: chunking is embarrassingly parallel, and the
    * ~window/stride× output inflation flows straight to the sink
    * without ever crossing the wire. */
  def chunkWithStride(
      textCol: String, window: Int, stride: Int)(
      df: DataFrame): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // stride ≤ window ⇒ every token is covered and the last start lands
    // strictly inside the doc (no empty overshoot chunk); stride >
    // window would be gap-sampling, a different operator
    require(stride <= window, s"stride $stride must be <= window $window")
    // null text reads as empty: a null-text doc yields ONE empty chunk,
    // exactly like an empty-string doc (without the coalesce, the null
    // array made nChunks null and posexplode silently DROPPED the row —
    // inconsistent with the empty-string path)
    val toks = filter(split(trim(coalesce(col(textCol), lit(""))), "\\s+"), t => t =!= "")
    val nChunks = lit(1L) +
      expr(s"(greatest(size(__toks) - $window, 0) + ${stride - 1}) DIV $stride")
    val keep = df.columns.filter(_ != textCol).map(col).toIndexedSeq
    df.withColumn("__toks", toks)
      .select(keep :+ col("__toks") :+
        posexplode(transform(sequence(lit(0L), nChunks - 1),
          i => slice(col("__toks"), (i * stride + 1).cast("int"), lit(window))))
          .as(Seq("chunk_idx", "__chunk")): _*)
      .select(keep :+ col("chunk_idx").cast(LongType).as("chunk_idx") :+
        array_join(col("__chunk"), " ").as("chunk_text") :+
        size(col("__chunk")).cast(LongType).as("n_tokens"): _*)
  }

  /** Keep docs whose repeated word-n-gram fraction is ≤ maxRepRatio. */
  def repetitionFilter(
      textCol: String, n: Int = 3, maxRepRatio: Double = 0.2)(
      df: DataFrame): DataFrame = {
    val cols = df.columns
    repetitionStats(textCol, n)(df)
      .filter(col("rep_ratio") <= maxRepRatio)
      .select(cols.map(col).toIndexedSeq: _*)
  }

  /** CCNet-style unigram-frequency quality signal: per doc, the mean
    * corpus frequency of its tokens — boilerplate-y docs made of
    * common tokens score high, gibberish scores low. (The classic
    * formulation averages log-probabilities; this uses the raw mean
    * frequency so the score is an exact integer sum / count — one IEEE
    * division — and thus bit-reproducible in any engine, where ln()
    * implementations differ in the last ulp.)
    *
    * Two passes over the token stream: one aggregate to build the
    * vocab (token → count), one join back. With the default broadcast
    * the per-doc scoring join never shuffles the exploded corpus; the
    * only wide op is the per-doc sum.
    *
    * Broadcasting the vocab is only executor-memory-safe when the
    * vocab is Zipf-bounded (natural-language tokens). Real web text is
    * NOT: URLs, hex blobs, and ids make the distinct-token count grow
    * with the corpus. Two gates, composable:
    *  - `minTokenFreq` > 1 prunes the vocab BEFORE the broadcast and
    *    gives a hard size bound independent of token distribution:
    *    at most totalTokens / minTokenFreq rows survive (each kept
    *    token accounts for ≥ minTokenFreq stream occurrences). The
    *    classic CCNet formulation prunes its LM vocab the same way;
    *    sub-cutoff tokens (the hapax/junk tail) drop out of BOTH
    *    `n_tokens` and `freq_sum`, so the score is the mean frequency
    *    over in-vocab tokens. Docs with no in-vocab token disappear —
    *    exactly the all-junk docs the signal exists to flag.
    *  - `broadcastVocab = false` removes the hint entirely: the join
    *    plans as a shuffle join and AQE's runtime size check (not a
    *    guess) converts it back to broadcast when the built vocab is
    *    actually small. The re-shuffle of the exploded corpus only
    *    materializes in the giant-vocab case where it is the only
    *    correct plan. */
  def unigramQuality(
      idCol: String, textCol: String, minTokenFreq: Long = 1L,
      broadcastVocab: Boolean = true)(df: DataFrame): DataFrame = {
    val toksOf = split(trim(lower(col(textCol))), "\\s+")
    val exploded = df.select(col(idCol), explode(toksOf).as("tok"))
    val vocabAll = exploded.groupBy("tok").agg(count(lit(1)).as("tok_freq"))
    val vocab =
      if (minTokenFreq > 1L) vocabAll.filter(col("tok_freq") >= minTokenFreq) else vocabAll
    exploded.join(if (broadcastVocab) broadcast(vocab) else vocab, Seq("tok"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(col("tok_freq")).as("freq_sum"))
      .withColumn("mean_tok_freq",
        col("freq_sum").cast("double") / col("n_tokens").cast("double"))
  }

  /** Sequence packing: assign documents to contiguous token-budget
    * bins (greedy running-total packing) WITHIN each shard — the step
    * that turns a curated corpus into fixed-budget training sequences.
    * bin = floor(cumulative-tokens-before-this-doc / budget), over a
    * deterministic (shard, id) order.
    *
    * Scale shape: packing only needs contiguity INSIDE a shard, so the
    * window partitions by the shard column and shards pack in
    * parallel — a single global ordering (one-partition window) would
    * serialize 100 TB through one task and is deliberately not
    * offered. The shard key's CARDINALITY is the parallelism: when no
    * natural high-cardinality key exists, derive one (e.g. an
    * md5(id)-mod-k shard as in battery q72) so each window partition
    * stays task-sized. Docs longer than the budget get a bin of their
    * own (the running total just jumps past them). Bin arithmetic is
    * integer `div` — exact at any cumulative-token magnitude (a double
    * division would go inexact past 2⁵³ tokens per shard).
    *
    * The frame is ROWS, not the default RANGE: under RANGE, order-by
    * PEERS (rows sharing one (shard, id) value) would all see the
    * running total AFTER the whole peer group — every duplicate lands
    * past its own tokens and greedy packing silently deviates. ROWS
    * keeps one-row-at-a-time accumulation regardless. Precondition for
    * DETERMINISTIC bins, though: (shardCol, idCol) should be unique —
    * duplicate ids still pack greedily under ROWS, but their relative
    * order (hence bin split points) is whatever the sort produced. */
  def packSequences(
      shardCol: String, idCol: String, textCol: String, tokenBudget: Long)(
      df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val nTok = size(split(trim(col(textCol)), "\\s+")).cast(LongType)
    df.withColumn("n_tokens", nTok)
      .withColumn("__cum", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", expr(s"__cum div ${tokenBudget}L"))
      .drop("__cum")
  }

  /** Adjacent-token pair association scores — the merge-selection step
    * of tokenizer training (BPE picks the highest-scoring adjacent
    * pair; q32's token stats are the other half) and, equivalently,
    * corpus collocation discovery (PMI without the log: the score is
    * the raw probability ratio p(xy)/(p(x)·p(y)) = n_pair·N_pairs /
    * (n_left·n_right·(N_pairs/N_toks)²)… simplified here to the
    * standard lift form n_pair·N_pairs/(n_left·n_right), monotone in
    * PMI for fixed margins). All counts are exact BIGINTs; the score
    * is (a·b)/(c·d) over doubles cast FROM those exact integers — the
    * identical expression tree in any engine, hence bit-identical.
    *
    * `minPairFreq` prunes the hapax pair tail BEFORE the unigram
    * joins — the same broadcast-size bound as [[unigramQuality]]'s
    * `minTokenFreq`. Shuffle shape: one aggregate on the pair stream,
    * one on the token stream, two joins on token (the pruned pair
    * table is the small side at any corpus size — pair frequency ≥
    * minPairFreq caps it at N_pairs/minPairFreq rows). */
  def mergePairScores(
      idCol: String, textCol: String, minPairFreq: Long = 2L)(
      df: DataFrame): DataFrame = {
    val toksOf = split(trim(lower(col(textCol))), "\\s+")
    // materialize the token array in its own projection BEFORE the
    // pair lambda: element_at(split(text), i) inside the lambda would
    // re-split the whole text per pair — O(tokens²) per document
    val toksDf = df.select(toksOf.as("__toks"))
    val tk = col("__toks")
    val pairsOf = when(size(tk) >= 2,
      transform(sequence(lit(0), size(tk) - 2),
        i => concat_ws(" ", element_at(tk, i + 1), element_at(tk, i + 2))))
      .otherwise(array().cast("array<string>"))
    val pairCounts = toksDf.select(explode(pairsOf).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPairFreq)
    val tokCounts = toksDf.select(explode(tk).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    // N over ALL pairs (pre-prune) — the score's normalizer is a corpus
    // property, not a property of the surviving pair table. A doc with
    // t tokens has max(t−1, 0) adjacent pairs, so N is plain arithmetic
    // on token counts: no third explode of the token stream, just a
    // narrow scan + scalar agg.
    val totalPairs = df.agg(
      sum(greatest(size(toksOf) - 1, lit(0)).cast(LongType)).as("n_total"))
    pairCounts
      .withColumn("left_tok", split(col("pair"), " ").getItem(0))
      .withColumn("right_tok", split(col("pair"), " ").getItem(1))
      .join(tokCounts.withColumnRenamed("tok", "left_tok")
        .withColumnRenamed("n_tok", "n_left"), Seq("left_tok"))
      .join(tokCounts.withColumnRenamed("tok", "right_tok")
        .withColumnRenamed("n_tok", "n_right"), Seq("right_tok"))
      .crossJoin(broadcast(totalPairs))
      .select(col("pair"), col("n_pair"), col("n_left"), col("n_right"),
        ((col("n_pair").cast("double") * col("n_total").cast("double")) /
          (col("n_left").cast("double") * col("n_right").cast("double"))).as("score"))
  }

  /** Substring-level dedup, REMOVE phase (the transform half of Lee et
    * al. 2021's "Deduplicating Training Data Makes Language Models
    * Better", approximated at scale by fixed-width token chunks — the
    * discovery half is battery q70's repeated-n-gram scan): chunk each
    * document into non-overlapping `chunkTokens`-token spans, keep only
    * each distinct span's globally FIRST occurrence (min (id, position)
    * — deterministic at any partitioning), and reassemble the surviving
    * spans in document order. Documents whose every span was seen
    * earlier drop out entirely (they are exact-duplicate content).
    *
    * Returns (idCol, textCol-deduplicated, n_spans_kept).
    *
    * Scale shape: chunking is narrow (one scan, array ops in codegen).
    * The default (parity) form elects winners with a window over the
    * span TEXT, so the span strings cross the wire twice — once for the
    * window shuffle, once for the reassembly aggregate. That form is
    * what battery q75's DuckDB oracle hash-verifies byte-for-byte.
    * `hashedWinners = true` is the 100 TB form: winners are elected on
    * codegen'd xxhash64(span) — 8 bytes per span on the wire — and the
    * per-doc winner POSITIONS (a tiny array) join back to the narrowly
    * re-derived chunk stream on the doc id; the reassembly aggregate
    * then rides that join's exchange, so the span text is shuffled ONCE
    * instead of twice and the heavy sort keys on long strings disappear.
    * Same output (spec-pinned), modulo a 2⁻⁶⁴ hash-collision risk —
    * the same accepted class as [[Dedup.shingleHash60]]. */
  def dedupSpans(
      idCol: String, textCol: String, chunkTokens: Int = 50,
      hashedWinners: Boolean = false)(
      df: DataFrame): DataFrame = {
    // token array materialized BEFORE the chunk lambda — slice(split(..))
    // inside the lambda would re-split the text once per chunk
    val toksDf = df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
    val tk = col("__toks")
    val nChunks = ceil(size(tk) / lit(chunkTokens.toDouble)).cast("int")
    // null-text guard: size(null) = -1 would make sequence(0, -2) emit
    // PHANTOM spans (Spark auto-steps backwards); null-text docs must
    // instead produce no spans at all — matching the oracle, where
    // range(0, NULL) unnests to zero rows. posexplode skips null arrays.
    val chunks = when(tk.isNotNull, transform(
      sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(tk, i * chunkTokens + 1, lit(chunkTokens)))))
    val exploded = toksDf.select(col(idCol), posexplode(chunks).as(Seq("pos", "chunk")))
    val kept =
      if (!hashedWinners) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("chunk")).orderBy(col(idCol), col("pos"))
        exploded.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
      } else {
        val winners = exploded
          .select(xxhash64(col("chunk")).as("__h"),
            struct(col(idCol).as("id"), col("pos").as("pos")).as("__occ"))
          .groupBy("__h").agg(min(col("__occ")).as("w"))
          .select(col("w.id").as(idCol), col("w.pos").as("pos"))
        val winnersPerDoc = winners.groupBy(idCol)
          .agg(collect_set(col("pos")).as("__wpos"))
        exploded.join(winnersPerDoc, Seq(idCol))
          .filter(array_contains(col("__wpos"), col("pos")))
      }
    kept.groupBy(idCol)
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          s => s.getField("chunk"))).as(textCol),
        count(lit(1)).as("n_spans_kept"))
  }

  /** The full default funnel; returns each stage's surviving DataFrame
    * in order (s0 input … s5 sample) so callers can count, persist, or
    * continue from any stage.
    *
    * The shuffled stages (exact dedup, near-dedup) are lazily
    * localCheckpointed: callers typically act on SEVERAL stages
    * (per-stage counts, or count-then-continue), and each stage's
    * plan embeds its whole prefix — without materialization, six
    * per-stage counts recompute the prefix quadratically, and the
    * near-dedup stage even recomputes inside itself (its anti-join
    * reads the input twice). With it, every stage runs once and later
    * readers hit stored RDD blocks. Same fault-tolerance caveat as
    * [[graft.dedup.Dedup.verifiedNearDupPairs]]'s fingerprints. The
    * narrow stages (quality/lang filters, sample) stay unmaterialized —
    * rescanning them is one codegen'd pass, cheaper than storing.
    *
    * LIFETIME CONTRACT: the materialized stages are localCheckpoint
    * blocks, and a localCheckpoint that has been unpersisted CANNOT
    * recompute (lineage is truncated) — the next action on a held stage
    * fails instead of recomputing. So a caller holding stage DataFrames
    * across a [[graft.CacheReset]] (or any block-manager sweep) must
    * exempt them: `CacheReset(spark, keep = stages.map(s =>
    * CacheReset.rddIds(s._2)).reduce(_ ++ _))`. Consume-then-discard
    * callers (battery q54, Bench — the plan is rebuilt per run) need
    * nothing. */
  def funnel(
      docs: DataFrame, idCol: String, textCol: String, langCol: String)
      : Seq[(String, DataFrame)] = {
    val s1 = docs.transform(qualityFilter(textCol))
    val s2 = s1.transform(langConsistencyFilter(textCol, langCol))
    val s3 = s2.select(idCol, textCol).transform(exactDedup(idCol, textCol))
      .localCheckpoint(false)
    val s4 = s3.transform(nearDedup(idCol, textCol)).localCheckpoint(false)
    val s5 = s4.transform(hashSample(idCol, keep = 1, outOf = 2))
    Seq("s0_all" -> docs, "s1_quality" -> s1, "s2_lang" -> s2,
      "s3_exact_dedup" -> s3, "s4_near_dedup" -> s4, "s5_sample" -> s5)
  }

  // ---------------------------------------------------------------- //
  // BPE tokenizer training (Sennrich et al., arXiv:1508.07909)       //
  // ---------------------------------------------------------------- //

  /** Word-frequency table with code-point symbol sequences — the
    * compact representation BPE training iterates on. ONE corpus-scale
    * pass (tokenize → groupBy word); everything after runs over
    * |vocab| rows, which is why tokenizer training is feasible at
    * 100 TB: the corpus is touched once, the loop never re-reads it. */
  private[text] def bpeWordTable(textCol: String)(df: DataFrame): DataFrame =
    df.select(explode(toks(textCol)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(col("word"), col("n"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))

  /** Full BPE tokenizer training: `nMerges` rounds of (pair-count
    * argmax → greedy merge apply), returning the learned merge table
    * `(rank, left_sym, right_sym, n_pair)` in apply order.
    *
    * Determinism contract (cross-engine replayable, battery q117):
    * pair counts are adjacent-position counts weighted by word
    * frequency (overlaps counted, the classic formulation); the winner
    * is `max count, then (left, right)` in binary string order; the
    * apply step is greedy left-to-right non-overlapping
    * ([[graft.functions.BpeExpressions.mergeStep]] — in a run `aaa`
    * with merge `(a,a)` only positions 0-1 merge), so counts on the
    * next round reflect the vocabulary actually produced.
    *
    * Shuffle shape per round: one exchange for the pair-count
    * aggregate over the vocab table plus a driver-side single-row
    * argmax collect (bounded: one row per round). The apply is a
    * narrow codegen map; `localCheckpoint` after each round keeps the
    * plan shallow instead of nesting the merge history (same loop
    * hygiene as [[graft.similarity.Similarity.kmeans]]). Stops early
    * if the corpus runs out of adjacent pairs.
    *
    * LOOP BOUND (the valve): cost is ONE Spark job per merge, so this
    * exact-sequential form is for small/audit vocabularies — a
    * production 32k-merge vocabulary means 32k sequential jobs. For
    * large `nMerges` use [[trainBpeBatched]], which selects up to
    * `batch` non-interacting merges per round at ~1/batch the job
    * count. */
  def trainBpe(textCol: String, nMerges: Int)(df: DataFrame): DataFrame = {
    require(nMerges >= 1, "trainBpe needs at least one merge round")
    val spark = df.sparkSession
    var words = bpeWordTable(textCol)(df).localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val sy = col("syms")
      val win = words.filter(size(sy) >= 2)
        .select(col("n"), explode(transform(sequence(lit(0), size(sy) - 2),
          i => struct(element_at(sy, i + 1).as("l"), element_at(sy, i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (win.isEmpty) exhausted = true
      else {
        val (l, r, c) = (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
        merges += ((merges.size + 1, l, r, c))
        // lazy checkpoint per round: the next round's pair count
        // materializes it; ContextCleaner reclaims the chain when the
        // training loop's references drop (same hygiene as kmeans)
        words = words.withColumn("syms",
            graft.functions.BpeExpressions.bpeMergeStep(sy, l, r))
          .localCheckpoint(false)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "n_pair")
  }

  /** Batched BPE training — the production form for real vocabulary
    * sizes. [[trainBpe]] is exact sequential BPE but costs ONE Spark
    * job (pair-count shuffle + argmax collect) per merge: a 32k-merge
    * vocabulary would be 32k sequential jobs, which is the loop bound
    * its scaladoc warns about. This variant selects up to `batch`
    * NON-INTERACTING merges per round — the public fast-BPE /
    * SentencePiece-style optimization — cutting the job count by ~the
    * batch factor (BENCH_SCALE: 1k merges in ~1k/batch rounds).
    *
    * Selection rule (deterministic): take candidate pairs in the
    * sequential order (count desc, then (l, r) binary order), accept
    * a pair iff NEITHER symbol appears in a pair already accepted
    * this round. Merging (a,b) only perturbs counts of pairs sharing
    * `a` or `b`, so every accepted pair's count is still exact when
    * it applies — the approximation (vs exact sequential BPE) is only
    * that a pair CREATED by an earlier merge in the same round cannot
    * be selected until the next round, and that rejected-conflict
    * pairs wait a round. `batch = 1` is EXACTLY [[trainBpe]]
    * (spec-pinned). `n_pair` records each merge's count at its
    * round's start.
    *
    * Per round: one pair-count shuffle over the vocab table, one
    * bounded collect (≤ 4·batch candidate rows), `≤ batch` chained
    * narrow codegen merge kernels, one lazy localCheckpoint. */
  def trainBpeBatched(textCol: String, nMerges: Int, batch: Int = 32)(
      df: DataFrame): DataFrame = {
    require(nMerges >= 1, "trainBpeBatched needs at least one merge round")
    require(batch >= 1, s"trainBpeBatched: batch must be >= 1, got $batch")
    val spark = df.sparkSession
    var words = bpeWordTable(textCol)(df).localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val want = math.min(batch, nMerges - merges.size)
      val sy = col("syms")
      val cand = words.filter(size(sy) >= 2)
        .select(col("n"), explode(transform(sequence(lit(0), size(sy) - 2),
          i => struct(element_at(sy, i + 1).as("l"), element_at(sy, i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want * 4) // headroom: conflicts skip candidates
        .collect()
      if (cand.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val picked = cand.iterator
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .filter { case (l, r, _) =>
            if (used(l) || used(r)) false
            else { used += l; used += r; true }
          }
          .take(want).toList
        picked.foreach { case (l, r, c) => merges += ((merges.size + 1, l, r, c)) }
        words = picked.foldLeft(words) { case (w, (l, r, _)) =>
          w.withColumn("syms",
            graft.functions.BpeExpressions.bpeMergeStep(col("syms"), l, r))
        }.localCheckpoint(false)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "n_pair")
  }

  /** Encode with an already-learned merge list: adds `tokensCol` =
    * per-word code-point symbols with every merge applied in rank
    * order, concatenated across the document's words. Narrow (zero
    * exchanges): one codegen'd kernel call per word inside a
    * higher-order transform, then a flatten. */
  def bpeEncode(
      textCol: String, merges: Seq[(String, String)], tokensCol: String = "bpe_tokens")(
      df: DataFrame): DataFrame =
    df.withColumn(tokensCol,
      flatten(transform(
        filter(toks(textCol), w => length(w) > 0),
        w => graft.functions.BpeExpressions.bpeEncodeWord(w, merges))))
}
