package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

/** Deduplication operators: the reference's latest-per-key window dedup
  * (O-23, pipeline_etl.ipynb:425-429 — the canonical dedup of the
  * engine), plus the large-scale training-data dedup family (exact,
  * MinHash-LSH, SimHash, n-gram Jaccard) layered on top.
  *
  * Scale notes: latest-per-key is a single shuffle on the key with no
  * driver involvement; at 100 TB the partition count follows
  * spark.sql.shuffle.partitions / AQE, and skewed keys are handled by
  * AQE skew handling. The near-dup family avoids the O(n²) all-pairs
  * comparison by LSH banding: candidate pairs only form inside a
  * (band-signature) shuffle bucket.
  */
object Dedup {

  /** O-23: keep exactly one row per key — the arg-max by `order`.
    * Deterministic iff `order` is a total order within a key; callers
    * should append tiebreak columns (the reference's single-column
    * ordering keeps an arbitrary row on ties — we standardize on
    * deterministic tiebreaks, SURVEY §7.4). */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** O-24/O-25 convenience: first row per key under an explicit
    * deterministic ordering (replaces order-dependent
    * `dropDuplicates(keys)`, whose kept row Spark does not specify —
    * the reference relies on that unspecified behavior at
    * pipeline_etl.ipynb:327-328). */
  def firstPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    latestPerKey(df, keys, order)

  /** Exact-duplicate groups by content hash: (content_hash, n_dups,
    * keep_id). Hash-groupBy — one shuffle, map-side partial agg. */
  def exactDupGroups(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Exact dedup: keep the min-id row per identical content. */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    latestPerKey(
      df.withColumn("__h", md5(col(contentCol))),
      Seq("__h"),
      Seq(col(idCol).asc)).drop("__h")

  // ------------------------------------------------------------------ //
  // Exact substring dedup — repeated n-token spans (Lee et al.,        //
  // arXiv:2107.06499 "Deduplicating Training Data Makes Language       //
  // Models Better", at token-window granularity). Unlike the MinHash   //
  // family (whole-document near-dup), this finds VERBATIM passages     //
  // repeated across the corpus — boilerplate, licenses, templated      //
  // text — and cuts them while keeping one canonical occurrence.      //
  //                                                                    //
  // Relation to graft.text.Curation.dedupSpans (q75/q80): that is the  //
  // CHUNK-ALIGNED approximation — non-overlapping fixed-width spans,   //
  // so only duplicates landing on the same chunk grid dedupe, at       //
  // ~1/chunkTokens of the window volume. These SLIDING windows catch   //
  // a repeated passage at ANY alignment and coalesce it to its maximal //
  // extent — n× the exploded rows for strictly finer recall. Pick by   //
  // corpus: grid-aligned template content → the cheap chunk form;      //
  // free-floating boilerplate → this one.                              //
  // ------------------------------------------------------------------ //

  /** Positional word n-gram windows: (idCol, pos, gram) with pos the
    * 0-based start token index — the positional sibling of
    * [[wordShingles]] (which is a SET and thus useless for span
    * arithmetic). Docs shorter than n tokens yield no windows. The
    * lambda body (slice + array_join) contains no nested higher-order
    * function, so it stays clear of the Spark 4.1.2 nested-lambda
    * hazard documented at [[shingles]]. */
  def positionalWordNgrams(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"window width must be positive, got $n")
    // the window build is the CPU stage of the substring-dedup family:
    // one codegen kernel call per document (the interpreted
    // transform(sequence, slice∘array_join) form it replaced both
    // re-split the text per window and fenced codegen — measured 16.8 s
    // → 2.0 s at sf0.1), behind the split-starvation valve so a
    // single-row-group corpus file doesn't serialize it onto one core
    graft.operators.Rebalance.forCpuStage(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(graft.functions.WordNgramWindows.windows(col(textCol), n))
          .as(Seq("pos", "gram")))
  }

  /** Repeated n-token spans per document: every occurrence of a window
    * whose gram occurs ≥ `minOccurrences` times corpus-wide is flagged
    * EXCEPT the canonical keeper (the corpus-wide smallest (id, pos) —
    * one verbatim copy always survives); flagged windows then merge
    * into maximal per-doc spans. Returns (idCol, span_start, span_end)
    * in token indices, end exclusive, overlapping/adjacent windows
    * coalesced.
    *
    * Scale shape: windows shuffle ONCE on the 16-byte md5 gram key
    * (never the n-token string) for the count+keeper aggregate, join
    * back on the same key (plain shuffle join — the gram-stats side is
    * corpus-sized, nothing broadcasts), and the span merge is one
    * partitionBy(id) window over FLAGGED windows only — at a healthy
    * dup rate that is a small fraction of the corpus. A
    * billion-occurrence boilerplate gram is ONE stats row and joins
    * without amplification (output ≤ input occurrences). Nothing here
    * is quadratic and nothing collects. */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2, s"minOccurrences < 2 flags every window ($minOccurrences)")
    val occ = positionalWordNgrams(df, idCol, textCol, n)
      .select(col(idCol), col("pos"), md5(col("gram")).as("__h"))
    val stats = occ.groupBy("__h")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("pos"))).as("__keep"))
      .filter(col("__cnt") >= minOccurrences)
      .select(col("__h"), col("__keep"))
    val flagged = occ.join(stats, "__h")
      .filter(!(col(idCol) === col(s"__keep.$idCol") && col("pos") === col("__keep.pos")))
      .select(col(idCol), col("pos"))
    mergeWindows(flagged, idCol, n)
  }

  /** Coalesce flagged fixed-width windows [pos, pos+n) into maximal
    * spans per id: a window starts a new span iff it begins past the
    * running max end of its predecessors (adjacent windows merge —
    * their token ranges are contiguous). */
  private def mergeWindows(flagged: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevMaxEnd = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__ns",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("__g", sum(col("__ns")).over(w))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n).cast("long").as("span_end"))
      .drop("__g")
  }

  /** Cut the [[repeatedSpans]] out of each document: tokens covered by
    * a flagged span are dropped, survivors rejoin single-spaced.
    * Returns (idCol, textCol) — docs that lost nothing pass through
    * with whitespace normalized (the tokenization round-trip), so
    * downstream sees ONE canonical spacing either way.
    *
    * Plan shape: the span table explodes to covered token indices
    * (span-width rows — dup volume only), anti-joins the token stream
    * on (id, token index), and one partitionBy(id) regroup reassembles
    * surviving tokens in order. */
  def cutRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Int = 2): DataFrame =
    cutSpans(df, idCol, textCol,
      repeatedSpans(df, idCol, textCol, n, minOccurrences))

  /** Cut an EXPLICIT span table (idCol, span_start, span_end) out of
    * the docs — the transform half of [[cutRepeatedSpans]], shared
    * with the incremental loop ([[admitSpansBatch]]), where the spans
    * come from a screen against a STORED index rather than a
    * corpus-wide self-scan. */
  def cutSpans(
      df: DataFrame, idCol: String, textCol: String, spansIn: DataFrame): DataFrame = {
    // materialize the span table once: it feeds both the routing
    // semi/anti joins and the token cut, and it is small (flagged
    // spans only) where the frame it derives from is the corpus
    val spans = spansIn.localCheckpoint(false)
    val spanDocs = spans.select(col(idCol)).distinct()
    // UNTOUCHED docs — at a healthy dup rate the overwhelming
    // majority — never explode and never shuffle: the tokenize→rejoin
    // round-trip is exactly a whitespace normalize, done narrowly.
    // Only docs that actually lose a span pay the token regroup.
    val untouched = df.join(spanDocs, Seq(idCol), "left_anti")
      .select(col(idCol),
        coalesce(regexp_replace(trim(col(textCol)), "\\s+", " "), lit("")).as(textCol))
    val toCut = df.join(spanDocs, Seq(idCol), "left_semi")
    val cut = spans.select(col(idCol),
      explode(sequence(col("span_start"), col("span_end") - 1)).as("tpos"))
    val toks = graft.operators.Rebalance.forCpuStage(
        toCut.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("tpos", "__tok")))
    val kept = toks.join(cut, Seq(idCol, "tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("tpos"), col("__tok")))),
          t => t.getField("__tok")), " ").as(textCol))
    // fully-cut docs fall out of the regroup — resurface them EMPTY
    // (a dedup cut is not a row filter; composing with a min-length
    // quality gate is the caller's decision)
    val cutDone = toCut.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
    untouched.unionByName(cutDone)
  }

  /** Bootstrap the persistent substring-dedup index: the DISTINCT md5
    * gram keys of the founding corpus's n-token windows, as a
    * [[graft.store.Store]] managed table `(h)` — 16 bytes per distinct
    * gram, the existence set [[admitSpansBatch]] probes. Bootstrap on
    * an ALREADY-cut corpus ([[cutRepeatedSpans]] first) so the stored
    * grams are the grams of the text the corpus actually retains. */
  def writeSpanIndex(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      gramTable: String): Unit =
    graft.store.Store.overwrite(
      positionalWordNgrams(docs, idCol, textCol, n)
        .select(md5(col("gram")).as("h")).distinct(),
      gramTable)

  /** The standing substring-dedup ingest transaction — the sliding-
    * window sibling of [[admitBatch]]: screen a NEW batch's windows
    * against the STORED gram set, cut every span the corpus has
    * already retained PLUS the batch's own internal repeats, admit the
    * cleaned docs, and append their (cleaned-text) grams so tomorrow's
    * batch screens against today's admissions with zero recompute.
    * Returns the admitted batch as (idCol, textCol-cleaned) — compose
    * with a min-length quality gate downstream (fully-cut docs come
    * back EMPTY, as in [[cutRepeatedSpans]]).
    *
    * Keeper semantics, incrementally: a stored gram's keeper is by
    * definition already in the corpus, so EVERY matching batch window
    * flags; among batch-only grams the offline rule applies unchanged
    * (count ≥ minOccurrences, smallest (id, pos) survives). When
    * corpus ids precede batch ids and the corpus was bootstrapped
    * already-cut, this is EXACTLY offline [[cutRepeatedSpans]] over
    * corpus ∪ batch restricted to the batch (DedupSpec pins the
    * equivalence) — the incremental form never re-windows the corpus.
    *
    * Post-cut junction grams: cutting a span welds its flanks into new
    * n-grams that never existed in the raw text. The index stores the
    * grams of the ADMITTED (cleaned) text — what the corpus actually
    * holds — so future screens are exact against retained content by
    * construction.
    *
    * Crash window: the gram append is LAST. Crash before it → clean
    * re-run. Re-run AFTER it → the batch's ADMITTED grams are now
    * stored, so every window of previously-retained content flags and
    * is cut again; what comes back is residual text whose every
    * n-window is already stored (or too short to window), and the
    * gram append is a no-op (it anti-joins the stored set) — the
    * INDEX is exactly-once per gram by construction. Row-level
    * idempotency of the admitted OUTPUT is the sink's concern (write
    * keyed by id), same as [[admitBatch]]'s re-screen contract. */
  def admitSpansBatch(
      batch: DataFrame, idCol: String, textCol: String, n: Int,
      gramTable: String, minOccurrences: Int = 2,
      compactMinFiles: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    val stored = spark.table(gramTable)
    val occ = positionalWordNgrams(batch, idCol, textCol, n)
      .select(col(idCol), col("pos"), md5(col("gram")).as("__h"))
      .localCheckpoint(false) // probed twice (stored + batch-internal)
    // every window whose gram the corpus retains flags — its keeper is stored
    val corpusFlagged = occ.join(stored.select(col("h").as("__h")), Seq("__h"), "left_semi")
    // batch-internal repeats among grams the corpus does NOT hold:
    // the offline count+keeper rule over the batch alone
    val fresh = occ.join(stored.select(col("h").as("__h")), Seq("__h"), "left_anti")
    val freshStats = fresh.groupBy("__h")
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("pos"))).as("__keep"))
      .filter(col("__cnt") >= minOccurrences)
      .select(col("__h"), col("__keep"))
    val batchFlagged = fresh.join(freshStats, "__h")
      .filter(!(col(idCol) === col(s"__keep.$idCol") && col("pos") === col("__keep.pos")))
    val flagged = corpusFlagged.select(col(idCol), col("pos"))
      .unionByName(batchFlagged.select(col(idCol), col("pos")))
    val cleaned = cutSpans(batch, idCol, textCol, mergeWindows(flagged, idCol, n))
      .localCheckpoint(false) // feeds both the return and the gram append
    val newGrams = positionalWordNgrams(cleaned, idCol, textCol, n)
      .select(md5(col("gram")).as("h")).distinct()
      .join(stored, Seq("h"), "left_anti")
    graft.store.Store.append(newGrams, gramTable)
    maintainIndexTables(spark, Seq(gramTable), minFiles = compactMinFiles)
    cleaned
  }

  /** Char n-gram shingle set, in plain Scala (distinct, first-appearance
    * order; texts shorter than n yield the whole text). */
  def charShinglesScala(text: String, n: Int): Seq[String] =
    if (text.length >= n) (0 to text.length - n).map(i => text.substring(i, i + n)).distinct
    else Seq(text)

  /** Word n-gram shingles over whitespace tokens, in plain Scala. */
  def wordShinglesScala(text: String, n: Int): Seq[String] = {
    val toks = text.trim.split("\\s+").toSeq
    if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
    else Seq(toks.mkString(" "))
  }

  /** Public so [[graft.GraftExtensions.registerUdfs]] can expose them
    * to SQL texts (`char_shingles(text, n)` etc.). */
  val charShinglesUdf: UserDefinedFunction =
    udf((t: String, n: Int) => Option(t).map(charShinglesScala(_, n)))
  val wordShinglesUdf: UserDefinedFunction =
    udf((t: String, n: Int) => Option(t).map(wordShinglesScala(_, n)))

  /** Character n-gram shingle set of `text` (a set: distinct, order
    * irrelevant). An opaque in-JVM kernel rather than
    * `transform(sequence(...), i -> substr ...)`: on Spark 4.1.2,
    * feeding a lambda-bearing array expression into further outer
    * higher-order functions (as MinHash does, k times) NONDETERMINISTICALLY
    * mis-resolves the nested lambda variables and silently returns
    * wrong shingles — caught only by the DuckDB oracle. The opaque
    * output means downstream lambdas never nest; as a codegen
    * expression ([[graft.functions.ShingleArray]]) it also stays
    * inside whole-stage codegen. Semantics are mirrored by the
    * range+substr SQL in the oracles. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleArray.shingles(text, word = false, n)

  /** Word n-gram shingles over whitespace-tokenized text (same
    * opaque-kernel rationale as [[shingles]]). */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.ShingleArray.shingles(text, word = true, n)

  /** Shingling mode for the MinHash/Jaccard family. */
  sealed trait ShingleMode extends Serializable { def apply(text: String): Seq[String] }
  final case class CharShingles(n: Int) extends ShingleMode {
    def apply(text: String): Seq[String] = Dedup.charShinglesScala(text, n)
  }
  final case class WordShingles(n: Int) extends ShingleMode {
    def apply(text: String): Seq[String] = Dedup.wordShinglesScala(text, n)
  }

  /** Prime modulus 2³¹−1 for the permutation-minhash family. Small
    * enough that a·x+b stays within a signed 64-bit product (a,x < P ⇒
    * a·x < 2⁶²), so any BIGINT engine reproduces it exactly. */
  final val MinhashP = 2147483647L

  /** Deterministic permutation constants (a_i, b_i) for
    * h_i(x) = (a_i·x + b_i) mod P — splitmix64-style odd-multiplier
    * mixing of the index. Public so SQL oracles can inline the same
    * literal values (single source of truth). */
  def permConsts(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map { i =>
      val a = (((0x9E3779B97F4A7C15L * (i + 1)) >>> 33) % (MinhashP - 1)) + 1
      val b = ((0xC2B2AE3D27D4EB4FL * (i + 1)) >>> 33) % MinhashP
      (a, b)
    }

  /** `v mod P` for 0 ≤ v < 2⁶³ without a division: 2³¹ ≡ 1 (mod P),
    * so folding the bits above 31 onto the low 31 keeps the residue.
    * The first fold leaves < 2³³, the second < P + 4, and one
    * conditional subtract lands in [0, P). Every product the minhash
    * families form (a, x < P ⇒ a·x + b < 2⁶²) and every 60-bit shingle
    * hash is in range. */
  def modP(v: Long): Long = {
    val f1 = (v & MinhashP) + (v >>> 31)
    val f2 = (f1 & MinhashP) + (f1 >>> 31)
    if (f2 >= MinhashP) f2 - MinhashP else f2
  }

  /** k permutation-minhash values over a set of non-negative (60-bit
    * shingle) hashes: min over shingles of (a_i·(x mod P) + b_i) mod P.
    * Cost is ONE md5 per shingle total (the [[shingleHash60]] pass) +
    * k multiply-adds per shingle — ~k× fewer digests than a per-seed
    * md5 signature (k digests per shingle), which is the difference
    * between a CPU-bound and an I/O-bound scan at 100 TB. Each hash is
    * reduced once; then per permutation (outer loop) the inner loop
    * runs over the reduced hashes with a_i, b_i and the running min in
    * locals, reducing by the [[modP]] fold instead of a 64-bit `%`.
    * The fold is written out and the loop takes two hashes per trip:
    * the client compiler (C1, which the e2ebench JVM runs) neither
    * inlines `modP` here nor unrolls, and this form measured faster
    * there than a `modP` call per hash (BENCH_NOTES.md). */
  def minhashPermScala(h: Array[Long], k: Int): Array[Long] = {
    val (as, bs) = permArrays(k)
    val n = h.length
    val xs = new Array[Long](n)
    var i = 0
    while (i < n) { xs(i) = modP(h(i)); i += 1 }
    val mins = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = as(j)
      val b = bs(j)
      var m = Long.MaxValue
      i = 0
      while (i < n) {
        val v = a * xs(i) + b
        val f = (v & MinhashP) + (v >>> 31)
        val g = (f & MinhashP) + (f >>> 31)
        val r = if (g >= MinhashP) g - MinhashP else g
        if (r < m) m = r
        if (i + 1 < n) {
          val v1 = a * xs(i + 1) + b
          val f1 = (v1 & MinhashP) + (v1 >>> 31)
          val g1 = (f1 & MinhashP) + (f1 >>> 31)
          val r1 = if (g1 >= MinhashP) g1 - MinhashP else g1
          if (r1 < m) m = r1
        }
        i += 2
      }
      mins(j) = m
      j += 1
    }
    mins
  }

  // (a,b) constants as flat primitive arrays, cached per k: this runs
  // once per ROW on the LSH banding paths (MinhashBandSigs, and
  // OphBandSigs with k = 1), where rebuilding + boxing the permConsts
  // IndexedSeq per row was pure overhead on the hottest 100 TB scan
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private[graft] def permArrays(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, (kk: Int) => {
      val cs = permConsts(kk)
      (cs.map(_._1).toArray, cs.map(_._2).toArray)
    })

  // Two Spark 4.1.2 wrong-results hazards, each caught only by the
  // DuckDB oracle, keep every signature kernel an opaque expression
  // rather than a composition of higher-order functions: (a) one
  // lambda-bearing shingle `transform` reused by several outer
  // higher-order minhash lambdas nondeterministically mis-binds the
  // nested lambda variables; (b) a UDF-produced array consumed by
  // several `transform`s in a full-table scan showed cross-row result
  // contamination (29 distinct minhash values across 500 distinct
  // docs). Per-band signature strings therefore come from the codegen
  // expression graft.functions.MinhashBandSigs (one eval per doc, no
  // lambda nesting, no UDF fence).

  /** (id, h): sorted distinct 60-bit shingle hashes per doc — the ONE
    * md5 pass, shared by both LSH banding and exact-Jaccard
    * verification. The md5-per-shingle scan is the CPU-dominant stage
    * of the whole near-dup family, so it is (a) a native codegen
    * expression ([[graft.functions.ShingleHashSet]] — no UDF fence, no
    * per-row serde on the hottest 100 TB path), and (b) runs behind
    * [[graft.operators.Rebalance.forCpuStage]]: inputs whose scan
    * splits ≪ cores (single-row-group files) get one round-robin
    * exchange before the digest work; healthy layouts pass through
    * untouched. */
  def hashedDocs(df: DataFrame, idCol: String, textCol: String, mode: ShingleMode): DataFrame =
    graft.operators.Rebalance.forCpuStage(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashSet.shingleHashSet(col(textCol), mode).as("h"))

  /** MinHash-LSH candidate pairs: band the (bands*rowsPerBand)-value
    * permutation signature, bucket-join on (band index, band
    * signature), emit distinct (id_a < id_b) candidate pairs. The join
    * is an equi-join on the band key — a plain shuffle join, no
    * cross-product; at scale the shuffle partitions by band signature,
    * and skew appears only where many docs share a band (i.e. genuine
    * near-dup clusters).
    *
    * Parameter choice IS the scale knob: candidates per bucket grow
    * quadratically, so rowsPerBand must be high enough that the LSH
    * similarity threshold (1/bands)^(1/rowsPerBand) sits just below
    * the verification threshold — (8,4) ⇒ ~0.59. Loose banding like
    * (4,2) (threshold 0.5 but a fat S-curve tail) admitted ~10% of ALL
    * pairs on the test corpus — 17× more candidate pairs than (8,4) —
    * which is the difference between near-linear and quadratic cost. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int, rowsPerBand: Int): DataFrame =
    candidatePairsFromBanded(bandedSigs(hashedDocs(df, idCol, textCol, mode), bands, rowsPerBand))

  /** Signature FAMILY for LSH banding — the choice of how a 60-bit
    * shingle-hash set becomes per-band signature strings. Both
    * families emit the identical (band, bandsig) format, so every
    * bucket join downstream is family-agnostic; what is NOT
    * family-agnostic is consistency: an index written with one family
    * probed with the other matches nothing — a SILENT recall hole.
    * [[writeCorpusIndex]] therefore records the family in the banded
    * root's manifest metadata and [[admitBatch]] fails loudly on a
    * mismatch. */
  sealed abstract class SigFamily(val name: String) {
    private[graft] def sigCol(h: Column, bands: Int, rowsPerBand: Int): Column
  }
  /** k-permutation minhash ([[graft.functions.MinhashBandSigs]]):
    * k multiply-adds per shingle. The default and the q26 family. */
  case object PermMinhash extends SigFamily("perm") {
    private[graft] def sigCol(h: Column, bands: Int, rowsPerBand: Int): Column =
      graft.functions.MinhashBandSigs.bandSigs(h, bands, rowsPerBand)
  }
  /** Densified one-permutation hashing ([[graft.functions.OphBandSigs]]):
    * ONE hash per shingle. The cheap-signature family (q119). */
  case object OphMinhash extends SigFamily("oph") {
    private[graft] def sigCol(h: Column, bands: Int, rowsPerBand: Int): Column =
      graft.functions.OphBandSigs.bandSigs(h, bands, rowsPerBand)
  }

  /** (id, band, bandsig) — one row per doc per band. */
  def bandedSigs(hashed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    hashed.select(col("id"),
      posexplode(graft.functions.MinhashBandSigs.bandSigs(col("h"), bands, rowsPerBand))
        .as(Seq("band", "bandsig")))

  /** [[minhashCandidatePairs]] with the signature pass swapped for
    * densified one-permutation hashing ([[graft.functions.OphBandSigs]],
    * Shrivastava & Li ICML 2014): O(|shingles|) per doc instead of
    * O(k·|shingles|), same banding threshold calculus and the same
    * bucket join downstream. The candidate SET differs from the
    * k-permutation family's (different hash family, same expected
    * recall at a given (bands, rowsPerBand)) — both feed the same
    * exact-Jaccard verification, which is what decides. */
  def ophCandidatePairs(
      df: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int, rowsPerBand: Int): DataFrame =
    candidatePairsFromBanded(ophBandedSigs(hashedDocs(df, idCol, textCol, mode), bands, rowsPerBand))

  /** (id, band, bandsig) via densified OPH — drop-in for [[bandedSigs]]. */
  def ophBandedSigs(hashed: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    hashed.select(col("id"),
      posexplode(graft.functions.OphBandSigs.bandSigs(col("h"), bands, rowsPerBand))
        .as(Seq("band", "bandsig")))

  /** Distinct (id_a < id_b) pairs sharing any (band, bandsig) bucket.
    * The self-join is hinted, never left to the planner: a broadcast
    * self-join would compute the banding expression on BOTH sides
    * (stream + build), while a shuffle join gives the two sides
    * identical hash-partition exchanges on (band, bandsig), which
    * ReuseExchange collapses into one — the signatures are computed
    * once. Which shuffle join is [[selfJoinHint]]'s size check on
    * `banded`: a shuffled hash join while the banded rows fit a
    * per-partition hash map (a 10k-doc round: the join's CPU drops
    * ~4× against sorting ~80k band rows, BENCH_NOTES.md), else
    * sort-merge. A shuffled hash join does not spill its build side,
    * but per task that side is the partition's share of the banded
    * rows, the same rows a sort-merge join buffers; a skewed bucket's
    * risk is its quadratic OUTPUT, which `maxBucketSize` bounds under
    * either join.
    *
    * `maxBucketSize` is the quadratic-blowup safety valve for huge
    * corpora: pairs per bucket grow as n², so ONE degenerate bucket
    * (mass-duplicated boilerplate, an empty-text signature) of 10⁶
    * docs would emit ~5·10¹¹ pairs and sink the job. Buckets above the
    * cap are excluded from pair generation — their members are
    * near-certain exact-or-near duplicates that the cheaper exact
    * content-hash dedup ([[exactDedup]]) or a per-bucket sample should
    * handle instead. A capped run reports what it dropped BY DEFAULT:
    * the bucket-count aggregate carries a
    * [[graft.operators.CapReport]] observation (no extra job), and the
    * session listener logs a warning whenever an executed query
    * actually excluded buckets. Disabled by default so small-corpus
    * results stay exhaustive. */
  def candidatePairsFromBanded(
      banded: DataFrame, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val base =
      if (maxBucketSize == Int.MaxValue) banded
      else {
        // one extra agg on the bucket key — same partitioning as the
        // self-join, so it rides the exchange that exists anyway
        val counts = banded.groupBy("band", "bandsig")
          .agg(count(lit(1)).as("__n"))
        val ok = graft.operators.CapReport
          .observeExclusions(counts, "lsh_buckets", col("__n"), maxBucketSize)
          .filter(col("__n") <= maxBucketSize)
          .select("band", "bandsig")
        banded.join(ok, Seq("band", "bandsig"))
      }
    // sized on `banded`: the cap only drops rows, while the size-only
    // estimate of its join multiplies the two inputs' sizes
    val a = base.as("a").hint(selfJoinHint(banded))
    val b = base.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Join hint for a self-join of `side` on its bucket key: Spark's own
    * test for a per-partition hash map (`canBuildLocalHashMapBySize` in
    * `JoinSelectionHelper`, private there) — plan-stats size below
    * `spark.sql.autoBroadcastJoinThreshold` × `spark.sql.shuffle.partitions`
    * picks "shuffle_hash"; a threshold ≤ 0, an unknown size (the
    * `defaultSizeInBytes` sentinel) or a larger side picks "merge". */
  private def selfJoinHint(side: DataFrame): String = {
    val conf = side.sparkSession.sessionState.conf
    val size = side.queryExecution.optimizedPlan.stats.sizeInBytes
    val budget = BigInt(conf.autoBroadcastJoinThreshold) * conf.numShufflePartitions
    if (size < BigInt(conf.defaultSizeInBytes) && size < budget) "shuffle_hash" else "merge"
  }

  /** Bipartite LSH candidates: a NEW batch's banded signatures joined
    * against a STORED corpus signature index — the incremental form of
    * [[candidatePairsFromBanded]], and the shape of the standing
    * ingest job at 100 TB: the corpus is NEVER re-shingled. Its
    * (id, band, bandsig) index is written once (`bands` rows × ~20
    * bytes per doc — ~0.1% of the text it summarizes) and only the
    * new batch, typically ≪ the corpus, pays the md5 shingle scan.
    * The join is a plain equi-join on the bucket key; when the daily
    * batch is small, AQE broadcasts its banded side and the corpus
    * index is probed with no corpus-side shuffle at all.
    *
    * Ids must be disjoint across the two inputs (they identify
    * different tables), so no `id_a < id_b` ordering is applied.
    * `maxBucketSize` caps CORPUS bucket size exactly as in
    * [[candidatePairsFromBanded]] — one mass-boilerplate bucket of 10⁶
    * corpus docs would otherwise multiply every matching batch doc by
    * 10⁶ — and a capped run reports its exclusions by default via
    * [[graft.operators.CapReport]]. */
  def incrementalCandidatePairs(
      batchBanded: DataFrame, corpusBanded: DataFrame,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val corpus =
      if (maxBucketSize == Int.MaxValue) corpusBanded
      else {
        val counts = corpusBanded.groupBy("band", "bandsig")
          .agg(count(lit(1)).as("__n"))
        val ok = graft.operators.CapReport
          .observeExclusions(counts, "lsh_corpus_buckets", col("__n"), maxBucketSize)
          .filter(col("__n") <= maxBucketSize)
          .select("band", "bandsig")
        corpusBanded.join(ok, Seq("band", "bandsig"))
      }
    batchBanded.as("a")
      .join(corpus.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct()
      // the dedup exchange carries two longs per row, so AQE's
      // byte-based coalescing lands every consumer's verify stage (an
      // array-intersect jaccard per candidate) on 1-2 tasks whenever
      // both fingerprint sides broadcast — a small-corpus-only trap.
      // An explicit hash repartition on the verify join's key is
      // exempt from coalescing; at corpus scale the verify is a
      // shuffle join on batch_id, so this IS that join's exchange,
      // not an extra pass.
      .repartition(
        batchBanded.sparkSession.sparkContext.defaultParallelism, col("batch_id"))
  }

  /** Incremental near-dup screen: which docs in a NEW batch near-
    * duplicate something already in the corpus, given the corpus's
    * stored signature index (`corpusBanded`, see [[bandedSigs]]) and
    * stored fingerprints (`corpusHashed`, see [[hashedDocs]]) — in
    * production both read back from the [[writeCorpusIndex]] roots, not
    * recomputed. The batch pays ONE shingle-hash pass, shared between
    * banding and verification via localCheckpoint exactly as in
    * [[verifiedNearDupPairs]] (same fault-tolerance caveat); the
    * corpus pays only the bucket probe and the fingerprint lookup of
    * its candidate ids.
    * Returns (batch_id, corpus_id, jaccard); screen the batch by
    * anti-joining its ids against rows ≥ the duplicate threshold. */
  def incrementalNearDupPairs(
      batch: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int, rowsPerBand: Int,
      corpusBanded: DataFrame, corpusHashed: DataFrame,
      maxBucketSize: Int = Int.MaxValue,
      family: SigFamily = PermMinhash): DataFrame = {
    // frame-based form: no manifest to carry the family marker, so the
    // consistency contract is the CALLER's — `family` must be the one
    // that wrote `corpusBanded` (admitBatch enforces it for index roots)
    val batchHashed = hashedDocs(batch, idCol, textCol, mode).localCheckpoint(false)
    val pairs = incrementalCandidatePairs(
      batchHashed.select(col("id"),
        posexplode(family.sigCol(col("h"), bands, rowsPerBand)).as(Seq("band", "bandsig"))),
      corpusBanded, maxBucketSize)
    pairs
      .join(batchHashed.select(col("id").as("batch_id"), col("h").as("__ha")), "batch_id")
      .join(corpusHashed.select(col("id").as("corpus_id"), col("h").as("__hb")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        jaccardOfHashSets(col("__ha"), col("__hb")).as("jaccard"))
  }

  /** MinHash-LSH candidate pairs over char n-gram shingles. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    minhashCandidatePairs(df, idCol, textCol, CharShingles(shingleN), bands, rowsPerBand)

  /** Bootstrap the persistent corpus dedup index: one shingle-hash pass
    * over the founding corpus, fingerprints to `hashedRoot` (id, h) and
    * banded signatures to `bandedRoot` (id, band, bandsig), each a
    * [[graft.store.Manifest]] root published by one atomic commit.
    * Written hashed-first for the same reason [[admitBatch]] appends
    * hashed-first. The signature family is recorded ON the index, in
    * the banded root's manifest metadata: a future probe with the other
    * family would bucket-match nothing (silent recall hole), so the
    * mismatch must be detectable at probe time, not by audit — and
    * metadata survives compaction without re-assertion. An empty
    * `docs` (e.g. `docs.limit(0)`) bootstraps an empty index. */
  def writeCorpusIndex(
      docs: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int, rowsPerBand: Int,
      hashedRoot: String, bandedRoot: String,
      family: SigFamily = PermMinhash): Unit = {
    val hashed = hashedDocs(docs, idCol, textCol, mode).localCheckpoint(false)
    graft.store.Manifest.overwrite(hashed, hashedRoot)
    graft.store.Manifest.overwrite(
      hashed.select(col("id"),
        posexplode(family.sigCol(col("h"), bands, rowsPerBand)).as(Seq("band", "bandsig"))),
      bandedRoot, meta = Map("graft.sig.family" -> family.name))
    hashed.unpersist()
    ()
  }

  /** The standing ingest transaction: screen a new batch against the
    * stored corpus index ([[writeCorpusIndex]]; the probe is
    * [[incrementalNearDupPairs]]'s), ADMIT the docs that near-duplicate
    * nothing (< `minJaccard` against every candidate), and append ONLY
    * the admitted docs' fingerprints and banded signatures to the index
    * roots — so tomorrow's batch is screened against today's admissions
    * without any recompute. Returns the admitted batch rows (original
    * columns).
    *
    * Contracts and caveats, in scale order:
    *  - Batch ids must be disjoint from corpus ids (they are the
    *    index's primary key).
    *  - Intra-batch near-dups are NOT screened here — both get
    *    admitted. Pre-dedup the batch ([[exactDedup]] +
    *    [[verifiedNearDupPairs]]) when that matters; at daily-ingest
    *    scale the batch-local pass is cheap relative to the probe.
    *  - Every append and compaction publishes by one atomic manifest
    *    commit, so a probe racing the maintenance pass reads a complete
    *    committed index snapshot. The two appends are two commits, not
    *    one: hashed is committed FIRST deliberately — a crash between
    *    them leaves fingerprints without banded rows, which is harmless
    *    (docs absent from the banded index are never probed, and
    *    re-running the batch re-screens it). The reverse order could
    *    leave banded rows whose fingerprint lookup inner-join silently
    *    drops candidates — a silent recall hole.
    *  - Replay is idempotent through the screen itself: a replayed
    *    batch near-duplicates its own prior admissions at jaccard 1.0,
    *    so nothing re-appends.
    *  - The signature family must match the one recorded on the banded
    *    root (an index without a marker was written by [[PermMinhash]]);
    *    a mismatch fails loudly.
    *  - The batch pays ONE shingle-hash pass (localCheckpoint shared
    *    by screen + admission append), matching
    *    [[verifiedNearDupPairs]]'s fault-tolerance tradeoff.
    * Maintenance: each admission adds files to both roots; when a
    * root's current file list exceeds `compactMinFiles` it is compacted
    * and gc'd in-loop — both reader-safe, and screen verdicts are
    * unaffected (compaction rewrites the same rows into fewer files). */
  def admitBatch(
      batch: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int, rowsPerBand: Int,
      hashedRoot: String, bandedRoot: String,
      minJaccard: Double,
      maxBucketSize: Int = Int.MaxValue,
      compactMinFiles: Int = 64,
      family: SigFamily = PermMinhash): DataFrame = {
    val spark = batch.sparkSession
    import graft.store.Manifest
    val bandedSnap = Manifest.current(spark, bandedRoot).getOrElse(
      throw new IllegalArgumentException(
        s"$bandedRoot has no committed corpus index — writeCorpusIndex first"))
    bandedSnap.meta.get("graft.sig.family") match {
      case Some(f) => require(f == family.name,
        s"corpus index $bandedRoot was written with signature family '$f' but this " +
          s"probe uses '${family.name}' — a mismatched family buckets nothing and is " +
          "a silent recall hole")
      case None => require(family == PermMinhash,
        s"corpus index $bandedRoot carries no family marker (pre-family index = perm) " +
          s"but this probe uses '${family.name}'")
    }
    val batchHashed = hashedDocs(batch, idCol, textCol, mode).localCheckpoint(false)
    def banded(h: DataFrame): DataFrame = h.select(col("id"),
      posexplode(family.sigCol(col("h"), bands, rowsPerBand)).as(Seq("band", "bandsig")))
    val pairs = incrementalCandidatePairs(
      banded(batchHashed),
      Manifest.readSnapshot(spark, bandedRoot, bandedSnap), maxBucketSize)
    val dupIds = pairs
      .join(batchHashed.select(col("id").as("batch_id"), col("h").as("__ha")), "batch_id")
      .join(Manifest.read(spark, hashedRoot)
          .select(col("id").as("corpus_id"), col("h").as("__hb")),
        "corpus_id")
      .filter(jaccardOfHashSets(col("__ha"), col("__hb")) >= minJaccard)
      .select(col("batch_id").as("id")).distinct()
    val admittedHashed = batchHashed.join(dupIds, Seq("id"), "left_anti")
      .localCheckpoint(false) // appended twice below; also decouples the
                              // writes from the screen's lineage
    Manifest.append(admittedHashed, hashedRoot)
    Manifest.append(banded(admittedHashed), bandedRoot,
      meta = Map("graft.sig.family" -> family.name))
    Seq(hashedRoot, bandedRoot).foreach { root =>
      if (Manifest.current(spark, root).exists(_.files.size > compactMinFiles)) {
        Manifest.compact(spark, root)
        Manifest.gc(spark, root)
        ()
      }
    }
    val admitted = batch.join(
      admittedHashed.select(col("id").as(idCol)), Seq(idCol), "left_semi")
    batchHashed.unpersist()
    admitted
  }

  /** The maintenance half of the substring-dedup loop
    * ([[admitSpansBatch]]): every admission appends NEW FILES to the
    * gram table, which after N daily batches is precisely the
    * small-files sprawl [[graft.store.Store.fileReport]] was built to
    * detect — a 10⁶-tiny-file index spends the probe's time in parquet
    * footers and task scheduling, not data. Runs the (driver-side,
    * metadata-only) report on each table and compacts any whose file
    * count exceeds both its byte-justified target AND `minFiles` — the
    * extra floor keeps the loop from rewriting a young index on every
    * admission just because two batches made two files. */
  def maintainIndexTables(
      spark: org.apache.spark.sql.SparkSession, tables: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 64): Unit =
    tables.foreach { t =>
      // driver-local rows, not the DataFrame wrapper: the report is
      // filesystem metadata the driver already listed, and wrapping it
      // just to count scheduled one Spark job per table per admitted
      // batch (2 jobs on every standing-loop admission)
      val sprawled = graft.store.Store.fileReportRows(spark, t, targetBytes)
        .exists { case (_, nFiles, _, needs) => needs && nFiles > minFiles }
      if (sprawled) graft.store.Store.compact(spark, t, targetBytes)
    }

  /** 60-bit shingle hash: the first 15 hex chars of md5(shingle) as a
    * BIGINT — i.e. the top 60 bits of the digest. Engine-portable
    * (DuckDB: `('0x' || substr(md5(s),1,15))::BIGINT`), and since BOTH
    * engines hash identically before the set ops, cross-engine parity
    * is exact even under (astronomically unlikely) collisions. */
  def shingleHash60(s: String): Long = {
    val w = new Array[Int](4)
    graft.functions.Md5.digestWords(s, w)
    graft.functions.Md5.top64(w) >>> 4
  }

  /** Jaccard of two sorted long arrays — the codegen linear-merge
    * expression [[graft.functions.JaccardHashSets]] (reads unsafe array
    * data in place; no per-pair boxing on the 10⁶-scale pair joins). */
  def jaccardOfHashSets(a: Column, b: Column): Column =
    graft.functions.JaccardHashSets.jaccard(a, b)

  /** Exact Jaccard for a pair DataFrame (id_a, id_b) over an
    * already-hashed docs table (id, h) — see [[hashedDocs]].
    * Merge-hinted: the two joins key on the same child exchange
    * (hashpartitioning of the id), so forcing SMJ lets ReuseExchange
    * build the hashed side once, not twice. */
  def jaccardOnHashed(pairs: DataFrame, hashed: DataFrame): DataFrame =
    pairs
      .join(hashed.select(col("id").as("id_a"), col("h").as("sh_a")).hint("merge"), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("h").as("sh_b")).hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardOfHashSets(col("sh_a"), col("sh_b")).as("jaccard"))

  /** Exact Jaccard over (hashed) shingle sets for a pair DataFrame with
    * columns (id_a, id_b) — the verification stage after LSH candidates.
    * Scale design: shingle sets are computed ONCE PER DOC (an LSH
    * candidate set can be ≫ the doc count) and carried to the pairs as
    * sorted 60-bit hash arrays — ~5-10× smaller on the shuffle wire
    * than the string shingles, with a linear-merge intersection. */
  def jaccardOnPairs(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      mode: ShingleMode): DataFrame =
    jaccardOnHashed(pairs, hashedDocs(docs, idCol, textCol, mode))

  /** The full two-stage near-dup operator — LSH candidates + exact
    * Jaccard — sharing ONE shingle-hash pass. [[minhashCandidatePairs]]
    * followed by [[jaccardOnPairs]] runs the md5-per-shingle scan three
    * times (the banding exchange and the two verification-join
    * exchanges partition differently, so ReuseExchange cannot merge
    * them); here the hashed docs are materialized once via
    * `localCheckpoint` (lazy, MEMORY_AND_DISK RDD blocks) and every
    * stage reads the stored fingerprints. This is also the 100 TB
    * design: the fingerprint table is the thing you keep — ~8 bytes
    * per distinct shingle — while raw text stays on disk.
    *
    * Why localCheckpoint and not `persist`: measured at sf0.1
    * (min-of-5 in one JVM), SQL-cache persist LOSES to plain
    * recompute (q27 2.95s vs 2.30s — the columnar encode of the
    * Array[Long] column costs more than the extra md5 scans at test
    * scale), while localCheckpoint beats both (2.13s): it stores raw
    * RDD blocks with no columnar encode AND truncates lineage, which
    * iterating consumers (ConnectedComponents in q64: 4.2→2.7s)
    * re-plan from cheaply. Caveat: localCheckpoint is not
    * fault-tolerant — a lost executor fails the job instead of
    * recomputing — so a 1000-executor run on preemptible nodes should
    * write the fingerprint table out explicitly (the durable form of
    * the same design). */
  def verifiedNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      bands: Int = 8, rowsPerBand: Int = 4,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val hashed = hashedDocs(df, idCol, textCol, mode).localCheckpoint(false)
    val pairs =
      candidatePairsFromBanded(bandedSigs(hashed, bands, rowsPerBand), maxBucketSize)
    jaccardOnHashed(pairs, hashed)
  }

  /** Exact Jaccard on char n-gram shingle sets. */
  def jaccardOnPairs(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    jaccardOnPairs(pairs, docs, idCol, textCol, CharShingles(shingleN))

  /** CONTAINMENT near-dup: pairs whose overlap coefficient
    * |A∩B| / min(|A|,|B|) ≥ `minOverlap` — the subsumption class
    * (short document quoted wholesale inside a long one) that the
    * Jaccard-tuned LSH banding deliberately does not target: such a
    * pair's symmetric Jaccard is ~|A|/|B|, arbitrarily small, so its
    * minhash signatures agree on ~no bands and it never buckets.
    *
    * Candidate generation is RARE-SHINGLE prefix filtering instead:
    * explode the fingerprint sets, compute each shingle hash's
    * document frequency, keep only hashes with df ≤ `maxDf`, and
    * equi-join docs sharing a rare hash. Scale shape: per-hash pair
    * fan-out is ≤ df² ≤ maxDf², so one corpus-wide boilerplate
    * shingle contributes NOTHING (df > maxDf ⇒ excluded) instead of
    * n² pairs — the frequent-hash exclusion is the quadratic valve,
    * and like every valve here it reports what it drops
    * ([[graft.operators.CapReport]]). Recall: a contained doc is
    * found iff at least one of ITS shingles is corpus-rare — misses
    * only all-boilerplate docs, which exact/near dedup already owns.
    * Verification is the exact [[graft.functions.OverlapHashSets]]
    * linear merge on the full fingerprint sets (one localCheckpoint'd
    * md5 pass feeds df, candidates, and verification). Emits
    * (id_a < id_b, overlap, jaccard) — jaccard rides along so callers
    * can split "same doc" (both high) from "subsumption" (overlap
    * high, jaccard low). */
  def overlapPairs(
      df: DataFrame, idCol: String, textCol: String, mode: ShingleMode,
      minOverlap: Double, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be at least 2 ($maxDf)")
    val hashed = hashedDocs(df, idCol, textCol, mode).localCheckpoint(false)
    val exploded = hashed.select(col("id"), explode(col("h")).as("hv"))
    val dfCounts = exploded.groupBy("hv").agg(count(lit(1)).as("__df"))
    val rare = graft.operators.CapReport
      .observeExclusions(dfCounts, "overlap_rare_shingles", col("__df"), maxDf)
      .filter(col("__df") <= maxDf)
      .select("hv")
    val rareDocHash = exploded.join(rare, "hv")
    val cand = rareDocHash.as("a").hint("merge")
      .join(rareDocHash.as("b"),
        col("a.hv") === col("b.hv") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(hashed.select(col("id").as("id_a"), col("h").as("__ha")), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("h").as("__hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.OverlapHashSets.overlap(col("__ha"), col("__hb")).as("overlap"),
        jaccardOfHashSets(col("__ha"), col("__hb")).as("jaccard"))
      .filter(col("overlap") >= minOverlap)
  }

  /** 64-bit SimHash over word tokens, via xxhash64 token hashes: sum the
    * per-bit contributions (+1/-1) and keep the sign bit-vector. Pure
    * built-ins: per-bit popcount-style aggregation using
    * shiftrightunsigned. Near-dups then compare by hamming distance. */
  def simhash64(text: Column): Column = {
    val toks = array_distinct(split(trim(lower(text)), "\\s+"))
    val hashes = transform(toks, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      // contribution of bit b: (#tokens with bit set)*2 - #tokens  > 0
      val setCnt = aggregate(hashes, lit(0L),
        (acc, h) => acc + shiftrightunsigned(h, b).bitwiseAND(lit(1L)))
      when(setCnt * 2 > size(toks), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 32-bit SimHash with md5-derived token hashes — the cross-engine
    * reproducible variant (an ANSI-SQL oracle can rebuild it from
    * `md5()` + bit ops, unlike xxhash64). A single-pass codegen
    * expression ([[graft.functions.SimHash32]]): a built-in-only
    * formulation needs 32 `aggregate` passes over the token array (one
    * per bit), and the former UDF form added a codegen fence + per-row
    * serde. Token hash = first 8 hex chars of md5(token) as unsigned. */
  def simhash32Md5(text: Column): Column = graft.functions.SimHash32.simhash32(text)

  /** 64-bit md5-SimHash (single-pass codegen expression, same
    * tokenization/vote as [[simhash32Md5]]; token hash = first 16 md5
    * hex chars). The corpus-scale simhash: see [[simhashNearDupPairs64]]. */
  def simhash64Md5(text: Column): Column = graft.functions.SimHash64.simhash64(text)

  /** SimHash near-dup pairs at `hamming ≤ radius`, 64-bit form — the
    * 100 TB replacement for the 32-bit byte-band join (q29).
    *
    * Banding: `radius + 1` equal bit-slices of the 64-bit simhash. Any
    * pair within the radius shares ≥ 1 unchanged band (pigeonhole), so
    * recall is EXACT — same argument as the 32-bit form, but each band
    * is 64/(radius+1) bits wide instead of 8. That width is what
    * scales: candidate volume per band is Σ_buckets C(occupancy, 2),
    * and with 256 bucket values (8-bit bands) occupancy grows with n/256
    * — the measured super-linear outlier of BENCH_SCALE.md. At 16-bit
    * bands (radius 3) the same corpus spreads over 65,536 values per
    * band, deferring that saturation by 256× for identical recall.
    * Requires `64 % (radius+1) == 0` so the bands partition the hash
    * (radius ∈ {0, 1, 3, 7, 15, 31}).
    *
    * Returns (id_a, id_b, hamming), id_a < id_b, distinct. */
  def simhashNearDupPairs64(
      df: DataFrame, idCol: String, textCol: String, radius: Int = 3): DataFrame = {
    val bands = radius + 1
    require(64 % bands == 0, s"radius+1 must divide 64, got $bands")
    val bits = 64 / bands
    val mask = (1L << bits) - 1
    // one simhash pass, materialized so the self-join reads stored
    // blocks instead of recomputing the md5 scan per side
    val withH = df.select(col(idCol).as("id"), simhash64Md5(col(textCol)).as("h"))
      .localCheckpoint(false)
    val banded = withH.select(col("id"), col("h"),
      explode(array((0 until bands).map { i =>
        struct(lit(i).as("band"),
          shiftrightunsigned(col("h"), bits * i).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("bk"))
      .select(col("id"), col("h"), col("bk.band"), col("bk.bv"))
    // merge-hinted self-join: both sides are the same exchange, computed
    // once (ReuseExchange) — see candidatePairsFromBanded
    val a = banded.as("a").hint("merge"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
        && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hamming"))
      // hamming is functional on the pair: filter before distinct, so the
      // dedup shuffle carries only within-radius survivors
      .filter(col("hamming") <= radius)
      .distinct()
  }
}
