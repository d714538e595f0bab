package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.clean.TextClean
import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.AsOfJoin
import graft.quality.QualitySuite
import graft.similarity.Similarity
import graft.star.Sk

/** EM linkage, stored-index search, SCD2, manifest store and the streaming capstone (q143-q153).
  *
  * One link of the [[Battery]] mixin chain — the battery is split by
  * family for reviewability; the chain preserves the original single-
  * object member order (and with it val-initialization order) exactly.
  */
trait BatteryStoreOps extends BatteryModels {

  /** UNSUPERVISED Fellegi–Sunter weight estimation
    * ([[graft.operators.Linkage.fsEmParams]]/`fsEmWeights` — FS §3 /
    * Winkler 1988, the label-free path real linkage runs): EM over the
    * 2^F agreement-pattern counts of the q139 blocked candidate pairs,
    * every E/M step exact fixed-point integer arithmetic on the ppm
    * lattice, 10 iterations. The labels exist in the fixture but are
    * NOT given to the estimator; the oracle unrolls all ten iterations
    * (pattern counts → HUGEINT posterior → floored M-step → clamp), so
    * any drift in init, quantization order, or the clamp rule
    * hash-mismatches. */
  val q143 = Q("q143_fs_em_weights",
    (s, dir) => graft.operators.Linkage.fsEmWeights(
        fsPairs(s, dir), fsFields, iters = 10)
      .orderBy("field"),
    Some(s"""${emOracleSql(10)}
      SELECT field, m_ppm, u_ppm, w_agree_bits, w_disagree_bits
      FROM emw ORDER BY field"""))

  /** Deterministic BM25 ranking ([[graft.text.Search.rankByBm25Bits]],
    * Robertson–Spärck Jones with Lucene's non-negative idf): top-20
    * documents for the q132 query under the exact-integer
    * quantization (avg-length milli-tokens, length factor, saturation
    * — three stated floors, k1=1.2/b=0.75 as milli-integers). The
    * oracle replays every floor with `//` integer division, so a
    * drift in ANY quantization point, the idf ratio, or the tiebreak
    * hash-mismatches. */
  val q144 = Q("q144_bm25_rank",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Search.rankByBm25Bits(
          graft.text.Search.buildPostings("doc_id", "text")(docs),
          query = Seq("table", "hash", "scan"), nDocs = docs.count(), k = 20)
        .orderBy(col("score_milli_bits").desc, col("id"))
    },
    Some(s"""WITH $lmToksCte,
      $postingsCte,
      dls AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM post GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n FROM documents),
      am AS (SELECT (1000 * (SELECT SUM(dl) FROM dls)) // n AS avgm
        FROM nd),
      qt AS (SELECT * FROM post WHERE term IN ('table', 'hash', 'scan')),
      idf AS (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
        FROM qt GROUP BY 1),
      idfb AS (SELECT term, ${fl2rSql("(2*n+2)", "(2*df+1)")} AS ib
        FROM idf CROSS JOIN nd),
      tf AS (SELECT term, id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM qt GROUP BY 1, 2),
      lfx AS (SELECT t.term, t.id, t.tf,
          ((1000 - 750) * avgm + 750 * 1000 * dl) // avgm AS lf
        FROM tf t JOIN dls USING (id) CROSS JOIN am),
      sc AS (SELECT id,
          SUM(ib * ((1000000 * tf * (1200 + 1000)) //
            (1000000 * tf + 1200 * lf))) AS score
        FROM lfx JOIN idfb USING (term) GROUP BY 1)
      SELECT id, CAST(score AS BIGINT) AS score_milli_bits
      FROM sc ORDER BY score_milli_bits DESC, id LIMIT 20"""))

  /** Phrase search against the STORED postings index
    * ([[graft.text.Search.writePostingsIndex]] →
    * [[graft.text.Search.phraseSearchStored]] — the production path
    * q131 only proxied): the corpus's postings land as a managed
    * table bucketed+sorted by term, then the corpus's top BIGRAM is
    * searched by probing THAT table, so each term filter is a pruned
    * scan of the index at rest (cost follows posting-list size, not
    * corpus size). The oracle replays gram selection, postings, and
    * the positional join from the raw corpus — a divergence anywhere
    * in the write→read round trip hash-mismatches. */
  val q145 = Q("q145_phrase_stored",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val phrase = graft.text.Search.topNgram("doc_id", "text", 2)(docs)
      graft.text.Search.writePostingsIndex(docs, "doc_id", "text",
        "graft_q145_postings", numBuckets = 8)
      graft.text.Search.phraseSearchStored(s, "graft_q145_postings", phrase)
        .orderBy("id", "pos")
    },
    Some(s"""WITH $lmToksCte,
      grams AS (SELECT array_to_string(list_slice(tk, i + 1, i + 2), ' ') AS g
        FROM (SELECT tk, unnest(range(0, len(tk) - 1)) AS i FROM lmtk)),
      top AS (SELECT string_split(g, ' ') AS ph FROM (
        SELECT g, COUNT(*) AS c FROM grams GROUP BY 1
        ORDER BY c DESC, g LIMIT 1)),
      $postingsCte
      SELECT p0.id, CAST(p0.pos AS INT) AS pos
      FROM post p0
      JOIN post p1 ON p1.id = p0.id AND p1.pos = p0.pos + 1
      CROSS JOIN top
      WHERE p0.term = ph[1] AND p1.term = ph[2]
      ORDER BY p0.id, p0.pos"""))

  /** MOTION-COMPENSATED video round trip
    * ([[graft.multimodal.Codec.encodeAviMcv]] — the H.261/MPEG-style
    * block-matching P-frame construction, lossless by mod-256
    * residuals): per document, a 24×32 scene translating
    * `(1 + id%3, id%2)` px/frame is encoded as one keyframe + four
    * P-frames, then frames 0/2/4 are decoded through the GOP seek
    * path — frame 4's pixels exist only through the motion-vector
    * chain of all four P-frames. The oracle computes every pixel from
    * the closed-form translation formula, so ANY motion-compensation,
    * residual, chunking, or seek bug hash-mismatches. (CodecSpec pins
    * separately that translation compresses to SKIP blocks — the
    * motion search is load-bearing, not decorative.) */
  val q146 = Q("q146_avi_mcv_motion_sums",
    (s, dir) => {
      import s.implicits._
      mediaIds(s, dir)
        .flatMap { id =>
          val dx0 = (1 + id % 3).toInt; val dy0 = (id % 2).toInt
          def px(f: Int, r: Int, c: Int) =
            ((id * 7 + (r + f * dy0).toLong * 31 + (c + f * dx0).toLong * 17) % 256).toInt
          val frames = (0 until 5).map(f => Array.tabulate(24, 32)((r, c) => px(f, r, c)))
          val avi = graft.multimodal.Codec.encodeAviMcv(
            frames, fps = 5, keyframeInterval = 5)
          require(graft.multimodal.Codec.aviFrameCount(avi) == 5, "MCV8 stream lost frames")
          val (fps, picked) = graft.multimodal.Codec.decodeAviFrames(
            avi, Multimodal.sampleFrameIndices(5, stride = 2, maxFrames = 8))
          require(fps == 5, "MCV8 round-trip lost fps")
          for {
            (fi, g) <- picked
            br <- 0 until 3; bc <- 0 until 4
          } yield {
            var sum = 0L
            var r = br * 8
            while (r < br * 8 + 8) {
              var c = bc * 8
              while (c < bc * 8 + 8) { sum += g(r)(c); c += 1 }
              r += 1
            }
            (id, fi.toLong, br.toLong, bc.toLong, sum)
          }
        }
        .toDF("media_id", "frame_idx", "block_row", "block_col", "pixel_sum")
        .orderBy("media_id", "frame_idx", "block_row", "block_col")
    },
    Some("""WITH px AS (SELECT doc_id AS media_id, CAST(f AS BIGINT) AS f,
        CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
        (doc_id*7 + (r + f*(doc_id%2))*31 + (c + f*(1 + doc_id%3))*17) % 256 AS v
      FROM documents, (VALUES (0),(2),(4)) t(f), range(0, 24) u(r), range(0, 32) w(c))
      SELECT media_id, f AS frame_idx, r // 8 AS block_row, c // 8 AS block_col,
        CAST(SUM(v) AS BIGINT) AS pixel_sum
      FROM px GROUP BY media_id, f, r // 8, c // 8
      ORDER BY media_id, frame_idx, block_row, block_col"""))

  /** SCD TYPE 2 versioned-dimension apply ([[graft.store.Store.scd2Init]]
    * / `scd2Apply` — Kimball type 2; the reference's docs name it the
    * follow-on to their TRUNCATE+reload dims): customers snapshot at
    * t=100 folds one change batch (segment change at 200 for every 3rd
    * key, attribute-identical row at 220 for every 5th — a NO-OP
    * unless a key-%15 change-back, a second change at 300 for every
    * 7th, brand-new keys at 250), then every version row is emitted.
    * The oracle replays the timeline contract 1:1 (per-key order,
    * run-dedup by null-safe lag compare, lead() closing) — a drift in
    * tie rules, no-op suppression, or chaining hash-mismatches. */
  val q147 = Q("q147_scd2_versions",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val init = graft.store.Store.scd2Init(
        cust.withColumn("eff", lit(100L)), Seq("k"), "eff")
      val changes =
        cust.filter(col("k") % 3 === 0)
          .select(col("k"), concat(col("seg"), lit("-X")).as("seg"), lit(200L).as("eff"))
        .unionByName(cust.filter(col("k") % 5 === 0)
          .select(col("k"), col("seg"), lit(220L).as("eff")))
        .unionByName(cust.filter(col("k") % 7 === 0)
          .select(col("k"), concat(col("seg"), lit("-Y")).as("seg"), lit(300L).as("eff")))
        .unionByName(cust.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000L).as("k"), lit("NEW").as("seg"), lit(250L).as("eff")))
      graft.store.Store.scd2Apply(init, changes, Seq("k"), "eff")
        .orderBy("k", "valid_from")
    },
    Some("""WITH cust AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
      tl AS (
        SELECT k, seg, CAST(100 AS BIGINT) AS vf, 0 AS src FROM cust
        UNION ALL SELECT k, seg || '-X', 200, 1 FROM cust WHERE k % 3 = 0
        UNION ALL SELECT k, seg, 220, 1 FROM cust WHERE k % 5 = 0
        UNION ALL SELECT k, seg || '-Y', 300, 1 FROM cust WHERE k % 7 = 0
        UNION ALL SELECT k + 1000000, 'NEW', 250, 1 FROM cust WHERE k % 11 = 0),
      lg AS (SELECT k, seg, vf, src,
          lag(seg) OVER (PARTITION BY k ORDER BY vf, src) AS prev
        FROM tl),
      kept AS (SELECT k, seg, vf, src FROM lg
        WHERE prev IS NULL OR prev IS DISTINCT FROM seg),
      fin AS (SELECT k, seg, vf AS valid_from,
          lead(vf) OVER (PARTITION BY k ORDER BY vf, src) AS valid_to
        FROM kept)
      SELECT k, seg, valid_from, valid_to, valid_to IS NULL AS is_current
      FROM fin ORDER BY k, valid_from"""))

  /** End-to-end UNSUPERVISED linkage: q143's EM weights (no labels
    * anywhere in training) score the blocked pairs and decide at ≥ 10
    * bits; the output confusion matrix is judged against the planted
    * truth — so the whole label-free chain (pattern counts → EM →
    * quantized weights → literal-sum scoring → threshold) must land
    * the same decisions in both engines. */
  val q148 = Q("q148_fs_em_linkage",
    (s, dir) => {
      val pairs = fsPairs(s, dir)
      val w = graft.operators.Linkage.fsEmWeights(pairs, fsFields, iters = 10)
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
      graft.operators.Linkage.scoreFs(pairs, fsFields, w)
        .withColumn("predicted", col("score_bits") >= lit(10L))
        .groupBy("predicted", "is_match")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("predicted", "is_match")
    },
    Some(s"""${emOracleSql(10)},
      w AS (SELECT
        MAX(CASE WHEN field = 'name' THEN w_agree_bits END) AS name_wa,
        MAX(CASE WHEN field = 'name' THEN w_disagree_bits END) AS name_wd,
        MAX(CASE WHEN field = 'acctbal' THEN w_agree_bits END) AS bal_wa,
        MAX(CASE WHEN field = 'acctbal' THEN w_disagree_bits END) AS bal_wd,
        MAX(CASE WHEN field = 'segment' THEN w_agree_bits END) AS seg_wa,
        MAX(CASE WHEN field = 'segment' THEN w_disagree_bits END) AS seg_wd
      FROM emw),
      sc AS (SELECT is_match,
        (CASE WHEN name_a IS NOT DISTINCT FROM name_b THEN name_wa ELSE name_wd END
         + CASE WHEN bal_a IS NOT DISTINCT FROM bal_b THEN bal_wa ELSE bal_wd END
         + CASE WHEN seg_a IS NOT DISTINCT FROM seg_b THEN seg_wa ELSE seg_wd END)
          AS score
      FROM prs CROSS JOIN w)
      SELECT score >= 10 AS predicted, is_match,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM sc GROUP BY 1, 2 ORDER BY predicted, is_match"""))

  /** Exact per-group percentiles AT SCALE
    * ([[graft.operators.GroupedNtile.exactPercentilesDisc]] — the true
    * scale path q40's scaladoc deferred): quartiles + max of integer
    * order cents per priority class via the two-phase rank and a
    * rank-equality filter — no per-group collect-and-sort buffer. The
    * probabilities are exact rationals, so the target rank
    * `⌈num·n/den⌉` is integer arithmetic; the oracle replays the rule
    * with a row_number window. */
  val q149 = Q("q149_exact_percentiles_scale",
    (s, dir) => graft.operators.GroupedNtile.exactPercentilesDisc(
        Seq("o_orderpriority"), "v",
        probs = Seq((1L, 4L), (1L, 2L), (3L, 4L), (1L, 1L)))(
        t(s, dir, "orders").select(col("o_orderpriority"),
          cents(col("o_totalprice")).as("v")))
      .orderBy("o_orderpriority", "p_den", "p_num"),
    Some(s"""WITH w AS (SELECT o_orderpriority,
        ${centsSql("o_totalprice")} AS v FROM orders),
      r AS (SELECT o_orderpriority, v,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn,
          COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM w),
      p AS (SELECT * FROM (VALUES (1, 4), (1, 2), (3, 4), (1, 1)) t(num, den))
      SELECT o_orderpriority, CAST(num AS BIGINT) AS p_num,
        CAST(den AS BIGINT) AS p_den, v AS value
      FROM r CROSS JOIN p WHERE rn = (num * n + den - 1) // den
      ORDER BY o_orderpriority, p_den, p_num"""))

  /** Point-in-time read of the q147 versioned dim
    * ([[graft.store.Store.scd2AsOf]]): the dimension AS OF t=250 —
    * between the t=200/220 changes and the t=300 ones, with the t=250
    * new keys just born — one row per key, exercising the half-open
    * `[valid_from, valid_to)` rule at both edges. The oracle replays
    * the q147 timeline and applies the same containment filter. */
  val q150 = Q("q150_scd2_asof",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      val init = graft.store.Store.scd2Init(
        cust.withColumn("eff", lit(100L)), Seq("k"), "eff")
      val changes =
        cust.filter(col("k") % 3 === 0)
          .select(col("k"), concat(col("seg"), lit("-X")).as("seg"), lit(200L).as("eff"))
        .unionByName(cust.filter(col("k") % 5 === 0)
          .select(col("k"), col("seg"), lit(220L).as("eff")))
        .unionByName(cust.filter(col("k") % 7 === 0)
          .select(col("k"), concat(col("seg"), lit("-Y")).as("seg"), lit(300L).as("eff")))
        .unionByName(cust.filter(col("k") % 11 === 0)
          .select((col("k") + 1000000L).as("k"), lit("NEW").as("seg"), lit(250L).as("eff")))
      graft.store.Store.scd2AsOf(
          graft.store.Store.scd2Apply(init, changes, Seq("k"), "eff"), lit(250L))
        .select("k", "seg", "valid_from")
        .orderBy("k")
    },
    Some("""WITH cust AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
      tl AS (
        SELECT k, seg, CAST(100 AS BIGINT) AS vf, 0 AS src FROM cust
        UNION ALL SELECT k, seg || '-X', 200, 1 FROM cust WHERE k % 3 = 0
        UNION ALL SELECT k, seg, 220, 1 FROM cust WHERE k % 5 = 0
        UNION ALL SELECT k, seg || '-Y', 300, 1 FROM cust WHERE k % 7 = 0
        UNION ALL SELECT k + 1000000, 'NEW', 250, 1 FROM cust WHERE k % 11 = 0),
      lg AS (SELECT k, seg, vf, src,
          lag(seg) OVER (PARTITION BY k ORDER BY vf, src) AS prev
        FROM tl),
      kept AS (SELECT k, seg, vf, src FROM lg
        WHERE prev IS NULL OR prev IS DISTINCT FROM seg),
      fin AS (SELECT k, seg, vf AS valid_from,
          lead(vf) OVER (PARTITION BY k ORDER BY vf, src) AS valid_to
        FROM kept)
      SELECT k, seg, valid_from
      FROM fin
      WHERE valid_from <= 250 AND (valid_to IS NULL OR 250 < valid_to)
      ORDER BY k"""))

  /** INCREMENTAL connected components
    * ([[graft.operators.ConnectedComponents.incrementalComponents]] —
    * the standing near-dup loop's missing maintenance piece): batch 1's
    * arithmetic edge set resolves to exact min-labels, then batch 2
    * FOLDS IN through the contracted delta graph (touched components +
    * new vertices only, never the history). The oracle computes plain
    * components of the UNION graph by recursive-CTE transitive closure
    * — so the fold must land exactly where a full recompute does,
    * merges, bridges, and new vertices included. */
  val q151 = Q("q151_incremental_components",
    (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val b1 = cust.filter(col("k") % 3 === 0)
        .select(col("k").as("id_a"), (col("k") + 1L + col("k") % 4).as("id_b"))
      val b2 = cust.filter(col("k") % 4 === 1)
        .select(col("k").as("id_a"), (col("k") + 2L + col("k") % 5).as("id_b"))
      graft.operators.ConnectedComponents.incrementalComponents(
          graft.operators.ConnectedComponents.components(b1), b2)
        .select(col("id").as("node"), col("comp").as("component"))
        .orderBy("node")
    },
    Some("""WITH RECURSIVE b AS (
        SELECT c_custkey AS a, c_custkey + 1 + c_custkey % 4 AS bb
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, c_custkey + 2 + c_custkey % 5
        FROM customer WHERE c_custkey % 4 = 1),
      edges AS (SELECT a AS src, bb AS dst FROM b
        UNION SELECT bb, a FROM b),
      walk(src, reach) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT w.src, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
      SELECT src AS node, CAST(MIN(reach) AS BIGINT) AS component
      FROM walk GROUP BY src ORDER BY node"""))

  /** ATOMIC manifest-store lifecycle ([[graft.store.Manifest]]): build
    * a versioned table from thirds of `orders` through the full
    * protocol — overwrite-commit, append-commit, reader-safe compact,
    * gc past retention, append again — then aggregate the final
    * snapshot. The oracle replays the LOGICAL content (all of orders)
    * in plain SQL: the store's whole point is that no sequence of
    * commits/compactions/gcs can make the read view diverge from the
    * logical table, so hash equality here is the storage protocol's
    * correctness statement, not just an aggregate check. */
  val q152 = Q("q152_manifest_lifecycle",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q152").toString + "/orders_t"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.overwrite(orders.filter(col("o_orderkey") % 3 === 0), root)
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 1), root)
      Manifest.compact(s, root)
      Manifest.gc(s, root, keepVersions = 1)
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 2), root)
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
      ${dsumSql("o_totalprice")} AS total_price
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** STREAMING CURATION PIPELINE CAPSTONE
    * ([[graft.streaming.StreamOps.curationPipelineSink]]): a REAL
    * multi-batch streamed run — documents arrive in three micro-batches
    * (doc_id mod 3), each batch flowing clean → intra-batch exact dedup
    * → near-dup screen-and-admit against the standing corpus index →
    * per-batch admitted sink → split-SCD2 per-source ingest profile on
    * atomic manifest roots. The result joins every admitted doc to the
    * SCD2 version in force at its batch, so ONE oracle hash covers the
    * admitted corpus, the batch partitioning, and the versioned
    * timeline together. The SQL replays the entire sequential process:
    * cleaned text, per-batch exact dedup, batch 1 screened against
    * batch 0's admissions, batch 2 against both, then the profile
    * timeline with SCD2 run-dedup and lead() closure. Batch ingestion
    * collects each slice to the driver for MemoryStream — test-harness
    * plumbing (bounded: the documents table), not the engine path. */
  val q153 = Q("q153_curation_pipeline",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val base = graft.TempDirs.create("graft_q153").toString
      val (hashedRoot, bandedRoot) = (s"$base/hashed", s"$base/banded")
      Dedup.writeCorpusIndex(docs.limit(0), "doc_id", "text",
        Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val q = graft.streaming.StreamOps.curationPipelineSink(
        input.toDF().toDF("doc_id", "text", "source"),
        "doc_id", "text", "source", Dedup.CharShingles(5), 8, 4,
        hashedRoot, bandedRoot, minJaccard = 0.5,
        s"$base/admitted", s"$base/scd2_open", s"$base/scd2_closed",
        s"$base/ckpt")
      // ONE collect sliced driver-side, not three filtered scans: the
      // MemoryStream feed is test-harness plumbing, and each filtered
      // collect was a full documents scan + job of its own (identical
      // batch contents either way — doc_id % 3 slicing unchanged)
      val slices = docs.as[(Long, String, String)].collect()
        .groupBy(_._1 % 3)
      (0 to 2).foreach { bnum =>
        input.addData(slices.getOrElse(bnum.toLong, Array.empty).toSeq: _*)
        q.processAllAvailable()
      }
      q.stop()
      val admitted = s.read.parquet(s"$base/admitted")
      val versions = graft.store.Store.scd2Versions(
        s, s"$base/scd2_open", s"$base/scd2_closed")
      admitted.as("d").join(versions.as("v"),
          col("d.source") === col("v.source") &&
            col("v.valid_from") <= col("d.batch_id") &&
            (col("v.valid_to").isNull || col("d.batch_id") < col("v.valid_to")))
        .select(col("d.doc_id"), col("d.source"),
          col("d.batch_id").cast(LongType).as("batch"),
          col("v.valid_from"), col("v.n_admitted"), col("v.max_admitted_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH cd AS (SELECT doc_id, source,
        lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text,
        doc_id % 3 AS batch FROM documents),
      ex AS (SELECT doc_id, source, text, batch FROM (
        SELECT *, row_number() OVER (PARTITION BY batch, text ORDER BY doc_id) AS rn
        FROM cd) WHERE rn = 1),
      sh AS (SELECT doc_id, ${shingleSql(5)} AS s FROM ex),
      $hashSetCte,
      ${sigBandedSql(8, 4)},
      adm0 AS (SELECT doc_id FROM ex WHERE batch = 0),
      c1 AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
             FROM banded a JOIN banded b
             ON a.band = b.band AND a.bandsig = b.bandsig
             JOIN ex ea ON ea.doc_id = a.doc_id AND ea.batch = 1
             JOIN adm0 c ON c.doc_id = b.doc_id),
      d1 AS (SELECT DISTINCT bid FROM c1
             JOIN shh sa ON sa.doc_id = bid JOIN shh sb ON sb.doc_id = cid
             WHERE ${jaccardSql("sa.h", "sb.h")} >= 0.5),
      adm1 AS (SELECT doc_id FROM ex WHERE batch = 1
               AND doc_id NOT IN (SELECT bid FROM d1)),
      corp1 AS (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
      c2 AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
             FROM banded a JOIN banded b
             ON a.band = b.band AND a.bandsig = b.bandsig
             JOIN ex ea ON ea.doc_id = a.doc_id AND ea.batch = 2
             JOIN corp1 c ON c.doc_id = b.doc_id),
      d2 AS (SELECT DISTINCT bid FROM c2
             JOIN shh sa ON sa.doc_id = bid JOIN shh sb ON sb.doc_id = cid
             WHERE ${jaccardSql("sa.h", "sb.h")} >= 0.5),
      adm2 AS (SELECT doc_id FROM ex WHERE batch = 2
               AND doc_id NOT IN (SELECT bid FROM d2)),
      admitted AS (SELECT e.doc_id, e.source, e.batch FROM ex e
        JOIN (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1
              UNION ALL SELECT doc_id FROM adm2) a USING (doc_id)),
      prof AS (SELECT source, batch AS eff, COUNT(*) AS n_admitted,
          MAX(doc_id) AS max_admitted_id
        FROM admitted GROUP BY source, batch),
      seq AS (SELECT source, eff, n_admitted, max_admitted_id,
          LAG(n_admitted) OVER w AS pn, LAG(max_admitted_id) OVER w AS pm
        FROM prof WINDOW w AS (PARTITION BY source ORDER BY eff)),
      kept AS (SELECT source, eff AS valid_from, n_admitted, max_admitted_id
        FROM seq WHERE pn IS NULL OR pn <> n_admitted OR pm <> max_admitted_id),
      vers AS (SELECT source, valid_from,
          LEAD(valid_from) OVER (PARTITION BY source ORDER BY valid_from) AS valid_to,
          n_admitted, max_admitted_id FROM kept)
      SELECT d.doc_id, d.source, CAST(d.batch AS BIGINT) AS batch,
        v.valid_from, v.n_admitted, v.max_admitted_id
      FROM admitted d JOIN vers v ON v.source = d.source
        AND v.valid_from <= d.batch AND (v.valid_to IS NULL OR d.batch < v.valid_to)
      ORDER BY d.doc_id"""))

  /** APPROXIMATE triangle count
    * ([[graft.operators.Triangles.approxCountsRow]], Doulion edge
    * sampling, Tsourakakis et al. KDD 2009) on the same co-order graph
    * as the exact q134 — the measured-error cheap mode beside the
    * battery's #1 absolute cost. Deterministic md5 edge sampling at
    * 1/k, exact count on the sparsified graph, integer k³ scale-up;
    * the oracle re-derives the identical sample in SQL and replays the
    * same orient/wedge/close chain over it. */
  val q154 = Q("q154_triangle_approx",
    (s, dir) => graft.operators.Triangles.approxCountsRow(
      coOrderPairs(s, dir), "pa", "pb", k = 3, seed = 7L),
    Some("""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      pairs AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      sampled AS (SELECT u, v FROM pairs
        WHERE ('0x' || substr(md5(CAST(u AS VARCHAR) || '_' || CAST(v AS VARCHAR) || '_7'), 1, 15))::BIGINT % 3 = 0),
      deg AS (SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM sampled UNION ALL SELECT v FROM sampled) GROUP BY 1),
      o AS (SELECT
          CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v) THEN u ELSE v END AS src,
          CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v) THEN v ELSE u END AS dst,
          CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v) THEN d2.d ELSE d1.d END AS ddst
        FROM sampled JOIN deg d1 ON d1.n = u JOIN deg d2 ON d2.n = v),
      wedges AS (SELECT a.src, a.dst AS y, b.dst AS z
        FROM o a JOIN o b ON a.src = b.src
        WHERE a.ddst < b.ddst OR (a.ddst = b.ddst AND a.dst < b.dst)),
      tri AS (SELECT 1 FROM wedges w JOIN o e ON e.src = w.y AND e.dst = w.z)
      SELECT CAST(3 AS BIGINT) AS k,
        CAST((SELECT COUNT(*) FROM sampled) AS BIGINT) AS n_edges_sampled,
        CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles_sampled,
        CAST((SELECT COUNT(*) * 27 FROM tri) AS BIGINT) AS estimate"""))

  /** DATA-SKIPPING read over the manifest store
    * ([[graft.store.Manifest.readWhereBetween]]): orders land in four
    * key-range-disjoint appends carrying per-file min/max stats (the
    * Delta-style skip index), then a range probe reads ONLY the files
    * whose recorded range intersects — correctness is scan-set
    * independent by construction (the predicate re-applies to rows),
    * which is exactly what the plain-SQL oracle states. The pruning
    * EFFECTIVENESS is spec-asserted (ManifestSpec); here the skip path
    * itself carries the hash gate. */
  val q155 = Q("q155_manifest_skipping",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q155").toString + "/orders_s"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      // quartile-range appends: each file's o_orderkey range is tight
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      Manifest.readWhereBetween(s, root, "o_orderkey", cut + 1, 2 * cut - 2)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders, cut WHERE o_orderkey BETWEEN c + 1 AND 2 * c - 2
      GROUP BY 1 ORDER BY 1"""))

  /** EXACTLY-ONCE transactional appends
    * ([[graft.store.Manifest.appendOnce]], the public Delta `txn`
    * idea): orders land in three appendOnce batches under one writer
    * id, then two FAILURE REPLAYS fire — the latest txn again and an
    * older one — and both must be recognized by the recorded watermark
    * and skipped. The oracle is the plain logical table: any
    * double-commit doubles a third of the rows and hash-mismatches.
    * `meta_rows` carries [[graft.store.Manifest.rowCount]] — count(*)
    * answered from the manifest's parquet-footer row counts with no
    * data scan — pinned against the oracle's real COUNT(*). */
  val q156 = Q("q156_manifest_txn",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q156").toString + "/orders_x"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      (0 to 2).foreach { i =>
        Manifest.appendOnce(orders.filter(col("o_orderkey") % 3 === i),
          root, "ingest", i.toLong)
      }
      // failure replays: the current txn and an older one — both skip
      Manifest.appendOnce(orders.filter(col("o_orderkey") % 3 === 1),
        root, "ingest", 1L)
      Manifest.appendOnce(orders.filter(col("o_orderkey") % 3 === 0),
        root, "ingest", 0L)
      val metaRows = Manifest.rowCount(Manifest.current(s, root).get)
        .getOrElse(sys.error("manifest lost its row counts"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("meta_rows", lit(metaRows))
        .orderBy("status")
    },
    Some(s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
      ${dsumSql("o_totalprice")} AS total_price,
      (SELECT COUNT(*) FROM orders) AS meta_rows
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** RESTORE + the append-only change feed
    * ([[graft.store.Manifest.restore]]/`changesSince`): a bad deploy
    * overwrites the table, restore rolls it back to the last good
    * version (files, metadata, row counts wholesale — itself a new
    * version, so the bad state stays travel-able), the lost slice is
    * re-appended, and the change feed since the restore point must be
    * EXACTLY that slice. One hash covers the rolled-back table and the
    * feed's file-level delta arithmetic together. */
  val q157 = Q("q157_manifest_restore",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q157").toString + "/orders_r"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.overwrite(orders.filter(col("o_orderkey") % 3 === 0), root) // v0
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 1), root)    // v1
      Manifest.overwrite(orders.filter(col("o_orderkey") % 3 === 2), root) // v2: bad deploy
      Manifest.restore(s, root, 1L)                                        // v3: rollback
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 2), root)    // v4
      def agg(df: DataFrame, part: String) = df
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("part", lit(part))
      agg(Manifest.read(s, root), "table")
        .unionByName(agg(Manifest.changesSince(s, root, 3L), "feed"))
        .orderBy("part", "status")
    },
    Some(s"""SELECT 'table' AS part, o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders GROUP BY 1, 2
      UNION ALL
      SELECT 'feed', o_orderstatus, COUNT(*), ${dsumSql("o_totalprice")}
      FROM orders WHERE o_orderkey % 3 = 2 GROUP BY 1, 2
      ORDER BY part, status"""))

  /** MERGE / upsert on the manifest store
    * ([[graft.store.Manifest.upsert]] — the Delta MERGE shape: stats-
    * pruned candidates, semi-join touched-file discovery, only touched
    * files rewritten, one atomic commit): orders land as four
    * range-disjoint stat'd appends, then one batch UPDATES every key
    * ≡ 0 (mod 97) (price bumped, status rewritten) and INSERTS a
    * shifted copy of every key ≡ 1 (mod 131). The oracle replays merge
    * semantics in plain SQL — target rows minus batch keys, union the
    * batch — so a lost update, a resurrected replaced row (file
    * accounting), or a dropped insert all hash-mismatch. */
  val q158 = Q("q158_manifest_upsert",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q158").toString + "/orders_m"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      val updates = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("o_orderstatus", lit("U"))
      val inserts = orders.filter(col("o_orderkey") % 131 === 1)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10L * (hi + 1)))
        .withColumn("o_orderstatus", lit("I"))
      Manifest.upsert(updates.unionByName(inserts), root, "o_orderkey")
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some(s"""WITH hi AS (SELECT MAX(o_orderkey) AS h FROM orders),
      batch AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
          o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + 10 * (h + 1), o_custkey, 'I',
          o_totalprice, o_orderdate, o_orderpriority
        FROM orders, hi WHERE o_orderkey % 131 = 1),
      merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM batch)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price, MAX(o_orderkey) AS max_key
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** File-pruned DELETE on the manifest store
    * ([[graft.store.Manifest.deleteWhereBetween]]): a mid-table key
    * slab is deleted from the four-file stat'd layout — one file fully
    * covered (vanishes from the snapshot), neighbors partially
    * rewritten, the rest carried by identity — then the table
    * aggregates against a plain NOT-BETWEEN oracle. */
  val q159 = Q("q159_manifest_delete",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q159").toString + "/orders_d"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      // [cut/2, 2*cut + cut/2]: covers file 1 fully, clips files 0 and 2
      Manifest.deleteWhereBetween(s, root, "o_orderkey", cut / 2, 2 * cut + cut / 2)
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders, cut
      WHERE o_orderkey NOT BETWEEN c // 2 AND 2 * c + c // 2
      GROUP BY 1 ORDER BY 1"""))

  /** EXACTLY-ONCE incremental mirror
    * ([[graft.streaming.StreamOps.manifestMirrorStep]] — the read side
    * of the manifest change feed): orders land in the source table as
    * three separate commits, a mirror pump pulls the deltas across in
    * two steps (the second covering two pending commits at once),
    * transforming en route (even keys only, a derived flag column). The
    * pump keeps NO state of its own — its cursor is the destination's
    * (writer → txn) watermark, advanced by the same atomic commit as
    * the data — and a lagging second pump replaying an old delta is
    * skipped by that watermark. The oracle replays the transform in
    * plain SQL; any duplicated or dropped delta hash-mismatches, and
    * `meta_rows` pins the destination's footer-count metadata count(*)
    * against the oracle's real COUNT(*). */
  val q160 = Q("q160_manifest_mirror",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q160").toString
      val src = s"$base/orders_src"
      val dst = s"$base/orders_dst"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      import graft.streaming.StreamOps
      def pump(): Option[Long] = StreamOps.manifestMirrorStep(
        s, src, dst, "mirror",
        transform = _.filter(col("o_orderkey") % 2 === 0)
          .withColumn("big", (col("o_totalprice") > 150000.0).cast("int")),
        statsCols = Seq("o_orderkey"))
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 0), src)
      pump() // bootstrap step: full first commit
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 1), src)
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 2), src)
      pump() // one step, two pending source commits
      // lagging second pump replays the bootstrap delta: watermark skips
      Manifest.appendOnce(
        orders.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0)
          .withColumn("big", (col("o_totalprice") > 150000.0).cast("int")),
        dst, "mirror", 0L)
      val metaRows = Manifest.rowCount(Manifest.current(s, dst).get)
        .getOrElse(sys.error("mirror lost its row counts"))
      Manifest.read(s, dst)
        .groupBy(col("o_orderstatus").as("status"), col("big"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("meta_rows", lit(metaRows))
        .orderBy("status", "big")
    },
    Some(s"""SELECT o_orderstatus AS status,
        CAST(o_totalprice > 150000.0 AS INT) AS big,
        COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS meta_rows
      FROM orders WHERE o_orderkey % 2 = 0
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** MULTI-COLUMN clustered layout + conjunctive skip read
    * ([[graft.store.Manifest.compactClustered]]/`readWhere` — the
    * public OPTIMIZE ZORDER BY): orders land unclustered, a Hilbert
    * compaction rewrites the table so per-file [min, max] boxes are
    * tight on BOTH (o_custkey, o_totalprice), and a 2-D box probe
    * reads through the pruned file set. The oracle is the same
    * conjunction in plain SQL — pruning must be invisible to
    * semantics (ManifestSpec pins that it actually prunes). */
  val q161 = Q("q161_manifest_zorder",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q161").toString + "/orders_z"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.append(orders, root, statsCols = Seq("o_orderkey"))
      Manifest.compactClustered(s, root, Seq("o_custkey", "o_totalprice"),
        targetBytes = 256 * 1024, curve = "hilbert")
      Manifest.readWhere(s, root,
        Seq(("o_custkey", 100L, 500L), ("o_totalprice", 50000.0, 150000.0)))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"))
        .orderBy("status")
    },
    Some(s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price,
        MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_totalprice BETWEEN 50000.0 AND 150000.0
      GROUP BY 1 ORDER BY 1"""))

  /** Streaming CDC APPLY
    * ([[graft.streaming.StreamOps.manifestUpsertSink]]): three change
    * batches stream into one manifest table — a full insert load, then
    * two update waves touching overlapping key sets — and the final
    * table must be exactly last-writer-wins per key, which the oracle
    * replays with a window over the change log. A replay of the final
    * batch (foreachBatch's actual recovery window) must leave the
    * table bit-identical. */
  val q162 = Q("q162_manifest_cdc",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val root = graft.TempDirs
        .create("graft_q162").toString + "/orders_cdc"
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      import graft.store.Manifest
      def rows(df: DataFrame): Seq[(Long, Long, String, Double)] =
        df.as[(Long, Long, String, Double)].collect().toSeq
      val b1 = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("U1"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
      val b2 = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderstatus", lit("U2"))
        .withColumn("o_totalprice", col("o_totalprice") + lit(2000.0))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double)]
      val q = graft.streaming.StreamOps.manifestUpsertSink(
        input.toDF().toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
        root, "o_orderkey", root + "_ckpt")
      Seq(orders, b1, b2).zipWithIndex.foreach { case (b, i) =>
        // one addData call = one MemoryStream block = one input
        // partition = one serialized task; the full bootstrap wave is
        // ~9.5 MB at sf0.1, so feed it in FIXED-SIZE slices (~12k rows
        // ≈ 0.75 MB) to keep every task under the 1 MB guidance
        // without shredding the small waves into empty-ish blocks
        // (the batch boundary is processAllAvailable, unchanged —
        // same rows, same batch)
        val all = rows(b)
        all.grouped(12000).foreach(g => input.addData(g: _*))
        q.processAllAvailable()
        // the sliced bootstrap lands as ~13 small files; compact once
        // before the update waves so their touched-file discovery and
        // rewrite work one file, not thirteen (value-neutral commit —
        // the realistic seed-then-compact CDC shape)
        if (i == 0) Manifest.compact(s, root)
      }
      q.stop()
      // recovery-window replay: re-merging the final batch is a no-op
      Manifest.upsert(b2, root, "o_orderkey")
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH cdc AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS b FROM orders
        UNION ALL
        SELECT o_orderkey, 'U1', o_totalprice + 1000.0, 1 FROM orders
        WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 'U2', o_totalprice + 2000.0, 2 FROM orders
        WHERE o_orderkey % 7 = 0),
      latest AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY b DESC) AS rn
        FROM cdc) WHERE rn = 1)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM latest GROUP BY 1 ORDER BY 1"""))

  /** PLANNER-INTEGRATED manifest scan
    * ([[graft.store.Manifest.read]] — a table-format `FileIndex`
    * under Spark's own `HadoopFsRelation`, the public Delta
    * architecture): orders land as four range-disjoint stat'd commits
    * and the query arrives as ordinary SQL over a temp view — no
    * engine-specific read API anywhere — with the BETWEEN pruned
    * against the manifest's per-file stats at scan-planning time and
    * the price predicate applied row-level inside the stock vectorized
    * parquet read. Oracle is the identical SQL over the plain table;
    * ManifestSpec pins that the pruning actually happens
    * (numFiles metric). */
  val q163 = Q("q163_manifest_table",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q163").toString + "/orders_t"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      Manifest.read(s, root).createOrReplaceTempView("graft_q163_orders")
      s.sql(s"""SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS total_price
        FROM graft_q163_orders
        WHERE o_orderkey BETWEEN ${cut / 2} AND ${cut + cut / 2}
          AND o_totalprice > 100000.0
        GROUP BY 1 ORDER BY 1""")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders, cut
      WHERE o_orderkey BETWEEN c // 2 AND c + c // 2
        AND o_totalprice > 100000.0
      GROUP BY 1 ORDER BY 1"""))

  /** DELETION-VECTOR deletes
    * ([[graft.store.Manifest.deleteWhereBetweenDv]] — the public Delta
    * DV idea): two key slabs are deleted from a four-file stat'd
    * layout WITHOUT rewriting a single data file (each commit is a
    * side parquet of (file, row-index) pairs plus a metadata pointer),
    * the table is read through the vector, then a range compaction
    * APPLIES the vector and clears it — and the post-compaction
    * aggregate must equal the same plain NOT-BETWEEN oracle, proving
    * the vector's row accounting exactly once across its whole
    * lifecycle (record → accumulate → serve reads → apply → clear). */
  val q164 = Q("q164_manifest_dv",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q164").toString + "/orders_dv"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      val before = Manifest.current(s, root).get.files
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey", cut / 2, cut + cut / 2)
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey", 3 * cut, 3 * cut + cut / 4)
      require(Manifest.current(s, root).get.files == before,
        "a DV delete must not rewrite data files")
      Manifest.compact(s, root, rangeBy = Seq("o_orderkey"))
      require(!Manifest.current(s, root).get.meta.contains(Manifest.DvKey),
        "compaction must apply and clear the deletion vector")
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders, cut
      WHERE o_orderkey NOT BETWEEN c // 2 AND c + c // 2
        AND o_orderkey NOT BETWEEN 3 * c AND 3 * c + c // 4
      GROUP BY 1 ORDER BY 1"""))

  /** ZERO-COPY shallow clone + copy-on-write divergence
    * ([[graft.store.Manifest.shallowClone]] — the public Delta SHALLOW
    * CLONE): orders are cloned without moving a byte (the clone's
    * manifest references the source files absolutely), then a merge
    * mutates THE CLONE ONLY (every key ≡ 0 (mod 97) re-statused and
    * re-priced, rewriting just the touched files into the clone's own
    * data dir). One hash covers both sides: the clone must show the
    * merged state and the source must be bit-pristine — a
    * copy-on-write leak in either direction mismatches. */
  val q165 = Q("q165_manifest_clone",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q165").toString
      val src = s"$base/orders_src"
      val dst = s"$base/orders_clone"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.append(orders.coalesce(4), src, statsCols = Seq("o_orderkey"))
      Manifest.shallowClone(s, src, dst)
      val updates = orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("o_orderstatus", lit("U"))
      Manifest.upsert(updates, dst, "o_orderkey")
      def agg(df: DataFrame, part: String) = df
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("part", lit(part))
      agg(Manifest.read(s, dst), "clone")
        .unionByName(agg(Manifest.read(s, src), "source"))
        .orderBy("part", "status")
    },
    Some(s"""WITH merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey, 'U', o_totalprice + 1000.0 FROM orders
        WHERE o_orderkey % 97 = 0)
      SELECT 'clone' AS part, o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM merged GROUP BY 1, 2
      UNION ALL
      SELECT 'source', o_orderstatus, COUNT(*), ${dsumSql("o_totalprice")}
      FROM orders GROUP BY 1, 2
      ORDER BY part, status"""))

  /** SCHEMA EVOLUTION on the manifest store
    * ([[graft.store.Manifest.appendMerge]] — the public mergeSchema
    * append): a table born with three order columns evolves twice
    * live — a batch ARRIVES with a new `o_orderstatus` column (old
    * files read it as NULL through the recorded merged schema), then
    * a batch OMITS `o_totalprice` (staged as typed NULLs) — and the
    * final aggregate must see exactly the union-with-NULL-padding
    * table. The oracle replays the three slices with explicit NULL
    * casts. NULL-safe aggregation: counts of the evolved column prove
    * the backfill is real NULLs, not defaults. */
  val q166 = Q("q166_manifest_evolution",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q166").toString + "/orders_ev"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice"), root)
      Manifest.appendMerge(orders.filter(col("o_orderkey") % 3 === 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"), root)
      Manifest.appendMerge(orders.filter(col("o_orderkey") % 3 === 2)
        .select("o_orderkey", "o_custkey", "o_orderstatus"), root)
      Manifest.read(s, root)
        .groupBy(coalesce(col("o_orderstatus"), lit("_pre_evolution_"))
          .as("status"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("o_totalprice")).as("n_priced"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH ev AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE), o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 2)
      SELECT COALESCE(o_orderstatus, '_pre_evolution_') AS status,
        COUNT(*) AS n_orders, COUNT(o_totalprice) AS n_priced,
        ${dsumSql("COALESCE(o_totalprice, 0.0)")} AS total_price
      FROM ev GROUP BY 1 ORDER BY 1"""))

  /** OR-OF-RANGES DATA SKIPPING through the planner-integrated scan
    * ([[graft.store.ManifestFileIndex]]): the table is range-compacted
    * on the key so files carry tight [min, max] slabs, then plain SQL
    * with a two-slab OR filter runs over [[graft.store.Manifest.read]]
    * — the FileIndex scans only the union of the two slabs' file sets
    * (pinned by the ManifestSpec scan-metric matrix; here the oracle
    * pins the ANSWER). A third NOT-quite-prunable predicate rides
    * along to prove conservatism never costs correctness. */
  val q167 = Q("q167_manifest_or_skip",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q167").toString + "/orders_or"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      Manifest.append(orders, root, statsCols = Seq("o_orderkey"))
      Manifest.compact(s, root, targetBytes = 256L * 1024,
        rangeBy = Seq("o_orderkey"))
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 10 + 1
      Manifest.read(s, root).createOrReplaceTempView("graft_q167_orders")
      s.sql(s"""
        SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
          ${dsumSql("o_totalprice")} AS total_price
        FROM graft_q167_orders
        WHERE (o_orderkey BETWEEN $cut AND ${2 * cut}
               OR o_orderkey BETWEEN ${7 * cut} AND ${8 * cut})
          AND o_orderkey % 2 = 1
        GROUP BY 1 ORDER BY 1""")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 10 + 1 AS c FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM orders, cut
      WHERE (o_orderkey BETWEEN c AND 2 * c
             OR o_orderkey BETWEEN 7 * c AND 8 * c)
        AND o_orderkey % 2 = 1
      GROUP BY 1 ORDER BY 1"""))

  /** DV-AWARE METADATA count(*)
    * ([[graft.store.Manifest.rowCount]] + [[graft.store.Manifest.DvRowsKey]]):
    * two overlapping deletion-vector deletes land (the overlap
    * re-derives duplicate (file, row) pairs — the vector dedups, so
    * the recorded live count stays exact), then the metadata-only
    * count — no data scan — is surfaced AS A COLUMN next to per-status
    * scan aggregates; the oracle recomputes both from the delete
    * semantics. A mismatch between the metadata path and the scan path
    * hash-fails. */
  val q168 = Q("q168_manifest_dv_count",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q168").toString + "/orders_dvc"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey", cut / 2, cut + cut / 2)
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey", cut, 2 * cut)
      val metaCount = Manifest.rowCount(Manifest.current(s, root).get)
        .getOrElse(sys.error("metadata count must be available under a DV"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("n_live_meta", lit(metaCount))
        .orderBy("status")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders),
      live AS (
        SELECT * FROM orders, cut
        WHERE NOT (o_orderkey BETWEEN c // 2 AND c + c // 2)
          AND NOT (o_orderkey BETWEEN c AND 2 * c))
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price,
        (SELECT COUNT(*) FROM live) AS n_live_meta
      FROM live GROUP BY 1 ORDER BY 1"""))

  /** HYBRID retrieval with reciprocal-rank fusion
    * ([[graft.operators.RankFusion.rrf]] — Cormack et al. SIGIR 2009,
    * the production RAG retriever shape): the q144 BM25 lexical top-20
    * and the q25 embedding-cosine top-20 (documents and vectors share
    * the id space) fuse by exact-integer RRF — each list contributes
    * `10⁹ div (60 + rank)` ppb, ids absent from a list contribute
    * nothing. The oracle replays BOTH retrievers (the full BM25
    * integer-quantization chain and the quantized-cosine ranking) and
    * the fused floor arithmetic, so a drift in either ranking, the
    * rank tiebreaks, or the fusion quantization hash-mismatches. */
  val q169 = Q("q169_hybrid_rrf",
    (s, dir) => {
      import graft.operators.RankFusion
      val docs = t(s, dir, "documents")
      val lex = graft.text.Search.rankByBm25Bits(
        graft.text.Search.buildPostings("doc_id", "text")(docs),
        query = Seq("table", "hash", "scan"), nDocs = docs.count(), k = 20)
      val lexR = RankFusion.rankBy(lex,
          Seq(col("score_milli_bits").desc, col("id").asc))
        .select("id", "rank")
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      val query = emb.filter(col("vec_id") === 0).select(col("qv").as("qqv"))
      val vec = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(query))
        .select(col("vec_id").as("id"),
          Similarity.cosineQ(col("qv"), col("qqv")).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc).limit(20)
      val vecR = RankFusion.rankBy(vec, Seq(col("cosine").desc, col("id").asc))
        .select("id", "rank")
      RankFusion.rrf(Seq(lexR, vecR), "id", k = 10)
    },
    Some(s"""WITH $lmToksCte,
      $postingsCte,
      dls AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM post GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n FROM documents),
      am AS (SELECT (1000 * (SELECT SUM(dl) FROM dls)) // n AS avgm
        FROM nd),
      qt AS (SELECT * FROM post WHERE term IN ('table', 'hash', 'scan')),
      idf AS (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
        FROM qt GROUP BY 1),
      idfb AS (SELECT term, ${fl2rSql("(2*n+2)", "(2*df+1)")} AS ib
        FROM idf CROSS JOIN nd),
      tf AS (SELECT term, id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM qt GROUP BY 1, 2),
      lfx AS (SELECT t.term, t.id, t.tf,
          ((1000 - 750) * avgm + 750 * 1000 * dl) // avgm AS lf
        FROM tf t JOIN dls USING (id) CROSS JOIN am),
      sc AS (SELECT id,
          SUM(ib * ((1000000 * tf * (1200 + 1000)) //
            (1000000 * tf + 1200 * lf))) AS score
        FROM lfx JOIN idfb USING (term) GROUP BY 1),
      lexs AS (SELECT id, CAST(score AS BIGINT) AS score FROM sc
        ORDER BY score DESC, id LIMIT 20),
      lex AS (SELECT id,
          row_number() OVER (ORDER BY score DESC, id) AS r FROM lexs),
      vbase AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
      vq AS (SELECT qv AS qqv FROM vbase WHERE vec_id = 0),
      vscore AS (SELECT vec_id, ${cosSql("b.qv", "vq.qqv")} AS cosine
        FROM vbase b, vq WHERE vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 20),
      vec AS (SELECT vec_id AS id,
          row_number() OVER (ORDER BY cosine DESC, vec_id) AS r FROM vscore),
      fused AS (SELECT id, 1000000000 // (60 + r) AS contrib FROM lex
        UNION ALL SELECT id, 1000000000 // (60 + r) FROM vec)
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_lists,
        CAST(SUM(contrib) AS BIGINT) AS rrf_ppb
      FROM fused GROUP BY id ORDER BY rrf_ppb DESC, id LIMIT 10"""))

  /** IVF VECTOR INDEX AT REST in the manifest store
    * ([[graft.similarity.ManifestAnn]] — the vector twin of the q145
    * stored postings index): vectors land in TWO incremental appends
    * (the second is pure index maintenance — additive centroid-sum
    * sidecar, no rebuild), each range-partitioned on the list id so
    * per-file [min, max] list stats are tight, then a FILTERED probe
    * (top-2 lists by centroid cosine, metadata predicate
    * `vec_id % 7 <> 3` inside the pruned scan) returns the exact
    * top-10 within the probed lists via the planner-integrated
    * IN-pruned scan. The oracle replays list selection from raw
    * centroid sums and the filtered in-list ranking — storage,
    * incrementality, and pruning must all be semantics-invisible
    * (ManifestAnnSpec pins that the probe actually skips files). */
  val q170 = Q("q170_manifest_ivf",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q170").toString + "/ivf"
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          Similarity.quantize(col("embedding")).as("qv"))
      val idx = base.filter(col("vec_id") =!= 0)
      import graft.similarity.ManifestAnn
      ManifestAnn.appendBatch(idx.filter(col("vec_id") % 3 =!= 2),
        root, "label", "vec_id", "qv")
      ManifestAnn.appendBatch(idx.filter(col("vec_id") % 3 === 2),
        root, "label", "vec_id", "qv")
      val qqv = base.filter(col("vec_id") === 0)
        .select("qv").head().getSeq[Long](0)
      ManifestAnn.probe(s, root, "label", "vec_id", "qv", qqv,
        nProbe = 2, k = 10, rowFilter = col("vec_id") % 7 =!= 3)
    },
    Some(s"""WITH base AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        $quantSql AS qv FROM embeddings),
      q AS (SELECT qv AS qqv FROM base WHERE vec_id = 0),
      idx AS (SELECT * FROM base WHERE vec_id <> 0),
      expl AS (SELECT label, unnest(qv) AS v,
        generate_subscripts(qv, 1) AS pos FROM idx),
      cent AS (SELECT label, list(sv ORDER BY pos) AS cvec FROM
                 (SELECT label, pos, SUM(v) AS sv FROM expl GROUP BY label, pos)
               GROUP BY label),
      top2 AS (SELECT label FROM cent, q
               ORDER BY ${cosSql("cvec", "qqv")} DESC, label ASC LIMIT 2)
      SELECT b.vec_id, b.label, ${cosSql("b.qv", "q.qqv")} AS cosine
      FROM idx b, q
      WHERE b.label IN (SELECT label FROM top2) AND b.vec_id % 7 <> 3
      ORDER BY cosine DESC, b.vec_id LIMIT 10"""))

  /** Atomic slab REPLACE on the manifest store
    * ([[graft.store.Manifest.replaceWhereBetween]] — the public Delta
    * `replaceWhere` dynamic overwrite, the backfill primitive): orders
    * land as four range-disjoint stat'd files, then a corrected
    * backfill re-lands the [cut/2, 2·cut−1] key slab in ONE commit —
    * one file fully replaced, one clipped to its out-of-range
    * survivors, the rest carried by identity — keeping only every
    * second key with restated price/status. The oracle replays the
    * slab swap in plain SQL (outside-range rows ∪ revised slab), so a
    * resurrected replaced row, a lost survivor at the clip boundary,
    * or a dropped backfill row all hash-mismatch; `meta_rows` pins the
    * footer-count metadata count(*) through the partial rewrite. */
  val q171 = Q("q171_manifest_replace",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q171").toString + "/orders_rw"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      val lo = cut / 2; val hiK = 2 * cut - 1
      val backfill = orders
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hiK &&
          col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
        .withColumn("o_orderstatus", lit("R"))
      Manifest.replaceWhereBetween(backfill, root, "o_orderkey", lo, hiK)
      val metaRows = Manifest.rowCount(Manifest.current(s, root).get)
        .getOrElse(sys.error("replaceWhere lost the footer row counts"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("meta_rows", lit(metaRows))
        .orderBy("status")
    },
    Some(s"""WITH cut AS (SELECT MAX(o_orderkey) // 4 + 1 AS c FROM orders),
      merged AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders, cut
        WHERE o_orderkey NOT BETWEEN c // 2 AND 2 * c - 1
        UNION ALL
        SELECT o_orderkey, 'R', o_totalprice + 500.0 FROM orders, cut
        WHERE o_orderkey BETWEEN c // 2 AND 2 * c - 1 AND o_orderkey % 2 = 0)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price,
        (SELECT COUNT(*) FROM merged) AS meta_rows
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** TRAINED-list IVF at rest — the production index form over the
    * manifest store: list ids come from the deterministic k-means
    * assignment ([[graft.similarity.Similarity.kmeansAssign]], q77's
    * exact-integer argmin over smallest-id seeds) instead of given
    * labels, the index lands in two incremental appends, the centroid
    * sidecar is FOLDED by [[graft.similarity.ManifestAnn.compactCents]]
    * (maintenance must not move a single result), and the probe reads
    * the top-2 data-driven lists through the pruned scan. The oracle
    * replays assignment, summed centroids, list selection, and the
    * in-list ranking — training, storage, incrementality, and sidecar
    * compaction all have to be jointly semantics-exact. */
  val q172 = Q("q172_manifest_ivf_trained",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q172").toString + "/ivf_t"
      val emb = t(s, dir, "embeddings")
      val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8)
      val base = emb
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
        .join(assigned.select("vec_id", "cid"), Seq("vec_id"))
      val idx = base.filter(col("vec_id") =!= 0)
      import graft.similarity.ManifestAnn
      ManifestAnn.appendBatch(idx.filter(col("vec_id") % 3 =!= 2),
        root, "cid", "vec_id", "qv")
      ManifestAnn.appendBatch(idx.filter(col("vec_id") % 3 === 2),
        root, "cid", "vec_id", "qv")
      ManifestAnn.compactCents(s, root, "cid")
      val qqv = base.filter(col("vec_id") === 0)
        .select("qv").head().getSeq[Long](0)
      ManifestAnn.probe(s, root, "cid", "vec_id", "qv", qqv,
        nProbe = 2, k = 10)
    },
    Some(s"""WITH base AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
      c AS (SELECT vec_id AS cid, qv AS cqv FROM base ORDER BY vec_id LIMIT 8),
      ex AS (SELECT vec_id, CAST(i AS INT) AS pos, qv[CAST(i AS INT)] AS x
             FROM base, range(1, 65) t(i)),
      cx AS (SELECT cid, CAST(i AS INT) AS pos, cqv[CAST(i AS INT)] AS cv
             FROM c, range(1, 65) t(i)),
      d AS (SELECT vec_id, cid, CAST(SUM((x-cv)*(x-cv)) AS BIGINT) AS dist2
            FROM ex JOIN cx USING (pos) GROUP BY vec_id, cid),
      a AS (SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
              FROM d) WHERE rn = 1),
      q AS (SELECT qv AS qqv FROM base WHERE vec_id = 0),
      idx AS (SELECT b.vec_id, a.cid, b.qv FROM base b
              JOIN a USING (vec_id) WHERE b.vec_id <> 0),
      expl AS (SELECT cid, unnest(qv) AS v,
        generate_subscripts(qv, 1) AS pos FROM idx),
      cent AS (SELECT cid, list(sv ORDER BY pos) AS cvec FROM
                 (SELECT cid, pos, SUM(v) AS sv FROM expl GROUP BY cid, pos)
               GROUP BY cid),
      top2 AS (SELECT cid FROM cent, q
               ORDER BY ${cosSql("cvec", "qqv")} DESC, cid ASC LIMIT 2)
      SELECT b.vec_id, b.cid, ${cosSql("b.qv", "q.qqv")} AS cosine
      FROM idx b, q
      WHERE b.cid IN (SELECT cid FROM top2)
      ORDER BY cosine DESC, b.vec_id LIMIT 10"""))

  /** BLOOM-INDEXED point lookups on the manifest store
    * ([[graft.store.Manifest.buildBloomIndex]]/`readWhereEquals` — the
    * public Delta bloom-filter-index idea): orders land HASH-split so
    * every file's o_orderkey [min, max] spans the whole table (the
    * skip stats provably can't prune a point probe — the layout
    * min/max skipping is worst-case for), then three needle lookups
    * read through the per-file bloom sidecar. The oracle is the plain
    * equality join — pruning must be semantics-invisible
    * (ManifestSpec pins that the bloom actually skips files where
    * stats keep all of them). */
  val q173 = Q("q173_manifest_bloom",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q173").toString + "/orders_b"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      (0 to 3).foreach { b =>
        Manifest.append(
          orders.filter(pmod(xxhash64(col("o_orderkey")), lit(4)) === b)
            .coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      Manifest.buildBloomIndex(s, root, "o_orderkey")
      val keys = orders.filter(col("o_orderkey") % 997 === 0)
        .orderBy("o_orderkey").limit(3)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      keys.map(k => Manifest.readWhereEquals(s, root, "o_orderkey", k))
        .reduce(_ unionByName _)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""WITH ks AS (SELECT o_orderkey AS k FROM orders
        WHERE o_orderkey % 997 = 0 ORDER BY 1 LIMIT 3)
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders JOIN ks ON o_orderkey = k
      ORDER BY o_orderkey"""))

  /** INCREMENTAL MATERIALIZED VIEW over the change feed
    * ([[graft.streaming.StreamOps.materializedAggStep]] +
    * [[graft.store.Manifest.upsertOnce]] — the public IVM idea):
    * orders land in the source table as three commits; the per-
    * customer aggregate view is maintained by a bootstrap step and ONE
    * incremental step folding two pending commits (delta aggregated,
    * touched keys' current rows merged by kind, watermark advanced in
    * the same atomic commit — a replayed fold would DOUBLE-COUNT, so
    * exactly-once is load-bearing here, not hygiene); a third pump is
    * a no-op. The oracle is the plain GROUP BY over all of orders —
    * the view's whole contract is that no fold sequence can diverge
    * from the full recompute. */
  val q174 = Q("q174_manifest_matview",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q174").toString
      val src = s"$base/orders_src"; val dst = s"$base/orders_mv"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val aggs = Seq(
        ("n_orders", "count", ""),
        ("total_cents", "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"),
        ("min_key", "min", "o_orderkey"),
        ("max_key", "max", "o_orderkey"))
      def pump() = graft.streaming.StreamOps.materializedAggStep(
        s, src, dst, "mv", "o_custkey", aggs)
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 0), src)
      pump() // bootstrap
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 1), src)
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 2), src)
      pump() // one step, two pending commits
      pump() // up to date: no-op
      Manifest.read(s, dst).orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** RAG RETRIEVAL STACK AT REST — the capstone composition: BOTH
    * retrievers run against STORED indexes (the q145 bucketed postings
    * table feeds BM25 — term filters are bucket-pruned scans of the
    * index at rest; the q170 manifest IVF feeds the vector side — a
    * probed, file-pruned scan of the versioned vector table), then the
    * two bounded top-20 lists fuse by exact-integer RRF. Nothing
    * rescans the corpus at query time: postings cost follows the query
    * terms' lists, vector cost follows the probed lists' files, fusion
    * moves O(k) rows — the production retrieval architecture end to
    * end. The oracle replays the BM25 quantization chain, the IVF list
    * selection + in-list ranking (approximate BY CONTRACT — ids
    * outside the probed lists can't appear), and the fused floor
    * arithmetic from the raw tables. */
  val q175 = Q("q175_rag_at_rest",
    (s, dir) => {
      import graft.operators.RankFusion
      val docs = t(s, dir, "documents")
      graft.text.Search.writePostingsIndex(docs, "doc_id", "text",
        "graft_q175_postings", numBuckets = 8)
      val lex = graft.text.Search.rankByBm25Bits(
        s.table("graft_q175_postings"),
        query = Seq("table", "hash", "scan"), nDocs = docs.count(), k = 20)
      val lexR = RankFusion.rankBy(lex,
          Seq(col("score_milli_bits").desc, col("id").asc))
        .select("id", "rank")
      val root = graft.TempDirs
        .create("graft_q175").toString + "/ivf"
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          Similarity.quantize(col("embedding")).as("qv"))
      import graft.similarity.ManifestAnn
      ManifestAnn.appendBatch(base.filter(col("vec_id") =!= 0),
        root, "label", "vec_id", "qv")
      val qqv = base.filter(col("vec_id") === 0)
        .select("qv").head().getSeq[Long](0)
      val vec = ManifestAnn.probe(s, root, "label", "vec_id", "qv", qqv,
        nProbe = 2, k = 20)
      val vecR = RankFusion.rankBy(vec,
          Seq(col("cosine").desc, col("vec_id").asc))
        .select(col("vec_id").as("id"), col("rank"))
      RankFusion.rrf(Seq(lexR, vecR), "id", k = 10)
    },
    Some(s"""WITH $lmToksCte,
      $postingsCte,
      dls AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM post GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n FROM documents),
      am AS (SELECT (1000 * (SELECT SUM(dl) FROM dls)) // n AS avgm
        FROM nd),
      qt AS (SELECT * FROM post WHERE term IN ('table', 'hash', 'scan')),
      idf AS (SELECT term, CAST(COUNT(DISTINCT id) AS BIGINT) AS df
        FROM qt GROUP BY 1),
      idfb AS (SELECT term, ${fl2rSql("(2*n+2)", "(2*df+1)")} AS ib
        FROM idf CROSS JOIN nd),
      tf AS (SELECT term, id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM qt GROUP BY 1, 2),
      lfx AS (SELECT t.term, t.id, t.tf,
          ((1000 - 750) * avgm + 750 * 1000 * dl) // avgm AS lf
        FROM tf t JOIN dls USING (id) CROSS JOIN am),
      sc AS (SELECT id,
          SUM(ib * ((1000000 * tf * (1200 + 1000)) //
            (1000000 * tf + 1200 * lf))) AS score
        FROM lfx JOIN idfb USING (term) GROUP BY 1),
      lexs AS (SELECT id, CAST(score AS BIGINT) AS score FROM sc
        ORDER BY score DESC, id LIMIT 20),
      lex AS (SELECT id,
          row_number() OVER (ORDER BY score DESC, id) AS r FROM lexs),
      vbase AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        $quantSql AS qv FROM embeddings),
      vq AS (SELECT qv AS qqv FROM vbase WHERE vec_id = 0),
      vidx AS (SELECT * FROM vbase WHERE vec_id <> 0),
      vexpl AS (SELECT label, unnest(qv) AS v,
        generate_subscripts(qv, 1) AS pos FROM vidx),
      vcent AS (SELECT label, list(sv ORDER BY pos) AS cvec FROM
                  (SELECT label, pos, SUM(v) AS sv FROM vexpl
                   GROUP BY label, pos)
                GROUP BY label),
      vtop2 AS (SELECT label FROM vcent, vq
                ORDER BY ${cosSql("cvec", "qqv")} DESC, label ASC LIMIT 2),
      vscore AS (SELECT b.vec_id, ${cosSql("b.qv", "vq.qqv")} AS cosine
        FROM vidx b, vq
        WHERE b.label IN (SELECT label FROM vtop2)
        ORDER BY cosine DESC, b.vec_id LIMIT 20),
      vec AS (SELECT vec_id AS id,
          row_number() OVER (ORDER BY cosine DESC, vec_id) AS r FROM vscore),
      fused AS (SELECT id, 1000000000 // (60 + r) AS contrib FROM lex
        UNION ALL SELECT id, 1000000000 // (60 + r) FROM vec)
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_lists,
        CAST(SUM(contrib) AS BIGINT) AS rrf_ppb
      FROM fused GROUP BY id ORDER BY rrf_ppb DESC, id LIMIT 10"""))

  /** IN-LIST fetch through the bloom screen
    * ([[graft.store.Manifest.readWhereIn]] — the id-list retrieval
    * shape: fetch THESE document/order ids from a huge table): same
    * hash-split worst-case-for-stats layout as q173, but five needles
    * resolved in ONE scan of the union candidate set (per-value bloom
    * screen, one job for all probe hashes). Oracle is the plain IN
    * join; an absent id (the shifted key) must contribute nothing. */
  val q176 = Q("q176_manifest_bloom_in",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q176").toString + "/orders_bi"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      (0 to 3).foreach { b =>
        Manifest.append(
          orders.filter(pmod(xxhash64(col("o_orderkey")), lit(4)) === b)
            .coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      Manifest.buildBloomIndex(s, root, "o_orderkey")
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val keys = orders.filter(col("o_orderkey") % 997 === 0)
        .orderBy("o_orderkey").limit(4)
        .select("o_orderkey").collect().map(_.getLong(0)).toSeq
      Manifest.readWhereIn(s, root, "o_orderkey", keys :+ (hi + 12345L))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""WITH ks AS (SELECT o_orderkey AS k FROM orders
        WHERE o_orderkey % 997 = 0 ORDER BY 1 LIMIT 4)
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders JOIN ks ON o_orderkey = k
      ORDER BY o_orderkey"""))

  /** GENERAL-predicate atomic replace
    * ([[graft.store.Manifest.replaceWhere]] — the full public
    * replaceWhere contract beyond q171's range slab): every
    * even-keyed 'F' order is swapped for a price-restated copy in ONE
    * commit, touched files discovered by a predicate-pushdown scan,
    * survivors = each touched file's non-matching rows. The oracle
    * replays the swap as NOT(pred) ∪ batch in plain SQL. */
  val q177 = Q("q177_manifest_replace_where",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q177").toString + "/orders_rwp"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val hi = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = hi / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      val predSql = "o_orderstatus = 'F' AND o_orderkey % 2 = 0"
      val batch = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(250.0))
      Manifest.replaceWhere(batch, root, predSql)
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .orderBy("status")
    },
    Some(s"""WITH merged AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 2 = 0)
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 250.0 FROM orders
        WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** RETRACTION-CAPABLE incremental materialized view
    * ([[graft.streaming.StreamOps.materializedAggStep]] over
    * [[graft.store.Manifest.changesWithDeltas]] — the IVM signed-fold
    * rule): the source table lives a full mutation lifecycle — three
    * range appends, an UPSERT price bump on every seventh order of the
    * top third (touched-file rewrite: remove+insert pairs in the
    * feed), a DELETION-VECTOR slab delete by order key (remove rows on
    * CARRIED files — the DV-diff feed path), and a DV delete of
    * customers 1–30 wholesale (groups whose folded count hits ZERO and
    * must be EVICTED, not kept as zeroed husks) — then ONE retracting
    * fold covers all three mutations: count/sum fold signed deltas,
    * min/max are recounted per touched key from the pinned source, and
    * a final pump is a no-op. The oracle is the plain GROUP BY over
    * the final logical source — the view's whole contract is that no
    * fold sequence, retracting or not, can diverge from the full
    * recompute. */
  val q178 = Q("q178_matview_retraction",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q178").toString
      val src = s"$base/orders_src"; val dst = s"$base/orders_mv"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      val aggs = Seq(
        ("n_orders", "count", ""),
        ("total_cents", "sum", "CAST(round(o_totalprice * 100) AS BIGINT)"),
        ("min_key", "min", "o_orderkey"),
        ("max_key", "max", "o_orderkey"))
      def pump() = graft.streaming.StreamOps.materializedAggStep(
        s, src, dst, "mv", "o_custkey", aggs)
      val stats = Seq("o_orderkey", "o_custkey")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val t1 = mk / 3; val t2 = 2 * mk / 3
      Manifest.append(orders.filter(col("o_orderkey") <= t1).coalesce(1),
        src, statsCols = stats)
      pump() // bootstrap
      Manifest.append(orders.filter(col("o_orderkey") > t1 &&
        col("o_orderkey") <= t2).coalesce(1), src, statsCols = stats)
      Manifest.append(orders.filter(col("o_orderkey") > t2).coalesce(1),
        src, statsCols = stats)
      pump() // insert-only fold over two commits
      // UPDATE: bump every seventh order of the top third — touched-file
      // merge, so only the top-range file rewrites
      Manifest.upsert(orders
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") > t2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        src, "o_orderkey")
      // DELETE 1 (DV form): a mid-table slab by order key — the vector
      // lands on files the window otherwise CARRIES
      Manifest.deleteWhereBetweenDv(s, src, "o_orderkey", mk / 5, 2 * mk / 5)
      // DELETE 2 (DV form): customers 1..30 wholesale — guaranteed
      // zero-count groups the view must evict
      Manifest.deleteWhereBetweenDv(s, src, "o_custkey", 1L, 30L)
      pump() // ONE retracting fold over upsert + both deletes
      pump() // up to date: no-op
      Manifest.read(s, dst).orderBy("o_custkey")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      final AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 7 = 0 AND o_orderkey > (2 * mk) // 3
            THEN o_totalprice + 100.0 ELSE o_totalprice END AS price
        FROM orders, mx
        WHERE NOT (o_orderkey BETWEEN mk // 5 AND (2 * mk) // 5)
          AND NOT (o_custkey BETWEEN 1 AND 30))
      SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** PQ/ADC CODES AT REST in the manifest IVF index
    * ([[graft.similarity.ManifestAnn.buildPq]]/`appendBatchPq`/
    * `probePq` — the compression layer of the stored vector index,
    * q112's IVFADC-R form moved onto versioned tables): the index is
    * built in TWO batches — odd vec_ids appended, then the PQ layer
    * built (floored-mean coarse centroids + residual codes against the
    * q109 fixed codebook), then even vec_ids appended THROUGH the
    * frozen codebook (`appendBatchPq` — streaming-encode, nothing
    * retrained) — and probed compressed: routing by centroid-sum
    * cosine, ADC scoring from the file-pruned CODES table
    * (⟨q,mvec⟩ + Σ LUT), top-30 candidates, EXACT cosine re-rank of
    * just those ids' full vectors. The oracle replays the entire
    * chain — sums routing, first-batch-only floored means, residual
    * argmin encode of BOTH batches, LUT, coarse+fine assembly,
    * candidate cut, exact re-rank — so a drift in any stage, or a
    * stale/missing code for the post-build batch, hash-mismatches. */
  val q179 = Q("q179_manifest_ivfpq_at_rest",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q179").toString + "/ivf"
      import graft.similarity.ManifestAnn
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          Similarity.quantize(col("embedding")).as("qv"))
      ManifestAnn.appendBatch(base.filter(col("vec_id") % 2 === 1),
        root, "label", "vec_id", "qv")
      ManifestAnn.buildPq(s, root, "label", "vec_id", "qv",
        codebook = Some(pqFixedCodebook(s)))
      ManifestAnn.appendBatchPq(base.filter(col("vec_id") % 2 === 0),
        root, "label", "vec_id", "qv")
      val qqv = Seq.tabulate(64)(j => (((j * 13) % 29) - 14) * 10L)
      ManifestAnn.probePq(s, root, "label", "vec_id", "qv", qqv,
        nProbe = 2, k = 10, rerank = 3)
    },
    Some(s"""WITH qv AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        $quantSql AS v FROM embeddings),
      q AS (SELECT list(CAST((((j*13) % 29) - 14) * 10 AS BIGINT) ORDER BY j) AS qqv
            FROM range(0, 64) t(j)),
      expl AS (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM qv),
      cent AS (SELECT label, list(sv ORDER BY pos) AS cvec FROM
                 (SELECT label, pos, SUM(x) AS sv FROM expl GROUP BY label, pos)
               GROUP BY label),
      top2 AS (SELECT label FROM cent, q
               ORDER BY ${cosSql("cvec", "qqv")} DESC, label ASC LIMIT 2),
      mexp AS (SELECT label, pos,
          CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mv
        FROM (SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS pos
              FROM qv WHERE vec_id % 2 = 1)
        GROUP BY label, pos),
      mcent AS (SELECT label, list(mv ORDER BY pos) AS mvec FROM mexp GROUP BY label),
      coarse AS (SELECT label,
          CAST(list_sum(list_transform(list_zip(mvec, qqv), p -> p[1]*p[2])) AS BIGINT) AS coarse
        FROM mcent, q),
      diffs AS (SELECT b.vec_id, t.s, u.c, w.j,
          b.v[CAST(t.s*16 + w.j + 1 AS INT)] - m.mv
            - (((t.s*131 + u.c*17 + w.j*7) % 41) - 20) * 10 AS df
        FROM qv b
        CROSS JOIN range(0, 4) t(s)
        CROSS JOIN range(0, 8) u(c)
        CROSS JOIN range(0, 16) w(j)
        JOIN mexp m ON m.label = b.label AND m.pos = t.s*16 + w.j + 1),
      d AS (SELECT vec_id, s, c, CAST(SUM(df * df) AS BIGINT) AS dist
        FROM diffs GROUP BY vec_id, s, c),
      best AS (SELECT vec_id, s, c,
          row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
        FROM d),
      codes AS (SELECT vec_id, s, c FROM best WHERE rn = 1),
      lut AS (SELECT s, c,
          CAST(SUM((((j*13) % 29) - 14) * 10
                   * (((s*131 + c*17 + ((j % 16))*7) % 41) - 20) * 10) AS BIGINT) AS l
        FROM range(0, 4) t(s), range(0, 8) u(c), range(0, 64) w(j)
        WHERE j // 16 = s
        GROUP BY s, c),
      adc AS (SELECT cd.vec_id, CAST(SUM(l.l) AS BIGINT) + MIN(co.coarse) AS adc
        FROM codes cd JOIN qv b USING (vec_id)
        JOIN coarse co ON co.label = b.label
        JOIN lut l USING (s, c)
        WHERE b.label IN (SELECT label FROM top2)
        GROUP BY cd.vec_id),
      cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 30)
      SELECT b.vec_id, b.label, ${cosSql("b.v", "q.qqv")} AS cosine
      FROM qv b JOIN cand USING (vec_id), q
      ORDER BY cosine DESC, b.vec_id LIMIT 10"""))

  /** COLUMN MAPPING lifecycle ([[graft.store.Manifest.renameColumn]] /
    * `dropColumn` — the public Delta column-mapping idea as
    * metadata-only commits): orders land as two stat-indexed appends,
    * then the schema is reshaped WITHOUT touching a data file —
    * o_totalprice renamed to price, o_orderdate dropped, o_orderkey
    * renamed to okey — an upsert merges price bumps THROUGH the
    * renamed key (batch authored entirely in post-surgery logical
    * names), and the final aggregate runs on the planner scan with a
    * filter on the renamed key (the alias rewrites into the physical
    * attribute, so the manifest stats still file-prune). The oracle
    * replays the same data under the ORIGINAL names — any leak of
    * physical names into results, a dropped-column resurrection, or a
    * rename that moved data hash-mismatches. */
  val q180 = Q("q180_manifest_column_mapping",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q180").toString + "/orders_cm"
      import graft.store.Manifest
      val orders = t(s, dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        "o_orderdate")
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      Manifest.renameColumn(s, root, "o_totalprice", "price")
      Manifest.dropColumn(s, root, "o_orderdate")
      Manifest.renameColumn(s, root, "o_orderkey", "okey")
      Manifest.upsert(orders.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey").as("okey"), col("o_custkey"),
          (col("o_totalprice") + lit(100.0)).as("price"),
          col("o_orderstatus")),
        root, "okey")
      Manifest.read(s, root)
        .filter(col("okey") <= mk / 4)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(price * 100) AS BIGINT)")).as("cents"))
        .orderBy("o_orderstatus")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      cur AS (SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 100.0
               ELSE o_totalprice END AS price
        FROM orders)
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM cur, mx WHERE o_orderkey <= mk // 4
      GROUP BY 1 ORDER BY 1"""))

  /** INCREMENTAL CLUSTERING lifecycle
    * ([[graft.store.Manifest.compactClusteredIncremental]] — liquid-
    * style OPTIMIZE with ZCube provenance): orders land, the table is
    * curve-clustered (one stable cube), then TWO fresh append waves
    * pollute the skip index (each spans the whole (custkey, price)
    * space), and ONE incremental pass re-clusters only the polluting
    * files (the cube's tiles carry by identity). The final read is the
    * same conjunctive box probe as q161, over base + both waves with
    * their price bumps — a selection bug (a dropped polluter, a
    * double-counted cube file, rows lost in the rewrite) changes the
    * aggregate and hash-mismatches. */
  val q181 = Q("q181_manifest_inc_cluster",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q181").toString + "/orders_lc"
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      import graft.store.Manifest
      Manifest.append(orders.filter(col("o_orderkey") % 3 =!= 0), root,
        statsCols = Seq("o_custkey", "o_totalprice"))
      Manifest.compactClustered(s, root, Seq("o_custkey", "o_totalprice"),
        targetBytes = 256 * 1024, curve = "hilbert")
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 0 &&
          col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
          .coalesce(1),
        root, statsCols = Seq("o_custkey", "o_totalprice"))
      Manifest.append(orders.filter(col("o_orderkey") % 3 === 0 &&
          col("o_orderkey") % 2 =!= 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(20.0))
          .coalesce(1),
        root, statsCols = Seq("o_custkey", "o_totalprice"))
      Manifest.compactClusteredIncremental(s, root,
        Seq("o_custkey", "o_totalprice"), targetBytes = 64 * 1024,
        curve = "hilbert", cubeMinBytes = 32 * 1024)
      Manifest.readWhere(s, root,
        Seq(("o_custkey", 100L, 500L), ("o_totalprice", 50000.0, 150000.0)))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"))
        .orderBy("status")
    },
    Some(s"""WITH cur AS (SELECT o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 <> 0 THEN o_totalprice
             WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10.0
             ELSE o_totalprice + 20.0 END AS o_totalprice
      FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        ${dsumSql("o_totalprice")} AS total_price,
        MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust
      FROM cur
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_totalprice BETWEEN 50000.0 AND 150000.0
      GROUP BY 1 ORDER BY 1"""))

  /** HARD-NEGATIVE MINING ([[graft.similarity.Similarity.hardNegatives]]
    * — the contrastive-training data op, DPR/ANCE recipe): three
    * queries, each with three labeled positives, mine their top-8
    * negatives through the IVF probe (top-2 lists by centroid-sum
    * cosine) with the false-negative guard ON — candidates scoring at
    * or above the query's weakest positive are presumed unlabeled
    * positives and dropped. The oracle replays routing, scoring, the
    * positive anti-join, the per-query positive floor, and the k-cut;
    * a candidate leaking through the guard, a positive surviving the
    * anti-join, or a routing drift hash-mismatches. */
  val q182 = Q("q182_hard_negatives",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("label").cast(LongType).as("label"),
          Similarity.quantize(col("embedding")).as("qv"))
      val queries = base.filter(col("id").isin(10L, 20L, 30L))
        .select(col("id").as("qid"), col("qv").as("qqv"))
      val positives = queries.select(col("qid"))
        .crossJoin(broadcast(Seq(1L, 2L, 3L).toDF("d")))
        .select(col("qid"), (col("qid") + col("d")).as("id"))
      Similarity.hardNegatives(base, "label", queries, positives,
        k = 8, nprobe = 2, skipAbovePositive = true)
        .orderBy("qid", "id")
    },
    Some(s"""WITH base AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
        $quantSql AS qv FROM embeddings),
      q AS (SELECT id AS qid, qv AS qqv FROM base WHERE id IN (10, 20, 30)),
      pos AS (SELECT qid, qid + d AS id FROM q, (SELECT unnest([1,2,3]) AS d)),
      expl AS (SELECT label, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos
               FROM base),
      cent AS (SELECT label, list(sv ORDER BY pos) AS cvec FROM
                 (SELECT label, pos, SUM(v) AS sv FROM expl GROUP BY label, pos)
               GROUP BY label),
      routed AS (SELECT qid, label,
          row_number() OVER (PARTITION BY qid
            ORDER BY ${cosSql("cvec", "qqv")} DESC, label) AS rn
        FROM cent, q),
      probed AS (SELECT qid, label FROM routed WHERE rn <= 2),
      cand AS (SELECT p.qid, b.id, ${cosSql("b.qv", "q.qqv")} AS cosine
        FROM base b JOIN probed p ON b.label = p.label
        JOIN q ON q.qid = p.qid
        WHERE b.id <> p.qid),
      negs AS (SELECT c.* FROM cand c WHERE NOT EXISTS
        (SELECT 1 FROM pos WHERE pos.qid = c.qid AND pos.id = c.id)),
      pmin AS (SELECT pos.qid, MIN(${cosSql("b.qv", "q.qqv")}) AS pm
        FROM pos JOIN base b ON b.id = pos.id
        JOIN q ON q.qid = pos.qid GROUP BY pos.qid),
      kept AS (SELECT a.qid, a.id, a.cosine FROM negs a
        LEFT JOIN pmin m ON m.qid = a.qid
        WHERE m.pm IS NULL OR a.cosine < m.pm),
      cut AS (SELECT qid, id,
          row_number() OVER (PARTITION BY qid
            ORDER BY cosine DESC, id) AS rn
        FROM kept)
      SELECT qid, id FROM cut WHERE rn <= 8 ORDER BY qid, id"""))

  /** CONDITIONAL MERGE ([[graft.store.Manifest.mergeInto]] — the
    * public Delta MERGE INTO's UPDATE-SET arm, where upsert is
    * whole-row replace): every 13th order is matched by a source row
    * and updates ONLY price (t.price + s.price/10 — an expression over
    * BOTH sides) and status (t || '+'); the source also carries
    * key-shifted NEW orders that insert in the same atomic commit.
    * Cost follows touched files (stats-pruned + semi-join discovery);
    * the oracle replays update arithmetic and the insert union — a
    * column clobbered by the SET, a lost carry column, or an insert
    * that double-landed hash-mismatches. */
  val q183 = Q("q183_manifest_merge_into",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q183").toString + "/orders_mi"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      val matchedSrc = orders.filter(col("o_orderkey") % 13 === 0)
      val insertSrc = matchedSrc
        .select((col("o_orderkey") + lit(mk + 1)).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          lit("N").as("o_orderstatus"))
      Manifest.mergeInto(matchedSrc.unionByName(insertSrc), root,
        "o_orderkey",
        Map("o_totalprice" -> "t.o_totalprice + s.o_totalprice / 10",
          "o_orderstatus" -> "concat(t.o_orderstatus, '+')"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      final AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0
            THEN o_totalprice + o_totalprice / 10 ELSE o_totalprice END AS price,
          CASE WHEN o_orderkey % 13 = 0
            THEN o_orderstatus || '+' ELSE o_orderstatus END AS status
        FROM orders
        UNION ALL
        SELECT o_orderkey + mk + 1, o_totalprice, 'N'
        FROM orders, mx WHERE o_orderkey % 13 = 0)
      SELECT status, COUNT(*) AS n,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** QUARANTINE APPEND ([[graft.store.Manifest.appendQuarantine]] —
    * the dead-letter shape of CHECK enforcement: plain append refuses
    * the whole batch on one bad row, the standing loop routes bad rows
    * aside and keeps moving): a table of modest orders is constrained
    * (price cap + non-negative key), then the REST of the orders
    * append through the quarantine — violators land in the DLQ with
    * the first failed constraint's name, clean rows land in the table.
    * The result unions both tables with their provenance; the oracle
    * replays the split — one bad row leaking into the table, a lost
    * good row, or a wrong violation tag hash-mismatches. */
  val q184 = Q("q184_manifest_quarantine",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q184").toString + "/orders_q"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      Manifest.append(orders.filter(col("o_totalprice") <= 150000.0), root,
        statsCols = Seq("o_orderkey"))
      Manifest.addCheck(s, root, "price_cap", "o_totalprice <= 150000.0")
      Manifest.addCheck(s, root, "a_extreme", "o_totalprice <= 400000.0")
      Manifest.appendQuarantine(
        orders.filter(col("o_totalprice") > 150000.0), root, root + "_dlq")
      val main = Manifest.read(s, root)
        .select(col("o_orderstatus"), lit("table").as("dest"),
          lit(null).cast("string").as("violated"), col("o_totalprice"))
      val dlq = Manifest.read(s, root + "_dlq")
        .select(col("o_orderstatus"), lit("dlq").as("dest"),
          col("__violated").as("violated"), col("o_totalprice"))
      main.unionByName(dlq)
        .groupBy("dest", "violated", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy("dest", "violated", "o_orderstatus")
    },
    Some("""WITH tagged AS (
        SELECT o_orderstatus, o_totalprice,
          CASE WHEN o_totalprice <= 150000.0 THEN 'table' ELSE 'dlq' END AS dest,
          CASE WHEN o_totalprice <= 150000.0 THEN NULL
               WHEN o_totalprice > 400000.0 THEN 'a_extreme'
               ELSE 'price_cap' END AS violated
        FROM orders)
      SELECT dest, violated, o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM tagged GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** PER-COMMIT CHANGE DATA FEED ([[graft.store.Manifest.changeFeed]]
    * — the public Delta `table_changes` surface over the manifest
    * store's file-granularity deltas): the table lives four commits —
    * genesis append (lower half), second append (upper half), an
    * UPSERT price bump on every tenth upper-half order (the touched
    * file's rows appear as a remove+insert pair AT version 2), and a
    * DELETION-VECTOR slab delete in the lower half (remove rows on a
    * CARRIED file at version 3) — and the feed attributes every row
    * delta to its commit. The oracle replays the per-commit ledger
    * (genesis inserts, append inserts, the upsert's full
    * remove+reinsert of the rewritten file, the DV slab's removes), so
    * a delta landing at the wrong version, a lost retraction, or a
    * pre/post-image value swap hash-mismatches. */
  val q185 = Q("q185_manifest_change_feed",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q185").toString + "/orders_cdf"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v1
      Manifest.upsert(orders
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") > mk / 2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(50.0)),
        root, "o_orderkey")                                        // v2
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey",
        mk / 8, mk / 4)                                            // v3
      Manifest.changeFeed(s, root, -1L, 3L)
        .groupBy(col(Manifest.CommitVersionCol).as("v"),
          col(Manifest.ChangeTypeCol).as("ct"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("v", "ct")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      lower_h AS (SELECT o_orderkey, o_totalprice FROM orders, mx
        WHERE o_orderkey <= mk // 2),
      upper_h AS (SELECT o_orderkey, o_totalprice FROM orders, mx
        WHERE o_orderkey > mk // 2),
      feed AS (
        SELECT 0 AS v, 'insert' AS ct, o_orderkey, o_totalprice FROM lower_h
        UNION ALL
        SELECT 1, 'insert', o_orderkey, o_totalprice FROM upper_h
        UNION ALL
        SELECT 2, 'remove', o_orderkey, o_totalprice FROM upper_h
        UNION ALL
        SELECT 2, 'insert', o_orderkey,
          CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 50.0
               ELSE o_totalprice END
        FROM upper_h
        UNION ALL
        SELECT 3, 'remove', o_orderkey, o_totalprice FROM lower_h, mx
        WHERE o_orderkey BETWEEN mk // 8 AND mk // 4)
      SELECT v, ct, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM feed GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** MERGE's WHEN NOT MATCHED BY SOURCE THEN DELETE arm
    * ([[graft.store.Manifest.mergeInto]] — the sync-to-source shape
    * completing the public MERGE triple): the source carries only the
    * orders that still exist upstream (keys not divisible by 9), with
    * a price restatement on every 13th; one merge then UPDATES matched
    * rows, and DELETES table rows the source no longer carries — but
    * only 'F'-status ones (the arm's own predicate; non-F orphans
    * survive). The oracle replays both arms row by row — a
    * non-F orphan deleted, an F orphan kept, or an update leaking onto
    * an orphan hash-mismatches. */
  val q186 = Q("q186_manifest_merge_nmbs",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q186").toString + "/orders_nmbs"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max("o_orderkey")).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))
      val sourceNow = orders.filter(col("o_orderkey") % 9 =!= 0)
      Manifest.mergeInto(sourceNow, root, "o_orderkey",
        Map("o_totalprice" ->
          "CASE WHEN s.o_orderkey % 13 = 0 THEN t.o_totalprice + 25.0 ELSE t.o_totalprice END"),
        insertUnmatched = false,
        notMatchedBySourceDeleteSql = Some("t.o_orderstatus = 'F'"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""WITH final AS (
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey % 9 <> 0 AND o_orderkey % 13 = 0
            THEN o_totalprice + 25.0 ELSE o_totalprice END AS price
        FROM orders
        WHERE NOT (o_orderkey % 9 = 0 AND o_orderstatus = 'F'))
      SELECT o_orderstatus AS status, COUNT(*) AS n,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** RETRACTION-CAPABLE CDC MIRROR
    * ([[graft.streaming.StreamOps.manifestCdcMirrorStep]] — the mirror
    * twin of q178's retracting matview: a downstream row-for-row copy
    * of a table the engine itself MUTATES, maintained by per-window
    * net-delta collapse into upsert + drop-keys, cursor and rows in
    * one atomic exactly-once commit): the source replays q178's full
    * lifecycle — three range appends, an upsert price bump, two
    * deletion-vector deletes — with mirror steps interleaved
    * (bootstrap, insert-only window, one RETRACTING window covering
    * all three mutations), then a no-op step, then a COMPACTION whose
    * window nets to zero rows (the cursor advances metadata-only).
    * The result digests the MIRROR table; the oracle is the final
    * source state — any lost retraction, double-applied update, or
    * resurrected deleted key hash-mismatches. */
  val q187 = Q("q187_manifest_cdc_mirror",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q187").toString
      val src = s"$base/orders_src"; val dst = s"$base/orders_mirror"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      def step() = graft.streaming.StreamOps.manifestCdcMirrorStep(
        s, src, dst, "cdc", "o_orderkey")
      val stats = Seq("o_orderkey", "o_custkey")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val t1 = mk / 3; val t2 = 2 * mk / 3
      Manifest.append(orders.filter(col("o_orderkey") <= t1).coalesce(1),
        src, statsCols = stats)
      step() // bootstrap
      Manifest.append(orders.filter(col("o_orderkey") > t1 &&
        col("o_orderkey") <= t2).coalesce(1), src, statsCols = stats)
      Manifest.append(orders.filter(col("o_orderkey") > t2).coalesce(1),
        src, statsCols = stats)
      step() // insert-only window over two commits
      Manifest.upsert(orders
        .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") > t2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        src, "o_orderkey")
      Manifest.deleteWhereBetweenDv(s, src, "o_orderkey", mk / 5, 2 * mk / 5)
      Manifest.deleteWhereBetweenDv(s, src, "o_custkey", 1L, 30L)
      step() // ONE retracting window over upsert + both deletes
      step() // up to date: no-op
      Manifest.compact(s, src)
      step() // net-zero window: cursor advances metadata-only
      Manifest.read(s, dst)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_custkey")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      final AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 7 = 0 AND o_orderkey > (2 * mk) // 3
            THEN o_totalprice + 100.0 ELSE o_totalprice END AS price
        FROM orders, mx
        WHERE NOT (o_orderkey BETWEEN mk // 5 AND (2 * mk) // 5)
          AND NOT (o_custkey BETWEEN 1 AND 30))
      SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** GENERAL-PREDICATE DELETE as a deletion vector
    * ([[graft.store.Manifest.deleteWhereDv]] — DELETE WHERE pred as a
    * pure metadata commit, completing the delete matrix: range/
    * predicate × rewrite/vector): a four-file orders table takes one
    * predicate delete (every third 'F' order) with ZERO files
    * rewritten, then a second, OVERLAPPING predicate delete (every
    * third order below the key median — the shared keys must dedup in
    * the vector, not double-count), and the result digests the
    * survivors THROUGH the planner scan plus the metadata row count.
    * The oracle replays both predicates; a resurrected row, a lost
    * 3VL edge, or a double-counted overlap hash-mismatches. */
  val q188 = Q("q188_manifest_delete_where",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q188").toString + "/orders_dwp"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = mk / 4 + 1
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey"))
      }
      val filesBefore = Manifest.current(s, root).get.files
      Manifest.deleteWhereDv(s, root,
        "o_orderstatus = 'F' AND o_orderkey % 3 = 0")
      Manifest.deleteWhereDv(s, root,
        s"o_orderkey % 3 = 0 AND o_orderkey <= ${mk / 2}")
      val snap = Manifest.current(s, root).get
      require(snap.files == filesBefore, "DV delete moved data files")
      val metaCount = Manifest.rowCount(snap).getOrElse(
        sys.error("metadata count lost under the vector"))
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .withColumn("meta_count", lit(metaCount))
        .orderBy("status")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      survivors AS (
        SELECT o_orderstatus, o_totalprice FROM orders, mx
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
          AND NOT (o_orderkey % 3 = 0 AND o_orderkey <= mk // 2)),
      total AS (SELECT COUNT(*) AS meta_count FROM survivors)
      SELECT o_orderstatus AS status, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        meta_count
      FROM survivors, total GROUP BY 1, 4 ORDER BY 1"""))

  /** STRING layout columns in clustered compaction
    * ([[graft.store.Layout.bucketOfString]]/`stringBoundariesFor`
    * through [[graft.store.Manifest.compactClustered]] — the common
    * 100 TB curation keys (lang, source, status) are strings, and
    * `approxQuantile` is numeric-only): orders land unsorted, the
    * table is curve-clustered on (status, key) — string buckets rank
    * under the same binary order the manifest stats prune with — and
    * the probe is a conjunctive (string, numeric) box through the
    * stats-pruned [[graft.store.Manifest.readWhere]]. The oracle is
    * the plain filter: a bucket misorder, a boundary off-by-one, or a
    * row lost in the rewrite hash-mismatches. */
  val q189 = Q("q189_manifest_string_cluster",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q189").toString + "/orders_sc"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.repartition(4), root,
        statsCols = Seq("o_orderstatus", "o_orderkey"))
      Manifest.compactClustered(s, root,
        Seq("o_orderstatus", "o_orderkey"), targetBytes = 64 * 1024)
      Manifest.readWhere(s, root,
          Seq(("o_orderstatus", "F", "F"), ("o_orderkey", 0L, mk / 2)))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders, mx
      WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 0 AND mk // 2
      GROUP BY 1 ORDER BY 1"""))

  /** ONE-CALL TABLE MAINTENANCE ([[graft.store.Maintenance]] — the
    * policy loop the public formats ship as a managed service, here a
    * library call a standing ingest loop owns): four append cycles
    * each followed by `Maintenance.run` under a clustering + gc
    * policy (incremental clustering with density selection, retention
    * sweep), then a predicate DV delete and one more maintenance
    * cycle. The whole contract under test is that maintenance NEVER
    * changes the table's logical contents while it rewrites layout
    * and sweeps history — the digest reads through the planner scan
    * and the oracle replays only the DATA operations. */
  val q190 = Q("q190_manifest_maintenance",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q190").toString + "/orders_mx"
      import graft.store.{Maintenance, MaintenancePolicy, Manifest}
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val cut = mk / 4 + 1
      val policy = MaintenancePolicy(
        layoutCols = Seq("o_orderkey", "o_custkey"),
        targetBytes = 64 * 1024, cubeMinBytes = 16 * 1024,
        keepVersions = 3)
      (0L to 3L).foreach { qtr =>
        Manifest.append(
          orders.filter(col("o_orderkey") >= qtr * cut &&
            col("o_orderkey") < (qtr + 1) * cut).coalesce(1),
          root, statsCols = Seq("o_orderkey", "o_custkey"))
        Maintenance.run(s, root, policy)
      }
      Manifest.deleteWhereDv(s, root, "o_orderkey % 5 = 0")
      Maintenance.run(s, root, policy)
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""SELECT o_orderstatus AS status, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey % 5 <> 0
      GROUP BY 1 ORDER BY 1"""))

  /** IMMUTABLE VERSION TAGS ([[graft.store.Manifest.tagVersion]] /
    * `tableAtTag` — the public Iceberg tag idea: pin "dataset-v1" for
    * a reproducible training run and hold it outside gc retention):
    * the lower half of orders lands and is TAGGED; the table then
    * lives on — upper-half append, an upsert price bump across BOTH
    * halves, a DV delete slab, and a gc whose retention depth would
    * sweep the tagged version (the tag protects it, checkpointed
    * self-contained). The digest reads THROUGH THE TAG; the oracle is
    * the tagged-time state — any post-tag mutation leaking through, or
    * a gc-broken resolution, hash-mismatches. */
  val q191 = Q("q191_manifest_dataset_tag",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q191").toString + "/orders_tag"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.tagVersion(s, root, "train-v1")                     // v1
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v2
      Manifest.upsert(orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(9.0)),
        root, "o_orderkey")                                        // v3
      Manifest.deleteWhereBetweenDv(s, root, "o_orderkey",
        mk / 8, mk / 4)                                            // v4
      Manifest.gc(s, root, keepVersions = 2, orphanMinAgeMs = 0L)
      Manifest.tableAtTag(s, root, "train-v1")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders)
      SELECT o_orderstatus AS status, COUNT(*) AS n,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders, mx WHERE o_orderkey <= mk // 2
      GROUP BY 1 ORDER BY 1"""))

  /** CDC MIRROR SURVIVING GC ([[graft.store.Manifest.changeFeedResync]]
    * / [[graft.streaming.StreamOps.manifestCdcMirrorStep]]'s
    * re-baseline — the lagging-consumer story every CDC system needs:
    * when retention outpaces a consumer's cursor, the exact delta is
    * unrecoverable, and the pump RE-BASELINES with one atomic
    * [[graft.store.Manifest.overwriteOnce]] — mirror contents and
    * cursor move together — instead of stranding forever): the source
    * takes three range appends (only the first mirrored), an upsert
    * price bump, and a DV delete slab; a gc at retention depth 1 then
    * DROPS the consumer's watermark version (required loudly). The
    * next pump re-baselines; exact incremental folding RESUMES over a
    * further upsert + DV delete window. The digest reads the MIRROR;
    * the oracle is the final source state — a resync that loses the
    * lost-window mutations, resurrects deleted keys, or double-applies
    * the post-resync window hash-mismatches. */
  val q192 = Q("q192_manifest_cdc_resync",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q192").toString
      val src = s"$base/orders_src"; val dst = s"$base/orders_mirror"
      val orders = t(s, dir, "orders")
      import graft.store.Manifest
      def step() = graft.streaming.StreamOps.manifestCdcMirrorStep(
        s, src, dst, "cdc", "o_orderkey")
      val stats = Seq("o_orderkey", "o_custkey")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val t1 = mk / 3; val t2 = 2 * mk / 3
      Manifest.append(orders.filter(col("o_orderkey") <= t1).coalesce(1),
        src, statsCols = stats)                                    // v0
      step() // bootstrap: watermark = 0
      Manifest.append(orders.filter(col("o_orderkey") > t1 &&
        col("o_orderkey") <= t2).coalesce(1), src, statsCols = stats) // v1
      Manifest.append(orders.filter(col("o_orderkey") > t2).coalesce(1),
        src, statsCols = stats)                                    // v2
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        src, "o_orderkey")                                         // v3
      Manifest.deleteWhereBetweenDv(s, src, "o_orderkey",
        mk / 5, 2 * mk / 5)                                        // v4
      // retention outpaces the lagging consumer: the watermark drops
      Manifest.gc(s, src, keepVersions = 1, orphanMinAgeMs = 0L)
      require(!Manifest.versions(s, src).contains(0L),
        "gc must drop the watermark version to exercise the resync path")
      step() // RE-BASELINE: wholesale replace + cursor, one commit
      // exact incremental folding resumes from the new baseline
      // (the batch stays above the deleted slab — an upsert would
      // re-insert unmatched keys, which is not this scenario)
      Manifest.upsert(orders.filter(col("o_orderkey") % 9 === 0 &&
          col("o_orderkey") > 2 * mk / 5)
        .withColumn("o_totalprice", col("o_totalprice") + lit(50.0)),
        src, "o_orderkey")                                         // v5
      Manifest.deleteWhereBetweenDv(s, src, "o_custkey", 1L, 30L)  // v6
      step() // one retracting window over upsert + delete
      Manifest.read(s, dst)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_custkey")
    },
    Some("""WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      final AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 9 = 0 AND o_orderkey > (2 * mk) // 5
            THEN o_totalprice + 50.0
          WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
          ELSE o_totalprice END AS price
        FROM orders, mx
        WHERE NOT (o_orderkey BETWEEN mk // 5 AND (2 * mk) // 5)
          AND NOT (o_custkey BETWEEN 1 AND 30))
      SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM final GROUP BY 1 ORDER BY 1"""))

  /** NAMED MUTABLE BRANCHES ([[graft.store.Manifest.createBranch]] /
    * `branchRoot` / `publishBranch` — the public Iceberg ref surface
    * beside q191's immutable tags, and the write-audit-publish
    * pattern's backbone): orders land on main in two appends; a
    * branch "audit" is cut and takes an upsert price bump plus a DV
    * delete slab COPY-ON-WRITE — main never sees them; the digest
    * captures the DIVERGENCE (main vs branch, both refs readable
    * concurrently), then the branch fast-forwards into main in ONE
    * atomic commit ([[graft.store.Manifest.publishBranch]]) and the
    * published state is digested again. The oracle recomputes all
    * three states from the raw table — a branch edit leaking into
    * pre-publish main, a lost branch mutation, or a non-atomic
    * publish hash-mismatches. */
  val q193 = Q("q193_manifest_branch",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q193").toString + "/orders_br"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v1 = fork
      Manifest.createBranch(s, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        br, "o_orderkey")
      Manifest.deleteWhereBetweenDv(s, br, "o_custkey", 1L, 30L)
      def digest(r: String, tag: String) = Manifest.read(s, r)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("ref", lit(tag))
      val pre = digest(root, "main_pre")
      val audited = digest(br, "branch")
      // force the divergence digests BEFORE the publish consumes the
      // branch (lazy frames would read post-publish state)
      val preR = pre.collect(); val audR = audited.collect()
      Manifest.publishBranch(s, root, "audit")
      val post = digest(root, "published")
      val sch = post.schema
      val pinned = new java.util.ArrayList[org.apache.spark.sql.Row]()
      (preR ++ audR).foreach(pinned.add)
      s.createDataFrame(pinned, sch)
        .unionByName(post)
        .orderBy("ref", "status")
    },
    Some("""WITH branch AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS price
        FROM orders WHERE NOT (o_custkey BETWEEN 1 AND 30)),
      pre AS (
        SELECT 'main_pre' AS ref, o_orderstatus AS status, COUNT(*) AS n,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
          MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM orders GROUP BY 2),
      aud AS (
        SELECT 'branch' AS ref, o_orderstatus AS status, COUNT(*) AS n,
          CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
          MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM branch GROUP BY 2),
      post AS (
        SELECT 'published' AS ref, o_orderstatus AS status, COUNT(*) AS n,
          CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
          MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        FROM branch GROUP BY 2)
      SELECT status, n, cents, min_key, max_key, ref FROM (
        SELECT * FROM pre UNION ALL SELECT * FROM aud
        UNION ALL SELECT * FROM post)
      ORDER BY ref, status"""))

  /** MULTI-VIEW MATVIEW DAG ([[graft.streaming.StreamOps.matviewDagStep]]
    * — one change feed fanning into TWO views plus a view OVER a view,
    * each with its own exactly-once watermark, evaluated producer-
    * first so upstream commits cascade downstream in the same call):
    * orders land in two appends with dag pumps interleaved, then an
    * upsert price bump + a DV delete slab retract through ALL THREE
    * views in one pump (the source retraction evicts customers from
    * the per-customer view, whose upsert cascades as a signed fold
    * into the order-count-distribution rollup view). The digest unions
    * the by-status view and the rollup view; the oracle recomputes
    * both from the final source state — a lost cascade, double fold,
    * or stale downstream watermark hash-mismatches. */
  val q194 = Q("q194_matview_dag",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q194").toString
      val src = s"$base/orders_src"
      val v1 = s"$base/by_cust"; val v2 = s"$base/by_status"
      val v3 = s"$base/count_rollup"
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      import graft.store.Manifest
      import graft.streaming.StreamOps
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      val views = Seq(
        StreamOps.MatView(src, v1, "p1", "o_custkey",
          Seq(("n", "count", ""), ("cents", "sum", cents))),
        StreamOps.MatView(src, v2, "p2", "o_orderstatus",
          Seq(("n", "count", ""), ("cents", "sum", cents))),
        StreamOps.MatView(v1, v3, "p3", "n",
          Seq(("m", "count", ""), ("cents", "sum", "cents"))))
      def pump() = StreamOps.matviewDagStep(s, views)
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        src, statsCols = Seq("o_orderkey"))
      pump() // bootstrap all three
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        src, statsCols = Seq("o_orderkey"))
      pump() // insert window upstream, cascaded upsert downstream
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        src, "o_orderkey")
      Manifest.deleteWhereBetweenDv(s, src, "o_custkey", 1L, 30L)
      pump() // ONE retracting window cascading through all views
      pump() // converged: no-op
      val v2d = Manifest.read(s, v2).select(lit("by_status").as("ref"),
        col("o_orderstatus").cast("string").as("grp"), col("n"), col("cents"))
      val v3d = Manifest.read(s, v3).select(lit("rollup").as("ref"),
        col("n").cast("string").as("grp"), col("m").as("n"), col("cents"))
      v2d.unionByName(v3d).orderBy("ref", "grp")
    },
    Some("""WITH final AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS price
        FROM orders WHERE NOT (o_custkey BETWEEN 1 AND 30)),
      v1 AS (
        SELECT o_custkey, COUNT(*) AS n,
          CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM final GROUP BY 1),
      v2 AS (
        SELECT 'by_status' AS ref, o_orderstatus AS grp, COUNT(*) AS n,
          CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM final GROUP BY 2),
      v3 AS (
        SELECT 'rollup' AS ref, CAST(n AS VARCHAR) AS grp, COUNT(*) AS n,
          CAST(SUM(cents) AS BIGINT) AS cents
        FROM v1 GROUP BY 2)
      SELECT ref, grp, n, cents FROM (
        SELECT * FROM v2 UNION ALL SELECT * FROM v3)
      ORDER BY ref, grp"""))

  /** BRANCH MERGE ONTO A DIVERGED MAIN
    * ([[graft.store.Manifest.mergeBranch]] — the rebase-style 3-way
    * merge completing q193's ref story: ingest keeps landing on main
    * DURING the audit, so fast-forward refuses and the branch's net
    * per-key delta replays onto current main, branch-wins per key):
    * orders land in two appends; branch "audit" takes an upsert price
    * bump (+100 on key%7) and a DV delete slab (custkey 1..30); main
    * MEANWHILE takes its own upsert (+50 on key%5 — keys%35 conflict,
    * branch must win; custkeys 1..30 among them must still drop). The
    * merge lands as one atomic upsert+drop commit and the digest reads
    * merged main; the oracle composes the branch-wins rule directly —
    * a lost branch edit, a resurrected deleted key, or main's
    * concurrent ingest being clobbered all hash-mismatch. */
  val q195 = Q("q195_manifest_branch_merge",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q195").toString + "/orders_bm"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v1 = fork
      Manifest.createBranch(s, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      // the audit edits the branch...
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        br, "o_orderkey")
      Manifest.deleteWhereBetweenDv(s, br, "o_custkey", 1L, 30L)
      // ...while ingest keeps landing on main (diverged: %35 keys
      // collide with the branch bump, and some bumped keys belong to
      // custkeys the branch deleted)
      Manifest.upsert(orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(50.0)),
        root, "o_orderkey")
      Manifest.mergeBranch(s, root, "audit", "o_orderkey")
      Manifest.read(s, root)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_custkey")
    },
    Some("""WITH merged AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
            WHEN o_orderkey % 5 = 0 THEN o_totalprice + 50.0
            ELSE o_totalprice END AS price
        FROM orders WHERE NOT (o_custkey BETWEEN 1 AND 30))
      SELECT o_custkey, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** COLUMN-LEVEL BRANCH MERGE ([[graft.store.Manifest.mergeBranch]]
    * `columnLevel = true` — the cell-wise refinement of q195's
    * whole-row rule): the audit branch edits ONE column (price +100 on
    * key%7) while main concurrently edits ANOTHER (status 'X' on
    * key%5) — on the %35 conflict keys BOTH edits must survive the
    * merge (whole-row branch-wins would resurrect the fork status);
    * the branch's DV delete slab (custkey 1..30) still beats main's
    * column edits whole-row. The digest groups merged main by status;
    * the oracle applies the two column edits INDEPENDENTLY — a
    * clobbered main column, a lost branch column, or a resurrected
    * deleted key all hash-mismatch. */
  val q196 = Q("q196_manifest_branch_merge_cols",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q196").toString + "/orders_bmc"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v1 = fork
      Manifest.createBranch(s, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      // the audit edits ONE column on the branch...
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0)),
        br, "o_orderkey")
      Manifest.deleteWhereBetweenDv(s, br, "o_custkey", 1L, 30L)
      // ...while main edits a DIFFERENT column of overlapping rows
      Manifest.upsert(orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("X")),
        root, "o_orderkey")
      Manifest.mergeBranch(s, root, "audit", "o_orderkey",
        columnLevel = true)
      Manifest.read(s, root)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },
    Some("""WITH merged AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS price,
          CASE WHEN o_orderkey % 5 = 0 THEN 'X'
            ELSE o_orderstatus END AS status
        FROM orders WHERE NOT (o_custkey BETWEEN 1 AND 30))
      SELECT status, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM merged GROUP BY 1 ORDER BY 1"""))

  /** CDC WINDOW SPANNING A BRANCH PUBLISH ([[graft.store.Manifest
    * .publishBranch]] + [[graft.store.Manifest.changesWithDeltas]] +
    * [[graft.streaming.StreamOps.manifestCdcMirrorStep]]): a mirror
    * bootstraps on main, a branch stages an APPEND batch (new keys,
    * price +25) and publishes, and the lagging consumer's next window
    * spans the publish commit. Because publish maps inherited entries
    * back to their parent-relative names, the window's file diff
    * CARRIES every inherited file — its measured row volume must be
    * exactly the branch's churn (the appended batch), not the table
    * (the "wholesale replace" failure mode). The digest pins BOTH the
    * mirrored state and the measured feed volume; a volume equal to
    * table+batch, a missed batch, or a duplicated carry all
    * hash-mismatch. */
  val q197 = Q("q197_manifest_publish_feed",
    (s, dir) => {
      val base = graft.TempDirs
        .create("graft_q197").toString
      val src = s"$base/orders_src"; val dst = s"$base/orders_mirror"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        src, statsCols = Seq("o_orderkey"))                        // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        src, statsCols = Seq("o_orderkey"))                        // v1 = fork
      def pump() = graft.streaming.StreamOps.manifestCdcMirrorStep(
        s, src, dst, "cdc", "o_orderkey")
      pump() // bootstrap at the fork
      val fork = Manifest.current(s, src).get.version
      Manifest.createBranch(s, src, "stage")
      val br = Manifest.branchRoot(src, "stage")
      // the staged batch: NEW keys only (no rewrites — churn is the
      // batch itself), written on the branch, audited, published
      Manifest.append(orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mk + 1L))
        .withColumn("o_totalprice", col("o_totalprice") + lit(25.0))
        .coalesce(1), br, statsCols = Seq("o_orderkey"))
      Manifest.publishBranch(s, src, "stage")
      val cur = Manifest.current(s, src).get
      // the lagging consumer's window spans the publish: measure it
      val feedRows = Manifest.changesWithDeltas(s, src, fork, cur).count()
      pump() // mirror folds the same window exactly-once
      Manifest.read(s, dst)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
        .withColumn("feed_rows", lit(feedRows))
        .orderBy("status")
    },
    Some("""WITH published AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 25.0 FROM orders
        WHERE o_orderkey % 11 = 0)
      SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 11 = 0) AS feed_rows
      FROM published GROUP BY 1 ORDER BY 1"""))

  /** COLUMN-LEVEL BRANCH MERGE ACROSS SCHEMA EVOLUTION
    * ([[graft.store.Manifest.mergeBranch]]`(columnLevel = true)` when
    * the branch ADDED a column since the fork — VERDICT r17 frontier
    * 1): the audit branch appendMerges NEW rows carrying a fresh
    * `o_note` column (evolving the branch schema), then upserts a
    * price bump + note on existing %7 keys, while main concurrently
    * flips status on %5 keys. The merge must land `o_note` into
    * main's schema in the same atomic commit: branch-written notes
    * survive, every row the branch never touched reads o_note as
    * NULL, the %35 conflict keys keep BOTH main's status and the
    * branch's price+note, and the branch-created rows arrive whole.
    * The digest groups by (note, status); a lost note column, a
    * clobbered status, or a non-null note on untouched rows all
    * hash-mismatch. */
  val q198 = Q("q198_manifest_branch_merge_evolve",
    (s, dir) => {
      val root = graft.TempDirs
        .create("graft_q198").toString + "/orders_bme"
      import graft.store.Manifest
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val mk = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      Manifest.append(orders.filter(col("o_orderkey") <= mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v0
      Manifest.append(orders.filter(col("o_orderkey") > mk / 2).coalesce(1),
        root, statsCols = Seq("o_orderkey"))                       // v1 = fork
      Manifest.createBranch(s, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      // the branch EVOLVES: new rows under new keys carry o_note
      Manifest.appendMerge(orders.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(mk + 1L))
        .withColumn("o_totalprice", col("o_totalprice") + lit(25.0))
        .withColumn("o_note", lit("new"))
        .coalesce(1), br, statsCols = Seq("o_orderkey"))
      // ...and edits existing keys under the evolved schema
      Manifest.upsert(orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_note", lit("bump")),
        br, "o_orderkey")
      // main concurrently edits a DIFFERENT column (no evolution here)
      Manifest.upsert(orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderstatus", lit("X")),
        root, "o_orderkey")
      Manifest.mergeBranch(s, root, "audit", "o_orderkey",
        columnLevel = true)
      Manifest.read(s, root)
        .groupBy(coalesce(col("o_note"), lit("-")).as("note"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("note", "status")
    },
    Some("""WITH merged AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100.0
            ELSE o_totalprice END AS price,
          CASE WHEN o_orderkey % 5 = 0 THEN 'X'
            ELSE o_orderstatus END AS status,
          CASE WHEN o_orderkey % 7 = 0 THEN 'bump' END AS note
        FROM orders
        UNION ALL
        SELECT o_orderkey + (SELECT MAX(o_orderkey) FROM orders) + 1,
          o_totalprice + 25.0, o_orderstatus, 'new'
        FROM orders WHERE o_orderkey % 11 = 0)
      SELECT COALESCE(note, '-') AS note, status, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS total_cents,
        MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM merged GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Multi-commit lifecycle SCENARIOS, as distinct from single-plan
    * queries: each of these builds a manifest-store (or streaming)
    * lifecycle — appends, upserts, deletes, maintenance, gc, index
    * builds, pump steps — and digests the result. Their wall time
    * measures COMMIT ORCHESTRATION (per-job scheduling at deliberately
    * tiny file sizes), not query-plan quality, so the bench ledger
    * totals them in a separate section: a regression gate mixing the
    * two would drown real query-plan regressions in scenario noise
    * (VERDICT r15 watch item 2). Self-maintaining: a new lifecycle
    * query belongs HERE the day it lands. */
  val scenarioQs: Seq[Q] = Seq(q152, q153, q155, q156, q157, q158, q159,
    q160, q161, q162, q163, q164, q165, q166, q167, q168, q170, q171,
    q172, q173, q174, q176, q177, q178, q179, q180, q181, q183, q184,
    q185, q186, q187, q188, q189, q190, q191, q192, q193, q194, q195,
    q196, q197, q198)

  /** All registered queries, in gate order. */
}
