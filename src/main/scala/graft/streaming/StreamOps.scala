package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (north-star extension; the reference
  * is batch-only, SURVEY §2.E). The same engine semantics — dedup,
  * windowed aggregation, sessionization — expressed over unbounded
  * event streams with watermark-bounded state, so the 100 TB/day
  * version of the `events` table runs incrementally instead of as
  * nightly full scans.
  */
object StreamOps {

  /** Streaming exact dedup on event_id with watermark-bounded state.
    * Plain `dropDuplicates("event_id")` would NOT evict state — Spark
    * only reclaims dedup state when the event-time column is part of
    * the dedup key — so we use `dropDuplicatesWithinWatermark`, which
    * keys state on event_id alone but expires each entry once the
    * watermark passes its event time: duplicates within the watermark
    * horizon are dropped and state stays bounded by the horizon. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Sliding/tumbling windowed counts + value sums per event type —
    * the streaming analog of the batch time-rollup (O-39). Emits one
    * row per (window, event_type); late rows beyond the watermark are
    * dropped, so results are eventually-exact. */
  def windowedTypeCounts(
      events: DataFrame,
      windowDur: String = "1 hour",
      slideDur: Option[String] = None,
      watermark: String = "15 minutes"): DataFrame = {
    val w = slideDur.fold(window(col("ts"), windowDur))(s => window(col("ts"), windowDur, s))
    events.withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("win.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming near-exact document dedup: normalize text (lowercase,
    * collapsed whitespace) → md5 fingerprint → watermark-bounded
    * dedup state on the fingerprint. Whitespace/case variants of a doc
    * arriving within the horizon are dropped — the streaming face of
    * the batch fingerprint dedup (battery q24), with state bounded by
    * the watermark exactly like [[dedupEvents]]. */
  def dedupByFingerprint(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs.withColumn("__fp", md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming face of the incremental near-dup screen
    * ([[graft.dedup.Dedup.incrementalNearDupPairs]]): docs arriving on
    * a stream are shingle-hashed, banded, and probed against the
    * STATIC stored corpus index — two stream-static equi-joins plus a
    * narrow jaccard filter, fully STATELESS (no watermark, no state
    * store; batch and stream give identical per-pair verdicts). Emits
    * (batch_id, corpus_id, jaccard) for matches ≥ `minJaccard`.
    *
    * Statelessness costs one declared duplicate-shape: a pair matching
    * in m bands is emitted m times (the batch form's `distinct()` is a
    * stateful aggregation a stream cannot afford). Duplicates carry
    * identical values — dedupe per micro-batch in `foreachBatch`, or
    * feed the verdicts to a sink where the (batch_id, corpus_id) key
    * is idempotent. The corpus side stays a plain DataFrame read of
    * the index tables, refreshed per micro-batch by the source. */
  def nearDupScreen(
      docs: DataFrame, idCol: String, textCol: String,
      mode: graft.dedup.Dedup.ShingleMode, bands: Int, rowsPerBand: Int,
      corpusBanded: DataFrame, corpusHashed: DataFrame,
      minJaccard: Double,
      family: graft.dedup.Dedup.SigFamily = graft.dedup.Dedup.PermMinhash): DataFrame = {
    import graft.dedup.Dedup
    // family must match what wrote corpusBanded — see Dedup.SigFamily
    val banded = Dedup.hashedDocs(docs, idCol, textCol, mode)
      .select(col("id"), col("h"),
        posexplode(family.sigCol(col("h"), bands, rowsPerBand))
          .as(Seq("band", "bandsig")))
    banded.as("a")
      .join(corpusBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bandsig") === col("b.bandsig"))
      .select(col("a.id").as("batch_id"), col("a.h").as("__ha"), col("b.id").as("corpus_id"))
      .join(corpusHashed.select(col("id").as("corpus_id"), col("h").as("__hb")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        Dedup.jaccardOfHashSets(col("__ha"), col("__hb")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Streaming face of the SEMANTIC screen
    * ([[graft.similarity.Similarity.semanticScreen]]): vectors arriving
    * on a stream are assigned to their nearest codebook cluster by the
    * EXACT batch rule ([[graft.similarity.Similarity.assignToCentroidSums]]
    * — the codebook inlined as literals, fully narrow), then probed
    * against the STATIC stored index via one stream-static equi-join
    * on the cluster id plus a narrow cosine filter — STATELESS, like
    * [[nearDupScreen]] (no watermark, no state store; batch and stream
    * give identical per-pair verdicts, and the cluster assignment is
    * bit-identical, not approximately so). Emits
    * (batch_id, corpus_id, cosine) at ≥ theta.
    *
    * The codebook is collected ONCE at query construction
    * ([[graft.similarity.Similarity.literalCodebookSums]]) — a
    * standing stream screens against the codebook as of its start;
    * restart the query (or run the admission loop in `foreachBatch`
    * with a fresh collect) to pick up folded deltas. The corpus side
    * reads the bucketed index table per micro-batch, so appended
    * admissions ARE visible to the probe join without restart.
    *
    * Scale bound: the codebook inlines as k·dims LITERALS in the
    * assignment expression — fine through the hundreds-of-clusters
    * regime, but at indexing-scale k (thousands+) the expression tree
    * itself becomes the cost; there, run
    * [[screenAndAdmitSemantic]] instead — its per-batch
    * [[graft.similarity.Similarity.admitSemanticBatch]] assignment
    * broadcasts the codebook as DATA, not syntax, and re-reads the
    * maintained sums table every micro-batch (folded deltas are
    * picked up without a query restart). */
  def semanticScreen(
      vecs: DataFrame, idCol: String, vecCol: String,
      codebook: Seq[(Long, Array[Long], Long)],
      corpusAssigned: DataFrame, theta: Double): DataFrame = {
    import graft.similarity.Similarity
    val assigned = Similarity.assignToCentroidSums(
      vecs.select(col(idCol), col(vecCol)), vecCol, codebook)
    assigned
      .select(col(idCol).as("batch_id"), col("cid"),
        Similarity.quantize(col(vecCol)).as("__bqv"))
      .join(corpusAssigned.select(col("id").as("corpus_id"), col("cid"),
        col("qv").as("__cqv")), Seq("cid"))
      .select(col("batch_id"), col("corpus_id"),
        Similarity.cosineQ(col("__bqv"), col("__cqv")).as("cosine"))
      .filter(col("cosine") >= theta)
  }

  /** Streaming screen-AND-admit: the full corpus-index ingest loop as
    * one standing stream — each micro-batch is screened against the
    * stored index ([[graft.dedup.Dedup.admitBatch]]), its novel docs
    * are appended to the index, and the admitted rows land in a
    * per-batch-partitioned parquet sink ([[upsertBatch]]). The stream
    * therefore GROWS the corpus it screens against: a doc in batch N
    * that near-duplicates an admission from batch N−1 is flagged.
    *
    * Restart safety, layer by layer (foreachBatch may REPLAY a batch
    * after a crash, with the same batchId):
    *  - The admitted-rows sink overwrites only its own batch_id
    *    partition (dynamic overwrite) — replays rewrite, never
    *    duplicate. An EMPTY replay result touches no partition, so the
    *    original batch's admitted rows survive.
    *  - The two index appends are two atomic manifest commits, not one
    *    transaction, but they self-heal: a replayed doc whose
    *    fingerprints already reached the index near-duplicates ITSELF
    *    at jaccard 1.0 ≥ `minJaccard`, so the replay screens it out and
    *    appends nothing — admission is idempotent through the screen
    *    itself, no ledger table needed. (Requires `minJaccard` ≤ 1.0,
    *    i.e. always.)
    *  - A crash between the two index appends leaves hashed rows
    *    without banded rows — invisible to the probe, so the replay
    *    re-admits the doc; the duplicate fingerprint row is harmless
    *    (admitBatch's verdicts key on distinct ids).
    * Index file sprawl from per-batch appends is handled in-loop by
    * admitBatch's compact + gc via `compactMinFiles`. */
  def screenAndAdmit(
      docs: DataFrame, idCol: String, textCol: String,
      mode: graft.dedup.Dedup.ShingleMode, bands: Int, rowsPerBand: Int,
      hashedRoot: String, bandedRoot: String, minJaccard: Double,
      admittedPath: String, checkpoint: String,
      compactMinFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val admitted = graft.dedup.Dedup.admitBatch(
          b.toDF(), idCol, textCol, mode, bands, rowsPerBand,
          hashedRoot, bandedRoot, minJaccard,
          compactMinFiles = compactMinFiles)
        upsertBatch(admitted, id, admittedPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming screen-AND-admit for the SEMANTIC index — the embedding
    * twin of [[screenAndAdmit]], and the shipped form of the
    * indexing-scale-k remedy the [[semanticScreen]] scaladoc names:
    * each micro-batch runs one [[graft.similarity.Similarity.admitSemanticBatch]]
    * transaction — screened against the STORED (id, cid, qv) index,
    * novel vectors appended under their assigned cluster, their exact
    * integer deltas folded into the persisted codebook sums, the index
    * compacted when sprawled — and the admitted rows land in the same
    * per-batch-partitioned parquet sink ([[upsertBatch]]). The
    * codebook is re-read from the sums table EVERY batch (k·dims rows
    * — broadcast as data, never inlined as literals), so cluster count
    * scales to indexing-regime k and each batch screens against every
    * prior batch's folded admissions. The stream GROWS the index it
    * screens against, exactly like the text twin.
    *
    * Restart safety under foreachBatch replay (same batchId re-runs
    * the whole transaction), layer by layer:
    *  - The admitted-rows sink overwrites only its own batch_id
    *    partition — replays rewrite, never duplicate; an empty replay
    *    touches no partition, so the original admissions survive.
    *  - Crash BEFORE the codebook fold: the replay reads the same
    *    pre-fold sums the original run did, assigns each replayed
    *    vector to the same cluster, and the probe finds the vector's
    *    own appended row at cosine ≈ 1.0 ≥ theta — screened out,
    *    nothing re-appended; admission is idempotent through the
    *    screen itself (any theta ≤ 1 − 1e-12: the self-cosine is one
    *    IEEE division of identical operands, exact to ≤ 2 ulp).
    *    The skipped fold is NOT retried by later batches — run
    *    [[graft.similarity.Similarity.repairSemanticCodebook]] on
    *    crash recovery, as the batch API documents.
    *  - Crash AFTER the fold (before the sink write commits the batch):
    *    the replay assigns against the folded sums. Folding a batch
    *    only moves each touched centroid TOWARD its own admitted
    *    vectors, so a replayed vector's own cluster can only get
    *    closer — but another cluster fattened by the same batch can in
    *    principle edge past it. In that rare case the vector re-admits
    *    under the new cluster: the index holds its row twice (two
    *    cids), the codebook counts it twice — CONSISTENTLY (codebook ≡
    *    index sums still holds, both count the row twice), future
    *    screens still flag its duplicates, and the sink partition
    *    overwrite keeps the admitted output exactly-once. A duplicate
    *    index row is storage debris, not a correctness hole; the next
    *    out-of-band [[graft.similarity.Similarity.writeSemanticIndex]]
    *    rebuild clears it.
    * Index file sprawl from per-batch appends is handled in-loop by
    * `maintainSemanticIndex` via `compactMinFiles`, as in the batch
    * API.
    *
    * Session note: the loop runs in the stream's micro-batch session
    * clone, which always sees its own writes — but a DIFFERENT session
    * that read the index before the stream started holds a stale
    * relation cache (standard Spark semantics for externally-written
    * tables): `REFRESH TABLE` there before reading admissions. */
  def screenAndAdmitSemantic(
      vecs: DataFrame, idCol: String, vecCol: String,
      table: String, theta: Double,
      admittedPath: String, checkpoint: String,
      compactTargetBytes: Long = 128L * 1024 * 1024,
      compactMinFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val admitted = graft.similarity.Similarity.admitSemanticBatch(
          b.toDF(), idCol, vecCol, table, theta,
          compactTargetBytes, compactMinFiles)
        upsertBatch(admitted, id, admittedPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming screen-AND-admit for SUBSTRING dedup — the sliding-
    * window sibling of [[screenAndAdmit]]: each micro-batch runs one
    * [[graft.dedup.Dedup.admitSpansBatch]] transaction — the batch's
    * n-token windows probed against the STORED gram set, spans the
    * corpus already retains (plus batch-internal repeats) cut, cleaned
    * docs admitted to the per-batch-partitioned sink, and only the
    * ADMITTED text's new grams appended — so the stream grows the gram
    * index it screens against, and boilerplate arriving at ANY
    * alignment is cut against every prior batch's retained text.
    *
    * Restart safety under foreachBatch replay: the sink overwrites
    * only its own batch_id partition ([[upsertBatch]] — replays
    * rewrite, never duplicate), and the gram append anti-joins the
    * stored set, so the INDEX is exactly-once per gram through any
    * replay; a post-append replay re-cuts previously-retained content
    * to already-indexed residuals (the [[graft.dedup.Dedup.admitSpansBatch]]
    * crash-window contract), which the rewrite-in-place sink then
    * stores in place of the originals — compose a min-length gate
    * downstream, as the batch form's scaladoc directs. */
  def screenAndAdmitSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      gramTable: String, admittedPath: String, checkpoint: String,
      minOccurrences: Int = 2,
      compactMinFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val admitted = graft.dedup.Dedup.admitSpansBatch(
          b.toDF(), idCol, textCol, n, gramTable, minOccurrences,
          compactMinFiles = compactMinFiles)
        upsertBatch(admitted, id, admittedPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming face of the model-based quality filters
    * ([[graft.text.LmQuality]]): each micro-batch is scored and cut by
    * the batch operator itself — the per-document decision is a pure
    * function of (document, model), with no cross-document state, so
    * batch and stream verdicts are identical BY CONSTRUCTION (the
    * spec pins it anyway). Kept docs land in the per-batch-partitioned
    * idempotent sink ([[upsertBatch]] — replays rewrite, never
    * duplicate).
    *
    * Model freshness: the [[graft.text.LmQuality.BigramLm]] frames are
    * whatever the caller built — over stored tables they re-read per
    * micro-batch, over in-memory frames they are frozen at query
    * construction. Retraining cadence is the caller's offline loop
    * (retrain → restart the query), the CCNet operating mode; the
    * scalar `vocabSize` is always frozen at construction. */
  def screenByPerplexity(
      docs: DataFrame, idCol: String, textCol: String,
      lm: graft.text.LmQuality.BigramLm, maxMilliBitsPerTransition: Long,
      keptPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(graft.text.LmQuality.perplexityFilter(
          idCol, textCol, lm, maxMilliBitsPerTransition)(b.toDF()), id, keptPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** [[screenByPerplexity]]'s classifier sibling: keeps the docs the
    * Naive-Bayes model predicts quality ([[graft.text.LmQuality.nbScoreBits]]
    * `score_bits > 0`; ties fall to DROP — the conservative side).
    * Same statelessness, idempotent-sink, and model-freshness
    * contracts. */
  def screenByNbQuality(
      docs: DataFrame, idCol: String, textCol: String,
      model: graft.text.LmQuality.NbModel,
      keptPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val batch = b.toDF()
        val kept = batch.join(
          graft.text.LmQuality.nbScoreBits(idCol, textCol, model)(batch)
            .filter(col("predicted")).select(col(idCol)),
          Seq(idCol), "left_semi")
        upsertBatch(kept, id, keptPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** The standing search-index ingest: each micro-batch's postings are
    * appended to the STORED term-bucketed index via
    * [[graft.text.Search.admitPostingsBatch]] — exactly-once per
    * document through foreachBatch replay (the admit anti-joins the
    * stored ids), so a standing stream keeps the phrase-search index
    * current with zero corpus recompute. */
  def indexPostings(
      docs: DataFrame, idCol: String, textCol: String,
      table: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.text.Search.admitPostingsBatch(b.toDF(), idCol, textCol, table)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming frequency monitor: each micro-batch's Count-Min sketch
    * ([[graft.functions.CountMinSketch]]) lands as ONE row in the
    * per-batch-partitioned sink — replays overwrite their own
    * partition, so the sketch LOG is exactly-once per batch, and the
    * current whole-corpus matrix is
    * [[graft.functions.CountMinSketch.mergedCells]] over the stored
    * rows (elementwise add commutes — summing the log equals the
    * one-pass sketch of everything seen, no history rescan). Item
    * counts at any moment cost one read of batch-count × d·w longs. */
  def cmsSink(
      items: DataFrame, itemCol: String, depth: Int, width: Int,
      path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    items.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        upsertBatch(b.toDF().agg(
          graft.functions.CountMinSketch.sketch(col(itemCol), depth, width)
            .as("sk")), id, path)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** The ONLINE LM trainer: each micro-batch's bigram and unigram
    * count deltas land as per-batch partitions (both writes replay-
    * safe — a re-run batch overwrites its own partitions, and the two
    * sinks are rewritten together on replay, so they never diverge).
    * [[graft.text.LmQuality.lmFromLogs]] over the stored logs is then
    * BIT-IDENTICAL to offline [[graft.text.LmQuality.trainBigramLm]]
    * on everything the stream has seen — the perplexity screen's
    * model refresh becomes "re-read two logs", not "rescan the
    * corpus". */
  def lmCountsSink(
      docs: DataFrame, idCol: String, textCol: String,
      biPath: String, uniPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val batch = b.toDF()
        upsertBatch(graft.text.LmQuality.bigramCounts(idCol, textCol)(batch), id, biPath)
        upsertBatch(graft.text.LmQuality.unigramCounts(textCol)(batch), id, uniPath)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming record-linkage screen: arriving records are blocked
    * against a STATIC reference table (stream-static equi-join on the
    * blocking key — stateless, like [[nearDupScreen]]), each candidate
    * pair scored by the trained Fellegi–Sunter weights (a narrow
    * literal sum — [[graft.operators.Linkage.scoreFs]]), and pairs at
    * ≥ `minScoreBits` emitted as (batch id, reference id, score).
    * Batch and stream verdicts are identical by construction: the
    * per-pair decision has no cross-pair state. Weights are frozen at
    * query construction (retrain offline → restart, as with the
    * perplexity screen's model). `fields` name columns AFTER the
    * join, so disambiguate by selecting/aliasing in `batchCols` /
    * `refCols` before calling. */
  def linkageScreen(
      records: DataFrame, refTable: DataFrame, blockKey: String,
      idCol: String, refIdCol: String,
      fields: Seq[graft.operators.Linkage.FieldPair],
      weights: Map[String, (Long, Long)],
      minScoreBits: Long): DataFrame =
    graft.operators.Linkage.scoreFs(
        records.join(refTable, Seq(blockKey)), fields, weights)
      .filter(col("score_bits") >= lit(minScoreBits))
      .select(col(idCol).as("batch_id"), col(refIdCol).as("ref_id"),
        col("score_bits"))

  /** Stream-stream inner join with an event-time interval condition:
    * each left row matches right rows with the same key whose time lies
    * in [leftTime − lookback, leftTime]. Both watermarks plus the
    * two-sided time bound are exactly what Spark needs to expire join
    * state — without them a stream-stream join buffers forever. At
    * 100 TB/day the state held is one lookback window per key, not the
    * full history. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      lookback: String = "1 hour",
      leftWatermark: String = "10 minutes",
      rightWatermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTime, leftWatermark)
    val r = right.withWatermark(rightTime, rightWatermark)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTime) >= col(leftTime) - expr(s"INTERVAL '$lookback'") &&
      col(rightTime) <= col(leftTime))
  }

  /** The STANDING SCD-2 dimension maintainer: each micro-batch of
    * change rows (key cols + attribute cols + `effectiveCol`) folds
    * into the stored versioned dim via
    * [[graft.store.Store.scd2Apply]] in `rebuildHistory` mode, so the
    * dimension's version history stays current as changes stream in —
    * the incremental form of the reference's TRUNCATE+reload dims.
    *
    * Restart safety under foreachBatch replay (same batchId re-runs
    * after a crash): rebuild mode makes the apply IDEMPOTENT — every
    * replayed change row coincides with the version row it already
    * minted (same key, same valid_from, same attributes) and
    * run-dedups away, so re-applying a batch reconstructs the
    * identical table. The updated frame is EAGERLY `localCheckpoint`ed
    * BEFORE the overwrite — the write replaces the table the plan
    * reads, and Spark (rightly) refuses a read-from-target overwrite
    * on a live lineage (the semantic-index rebuild's rule,
    * [[graft.similarity.Similarity]]). A crash between checkpoint and
    * overwrite replays cleanly; the overwrite itself is the catalog's
    * atomic-swap contract ([[graft.store.Store.overwrite]]).
    *
    * The table must exist ([[graft.store.Store.scd2Init]] +
    * `Store.overwrite` bootstrap it). Changes inside one batch chain
    * by effective order, exactly as in the batch operator — batch ≡
    * stream version history is spec-pinned (StreamOpsSpec).
    *
    * COST BOUND: each batch overwrites the WHOLE table, closed history
    * included — O(history) writes per batch. Right for small/medium
    * dims (one table, simplest ops); for history-heavy dims use
    * [[scd2SinkSplit]], whose per-batch write cost is O(open keys +
    * batch) regardless of history depth. */
  def scd2Sink(
      changes: DataFrame, table: String, keyCols: Seq[String],
      effectiveCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = b.sparkSession
        val updated = graft.store.Store.scd2Apply(
            spark.table(table), b.toDF(), keyCols, effectiveCol,
            rebuildHistory = true)
          .localCheckpoint() // EAGER: pin BEFORE the overwrite replaces the source
        graft.store.Store.overwrite(updated, table)
        updated.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** The split-store SCD-2 maintainer — [[scd2Sink]]'s 100 TB form:
    * [[scd2Sink]] overwrites the WHOLE versioned table per batch
    * (O(history)); this one maintains the open-slice root + the
    * append-only closed-log root via the
    * [[graft.store.Store.scd2ApplySplit]] transaction, so each batch
    * costs O(open keys + batch) writes regardless of history depth,
    * and both parts publish by atomic manifest commits (a reader
    * racing any batch's writes resolves a complete committed
    * snapshot). Same replay contract (the transaction is idempotent;
    * write order inside it is load-bearing — see its scaladoc);
    * [[graft.store.Store.scd2Versions]] is the read view, spec-pinned
    * equal to the monolithic table. Bootstrap `openRoot` with
    * `Manifest.overwrite(scd2Init(...), openRoot)` before starting the
    * stream. */
  def scd2SinkSplit(
      changes: DataFrame, openRoot: String, closedRoot: String,
      keyCols: Seq[String], effectiveCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.store.Store.scd2ApplySplit(
          b.sparkSession, b.toDF(), openRoot, closedRoot, keyCols, effectiveCol)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** ONE micro-batch of the full curation pipeline — the capstone
    * transaction composing the standing loops that were previously
    * specced only individually: clean → intra-batch exact dedup →
    * near-dup screen-and-admit against the standing corpus index →
    * admitted-corpus sink → split-SCD2 per-source ingest profile.
    * Public so batch callers (and the battery's oracle replay) can run
    * the identical transaction without a stream.
    *
    * Stages, with the determinism/replay argument for each:
    *  1. CLEAN: `lower(trim(regexp_replace(text, "\\s+", " ")))` — the
    *     normal form the screen hashes; pure column function.
    *  2. EXACT DEDUP (intra-batch): keep the smallest id per identical
    *     cleaned text. Cross-batch exact dups are the near-dup
    *     screen's job (jaccard 1.0 ≥ any threshold).
    *  3. SCREEN-AND-ADMIT: [[graft.dedup.Dedup.admitBatch]] against
    *     the standing hashed/banded index roots (bootstrap them with
    *     `writeCorpusIndex(docs.limit(0), …)` before the first batch).
    *  4. REPLAY-STABLE ADMITTED SET: the batch's admitted docs are
    *     re-derived as `batch ⋉ hashed-index` (ids are the index's
    *     primary key and batches are id-disjoint) rather than taken
    *     from admitBatch's return value. This closes the one crash
    *     window the individual loops' reasoning leaves open END TO
    *     END: a crash AFTER the index appends but BEFORE the sink
    *     write makes the replay screen those docs out (they
    *     near-duplicate their own prior admission), so the admitBatch
    *     return value is EMPTY on replay — the semi-join still finds
    *     them in the index and reproduces the identical sink rows and
    *     SCD2 changes. Every crash point therefore converges to the
    *     same final state on replay.
    *  5. SINK: [[upsertBatch]] (per-batch dynamic partition overwrite
    *     — replays rewrite, never duplicate).
    *  6. SCD2 per-source profile: changes = (source, n_admitted,
    *     max_admitted_id, eff = batchId) — batchIds are monotone, so
    *     `eff` is a valid effective axis; a replayed batch re-derives
    *     the identical changes, which coincide with their existing
    *     versions and no-op through the rebuild dedup. Applied via
    *     [[graft.store.Store.scd2ApplySplit]] on manifest roots
    *     (atomic commits; first batch bootstraps the open root). */
  def curateBatch(
      b: DataFrame, batchId: Long,
      idCol: String, textCol: String, sourceCol: String,
      mode: graft.dedup.Dedup.ShingleMode, bands: Int, rowsPerBand: Int,
      hashedRoot: String, bandedRoot: String, minJaccard: Double,
      admittedPath: String, openRoot: String, closedRoot: String): Unit = {
    val spark = b.sparkSession
    val cleaned = b.withColumn(textCol,
      lower(trim(regexp_replace(col(textCol), "\\s+", " "))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(textCol)).orderBy(col(idCol))
    val exact = cleaned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint() // one substrate for screen + admitted re-derivation
    graft.dedup.Dedup.admitBatch(exact, idCol, textCol, mode, bands, rowsPerBand,
      hashedRoot, bandedRoot, minJaccard)
    val admitted = exact.join(
        graft.store.Manifest.read(spark, hashedRoot).select(col("id").as(idCol)),
        Seq(idCol), "left_semi")
      .localCheckpoint() // consumed by the sink write AND the profile agg
    upsertBatch(admitted, batchId, admittedPath)
    val changes = admitted.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_admitted"), max(col(idCol)).as("max_admitted_id"))
      .withColumn("eff", lit(batchId))
    if (graft.store.Manifest.current(spark, openRoot).isEmpty)
      graft.store.Manifest.overwrite(
        graft.store.Store.scd2Init(changes, Seq("source"), "eff"), openRoot)
    else
      graft.store.Store.scd2ApplySplit(
        spark, changes, openRoot, closedRoot, Seq("source"), "eff")
    exact.unpersist()
    admitted.unpersist()
    ()
  }

  /** The streaming form of [[curateBatch]]: ingest → clean → exact
    * dedup → near-dup screen-and-admit → SCD2 split maintenance as ONE
    * foreachBatch pipeline. End-to-end idempotent under foreachBatch
    * replay by [[curateBatch]]'s stage-by-stage argument. */
  def curationPipelineSink(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      mode: graft.dedup.Dedup.ShingleMode, bands: Int, rowsPerBand: Int,
      hashedRoot: String, bandedRoot: String, minJaccard: Double,
      admittedPath: String, openRoot: String, closedRoot: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        curateBatch(b.toDF(), id, idCol, textCol, sourceCol,
          mode, bands, rowsPerBand, hashedRoot, bandedRoot, minJaccard,
          admittedPath, openRoot, closedRoot)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** EXACTLY-ONCE streaming append into an atomic manifest table —
    * [[graft.store.Manifest.appendOnce]] with the micro-batch id as
    * the transaction number, the public Delta-sink idea. Contrast with
    * [[upsertBatch]]: that one makes replays idempotent by dynamic
    * partition OVERWRITE (same batch partition rewritten, readers can
    * race the rewrite); this one never rewrites anything — a replayed
    * batch is recognized by the recorded (writerId, batchId) watermark
    * and skipped before commit, and every reader resolves a complete
    * committed snapshot. `statsCols` threads through to the skip
    * index, so a standing stream maintains a data-skipping table. */
  def manifestSink(
      stream: DataFrame, root: String, writerId: String,
      checkpoint: String,
      statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.store.Manifest.appendOnce(b.toDF(), root, writerId, id,
          statsCols = statsCols)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming CLUSTERED ingest — the standing loop incremental
    * clustering exists for ([[graft.store.Manifest.compactClusteredIncremental]]):
    * each micro-batch appends exactly once (the batch's files span the
    * key space — skip-index pollution by construction), and every
    * `maintainEvery` batches ONE incremental clustering pass
    * re-tiles just the pollution (ZCube provenance keeps settled tiles
    * carried; cost O(since-last-pass), never O(table)). Maintenance is
    * IDEMPOTENT-SAFE under foreachBatch replay: a replayed batch skips
    * via the txn watermark, and a re-run maintenance pass re-selects
    * only whatever is still unclustered (a no-op after a completed
    * pass) — layout maintenance is advisory state, so exactly-once is
    * not load-bearing for it. A concurrent-commit conflict inside the
    * maintenance (another writer landing between plan and publish)
    * re-plans via the op's own bounded retry. */
  def clusteredIngestSink(
      stream: DataFrame, root: String, cols: Seq[String], writerId: String,
      checkpoint: String, maintainEvery: Int = 4,
      targetBytes: Long = 128L * 1024 * 1024,
      cubeMinBytes: Long = 16L * 1024 * 1024)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maintainEvery >= 1, s"maintainEvery must be >= 1 ($maintainEvery)")
    stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        graft.store.Manifest.appendOnce(b.toDF(), root, writerId, id,
          statsCols = cols)
        if ((id + 1) % maintainEvery == 0) {
          graft.store.Manifest.compactClusteredIncremental(
            b.sparkSession, root, cols, targetBytes = targetBytes,
            cubeMinBytes = cubeMinBytes)
          ()
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** [[clusteredIngestSink]] generalized to a full
    * [[graft.store.MaintenancePolicy]]: each micro-batch appends
    * EXACTLY ONCE (batch-id txn watermark — a replayed batch after a
    * crash skips), and every `maintainEvery` batches one
    * [[graft.store.Maintenance.run]] enforces the whole policy —
    * clustering or packing, bloom refresh, sidecar folds, gc — so the
    * ingest job OWNS its table's upkeep instead of deferring to an
    * out-of-band OPTIMIZE someone has to remember to schedule. Stats
    * columns default to the policy's layout columns. */
  def maintainedIngestSink(
      stream: DataFrame, root: String, writerId: String,
      checkpoint: String, policy: graft.store.MaintenancePolicy,
      statsCols: Seq[String] = Nil, maintainEvery: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(maintainEvery >= 1, s"maintainEvery must be >= 1 ($maintainEvery)")
    stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val stats = if (statsCols.nonEmpty) statsCols else policy.layoutCols
        graft.store.Manifest.appendOnce(b.toDF(), root, writerId, id,
          statsCols = stats)
        if ((id + 1) % maintainEvery == 0) {
          graft.store.Maintenance.run(b.sparkSession, root, policy)
          ()
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Streaming ingest into the manifest-store IVF vector index
    * ([[graft.similarity.ManifestAnn]] — the standing
    * embedding-pipeline loop): each micro-batch appends its vectors
    * (range-partitioned on the list id, list skip stats) and its
    * additive centroid partial sums, EXACTLY ONCE each through the two
    * tables' independent (writerId → batchId) watermarks. A replayed
    * batch after a crash re-lands only whichever half is missing, so
    * the pair CONVERGES under foreachBatch's replay window — and in
    * the interim a lagging sidecar costs recall of that one batch,
    * never correctness of what a probe returns (ManifestAnn's stated
    * advisory-sidecar contract). Probes against a live index are
    * snapshot-isolated like every manifest read. */
  def manifestAnnSink(
      stream: DataFrame, root: String, listCol: String, idCol: String,
      qvCol: String, writerId: String, checkpoint: String,
      listPartitions: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // one materialization feeds range sampling + shuffle + the
        // centroid fold (the ManifestAnn.appendBatch treatment)
        val base = b.toDF().select(col(idCol), col(listCol), col(qvCol))
          .localCheckpoint(false)
        graft.store.Manifest.appendOnce(
          base.repartitionByRange(listPartitions, col(listCol)),
          root, writerId, id, statsCols = Seq(listCol))
        graft.store.Manifest.appendOnce(
          graft.similarity.Similarity.listCentroidSums(base, listCol, qvCol),
          graft.similarity.ManifestAnn.centsRoot(root), writerId, id)
        base.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** INCREMENTAL MATERIALIZED AGGREGATE step — view maintenance over
    * the manifest change feed (the public materialized-view / IVM
    * idea): the destination table holds `groupBy(keyCol).agg(...)` of
    * everything the source has committed, and each step folds ONLY the
    * delta in — never rescanning the history. Supported aggregate
    * kinds are the insert-only-mergeable set (`count`, `sum`, `min`,
    * `max`; means are derivable as sum/count): the step aggregates the
    * delta, reads the view's CURRENT rows for the touched keys only
    * (key-stats-pruned), merges by kind (counts/sums add, min/max
    * fold), and lands the result through
    * [[graft.store.Manifest.upsertOnce]] — the watermark advances in
    * the SAME atomic commit as the merged rows, so a crashed or
    * lagging pump replaying a delta SKIPS instead of double-counting
    * (value idempotency does not hold for folds — this is exactly why
    * upsertOnce exists). The bootstrap step aggregates the full first
    * snapshot via appendOnce, which also seeds the view's key skip
    * index.
    *
    * Contracts inherited from the mirror pump: one step may cover
    * several source commits (pinned-snapshot delta read); the view
    * table is OWNED by its pump — a SECOND pump (any other writer's
    * txn watermark on the view) throws loudly before touching
    * anything, because interleaved folds double-count silently.
    * Source keys must be NON-NULL: the view's touched-key read and the
    * merge's key join are both null-blind, so a null-key group would
    * silently fork duplicate rows — the step throws loudly instead
    * (map nulls to a sentinel upstream if they are data).
    *
    * RETRACTIONS: a source that upserts/deletes (either delete form,
    * replaceWhere, restore — any file-rewriting or DV commit) feeds
    * the view through [[graft.store.Manifest.changesWithDeltas]]:
    * removed rows fold NEGATIVELY into `count`/`sum` (exact — the
    * signed fold is the textbook IVM rule), while `min`/`max` are not
    * retraction-mergeable (removing the current max says nothing about
    * the next one), so the step RECOUNTS exactly the touched keys'
    * min/max from the pinned source snapshot — key-local work, never
    * the history. A retracting delta requires a `count` aggregate in
    * the view (loud throw otherwise): liveness is undecidable without
    * one, and groups whose folded count reaches ZERO are EVICTED from
    * the view in the same atomic commit (the full recompute has no
    * such group, and the view's contract is that no fold sequence can
    * diverge from it).
    *
    * Operating point (measured, BENCH_SCALE x170): the step's wall is
    * FLAT in history size (~2.4 s fixed: delta read + view merge +
    * commit) while the full recompute grows with the source — the
    * crossover sits near 10⁶ source rows at a 100k delta; below it
    * just recompute, above it the step wins by the history/delta
    * ratio.
    *
    * `aggs`: (outputColumn, kind, sourceExprSql) triples; kind `count`
    * ignores the expression.
    *
    * `deltaCache` (the [[matviewDagStep]] fusion): several views over
    * ONE source each re-read the same change window — with a cache
    * the first view's window scan materializes once (Spark cache) and
    * every sibling folds from it, N views costing ONE source scan per
    * pump instead of N. Keyed by (kind, src, from, to) so views at
    * different watermarks never share a frame; the DAG step owns the
    * unpersist. */
  def materializedAggStep(
      spark: org.apache.spark.sql.SparkSession, srcRoot: String,
      dstRoot: String, writerId: String, keyCol: String,
      aggs: Seq[(String, String, String)],
      deltaCache: Option[scala.collection.mutable.Map[
        (String, String, Long, Long), DataFrame]] = None): Option[Long] = {
    import graft.store.Manifest
    def windowed(kind: String, from: Long, to: Long)
        (build: => DataFrame): DataFrame = deltaCache match {
      case None => build
      case Some(m) => m.getOrElseUpdate((kind, srcRoot, from, to),
        build.cache())
    }
    require(aggs.nonEmpty, "materializedAggStep needs at least one aggregate")
    val kinds = Set("count", "sum", "min", "max")
    aggs.foreach { case (_, kind, _) =>
      require(kinds(kind), s"unsupported aggregate kind [$kind] — " +
        "count/sum/min/max are the insert-only-mergeable set") }
    val cur = Manifest.current(spark, srcRoot) match {
      case Some(s) if s.files.nonEmpty => s
      case _ => return None
    }
    // single-pump ownership: a second pump's interleaved folds
    // double-count (the fold is not value-idempotent) — fail loud
    val foreign = Manifest.txnWriters(spark, dstRoot).filterNot(_ == writerId)
    require(foreign.isEmpty,
      s"$dstRoot: view is owned by pump(s) ${foreign.mkString(", ")} — a " +
        s"second pump [$writerId] would corrupt the fold; one writer per view")
    // the null-key guard reads the (small, cached/grouped) AGGREGATE,
    // never the source: a null source key surfaces as a null-key GROUP,
    // so checking post-agg is equivalent and costs no extra source scan
    // (the pre-fusion form burned one full-scan job per pump)
    def requireKeys(df: DataFrame, what: String): Unit = {
      val nullKey = df.filter(col(keyCol).isNull).limit(1).collect()
      require(nullKey.isEmpty, nullKeyMsg(what))
    }
    def nullKeyMsg(what: String): String =
      s"$srcRoot: $what contains NULL $keyCol rows — the view's " +
        "touched-key read and merge join are null-blind and would fork " +
        "duplicate null-key rows; filter or sentinel-map nulls upstream"
    def aggOf(df: DataFrame): DataFrame = {
      val cols = aggs.map {
        case (out, "count", _) => count(lit(1)).as(out)
        case (out, "sum", e) => sum(expr(e)).as(out)
        case (out, "min", e) => min(expr(e)).as(out)
        case (out, "max", e) => max(expr(e)).as(out)
      }
      df.groupBy(col(keyCol)).agg(cols.head, cols.tail: _*)
    }
    def mergeOf(df: DataFrame): DataFrame = {
      val cols = aggs.map {
        case (out, "count", _) => sum(col(out)).as(out) // counts ADD
        case (out, "sum", _) => sum(col(out)).as(out)
        case (out, "min", _) => min(col(out)).as(out)
        case (out, "max", _) => max(col(out)).as(out)
      }
      df.groupBy(col(keyCol)).agg(cols.head, cols.tail: _*)
    }
    Manifest.lastTxn(spark, dstRoot, writerId) match {
      case Some(v) if v >= cur.version => None
      case None =>
        val full = windowed("snap", -1L, cur.version)(
          Manifest.readSnapshot(spark, srcRoot, cur))
        val aggB = aggOf(full).cache()
        try {
          requireKeys(aggB, "the bootstrap snapshot")
          Manifest.appendOnce(graft.store.Manifest.rightSized(aggB),
            dstRoot, writerId, cur.version, statsCols = Seq(keyCol))
        } finally { aggB.unpersist(); () }
        Some(cur.version)
      case Some(v) if !Manifest.versions(spark, srcRoot).contains(v) =>
        // gc outpaced the view's cursor (the watermark version's
        // manifest is gone — no delta to fold). RE-BASELINE: the
        // view's contract IS the full recompute, so recompute the
        // aggregate from the pinned current snapshot and replace the
        // view wholesale — rows and cursor in one atomic exactly-once
        // commit ([[graft.store.Manifest.overwriteOnce]], the
        // changeFeedResync stance).
        val full = windowed("snap", -1L, cur.version)(
          Manifest.readSnapshot(spark, srcRoot, cur))
        val aggR = aggOf(full).cache()
        try {
          requireKeys(aggR, "the resync snapshot")
          Manifest.overwriteOnce(graft.store.Manifest.rightSized(aggR),
            dstRoot, writerId, cur.version, statsCols = Seq(keyCol))
        } finally { aggR.unpersist(); () }
        Some(cur.version)
      case Some(v) if Manifest.appendOnlySince(spark, srcRoot, v, cur) =>
        val insertDelta = windowed("chg", v, cur.version)(
          Manifest.changes(spark, srcRoot, v, cur))
        val deltaAgg = aggOf(insertDelta).cache()
        try {
          // range + null-key guard in ONE pass over the cached delta
          val r = deltaAgg
            .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
              max(when(col(keyCol).isNull, 1).otherwise(0)).as("nk")).head()
          require(r.isNullAt(2) || r.getInt(2) == 0,
            nullKeyMsg(s"the delta since version $v"))
          if (r.isNullAt(0)) {
            // empty delta (e.g. replayed-then-skipped source batches):
            // still advance the watermark so the pump converges
            Manifest.appendOnce(graft.store.Manifest.rightSized(deltaAgg),
              dstRoot, writerId, cur.version)
          } else {
            // touched keys only, through the view's own key skip stats
            // (bootstrap seeds them; upsert recomputes for rewrites) —
            // a localized delta reads a slice of the view, not all of it
            val existing = Manifest
              .readWhereBetween(spark, dstRoot, keyCol, r.get(0), r.get(1))
              .join(deltaAgg.select(col(keyCol)), Seq(keyCol), "left_semi")
            // checkpoint: the upsert evaluates its batch for discovery,
            // rewrite, and staging — without this the view read + merge
            // join re-ran for each. keyedRange: combined's keys are
            // exactly the delta's (semi-joined, then grouped), so the
            // step's own [lo, hi] replaces the upsert's kstats job.
            val combined = mergeOf(existing.unionByName(deltaAgg))
              .localCheckpoint(false)
            try Manifest.upsertOnce(combined, dstRoot, keyCol, writerId,
              cur.version, keyedRange = Some((r.get(0), r.get(1))))
            finally { combined.unpersist(); () }
          }
          Some(cur.version)
        } finally { deltaAgg.unpersist(); () }
      case Some(v) if Manifest.contentPreservingSince(spark, srcRoot, v, cur) =>
        // compaction/index/metadata-only window (file-rewriting, so not
        // append-only — it would land in the retracting fold below and
        // scan O(table) both ways to net zero for every key): advance
        // the view's watermark metadata-only instead
        Manifest.recordTxn(spark, dstRoot, writerId, cur.version)
        Some(cur.version)
      case Some(v) =>
        // RETRACTING window: signed fold for count/sum, per-key source
        // recount for min/max, zero-count eviction
        val countOut = aggs.collectFirst { case (out, "count", _) => out }
          .getOrElse(throw new IllegalArgumentException(
            s"$dstRoot: the source retracted rows since version $v but the " +
              "view has no `count` aggregate — group liveness is " +
              "undecidable without one; add a count column to the view"))
        val delta = windowed("cwd", v, cur.version)(
          Manifest.changesWithDeltas(spark, srcRoot, v, cur))
        val sign = org.apache.spark.sql.functions
          .when(col(Manifest.ChangeTypeCol) === "insert", lit(1L))
          .otherwise(lit(-1L))
        val csCols = aggs.collect {
          case (out, "count", _) => sum(sign).as(out)
          case (out, "sum", e) => sum(sign * expr(e)).as(out)
        }
        val deltaCS = delta.groupBy(col(keyCol))
          .agg(csCols.head, csCols.tail: _*).cache()
        try {
          // range + null-key guard in ONE pass over the cached fold
          val r = deltaCS
            .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"),
              max(when(col(keyCol).isNull, 1).otherwise(0)).as("nk")).head()
          require(r.isNullAt(2) || r.getInt(2) == 0,
            nullKeyMsg(s"the retracting delta since version $v"))
          if (r.isNullAt(0)) {
            Manifest.appendOnce(
              graft.store.Manifest.rightSized(aggOf(delta.filter(lit(false))).limit(0)),
              dstRoot, writerId, cur.version)
          } else {
            val csNames = aggs.collect {
              case (out, k, _) if k == "count" || k == "sum" => out }
            val existing = Manifest
              .readWhereBetween(spark, dstRoot, keyCol, r.get(0), r.get(1))
              .join(deltaCS.select(col(keyCol)), Seq(keyCol), "left_semi")
            val foldedCS = existing
              .select(col(keyCol) +: csNames.map(col): _*)
              .unionByName(deltaCS)
              .groupBy(col(keyCol))
              .agg(sum(col(csNames.head)).as(csNames.head),
                csNames.tail.map(c => sum(col(c)).as(c)): _*)
              .cache()
            val live = foldedCS.filter(col(countOut) > 0)
            val dead = foldedCS.filter(col(countOut) <= 0).select(col(keyCol))
            val mmAggs = aggs.collect {
              case (out, "min", e) => min(expr(e)).as(out)
              case (out, "max", e) => max(expr(e)).as(out)
            }
            val assembled =
              if (mmAggs.isEmpty) live
              else {
                // min/max are not retraction-mergeable — recount them
                // for exactly the touched keys from the pinned source
                val recounted = windowed("snap", -1L, cur.version)(
                  Manifest.readSnapshot(spark, srcRoot, cur))
                  .join(foldedCS.select(col(keyCol)), Seq(keyCol), "left_semi")
                  .groupBy(col(keyCol))
                  .agg(mmAggs.head, mmAggs.tail: _*)
                live.join(recounted, Seq(keyCol), "left")
              }
            // canonical agg types (a re-summed sum can widen — pin the
            // schema so the view's fingerprint never drifts)
            val canon = aggOf(delta.filter(lit(false))).schema
            val batch = assembled.select(canon.fields.toSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)): _*)
            // batch ∪ dead keys are exactly the folded delta's keys —
            // the fold's own [lo, hi] replaces the upsert's kstats job
            try Manifest.upsertOnce(batch, dstRoot, keyCol, writerId,
              cur.version, dropKeys = Some(dead),
              keyedRange = Some((r.get(0), r.get(1))))
            finally { foldedCS.unpersist(); () }
          }
          Some(cur.version)
        } finally { deltaCS.unpersist(); () }
    }
  }

  /** One materialized view of a [[matviewDagStep]] DAG: `srcRoot` may
    * be a base table OR another view's `dstRoot` (view-over-view). */
  final case class MatView(srcRoot: String, dstRoot: String,
      writerId: String, keyCol: String, aggs: Seq[(String, String, String)])

  /** One pump step over a MULTI-VIEW DAG — one change feed fanning
    * into several views, and views stacked over views: each view is a
    * [[materializedAggStep]] with its OWN (writerId → txn) watermark
    * on its OWN destination, evaluated in DECLARATION order, so a view
    * whose source is an earlier view's destination folds the
    * upstream's fresh commits in the SAME call (an upstream upsert
    * reaches the downstream view through the retracting window — the
    * remove+insert pair of the changed group folds signed, exactly the
    * cascade rule). Per-view watermarks make the DAG crash-exact: a
    * step that dies mid-fan leaves the finished views ahead and the
    * rest behind; the next call replays the finished views into their
    * exactly-once skip and completes the rest — no DAG-level
    * coordinator state exists to corrupt. Ordering is VALIDATED, not
    * trusted: a view reading a destination declared after it would
    * silently lag one pump cycle forever (loud require instead);
    * duplicate destinations reject (two views folding into one table
    * double-count). Returns one entry per view in order. */
  def matviewDagStep(spark: org.apache.spark.sql.SparkSession,
      views: Seq[MatView]): Seq[Option[Long]] = {
    require(views.nonEmpty, "matviewDagStep needs at least one view")
    val dsts = views.map(_.dstRoot)
    require(dsts.distinct.size == dsts.size,
      s"matviewDagStep: duplicate view destinations ${dsts.diff(dsts.distinct).distinct.mkString(", ")}")
    views.zipWithIndex.foreach { case (v, i) =>
      require(v.srcRoot != v.dstRoot,
        s"matviewDagStep: view over ${v.srcRoot} folds into itself — " +
          "a self-loop would re-aggregate the view's own output")
      val laterDsts = views.drop(i + 1).map(_.dstRoot).toSet
      require(!laterDsts.contains(v.srcRoot),
        s"matviewDagStep: view over ${v.srcRoot} is declared before its " +
          "producer — order views so every producer precedes its consumers")
    }
    // FUSED window reads: views fanning out of one source (the common
    // DAG shape) share each (window, kind) frame through a Spark cache
    // — one source scan per pump feeds every sibling view. Only
    // sources with ≥2 consumers get the cache (a single consumer's
    // cache would be pure materialization overhead); the DAG step owns
    // the unpersist so no storage leaks across pumps.
    val sharedSrcs = views.groupBy(_.srcRoot)
      .filter(_._2.size > 1).keySet
    val cache = scala.collection.mutable.Map
      .empty[(String, String, Long, Long), DataFrame]
    // the shared cache is now touched from sibling threads (below) —
    // getOrElseUpdate must be atomic or two views double-build (and
    // leak) the same window frame. DataFrame construction + .cache()
    // registration are lazy driver-side work, so holding the lock
    // while building is cheap; the jobs run outside it.
    val syncCache = new scala.collection.mutable.AbstractMap[
        (String, String, Long, Long), DataFrame] {
      override def getOrElseUpdate(
          k: (String, String, Long, Long), v: => DataFrame): DataFrame =
        cache.synchronized(cache.getOrElseUpdate(k, v))
      def get(k: (String, String, Long, Long)): Option[DataFrame] =
        cache.synchronized(cache.get(k))
      def iterator = cache.iterator
      def addOne(kv: ((String, String, Long, Long), DataFrame)) =
        { cache.synchronized(cache.addOne(kv)); this }
      def subtractOne(k: (String, String, Long, Long)) =
        { cache.synchronized(cache.subtractOne(k)); this }
    }
    def stepOf(v: MatView): Option[Long] = materializedAggStep(
      spark, v.srcRoot, v.dstRoot, v.writerId, v.keyCol, v.aggs,
      deltaCache = if (sharedSrcs(v.srcRoot)) Some(syncCache) else None)
    // OVERLAP INDEPENDENT VIEWS (guide §2.6): a pump's wall is mostly
    // sequential per-view driver latency (plan + a dozen short jobs per
    // view), so sibling views at the same DAG depth run CONCURRENTLY —
    // each view's short stages back-fill the executor slots the others
    // leave idle. Depth: 0 for views reading an external source, one
    // more than the producer for views reading another view's dst —
    // consumers still run strictly after their producers, so the
    // one-pump cascade (v3 sees v1's fresh fold) is unchanged, and
    // same-depth views never read each other's destination roots.
    val depthOf = scala.collection.mutable.Map.empty[String, Int]
    views.foreach { v =>
      depthOf(v.dstRoot) = depthOf.get(v.srcRoot).map(_ + 1).getOrElse(0)
    }
    val results = new Array[Option[Long]](views.size)
    try {
      views.zipWithIndex.groupBy { case (v, _) => depthOf(v.dstRoot) }
        .toSeq.sortBy(_._1).foreach { case (_, level) =>
          if (level.size == 1) {
            val (v, i) = level.head
            results(i) = stepOf(v)
          } else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(level.size, 4))
            try {
              val futs = level.map { case (v, i) =>
                (i, pool.submit(new java.util.concurrent.Callable[Option[Long]] {
                  def call(): Option[Long] = stepOf(v)
                }))
              }
              futs.foreach { case (i, f) =>
                results(i) = try f.get()
                catch { // surface the step's own exception, not the wrapper
                  case e: java.util.concurrent.ExecutionException =>
                    throw e.getCause
                }
              }
            } finally { pool.shutdown() }
          }
        }
      results.toSeq
    } finally { cache.values.foreach(_.unpersist()); () }
  }

  /** INCREMENTAL MIRROR step — the read side of [[manifestSink]]: pull
    * the source manifest table's changes since the last mirrored
    * version, apply `transform`, and commit the result to the
    * destination manifest table EXACTLY ONCE. The consumer keeps NO
    * side state: its cursor IS the destination's (writerId → txnId)
    * watermark ([[graft.store.Manifest.lastTxn]]), advanced by the same
    * atomic commit that lands the data — so there is no window where
    * data is committed but the cursor is stale or vice versa, and a
    * crashed/raced pump replays into [[graft.store.Manifest.appendOnce]]'s
    * skip. One step may cover SEVERAL source commits (the delta between
    * the watermark and the pinned current snapshot); the source version
    * is resolved ONCE and the delta read against that pinned snapshot
    * ([[graft.store.Manifest.changes]]), so a source commit racing the
    * step simply becomes the next step's delta. Returns the mirrored
    * source version, or None when already up to date (or the source has
    * no committed version yet).
    *
    * Contracts inherited loudly: a file-rewriting source commit
    * (overwrite/compact/restore) throws via `changes`'s append-only
    * check — re-baseline by hand; `transform` must be deterministic and
    * row-local (a replayed delta is SKIPPED, not re-transformed, so a
    * nondeterministic transform would make replay-vs-first-run
    * divergence invisible). */
  def manifestMirrorStep(
      spark: org.apache.spark.sql.SparkSession, srcRoot: String, dstRoot: String,
      writerId: String,
      transform: DataFrame => DataFrame = identity,
      statsCols: Seq[String] = Nil): Option[Long] = {
    import graft.store.Manifest
    val cur = Manifest.current(spark, srcRoot) match {
      case Some(s) if s.files.nonEmpty => s
      case _ => return None
    }
    val last = Manifest.lastTxn(spark, dstRoot, writerId)
    if (last.exists(_ >= cur.version)) return None
    last match {
      case Some(v) if !Manifest.versions(spark, srcRoot).contains(v) =>
        // gc outpaced this consumer: the exact delta from v is
        // unrecoverable (the watermark version's manifest is gone).
        // RE-BASELINE — one atomic exactly-once commit replaces the
        // mirror wholesale with the source's pinned current state AND
        // advances the watermark (the resync contract of
        // [[graft.store.Manifest.changeFeedResync]]).
        Manifest.overwriteOnce(
          transform(Manifest.readSnapshot(spark, srcRoot, cur)),
          dstRoot, writerId, cur.version, statsCols = statsCols)
      case last0 =>
        val delta = last0 match {
          case None => Manifest.readSnapshot(spark, srcRoot, cur) // bootstrap
          case Some(v) => Manifest.changes(spark, srcRoot, v, cur)
        }
        Manifest.appendOnce(transform(delta), dstRoot, writerId, cur.version,
          statsCols = statsCols)
    }
    Some(cur.version)
  }

  /** RETRACTION-capable mirror step — [[manifestMirrorStep]] for a
    * source the engine itself MUTATES (upsert / DV or rewrite deletes /
    * replaceWhere / mergeInto / compaction): the window's NET row delta
    * ([[graft.store.Manifest.changesWithDeltas]], exact for ANY commit
    * kind — no append-only throw) is collapsed to one ACTION per key —
    * the key's surviving row (upsert) or its disappearance (drop) — and
    * applied through [[graft.store.Manifest.upsertOnce]] with
    * drop-keys, so the mirrored rows, the dropped keys, and the txn
    * watermark land in ONE atomic commit (a crashed or raced step
    * replays into the skip; a window whose delta nets to NOTHING — a
    * pure compaction, say — advances the cursor metadata-only via
    * [[graft.store.Manifest.recordTxn]]). The collapse: signed-fold the
    * feed per full row, keep net≠0; net>0 rows are the keys' current
    * values (a source with unique keys yields at most one per key —
    * enforced downstream by upsert's duplicate check), keys with ONLY
    * net<0 rows were deleted. Requires unique non-null source keys; the
    * mirror is the source's row-for-row twin (no transform — a
    * transformed retraction would need the transform inverted to
    * identify victim keys). Bootstrap mirrors the full snapshot.
    * Returns the mirrored source version, or None when up to date. */
  def manifestCdcMirrorStep(
      spark: org.apache.spark.sql.SparkSession, srcRoot: String,
      dstRoot: String, writerId: String, keyCol: String,
      statsCols: Seq[String] = Nil): Option[Long] = {
    import graft.store.Manifest
    val cur = Manifest.current(spark, srcRoot) match {
      case Some(s) if s.files.nonEmpty => s
      case _ => return None
    }
    val last = Manifest.lastTxn(spark, dstRoot, writerId)
    if (last.exists(_ >= cur.version)) return None
    last match {
      case None => // bootstrap: the full (DV-filtered) snapshot
        Manifest.appendOnce(Manifest.readSnapshot(spark, srcRoot, cur),
          dstRoot, writerId, cur.version,
          statsCols = if (statsCols.nonEmpty) statsCols else Seq(keyCol))
      case Some(v) if !Manifest.versions(spark, srcRoot).contains(v) =>
        // gc outpaced this consumer (the watermark version's manifest
        // is gone — the exact net delta is unrecoverable). RE-BASELINE:
        // one atomic exactly-once commit replaces the mirror wholesale
        // with the source's pinned current state and advances the
        // watermark — deleted keys drop with the overwrite, so the
        // mirror converges to the source without replaying the lost
        // window (the [[graft.store.Manifest.changeFeedResync]]
        // contract, version-driven so an empty source still truncates).
        Manifest.overwriteOnce(Manifest.readSnapshot(spark, srcRoot, cur),
          dstRoot, writerId, cur.version,
          statsCols = if (statsCols.nonEmpty) statsCols else Seq(keyCol))
      case Some(v) if Manifest.contentPreservingSince(spark, srcRoot, v, cur) =>
        // the window is compaction/index/metadata commits only: the
        // fold below would scan O(table) both ways and provably net to
        // zero — advance the cursor metadata-only instead (the same
        // commit the net-zero fold lands on, minus the two scans)
        Manifest.recordTxn(spark, dstRoot, writerId, cur.version)
      case Some(v) if Manifest.appendOnlySince(spark, srcRoot, v, cur) =>
        // INSERT-ONLY window (every old file carried, same deletion
        // vector): the net fold below is the identity on the fresh
        // rows — a key is in at most one fresh file, so no remove can
        // pair with it. Merge the fresh rows directly instead of
        // folding the window through a groupBy-all-columns +
        // checkpoint pass; a window with no fresh files (pure metadata
        // commits on the source) advances the cursor metadata-only.
        val oldSet = Manifest.snapshot(spark, srcRoot, v).files.toSet
        if (cur.files.forall(oldSet))
          Manifest.recordTxn(spark, dstRoot, writerId, cur.version)
        else
          Manifest.upsertOnce(Manifest.changes(spark, srcRoot, v, cur),
            dstRoot, keyCol, writerId, cur.version)
      case Some(v) =>
        val feed = Manifest.changesWithDeltas(spark, srcRoot, v, cur)
        val dataCols = feed.columns.filterNot(_ == Manifest.ChangeTypeCol)
        val net = feed.groupBy(dataCols.map(col): _*)
          .agg(sum(when(col(Manifest.ChangeTypeCol) === "insert", 1L)
            .otherwise(-1L)).as("__net"))
          .filter(col("__net") =!= 0L)
          .localCheckpoint(false)
        val ups = net.filter(col("__net") > 0L).drop("__net")
        val dropKeys = net.filter(col("__net") < 0L).select(col(keyCol))
          .join(ups.select(col(keyCol)), Seq(keyCol), "left_anti").distinct()
        // net.isEmpty ⟺ (ups.isEmpty && dropKeys.isEmpty): ups is the
        // net>0 slice, and with no net>0 rows the anti-join is a no-op,
        // so dropKeys is empty exactly when no net<0 rows exist either.
        // One action on the checkpointed fold instead of two actions
        // that each re-evaluated their whole derived subtree.
        if (net.isEmpty)
          Manifest.recordTxn(spark, dstRoot, writerId, cur.version)
        else
          Manifest.upsertOnce(ups, dstRoot, keyCol, writerId, cur.version,
            dropKeys = Some(dropKeys))
    }
    Some(cur.version)
  }

  /** Streaming CDC APPLY into a manifest table: each micro-batch
    * carries the latest row per key (collapse upstream —
    * [[graft.dedup.Dedup]] latest-per-key; duplicate keys in one batch
    * reject loudly) and lands as a MERGE
    * ([[graft.store.Manifest.upsert]]): matched keys replaced, new keys
    * inserted, rewrite cost following TOUCHED FILES via the key-stats
    * prune, not table size. The bootstrap commit is an overwrite that
    * seeds the key skip index (`statsCols`, default the merge key).
    *
    * Replay safety is VALUE idempotency over foreachBatch's actual
    * recovery window: after a crash only the latest uncommitted batch
    * replays (earlier batches never do), and re-merging the same
    * latest-per-key batch reproduces the identical logical table —
    * whether the crash hit before or after that batch's commit.
    * Concurrency: a commit landing between the merge's plan and its
    * publish (a maintenance compaction, say) triggers the merge's
    * bounded auto-re-plan ([[graft.store.Manifest.upsert]]) — the sink
    * survives concurrent table maintenance, and only a sustained
    * writer storm surfaces as a loud failure. */
  def manifestUpsertSink(
      stream: DataFrame, root: String, keyCol: String,
      checkpoint: String,
      statsCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery = {
    val stats = if (statsCols.nonEmpty) statsCols else Seq(keyCol)
    stream.writeStream
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val batch = b.toDF()
        if (graft.store.Manifest.current(batch.sparkSession, root).isEmpty)
          graft.store.Manifest.overwrite(batch, root, statsCols = stats)
        else
          graft.store.Manifest.upsert(batch, root, keyCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** One micro-batch of the idempotent sink: the batch overwrites ITS
    * OWN batch_id partition only (dynamic partition overwrite), so a
    * replayed batch after a failure rewrites the same files instead of
    * appending duplicates — the retry-safe exactly-once-ish pattern for
    * plain-parquet sinks (no transactional table format needed). */
  def upsertBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Streaming parquet sink built on [[upsertBatch]] via foreachBatch. */
  def idempotentParquetSink(
      stream: DataFrame, path: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) => upsertBatch(b.toDF(), id, path))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long, totalValue: Double)
  case class UserSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, total_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState with
    * EVENT-TIME timeouts: a session closes either in-batch (a new event
    * for the user arrives past the gap) or when the watermark passes
    * lastSeen + gap (timeout). Event-time rather than processing-time
    * makes the operator deterministic and replayable — the same input
    * stream always yields the same sessions. State per user is O(1) —
    * start/last/count/sum — so state scales with distinct active users,
    * not event volume. */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "1 minute"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.nEvents, s.totalValue))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.nEvents + 1, s.totalValue + e.value))
                case Some(s) =>
                  closed ::= UserSession(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.nEvents, s.totalValue)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the event-time watermark passes the gap
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
