package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps
import graft.streaming.StreamOps.SessionEvent

/** Structured Streaming operators driven through MemoryStream — real
  * incremental execution (micro-batches, state store, watermarks). */
class StreamOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  test("clusteredIngestSink: appends exactly once, maintains layout every N batches") {
    import graft.store.Manifest
    implicit val sqlCtx = spark.sqlContext
    val root = TempDirs
      .create("graft_clustered_sink").toString + "/t"
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.clusteredIngestSink(
      input.toDF().toDF("x", "y"), root, Seq("x", "y"), "cluster_loop",
      root + "_ckpt", maintainEvery = 2, targetBytes = 2048,
      cubeMinBytes = 512)
    def wave(seed: Long): Seq[(Long, Long)] =
      (0L until 512L).map(i => ((i * 7 + seed) % 64, (i * 13 + seed) % 64))
    // four micro-batches -> maintenance fires after batches 1 and 3
    (0 until 4).foreach { b => input.addData(wave(b): _*); q.processAllAvailable() }
    q.stop()
    assert(Manifest.read(spark, root).count() == 4 * 512L)
    // every batch is clustered: a manual follow-up pass finds nothing
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 512)
    assert(res.rewrittenBytes == 0L, res.toString)
    // layout survived with cube provenance: the op history shows the
    // maintenance commits interleaved with the appends
    val ops = Manifest.history(spark, root).select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops.count(_ == "compactClusteredInc") == 2, ops.toString)
    assert(ops.count(_ == "appendOnce") == 4, ops.toString)
  }

  test("maintainedIngestSink: the policy loop rides the stream — cluster, gc, exactly once") {
    import graft.store.{Maintenance, MaintenancePolicy, Manifest}
    implicit val sqlCtx = spark.sqlContext
    val root = TempDirs
      .create("graft_maint_sink").toString + "/t"
    val input = MemoryStream[(Long, Long)]
    val policy = MaintenancePolicy(layoutCols = Seq("x", "y"),
      targetBytes = 2048, cubeMinBytes = 512, keepVersions = 2)
    val q = StreamOps.maintainedIngestSink(
      input.toDF().toDF("x", "y"), root, "maint_loop", root + "_ckpt",
      policy, maintainEvery = 2)
    def wave(seed: Long): Seq[(Long, Long)] =
      (0L until 512L).map(i => ((i * 7 + seed) % 64, (i * 13 + seed) % 64))
    (0 until 4).foreach { b => input.addData(wave(b): _*); q.processAllAvailable() }
    q.stop()
    assert(Manifest.read(spark, root).count() == 4 * 512L)
    // the loop's own maintenance converged: a manual pass finds nothing
    val r = Maintenance.run(spark, root, policy)
    assert(r.clustered.exists(_.rewrittenBytes == 0L), r.toString)
    // gc enforced the retention depth as it went
    assert(Manifest.versions(spark, root).size <= 3,
      Manifest.versions(spark, root).toString)
  }

  test("dedupEvents drops duplicate event_ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    input.addData((1L, ts(0), "click", 1.0), (2L, ts(1), "view", 2.0), (1L, ts(2), "click", 1.0))
    q.processAllAvailable()
    input.addData((2L, ts(3), "view", 2.0), (3L, ts(4), "buy", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("screenAndAdmit: the stream grows the index it screens; replay admits nothing twice") {
    import graft.dedup.Dedup
    import graft.store.Manifest
    implicit val sqlCtx = spark.sqlContext
    val founding = "the quick brown fox jumps over the lazy dog near the river bank today"
    val novelA = "distributed query engines partition work across executors for scale"
    val novelB = "sequence packing fills token budget bins with greedy running totals"
    val base = TempDirs.create("sa_index").toString
    val (hashedRoot, bandedRoot) = (s"$base/hashed", s"$base/banded")
    Dedup.writeCorpusIndex(Seq((1L, founding)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot)
    val admittedPath = TempDirs.create("sa_admitted").toString
    val ckpt = TempDirs.create("sa_ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.screenAndAdmit(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot,
      minJaccard = 0.9, admittedPath, ckpt)
    // batch 0: one novel doc — admitted and indexed
    input.addData((10L, novelA))
    q.processAllAvailable()
    // batch 1: a near-dup OF BATCH 0'S ADMISSION (flagged against the
    // grown index) + a novel doc
    input.addData((20L, novelA), (21L, novelB))
    q.processAllAvailable()
    q.stop()
    val admitted = spark.read.parquet(admittedPath)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(10L, 21L), s"admitted=$admitted") // 20 screened out
    assert(Manifest.read(spark, hashedRoot).select("id").as[Long].collect().toSet
      == Set(1L, 10L, 21L))
    // REPLAY of batch 0 (crash-after-append scenario): the doc's own
    // index entry screens it at jaccard 1.0 — nothing admitted twice
    val replay = Dedup.admitBatch(Seq((10L, novelA)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9)
    assert(replay.isEmpty)
    assert(Manifest.read(spark, hashedRoot).count() == 3L)
    // and the empty replay's sink write touches no partition — the
    // original batch's admitted rows survive
    StreamOps.upsertBatch(replay.select("doc_id", "text"), 0L, admittedPath)
    assert(spark.read.parquet(admittedPath)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 21L))
  }

  test("screenAndAdmitSpans: the stream cuts against every prior batch's retained text") {
    import graft.dedup.Dedup
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    Dedup.writeSpanIndex(
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3, "t_ss_grams")
    val admittedPath = TempDirs.create("ss_admitted").toString
    val ckpt = TempDirs.create("ss_ckpt").toString
    try {
      val input = MemoryStream[(Long, String)]
      val q = StreamOps.screenAndAdmitSpans(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", n = 3,
        "t_ss_grams", admittedPath, ckpt)
      // batch 0: a doc repeating a corpus span + a novel doc
      input.addData(
        (10L, "zeta alpha beta gamma delta eta"),
        (11L, "completely novel content here"))
      q.processAllAvailable()
      // batch 1: a doc repeating BATCH 0's admitted passage — must be
      // cut against the grown index, any alignment
      input.addData((20L, "x completely novel content here y"))
      q.processAllAvailable()
      q.stop()
      val admitted = spark.read.parquet(admittedPath)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(admitted(10L) == "zeta eta", s"corpus span not cut: ${admitted(10L)}")
      assert(admitted(11L) == "completely novel content here")
      assert(admitted(20L) == "x y", s"prior admission not screened: ${admitted(20L)}")
      // batch-2 stream state: replaying batch 1 through the BATCH form
      // appends zero grams (index exactly-once per gram)
      val before = spark.table("t_ss_grams").count()
      Dedup.admitSpansBatch(
        Seq((20L, "x completely novel content here y")).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, "t_ss_grams")
        .collect()
      assert(spark.table("t_ss_grams").count() == before)
    } finally Store.drop(spark, "t_ss_grams")
  }

  test("screenAndAdmitSemantic: the stream grows the semantic index it screens; replay admits nothing twice") {
    import graft.similarity.Similarity
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    // founding corpus: two well-separated directions (k = 2 clusters)
    val founding = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    Similarity.writeSemanticIndex(founding, "vec_id", "embedding",
      k = 2, iters = 2, table = "t_sas_ix", numBuckets = 2)
    val admittedPath = TempDirs.create("sas_admitted").toString
    val ckpt = TempDirs.create("sas_ckpt").toString
    try {
      val input = MemoryStream[(Long, Array[Float])]
      val q = StreamOps.screenAndAdmitSemantic(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        "t_sas_ix", theta = 0.95, admittedPath, ckpt)
      // batch 0: a novel direction — admitted, indexed, codebook folded
      val novelA = Array(0.0f, 0.0f, 1.0f, 0.0f)
      input.addData((10L, novelA))
      q.processAllAvailable()
      // batch 1: a near-dup OF BATCH 0'S ADMISSION (cosine 1.0 — scale-
      // invariant) + a novel direction; flagged against the GROWN index
      input.addData((20L, Array(0.0f, 0.0f, 0.9f, 0.0f)),
        (21L, Array(0.0f, 0.0f, 0.0f, 1.0f)))
      q.processAllAvailable()
      q.stop()
      // the appends/folds ran in the stream's micro-batch session CLONE;
      // this session's relation cache predates them (primed by the
      // bootstrap's baseline read) — refresh, as any cross-session
      // reader of an externally-written table must (standard Spark
      // semantics; the admitting loop itself always sees its own writes)
      spark.catalog.refreshTable("t_sas_ix")
      spark.catalog.refreshTable(Similarity.codebookTable("t_sas_ix"))
      val admitted = spark.read.parquet(admittedPath)
        .select("vec_id").as[Long].collect().toSet
      assert(admitted == Set(10L, 21L), s"admitted=$admitted") // 20 screened out
      assert(Store.table(spark, "t_sas_ix").select("id").as[Long].collect().toSet
        == Set(1L, 2L, 3L, 10L, 21L))
      // the folds kept the maintained codebook ≡ re-derived index sums
      val maintained = Store.table(spark, Similarity.codebookTable("t_sas_ix"))
        .orderBy("cid", "pos").collect().toSeq
      Similarity.repairSemanticCodebook(spark, "t_sas_ix")
      val rederived = Store.table(spark, Similarity.codebookTable("t_sas_ix"))
        .orderBy("cid", "pos").collect().toSeq
      assert(maintained == rederived, "stream folds diverged from index sums")
      // REPLAY of batch 0 (crash-before-fold scenario): the vector's own
      // index row screens it at cosine ≈ 1.0 — nothing admitted twice
      val replay = Similarity.admitSemanticBatch(
        Seq((10L, novelA)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "t_sas_ix", theta = 0.95)
      assert(replay.isEmpty)
      assert(Store.table(spark, "t_sas_ix").count() == 5L)
      // and the empty replay's sink write touches no partition — the
      // original batch's admitted rows survive
      StreamOps.upsertBatch(replay, 0L, admittedPath)
      assert(spark.read.parquet(admittedPath)
        .select("vec_id").as[Long].collect().toSet == Set(10L, 21L))
    } finally Similarity.dropSemanticIndex(spark, "t_sas_ix")
  }

  test("nearDupScreen: stateless stream probe of the static corpus index ≡ batch verdicts") {
    import graft.dedup.Dedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about databases and distributed query engines"))
      .toDF("doc_id", "text")
    val corpusHashed = Dedup.hashedDocs(corpus, "doc_id", "text", Dedup.CharShingles(5))
      .localCheckpoint(false)
    val corpusBanded = Dedup.bandedSigs(corpusHashed, 8, 4)
    val batchRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "novel content that matches nothing in the existing corpus at all here"))

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.nearDupScreen(stream, "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        corpusBanded, corpusHashed, minJaccard = 0.9)
      .writeStream.format("memory").queryName("screen_out")
      .outputMode("append").start()
    input.addData(batchRows: _*)
    q.processAllAvailable()
    q.stop()
    // duplicates (one per matching band) carry identical values — set-compare
    val streamed = spark.table("screen_out")
      .as[(Long, Long, Double)].collect().toSet
    val batch = Dedup.incrementalNearDupPairs(
        batchRows.toDF("doc_id", "text"), "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        corpusBanded, corpusHashed)
      .filter(col("jaccard") >= 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set((10L, 1L, 1.0)))
  }

  test("semanticScreen: stateless stream probe of the static semantic index ≡ batch verdicts") {
    import graft.similarity.Similarity
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    Store.ensureDatabase(spark, "graft_test")
    def v(deg: Double) = {
      val r = math.toRadians(deg); Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = Seq((1L, v(0)), (2L, v(3)), (3L, v(90)), (4L, v(87)))
      .toDF("vec_id", "embedding")
    Similarity.writeSemanticIndex(corpus, "vec_id", "embedding",
      k = 2, iters = 2, table = "t_stream_sem_ix", numBuckets = 2)
    try {
      val ix = Store.table(spark, "t_stream_sem_ix")
      val codebook = Similarity.literalCodebookSums(spark, "t_stream_sem_ix")
      // 100: dup of corpus v1; 101: novel direction; 102: dup of v3
      val batchRows = Seq((100L, v(1)), (101L, v(45)), (102L, v(89)))

      val input = MemoryStream[(Long, Seq[Float])]
      val stream = input.toDF().toDF("vec_id", "embedding")
      val q = StreamOps.semanticScreen(stream, "vec_id", "embedding",
          codebook, ix, theta = 0.99)
        .writeStream.format("memory").queryName("sem_screen_out")
        .outputMode("append").start()
      input.addData(batchRows: _*)
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("sem_screen_out")
        .as[(Long, Long, Double)].collect().toSet
      // the batch screen with the SAME maintained codebook — verdicts
      // must agree pair-for-pair, cosine-for-cosine
      val batch = Similarity.semanticScreen(
          batchRows.toDF("vec_id", "embedding"), "vec_id", "embedding",
          ix, theta = 0.99,
          codebook = Some(Store.table(spark,
            Similarity.codebookTable("t_stream_sem_ix"))))
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch)
      // 100 (1°) dups both 0° and 3° members; 102 (89°) both 90° and
      // 87°; the novel 101 (45°) hits nothing
      assert(streamed.map(p => (p._1, p._2))
        == Set((100L, 1L), (100L, 2L), (102L, 3L), (102L, 4L)), s"got $streamed")
    } finally Similarity.dropSemanticIndex(spark, "t_stream_sem_ix")
  }

  test("windowedTypeCounts aggregates into tumbling windows incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamOps.windowedTypeCounts(events, windowDur = "10 minutes",
        watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    input.addData(
      (1L, ts(0), "click", 1.0), (2L, ts(3), "click", 2.0),
      (3L, ts(5), "view", 5.0), (4L, ts(12), "click", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .select("event_type", "n_events", "total_value")
      .as[(String, Long, Double)].collect().toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0), ("click", 1L, 4.0)))
  }

  test("streaming windowed aggregation == batch aggregation on the real events table") {
    // stream the driver events.parquet through windowedTypeCounts and
    // cross-check against the equivalent batch groupBy — incremental
    // execution must not change the result
    val batchDf = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .withColumn("ts", timestamp_seconds(expr("ts DIV 1000000000"))) // nanos → timestamp
    // readStream needs a directory of homogeneous files — restage the
    // converted events into a temp dir and stream from there
    val dir = TempDirs.create("graft-stream").toString
    batchDf.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batchDf.schema).parquet(dir)
    val q = StreamOps.windowedTypeCounts(stream, windowDur = "1 day", watermark = "1 hour")
      .writeStream.format("memory").queryName("win_events")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_events")
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet
    val batch = batchDf
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("win.start"), col("event_type"), col("n_events"), col("total_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("dedupByFingerprint drops whitespace/case variants within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.dedupByFingerprint(docs, "text", "ts")
      .writeStream.format("memory").queryName("fp_out")
      .outputMode("append").start()
    input.addData(
      (1L, ts(0), "The Quick   Brown Fox"),
      (2L, ts(1), "the quick brown fox"), // variant of 1 -> dropped
      (3L, ts(2), "something else entirely"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("fp_out").select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("intervalJoin: events join same-user orders within the lookback only") {
    implicit val sqlCtx = spark.sqlContext
    val evIn = MemoryStream[(Long, Timestamp, String)]
    val orIn = MemoryStream[(Long, Timestamp, Double)]
    val events = evIn.toDF().toDF("user_id", "ts", "event_type")
    val orders = orIn.toDF().toDF("o_user_id", "o_ts", "o_total")
    val q = StreamOps.intervalJoin(events, orders,
        "user_id", "o_user_id", "ts", "o_ts", lookback = "10 minutes")
      .select("user_id", "event_type", "o_total")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    // user 1: order at min 0 -> event at min 5 joins (within 10m);
    //         event at min 20 does NOT (order too old)
    // user 2: order at min 6 AFTER the event at min 4 -> no join
    orIn.addData((1L, ts(0), 50.0), (2L, ts(6), 70.0))
    evIn.addData((1L, ts(5), "click"), (1L, ts(20), "view"), (2L, ts(4), "click"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ij_out").as[(Long, String, Double)].collect().toSet
    assert(out == Set((1L, "click", 50.0)))
  }

  test("screenByPerplexity / screenByNbQuality: stream verdicts ≡ batch, replay-safe sink") {
    import graft.text.LmQuality
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(
      (1L, "a b a b a b c a b"), (2L, "a b c a b"), (3L, "a b a b")
    ).toDF("doc_id", "text")
    val lm = LmQuality.trainBigramLm("doc_id", "text")(train)
    val nb = LmQuality.trainNbQuality("text", "y")(
      train.withColumn("y", col("doc_id") <= 2L))
    // the scoring corpus: one model-like doc, one off-model doc,
    // split across two micro-batches
    val docs = Seq((10L, "a b a b"), (11L, "z z z z"), (12L, "a b c"), (13L, "q r s"))
    val batchKept = LmQuality.perplexityFilter("doc_id", "text", lm, 1500L)(
      docs.toDF("doc_id", "text")).select("doc_id").as[Long].collect().toSet
    val batchNb = LmQuality.nbScoreBits("doc_id", "text", nb)(
        docs.toDF("doc_id", "text"))
      .filter(col("predicted")).select("doc_id").as[Long].collect().toSet
    assert(batchKept.nonEmpty && batchKept != docs.map(_._1).toSet,
      s"fixture must split: $batchKept") // the stream test must discriminate
    val dir = TempDirs.create("graft-ppl").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.screenByPerplexity(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", lm, 1500L,
      s"$dir/kept", s"$dir/ckpt")
    input.addData(docs.take(2): _*); q.processAllAvailable()
    input.addData(docs.drop(2): _*); q.processAllAvailable()
    q.stop()
    val streamKept = spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept, s"stream=$streamKept batch=$batchKept")
    // replay of batch 0 rewrites its partition, never duplicates
    StreamOps.upsertBatch(LmQuality.perplexityFilter("doc_id", "text", lm, 1500L)(
      docs.take(2).toDF("doc_id", "text")), 0L, s"$dir/kept")
    assert(spark.read.parquet(s"$dir/kept")
      .select("doc_id").as[Long].collect().toSet == batchKept)
    // NB sibling: same harness, classifier verdicts
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.screenByNbQuality(
      input2.toDF().toDF("doc_id", "text"), "doc_id", "text", nb,
      s"$dir/nbkept", s"$dir/nbckpt")
    input2.addData(docs: _*); q2.processAllAvailable(); q2.stop()
    val streamNb = spark.read.parquet(s"$dir/nbkept")
      .select("doc_id").as[Long].collect().toSet
    assert(streamNb == batchNb, s"stream=$streamNb batch=$batchNb")
  }

  test("indexPostings: the stream grows the search index; phrase search sees admissions") {
    import graft.text.Search
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    val tbl = "t_stream_postings"
    try {
      Search.writePostingsIndex(
        Seq((1L, "x y z")).toDF("doc_id", "text"), "doc_id", "text", tbl, 4)
      val ckpt = TempDirs.create("post_ckpt").toString
      val input = MemoryStream[(Long, String)]
      val q = StreamOps.indexPostings(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", tbl, ckpt)
      input.addData((2L, "y z w")); q.processAllAvailable()
      input.addData((2L, "y z w"), (3L, "z w v")); q.processAllAvailable() // 2 replays
      q.stop()
      assert(spark.table(tbl).count() == 9L, "replay duplicated postings")
      assert(Search.phraseSearchStored(spark, tbl, Seq("z", "w"))
        .select("id").as[Long].collect().toSet == Set(2L, 3L))
    } finally Store.drop(spark, tbl)
  }

  test("cmsSink: the stored sketch log merges to the batch sketch of everything seen") {
    import graft.functions.CountMinSketch
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft-cms").toString
    val input = MemoryStream[String]
    val q = StreamOps.cmsSink(
      input.toDF().toDF("w"), "w", depth = 4, width = 16,
      s"$dir/sk", s"$dir/ckpt")
    input.addData("a", "b", "a"); q.processAllAvailable()
    input.addData("b", "c"); q.processAllAvailable()
    q.stop()
    val merged = CountMinSketch.mergedCells(
        spark.read.parquet(s"$dir/sk"), "sk")
      .orderBy("pos").as[(Int, Long)].collect().toSeq
    val batch = Seq("a", "b", "a", "b", "c").toDF("w")
      .agg(CountMinSketch.sketch(col("w"), 4, 16).as("sk"))
      .select(posexplode(col("sk")).as(Seq("pos", "cell")))
      .orderBy("pos").as[(Int, Long)].collect().toSeq
    assert(merged == batch, "sketch log diverged from one-pass sketch")
    // replay of batch 1 overwrites its partition — the log stays exactly-once
    StreamOps.upsertBatch(Seq("b", "c").toDF("w")
      .agg(CountMinSketch.sketch(col("w"), 4, 16).as("sk")), 1L, s"$dir/sk")
    val after = CountMinSketch.mergedCells(spark.read.parquet(s"$dir/sk"), "sk")
      .orderBy("pos").as[(Int, Long)].collect().toSeq
    assert(after == batch, "replayed batch double-counted")
  }

  test("lmCountsSink: the online model log reconstructs the offline model exactly") {
    import graft.text.LmQuality
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft-lm").toString
    // batch 2 includes a SINGLE-token doc: vocab-only, no transitions —
    // the case the unigram log exists for
    val b1 = Seq((1L, "a b a b c"), (2L, "a b"))
    val b2 = Seq((3L, " a  "), (4L, "c d c"))
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.lmCountsSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/bi", s"$dir/uni", s"$dir/ckpt")
    input.addData(b1: _*); q.processAllAvailable()
    input.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val online = LmQuality.lmFromLogs(
      spark.read.parquet(s"$dir/bi"), spark.read.parquet(s"$dir/uni"))
    val offline = LmQuality.trainBigramLm("doc_id", "text")(
      (b1 ++ b2).toDF("doc_id", "text"))
    assert(online.vocabSize == offline.vocabSize) // incl. the 1-token doc's token
    assert(online.bigrams.as[(String, String, Long)].collect().toSet ==
      offline.bigrams.as[(String, String, Long)].collect().toSet)
    assert(online.histories.as[(String, Long)].collect().toSet ==
      offline.histories.as[(String, Long)].collect().toSet)
    // and the screens agree doc-for-doc on a probe corpus
    val probe = Seq((10L, "a b c d"), (11L, "z z")).toDF("doc_id", "text")
    assert(LmQuality.surprisalBits("doc_id", "text", online)(probe)
      .as[(Long, Long, Long)].collect().toSet ==
      LmQuality.surprisalBits("doc_id", "text", offline)(probe)
        .as[(Long, Long, Long)].collect().toSet)
    // replay of batch 1 rewrites both its partitions — model unchanged
    StreamOps.upsertBatch(
      LmQuality.bigramCounts("doc_id", "text")(b2.toDF("doc_id", "text")), 1L, s"$dir/bi")
    StreamOps.upsertBatch(
      LmQuality.unigramCounts("text")(b2.toDF("doc_id", "text")), 1L, s"$dir/uni")
    val replayed = LmQuality.lmFromLogs(
      spark.read.parquet(s"$dir/bi"), spark.read.parquet(s"$dir/uni"))
    assert(replayed.bigrams.as[(String, String, Long)].collect().toSet ==
      offline.bigrams.as[(String, String, Long)].collect().toSet)
  }

  test("linkageScreen: stateless stream probe of the reference ≡ batch linkage verdicts") {
    import graft.operators.Linkage
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((100L, 1, "ann", "x"), (200L, 1, "bob", "y"), (300L, 2, "cat", "z"))
      .toDF("ref_id", "blk", "ref_name", "ref_seg")
    val fields = Seq(("name", "name", "ref_name"), ("seg", "seg", "ref_seg"))
    val w = Map("name" -> (8L, -4L), "seg" -> (2L, -2L))
    val batchRows = Seq((1L, 1, "ann", "x"), (2L, 1, "ann", "q"), (3L, 2, "dog", "z"))
    val batchGot = Linkage.scoreFs(
        batchRows.toDF("rec_id", "blk", "name", "seg").join(ref, Seq("blk")),
        fields, w)
      .filter(col("score_bits") >= 6L)
      .select("rec_id", "ref_id", "score_bits")
      .as[(Long, Long, Long)].collect().toSet
    assert(batchGot == Set((1L, 100L, 10L), (2L, 100L, 6L)), s"$batchGot")
    val input = MemoryStream[(Long, Int, String, String)]
    val screened = StreamOps.linkageScreen(
      input.toDF().toDF("rec_id", "blk", "name", "seg"), ref, "blk",
      "rec_id", "ref_id", fields, w, minScoreBits = 6L)
    val q = screened.writeStream.format("memory").queryName("t_linkscreen")
      .outputMode("append").start()
    input.addData(batchRows: _*); q.processAllAvailable(); q.stop()
    val streamGot = spark.table("t_linkscreen")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamGot == batchGot, s"stream=$streamGot batch=$batchGot")
  }

  test("idempotentParquetSink: a replayed batch does not duplicate rows") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft-sink").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.idempotentParquetSink(
      input.toDF().toDF("id", "v"), s"$dir/data", s"$dir/ckpt")
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    val before = spark.read.parquet(s"$dir/data")
    assert(before.count() == 3)
    // simulate a failure-replay of batch 1: same data, same id
    StreamOps.upsertBatch(Seq((3L, "c")).toDF("id", "v"), 1L, s"$dir/data")
    val after = spark.read.parquet(s"$dir/data")
    assert(after.count() == 3, "replayed batch duplicated rows")
    // while a NEW batch id appends
    StreamOps.upsertBatch(Seq((4L, "d")).toDF("id", "v"), 2L, s"$dir/data")
    assert(spark.read.parquet(s"$dir/data").count() == 4)
  }

  test("manifestSink: exactly-once streamed appends into an atomic manifest table") {
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft-msink").toString
    val root = s"$dir/table"
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.manifestSink(
      input.toDF().toDF("id", "v"), root, "writer-a", s"$dir/ckpt",
      statsCols = Seq("id"))
    input.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    input.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(graft.store.Manifest.read(spark, root).count() == 3)
    // count(*) straight from the manifest — the stream maintained row counts
    assert(graft.store.Manifest.countRows(spark, root) == 3L)
    // failure-replay of batch 1 (same writer, same batchId): recognized
    // by the txn watermark, nothing double-committed
    val (_, committed) = graft.store.Manifest.appendOnce(
      Seq((3L, "c")).toDF("id", "v"), root, "writer-a", 1L)
    assert(!committed)
    assert(graft.store.Manifest.read(spark, root).count() == 3)
    // while the next batchId appends, and the skip index kept stats
    assert(graft.store.Manifest.appendOnce(
      Seq((4L, "d")).toDF("id", "v"), root, "writer-a", 2L,
      statsCols = Seq("id"))._2)
    assert(graft.store.Manifest.read(spark, root).count() == 4)
    val snap = graft.store.Manifest.current(spark, root).get
    assert(snap.stats.size == snap.files.size, s"skip stats missing: ${snap.stats.keys}")
  }

  test("manifestUpsertSink: streamed CDC merge, last writer wins, replay-idempotent") {
    import graft.store.Manifest
    implicit val sqlCtx = spark.sqlContext
    val dir = TempDirs.create("graft-cdcsink").toString
    val root = s"$dir/table"
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.manifestUpsertSink(
      input.toDF().toDF("id", "v"), root, "id", s"$dir/ckpt")
    // batch 0: bootstrap insert
    input.addData((1L, "a0"), (2L, "b0"), (3L, "c0"))
    q.processAllAvailable()
    // batch 1: update key 2, insert key 4
    input.addData((2L, "b1"), (4L, "d1"))
    q.processAllAvailable()
    q.stop()
    def state(): Set[(Long, String)] =
      Manifest.read(spark, root).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state() == Set((1L, "a0"), (2L, "b1"), (3L, "c0"), (4L, "d1")))
    // the bootstrap seeded the key skip index; the merge maintained it
    val snap = Manifest.current(spark, root).get
    assert(snap.stats.size == snap.files.size, s"key stats missing: ${snap.stats.keys}")
    // foreachBatch's recovery window replays only the LATEST batch:
    // re-merging it reproduces the identical logical table
    Manifest.upsert(Seq((2L, "b1"), (4L, "d1")).toDF("id", "v"), root, "id")
    assert(state() == Set((1L, "a0"), (2L, "b1"), (3L, "c0"), (4L, "d1")))
    // in-batch duplicate keys (uncollapsed CDC) reject loudly
    intercept[IllegalArgumentException] {
      Manifest.upsert(Seq((7L, "x"), (7L, "y")).toDF("id", "v"), root, "id")
    }
  }

  test("manifestMirrorStep: exactly-once incremental mirror, no consumer-side state") {
    import graft.store.Manifest
    val dir = TempDirs.create("graft-mirror").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    def step(): Option[Long] = StreamOps.manifestMirrorStep(
      spark, src, dst, "mirror",
      transform = _.filter(col("id") % 2 === 0).withColumn("v2", upper(col("v"))),
      statsCols = Seq("id"))

    // source absent → no-op, not a throw
    assert(step().isEmpty)

    Manifest.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src) // v0
    assert(step().contains(0L)) // bootstrap: full snapshot
    assert(Manifest.read(spark, dst).collect().map(r => (r.getLong(0), r.getString(2))).toSet
      == Set((2L, "B")))
    assert(step().isEmpty) // up to date

    Manifest.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), src) // v1
    Manifest.append(Seq((5L, "e"), (6L, "f")).toDF("id", "v"), src) // v2
    assert(step().contains(2L)) // one step covers BOTH pending commits
    assert(Manifest.read(spark, dst).filter(col("id") % 2 =!= 0).isEmpty)
    assert(Manifest.countRows(spark, dst) == 3L) // 2, 4, 6

    // lagging second pump replaying an old delta: the destination's txn
    // watermark (the only cursor there is) skips it — no duplicates
    val (_, committed) = Manifest.appendOnce(
      Seq((2L, "b", "B")).toDF("id", "v", "v2"), dst, "mirror", 0L)
    assert(!committed)
    assert(Manifest.countRows(spark, dst) == 3L)

    // the mirror maintains the destination's skip index
    val snap = Manifest.current(spark, dst).get
    assert(snap.stats.size == snap.files.size, s"skip stats missing: ${snap.stats.keys}")

    // a file-rewriting source commit breaks the append-only feed contract
    Manifest.compact(spark, src, targetBytes = 1L << 20)
    Manifest.append(Seq((7L, "g"), (8L, "h")).toDF("id", "v"), src)
    val e = intercept[IllegalArgumentException] { step() }
    assert(e.getMessage.contains("not append-only"))
  }

  test("manifestCdcMirrorStep: a MUTATING source mirrors exactly; net-zero windows advance the cursor") {
    import graft.store.Manifest
    val dir = TempDirs.create("graft-cdc-mirror").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    def step(): Option[Long] = StreamOps.manifestCdcMirrorStep(
      spark, src, dst, "cdc", "k")
    def mirror(): Set[(Long, Long)] = Manifest.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(step().isEmpty) // source absent → no-op

    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      src, statsCols = Seq("k"))                                   // v0
    assert(step().contains(0L)) // bootstrap
    assert(mirror() == Set((1L, 10L), (2L, 20L)))
    assert(step().isEmpty) // up to date

    // ONE window covering an update, an insert, and a DV delete —
    // exactly what the append-only mirror cannot survive
    Manifest.upsert(Seq((2L, 99L), (3L, 30L)).toDF("k", "x"), src, "k") // v1
    Manifest.deleteWhereBetweenDv(spark, src, "k", 1L, 1L)              // v2
    assert(step().contains(2L))
    assert(mirror() == Set((2L, 99L), (3L, 30L)))

    // a replayed step (crashed pump, second pump) lands NOTHING twice:
    // the destination's txn watermark is the only cursor
    val (_, committed) = Manifest.upsertOnce(
      Seq((2L, 99L)).toDF("k", "x"), dst, "k", "cdc", 2L)
    assert(!committed)
    assert(mirror() == Set((2L, 99L), (3L, 30L)))

    // a COMPACTION nets to zero rows: the cursor advances through a
    // metadata-only commit, the mirror's rows untouched
    val dstFilesBefore = Manifest.current(spark, dst).get.files
    Manifest.compact(spark, src, targetBytes = 1L << 20)           // v3
    assert(step().contains(3L))
    assert(Manifest.lastTxn(spark, dst, "cdc").contains(3L))
    assert(Manifest.current(spark, dst).get.files == dstFilesBefore,
      "a net-zero window must not stage destination bytes")
    assert(mirror() == Set((2L, 99L), (3L, 30L)))

    // a delete that empties a whole key: the mirror drops it, never
    // keeps a husk
    Manifest.deleteWhereBetweenDv(spark, src, "k", 3L, 3L)         // v4
    assert(step().contains(4L))
    assert(mirror() == Set((2L, 99L)))
    assert(step().isEmpty)
  }

  test("cdc mirror survives gc outpacing its cursor: version-driven re-baseline") {
    import graft.store.Manifest
    val dir = TempDirs.create("graft-cdc-resync").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    def step(): Option[Long] = StreamOps.manifestCdcMirrorStep(
      spark, src, dst, "cdc", "k")
    def mirror(): Set[(Long, Long)] = Manifest.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      src, statsCols = Seq("k"))                                   // v0
    assert(step().contains(0L)) // bootstrap: watermark = 0
    // the source races ahead while the consumer lags...
    Manifest.upsert(Seq((2L, 99L), (3L, 30L)).toDF("k", "x"), src, "k") // v1
    Manifest.deleteWhereBetweenDv(spark, src, "k", 1L, 1L)              // v2
    Manifest.append(Seq((4L, 40L)).toDF("k", "x").coalesce(1),
      src, statsCols = Seq("k"))                                        // v3
    // ...and retention outpaces the watermark: v0's manifest is gone
    Manifest.gc(spark, src, keepVersions = 1)
    assert(Manifest.versions(spark, src) == Seq(3L))
    // the pump RE-BASELINES instead of throwing: one atomic commit
    // replaces the mirror with the source's current state AND moves
    // the cursor — deleted key 1 drops, update to key 2 lands
    assert(step().contains(3L))
    assert(mirror() == Set((2L, 99L), (3L, 30L), (4L, 40L)))
    assert(Manifest.lastTxn(spark, dst, "cdc").contains(3L))
    assert(step().isEmpty) // up to date after the resync
    // exact incremental folding RESUMES from the new baseline
    Manifest.upsert(Seq((4L, 41L)).toDF("k", "x"), src, "k")       // v4
    Manifest.deleteWhereBetweenDv(spark, src, "k", 3L, 3L)         // v5
    assert(step().contains(5L))
    assert(mirror() == Set((2L, 99L), (4L, 41L)))
  }

  test("matview DAG: fan-out + view-over-view, per-view watermarks, cascaded retraction") {
    import graft.store.Manifest
    import StreamOps.MatView
    val dir = TempDirs.create("graft-mv-dag").toString
    val src = s"$dir/src"
    val v1 = s"$dir/v1"; val v2 = s"$dir/v2"; val v3 = s"$dir/v3"
    val views = Seq(
      MatView(src, v1, "p1", "k", Seq(("n", "count", ""), ("s", "sum", "x"))),
      MatView(src, v2, "p2", "grp", Seq(("n", "count", ""), ("s", "sum", "x"))),
      // view OVER view: distribution of keys by their order count
      MatView(v1, v3, "p3", "n", Seq(("m", "count", ""), ("st", "sum", "s"))))
    def step() = StreamOps.matviewDagStep(spark, views)
    def rows3(r: String): Set[(Long, Long, Long)] = Manifest.read(spark, r)
      .collect().map(t => (t.getLong(0), t.getLong(1), t.getLong(2))).toSet

    Manifest.append(Seq((1L, "a", 10L), (1L, "a", 5L), (2L, "b", 20L))
      .toDF("k", "grp", "x").coalesce(1), src, statsCols = Seq("k"))
    step() // bootstrap all three in one call
    assert(rows3(v1) == Set((1L, 2L, 15L), (2L, 1L, 20L)))
    assert(Manifest.read(spark, v2).collect()
      .map(t => (t.getString(0), t.getLong(1), t.getLong(2))).toSet ==
      Set(("a", 2L, 15L), ("b", 1L, 20L)))
    assert(rows3(v3) == Set((2L, 1L, 15L), (1L, 1L, 20L)))
    // inserts cascade: the downstream view folds the upstream's
    // UPSERT through its retracting window in the SAME dag call
    Manifest.append(Seq((2L, "b", 7L), (3L, "a", 1L))
      .toDF("k", "grp", "x").coalesce(1), src, statsCols = Seq("k"))
    step()
    assert(rows3(v1) == Set((1L, 2L, 15L), (2L, 2L, 27L), (3L, 1L, 1L)))
    assert(rows3(v3) == Set((2L, 2L, 42L), (1L, 1L, 1L)))
    // retraction cascades two levels: a source DV delete evicts k=1
    // from v1, whose remove retracts customer 1 from v3's n=2 group
    Manifest.deleteWhereBetweenDv(spark, src, "k", 1L, 1L)
    step()
    assert(rows3(v1) == Set((2L, 2L, 27L), (3L, 1L, 1L)))
    assert(Manifest.read(spark, v2).collect()
      .map(t => (t.getString(0), t.getLong(1), t.getLong(2))).toSet ==
      Set(("a", 1L, 1L), ("b", 2L, 27L)))
    assert(rows3(v3) == Set((2L, 1L, 27L), (1L, 1L, 1L)))
    // convergence: a replayed call no-ops on every view
    assert(step().forall(_.isEmpty))
    // ordering is validated: a consumer before its producer rejects
    val e = intercept[IllegalArgumentException] {
      StreamOps.matviewDagStep(spark, views.reverse)
    }
    assert(e.getMessage.contains("producer"), e.getMessage)
    intercept[IllegalArgumentException] {
      StreamOps.matviewDagStep(spark, Seq(views.head, views.head))
    }
    // a self-loop (view folding into its own source) rejects loudly —
    // it would re-aggregate its own output every pump
    val loop = intercept[IllegalArgumentException] {
      StreamOps.matviewDagStep(spark,
        Seq(views.head.copy(dstRoot = views.head.srcRoot)))
    }
    assert(loop.getMessage.contains("itself"), loop.getMessage)
  }

  test("append-only mirror survives gc outpacing its cursor: transformed re-baseline") {
    import graft.store.Manifest
    val dir = TempDirs.create("graft-mirror-resync").toString
    val src = s"$dir/src"
    val dst = s"$dir/dst"
    def step(): Option[Long] = StreamOps.manifestMirrorStep(
      spark, src, dst, "mirror",
      transform = _.filter(col("id") % 2 === 0), statsCols = Seq("id"))
    Manifest.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src) // v0
    assert(step().contains(0L))
    Manifest.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), src) // v1
    Manifest.append(Seq((5L, "e"), (6L, "f")).toDF("id", "v"), src) // v2
    Manifest.gc(spark, src, keepVersions = 1) // watermark version 0 dropped
    assert(step().contains(2L)) // re-baseline THROUGH the transform
    val got = Manifest.read(spark, dst)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 4L, 6L), got.toString)
    assert(step().isEmpty)
  }

  test("sessionize: in-batch gap close and event-time timeout close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val q = StreamOps.sessionize(input.toDS(), gapMs = 10 * 60000L)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // user 7: events at minutes 0,5; user 9 at minute 2
    input.addData(SessionEvent(7L, 1L, ts(0), 1.0), SessionEvent(7L, 2L, ts(5), 2.0),
      SessionEvent(9L, 10L, ts(2), 9.0))
    q.processAllAvailable()
    // user 7 again at minute 35 (past the 10-min gap) → in-batch close
    // of [0,5]; user 9's session closes via the event-time timeout once
    // the watermark (35 - 1-min delay) passes 2 + 10.
    input.addData(SessionEvent(7L, 3L, ts(35), 3.0))
    q.processAllAvailable()
    // one more batch so the watermark from the previous batch fires timeouts
    input.addData(SessionEvent(7L, 4L, ts(36), 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_out")
      .as[StreamOps.UserSession].collect().sortBy(_.user_id)
    assert(sessions.length == 2, sessions.mkString("; "))
    val s7 = sessions(0); val s9 = sessions(1)
    assert(s7.user_id == 7L && s7.n_events == 2L && s7.total_value == 3.0)
    assert(s7.session_start == ts(0) && s7.session_end == ts(5))
    assert(s9.user_id == 9L && s9.n_events == 1L && s9.total_value == 9.0)
  }

  test("assignToCentroids runs stateless on a stream — online cluster routing at ingest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    val docs = input.toDF().toDF("doc_id", "embedding")
    val centroids = Seq(1L -> Array(0L, 0L), 2L -> Array(10000L, 0L))
    val q = graft.similarity.Similarity.assignToCentroids(docs, "embedding", centroids)
      .select("doc_id", "cid", "dist2")
      .writeStream.format("memory").queryName("assign_out")
      .outputMode("append").start()
    input.addData((100L, Seq(1.0f, 0.0f)), (101L, Seq(9.0f, 0.0f)))
    q.processAllAvailable()
    input.addData((102L, Seq(5.0f, 0.0f))) // equidistant -> smaller cid
    q.processAllAvailable()
    q.stop()
    val out = spark.table("assign_out")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (100L, 1L, 1000000L), (101L, 2L, 1000000L), (102L, 1L, 25000000L)), s"got $out")
  }

  test("chunkWithStride runs stateless on a stream — batch ≡ stream chunks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.text.Curation.chunkWithStride("text", window = 4, stride = 3)(docs)
      .writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    val rows = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b"))
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunk_out")
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val batch = graft.text.Curation.chunkWithStride("text", 4, 3)(
        rows.toDF("doc_id", "text"))
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.size == 4) // 3 chunks for doc 1, 1 for doc 2
  }

  test("scd2Sink: streamed change batches maintain the versioned dim; batch ≡ stream; replay-safe") {
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    val ckpt = TempDirs.create("scd2_ckpt").toString
    val init = Store.scd2Init(
      Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("k", "v", "eff"), Seq("k"), "eff")
    Store.overwrite(init, "t_scd2_dim")
    try {
      val input = MemoryStream[(Long, String, Long)]
      val q = StreamOps.scd2Sink(input.toDF().toDF("k", "v", "eff"),
        "t_scd2_dim", Seq("k"), "eff", ckpt)
      // batch 0: k=1 changes, k=2 no-ops, k=3 new
      input.addData((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L))
      q.processAllAvailable()
      // batch 1: k=1 changes again (chains on batch 0's version)
      input.addData((1L, "a3", 300L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_scd2_dim")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
      // batch ≡ stream: one offline apply of the union of both batches
      val batchForm = Store.scd2Apply(init,
        Seq((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L), (1L, "a3", 300L))
          .toDF("k", "v", "eff"), Seq("k"), "eff")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
      assert(got == batchForm, s"stream=$got batch=$batchForm")
      assert(got == Set(
        (1L, "a", 100L, Some(200L), false), (1L, "a2", 200L, Some(300L), false),
        (1L, "a3", 300L, None, true), (2L, "b", 100L, None, true),
        (3L, "c", 200L, None, true)))
      // REPLAY of batch 0 (crash scenario): rebuild-mode apply of an
      // already-applied batch reconstructs the IDENTICAL table
      val replayed = Store.scd2Apply(spark.table("t_scd2_dim"),
        Seq((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L)).toDF("k", "v", "eff"),
        Seq("k"), "eff", rebuildHistory = true)
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
      assert(replayed == got, s"replay diverged: $replayed")
    } finally {
      Store.drop(spark, "t_scd2_dim")
    }
  }

  test("scd2SinkSplit: open table + closed log ≡ monolithic history; replay and crash-window safe") {
    import graft.store.{Manifest, Store}
    implicit val sqlCtx = spark.sqlContext
    val ckpt = TempDirs.create("scd2s_ckpt").toString
    val base = TempDirs.create("scd2s_store").toString
    val (openRoot, closedRoot) = (s"$base/open", s"$base/closed")
    val init = Store.scd2Init(
      Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("k", "v", "eff"), Seq("k"), "eff")
    Manifest.overwrite(init, openRoot)
    def versions() = Store.scd2Versions(spark, openRoot, closedRoot)
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamOps.scd2SinkSplit(input.toDF().toDF("k", "v", "eff"),
      openRoot, closedRoot, Seq("k"), "eff", ckpt)
    input.addData((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L))
    q.processAllAvailable()
    input.addData((1L, "a3", 300L), (1L, "a4", 350L)) // in-batch chain
    q.processAllAvailable()
    q.stop()
    // read view ≡ the monolithic apply of the same batches
    val mono = Store.scd2Apply(Store.scd2Apply(init,
        Seq((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L)).toDF("k", "v", "eff"),
        Seq("k"), "eff"),
        Seq((1L, "a3", 300L), (1L, "a4", 350L)).toDF("k", "v", "eff"),
        Seq("k"), "eff")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(versions().toSet == mono, s"split=${versions()} mono=$mono")
    // open root holds EXACTLY one open row per key — O(keys), not O(history)
    assert(Manifest.read(spark, openRoot).count() == 3L)
    assert(Manifest.read(spark, openRoot).filter(!col("is_current")).count() == 0L)
    // REPLAY: re-running batch 1's transaction changes nothing
    Store.scd2ApplySplit(spark,
      Seq((1L, "a3", 300L), (1L, "a4", 350L)).toDF("k", "v", "eff"),
      openRoot, closedRoot, Seq("k"), "eff")
    assert(versions().toSet == mono)
    // CRASH WINDOW: closed rows already appended, open NOT yet
    // replaced (the load-bearing write order) — re-running the full
    // transaction must not duplicate the pre-appended rows
    val nextBatch = Seq((2L, "b2", 400L)).toDF("k", "v", "eff")
    val preClosed = Seq((2L, "b", 100L, Some(400L), false))
      .toDF("k", "v", "valid_from", "valid_to", "is_current")
    Manifest.append(preClosed, closedRoot) // simulate the partial transaction
    Store.scd2ApplySplit(spark, nextBatch, openRoot, closedRoot, Seq("k"), "eff")
    val fin = versions()
    assert(fin.size == fin.toSet.size, s"duplicate versions after crash replay: $fin")
    assert(fin.toSet.contains((2L, "b2", 400L, None, true)))
    assert(fin.toSet.contains((2L, "b", 100L, Some(400L), false)))
  }

  test("curationPipelineSink capstone: clean→exact→screen→sink→SCD2 as one stream; idempotent through every crash window") {
    import graft.dedup.Dedup
    import graft.store.Store
    implicit val sqlCtx = spark.sqlContext
    val base = TempDirs.create("capstone").toString
    val (hashedRoot, bandedRoot) = (s"$base/hashed", s"$base/banded")
    val (admittedPath, openRoot, closedRoot) =
      (s"$base/admitted", s"$base/open", s"$base/closed")
    def doc(id: Long, text: String, src: String) = (id, text, src)
    // pre-cleaned texts (lowercase, single-space) so the clean stage is
    // identity and expectations are hand-checkable
    val b0 = Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta", "s1"),
      doc(2L, "one two three four five six", "s2"),
      doc(3L, "alpha beta gamma delta epsilon zeta", "s1")) // intra-batch exact dup of 1
    val b1 = Seq(
      doc(10L, "alpha beta gamma delta epsilon zeta eta", "s1"), // near-dup of 1
      doc(11L, "seven eight nine ten eleven twelve", "s2"))
    val b2 = Seq(
      doc(20L, "one two three four five six", "s2"), // cross-batch exact dup of 2
      doc(21L, "thirteen fourteen fifteen sixteen seventeen", "s1"))
    Dedup.writeCorpusIndex(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot)
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.curationPipelineSink(
      input.toDF().toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.5,
      admittedPath, openRoot, closedRoot, s"$base/ckpt")
    Seq(b0, b1, b2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    def sinkState() = spark.read.parquet(admittedPath)
      .select(col("doc_id"), col("batch_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    def scd2State() = Store.scd2Versions(spark, openRoot, closedRoot)
      .select(col("source"), col("n_admitted"), col("max_admitted_id"),
        col("valid_from"), col("valid_to"))
      .as[(String, Long, Long, Long, Option[Long])].collect().toSet
    val wantSink = Set((1L, 0L), (2L, 0L), (11L, 1L), (21L, 2L))
    val wantScd2 = Set(
      ("s1", 1L, 1L, 0L, Some(2L)), ("s1", 1L, 21L, 2L, None),
      ("s2", 1L, 2L, 0L, Some(1L)), ("s2", 1L, 11L, 1L, None))
    assert(sinkState() == wantSink, s"sink=${sinkState()}")
    assert(scd2State() == wantScd2, s"scd2=${scd2State()}")

    // FULL REPLAY of the last batch (foreachBatch crash-and-rerun):
    // identical final state everywhere
    StreamOps.curateBatch(b2.toDF("doc_id", "text", "source"), 2L,
      "doc_id", "text", "source", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, 0.5, admittedPath, openRoot, closedRoot)
    assert(sinkState() == wantSink, "full replay must be a no-op")
    assert(scd2State() == wantScd2, "full replay must be a no-op")

    // PARTIAL-CRASH replay: batch 3's index appends landed but the
    // crash hit BEFORE the sink/SCD2 writes. The naive replay would
    // screen doc 30 out (it near-duplicates its own admission) and
    // lose it from the sink forever; curateBatch's batch ⋉ index
    // re-derivation must still deliver it downstream.
    val b3 = Seq(doc(30L, "eighteen nineteen twenty twentyone", "s1"))
    Dedup.admitBatch(b3.toDF("doc_id", "text", "source"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot, 0.5)
    StreamOps.curateBatch(b3.toDF("doc_id", "text", "source"), 3L,
      "doc_id", "text", "source", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, 0.5, admittedPath, openRoot, closedRoot)
    assert(sinkState() == wantSink + ((30L, 3L)),
      "partial-crash replay must still sink the batch's admissions")
    assert(scd2State() == wantScd2 - (("s1", 1L, 21L, 2L, None)) +
      (("s1", 1L, 21L, 2L, Some(3L))) + (("s1", 1L, 30L, 3L, None)),
      s"scd2 after partial-crash replay: ${scd2State()}")
  }
}
