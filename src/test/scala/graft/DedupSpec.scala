package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.dedup.Dedup

/** Dedup family: O-23 latest-per-key (the engine's canonical dedup,
  * pipeline_etl.ipynb:425-429) + the training-data extensions (exact,
  * shingles, MinHash-LSH, Jaccard, SimHash). */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot(tag: String): String =
    TempDirs.create(s"graft_dedup_$tag").toString + "/t"

  test("latestPerKey keeps exactly the argmax row per key (O-23)") {
    val df = Seq(
      ("a", 1L, "old"), ("a", 5L, "new"), ("b", 3L, "only"),
      ("c", 2L, "x"), ("c", 2L, "y")) // tie on ts → tiebreak by payload desc
      .toDF("code", "ts", "payload")
    val out = Dedup.latestPerKey(df, Seq("code"),
        Seq(col("ts").desc, col("payload").desc))
      .orderBy("code").as[(String, Long, String)].collect()
    assert(out.toSeq == Seq(("a", 5L, "new"), ("b", 3L, "only"), ("c", 2L, "y")))
  }

  test("latestPerKey is the per-key argmax for arbitrary data (property)") {
    val rowGen = for {
      k <- Gen.chooseNum(0, 5); ts <- Gen.chooseNum(0L, 20L); v <- Gen.chooseNum(0, 1000)
    } yield (s"k$k", ts, v)
    ScalaCheckSupport.checkProp(Prop.forAll(Gen.listOfN(60, rowGen)) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("code", "ts", "v")
        val got = Dedup.latestPerKey(df, Seq("code"), Seq(col("ts").desc, col("v").desc))
          .as[(String, Long, Int)].collect().toSet
        val want = rows.groupBy(_._1).values.map(_.maxBy(r => (r._2, r._3))).toSet
        got == want
      }
    }, minSuccessful = 10)
  }

  test("exactDupGroups + exactDedup agree: one kept row per content") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"), (4L, "same text"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(df, "text", "doc_id")
      .orderBy("keep_id").as[(String, Long, Long)].collect()
    assert(groups.map(g => (g._2, g._3)).toSeq == Seq((3L, 1L), (1L, 3L)))
    val kept = Dedup.exactDedup(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("shingles: char n-grams as a distinct set; short text → whole text") {
    val df = Seq("abcd", "ab", "aaaa").toDF("t")
    val out = df.select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(out(0).toSet == Set("abc", "bcd"))
    assert(out(1) == Seq("ab"))
    assert(out(2) == Seq("aaa")) // distinct collapses repeats
  }

  test("wordShingles: word n-grams; short docs → joined whole") {
    val df = Seq("the quick brown fox", "hi there").toDF("t")
    val out = df.select(Dedup.wordShingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(out(0).toSet == Set("the quick brown", "quick brown fox"))
    assert(out(1) == Seq("hi there"))
  }

  test("minhashCandidatePairs: identical docs always pair; disjoint never") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "completely different content about databases and distributed query engines"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalNearDupPairs: batch screened against a STORED corpus index") {
    import graft.store.Manifest
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about databases and distributed query engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "novel content that matches nothing in the existing corpus at all here"))
      .toDF("doc_id", "text")
    // write the corpus index once, read it back — the production shape:
    // the incremental screen must work from the persisted roots alone
    val (hashedRoot, bandedRoot) = (newRoot("corpus_h"), newRoot("corpus_b"))
    Manifest.overwrite(Dedup.hashedDocs(corpus, "doc_id", "text", Dedup.CharShingles(5)),
      hashedRoot)
    Manifest.overwrite(Dedup.bandedSigs(Manifest.read(spark, hashedRoot), 8, 4), bandedRoot)
    val out = Dedup.incrementalNearDupPairs(
        batch, "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        Manifest.read(spark, bandedRoot), Manifest.read(spark, hashedRoot))
      .as[(Long, Long, Double)].collect().toSet
    assert(out.contains((10L, 1L, 1.0))) // exact dup of corpus doc 1
    assert(!out.exists(_._1 == 11L))     // novel doc matches nothing
    // corpus-side bucket cap: cap 0 excludes every bucket → no pairs
    val capped = Dedup.incrementalNearDupPairs(
        batch, "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        Manifest.read(spark, bandedRoot), Manifest.read(spark, hashedRoot),
        maxBucketSize = 0)
      .collect()
    assert(capped.isEmpty)
  }

  test("admitBatch: novel docs admitted and indexed; dups of prior admissions screened") {
    import graft.store.Manifest
    val founding = "the quick brown fox jumps over the lazy dog near the river bank today"
    val novelA = "distributed query engines partition work across executors for scale"
    val novelB = "sequence packing fills token budget bins with greedy running totals"
    val (hashedRoot, bandedRoot) = (newRoot("ix_h"), newRoot("ix_b"))
    def indexIds(root: String): Set[Long] =
      Manifest.read(spark, root).select("id").distinct().as[Long].collect().toSet
    Dedup.writeCorpusIndex(Seq((1L, founding)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot)
    // batch 1: an exact dup and a near (not exact) dup of the founding
    // doc, plus one novel doc
    val batch1 = Seq((10L, founding), (11L, novelA), (12L, founding + "!"))
      .toDF("doc_id", "text")
    val a1 = Dedup.admitBatch(batch1, "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9)
    assert(a1.select("doc_id").as[Long].collect().toSet == Set(11L))
    // REPLAY of batch 1: its admission screens itself at jaccard 1.0 —
    // nothing admits, nothing re-appends
    val replay = Dedup.admitBatch(batch1, "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9)
    assert(replay.isEmpty)
    assert(Manifest.read(spark, hashedRoot).count() == 2L)
    // batch 2: a dup of batch 1's ADMISSION must now be screened too
    val a2 = Dedup.admitBatch(
      Seq((20L, novelA), (21L, novelB)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9)
    assert(a2.select("doc_id").as[Long].collect().toSet == Set(21L))
    // the index holds exactly the founding doc + the two admissions
    assert(indexIds(hashedRoot) == Set(1L, 11L, 21L))
    assert(indexIds(bandedRoot) == Set(1L, 11L, 21L))
  }

  test("admitBatch with the OPH family: loop works end-to-end; family mismatch fails loud") {
    import graft.store.Manifest
    val founding = "the quick brown fox jumps over the lazy dog near the river bank today"
    val novelA = "distributed query engines partition work across executors for scale"
    val (hashedRoot, bandedRoot) = (newRoot("oix_h"), newRoot("oix_b"))
    def family(): Option[String] =
      Manifest.current(spark, bandedRoot).get.meta.get("graft.sig.family")
    Dedup.writeCorpusIndex(Seq((1L, founding)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot,
      family = Dedup.OphMinhash)
    // the marker is recorded in the banded root's manifest metadata
    assert(family().contains("oph"))
    // a probe with the WRONG family would bucket nothing — it must
    // throw, not silently admit duplicates
    val e = intercept[IllegalArgumentException] {
      Dedup.admitBatch(Seq((10L, founding)).toDF("doc_id", "text"),
        "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        hashedRoot, bandedRoot, minJaccard = 0.9) // default = perm
    }
    assert(e.getMessage.contains("recall hole"))
    // the matching family screens the dup and admits the novel doc
    val a1 = Dedup.admitBatch(
      Seq((10L, founding), (11L, novelA)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9, family = Dedup.OphMinhash)
    assert(a1.select("doc_id").as[Long].collect().toSet == Set(11L))
    // a dup of the ADMISSION is screened on the next batch, and the
    // family marker survives the admission and an in-loop compaction
    val a2 = Dedup.admitBatch(
      Seq((20L, novelA)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9, compactMinFiles = 1,
      family = Dedup.OphMinhash)
    assert(a2.isEmpty)
    assert(Manifest.history(spark, bandedRoot).select("operation").as[String]
      .collect().contains("compact"))
    assert(family().contains("oph"))
  }

  test("overlapPairs finds subsumption the Jaccard LSH misses; frequent shingles are valved") {
    val contained = "solar panels convert sunlight into electricity through photovoltaic cells efficiently"
    val container = contained + " " +
      (1 to 12).map(i => s"unrelated filler sentence number$i about topic$i entirely").mkString(" ")
    val other = "maritime navigation charts depict coastal depths and hazards for vessels"
    val docs = Seq((1L, contained), (2L, container), (3L, other)).toDF("doc_id", "text")
    val mode = Dedup.WordShingles(2)
    // the motivating gap: symmetric-Jaccard banding does NOT bucket the
    // (contained, container) pair — their jaccard is ~|A|/|B|
    val lsh = Dedup.minhashCandidatePairs(docs, "doc_id", "text", mode, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.contains((1L, 2L)), s"fixture not a gap case: $lsh")
    val got = Dedup.overlapPairs(docs, "doc_id", "text", mode,
        minOverlap = 0.9, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1 && got(0)._1 == 1L && got(0)._2 == 2L, s"got ${got.toSeq}")
    assert(got(0)._3 == 1.0, s"full containment must score overlap 1.0: ${got(0)}")
    assert(got(0)._4 < 0.5, s"fixture jaccard should be low: ${got(0)}")
    // the valve: when EVERY shared shingle is frequent (df > maxDf),
    // no candidates form — the quadratic path is closed, not slow
    val boiler = (1L to 12L).map(i => (100L + i, "shared boilerplate header text " + i))
      .toDF("doc_id", "text")
    // every SHARED shingle has df=12 > maxDf (excluded); the rare
    // tail grams ("text <i>") are unique per doc, so no pair shares a
    // rare hash: zero candidates — the quadratic path is closed
    val valved = Dedup.overlapPairs(boiler, "doc_id", "text", mode,
      minOverlap = 0.1, maxDf = 5).collect()
    assert(valved.isEmpty, s"valve leaked: ${valved.toSeq}")
  }

  test("admitBatch maintenance: small-batch sprawl triggers compaction; verdicts unchanged") {
    import graft.store.Manifest
    val founding = "the quick brown fox jumps over the lazy dog near the river bank today"
    val novel = "sequence packing fills token budget bins with greedy running totals"
    val (hashedRoot, bandedRoot) = (newRoot("mx_h"), newRoot("mx_b"))
    def files(root: String): Int = Manifest.current(spark, root).get.files.size
    Dedup.writeCorpusIndex(Seq((1L, founding)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4, hashedRoot, bandedRoot)
    // five single-doc admissions with the compaction floor disabled:
    // every append adds files — the sprawl the in-loop compaction bounds
    (2 to 6).foreach { i =>
      Dedup.admitBatch(
        Seq((i * 10L, s"unique document number $i about topic ${i * 7} entirely unlike others"))
          .toDF("doc_id", "text"),
        "doc_id", "text", Dedup.CharShingles(5), 8, 4,
        hashedRoot, bandedRoot, minJaccard = 0.9,
        compactMinFiles = Int.MaxValue)
    }
    val before = files(hashedRoot)
    assert(before >= 5, s"expected append sprawl, got $before files")
    // one more admission with a low floor: the loop compacts in-path
    val a = Dedup.admitBatch(Seq((100L, founding)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9, compactMinFiles = 3)
    assert(a.isEmpty) // the dup is still screened on the sprawled index
    assert(files(hashedRoot) < before)
    assert(files(bandedRoot) <= 3)
    // post-compact verdicts unchanged: dup screened, novel admitted
    val a2 = Dedup.admitBatch(
      Seq((101L, founding), (102L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", Dedup.CharShingles(5), 8, 4,
      hashedRoot, bandedRoot, minJaccard = 0.9,
      compactMinFiles = Int.MaxValue)
    assert(a2.select("doc_id").as[Long].collect().toSet == Set(102L))
    assert(Manifest.read(spark, hashedRoot).select("id").as[Long].collect().toSet
      == Set(1L, 20L, 30L, 40L, 50L, 60L, 102L))
  }

  test("jaccardOnPairs: identical → 1.0, disjoint → 0.0, known overlap exact") {
    val docs = Seq((1L, "abcde"), (2L, "abcde"), (3L, "vwxyz"), (4L, "abcdf"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardOnPairs(pairs, docs, "doc_id", "text", 3)
      .orderBy("id_b").as[(Long, Long, Double)].collect()
    assert(out(0)._3 == 1.0)
    assert(out(1)._3 == 0.0)
    // shingles3(abcde)={abc,bcd,cde}, shingles3(abcdf)={abc,bcd,cdf}: |∩|=2,|∪|=4
    assert(out(2)._3 == 0.5)
  }

  test("simhash64: equal token sets → identical hash; hamming sane") {
    val df = Seq(
      ("a", "alpha beta gamma delta epsilon"),
      ("b", "epsilon delta gamma beta alpha"), // permutation — same token set
      ("c", "totally unrelated words here now"))
      .toDF("id", "t")
    val h = df.select(col("id"), Dedup.simhash64(col("t")).as("h"))
      .as[(String, Long)].collect().toMap
    assert(h("a") == h("b"))
    val df2 = Seq((h("a"), h("b")), (h("a"), h("c"))).toDF("x", "y")
    val dist = df2.select(Dedup.hamming64(col("x"), col("y"))).as[Long].collect()
    assert(dist(0) == 0L)
    assert(dist(1) > 0L && dist(1) <= 64L)
  }

  test("hamming64 on known bit patterns") {
    val df = Seq((7L, 0L), (-1L, 0L), (5L, 4L)).toDF("x", "y")
    val out = df.select(Dedup.hamming64(col("x"), col("y"))).as[Long].collect()
    assert(out.toSeq == Seq(3L, 64L, 1L))
  }

  test("simhashNearDupPairs64 ≡ brute-force hamming pairs on a real table (pigeonhole recall)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val got = Dedup.simhashNearDupPairs64(docs, "doc_id", "text", radius = 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force: all pairs, driver-side (sf0.001 is small enough)
    val hs = docs.select(col("doc_id"),
        Dedup.simhash64Md5(col("text")).as("h"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, ha) <- hs.iterator
      (ib, hb) <- hs.iterator
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb).toLong
      if d <= 3
    } yield (ia, ib, d)).toSet
    // == not ⊆: banding must lose nothing (pigeonhole: 4 bands × 16
    // bits, any pair at distance ≤ 3 shares an unchanged band) and the
    // bucket join must invent nothing (hamming re-verified exactly)
    assert(got == want, s"banded=${got.size} brute=${want.size}")
    assert(want.nonEmpty, "corpus has no simhash near-dups — test is vacuous")
  }

  test("repeatedSpans: keeper survives, later occurrences flag, adjacent windows merge") {
    // "x y z" repeats: doc 1 pos 0 is the corpus-wide keeper; doc 1
    // pos 5 and doc 2 pos 2 flag. For bigrams, doc 0 holds the keepers
    // of "p q" and "q r", so doc 3's OVERLAPPING occurrences (pos 0
    // and 1) both flag and must merge into ONE span [0, 3).
    val docs = Seq(
      (0L, "p q k q r"),
      (1L, "x y z a b x y z"),   // windows n=3: keeper at 0, dup at 5
      (2L, "c d x y z"),          // dup at 2
      (3L, "p q r s t")).toDF("doc_id", "text")
    val tri = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3, minOccurrences = 2)
      .orderBy("doc_id", "span_start").as[(Long, Long, Long)].collect().toSeq
    assert(tri == Seq((1L, 5L, 8L), (2L, 2L, 5L)),
      s"keeper must be the smallest (id, pos); got $tri")
    val bi = Dedup.repeatedSpans(docs, "doc_id", "text", n = 2, minOccurrences = 2)
      .filter(col("doc_id") === 3L)
      .orderBy("span_start").as[(Long, Long, Long)].collect().toSeq
    assert(bi == Seq((3L, 0L, 3L)),
      s"overlapping flagged windows must coalesce into one span; got $bi")
  }

  test("cutRepeatedSpans: survivors keep order, fully-cut docs survive empty") {
    val docs = Seq(
      (1L, "x y z a b x y z"),
      (2L, "c d x y z"),
      (3L, "x y z")).toDF("doc_id", "text")
    // n=3: keeper is doc 1 pos 0; doc 1 pos 5, doc 2 pos 2, doc 3 pos 0 flag
    val out = Dedup.cutRepeatedSpans(docs, "doc_id", "text", n = 3, minOccurrences = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, "x y z a b"),
      (2L, "c d"),
      (3L, "")),
      s"cut must drop exactly the flagged spans and keep doc rows; got $out")
  }

  test("repeatedSpans: no repeats → no spans; short docs yield no windows") {
    val docs = Seq(
      (1L, "a b c"), (2L, "d e f"), (3L, "g h")).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(docs, "doc_id", "text", n = 3).count() == 0)
    // and the cut is then the whitespace-normalizing identity
    val out = Dedup.cutRepeatedSpans(
      docs.withColumn("text", concat(lit("  "), col("text"), lit(" "))),
      "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h")))
  }

  test("admitSpansBatch ≡ offline cutRepeatedSpans on corpus ∪ batch; the loop grows; replay admits nothing twice") {
    import graft.store.Store
    // pre-cut corpus (no internal repeats at n=3), ids below batch ids —
    // the preconditions under which incremental ≡ offline is exact
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    Dedup.writeSpanIndex(corpus, "doc_id", "text", n = 3, "t_span_grams")
    try {
      val batch = Seq(
        (10L, "zeta alpha beta gamma delta eta"),   // repeats corpus span [1,5)
        (11L, "p q r s p q r t"),                   // internal repeat "p q r": keeper at 0, cut at 4
        (12L, "completely novel content here")).toDF("doc_id", "text")
      val admitted = Dedup.admitSpansBatch(batch, "doc_id", "text", n = 3, "t_span_grams")
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      // offline equivalence: cut corpus ∪ batch, restrict to batch rows
      val offline = Dedup.cutRepeatedSpans(
          corpus.unionByName(batch), "doc_id", "text", n = 3)
        .filter(col("doc_id") >= 10L)
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      assert(admitted == offline,
        s"incremental admission must equal the offline cut:\n$admitted\nvs\n$offline")
      assert(admitted.find(_._1 == 10L).get._2 == "zeta eta")
      assert(admitted.find(_._1 == 11L).get._2 == "p q r s t")
      assert(admitted.find(_._1 == 12L).get._2 == "completely novel content here")
      // the loop GROWS: a later batch repeating an ADMITTED passage is cut
      // against it with zero recompute of earlier batches
      val b2 = Dedup.admitSpansBatch(
        Seq((20L, "x completely novel content here y")).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, "t_span_grams")
        .as[(Long, String)].collect().toSeq
      assert(b2 == Seq((20L, "x y")),
        s"batch-2 doc must be cut against batch-1's admission: $b2")
      // replay of batch 1 AFTER its grams landed: previously-retained
      // content flags against its own stored grams and is cut again —
      // what survives is residual text that is already indexed (or too
      // short to window), and the gram set DOES NOT CHANGE (the index
      // is exactly-once per gram; row idempotency is the sink's)
      val before = spark.table("t_span_grams").count()
      val replay = Dedup.admitSpansBatch(batch, "doc_id", "text", n = 3, "t_span_grams")
        .orderBy("doc_id").as[(Long, String)].collect().toSeq
      assert(replay == Seq(
        (10L, "zeta eta"),  // its 2 tokens window nothing new
        (11L, "t"),         // batch-1's retained "p q r s t" screens its own source
        (12L, "")),         // fully covered by its own admission
        s"replay must return only already-indexed residuals: $replay")
      assert(spark.table("t_span_grams").count() == before,
        "replay must not append grams")
    } finally Store.drop(spark, "t_span_grams")
  }

  test("maxBucketSize excludes hot LSH buckets from pair generation") {
    // bucket A: 40 members (a degenerate boilerplate bucket -> 780
    // pairs); bucket B: 2 members (a genuine near-dup candidate)
    val banded = ((1L to 40L).map(i => (i, 0, "hot")) ++ Seq((100L, 0, "cold"), (101L, 0, "cold")))
      .toDF("id", "band", "bandsig")
    val capped = Dedup.candidatePairsFromBanded(banded, maxBucketSize = 10)
      .as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)), s"got $capped")
    // disabled cap keeps everything
    val full = Dedup.candidatePairsFromBanded(banded).count()
    assert(full == 40L * 39 / 2 + 1)
  }

  test("candidatePairsFromBanded: shuffled hash join below the size check, sort-merge above; same pairs") {
    // 300 identical docs make one skewed bucket per band (44,850 pairs);
    // beside them, 40 bases each with a one-word variant and 40 loners
    val rnd = new scala.util.Random(11)
    val vocab = Vector.fill(400)(rnd.alphanumeric.take(6).mkString.toLowerCase)
    def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val skew = (1L to 300L).map(i => (i, "the same boilerplate footer on every page of the site"))
    val bases = (0 until 40).map(_ => sentence(30))
    val variants = bases.zipWithIndex.flatMap { case (b, i) =>
      val w = b.split(" ")
      w(7) = "changed"
      Seq((1000L + i, b), (2000L + i, w.mkString(" ")))
    }
    val loners = (0 until 40).map(i => (3000L + i, sentence(30)))
    val docs = (skew ++ variants ++ loners).toDF("id", "text")
    val banded = Dedup.bandedSigs(
      Dedup.hashedDocs(docs, "id", "text", Dedup.CharShingles(5)), 8, 4).localCheckpoint()

    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // (pairs, shuffled hash joins, sort-merge joins, reused exchanges)
    // of the executed plan, AQE query stages included
    def run(maxBucketSize: Int) = {
      val df = Dedup.candidatePairsFromBanded(banded, maxBucketSize)
      // collect `df` itself: its adaptive plan is final only once run
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = df.queryExecution.executedPlan
      (pairs, Plans.collect(plan) { case j: ShuffledHashJoinExec => j }.size,
        Plans.collect(plan) { case j: SortMergeJoinExec => j }.size,
        Plans.collect(plan) { case r: ReusedExchangeExec => r }.size)
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def merged(maxBucketSize: Int) = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try run(maxBucketSize)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    // default confs: one shuffled hash join, its sides one reused exchange
    val (hashPairs, hashShj, hashSmj, hashReused) = run(Int.MaxValue)
    assert(hashShj == 1 && hashSmj == 0, s"shj=$hashShj smj=$hashSmj")
    assert(hashReused >= 1, "both sides of the self-join must read one exchange")
    // no broadcast threshold: the size check falls back to sort-merge
    val (mergePairs, mergeShj, mergeSmj, mergeReused) = merged(Int.MaxValue)
    assert(mergeShj == 0 && mergeSmj == 1, s"shj=$mergeShj smj=$mergeSmj")
    assert(mergeReused >= 1, "both sides of the self-join must read one exchange")
    assert(hashPairs == mergePairs)
    val inSkew = (p: (Long, Long)) => p._2 <= 300L
    assert(hashPairs.count(inSkew) == 300 * 299 / 2)
    assert((0 until 40).forall(i => hashPairs((1000L + i, 2000L + i))))

    // capped: the skewed bucket is dropped under either join, the rest
    // kept (the cap's own bucket join is unhinted, so it is never the
    // shuffled hash join)
    val (cappedHash, cappedShj, _, _) = run(50)
    val (cappedMerge, cappedMergeShj, cappedSmj, _) = merged(50)
    assert(cappedShj == 1 && cappedMergeShj == 0 && cappedSmj >= 1)
    assert(cappedHash == cappedMerge)
    assert(cappedHash == hashPairs.filterNot(inSkew))
  }
}
