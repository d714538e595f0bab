package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.ManifestAnn
import graft.store.Manifest

/** Unit coverage of the manifest-store IVF index (battery q170 checks
  * the incremental build + filtered probe against the DuckDB oracle;
  * here: exact rankings on a hand geometry, incremental visibility,
  * metadata filtering, sidecar fold, and that the probe's IN-filter
  * actually prunes files through the manifest stats). */
class ManifestAnnSpec extends SparkTestBase {
  import spark.implicits._

  // three well-separated lists on axes 0/1/2; dim 3 is a per-member
  // bump so in-list cosines are distinct (smaller bump = closer)
  private def mk(id: Long, l: Long, bump: Long): (Long, Long, Seq[Long]) = {
    val v = Array.fill(4)(0L)
    v(l.toInt) = 1000L
    v(3) = bump
    (id, l, v.toSeq)
  }
  private def batch1: DataFrame =
    Seq(mk(1, 0, 10), mk(2, 0, 20), mk(3, 1, 10), mk(4, 1, 0), mk(5, 2, 5))
      .toDF("vec_id", "label", "qv")
  private def batch2: DataFrame =
    Seq(mk(6, 0, 0), mk(7, 1, 30), mk(8, 2, 50)).toDF("vec_id", "label", "qv")
  // nearest list 0, second-nearest list 1; never list 2
  private val query = Seq(1000L, 300L, 0L, 0L)

  private def freshRoot(): String = TempDirs
    .create("graft_manifest_ann").toString + "/ivf"

  private def build(root: String): Unit = {
    ManifestAnn.appendBatch(batch1, root, "label", "vec_id", "qv",
      listPartitions = 3)
    ManifestAnn.appendBatch(batch2, root, "label", "vec_id", "qv",
      listPartitions = 3)
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("vec_id").as[Long].collect().toSeq

  test("probe ranks exactly within the probed lists, across batches") {
    val root = freshRoot()
    build(root)
    val top = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3)
    // list-0 members by ascending bump (6, 1, 2) dominate list 1
    assert(ids(top) == Seq(6L, 1L, 2L), ids(top).toString)
    // k past the probed lists' membership: list 2 never appears
    val all = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 100)
    assert(ids(all).toSet == Set(1L, 2L, 3L, 4L, 6L, 7L), ids(all).toString)
  }

  test("metadata rowFilter applies inside the probe, not as a recall cut") {
    val root = freshRoot()
    build(root)
    val top = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3, rowFilter = col("vec_id") =!= 6L)
    // 6 excluded by metadata; the next in-list-1 id (4, bump 0) enters
    assert(ids(top) == Seq(1L, 2L, 4L), ids(top).toString)
  }

  test("incremental append is maintenance, not rebuild: new vectors appear") {
    val root = freshRoot()
    ManifestAnn.appendBatch(batch1, root, "label", "vec_id", "qv",
      listPartitions = 3)
    val before = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3)
    assert(ids(before) == Seq(1L, 2L, 4L), ids(before).toString)
    ManifestAnn.appendBatch(batch2, root, "label", "vec_id", "qv",
      listPartitions = 3)
    val after = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3)
    assert(ids(after) == Seq(6L, 1L, 2L), ids(after).toString)
  }

  test("sidecar partial sums fold to the direct centroid sums") {
    val root = freshRoot()
    build(root)
    val folded = ManifestAnn.centroidSums(spark, root, "label")
      .as[(Long, Seq[Long])].collect().toMap
    val direct = graft.similarity.Similarity.listCentroidSums(
        batch1.unionByName(batch2), "label", "qv")
      .as[(Long, Seq[Long])].collect().toMap
    assert(folded == direct, s"$folded vs $direct")
  }

  test("compactCents folds the sidecar to one row per list without moving a result") {
    val root = freshRoot()
    build(root)
    val beforeRows = Manifest.read(spark, ManifestAnn.centsRoot(root)).count()
    assert(beforeRows == 6L, s"two batches x three lists, got $beforeRows")
    val beforeTop = ids(ManifestAnn.probe(spark, root, "label", "vec_id",
      "qv", query, nProbe = 2, k = 3))
    ManifestAnn.compactCents(spark, root, "label")
    assert(Manifest.read(spark, ManifestAnn.centsRoot(root)).count() == 3L)
    val folded = ManifestAnn.centroidSums(spark, root, "label")
      .as[(Long, Seq[Long])].collect().toMap
    val direct = graft.similarity.Similarity.listCentroidSums(
        batch1.unionByName(batch2), "label", "qv")
      .as[(Long, Seq[Long])].collect().toMap
    assert(folded == direct, s"$folded vs $direct")
    val afterTop = ids(ManifestAnn.probe(spark, root, "label", "vec_id",
      "qv", query, nProbe = 2, k = 3))
    assert(afterTop == beforeTop, s"$afterTop vs $beforeTop")
  }

  test("manifestAnnSink: streamed batches build the same index; replays land nothing twice") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Seq[Long])]
    val q = graft.streaming.StreamOps.manifestAnnSink(
      input.toDF().toDF("vec_id", "label", "qv"),
      root, "label", "vec_id", "qv", "annloop", root + "_ckpt",
      listPartitions = 3)
    input.addData(batch1.as[(Long, Long, Seq[Long])].collect().toSeq: _*)
    q.processAllAvailable()
    input.addData(batch2.as[(Long, Long, Seq[Long])].collect().toSeq: _*)
    q.processAllAvailable()
    q.stop()
    // the streamed index probes identically to the batch-built one
    val top = ids(ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3))
    assert(top == Seq(6L, 1L, 2L), top.toString)
    // a lagging replay of batch 0 re-lands NOTHING in either table
    val dataV = Manifest.current(spark, root).get.version
    val centsV = Manifest.current(spark, ManifestAnn.centsRoot(root)).get.version
    Manifest.appendOnce(batch1.repartitionByRange(3, col("label")),
      root, "annloop", 0L, statsCols = Seq("label"))
    Manifest.appendOnce(
      graft.similarity.Similarity.listCentroidSums(batch1, "label", "qv"),
      ManifestAnn.centsRoot(root), "annloop", 0L)
    assert(Manifest.current(spark, root).get.version == dataV)
    assert(Manifest.current(spark, ManifestAnn.centsRoot(root)).get.version
      == centsV)
    // and the sidecar still folds to the direct sums
    val folded = ManifestAnn.centroidSums(spark, root, "label")
      .as[(Long, Seq[Long])].collect().toMap
    val direct = graft.similarity.Similarity.listCentroidSums(
        batch1.unionByName(batch2), "label", "qv")
      .as[(Long, Seq[Long])].collect().toMap
    assert(folded == direct, s"$folded vs $direct")
  }

  test("delete + refreshCents: removal is a store op; the repaired sidecar matches the rows") {
    val root = freshRoot()
    build(root)
    // the index is an ordinary manifest table: delete vectors 1 and 2
    Manifest.deleteWhereBetween(spark, root, "vec_id", 1L, 2L)
    // probes stay CORRECT against the live rows even with a stale sidecar
    val top = ids(ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3))
    assert(top == Seq(6L, 4L, 3L), top.toString)
    // the additive sidecar is now stale by construction; refresh repairs it
    ManifestAnn.refreshCents(spark, root, "label", "qv")
    val folded = ManifestAnn.centroidSums(spark, root, "label")
      .as[(Long, Seq[Long])].collect().toMap
    val direct = graft.similarity.Similarity.listCentroidSums(
        batch1.filter(col("vec_id") > 2L).unionByName(batch2), "label", "qv")
      .as[(Long, Seq[Long])].collect().toMap
    assert(folded == direct, s"$folded vs $direct")
  }

  test("PQ layer: compressed probe with exact re-rank returns the exact top-k") {
    val root = freshRoot()
    build(root)
    ManifestAnn.buildPq(spark, root, "label", "vec_id", "qv",
      m = 2, ksub = 4, listPartitions = 3)
    // codes cover every stored vector
    assert(Manifest.read(spark, ManifestAnn.codesRoot(root)).count() ==
      Manifest.read(spark, root).count())
    // generous rerank: the ADC candidate set contains the true top-k,
    // so the exact re-rank reproduces the uncompressed probe verbatim
    val exact = ids(ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3))
    val viaPq = ids(ManifestAnn.probePq(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3, rerank = 10))
    assert(viaPq == exact, s"$viaPq vs $exact")
  }

  test("PQ layer: appendBatchPq encodes through the frozen codebook; novel lists reject loudly") {
    val root = freshRoot()
    ManifestAnn.appendBatch(batch1, root, "label", "vec_id", "qv",
      listPartitions = 3)
    ManifestAnn.buildPq(spark, root, "label", "vec_id", "qv",
      m = 2, ksub = 4, listPartitions = 3)
    val cbBefore = Manifest.read(spark, ManifestAnn.pqRoot(root))
      .orderBy("sub", "code").collect().toSeq
    ManifestAnn.appendBatchPq(batch2, root, "label", "vec_id", "qv",
      listPartitions = 3)
    // nothing retrained: the stored codebook is byte-identical
    val cbAfter = Manifest.read(spark, ManifestAnn.pqRoot(root))
      .orderBy("sub", "code").collect().toSeq
    assert(cbAfter == cbBefore)
    // both batches' codes are present and the compressed probe sees
    // the post-build batch (vector 6 tops list 0)
    assert(Manifest.read(spark, ManifestAnn.codesRoot(root)).count() == 8L)
    val top = ids(ManifestAnn.probePq(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3, rerank = 10))
    assert(top == Seq(6L, 1L, 2L), top.toString)
    // a batch on a list with no stored coarse mean must throw, not
    // silently degrade — and must not land codes for a half-indexed batch
    val novel = Seq((9L, 3L, Seq(0L, 0L, 0L, 1000L)))
      .toDF("vec_id", "label", "qv")
    val e = intercept[IllegalArgumentException] {
      ManifestAnn.appendBatchPq(novel, root, "label", "vec_id", "qv",
        listPartitions = 3)
    }
    assert(e.getMessage.contains("no stored coarse mean"), e.getMessage)
    assert(Manifest.read(spark, ManifestAnn.codesRoot(root)).count() == 8L)
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
      }.flatten
    var plan = df.queryExecution.executedPlan
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        plan = a.executedPlan
      case _ =>
    }
    walk(plan).map(_.metrics("numFiles").value).sum
  }

  test("PQ layer: id bloom prunes codes point lookups; the append loop keeps coverage") {
    val root = freshRoot()
    ManifestAnn.appendBatch(batch1, root, "label", "vec_id", "qv",
      listPartitions = 3)
    ManifestAnn.buildPq(spark, root, "label", "vec_id", "qv",
      m = 2, ksub = 4, listPartitions = 3)
    val cRoot = ManifestAnn.codesRoot(root)
    // buildPq records the id bloom pointer on the codes table
    assert(Manifest.current(spark, cRoot).get.meta
      .contains(Manifest.BloomKeyPrefix + "id"), "id bloom missing after buildPq")
    // the append loop decays coverage below the valve -> auto-refresh
    ManifestAnn.appendBatchPq(batch2, root, "label", "vec_id", "qv",
      listPartitions = 3)
    val snap = Manifest.current(spark, cRoot).get
    assert(snap.files.size >= 2, s"fixture needs file sprawl: ${snap.files.size}")
    // a build-time id AND a post-build id both prune: the codes layout
    // is range-partitioned on the LIST id, so vector-id stats span the
    // corpus in every file and only the bloom can skip
    for (probe <- Seq(5L, 7L)) {
      val got = ManifestAnn.codesById(spark, root, probe)
      assert(got.select("id").as[Long].collect().toSeq == Seq(probe))
      val n = scannedFiles(ManifestAnn.codesById(spark, root, probe))
      assert(n < snap.files.size && n >= 1,
        s"id $probe: bloom should prune, scanned $n of ${snap.files.size}")
    }
  }

  test("PQ layer: deletes can never surface through the compressed probe") {
    val root = freshRoot()
    build(root)
    ManifestAnn.buildPq(spark, root, "label", "vec_id", "qv",
      m = 2, ksub = 4, listPartitions = 3)
    // delete the two best list-0 vectors (6 and 1); their codes go
    // stale, but the exact re-rank reads the DV/rewrite-filtered main
    // table — the probe returns only LIVE rows, k fills from the rest
    Manifest.deleteWhereBetween(spark, root, "vec_id", 6L, 6L)
    Manifest.deleteWhereBetweenDv(spark, root, "vec_id", 1L, 1L)
    val top = ids(ManifestAnn.probePq(spark, root, "label", "vec_id", "qv",
      query, nProbe = 2, k = 3, rerank = 10))
    assert(!top.contains(6L) && !top.contains(1L), top.toString)
    assert(top == Seq(2L, 4L, 3L), top.toString)
  }

  test("the probe's list IN-filter prunes files through the manifest stats") {
    val root = freshRoot()
    build(root)
    val total = Manifest.current(spark, root).get.files.size
    assert(total >= 4, s"fixture expects several files, got $total")
    val probeDf = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 1, k = 100)
    // force full evaluation (no limit short-circuit) and read the
    // scan's planned file count
    val agg = probeDf.agg(count(lit(1)))
    agg.collect()
    // AQE buries the scan inside materialized query stages: traverse
    // stage boundaries too
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
      }.flatten
    var plan = agg.queryExecution.executedPlan
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        plan = a.executedPlan
      case _ =>
    }
    val scans = allScans(plan)
    assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
    val scanned = scans.map(_.metrics("numFiles").value).sum
    assert(scanned < total && scanned >= 1,
      s"probe scanned $scanned of $total files")
  }

  test("routing gate: in-envelope sums keep the exact integer kernel") {
    val root = freshRoot()
    build(root)
    val cents = ManifestAnn.centroidSums(spark, root, "label")
    assert(ManifestAnn.routingEnvelopeOk(cents, query),
      "a battery-scale table must stay on the exact path")
  }

  test("routing gate: sums past the int64 envelope route on doubles, not wrap") {
    val root = freshRoot()
    build(root)
    // a giant partial sum lands in the sidecar for list 1 — the shape
    // a ~10¹² member list would fold to. Its TRUE direction is exactly
    // the query's (cosine 1.0 > every other list), but cosineQ's int64
    // norm of the raw sum wraps (4·(4e18)² >> 2⁶³). The gate must
    // switch routing to the overflow-free double fold, under which the
    // aligned list wins AND the small lists keep their direction (a
    // uniform down-shift would zero them).
    Manifest.append(
      Seq((1L, Seq(4000000000000000000L, 1200000000000000000L, 0L, 0L)))
        .toDF("label", "cvec"),
      ManifestAnn.centsRoot(root))
    val cents = ManifestAnn.centroidSums(spark, root, "label")
    assert(!ManifestAnn.routingEnvelopeOk(cents, query))
    val qlit = typedLit(query)
    val scored = cents.select(col("label"),
        ManifestAnn.routingScore(col("cvec"), qlit, exact = false).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the giant list scores ~1.0; list 0 keeps its real ~0.95; list 2
    // stays near 0 — nobody wrapped, nobody zeroed
    assert(math.abs(scored(1L) - 1.0) < 1e-6, scored.toString)
    assert(scored(0L) > 0.9 && scored(0L) < scored(1L), scored.toString)
    assert(scored(2L) < 0.1, scored.toString)
    // end-to-end: routing picks list 1 first — its members return
    val top = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      query, nProbe = 1, k = 2)
    val lists = top.select("label").as[Long].collect().toSet
    assert(lists == Set(1L), s"routing picked lists $lists, wanted {1}")
    // a zero-norm sum ranks last instead of dividing by zero
    val z = ManifestAnn.routingScore(typedLit(Seq(0L, 0L, 0L, 0L)),
      qlit, exact = false)
    assert(spark.range(1).select(z).head().getDouble(0) == -2.0)
  }
}
