package graft

import org.apache.spark.sql.functions._

import graft.similarity.ManifestAnn
import graft.store.{Maintenance, MaintenancePolicy, Manifest}

/** The one-call maintenance loop (battery q190 pins the end-to-end
  * values-never-change contract against the oracle; here: each
  * action's trigger, convergence, and the delegation/interplay
  * rules). */
class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot(tag: String): String = TempDirs
    .create(s"graft_maint_$tag").toString + "/t"

  test("debris policy: bin-pack fires on the small-file trigger, then converges") {
    val root = newRoot("debris")
    for (i <- 0 until 10)
      Manifest.append(Seq((i.toLong, i * 10L)).toDF("k", "x").coalesce(1),
        root, statsCols = Seq("k"))
    val p = MaintenancePolicy(smallBytes = 1L << 20, smallFileLimit = 4)
    val r1 = Maintenance.run(spark, root, p)
    assert(r1.packed.nonEmpty, r1.toString)
    assert(Manifest.current(spark, root).get.files.size < 10)
    assert(Manifest.read(spark, root).count() == 10L)
    // converged: the packed table is under every trigger
    val r2 = Maintenance.run(spark, root, p)
    assert(!r2.fired, r2.toString)
  }

  test("layout policy: clustering owns the table; bin-packing is delegated, marks survive") {
    val root = newRoot("layout")
    val grid = spark.range(0, 4096L)
      .select(expr("id % 64").as("x"), expr("id div 64").as("y"))
    Manifest.append(grid, root, statsCols = Seq("x", "y"))
    // polluting small appends: with a layout configured, the policy
    // must NOT bin-pack them (that would strip cube marks) — the
    // clustering pass selects and rewrites them instead
    val fresh = spark.range(0, 256L)
      .select(expr("id * 7 % 64").as("x"), expr("id * 13 % 64").as("y"))
    for (_ <- 0 until 3)
      Manifest.append(fresh.coalesce(1), root, statsCols = Seq("x", "y"))
    val p = MaintenancePolicy(layoutCols = Seq("x", "y"),
      targetBytes = 4096, cubeMinBytes = 1024)
    val r1 = Maintenance.run(spark, root, p)
    assert(r1.packed.isEmpty, "bin-packing must be delegated to clustering")
    // exactly the three whole-space polluters rewrite; the base grid's
    // tight-box files stay carried (the incremental contract)
    assert(r1.clustered.exists(_.rewrittenFiles == 3), r1.toString)
    val snap = Manifest.current(spark, root).get
    assert(snap.files.exists(f =>
      snap.stats.get(f).exists(_.contains(Manifest.ZCubeStatKey))),
      "the clustering pass left no cube marks")
    assert(Manifest.read(spark, root).count() == 4096L + 3 * 256L)
    // second cycle with nothing new: exact no-op
    val r2 = Maintenance.run(spark, root, p)
    assert(!r2.fired, r2.toString)
  }

  test("bloom and gc policies fire on their triggers and report honestly") {
    val root = newRoot("bloomgc")
    Manifest.append(spark.range(0, 2000L).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))
    Manifest.buildBloomIndex(spark, root, "id")
    // coverage decays: three post-build appends
    for (i <- 0 until 3)
      Manifest.append(spark.range(2000L + i, 2001L + i).toDF("id").coalesce(1),
        root, statsCols = Seq("id"))
    // packing supersedes the append debris, so gc has data files to
    // sweep; the bloom refresh then sees the post-pack snapshot
    val p = MaintenancePolicy(bloomCols = Seq("id"),
      bloomMinCoverage = 0.9, keepVersions = 1,
      smallBytes = 1L << 20, smallFileLimit = 2)
    val r1 = Maintenance.run(spark, root, p)
    assert(r1.packed.nonEmpty, r1.toString)
    assert(r1.bloomRefreshed == Seq("id"), r1.toString)
    assert(r1.gcSweptFiles > 0, "packing superseded files gc must sweep")
    assert(Manifest.readWhereEquals(spark, root, "id", 2001L).count() == 1L)
    val r2 = Maintenance.run(spark, root, p)
    assert(!r2.fired, r2.toString)
  }

  test("ANN policy: sidecar folds past the row cap; packing preserves list ranges") {
    val root = newRoot("ann") + "/ivf"
    def mk(id: Long, l: Long): (Long, Long, Seq[Long]) =
      (id, l, Seq.tabulate(4)(d => if (d == l) 1000L else 0L))
    for (b <- 0 until 4)
      ManifestAnn.appendBatch(
        Seq(mk(b * 3L, 0L), mk(b * 3L + 1, 1L), mk(b * 3L + 2, 2L))
          .toDF("vec_id", "label", "qv"),
        root, "label", "vec_id", "qv", listPartitions = 3)
    // 4 batches × 3 lists = 12 sidecar rows > cap 6 → fold to 3
    val p = MaintenancePolicy(annListCol = Some("label"),
      annCentsMaxRows = 6L, smallBytes = 1L << 20, smallFileLimit = 4,
      targetBytes = 4096)
    val r1 = Maintenance.run(spark, root, p)
    assert(r1.annCentsFolded, r1.toString)
    assert(Manifest.read(spark, ManifestAnn.centsRoot(root)).count() == 3L)
    // the main root bin-packed (12 tiny files) RANGE-PARTITIONED on the
    // list id: every packed file still covers a tight label range
    assert(r1.packed.nonEmpty, r1.toString)
    val snap = Manifest.current(spark, root).get
    val keep = Manifest.prunedFiles(snap, "label", 0L, 0L)
    assert(keep.size < snap.files.size,
      s"packed files lost their list ranges: ${keep.size} of ${snap.files.size}")
    // the probe still ranks exactly
    val top = ManifestAnn.probe(spark, root, "label", "vec_id", "qv",
      Seq(1000L, 0L, 0L, 0L), nProbe = 1, k = 3)
    assert(top.select("label").as[Long].collect().toSet == Set(0L))
    val r2 = Maintenance.run(spark, root, p)
    assert(!r2.fired, r2.toString)
  }
}
