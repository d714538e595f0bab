package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.{Manifest, Store}

/** The atomic versioned-manifest store: snapshot isolation, crash
  * injection (data staged / manifest tmp written, commit rename never
  * happens → readers keep the old table, never a mix), time travel,
  * gc, reader-safe compaction — and the two standing-loop
  * compositions (split SCD2, corpus-index admit) inheriting it.
  */
class ManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def newRoot(tag: String): String =
    TempDirs.create(s"graft_manifest_$tag").toString + "/t"

  /** Data files `df` scanned: the numFiles metric of its manifest scans
    * (a deletion vector's own parquet scan does not count). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect() // materialize so AQE finalizes and metrics fill
    val plan = df.queryExecution.executedPlan
    // the helper descends into adaptive query stages
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.isInstanceOf[graft.store.ManifestFileIndex] => s
      }
    assert(scans.nonEmpty, s"no manifest scan in:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("append/overwrite/read: versions are monotonic; append is prev ∪ new; overwrite replaces") {
    val root = newRoot("basic")
    val v0 = Manifest.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    assert(v0 == 0L)
    assert(Manifest.read(spark, root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    val v1 = Manifest.append(Seq((3L, "c")).toDF("k", "v"), root)
    assert(v1 == 1L)
    assert(Manifest.read(spark, root).count() == 3)
    val v2 = Manifest.overwrite(Seq((9L, "z")).toDF("k", "v"), root)
    assert(v2 == 2L)
    assert(Manifest.read(spark, root).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // time travel: every old snapshot still reads exactly as committed
    assert(Manifest.readSnapshot(spark, root, Manifest.snapshot(spark, root, 0L))
      .count() == 2)
    assert(Manifest.readSnapshot(spark, root, Manifest.snapshot(spark, root, 1L))
      .count() == 3)
    assert(Manifest.versions(spark, root) == Seq(0L, 1L, 2L))
  }

  test("crash injection: staged data + unrenamed manifest tmp are invisible; commit publishes atomically") {
    val root = newRoot("crash")
    Manifest.append(Seq((1L, "a")).toDF("k", "v"), root)
    val before = Manifest.read(spark, root).as[(Long, String)].collect().toSet

    // simulate a writer killed between data write and pointer swap:
    // (a) a fully-staged batch dir under data/ with no manifest entry
    Seq((666L, "ghost")).toDF("k", "v")
      .write.parquet(s"$root/data/bdeadbeefcrash")
    // (b) a complete manifest tmp that never got renamed into place
    val tmpManifest = new java.io.File(s"$root/manifest/_tmp.crashed")
    Files.writeString(tmpManifest.toPath,
      """{"files":["bdeadbeefcrash/whatever.parquet"],"meta":{}}""")

    // a reader sees EXACTLY the old committed table — the orphans do
    // not exist as far as the protocol is concerned
    assert(Manifest.current(spark, root).map(_.version).contains(0L))
    assert(Manifest.read(spark, root).as[(Long, String)].collect().toSet == before)

    // a reader pinned BEFORE the next commit keeps its snapshot; a
    // reader resolving AFTER sees the new one — old or new, never a mix
    val pinned = Manifest.read(spark, root)
    Manifest.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(pinned.as[(Long, String)].collect().toSet == before)
    assert(Manifest.read(spark, root).count() == 2)

    // a DEFAULT gc must NOT sweep the fresh unreferenced batch — it is
    // indistinguishable from a concurrent writer's staged-but-not-yet-
    // committed files (stage runs outside the commit lock); only age
    // proves it crash debris. The expired v0 files ARE swept (they were
    // referenced by a dropped manifest — provably history, not a stage).
    Manifest.gc(spark, root, keepVersions = 1)
    assert(new java.io.File(s"$root/data/bdeadbeefcrash").exists(),
      "young unreferenced files must survive default gc (in-flight stage)")
    assert(tmpManifest.exists())
    assert(Manifest.versions(spark, root) == Seq(1L))

    // past the orphan age window the same debris is swept
    Manifest.gc(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(!new java.io.File(s"$root/data/bdeadbeefcrash").exists())
    assert(!tmpManifest.exists())
    assert(Manifest.read(spark, root).count() == 2) // survivor intact
    assert(Manifest.versions(spark, root) == Seq(1L))
  }

  test("gc retains every file a kept manifest references; retention floor enforced") {
    val root = newRoot("gc")
    Manifest.append(Seq((1L, "a")).toDF("k", "v"), root)
    Manifest.append(Seq((2L, "b")).toDF("k", "v"), root)
    Manifest.append(Seq((3L, "c")).toDF("k", "v"), root)
    // keep 2: v2 (all three batches) and v1 (two batches) share files —
    // nothing v1/v2 reference may be deleted
    val removed = Manifest.gc(spark, root, keepVersions = 2)
    assert(removed.isEmpty, s"shared files must survive: $removed")
    assert(Manifest.versions(spark, root) == Seq(1L, 2L))
    assert(Manifest.read(spark, root).count() == 3)
    // an overwrite obsoletes all prior files; gc to 1 removes them
    Manifest.overwrite(Seq((9L, "z")).toDF("k", "v"), root)
    val removed2 = Manifest.gc(spark, root, keepVersions = 1)
    assert(removed2.nonEmpty)
    assert(Manifest.read(spark, root).as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    intercept[IllegalArgumentException](Manifest.gc(spark, root, keepVersions = 0))
  }

  test("compact collapses file sprawl without disturbing a pinned reader") {
    val root = newRoot("compact")
    (1 to 8).foreach(i => Manifest.append(
      spark.range(i * 10L, i * 10L + 5).toDF("id"), root))
    val sprawled = Manifest.current(spark, root).get.files.size
    assert(sprawled >= 8)
    val want = Manifest.read(spark, root).as[Long].collect().sorted.toSeq
    val pinned = Manifest.read(spark, root)
    Manifest.compact(spark, root)
    assert(Manifest.current(spark, root).get.files.size < sprawled)
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq == want)
    // the pinned pre-compaction reader still reads its own snapshot
    assert(pinned.as[Long].collect().sorted.toSeq == want)
    // and only gc (past retention) invalidates it — documented trade
    Manifest.gc(spark, root, keepVersions = 1)
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq == want)
  }

  test("data skipping: per-file stats prune reads, semantics exact, index survives range compaction") {
    val root = newRoot("skip")
    // three appends with disjoint key ranges → files with tight ranges
    Manifest.append(spark.range(0, 100).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.append(spark.range(100, 200).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.append(spark.range(200, 300).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    val snap = Manifest.current(spark, root).get
    assert(snap.stats.size == snap.files.size, s"stats missing: ${snap.stats.keys}")
    // [120, 150] intersects only the middle file's [100, 199]
    val kept = Manifest.prunedFiles(snap, "id", 120L, 150L)
    assert(kept.size < snap.files.size, s"nothing pruned: $kept of ${snap.files}")
    assert(Manifest.readWhereBetween(spark, root, "id", 120L, 150L)
      .as[Long].collect().sorted.toSeq == (120L to 150L))
    // fully-out-of-range probe: every file pruned, empty result, real schema
    val none = Manifest.readWhereBetween(spark, root, "id", 1000L, 2000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id"))
    // the skip reads scan exactly the files prunedFiles keeps — the
    // pruning is the scan's own, under the pushed range filter
    assert(scannedFiles(Manifest.readWhereBetween(spark, root, "id", 120L, 150L)) == kept.size)
    assert(scannedFiles(Manifest.readWhere(spark, root,
      Seq(("id", 120L, 150L), ("id", 0L, 1000L)))) == kept.size)
    assert(scannedFiles(none) == 0L)
    assert(scannedFiles(Manifest.readWhere(spark, root, Seq(("id", 1000L, 2000L)))) == 0L)
    // a change feed with no new files is an empty scan with the schema
    val noChange = Manifest.changes(spark, root, snap.version, snap)
    assert(scannedFiles(noChange) == 0L && noChange.columns.toSeq == Seq("id"))
    // an outstanding deletion vector keeps the pruning (the range filter
    // pushes through the anti-join) and hides the deleted rows
    val dvRoot = newRoot("skipdv")
    (0 until 3).foreach(i => Manifest.append(spark.range(i * 100L, i * 100L + 100)
      .toDF("id").coalesce(1), dvRoot, statsCols = Seq("id")))
    Manifest.deleteWhereBetweenDv(spark, dvRoot, "id", 130L, 139L)
    val dvSnap = Manifest.current(spark, dvRoot).get
    assert(dvSnap.meta.contains(Manifest.DvKey))
    val dvRead = Manifest.readWhereBetween(spark, dvRoot, "id", 120L, 150L)
    assert(scannedFiles(dvRead) == Manifest.prunedFiles(dvSnap, "id", 120L, 150L).size)
    assert(dvRead.as[Long].collect().sorted.toSeq ==
      ((120L to 129L) ++ (140L to 150L)))
    // a renamed (column-mapped) column prunes through its physical stats
    Manifest.renameColumn(spark, dvRoot, "id", "key")
    val mapped = Manifest.current(spark, dvRoot).get
    val mappedKept = Manifest.prunedFiles(mapped, "id", 120L, 150L).size
    assert(mappedKept == 1)
    assert(scannedFiles(Manifest.readWhereBetween(spark, dvRoot, "key", 120L, 150L)) == mappedKept)
    assert(scannedFiles(Manifest.readWhere(spark, dvRoot, Seq(("key", 120L, 150L)))) == mappedKept)
    assert(Manifest.readWhere(spark, dvRoot, Seq(("key", 120L, 150L)))
      .as[Long].collect().sorted.toSeq == ((120L to 129L) ++ (140L to 150L)))
    // point reads scan only the files the bloom screen passes: ids
    // interleave across three stats-free files, so stats keep every file
    val bRoot = newRoot("skipbloom")
    (0 until 3).foreach(i => Manifest.append(spark.range(0L, 300L)
      .filter(col("id") % 3 === i).toDF("id").coalesce(1), bRoot))
    Manifest.buildBloomIndex(spark, bRoot, "id")
    val eq = Manifest.readWhereEquals(spark, bRoot, "id", 151L)
    assert(scannedFiles(eq) == 1L && eq.as[Long].collect().toSeq == Seq(151L))
    val in = Manifest.readWhereIn(spark, bRoot, "id", Seq(151L, 152L))
    assert(scannedFiles(in) == 2L && in.as[Long].collect().sorted.toSeq == Seq(151L, 152L))
    // a stats-free append is conservatively scanned (correct, unpruned)
    Manifest.append(spark.range(400, 410).toDF("id").coalesce(1), root)
    assert(Manifest.readWhereBetween(spark, root, "id", 400L, 405L)
      .as[Long].collect().sorted.toSeq == (400L to 405L))
    // range compaction keeps the skip index present AND sharp
    Manifest.compact(spark, root, targetBytes = 1024, rangeBy = Seq("id"))
    val snap2 = Manifest.current(spark, root).get
    assert(snap2.stats.nonEmpty, "skip index lost through compaction")
    assert(Manifest.readWhereBetween(spark, root, "id", 120L, 150L)
      .as[Long].collect().sorted.toSeq == (120L to 150L))
    if (snap2.files.size > 1) {
      val keptAfter = Manifest.prunedFiles(snap2, "id", 120L, 150L)
      assert(keptAfter.size < snap2.files.size,
        s"range compaction should keep pruning sharp: $keptAfter of ${snap2.files}")
    }
    // a stat'd append drops Spark's schema-only zero-row part files
    // (left in the list they would carry no stats and be conservatively
    // scanned by every probe forever)
    val eroot = newRoot("skipempty")
    // partition 0 empty, partition 1 carries all rows → Spark stages an
    // empty part-00000 beside the real file
    Manifest.append(
      spark.range(500, 600).toDF("id")
        .repartition(2, (col("id") >= 500).cast("int")),
      eroot, statsCols = Seq("id"))
    val esnap = Manifest.current(spark, eroot).get
    assert(esnap.stats.size == esnap.files.size,
      s"zero-row staged file survived into the list: ${esnap.files} stats ${esnap.stats.keys}")
    assert(Manifest.read(spark, eroot).as[Long].collect().sorted.toSeq == (500L to 599L))
    // an ALL-empty stat'd batch still publishes one schema file
    Manifest.overwrite(
      spark.range(0, 10).toDF("id").filter(lit(false)).repartition(2),
      eroot, statsCols = Seq("id"))
    val allEmpty = Manifest.current(spark, eroot).get
    assert(allEmpty.files.size == 1 && allEmpty.stats.isEmpty)
    assert(Manifest.read(spark, eroot).count() == 0)
    assert(Manifest.read(spark, eroot).columns.toSeq == Seq("id"))

    // string-typed stats order in the value domain
    val sroot = newRoot("skipstr")
    Manifest.append(Seq("apple", "banana").toDF("w").coalesce(1), sroot, statsCols = Seq("w"))
    Manifest.append(Seq("melon", "peach").toDF("w").coalesce(1), sroot, statsCols = Seq("w"))
    val ssnap = Manifest.current(spark, sroot).get
    assert(Manifest.prunedFiles(ssnap, "w", "a", "c").size == 1)
    assert(Manifest.readWhereBetween(spark, sroot, "w", "a", "c")
      .as[String].collect().sorted.toSeq == Seq("apple", "banana"))
  }

  test("prunedFiles: NaN and ±Infinity bounds order as Spark's min/max") {
    val root = newRoot("skipnan")
    Manifest.append(Seq(-1.5, 0.0).toDF("d").coalesce(1), root, statsCols = Seq("d"))
    Manifest.append(Seq(2.5, 4.0).toDF("d").coalesce(1), root, statsCols = Seq("d"))
    val snap = Manifest.current(spark, root).get
    val (low, high) = (snap.files.take(1), snap.files.drop(1))
    // NaN sorts above every value
    assert(Manifest.prunedFiles(snap, "d", 3.0, Double.NaN) == high)
    assert(Manifest.prunedFiles(snap, "d", Double.NaN, Double.NaN).isEmpty)
    assert(Manifest.readWhereBetween(spark, root, "d", 3.0, Double.NaN)
      .as[Double].collect().toSeq == Seq(4.0))
    // -Infinity below and +Infinity above every finite value
    assert(Manifest.prunedFiles(snap, "d", Double.NegativeInfinity, -1.0) == low)
    assert(Manifest.prunedFiles(snap, "d", 5.0, Double.PositiveInfinity).isEmpty)
    assert(Manifest.prunedFiles(snap, "d",
      Double.NegativeInfinity, Double.PositiveInfinity) == snap.files)
    // -0.0 equals 0.0
    assert(Manifest.prunedFiles(snap, "d", -0.0, -0.0) == low)
    // JSON carries no non-finite number, so a file holding NaN or an
    // infinity records no [min, max] for the column: every probe keeps it
    Manifest.append(Seq(1.0, Double.NaN).toDF("d").coalesce(1), root, statsCols = Seq("d"))
    Manifest.append(Seq(1.0, Double.PositiveInfinity).toDF("d").coalesce(1), root,
      statsCols = Seq("d"))
    val snap2 = Manifest.current(spark, root).get
    val odd = snap2.files.drop(2)
    assert(odd.forall(f => !snap2.stats.get(f).exists(_.contains("d"))), snap2.stats)
    assert(Manifest.prunedFiles(snap2, "d", 10.0, 20.0) == odd)
    assert(Manifest.readWhereBetween(spark, root, "d", 10.0, Double.PositiveInfinity)
      .as[Double].collect().toSeq == Seq(Double.PositiveInfinity))
  }

  test("two reads of one snapshot are one relation: a self-join reuses the exchange") {
    val root = newRoot("reuse")
    Manifest.append(spark.range(0, 1000).select(col("id"), (col("id") % 10).as("g")), root)
    assert(Manifest.read(spark, root).queryExecution.analyzed
      .sameResult(Manifest.read(spark, root).queryExecution.analyzed))
    def perGroup = Manifest.read(spark, root).groupBy("g").agg(sum("id").as("s"))
    val joined = perGroup.join(perGroup.withColumnRenamed("s", "s2"), "g")
    assert(joined.collect().length == 10)
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"self-join sides computed twice:\n$p")
  }

  test("table: planner-integrated scan prunes files by manifest stats for any pushed filter") {
    val root = newRoot("fidx")
    Manifest.append(spark.range(0, 100).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.append(spark.range(100, 200).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.append(spark.range(200, 300).toDF("id").coalesce(1), root, statsCols = Seq("id"))

    // every commit records byte sizes, so the FileIndex plans with
    // ZERO per-file status RPCs (the zero-RPC branch engages)
    val snapB = Manifest.current(spark, root).get
    assert(snapB.files.forall(snapB.bytes.contains),
      s"byte sizes missing: ${snapB.bytes.keys} of ${snapB.files}")

    val t = Manifest.read(spark, root)
    // a BETWEEN through the ordinary DataFrame API prunes to one file
    val mid = t.filter(col("id") >= 120L && col("id") <= 150L)
    assert(scannedFiles(mid) == 1L)
    assert(mid.as[Long].collect().sorted.toSeq == (120L to 150L))
    // equality and IN prune too
    assert(scannedFiles(t.filter(col("id") === 250L)) == 1L)
    assert(scannedFiles(t.filter(col("id").isin(5L, 250L))) == 2L)
    // SQL over a temp view rides the same index
    t.createOrReplaceTempView("graft_fidx")
    val viaSql = spark.sql("SELECT id FROM graft_fidx WHERE id > 220")
    assert(scannedFiles(viaSql) == 1L)
    assert(viaSql.as[Long].collect().sorted.toSeq == (221L to 299L))
    // OR of prunable ranges scans exactly the union of the disjuncts'
    // file sets — the common date-slab disjunction shape
    val orTwo = t.filter((col("id") >= 10L && col("id") <= 20L) ||
      (col("id") >= 210L && col("id") <= 220L))
    assert(scannedFiles(orTwo) == 2L)
    assert(orTwo.as[Long].collect().sorted.toSeq ==
      ((10L to 20L) ++ (210L to 220L)))
    // OR via SQL prunes the same way
    assert(scannedFiles(spark.sql(
      "SELECT id FROM graft_fidx WHERE id BETWEEN 10 AND 20 OR id BETWEEN 210 AND 220")) == 2L)
    // an OR with an unprunable disjunct conservatively keeps every file
    assert(scannedFiles(t.filter((col("id") <= 5L) ||
      ((col("id") % 7) === 0L))) == 3L)
    // an unsupported predicate shape keeps every file — and stays correct
    val odd = t.filter((col("id") % 100) === 50L)
    assert(scannedFiles(odd) == 3L)
    assert(odd.as[Long].collect().sorted.toSeq == Seq(50L, 150L, 250L))
    // DATE literals prune via their canonical text forms; the bespoke
    // skip-read API accepts java.sql.Date probes the same way
    val droot = newRoot("fidxdate")
    def month(m: Int): org.apache.spark.sql.DataFrame =
      spark.range(1, 11).toDF("n").select(
        (col("n") + m * 100).as("id"),
        to_date(concat(lit(f"2026-$m%02d-"),
          lpad(col("n").cast("string"), 2, "0"))).as("d")).coalesce(1)
    (1 to 3).foreach(m => Manifest.append(month(m), droot, statsCols = Seq("d")))
    val dt = Manifest.read(spark, droot)
    val feb = dt.filter(col("d") >= lit(java.sql.Date.valueOf("2026-02-01")) &&
      col("d") <= lit(java.sql.Date.valueOf("2026-02-28")))
    assert(scannedFiles(feb) == 1L)
    assert(feb.count() == 10L)
    dt.createOrReplaceTempView("graft_fidx_d")
    assert(scannedFiles(spark.sql(
      "SELECT id FROM graft_fidx_d WHERE d = DATE'2026-03-05'")) == 1L)
    assert(Manifest.readWhereBetween(spark, droot, "d",
      java.sql.Date.valueOf("2026-01-01"), java.sql.Date.valueOf("2026-01-31"))
      .count() == 10L)
    assert(Manifest.prunedFiles(Manifest.current(spark, droot).get, "d",
      java.sql.Date.valueOf("2026-01-01"), java.sql.Date.valueOf("2026-01-31"))
      .size == 1)
    // LIKE 'prefix%' (Catalyst StartsWith) prunes on string stats
    val sroot = newRoot("fidxstr")
    def batchS(tag: String) = spark.range(0, 10).toDF("n")
      .select(concat(lit(tag),
        lpad(col("n").cast("string"), 2, "0")).as("s")).coalesce(1)
    Seq("apple_", "mango_", "zebra_").foreach(tag =>
      Manifest.append(batchS(tag), sroot, statsCols = Seq("s")))
    val st = Manifest.read(spark, sroot)
    val likeOne = st.filter(col("s").startsWith("mango"))
    assert(scannedFiles(likeOne) == 1L)
    assert(likeOne.count() == 10L)
    st.createOrReplaceTempView("graft_fidx_s")
    assert(scannedFiles(spark.sql(
      "SELECT s FROM graft_fidx_s WHERE s LIKE 'ze%'")) == 1L)
    // a prefix below every file's range scans nothing but stays correct
    val likeNone = st.filter(col("s").startsWith("aaa"))
    assert(likeNone.count() == 0L)
    // NOT-trees prune (De Morgan + comparison complements): NOT BETWEEN
    // scans only the files not fully inside the range
    val notBetween = t.filter(!(col("id") >= 100L && col("id") <= 199L))
    assert(scannedFiles(notBetween) == 2L)
    assert(notBetween.as[Long].collect().sorted.toSeq ==
      ((0L to 99L) ++ (200L to 299L)))
    // != keeps every multi-valued file here — and stays correct
    assert(scannedFiles(t.filter(col("id") =!= 150L)) == 3L)
    // a SINGLE-VALUED file is pruned by != and NOT IN
    val oroot = newRoot("fidxnot")
    Manifest.append(spark.range(0L, 50L).toDF("id").coalesce(1),
      oroot, statsCols = Seq("id"))
    Manifest.append(spark.range(0L, 10L).toDF("n")
      .select(lit(777L).as("id")).coalesce(1), oroot, statsCols = Seq("id"))
    val ot = Manifest.read(spark, oroot)
    val ne = ot.filter(col("id") =!= 777L)
    assert(scannedFiles(ne) == 1L)
    assert(ne.count() == 50L)
    assert(scannedFiles(ot.filter(!col("id").isin(777L, 999L))) == 1L)
    // IS NULL prunes null-free files via the #nulls stats twin
    val nroot = newRoot("fidxnull")
    Manifest.append(spark.range(0L, 50L).toDF("id")
      .withColumn("k", col("id")).coalesce(1), nroot, statsCols = Seq("k"))
    Manifest.append(spark.range(50L, 60L).toDF("id")
      .withColumn("k", when(col("id") === 55L, lit(null))
        .otherwise(col("id")).cast("long")).coalesce(1),
      nroot, statsCols = Seq("k"))
    val nt = Manifest.read(spark, nroot)
    val isNullProbe = nt.filter(col("k").isNull)
    assert(scannedFiles(isNullProbe) == 1L)
    assert(isNullProbe.select("id").as[Long].collect().toSeq == Seq(55L))
    // a stats-free append is conservatively scanned wherever it could match
    Manifest.append(spark.range(400, 410).toDF("id").coalesce(1), root)
    val t2 = Manifest.read(spark, root)
    assert(scannedFiles(t2.filter(col("id") >= 120L && col("id") <= 150L)) == 2L)
    assert(t2.filter(col("id") >= 120L && col("id") <= 150L)
      .as[Long].collect().sorted.toSeq == (120L to 150L))
  }

  test("deletion vectors: delete without rewriting a file; every read path honors them; compaction applies and clears") {
    val root = newRoot("dv")
    (0 to 3).foreach(i => Manifest.append(
      spark.range(i * 100L, i * 100L + 100).toDF("id").coalesce(1),
      root, statsCols = Seq("id"))) // v0..v3
    val filesBefore = Manifest.current(spark, root).get.files

    // DV delete of a slab clipping two files: ZERO data files rewritten
    Manifest.deleteWhereBetweenDv(spark, root, "id", 150L, 249L) // v4
    val snap = Manifest.current(spark, root).get
    assert(snap.files == filesBefore, "a DV delete must not touch the file list")
    assert(snap.meta.contains(Manifest.DvKey))
    def ids(): Seq[Long] = Manifest.read(spark, root).as[Long].collect().sorted.toSeq
    assert(ids() == ((0L to 149L) ++ (250L to 399L)))
    // the skip read and a filter on the plain read both honor the DV
    assert(Manifest.readWhereBetween(spark, root, "id", 120L, 260L)
      .as[Long].collect().sorted.toSeq == ((120L to 149L) ++ (250L to 260L)))
    assert(Manifest.read(spark, root).filter(col("id").between(120L, 260L))
      .as[Long].collect().sorted.toSeq == ((120L to 149L) ++ (250L to 260L)))
    // metadata count stays exact under a DV (footer sum minus the
    // recorded live vector count)
    assert(Manifest.rowCount(snap).contains(300L))
    assert(Manifest.countRows(spark, root) == 300L)
    // the vector side of the anti-join BROADCASTS — a corpus-wide
    // sort-merge for a few hundred deleted rows would be the scale bug
    val dvPlan = Manifest.read(spark, root).queryExecution.executedPlan.toString
    assert(dvPlan.contains("BroadcastHashJoin") || dvPlan.contains("BroadcastNestedLoopJoin"),
      s"DV anti-join must broadcast the vector:\n$dvPlan")
    assert(!dvPlan.contains("SortMergeJoin"), "DV anti-join went sort-merge")
    // time travel through the same scan: v3 pre-dates the
    // delete and reads the full table, v4 reads through the vector
    assert(Manifest.tableAsOf(spark, root, 3L).count() == 400L)
    assert(Manifest.tableAsOf(spark, root, 4L).count() == 300L)
    // the change feed refuses to pretend a DV commit is append-only
    val e = intercept[IllegalArgumentException] { Manifest.changesSince(spark, root, 3L) }
    assert(e.getMessage.contains("deletion-vector"))

    // vectors accumulate across deletes
    Manifest.deleteWhereBetweenDv(spark, root, "id", 0L, 9L) // v5
    assert(Manifest.countRows(spark, root) == 290L)

    // a merge rewriting a DV'd file must not resurrect its deleted rows
    Manifest.upsert(Seq(260L).toDF("id"), root, "id") // v6: rewrites file 2
    assert(Manifest.countRows(spark, root) == 290L)
    assert(ids() == ((10L to 149L) ++ (250L to 399L)))

    // compaction reads through the vector, publishes clean, clears it
    Manifest.compact(spark, root, targetBytes = 1L << 20, rangeBy = Seq("id")) // v7
    val clean = Manifest.current(spark, root).get
    assert(!clean.meta.contains(Manifest.DvKey), "compaction must clear the DV pointer")
    assert(Manifest.rowCount(clean).contains(290L))
    assert(ids() == ((10L to 149L) ++ (250L to 399L)))

    // restore to pre-delete resurrects by design (rollback semantics)
    Manifest.restore(spark, root, 3L) // v8
    assert(Manifest.countRows(spark, root) == 400L)

    // gc sweeps dv files no retained manifest points at
    Manifest.gc(spark, root, keepVersions = 1)
    val dvDir = new java.io.File(s"$root/dv")
    assert(!dvDir.exists() || dvDir.listFiles().isEmpty,
      s"orphaned dv files survived gc: ${Option(dvDir.listFiles()).map(_.toSeq)}")
    assert(Manifest.countRows(spark, root) == 400L)
  }

  test("history: one row per retained version with the producing operation, metadata-only") {
    val root = newRoot("history")
    Manifest.append(spark.range(0, 100).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.append(spark.range(100, 200).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    Manifest.upsert(Seq(50L).toDF("id"), root, "id")
    Manifest.deleteWhereBetweenDv(spark, root, "id", 150L, 159L)
    Manifest.compact(spark, root, targetBytes = 1L << 20, rangeBy = Seq("id"))
    Manifest.restore(spark, root, 1L)
    val h = Manifest.history(spark, root)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(5))).toSeq
    assert(h.map(_._1) == Seq(5L, 4L, 3L, 2L, 1L, 0L), "newest first, all retained")
    assert(h.map(_._2) == Seq("restore(1)", "compact", "deleteDv", "upsert",
      "append", "append"))
    // metadata-only row counts: DV-aware (footer sum minus recorded
    // vector count at v3), concrete everywhere
    assert(h.find(_._1 == 3L).get._4.contains(190L))
    assert(h.find(_._1 == 4L).get._4.contains(190L)) // compact applied the DV
    assert(h.find(_._1 == 5L).get._4.contains(200L)) // restore(1): full table back
    assert(h.map(_._5) == Seq(false, false, true, false, false, false))
    // gc trims the left edge of history
    Manifest.gc(spark, root, keepVersions = 2)
    assert(Manifest.history(spark, root).collect().map(_.getLong(0)).toSeq == Seq(5L, 4L))
  }

  test("compactSmall: bin-packs only small files; large files carried by identity; DV preserved") {
    val root = newRoot("csmall")
    Manifest.append(spark.range(0, 20000).toDF("id").coalesce(1), root,
      statsCols = Seq("id")) // the one LARGE file
    (0 until 6).foreach(i => Manifest.append(
      spark.range(20000L + i * 100, 20000L + i * 100 + 100).toDF("id").coalesce(1),
      root, statsCols = Seq("id"))) // six tiny files
    val snap0 = Manifest.current(spark, root).get
    val large = snap0.files.maxBy(snap0.bytes)
    assert(snap0.bytes(large) > 32 * 1024, s"large file too small: ${snap0.bytes}")
    // deletions in BOTH a carried file and a to-be-packed file
    Manifest.deleteWhereBetweenDv(spark, root, "id", 100L, 109L)   // in large
    Manifest.deleteWhereBetweenDv(spark, root, "id", 20050L, 20059L) // in small

    Manifest.compactSmall(spark, root, smallBytes = 32 * 1024,
      targetBytes = 1L << 20, rangeBy = Seq("id"))
    val snap1 = Manifest.current(spark, root).get
    // the large file is carried by IDENTITY — entry, stats, counts, bytes
    assert(snap1.files.contains(large))
    assert(snap1.stats(large) == snap0.stats(large))
    assert(snap1.rows(large) == snap0.rows(large))
    assert(snap1.bytes(large) == snap0.bytes(large))
    // the six small files collapsed
    assert(snap1.files.size < snap0.files.size)
    assert(snap1.meta(Manifest.OpKey) == "compactSmall")
    // the vector SURVIVES (large-file entries still load-bearing);
    // small-file deletions are baked into the rewrite
    assert(snap1.meta.contains(Manifest.DvKey))
    def ids(): Seq[Long] = Manifest.read(spark, root).as[Long].collect().sorted.toSeq
    val expect = ((0L until 20600L).filterNot(i =>
      (i >= 100 && i <= 109) || (i >= 20050 && i <= 20059))).toSeq
    assert(ids() == expect)
    // only the FULL compact applies and clears the vector
    Manifest.compact(spark, root, targetBytes = 1L << 20, rangeBy = Seq("id"))
    assert(!Manifest.current(spark, root).get.meta.contains(Manifest.DvKey))
    assert(ids() == expect)
  }

  test("check constraints: enforced on every data-adding commit; null predicates violate") {
    val root = newRoot("check")
    Manifest.append(spark.range(0, 100).toDF("id").coalesce(1), root, statsCols = Seq("id"))
    // a constraint the existing data violates is refused at birth
    val born = intercept[IllegalArgumentException] {
      Manifest.addCheck(spark, root, "small", "id < 50")
    }
    assert(born.getMessage.contains("existing rows violate"))
    Manifest.addCheck(spark, root, "nonneg", "id >= 0")
    val vBefore = Manifest.current(spark, root).get.version

    // a violating append is refused BEFORE commit — version unchanged
    val bad = intercept[IllegalArgumentException] {
      Manifest.append(Seq(-5L, 200L).toDF("id"), root)
    }
    assert(bad.getMessage.contains("violate CHECK nonneg"))
    assert(Manifest.current(spark, root).get.version == vBefore)
    // a NULL predicate result is a violation (the public rule)
    intercept[IllegalArgumentException] {
      Manifest.append(Seq[Option[Long]](Some(1L), None).toDF("id"), root)
    }
    // valid data commits; the merge path enforces too
    Manifest.append(Seq(200L).toDF("id"), root)
    intercept[IllegalArgumentException] {
      Manifest.upsert(Seq(-1L).toDF("id"), root, "id")
    }
    Manifest.upsert(Seq(300L).toDF("id"), root, "id")
    // dropCheck lifts the rule
    Manifest.dropCheck(spark, root, "nonneg")
    Manifest.append(Seq(-5L).toDF("id"), root)
    assert(Manifest.countRows(spark, root) == 103L)
    // the lifecycle is visible in history
    val ops = Manifest.history(spark, root).collect().map(_.getString(1)).toSeq
    assert(ops.contains("addCheck(nonneg)") && ops.contains("dropCheck(nonneg)"))
  }

  test("shallowClone: zero-copy clone reads the source; mutations are copy-on-write") {
    val src = newRoot("clone_src")
    val dst = newRoot("clone_dst")
    (0 to 2).foreach(i => Manifest.append(
      spark.range(i * 100L, i * 100L + 100).toDF("id").coalesce(1),
      src, statsCols = Seq("id")))
    Manifest.deleteWhereBetweenDv(spark, src, "id", 150L, 159L)
    val srcVersion = Manifest.current(spark, src).get.version
    def srcIds(): Seq[Long] = Manifest.read(spark, src).as[Long].collect().sorted.toSeq
    val srcBefore = srcIds()

    Manifest.shallowClone(spark, src, dst)
    // zero copy: the clone owns no data bytes yet
    val dstData = new java.io.File(s"$dst/data")
    assert(!dstData.exists() || dstData.listFiles().isEmpty)
    def dstIds(): Seq[Long] = Manifest.read(spark, dst).as[Long].collect().sorted.toSeq
    assert(dstIds() == srcBefore, "clone must read exactly the source (incl. its DV)")
    // the skip index carried over (absolute keys)
    assert(Manifest.readWhereBetween(spark, dst, "id", 120L, 170L)
      .as[Long].collect().sorted.toSeq == ((120L to 149L) ++ (160L to 170L)))

    // copy-on-write: an upsert rewrites only its touched file, locally
    Manifest.upsert(Seq(250L, 1000L).toDF("id"), dst, "id")
    assert(dstData.exists() && dstData.listFiles().nonEmpty, "COW must write locally")
    assert(dstIds() == (srcBefore.filterNot(_ == 250L) ++ Seq(250L, 1000L)).sorted)
    // the source is untouched — same version, same rows
    assert(Manifest.current(spark, src).get.version == srcVersion)
    assert(srcIds() == srcBefore)
    // schema enforcement carried through the clone
    intercept[IllegalArgumentException] {
      Manifest.append(Seq((1L, "x")).toDF("id", "extra"), dst)
    }

    // DV deletes on the CLONE accumulate across absolute + local files
    Manifest.deleteWhereBetweenDv(spark, dst, "id", 0L, 9L)
    Manifest.deleteWhereBetweenDv(spark, dst, "id", 20L, 29L)
    assert(Manifest.countRows(spark, dst) == srcBefore.size + 1 - 20)
    assert(srcIds() == srcBefore)

    // compaction fully materializes: no entry references the source
    Manifest.compact(spark, dst, targetBytes = 1L << 20, rangeBy = Seq("id"))
    val clean = Manifest.current(spark, dst).get
    assert(clean.files.forall(!_.contains(src)),
      s"compacted clone still references the source: ${clean.files}")
    assert(Manifest.countRows(spark, dst) == srcBefore.size + 1 - 20)
    // with the tie cut, source gc can proceed without breaking the clone
    Manifest.gc(spark, src, keepVersions = 1)
    assert(Manifest.countRows(spark, dst) == srcBefore.size + 1 - 20)
  }

  test("optimistic commit loop: racing writers all land; raced same-txn replays commit exactly once") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 writers x 4 batches, all racing one root: every commit must
      // land (lost-update-free), versions must be contiguous
      val root = newRoot("race")
      val futs = for (t <- 0 until 8; b <- 0 until 4) yield Future {
        Manifest.append(Seq((t.toLong, b.toLong)).toDF("w", "b"), root)
      }
      val vs = Await.result(Future.sequence(futs), 180.seconds)
      assert(vs.sorted == (0L until 32L), s"versions not contiguous: ${vs.sorted}")
      assert(Manifest.versions(spark, root) == (0L until 32L))
      assert(Manifest.read(spark, root).as[(Long, Long)].collect().toSet
        == (for (t <- 0 until 8; b <- 0 until 4) yield (t.toLong, b.toLong)).toSet)

      // 6 threads replaying the SAME (writer, txn): exactly one commits,
      // the rest are skipped by the watermark check re-raced inside the
      // commit loop, and their staged batches are swept
      val root2 = newRoot("race1x")
      val reps = (0 until 6).map(i => Future {
        Manifest.appendOnce(Seq((i.toLong, "dup")).toDF("k", "v"), root2, "w", 0L)
      })
      val outcomes = Await.result(Future.sequence(reps), 180.seconds)
      assert(outcomes.count(_._2) == 1, s"exactly one replay must commit: $outcomes")
      assert(Manifest.read(spark, root2).count() == 1)
      // no abandoned staged debris beyond the winner's batch dir
      val dataDirs = new java.io.File(s"$root2/data").listFiles().filter(_.isDirectory)
      assert(dataDirs.length == 1, s"losers must sweep their staged dirs: ${dataDirs.toSeq}")
    } finally { pool.shutdown(); () }
  }

  test("compactClustered: curve layout makes the skip index prune on every layout column") {
    val grid = spark.range(0, 128L * 128L)
      .select(expr("id % 128").as("x"), expr("id div 128").as("y"))
    val expect = grid.filter(col("x").between(32, 63) && col("y").between(32, 63))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def boxFiles(root: String): (Int, Int) = {
      val snap = Manifest.current(spark, root).get
      val fx = Manifest.prunedFiles(snap, "x", 32L, 63L)
      (Manifest.prunedFiles(snap.copy(files = fx), "y", 32L, 63L).size, snap.files.size)
    }
    def boxRead(root: String): Seq[(Long, Long)] =
      Manifest.readWhere(spark, root, Seq(("x", 32L, 63L), ("y", 32L, 63L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // three roots, identical base append → identical compaction file targets
    val lexRoot = newRoot("zorder_lex")
    val zRoot = newRoot("zorder_z")
    val hRoot = newRoot("zorder_h")
    Manifest.append(grid, lexRoot, statsCols = Seq("x", "y"))
    Manifest.append(grid, zRoot, statsCols = Seq("x", "y"))
    Manifest.append(grid, hRoot, statsCols = Seq("x", "y"))

    // lexicographic range layout: every file spans a sliver of x and
    // most of y, so the y conjunct barely prunes beyond what x did
    Manifest.compact(spark, lexRoot, targetBytes = 64, rangeBy = Seq("x", "y"))
    val (lexKept, lexTotal) = boxFiles(lexRoot)
    assert(lexTotal > 16, s"need file sprawl for the comparison, got $lexTotal")
    assert(boxRead(lexRoot) == expect)

    // z-order clustered: both columns' boxes are tight → strictly fewer
    // files survive the SAME conjunctive probe
    Manifest.compactClustered(spark, zRoot, Seq("x", "y"), targetBytes = 64)
    val (zKept, zTotal) = boxFiles(zRoot)
    assert(zTotal > 16, s"need file sprawl for the comparison, got $zTotal")
    assert(zKept < lexKept,
      s"z-order should out-prune lexicographic on the 2-D box: z $zKept/$zTotal vs lex $lexKept/$lexTotal")
    assert(boxRead(zRoot) == expect)
    val zSnap = Manifest.current(spark, zRoot).get
    assert(zSnap.stats.size == zSnap.files.size, "clustered compaction lost skip stats")
    assert(Manifest.rowCount(zSnap).contains(128L * 128L))

    // hilbert twin: same semantics, same pruning class
    Manifest.compactClustered(spark, hRoot, Seq("x", "y"), targetBytes = 64,
      curve = "hilbert")
    val (hKept, _) = boxFiles(hRoot)
    assert(hKept < lexKept,
      s"hilbert should out-prune lexicographic on the 2-D box: $hKept vs $lexKept")
    assert(boxRead(hRoot) == expect)
  }

  test("compactClusteredIncremental: rewrites only polluting files; pruning near the full rewrite") {
    val grid = spark.range(0, 128L * 128L)
      .select(expr("id % 128").as("x"), expr("id div 128").as("y"))
    // fresh appends STRIDE the whole key space — each landed file's
    // box covers ~everything, the exact skip-index pollution a
    // standing ingest loop produces between maintenance cycles
    val fresh = spark.range(0, 2048L)
      .select(expr("id * 7 % 128").as("x"), expr("id * 13 % 128").as("y"))
    // pruning quality in BYTES SURVIVING the 2-D box probe — the
    // honest metric once maintenance changes file granularity (file
    // counts compare a few wide polluters against many tiles)
    def boxBytes(root: String): (Long, Long) = {
      val snap = Manifest.current(spark, root).get
      val fx = Manifest.prunedFiles(snap, "x", 32L, 63L)
      val kept = Manifest.prunedFiles(snap.copy(files = fx), "y", 32L, 63L)
      (kept.flatMap(snap.bytes.get).sum,
        snap.files.flatMap(snap.bytes.get).sum)
    }
    val expect = (grid +: Seq.fill(4)(fresh)).reduce(_ unionByName _)
      .filter(col("x").between(32, 63) && col("y").between(32, 63))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val incRoot = newRoot("inc_cluster")
    val fullRoot = newRoot("inc_cluster_full")
    for (root <- Seq(incRoot, fullRoot)) {
      Manifest.append(grid, root, statsCols = Seq("x", "y"))
      Manifest.compactClustered(spark, root, Seq("x", "y"), targetBytes = 64)
      for (_ <- 0 until 4)
        Manifest.append(fresh.coalesce(1), root, statsCols = Seq("x", "y"))
    }
    val before = Manifest.current(spark, incRoot).get
    val (dirtyBoxBytes, _) = boxBytes(incRoot)

    val res = Manifest.compactClusteredIncremental(spark, incRoot,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 1024)
    // O(selected), not O(table): exactly the four polluting appends
    // are rewritten; the settled cube's tiles are carried by identity
    assert(res.rewrittenFiles == 4,
      s"incremental rewrote ${res.rewrittenFiles} of ${before.files.size}")
    assert(res.carriedFiles > before.files.size / 2)
    assert(res.rewrittenBytes < (res.rewrittenBytes + res.carriedBytes) / 3,
      s"rewrote ${res.rewrittenBytes} of ${res.rewrittenBytes + res.carriedBytes} bytes")
    // rows are untouched
    val got = Manifest.read(spark, incRoot)
      .filter(col("x").between(32, 63) && col("y").between(32, 63))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == expect)

    // pruning quality: within 2x of paying the FULL rewrite, and
    // strictly better than leaving the pollution in place
    Manifest.compactClustered(spark, fullRoot, Seq("x", "y"), targetBytes = 2048)
    val (incBoxBytes, incTotalBytes) = boxBytes(incRoot)
    val (fullBoxBytes, _) = boxBytes(fullRoot)
    assert(incBoxBytes <= 2 * fullBoxBytes,
      s"incremental box probe reads $incBoxBytes of $incTotalBytes bytes " +
        s"vs full rewrite $fullBoxBytes")
    assert(incBoxBytes < dirtyBoxBytes,
      s"incremental should beat the unmaintained layout: $incBoxBytes vs $dirtyBoxBytes")

    // converged: both cubes are stable provenance — a second pass with
    // nothing new finds ZERO work (no geometry churn across passes)
    val res2 = Manifest.compactClusteredIncremental(spark, incRoot,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 1024)
    assert(res2.rewrittenBytes == 0L && res2.version == res.version,
      s"second pass should be a no-op: $res2")

    // generation stability: one more polluting append selects ONLY
    // itself — neither the base cube nor the incremental cube re-joins
    Manifest.append(fresh.coalesce(1), incRoot, statsCols = Seq("x", "y"))
    val res3 = Manifest.compactClusteredIncremental(spark, incRoot,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 1024)
    assert(res3.rewrittenFiles == 1, s"third pass: $res3")
  }

  test("compactClusteredIncremental preserves an outstanding deletion vector") {
    val grid = spark.range(0, 4096L)
      .select(expr("id % 64").as("x"), expr("id div 64").as("y"),
        col("id").as("rid"))
    val fresh = spark.range(4096L, 4608L)
      .select(expr("id * 7 % 64").as("x"), expr("id * 13 % 64").as("y"),
        col("id").as("rid"))
    val root = newRoot("inc_dv")
    Manifest.append(grid, root, statsCols = Seq("x", "y", "rid"))
    Manifest.compactClustered(spark, root, Seq("x", "y"), targetBytes = 2048)
    Manifest.append(fresh.coalesce(1), root, statsCols = Seq("x", "y", "rid"))
    // DV rows land on BOTH a carried tile's range and the polluter
    Manifest.deleteWhereBetweenDv(spark, root, "rid", 100L, 110L)
    Manifest.deleteWhereBetweenDv(spark, root, "rid", 4100L, 4110L)
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 512)
    assert(res.rewrittenFiles >= 1 && res.carriedFiles >= 1, res.toString)
    // the vector survives for carried files; rewritten files read
    // through it — NO deleted row resurrects on any path
    val ids = Manifest.read(spark, root).select("rid").as[Long].collect().toSet
    assert(!(100L to 110L).exists(ids), "carried-file DV entries lost")
    assert(!(4100L to 4110L).exists(ids), "rewritten rows resurrected DV'd rows")
    assert(ids.size == 4096 + 512 - 22, ids.size.toString)
    val t = Manifest.readWhereBetween(spark, root, "rid", 0L, 4607L)
      .select("rid").as[Long].collect().toSet
    assert(t == ids, "pruned skip read disagrees with plain read under the DV")
  }

  test("compactClusteredIncremental: full-space polluters select even at tiny file counts") {
    val grid = spark.range(0, 4096L)
      .select(expr("id % 64").as("x"), expr("id div 64").as("y"))
    val fresh = spark.range(0, 512L)
      .select(expr("id * 7 % 64").as("x"), expr("id * 13 % 64").as("y"))
    val root = newRoot("inc_tiny")
    Manifest.append(grid, root, statsCols = Seq("x", "y"))
    Manifest.compactClustered(spark, root, Seq("x", "y")) // one cube file
    Manifest.append(fresh.coalesce(1), root, statsCols = Seq("x", "y"))
    Manifest.append(fresh.coalesce(1), root, statsCols = Seq("x", "y"))
    // F = 3: volumeFactor/F > 1 would exempt the whole-space polluters;
    // the 1/2-cap keeps them selected, the cube file still carries
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 2048, cubeMinBytes = 512)
    assert(res.rewrittenFiles == 2, res.toString)
    assert(Manifest.read(spark, root).count() == 4096L + 1024L)
  }

  test("long-string stats truncate at the cap; pruning stays conservative") {
    val longA = "a" * 500
    val longZ = "z" * 500
    val root = newRoot("stat_trunc")
    Manifest.append(Seq((1L, longA), (2L, longZ)).toDF("k", "txt").coalesce(1),
      root, statsCols = Seq("k", "txt"))
    val snap = Manifest.current(spark, root).get
    val (mn, mx) = snap.stats.values.head("txt")
    // min = 64-char prefix (valid lower bound); max = 64 chars with the
    // last retained char incremented (strictly above every 'z'… string)
    assert(mn == "a" * 64, s"min: [$mn]")
    assert(mx == "z" * 63 + ('z' + 1).toChar, s"max: [$mx]")
    // a point probe on the FULL long value still finds its row — the
    // widened box is conservative, never wrong
    assert(Manifest.readWhereBetween(spark, root, "txt", longZ, longZ)
      .count() == 1L)
    // a probe strictly above the incremented bound still prunes
    assert(Manifest.prunedFiles(snap, "txt", "|", "|").isEmpty,
      "probe above the bounded max should prune the file")
    // short strings record exactly
    assert(snap.stats.values.head.contains("k"))
  }

  test("compactClustered on a (string, numeric) key: string-dimension probes prune files") {
    val langs = Seq("de", "en", "es", "fr", "it", "ja", "pt", "zh")
    val rows = (0 until 8192).map(i => (langs(i % 8), i.toLong))
    val root = newRoot("str_cluster")
    Manifest.append(rows.toDF("lang", "k").repartition(4), root,
      statsCols = Seq("lang", "k"))
    Manifest.compactClustered(spark, root, Seq("lang", "k"), targetBytes = 4096)
    val snap = Manifest.current(spark, root).get
    assert(snap.files.size > 4, s"need file sprawl, got ${snap.files.size}")
    assert(snap.stats.values.forall(_.contains("lang")),
      "string layout column lost its skip stats")
    // a single-language probe keeps a strict file subset
    val keep = Manifest.prunedFiles(snap, "lang", "es", "es")
    assert(keep.nonEmpty && keep.size < snap.files.size,
      s"string probe kept ${keep.size} of ${snap.files.size}")
    // conjunctive (string, numeric) box reads exactly the right rows
    val got = Manifest.readWhere(spark, root,
        Seq(("lang", "es", "es"), ("k", 100L, 4000L)))
      .select("k").as[Long].collect().sorted.toSeq
    val expect = rows.filter(r => r._1 == "es" && r._2 >= 100L && r._2 <= 4000L)
      .map(_._2).sorted
    assert(got == expect, s"${got.size} vs ${expect.size}")
    // a filter on the plain read agrees
    assert(Manifest.read(spark, root)
      .filter(col("lang") === "es" && col("k").between(100L, 4000L))
      .count() == expect.size.toLong)
  }

  test("compactClusteredIncremental: density rule catches same-box stacking volume misses") {
    val grid = spark.range(0, 128L * 128L)
      .select(expr("id % 128").as("x"), expr("id div 128").as("y"))
    val root = newRoot("inc_stack")
    Manifest.append(grid, root, statsCols = Seq("x", "y"))
    Manifest.compactClustered(spark, root, Seq("x", "y"), targetBytes = 2048)
    // 12 appends land EXACTLY the same tight box — per-file volume is
    // ~(2/128)², far under any volume threshold, yet a point probe in
    // that box must open all 12 files
    val hot = spark.range(0, 64L)
      .select((col("id") % 2 + 10).as("x"), (expr("id div 2") % 2 + 10).as("y"))
      .coalesce(1)
    for (_ <- 0 until 12) Manifest.append(hot, root, statsCols = Seq("x", "y"))
    def boxFiles(): Int = {
      val snap = Manifest.current(spark, root).get
      val fx = Manifest.prunedFiles(snap, "x", 10L, 11L)
      Manifest.prunedFiles(snap.copy(files = fx), "y", 10L, 11L).size
    }
    val dirty = boxFiles()
    assert(dirty >= 13, s"fixture should stack the probe box, got $dirty files")
    // volume rule alone (density disabled) leaves the stack in place
    val off = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 1 << 20, cubeMinBytes = 1024,
      overlapDegree = 0)
    assert(off.rewrittenFiles == 0, s"volume rule should miss the stack: $off")
    // the stabbing-depth sweep selects exactly the 12-deep stack and
    // merges it into one cube; the settled grid cubes are carried
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 1 << 20, cubeMinBytes = 1024)
    assert(res.rewrittenFiles == 12, s"density pass: $res")
    val clean = boxFiles()
    assert(clean <= dirty - 10,
      s"probe box should collapse: $dirty files before, $clean after")
    assert(Manifest.read(spark, root).count() == 128L * 128L + 12L * 64L)
    // converged: the new cube is stable provenance
    val res2 = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 1 << 20, cubeMinBytes = 1024)
    assert(res2.rewrittenBytes == 0L, s"second pass should be a no-op: $res2")
  }

  test("compactClusteredIncremental: cross-GENERATION stacking merges cubes; the wide base carries") {
    val grid = spark.range(0, 128L * 128L)
      .select(expr("id % 128").as("x"), expr("id div 128").as("y"))
    val root = newRoot("inc_gen_stack")
    Manifest.append(grid, root, statsCols = Seq("x", "y"))
    Manifest.compactClustered(spark, root, Seq("x", "y"), targetBytes = 2048)
    val baseCubes = {
      val s = Manifest.current(spark, root).get
      s.files.flatMap(f => s.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
        .map(_._1.toString).distinct
    }
    assert(baseCubes.size == 1)
    // 12 GENERATIONS: each cycle appends the same tight box and runs
    // maintenance with the density rule high enough that the fresh
    // append merges alone into its own cube — the standing loop that
    // stacks one well-formed cube per cycle on the same key range
    val hot = spark.range(0, 256L)
      .select((col("id") % 2 + 10).as("x"), (expr("id div 2") % 2 + 10).as("y"))
      .coalesce(1)
    for (_ <- 0 until 12) {
      Manifest.append(hot, root, statsCols = Seq("x", "y"))
      // volumeFactor tiny => the fresh tight append re-clusters into a
      // cube of its own each cycle (generation-stacking generator)
      Manifest.compactClusteredIncremental(spark, root, Seq("x", "y"),
        targetBytes = 1 << 20, cubeMinBytes = 16, volumeFactor = 1e-9,
        overlapDegree = 100)
    }
    def cubesCovering(): Int = {
      val s = Manifest.current(spark, root).get
      val fx = Manifest.prunedFiles(s, "x", 10L, 11L)
      val kept = Manifest.prunedFiles(s.copy(files = fx), "y", 10L, 11L)
      kept.flatMap(f => s.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
        .map(_._1.toString).distinct.size
    }
    assert(cubesCovering() >= 12, s"fixture should stack generations, got ${cubesCovering()}")
    // the cross-generation sweep merges the 12 stacked generations
    // into ONE cube; the 64x-wider base grid cube is excluded by the
    // extent-similarity guard and carried by identity
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 1 << 20, cubeMinBytes = 16,
      volumeFactor = 1e9, overlapDegree = 8)
    assert(res.rewrittenFiles >= 12, s"generation merge: $res")
    val after = Manifest.current(spark, root).get
    val baseKept = after.files.flatMap(f =>
      after.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
      .map(_._1.toString).distinct
    assert(baseKept.contains(baseCubes.head), "the settled base cube must carry")
    assert(cubesCovering() <= 2, s"stack should converge, got ${cubesCovering()} cubes")
    // rows intact
    assert(Manifest.read(spark, root).count() == 128L * 128L + 12L * 256L)
    // CONVERGED: nothing new => no churn (the merged cube + wide base
    // never re-merge with each other)
    val res2 = Manifest.compactClusteredIncremental(spark, root,
      Seq("x", "y"), targetBytes = 1 << 20, cubeMinBytes = 16,
      volumeFactor = 1e9, overlapDegree = 8)
    assert(res2.rewrittenBytes == 0L && res2.version == res.version,
      s"post-merge pass should be a no-op: $res2")
  }

  test("compactClusteredIncremental: generation merge works on STRING-primary layouts") {
    val langs = Seq("de", "en", "es", "fr")
    val base = (0 until 8192).map(i => (langs(i % 4), i.toLong)).toDF("lang", "k")
    val root = newRoot("inc_str_gen")
    Manifest.append(base.repartition(2), root, statsCols = Seq("lang", "k"))
    Manifest.compactClustered(spark, root, Seq("lang", "k"), targetBytes = 4096)
    val baseCubes = {
      val s = Manifest.current(spark, root).get
      s.files.flatMap(f => s.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
        .map(_._1.toString).distinct
    }
    // 12 generations: every fresh string-layout append is stats-blind
    // to the volume test (string boxes have no numeric volume), so
    // each maintenance cycle re-clusters it into a cube of its own —
    // the stacking generator needs no knobs here
    val hot = (0 until 64).map(i => (langs(i % 4), (i % 8).toLong + 100L))
      .toDF("lang", "k").coalesce(1)
    for (_ <- 0 until 12) {
      Manifest.append(hot, root, statsCols = Seq("lang", "k"))
      Manifest.compactClusteredIncremental(spark, root, Seq("lang", "k"),
        targetBytes = 1 << 20, cubeMinBytes = 16, overlapDegree = 100)
    }
    def cubesCovering(): Int = {
      val s = Manifest.current(spark, root).get
      val fx = Manifest.prunedFiles(s, "lang", "es", "es")
      val kept = Manifest.prunedFiles(s.copy(files = fx), "k", 100L, 107L)
      kept.flatMap(f => s.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
        .map(_._1.toString).distinct.size
    }
    assert(cubesCovering() >= 12, s"fixture should stack, got ${cubesCovering()}")
    // the cmp-ordered cube sweep merges the string-keyed generations;
    // the much HEAVIER base cube is excluded by the bytes guard
    val res = Manifest.compactClusteredIncremental(spark, root,
      Seq("lang", "k"), targetBytes = 1 << 20, cubeMinBytes = 16,
      overlapDegree = 8)
    assert(res.rewrittenFiles >= 12, s"string generation merge: $res")
    val after = Manifest.current(spark, root).get
    val kept = after.files.flatMap(f =>
      after.stats.get(f).flatMap(_.get(Manifest.ZCubeStatKey)))
      .map(_._1.toString).distinct
    assert(baseCubes.forall(kept.contains), "the heavy base cube must carry")
    assert(cubesCovering() <= 2, s"stack should converge, got ${cubesCovering()}")
    assert(Manifest.read(spark, root).count() == 8192L + 12L * 64L)
    // converged: no churn
    val res2 = Manifest.compactClusteredIncremental(spark, root,
      Seq("lang", "k"), targetBytes = 1 << 20, cubeMinBytes = 16,
      overlapDegree = 8)
    assert(res2.rewrittenBytes == 0L, s"post-merge pass should no-op: $res2")
  }

  test("appendQuarantine: violating rows dead-letter with the constraint name") {
    val root = newRoot("quarantine")
    val qRoot = root + "_dlq"
    Manifest.append(Seq((1L, 50L)).toDF("k", "x"), root)
    Manifest.addCheck(spark, root, "pos", "x >= 0")
    Manifest.addCheck(spark, root, "cap", "x <= 100")
    val (v, good, bad) = Manifest.appendQuarantine(
      Seq((2L, 60L), (3L, -5L), (4L, 200L)).toDF("k", "x"), root, qRoot)
    assert((good, bad) == (1L, 2L), s"($good, $bad)")
    assert(Manifest.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    val dlq = Manifest.read(spark, qRoot).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(dlq == Seq((3L, "pos"), (4L, "cap")), dlq.toString)
    assert(Manifest.current(spark, root).get.version == v)
    // a fully-good batch quarantines nothing (no commit on the DLQ)
    val dlqV = Manifest.current(spark, qRoot).get.version
    val (_, g2, b2) = Manifest.appendQuarantine(
      Seq((5L, 70L)).toDF("k", "x"), root, qRoot)
    assert((g2, b2) == (1L, 0L))
    assert(Manifest.current(spark, qRoot).get.version == dlqV)
  }

  test("appendQuarantine composes with column mapping and renamed checks") {
    val root = newRoot("quarantine_cm")
    val qRoot = root + "_dlq"
    Manifest.append(Seq((1L, 50L)).toDF("k", "x"), root)
    // rename FIRST, author the check against the new logical name —
    // the enforcement surface is the logical view throughout
    Manifest.renameColumn(spark, root, "x", "score")
    Manifest.addCheck(spark, root, "cap", "score <= 100")
    val (_, good, bad) = Manifest.appendQuarantine(
      Seq((2L, 60L), (3L, 500L)).toDF("k", "score"), root, qRoot)
    assert((good, bad) == (1L, 1L), s"($good, $bad)")
    assert(Manifest.read(spark, root).columns.toSeq == Seq("k", "score"))
    assert(Manifest.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    val dlq = Manifest.read(spark, qRoot).head()
    assert(dlq.getLong(0) == 3L && dlq.getString(2) == "cap", dlq.toString)
  }

  test("mergeInto re-plans around a concurrent append and loses nothing") {
    val root = newRoot("merge_race")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x"), root,
      statsCols = Seq("k"))
    // a rival append lands BETWEEN the merge's plan and its publish:
    // forced deterministically — the source's FIRST evaluation (the
    // merge's duplicate-key check, which runs AFTER the planned parent
    // resolves) runs the rival commit to completion, so the merge's
    // first publish must conflict and re-plan. The hook lives in a
    // static holder (a UDF closure must stay serializable).
    MergeRaceHolder.raced.set(false)
    MergeRaceHolder.fire = () => {
      Manifest.append(Seq((100L, 1000L)).toDF("k", "x"), root,
        statsCols = Seq("k"))
      ()
    }
    val sneaky = udf { (v: Long) =>
      if (MergeRaceHolder.raced.compareAndSet(false, true))
        MergeRaceHolder.fire()
      v
    }
    Manifest.mergeInto(
      Seq((2L, 5L)).toDF("k", "x").withColumn("x", sneaky(col("x"))),
      root, "k", Map("x" -> "t.x + s.x"))
    val got = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 25L), (100L, 1000L)), got.toString)
  }

  test("timestamp time travel: versions resolve through the commit clock") {
    val root = newRoot("ts_travel")
    Manifest.append(Seq((1L, "a")).toDF("k", "v"), root)
    val t0 = Manifest.current(spark, root).get
      .meta(Manifest.CommitTimeKey).toLong
    Thread.sleep(15)
    Manifest.append(Seq((2L, "b")).toDF("k", "v"), root)
    val t1 = Manifest.current(spark, root).get
      .meta(Manifest.CommitTimeKey).toLong
    assert(t1 > t0, s"commit clock must advance: $t0 -> $t1")
    // between the commits -> the FIRST version; at/after the second -> it
    assert(Manifest.versionAsOfTimestamp(spark, root, t1 - 1) == 0L)
    assert(Manifest.versionAsOfTimestamp(spark, root, t1) == 1L)
    assert(Manifest.tableAsOfTimestamp(spark, root, t1 - 1).count() == 1L)
    assert(Manifest.tableAsOfTimestamp(spark, root, t1 + 1000).count() == 2L)
    // before the table existed: loud
    intercept[IllegalArgumentException] {
      Manifest.versionAsOfTimestamp(spark, root, t0 - 1)
    }
    // history surfaces the clock
    val times = Manifest.history(spark, root).select("commit_time_ms")
      .collect().map(_.getLong(0)).toSeq
    assert(times == Seq(t1, t0), times.toString)
  }

  test("mergeInto: SET expressions over both sides; inserts; identity carry; guards") {
    val root = newRoot("merge_into")
    Manifest.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    Manifest.append(Seq((3L, 30L, "c"), (4L, 40L, "d")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    val before = Manifest.current(spark, root).get

    // source matches keys 3 and 4 (second file only) and brings key 9
    val src = Seq((3L, 5L, "S3"), (4L, 7L, "S4"), (9L, 90L, "new"))
      .toDF("k", "x", "tag")
    Manifest.mergeInto(src, root, "k",
      Map("x" -> "t.x + s.x", "tag" -> "concat(t.tag, '|', s.tag)"))
    val got = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, "a"), (2L, 20L, "b"),
      (3L, 35L, "c|S3"), (4L, 47L, "d|S4"), (9L, 90L, "new")), got.toString)
    // the first file held no source key: carried by IDENTITY
    val after = Manifest.current(spark, root).get
    assert(before.files.count(after.files.toSet) == 1,
      "exactly the untouched file should carry")

    // insertUnmatched=false: update-only merge
    Manifest.mergeInto(Seq((1L, 1L, "u"), (99L, 0L, "zz"))
      .toDF("k", "x", "tag"), root, "k",
      Map("x" -> "t.x + s.x"), insertUnmatched = false)
    val got2 = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((1L, 11L), (2L, 20L), (3L, 35L), (4L, 47L), (9L, 90L)),
      got2.toString)

    // guards: duplicate source keys, SET on the key, unknown column
    intercept[IllegalArgumentException] {
      Manifest.mergeInto(Seq((1L, 1L, "u"), (1L, 2L, "v"))
        .toDF("k", "x", "tag"), root, "k", Map("x" -> "s.x"))
    }
    intercept[IllegalArgumentException] {
      Manifest.mergeInto(src, root, "k", Map("k" -> "s.k"))
    }
    intercept[IllegalArgumentException] {
      Manifest.mergeInto(src, root, "k", Map("nope" -> "s.x"))
    }

    // WHEN MATCHED AND <pred> THEN DELETE: a matched row satisfying
    // the predicate leaves in the same commit; non-matching matched
    // rows still take their SET; a NULL predicate keeps the row
    Manifest.mergeInto(Seq((3L, 1L, "del"), (4L, 1L, "keep"))
      .toDF("k", "x", "tag"), root, "k",
      Map("x" -> "t.x + s.x"), insertUnmatched = false,
      matchedDeleteSql = Some("s.tag = 'del'"))
    val got3 = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got3 == Seq((1L, 11L), (2L, 20L), (4L, 48L), (9L, 90L)),
      got3.toString)

    // column-mapping composition: the SET expression is authored in
    // the RENAMED logical name and resolves through the map
    Manifest.renameColumn(spark, root, "x", "score")
    Manifest.mergeInto(Seq((2L, 100L, "zz")).toDF("k", "score", "tag"),
      root, "k", Map("score" -> "t.score + s.score"),
      insertUnmatched = false)
    assert(Manifest.read(spark, root).filter(col("k") === 2L)
      .select("score").head().getLong(0) == 120L)
  }

  test("mergeInto inserts a source row whose key was DV-deleted (live-keys existing set)") {
    val root = newRoot("merge_dv_ins")
    Manifest.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x")
      .coalesce(1), root, statsCols = Seq("k"))
    Manifest.deleteWhereBetweenDv(spark, root, "k", 2L, 2L)
    // k=2 is logically GONE; a merge carrying it must INSERT it — the
    // raw touched file still holds the DV'd row, and reading the
    // existing-keys set without the vector made the source row vanish
    Manifest.mergeInto(Seq((2L, 99L), (4L, 40L)).toDF("k", "x"), root,
      "k", Map("x" -> "s.x"))
    val got = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (2L, 99L), (3L, 30L), (4L, 40L)),
      got.toString)
  }

  test("surrogate pairs at the stat cap: bounds stay valid UTF-16 and conservative") {
    // an emoji (surrogate pair) straddles the 64-char truncation point
    val tricky = "a" * 63 + new String(Character.toChars(0x1F600)) + "b" * 10
    val root = newRoot("stat_surrogate")
    Manifest.append(Seq((1L, tricky)).toDF("k", "txt").coalesce(1),
      root, statsCols = Seq("txt"))
    val snap = Manifest.current(spark, root).get
    val (mn, mx) = snap.stats.values.head("txt")
    def unpaired(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        if (Character.isHighSurrogate(s.charAt(i))) {
          if (i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1)))
            return true
          i += 2
        } else if (Character.isLowSurrogate(s.charAt(i))) return true
        else i += 1
      }
      false
    }
    assert(!unpaired(mn.toString), s"min carries an unpaired surrogate: [$mn]")
    assert(!unpaired(mx.toString), s"max carries an unpaired surrogate: [$mx]")
    // conservative after the manifest's UTF-8 round trip: the widened
    // box still admits the real value
    assert(mn.toString <= tricky && tricky <= mx.toString,
      s"bounds exclude the real value: [$mn] .. [$mx]")
    assert(Manifest.readWhereBetween(spark, root, "txt", tricky, tricky)
      .count() == 1L)
  }

  test("version tags: pinned outside retention, gc-protected, immutable, releasable") {
    val root = newRoot("tags")
    // six content-distinct versions; tag v1 as the training pin
    for (i <- 0 until 6)
      Manifest.append(Seq((i.toLong, s"batch$i")).toDF("k", "v").coalesce(1),
        root, statsCols = Seq("k"))
    Manifest.tagVersion(spark, root, "train-v1", Some(1L))
    val taggedRows = Set((0L, "batch0"), (1L, "batch1"))
    // guards: immutable names, simple tokens, retained versions only
    intercept[IllegalArgumentException] {
      Manifest.tagVersion(spark, root, "train-v1", Some(2L))
    }
    intercept[IllegalArgumentException] {
      Manifest.tagVersion(spark, root, "bad name", Some(2L))
    }
    intercept[IllegalArgumentException] {
      Manifest.tagVersion(spark, root, "ghost", Some(99L))
    }
    assert(Manifest.tags(spark, root) == Map("train-v1" -> 1L))
    // gc to a depth that would sweep v1 — the tag protects it (and the
    // checkpoint sidecar keeps a delta-logged version self-contained)
    Manifest.gc(spark, root, keepVersions = 2, orphanMinAgeMs = 0L)
    val vs = Manifest.versions(spark, root)
    assert(vs.contains(1L), s"tagged version swept: $vs")
    assert(!vs.contains(2L) && !vs.contains(3L), s"retention hole not swept: $vs")
    val got = Manifest.tableAtTag(spark, root, "train-v1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == taggedRows, got.toString)
    // live table unaffected
    assert(Manifest.read(spark, root).count() == 6L)
    // release: the next gc sweeps the version
    Manifest.dropTag(spark, root, "train-v1")
    assert(Manifest.tags(spark, root).isEmpty)
    Manifest.gc(spark, root, keepVersions = 2, orphanMinAgeMs = 0L)
    assert(!Manifest.versions(spark, root).contains(1L))
    intercept[IllegalArgumentException] {
      Manifest.tableAtTag(spark, root, "train-v1")
    }
  }

  test("deleteWhereDv: general-predicate delete is a pure metadata commit; 3VL; maps; accumulates") {
    val root = newRoot("dv_pred")
    Manifest.append(Seq((1L, 5L, "ok"), (2L, 20L, "bad"), (3L, 30L, null))
      .toDF("k", "x", "tag").coalesce(1), root, statsCols = Seq("k"))
    Manifest.append(Seq((4L, 40L, "bad"), (5L, 50L, "ok"))
      .toDF("k", "x", "tag").coalesce(1), root, statsCols = Seq("k"))
    val before = Manifest.current(spark, root).get

    // only rows where the predicate is TRUE leave; the NULL-tag row
    // survives (3VL), and ZERO data files move
    Manifest.deleteWhereDv(spark, root, "tag = 'bad' AND x > 10")
    val after = Manifest.current(spark, root).get
    assert(after.files == before.files, "DV delete must not move data files")
    val keys = Manifest.read(spark, root).select("k").as[Long].collect().sorted
    assert(keys.toSeq == Seq(1L, 3L, 5L), keys.mkString(","))
    // metadata count survives (live vector count recorded)
    assert(Manifest.rowCount(after).contains(3L))

    // accumulates over an earlier vector; overlap dedups in the count
    Manifest.deleteWhereBetweenDv(spark, root, "k", 1L, 1L)
    Manifest.deleteWhereDv(spark, root, "k <= 1 OR k = 5")
    val keys2 = Manifest.read(spark, root).select("k").as[Long].collect().sorted
    assert(keys2.toSeq == Seq(3L), keys2.mkString(","))
    assert(Manifest.rowCount(Manifest.current(spark, root).get).contains(1L))

    // nothing-matched is a no-op, not a version bump
    val v = Manifest.current(spark, root).get.version
    Manifest.deleteWhereDv(spark, root, "k = 999")
    assert(Manifest.current(spark, root).get.version == v)

    // column mapping: predicate authored in the RENAMED logical name
    Manifest.renameColumn(spark, root, "tag", "label")
    Manifest.deleteWhereDv(spark, root, "label IS NULL")
    assert(Manifest.read(spark, root).count() == 0L)
  }

  test("mergeInto: WHEN NOT MATCHED BY SOURCE THEN DELETE syncs the table to its source") {
    val root = newRoot("merge_nmbs")
    Manifest.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    Manifest.append(Seq((3L, 30L, "c"), (4L, 40L, "d")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    Manifest.append(Seq((5L, 50L, "e"), (6L, 60L, "f")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    // pure-orphan file whose rows the predicate PROTECTS: untouched,
    // carried by identity
    Manifest.append(Seq((7L, 70L, "e"), (8L, 80L, "e")).toDF("k", "x", "tag")
      .coalesce(1), root, statsCols = Seq("k"))
    val before = Manifest.current(spark, root).get
    // source still carries 1, 2, 3; orphans 4..8 delete only when
    // tag <> 'e' (4 and 6 go; 5, 7, 8 survive the arm's predicate)
    Manifest.mergeInto(
      Seq((1L, 1L, "s"), (2L, 2L, "s"), (3L, 3L, "s")).toDF("k", "x", "tag"),
      root, "k", Map("x" -> "t.x + s.x"), insertUnmatched = false,
      notMatchedBySourceDeleteSql = Some("t.tag <> 'e'"))
    val got = Manifest.read(spark, root).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 11L, "a"), (2L, 22L, "b"), (3L, 33L, "c"),
      (5L, 50L, "e"), (7L, 70L, "e"), (8L, 80L, "e")), got.toString)
    val after = Manifest.current(spark, root).get
    assert(before.files.count(after.files.toSet) == 1,
      "the protected-orphan file should carry by identity")

    // prune-to-source: a KEY-ONLY source with an unconditional arm
    Manifest.mergeInto(Seq(Tuple1(1L), Tuple1(3L), Tuple1(7L)).toDF("k"),
      root, "k", Map.empty, insertUnmatched = false,
      notMatchedBySourceDeleteSql = Some("true"))
    val got2 = Manifest.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got2 == Seq(1L, 3L, 7L), got2.toString)

    // an EMPTY source makes every row not-matched-by-source
    Manifest.mergeInto(Seq.empty[Tuple1[Long]].toDF("k"), root, "k",
      Map.empty, insertUnmatched = false,
      notMatchedBySourceDeleteSql = Some("t.k > 1"))
    val got3 = Manifest.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got3 == Seq(1L), got3.toString)
  }

  test("changeFeed: per-commit deltas, genesis included; signed fold equals the table") {
    val root = newRoot("cdf")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v0
    Manifest.append(Seq((3L, 30L), (4L, 40L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v1
    Manifest.upsert(Seq((3L, 99L), (5L, 50L)).toDF("k", "x"),
      root, "k")                                                   // v2
    Manifest.deleteWhereBetweenDv(spark, root, "k", 1L, 1L)        // v3
    val feed = Manifest.changeFeed(spark, root, -1L, 3L)
      .collect().map(r => (r.getAs[Long]("_commit_version"),
        r.getAs[String]("_change_type"), r.getAs[Long]("k"), r.getAs[Long]("x")))
      .toSeq
    def at(v: Long, ct: String) =
      feed.filter(e => e._1 == v && e._2 == ct).map(e => (e._3, e._4)).sorted
    assert(at(0, "insert") == Seq((1L, 10L), (2L, 20L)), feed.toString)
    assert(at(0, "remove").isEmpty)
    assert(at(1, "insert") == Seq((3L, 30L), (4L, 40L)))
    // the upsert rewrote the second file: its rows pair remove+insert
    // AT v2, with the pre/post images on the right sides
    assert(at(2, "remove") == Seq((3L, 30L), (4L, 40L)))
    assert(at(2, "insert") == Seq((3L, 99L), (4L, 40L), (5L, 50L)))
    // the DV delete retracts from a CARRIED file
    assert(at(3, "remove") == Seq((1L, 10L)))
    assert(at(3, "insert").isEmpty)
    // signed fold of the feed reproduces the live table exactly
    val folded = feed.groupBy(e => (e._3, e._4))
      .map { case (kx, es) =>
        kx -> es.map(e => if (e._2 == "insert") 1 else -1).sum }
      .filter(_._2 > 0)
    assert(folded.values.forall(_ == 1), folded.toString)
    val live = Manifest.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded.keySet == live, s"${folded.keySet} vs $live")
    // a metadata-only commit (rename) is an EMPTY step under the
    // renamed schema — present in the window, contributing no rows
    Manifest.renameColumn(spark, root, "x", "score")               // v4
    val step4 = Manifest.changeFeed(spark, root, 3L, 4L)
    assert(step4.count() == 0L)
    assert(step4.columns.contains("score") && !step4.columns.contains("x"))
    // windows are bounded by existing versions
    intercept[IllegalArgumentException] {
      Manifest.changeFeed(spark, root, 2L, 2L)
    }
  }

  test("branches: copy-on-write divergence, writes to both refs, gc honors branch pins") {
    val root = newRoot("branch")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v0
    Manifest.append(Seq((3L, 30L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v1 = fork
    Manifest.createBranch(spark, root, "audit")
    assert(Manifest.branches(spark, root) == Seq("audit"))
    intercept[IllegalArgumentException] {
      Manifest.createBranch(spark, root, "audit") // already exists
    }
    intercept[IllegalArgumentException] {
      Manifest.branchRoot(root, "main") // reserved
    }
    val br = Manifest.branchRoot(root, "audit")
    def rows(r: String): Set[(Long, Long)] = Manifest.read(spark, r)
      .collect().map(t => (t.getLong(0), t.getLong(1))).toSet
    // the branch takes the FULL write surface: upsert, DV delete, append
    Manifest.upsert(Seq((2L, 99L)).toDF("k", "x"), br, "k")
    Manifest.deleteWhereBetweenDv(spark, br, "k", 1L, 1L)
    Manifest.append(Seq((4L, 40L)).toDF("k", "x").coalesce(1),
      br, statsCols = Seq("k"))
    // main diverges independently: a full compact REWRITES main's
    // files, so the fork-era bytes leave main's own lineage entirely
    Manifest.compact(spark, root)
    Manifest.append(Seq((5L, 50L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))
    assert(rows(br) == Set((2L, 99L), (3L, 30L), (4L, 40L)))
    assert(rows(root) == Set((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L)))
    // gc on main at depth 1: without the branch ref the fork-era files
    // (referenced by NO retained main manifest after the compact)
    // would sweep — the branch ref pins them
    Manifest.gc(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(rows(br) == Set((2L, 99L), (3L, 30L), (4L, 40L)),
      "branch must survive parent gc")
    // the branch's own gc sweeps only local debris
    Manifest.gc(spark, br, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(rows(br) == Set((2L, 99L), (3L, 30L), (4L, 40L)))
    assert(rows(root) == Set((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L)))
    // main advanced past the fork: fast-forward refuses loudly
    val e = intercept[IllegalArgumentException] {
      Manifest.publishBranch(spark, root, "audit")
    }
    assert(e.getMessage.contains("advanced"), e.getMessage)
    Manifest.deleteBranch(spark, root, "audit")
    assert(Manifest.branches(spark, root).isEmpty)
    assert(rows(root) == Set((1L, 10L), (2L, 20L), (3L, 30L), (5L, 50L)))
    // recreate after delete: branch roots are the first API where path
    // reuse is the NORMAL lifecycle — the new branch must reflect
    // current main, never a stale cached lineage of the deleted one
    Manifest.createBranch(spark, root, "audit")
    assert(rows(Manifest.branchRoot(root, "audit")) == rows(root),
      "recreated branch must start from current main")
    Manifest.deleteBranch(spark, root, "audit")
  }

  test("branches: write-audit-publish fast-forwards main in one commit; branch consumed") {
    val root = newRoot("branch_pub")
    Manifest.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "x")
      .coalesce(1), root, statsCols = Seq("k"))                    // v0 = fork
    Manifest.createBranch(spark, root, "staging")
    val br = Manifest.branchRoot(root, "staging")
    def rows(r: String): Set[(Long, Long)] = Manifest.read(spark, r)
      .collect().map(t => (t.getLong(0), t.getLong(1))).toSet
    // audit the candidate state on the branch; main never sees it
    Manifest.upsert(Seq((2L, 99L), (4L, 40L)).toDF("k", "x"), br, "k")
    Manifest.deleteWhereBetweenDv(spark, br, "k", 1L, 1L)
    assert(rows(root) == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows(br) == Set((2L, 99L), (3L, 30L), (4L, 40L)))
    val v = Manifest.publishBranch(spark, root, "staging")
    // main fast-forwarded to the branch head in ONE commit
    assert(v == 1L)
    assert(rows(root) == Set((2L, 99L), (3L, 30L), (4L, 40L)))
    assert(Manifest.branches(spark, root).isEmpty)
    // the published state is durable through further writes and gc
    // (the moved copy-on-write files are main's own now)
    Manifest.append(Seq((5L, 50L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))
    Manifest.gc(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(rows(root) == Set((2L, 99L), (3L, 30L), (4L, 40L), (5L, 50L)))
    // skip stats survived the move: a key probe prunes files
    val snap = Manifest.current(spark, root).get
    assert(snap.stats.size == snap.files.size,
      s"stats lost in the move: ${snap.stats.size} of ${snap.files.size}")
    // a consumed branch cannot publish twice
    intercept[IllegalArgumentException] {
      Manifest.publishBranch(spark, root, "staging")
    }
  }

  test("branches: mergeBranch rebases a diverged main — branch wins per key, untouched keys keep main") {
    val root = newRoot("branch_merge")
    Manifest.append(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "x").coalesce(1), root, statsCols = Seq("k"))      // v0 = fork
    Manifest.createBranch(spark, root, "audit")
    val br = Manifest.branchRoot(root, "audit")
    def rows(r: String): Set[(Long, Long)] = Manifest.read(spark, r)
      .collect().map(t => (t.getLong(0), t.getLong(1))).toSet
    // branch edits: update k=2, delete k=3 AND k=4, insert k=5
    Manifest.upsert(Seq((2L, 99L), (5L, 50L)).toDF("k", "x"), br, "k")
    Manifest.deleteWhereBetweenDv(spark, br, "k", 3L, 4L)
    // main ADVANCES meanwhile: updates k=2 (conflict) and k=4
    // (deleted on branch — branch must still win), inserts k=6
    Manifest.upsert(Seq((2L, 21L), (4L, 41L), (6L, 60L)).toDF("k", "x"),
      root, "k")
    // fast-forward refuses the divergence; merge is the recovery
    intercept[IllegalArgumentException] {
      Manifest.publishBranch(spark, root, "audit")
    }
    Manifest.mergeBranch(spark, root, "audit", "k")
    // branch wins on touched keys (2 updated, 3+4 deleted, 5 inserted);
    // untouched keys keep main's CURRENT value (1 original, 6 new)
    assert(rows(root) == Set((1L, 10L), (2L, 99L), (5L, 50L), (6L, 60L)),
      rows(root).toString)
    assert(Manifest.branches(spark, root).isEmpty) // consumed
    // a no-op branch merges to the current version and is consumed
    Manifest.createBranch(spark, root, "quiet")
    val vBefore = Manifest.current(spark, root).get.version
    assert(Manifest.mergeBranch(spark, root, "quiet", "k") == vBefore)
    assert(Manifest.branches(spark, root).isEmpty)
    // a branch that gc'd its own fork snapshot refuses the merge loudly
    Manifest.createBranch(spark, root, "trunc")
    val tbr = Manifest.branchRoot(root, "trunc")
    Manifest.append(Seq((7L, 70L)).toDF("k", "x").coalesce(1), tbr,
      statsCols = Seq("k"))
    Manifest.append(Seq((8L, 80L)).toDF("k", "x").coalesce(1), tbr,
      statsCols = Seq("k"))
    // a ROUTINE gc on a branch auto-skips depth trimming — the merge
    // baseline (version 0) survives and the merge still works...
    Manifest.gc(spark, tbr, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(Manifest.versions(spark, tbr).head == 0L,
      "routine gc on a branch must preserve the merge baseline")
    // ...only the EXPLICIT policy knob bricks it, and the merge then
    // refuses loudly
    Manifest.gc(spark, tbr, keepVersions = 1, orphanMinAgeMs = 0L,
      branchTrim = true)
    val e = intercept[IllegalArgumentException] {
      Manifest.mergeBranch(spark, root, "trunc", "k")
    }
    assert(e.getMessage.contains("fork snapshot"), e.getMessage)
  }

  test("branches: mergeBranch claims TOUCHED keys — reverted-to-fork and created-then-deleted both branch-win") {
    val root = newRoot("branch_touch")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // fork
    Manifest.createBranch(spark, root, "audit")
    val br = Manifest.branchRoot(root, "audit")
    // branch: k=2 updated then REVERTED to its fork value; k=7
    // created then deleted — both keys are TOUCHED with zero net
    // value change over the whole window
    Manifest.upsert(Seq((2L, 99L), (7L, 70L)).toDF("k", "x"), br, "k")
    Manifest.upsert(Seq((2L, 20L)).toDF("k", "x"), br, "k")
    Manifest.deleteWhereBetweenDv(spark, br, "k", 7L, 7L)
    // main advances concurrently on BOTH keys
    Manifest.upsert(Seq((2L, 21L), (7L, 71L)).toDF("k", "x"), root, "k")
    Manifest.mergeBranch(spark, root, "audit", "k")
    val got = Manifest.read(spark, root).as[(Long, Long)].collect().toSet
    // the audit claimed k=2 (reverting it IS an audit decision — main's
    // concurrent 21 must not survive) and k=7's absence (the branch's
    // final state for a key it created and deleted)
    assert(got == Set((1L, 10L), (2L, 20L)), got.toString)
  }

  test("branches: mergeBranch survives a branch-side compaction — carried rewrites claim nothing") {
    val root = newRoot("branch_compact")
    Manifest.append(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("k", "x").coalesce(1), root, statsCols = Seq("k"))
    Manifest.createBranch(spark, root, "audit")
    val br = Manifest.branchRoot(root, "audit")
    Manifest.upsert(Seq((2L, 99L)).toDF("k", "x"), br, "k")
    Manifest.compact(spark, br) // rewrites EVERY branch file
    Manifest.upsert(Seq((1L, 21L)).toDF("k", "x"), root, "k") // main: k=1
    Manifest.mergeBranch(spark, root, "audit", "k")
    val got = Manifest.read(spark, root).as[(Long, Long)].collect().toSet
    // k=3 was only CARRIED through the branch compaction — not touched,
    // so main's untouched copy survives; k=1 keeps main's concurrent
    // update (the compaction must not have claimed it for the branch)
    assert(got == Set((1L, 21L), (2L, 99L), (3L, 30L)), got.toString)
  }

  test("branches: columnLevel mergeBranch — different columns of one row merge cell-wise") {
    val root = newRoot("branch_cols")
    Manifest.append(Seq(
      (1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L),
      (5L, 50L, 500L)).toDF("k", "a", "b").coalesce(1),
      root, statsCols = Seq("k"))                                  // fork
    Manifest.createBranch(spark, root, "audit")
    val br = Manifest.branchRoot(root, "audit")
    // branch: k=1 edits column a only; k=3 deleted; k=5 edits a;
    // k=6 created
    Manifest.upsert(Seq((1L, 11L, 100L), (5L, 55L, 500L),
      (6L, 60L, 600L)).toDF("k", "a", "b"), br, "k")
    Manifest.deleteWhereBetweenDv(spark, br, "k", 3L, 3L)
    // main concurrently: k=1 edits column b only; k=3 edits a (loses
    // to the branch delete); k=5 edits BOTH a and b; k=6 inserted
    // with different values (branch-created key wins wholesale);
    // k=4 brand new (untouched by branch — survives)
    Manifest.upsert(Seq((1L, 10L, 101L), (3L, 31L, 300L),
      (5L, 51L, 501L), (6L, 61L, 601L), (4L, 40L, 400L))
      .toDF("k", "a", "b"), root, "k")
    Manifest.mergeBranch(spark, root, "audit", "k", columnLevel = true)
    val got = Manifest.read(spark, root).as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set(
      (1L, 11L, 101L), // branch's a, main's b — both edits survive
      (2L, 20L, 200L), // untouched everywhere
      (4L, 40L, 400L), // main's concurrent insert survives
      (5L, 55L, 501L), // same-column conflict: branch a wins; main b kept
      (6L, 60L, 600L)  // branch-created key: branch row wholesale
    ), got.toString)
  }

  test("branches: columnLevel mergeBranch across schema evolution — the add/drop matrix") {
    import org.apache.spark.sql.Row
    // ADDED ON BRANCH: the merge evolves main's schema; branch-written
    // cells land, every untouched row reads the new column as NULL,
    // and a concurrent main edit on ANOTHER column still survives
    locally {
      val root = newRoot("bme_addbranch")
      Manifest.append(Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
        .toDF("k", "a", "b").coalesce(1), root, statsCols = Seq("k")) // fork
      Manifest.createBranch(spark, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      // branch evolves: new row k=6 carries new column c...
      Manifest.appendMerge(Seq((6L, 60L, 600L, "bn"))
        .toDF("k", "a", "b", "c").coalesce(1), br)
      // ...and k=2 gets a c value under the evolved schema (a, b kept)
      Manifest.upsert(Seq((2L, 20L, 200L, "bc")).toDF("k", "a", "b", "c"),
        br, "k")
      // main concurrently edits b of the same row (no evolution here)
      Manifest.upsert(Seq((2L, 20L, 201L)).toDF("k", "a", "b"), root, "k")
      Manifest.mergeBranch(spark, root, "audit", "k", columnLevel = true)
      val got = Manifest.read(spark, root)
        .select("k", "a", "b", "c").collect().toSet
      assert(got == Set(
        Row(1L, 10L, 100L, null), // untouched: new column reads NULL
        Row(2L, 20L, 201L, "bc"), // main's b edit + branch's c both live
        Row(3L, 30L, 300L, null),
        Row(6L, 60L, 600L, "bn")  // branch-created row arrives whole
      ), got.toString)
    }
    // ADDED ON MAIN: touched surviving keys keep main's current value
    // in the main-only column; a branch-created key reads it as NULL
    locally {
      val root = newRoot("bme_addmain")
      Manifest.append(Seq((1L, 10L, 100L), (2L, 20L, 200L))
        .toDF("k", "a", "b").coalesce(1), root, statsCols = Seq("k")) // fork
      Manifest.createBranch(spark, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      Manifest.upsert(Seq((1L, 11L, 100L), (7L, 70L, 700L))
        .toDF("k", "a", "b"), br, "k") // branch edits a; creates k=7
      // main evolves: new column d, set on k=1 (the conflict key)
      Manifest.appendMerge(Seq((9L, 90L, 900L, "m9"))
        .toDF("k", "a", "b", "d").coalesce(1), root)
      Manifest.upsert(Seq((1L, 10L, 100L, "m1")).toDF("k", "a", "b", "d"),
        root, "k")
      Manifest.mergeBranch(spark, root, "audit", "k", columnLevel = true)
      val got = Manifest.read(spark, root)
        .select("k", "a", "b", "d").collect().toSet
      assert(got == Set(
        Row(1L, 11L, 100L, "m1"), // branch's a; main's d KEPT
        Row(2L, 20L, 200L, null),
        Row(7L, 70L, 700L, null), // branch-created: main-only column NULL
        Row(9L, 90L, 900L, "m9")
      ), got.toString)
    }
    // DROPPED ON BRANCH: refuse loudly, naming the column
    locally {
      val root = newRoot("bme_dropbranch")
      Manifest.append(Seq((1L, 10L, 100L), (2L, 20L, 200L))
        .toDF("k", "a", "b").coalesce(1), root, statsCols = Seq("k"))
      Manifest.createBranch(spark, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      Manifest.dropColumn(spark, br, "b")
      Manifest.upsert(Seq((1L, 11L)).toDF("k", "a"), br, "k")
      val e = intercept[IllegalArgumentException] {
        Manifest.mergeBranch(spark, root, "audit", "k", columnLevel = true)
      }
      assert(e.getMessage.contains("dropped on branch: b"), e.getMessage)
    }
    // DROPPED ON MAIN: refuse loudly too
    locally {
      val root = newRoot("bme_dropmain")
      Manifest.append(Seq((1L, 10L, 100L), (2L, 20L, 200L))
        .toDF("k", "a", "b").coalesce(1), root, statsCols = Seq("k"))
      Manifest.createBranch(spark, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      Manifest.upsert(Seq((1L, 11L, 100L)).toDF("k", "a", "b"), br, "k")
      Manifest.dropColumn(spark, root, "b")
      val e = intercept[IllegalArgumentException] {
        Manifest.mergeBranch(spark, root, "audit", "k", columnLevel = true)
      }
      assert(e.getMessage.contains("dropped on main: b"), e.getMessage)
    }
    // WHOLE-ROW mode under branch evolution also lands the new column
    // (branch rows under the union schema; untouched rows NULL)
    locally {
      val root = newRoot("bme_wholerow")
      Manifest.append(Seq((1L, 10L, 100L), (2L, 20L, 200L))
        .toDF("k", "a", "b").coalesce(1), root, statsCols = Seq("k"))
      Manifest.createBranch(spark, root, "audit")
      val br = Manifest.branchRoot(root, "audit")
      Manifest.appendMerge(Seq((6L, 60L, 600L, "w6"))
        .toDF("k", "a", "b", "c").coalesce(1), br)
      Manifest.mergeBranch(spark, root, "audit", "k")
      val got = Manifest.read(spark, root)
        .select("k", "a", "b", "c").collect().toSet
      assert(got == Set(
        Row(1L, 10L, 100L, null), Row(2L, 20L, 200L, null),
        Row(6L, 60L, 600L, "w6")), got.toString)
    }
  }

  test("branches: publishBranch from a SHALLOW CLONE parent leaves foreign-absolute entries intact") {
    val gp = newRoot("branch_gp")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      gp, statsCols = Seq("k"))
    val parent = newRoot("branch_clone_parent")
    Manifest.shallowClone(spark, gp, parent)
    Manifest.append(Seq((3L, 30L)).toDF("k", "x").coalesce(1),
      parent, statsCols = Seq("k"))
    Manifest.createBranch(spark, parent, "b")
    val br = Manifest.branchRoot(parent, "b")
    Manifest.append(Seq((4L, 40L)).toDF("k", "x").coalesce(1), br,
      statsCols = Seq("k"))
    // pre-fix this threw mid-foreach on the grandparent's absolute
    // entries (substring of a foreign path is not a local batch dir)
    Manifest.publishBranch(spark, parent, "b")
    val got = Manifest.read(spark, parent).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
      got.toString)
    // the grandparent is untouched — its bytes were never the branch's
    assert(Manifest.read(spark, gp).count() == 2L)
  }

  test("branches: a change-feed window spanning publishBranch pays O(branch churn), not table volume") {
    val root = newRoot("branch_feed")
    // four single-row files so carried-vs-touched is visible per file
    (1L to 4L).foreach(k => Manifest.append(
      Seq((k, k * 10L)).toDF("k", "x").coalesce(1), root,
      statsCols = Seq("k")))
    val fork = Manifest.current(spark, root).get.version
    Manifest.createBranch(spark, root, "stage")
    val br = Manifest.branchRoot(root, "stage")
    Manifest.upsert(Seq((2L, 99L)).toDF("k", "x"), br, "k")
    Manifest.publishBranch(spark, root, "stage")
    val cur = Manifest.current(spark, root).get
    val feed = Manifest.changesWithDeltas(spark, root, fork, cur)
      .select(col(Manifest.ChangeTypeCol), col("k"), col("x"))
      .as[(String, Long, Long)].collect().toSet
    // inherited files kept their parent-relative names through the
    // publish, so they are CARRIED in the file diff: the window's
    // volume is exactly the touched file's remove+insert pair
    assert(feed == Set(("remove", 2L, 20L), ("insert", 2L, 99L)),
      feed.toString)
  }

  test("skipping: footer-lifted stats are job-free and prune timestamp/decimal/date ranges") {
    val root = newRoot("footerstats")
    // Spark's default parquet timestamp encoding is INT96, whose
    // footer statistics parquet-mr suppresses (legacy sort-order) —
    // the job-free lift needs the modern MICROS encoding; INT96
    // tables still work, they just pay the scan pass
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def mk(lo: Long) = (lo until lo + 10).map(i => (i,
      f"s$i%04d", ts(f"2026-01-${(i % 27) + 1}%02d 00:00:${i % 60}%02d"),
      BigDecimal(i) * BigDecimal("1.25"),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(20000 + i))))
      .toDF("k", "s", "t", "d", "dt")
      .withColumn("d", col("d").cast("decimal(12,2)"))
    val statCols = Seq("k", "s", "t", "d", "dt")
    // footer-lifted stats must add ZERO Spark jobs over the identical
    // stats-free append (the scan-based pass added one)
    Manifest.append(mk(0L).coalesce(1), root, statsCols = statCols) // warm
    val plainRoot = newRoot("footerstats_plain")
    val plainJobs = jobsDuring(Manifest.append(mk(100L).coalesce(1), plainRoot))
    val statJobs = jobsDuring(
      Manifest.append(mk(100L).coalesce(1), root, statsCols = statCols))
    assert(statJobs == plainJobs,
      s"stats pass launched ${statJobs - plainJobs} extra job(s) — " +
        "footer lift regressed to the scan pass")
    // and the lifted bounds PRUNE, per family, down to the one
    // matching file (two files: ids 0..9 and 100..109)
    val snap = Manifest.current(spark, root).get
    assert(Manifest.prunedFiles(snap, "k", 100L, 105L).size == 1)
    assert(Manifest.prunedFiles(snap, "s", "s0100", "s0105").size == 1)
    assert(Manifest.prunedFiles(snap, "t",
      ts("2026-01-20 00:00:00"), ts("2026-01-27 23:59:59")).size == 1,
      snap.stats.map { case (f, m) => f.take(8) -> m.get("t") }.toString)
    assert(Manifest.prunedFiles(snap, "d",
      new java.math.BigDecimal("125.00"),
      new java.math.BigDecimal("136.25")).size == 1)
    assert(Manifest.prunedFiles(snap, "dt",
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(20100)),
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(20109))).size == 1)
    // row-exactness through a pruned read (timestamp family)
    val got = Manifest.readWhereBetween(spark, root, "k", 104L, 106L)
      .select("s").as[String].collect().toSet
    assert(got == Set("s0104", "s0105", "s0106"), got.toString)
    } finally {
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    }
  }

  test("skipping: footer stats cover DECIMAL(38,x) and timestamp_ntz, equivalent to the scan pass") {
    // DECIMAL(38,6) lands as FIXED_LEN_BYTE_ARRAY(16) and timestamp_ntz
    // as TIMESTAMP(MICROS, isAdjustedToUTC=false) — the two stat
    // families real lakes write that used to bail the footer lift.
    // Footer-vs-scan equivalence: the SAME rows committed through the
    // footer path (MICROS encoding) and through the scan path (INT96
    // encoding bails the whole footer pass via its suppressed stats)
    // must record IDENTICAL read-back bounds for the shared columns.
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    def ldt(s: String) = java.time.LocalDateTime.parse(s)
    // negatives exercise two's-complement FLBA decoding; the 20-digit
    // base exceeds Double's ~16 significant digits, so these bounds
    // only survive the manifest round trip because stats parse with
    // useBigDecimalForDouble (the lossless-decimal guarantee)
    def mk(lo: Int) = (lo until lo + 10).map(i => (i.toLong,
      BigDecimal("12345678901234.567891") * (if (i % 3 == 0) -1 else 1)
        + BigDecimal(i) * (if (i % 3 == 0) -1 else 1),
      ldt(f"2026-02-${(i % 27) + 1}%02dT08:30:${i % 60}%02d.25"),
      java.sql.Timestamp.valueOf(f"2026-03-01 00:00:${i % 60}%02d")))
      .toDF("k", "d38", "tn", "t")
      .withColumn("d38", col("d38").cast("decimal(38,6)"))
    val statCols = Seq("k", "d38", "tn", "t")
    val rootF = newRoot("footer_d38")
    val rootS = newRoot("scan_d38")
    val (footerJobs, scanJobs) = try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      Manifest.append(mk(0).coalesce(1), rootF, statsCols = statCols) // warm
      val fj = jobsDuring {
        Manifest.append(mk(100).coalesce(1), rootF, statsCols = statCols)
      }
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      Manifest.append(mk(0).coalesce(1), rootS, statsCols = statCols)
      val sj = jobsDuring {
        Manifest.append(mk(100).coalesce(1), rootS, statsCols = statCols)
      }
      (fj, sj)
    } finally {
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    }
    // INT96's suppressed footer stats must bail the whole pass to the
    // scan (one extra Spark job) while MICROS lifts job-free — this is
    // what proves the equivalence below compares footer AGAINST scan,
    // not footer against footer
    assert(scanJobs > footerJobs,
      s"INT96 append launched $scanJobs job(s) vs MICROS $footerJobs — " +
        "expected the scan pass to add at least one")
    def readBack(root: String): Seq[Map[String, (Any, Any)]] = {
      val snap = Manifest.current(spark, root).get
      // "t" differs by design (INT96 vs MICROS encodings of the same
      // instants still yield the same bounds, but keep the comparison
      // on the two target families)
      snap.files.map(f => snap.stats(f) - "t" - s"t${Manifest.NullsSuffix}")
        .sortBy(m => m("k")._1.toString.toLong) // random file names ≠ commit order
    }
    val (fromFooter, fromScan) = (readBack(rootF), readBack(rootS))
    assert(fromFooter == fromScan,
      s"footer:\n$fromFooter\nscan:\n$fromScan")
    // and the lifted bounds PRUNE, per family, down to the one
    // matching file (two files: ids 0..9 and 100..109)
    val snap = Manifest.current(spark, rootF).get
    // file1 spans [-(base+9), base+8], file2 [-(base+108), base+109]:
    // [base+50, base+120] intersects only file2
    assert(Manifest.prunedFiles(snap, "d38",
      new java.math.BigDecimal("12345678901284.567891"),
      new java.math.BigDecimal("12345678901354.567891")).size == 1,
      snap.stats.map { case (f, m) => f.take(8) -> m.get("d38") }.toString)
    assert(Manifest.prunedFiles(snap, "tn",
      ldt("2026-02-20T08:30:00"), ldt("2026-02-27T23:59:59")).size == 1,
      snap.stats.map { case (f, m) => f.take(8) -> m.get("tn") }.toString)
    // row-exactness through an ntz-pruned read
    val got = Manifest.readWhereBetween(spark, rootF, "k", 104L, 106L)
      .select("k").as[Long].collect().toSet
    assert(got == Set(104L, 105L, 106L), got.toString)
  }

  test("changeFeedResync: an EMPTY resync snapshot emits one truncate marker row") {
    val root = newRoot("cdfresync_empty")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v0
    Manifest.deleteWhereBetweenDv(spark, root, "k", 1L, 2L)        // v1: all rows gone
    Manifest.append(Seq((3L, 30L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v2
    Manifest.gc(spark, root, keepVersions = 2)                     // drops v0
    assert(Manifest.versions(spark, root) == Seq(1L, 2L))
    val feed = Manifest.changeFeedResync(spark, root, 0L, 2L)
      .collect().map(r => (r.getAs[String](Manifest.ChangeTypeCol),
        r.getAs[Long](Manifest.CommitVersionCol),
        r.getAs[Boolean](Manifest.ResyncCol),
        Option(r.getAs[java.lang.Long]("k")).map(_.toLong))).toSet
    // the resync version (v1) exposes ZERO live rows — without the
    // marker a row-folding consumer would read "nothing happened";
    // with it the truncation event is a visible row
    assert(feed == Set(
      ("truncate", 1L, true, None),
      ("insert", 2L, false, Some(3L))), feed.toString)
  }

  test("skipping: UTF-8 binary stat order — supplementary-character max must not prune a BMP-range probe") {
    val root = newRoot("utf8stats")
    // one file whose Spark-recorded max is a SUPPLEMENTARY character
    // (U+10000): under UTF-16 code-unit order that max sorts BELOW
    // U+E000, so the old comparator pruned the file for a
    // U+E000-range probe it actually matches
    val supp = "\uD800\uDC00"  // U+10000
    Manifest.append(Seq(("a", 1L), ("\uE000x", 2L), (supp, 3L))
      .toDF("s", "x").coalesce(1), root, statsCols = Seq("s"))
    val got = Manifest.readWhereBetween(spark, root, "s",
      "\uE000", "\uEFFF").as[(String, Long)].collect().toSet
    assert(got == Set(("\uE000x", 2L)), got.toString)
    // and the boundary direction: a probe ABOVE every BMP char still
    // finds the supplementary row (max bound honored, not inverted)
    val hi = Manifest.readWhereBetween(spark, root, "s",
      "\uF000", "\uD800\uDC01").as[(String, Long)].collect().toSet
    assert(hi == Set((supp, 3L)), hi.toString)
  }

  test("changeFeedResync: exact when retained; truncate-and-reload window past a gc'd edge") {
    val root = newRoot("cdfresync")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v0
    Manifest.append(Seq((3L, 30L), (4L, 40L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))                                  // v1
    Manifest.upsert(Seq((3L, 99L), (5L, 50L)).toDF("k", "x"),
      root, "k")                                                   // v2
    Manifest.deleteWhereBetweenDv(spark, root, "k", 1L, 1L)        // v3
    // fully retained: degrades to changeFeed + constant-false flag
    val exact = Manifest.changeFeedResync(spark, root, -1L, 3L)
    assert(exact.filter(col(Manifest.ResyncCol)).count() == 0L)
    assert(exact.count() == Manifest.changeFeed(spark, root, -1L, 3L).count())
    Manifest.gc(spark, root, keepVersions = 2)     // drops v0, v1
    assert(Manifest.versions(spark, root) == Seq(2L, 3L))
    // the exact form strands the lagging consumer
    intercept[Exception] {
      Manifest.changeFeed(spark, root, 0L, 3L).collect()
    }
    val feed = Manifest.changeFeedResync(spark, root, 0L, 3L)
      .collect().map(r => (r.getAs[Long]("_commit_version"),
        r.getAs[String]("_change_type"), r.getAs[Boolean](Manifest.ResyncCol),
        r.getAs[Long]("k"), r.getAs[Long]("x"))).toSeq
    // resync window: the FULL live state at the oldest retained
    // version (v2), insert-only, flagged true
    val base = feed.filter(_._3)
    assert(base.forall(e => e._1 == 2L && e._2 == "insert"), feed.toString)
    assert(base.map(e => (e._4, e._5)).sorted ==
      Seq((1L, 10L), (2L, 20L), (3L, 99L), (4L, 40L), (5L, 50L)))
    // then the exact delta of (2, 3]: the DV delete's remove
    val rest = feed.filterNot(_._3)
    assert(rest == Seq((3L, "remove", false, 1L, 10L)), rest.toString)
    // truncate-and-reload + fold reproduces the live table
    val reloaded = base.map(e => (e._4, e._5)).toSet
    val folded = rest.foldLeft(reloaded) { (s, e) =>
      if (e._2 == "insert") s + ((e._4, e._5)) else s - ((e._4, e._5)) }
    val live = Manifest.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == live, s"$folded vs $live")
  }

  test("overwriteOnce: wholesale replace and txn watermark in ONE commit; replay skips") {
    val root = newRoot("ow_once")
    Manifest.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "x").coalesce(1),
      root, statsCols = Seq("k"))
    Manifest.deleteWhereBetweenDv(spark, root, "k", 1L, 1L) // DV pointer set
    assert(Manifest.current(spark, root).get.meta.contains(Manifest.DvKey))
    val (v1, c1) = Manifest.overwriteOnce(
      Seq((7L, 70L)).toDF("k", "x"), root, "w", 5L)
    assert(c1)
    def rows(): Set[(Long, Long)] = Manifest.read(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows() == Set((7L, 70L)))
    assert(Manifest.lastTxn(spark, root, "w").contains(5L))
    // the overwrite drops the stale deletion-vector pointer
    assert(!Manifest.current(spark, root).get.meta.contains(Manifest.DvKey))
    // replayed txn (same id): skipped, rows untouched
    val (v2, c2) = Manifest.overwriteOnce(
      Seq((9L, 90L)).toDF("k", "x"), root, "w", 5L)
    assert(!c2 && v2 == v1)
    assert(rows() == Set((7L, 70L)))
    // a NEWER txn applies
    val (_, c3) = Manifest.overwriteOnce(
      Seq((9L, 90L)).toDF("k", "x"), root, "w", 6L)
    assert(c3)
    assert(rows() == Set((9L, 90L)))
    assert(Manifest.lastTxn(spark, root, "w").contains(6L))
  }

  test("column mapping: rename/drop are metadata-only; every path resolves the map") {
    val root = newRoot("colmap")
    Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("k", "v", "w").repartition(1)
    match { case df => Manifest.append(df, root, statsCols = Seq("k", "v")) }
    val filesBefore = Manifest.current(spark, root).get.files

    // RENAME is one metadata-only commit: zero data files move
    Manifest.renameColumn(spark, root, "v", "score")
    val afterRename = Manifest.current(spark, root).get
    assert(afterRename.files == filesBefore, "rename moved data files")
    assert(Manifest.read(spark, root).columns.toSeq == Seq("k", "score", "w"))

    // the PLANNER scan resolves the map and still file-prunes: filters
    // on the logical name push through the alias into the physical
    // attribute the stats are keyed by
    val viaTableDf = Manifest.read(spark, root)
      .filter(col("score") >= 20L).select("k", "score")
    val viaTable = viaTableDf
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaTable == Seq((2L, 20L), (3L, 30L)))
    // ...and the pushed filter really reaches the physical scan (the
    // empirical alias-pushdown check: one PushedFilters entry on the
    // physical name, measured by the planned scan's existence — file
    // counts are pinned in the clustered tests; here the single-file
    // fixture proves resolution, the predicate filtered rows in-scan)
    val scanStr = viaTableDf.queryExecution.executedPlan.toString
    assert(scanStr.contains("PushedFilters") &&
      scanStr.contains("GreaterThanOrEqual(v,20)"),
      s"filter did not push through the alias:\n$scanStr")

    // the skip-read probes translate: stats are keyed physical
    val skip = Manifest.readWhereBetween(spark, root, "score", 20L, 30L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(skip == Seq(2L, 3L))

    // APPEND after the rename arrives in LOGICAL names, lands physical
    Manifest.append(Seq((4L, 40L, "d")).toDF("k", "score", "w"), root,
      statsCols = Seq("k", "score"))
    assert(Manifest.read(spark, root).count() == 4L)

    // UPSERT by a renamed key merges, not duplicates
    Manifest.renameColumn(spark, root, "k", "id")
    Manifest.upsert(Seq((2L, 21L, "B"), (5L, 50L, "e"))
      .toDF("id", "score", "w"), root, "id")
    val merged = Manifest.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(merged == Seq((1L, 10L, "a"), (2L, 21L, "B"), (3L, 30L, "c"),
      (4L, 40L, "d"), (5L, 50L, "e")), merged.toString)

    // DROP is metadata-only; the column vanishes from every read
    val filesPreDrop = Manifest.current(spark, root).get.files
    Manifest.dropColumn(spark, root, "w")
    assert(Manifest.current(spark, root).get.files == filesPreDrop)
    assert(Manifest.read(spark, root).columns.toSeq == Seq("id", "score"))

    // plain APPEND and UPSERT after the drop: batches arrive in the
    // post-drop logical shape; the re-recorded fingerprint + reader
    // schema keep enforcement and the heterogeneous file mix readable
    Manifest.append(Seq((7L, 70L)).toDF("id", "score"), root)
    Manifest.upsert(Seq((7L, 71L), (8L, 80L)).toDF("id", "score"), root, "id")
    val post = Manifest.read(spark, root).filter(col("id") >= 7L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(post == Seq((7L, 71L), (8L, 80L)), post.toString)

    // re-adding the dropped LOGICAL name gets a FRESH physical name
    // (id-mapping re-add semantics): old rows read NULL — the retired
    // column's bytes are never resurrected into the new column
    Manifest.appendMerge(Seq((6L, 60L, "zz")).toDF("id", "score", "w"), root)
    val ws = Manifest.read(spark, root).orderBy("id").select("w")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(ws == Seq(None, None, None, None, None, Some("zz"), None, None),
      ws.toString)
    // ...and the fresh physical column round-trips through later ops
    Manifest.upsert(Seq((6L, 61L, "zz2")).toDF("id", "score", "w"), root, "id")
    assert(Manifest.read(spark, root).filter(col("id") === 6L)
      .select("w").head().getString(0) == "zz2")
    Manifest.dropColumn(spark, root, "w")
    // a differently-named addition evolves normally; old files read NULL
    Manifest.appendMerge(Seq((10L, 100L, "fresh"))
      .toDF("id", "score", "w2"), root)
    val w2s = Manifest.read(spark, root).orderBy("id").select("w2")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(w2s == Seq(None, None, None, None, None, None, None, None,
      Some("fresh")), w2s.toString)

    // REWRITES stage physical names: the mapping survives a compact
    Manifest.compact(spark, root)
    assert(Manifest.read(spark, root).columns.toSeq == Seq("id", "score", "w2"))
    assert(Manifest.readWhereBetween(spark, root, "id", 2L, 3L).count() == 2L)

    // TIME TRAVEL: a pre-rename snapshot reads with its OWN names
    val old = Manifest.tableAsOf(spark, root, 0L)
    assert(old.columns.toSeq == Seq("k", "v", "w"))

    // guards: taken target name; rename/drop under a CHECK reference
    intercept[IllegalArgumentException] {
      Manifest.renameColumn(spark, root, "score", "id")
    }
    Manifest.addCheck(spark, root, "score_pos", "score >= 0")
    intercept[IllegalArgumentException] {
      Manifest.renameColumn(spark, root, "score", "points")
    }
    intercept[IllegalArgumentException] {
      Manifest.dropColumn(spark, root, "score")
    }
    Manifest.dropCheck(spark, root, "score_pos")
    Manifest.renameColumn(spark, root, "score", "points")
    assert(Manifest.read(spark, root).columns.toSeq == Seq("id", "points", "w2"))

    // OVERWRITE is the mapping reset: logical = physical again
    Manifest.overwrite(Seq((9L, 90L)).toDF("id", "points"), root)
    val cur = Manifest.current(spark, root).get
    assert(!cur.meta.contains(Manifest.ColMapKey) &&
      !cur.meta.contains(Manifest.DroppedKey))
    assert(Manifest.read(spark, root).columns.toSeq == Seq("id", "points"))
  }

  test("appendOnce: exactly-once per (writer, txn) — replays and raced duplicates skip") {
    val root = newRoot("txn")
    val (v0, c0) = Manifest.appendOnce(spark.range(0, 10).toDF("id"), root, "w1", 0L)
    assert(c0 && v0 == 0L)
    // replay of txn 0: skipped, nothing double-committed, staged debris swept
    val (v0b, c0b) = Manifest.appendOnce(spark.range(0, 10).toDF("id"), root, "w1", 0L)
    assert(!c0b && v0b == 0L)
    assert(Manifest.read(spark, root).count() == 10)
    val dataDirs = new java.io.File(s"$root/data").listFiles.count(_.isDirectory)
    assert(dataDirs == 1, s"abandoned replay left staged debris: $dataDirs batch dirs")
    // next txn commits; an OLDER txn replayed after it still skips (>= watermark)
    val (_, c1) = Manifest.appendOnce(spark.range(10, 30).toDF("id"), root, "w1", 1L)
    assert(c1)
    assert(!Manifest.appendOnce(spark.range(0, 10).toDF("id"), root, "w1", 0L)._2)
    // a DIFFERENT writer's txn 0 is independent
    val (_, cw2) = Manifest.appendOnce(spark.range(100, 105).toDF("id"), root, "w2", 0L)
    assert(cw2)
    assert(Manifest.read(spark, root).count() == 35)
    // watermarks survive compaction (metadata carries through)
    Manifest.compact(spark, root)
    assert(!Manifest.appendOnce(spark.range(0, 10).toDF("id"), root, "w1", 1L)._2)
    assert(!Manifest.appendOnce(spark.range(0, 10).toDF("id"), root, "w2", 0L)._2)
    assert(Manifest.read(spark, root).count() == 35)
  }

  test("schema enforcement: drifting append throws loudly, overwrite re-records") {
    val root = newRoot("schema")
    Manifest.append(Seq((1L, "a")).toDF("k", "v"), root)
    // same shape appends fine (nullability-insensitive)
    Manifest.append(Seq((2L, "b")).toDF("k", "v"), root)
    // REORDERED columns append fine — parquet reads resolve by name
    Manifest.append(Seq(("bb", 22L)).toDF("v", "k"), root)
    assert(Manifest.read(spark, root).select("k", "v").count() == 3)
    // renamed column → loud reject, store untouched
    val e1 = intercept[IllegalArgumentException] {
      Manifest.append(Seq((3L, "c")).toDF("k", "w"), root)
    }
    assert(e1.getMessage.contains("drifts"))
    // retyped column → loud reject
    intercept[IllegalArgumentException] {
      Manifest.append(Seq((3, "c")).toDF("k", "v"), root) // k Int, was Long
    }
    assert(Manifest.read(spark, root).count() == 3)
    // the intentional change goes through overwrite, which re-records
    Manifest.overwrite(Seq((9L, "z", true)).toDF("k", "v", "flag"), root)
    Manifest.append(Seq((10L, "y", false)).toDF("k", "v", "flag"), root)
    assert(Manifest.read(spark, root).count() == 2)
  }

  test("NULLs appended under a non-nullable recorded schema survive reads and rewrites") {
    val root = newRoot("nonnull")
    // spark.range columns are non-nullable, and overwrite records the
    // batch schema as given
    Manifest.overwrite(spark.range(0, 3).select(col("id").as("k"), col("id")), root)
    Manifest.append(Seq((3L, None: Option[Long]), (4L, Some(40L)))
      .toDF("k", "id").coalesce(1), root)
    def rows(): Seq[(Long, Option[Long])] = Manifest.read(spark, root)
      .select("k", "id").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows() == Seq((0L, Some(0L)), (1L, Some(1L)), (2L, Some(2L)),
      (3L, None), (4L, Some(40L))))
    assert(Manifest.read(spark, root).filter(col("id").isNull)
      .select("k").as[Long].collect().toSeq == Seq(3L))
    // the upsert of k = 4 rewrites the file holding the NULL
    Manifest.upsert(Seq((4L, Some(41L))).toDF("k", "id"), root, "k")
    assert(rows() == Seq((0L, Some(0L)), (1L, Some(1L)), (2L, Some(2L)),
      (3L, None), (4L, Some(41L))))
    Manifest.compact(spark, root)
    assert(Manifest.read(spark, root).filter(col("id").isNull)
      .select("k").as[Long].collect().toSeq == Seq(3L))
  }

  test("row counts from footers: countRows answers from metadata on every commit kind") {
    val root = newRoot("rows")
    Manifest.append(spark.range(0, 100).toDF("id").repartition(3), root)
    Manifest.append(spark.range(100, 150).toDF("id"), root)
    val snap = Manifest.current(spark, root).get
    assert(Manifest.rowCount(snap).contains(150L),
      s"rows map incomplete: ${snap.rows} for ${snap.files}")
    assert(Manifest.countRows(spark, root) == 150L)
    Manifest.compact(spark, root)
    assert(Manifest.rowCount(Manifest.current(spark, root).get).contains(150L))
    Manifest.overwrite(spark.range(0, 7).toDF("id"), root)
    assert(Manifest.countRows(spark, root) == 7L)
  }

  test("restore rolls back to a retained version; gc'd targets reject loudly") {
    val root = newRoot("restore")
    Manifest.overwrite(spark.range(0, 50).toDF("id"), root)         // v0
    Manifest.append(spark.range(50, 80).toDF("id"), root)           // v1
    Manifest.overwrite(spark.range(1000, 1005).toDF("id"), root)    // v2
    val v3 = Manifest.restore(spark, root, 1L)
    assert(v3 == 3L)
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq == (0L until 80L))
    // restored snapshot keeps its row counts (metadata restored wholesale)
    assert(Manifest.countRows(spark, root) == 80L)
    // and restore is itself a version: the overwrite state is still travel-able
    assert(Manifest.readSnapshot(spark, root, Manifest.snapshot(spark, root, 2L))
      .count() == 5)
    // a target whose data files are gone rejects loudly instead of
    // publishing a broken table (the retention trade made visible)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Manifest.snapshot(spark, root, 2L).files.foreach(rel =>
      hfs.delete(new org.apache.hadoop.fs.Path(s"$root/data/$rel"), false))
    val e = intercept[IllegalArgumentException] {
      Manifest.restore(spark, root, 2L)
    }
    assert(e.getMessage.contains("gc already swept"))
    // and a gc'd-away manifest rejects at resolve
    Manifest.gc(spark, root, keepVersions = 1)
    intercept[IllegalArgumentException] { Manifest.restore(spark, root, 0L) }
    ()
  }

  test("changesSince: append-only change feed; file-rewriting commits throw") {
    val root = newRoot("cdc")
    Manifest.overwrite(spark.range(0, 10).toDF("id"), root)         // v0
    Manifest.append(spark.range(10, 25).toDF("id"), root)           // v1
    Manifest.append(spark.range(25, 30).toDF("id"), root)           // v2
    assert(Manifest.changesSince(spark, root, 0L)
      .as[Long].collect().sorted.toSeq == (10L until 30L))
    assert(Manifest.changesSince(spark, root, 1L)
      .as[Long].collect().sorted.toSeq == (25L until 30L))
    // no new commits → empty frame, real schema
    val none = Manifest.changesSince(spark, root, 2L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id"))
    // a compaction rewrites files → the feed refuses rather than double-counts
    Manifest.compact(spark, root)
    val e = intercept[IllegalArgumentException] {
      Manifest.changesSince(spark, root, 1L)
    }
    assert(e.getMessage.contains("not append-only"))
    // re-baseline at the compacted version: feed works again
    Manifest.append(spark.range(30, 33).toDF("id"), root)
    assert(Manifest.changesSince(spark, root, 3L)
      .as[Long].collect().sorted.toSeq == (30L until 33L))
  }

  test("upsert: rewrites only touched files; untouched files keep identity, stats, counts") {
    val root = newRoot("upsert")
    // four range-disjoint stat'd files
    (0L to 3L).foreach(i => Manifest.append(
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("v", col("id") * 10).coalesce(1),
      root, statsCols = Seq("id")))
    val before = Manifest.current(spark, root).get
    assert(before.files.size == 4)
    // batch: update two keys in the SECOND file, insert two new keys
    val batch = Seq((150L, -1L), (199L, -2L), (1000L, -3L), (1001L, -4L))
      .toDF("id", "v")
    Manifest.upsert(batch, root, "id")
    val after = Manifest.current(spark, root).get
    // files 0, 2, 3 carried through by identity (no rewrite)
    val untouched = before.files.filter(f =>
      before.stats(f)("id")._1 match { case lo: Long => lo != 100L; case _ => false })
    assert(untouched.forall(after.files.contains),
      s"untouched files rewritten: kept ${after.files}")
    assert(!after.files.contains(before.files.diff(untouched).head),
      "touched file not replaced")
    // content: merge semantics
    val got = Manifest.read(spark, root).orderBy("id").as[(Long, Long)].collect()
    assert(got.length == 402)
    assert(got.count(_._2 < 0) == 4)
    assert(got.find(_._1 == 150L).get._2 == -1L)
    assert(got.find(_._1 == 151L).get._2 == 1510L)
    // metadata row counts stayed complete through the partial rewrite
    assert(Manifest.rowCount(after).contains(402L))
    // skip stats recomputed for the rewritten files too
    assert(after.stats.size == after.files.size)
    // duplicate batch keys reject loudly
    intercept[IllegalArgumentException] {
      Manifest.upsert(Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), root, "id")
    }
    // empty batch is a version no-op
    val v = after.version
    assert(Manifest.upsert(Seq.empty[(Long, Long)].toDF("id", "v"), root, "id") == v)
  }

  test("deleteWhereBetween: file-pruned delete; fully-covered files vanish") {
    val root = newRoot("delete")
    (0L to 3L).foreach(i => Manifest.append(
      spark.range(i * 100, (i + 1) * 100).toDF("id").coalesce(1),
      root, statsCols = Seq("id")))
    val before = Manifest.current(spark, root).get
    // [100, 250]: file 1 fully covered (vanishes), file 2 partially rewritten
    Manifest.deleteWhereBetween(spark, root, "id", 100L, 250L)
    val after = Manifest.current(spark, root).get
    val expected = (0L until 100L) ++ (251L until 400L)
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq == expected)
    // files 0 and 3 carried through by identity
    val keptOld = before.files.filter(after.files.contains)
    assert(keptOld.size == 2, s"expected 2 untouched files, kept $keptOld")
    assert(Manifest.rowCount(after).contains(expected.size.toLong))
    // out-of-range delete is a version no-op (nothing pruned in)
    val v = after.version
    assert(Manifest.deleteWhereBetween(spark, root, "id", 5000L, 6000L) == v)
    // deleting everything keeps a schema file, table reads empty
    Manifest.deleteWhereBetween(spark, root, "id", 0L, 400L)
    assert(Manifest.read(spark, root).count() == 0)
    assert(Manifest.read(spark, root).columns.toSeq == Seq("id"))
  }

  test("manifest metadata round-trips and survives compaction") {
    val root = newRoot("meta")
    Manifest.overwrite(Seq((1L, "a")).toDF("k", "v"), root,
      meta = Map("graft.sig.family" -> "perm", "note" -> "with \"quotes\" and \\slash"))
    val m0 = Manifest.current(spark, root).get.meta
    assert(m0("graft.sig.family") == "perm")
    assert(m0("note") == "with \"quotes\" and \\slash")
    Manifest.compact(spark, root)
    // user metadata survives wholesale; the operation stamp and the
    // commit clock are the two keys that are deliberately per-commit
    val perCommit = Seq(Manifest.OpKey, Manifest.CommitTimeKey)
    assert(Manifest.current(spark, root).get.meta -- perCommit ==
      m0 -- perCommit)
    assert(Manifest.current(spark, root).get.meta(Manifest.OpKey) == "compact")
  }

  test("scd2ApplySplit: ≡ monolithic history; replay-safe; retro reject; reader never sees a mix") {
    val openRoot = newRoot("scd2o")
    val closedRoot = newRoot("scd2c")
    val init = Store.scd2Init(
      Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("k", "v", "eff"), Seq("k"), "eff")
    Manifest.overwrite(init, openRoot)
    val b0 = Seq((1L, "a2", 200L), (2L, "b", 200L), (3L, "c", 200L)).toDF("k", "v", "eff")
    val b1 = Seq((1L, "a3", 300L), (1L, "a4", 350L)).toDF("k", "v", "eff")
    Store.scd2ApplySplit(spark, b0, openRoot, closedRoot, Seq("k"), "eff")
    // a reader pinned between the transactions keeps a complete table
    val pinnedOpen = Manifest.read(spark, openRoot)
    Store.scd2ApplySplit(spark, b1, openRoot, closedRoot, Seq("k"), "eff")
    assert(pinnedOpen.filter(!col("is_current")).count() == 0)

    def versions() = Store.scd2Versions(spark, openRoot, closedRoot)
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    val mono = Store.scd2Apply(Store.scd2Apply(init, b0, Seq("k"), "eff"),
        b1, Seq("k"), "eff")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(versions() == mono, s"split=${versions()} mono=$mono")

    // replay of b1 changes nothing (idempotent transaction)
    Store.scd2ApplySplit(spark, b1, openRoot, closedRoot, Seq("k"), "eff")
    assert(versions() == mono)

    // genuinely retroactive change (effective 250, inside key 1's logged
    // [200, 300) interval) rejects loudly, store untouched
    val ex = intercept[IllegalArgumentException](Store.scd2ApplySplit(spark,
      Seq((1L, "bad", 250L)).toDF("k", "v", "eff"), openRoot, closedRoot, Seq("k"), "eff"))
    assert(ex.getMessage.contains("retroactive"))
    assert(versions() == mono)
    // forward progress still works after the reject
    val b2 = Seq((1L, "a5", 400L)).toDF("k", "v", "eff")
    Store.scd2ApplySplit(spark, b2, openRoot, closedRoot, Seq("k"), "eff")
    assert(versions() == Store.scd2Apply(Store.scd2Apply(Store.scd2Apply(init,
        b0, Seq("k"), "eff"), b1, Seq("k"), "eff"), b2, Seq("k"), "eff")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet)
  }

  test("incremental log: small commits write O(batch) deltas, checkpoints bound the chain, resolution is exact") {
    val root = newRoot("deltalog")
    val want = scala.collection.mutable.ArrayBuffer[Long]()
    (0 until 40).foreach { i =>
      Manifest.append(
        spark.range(i * 10L, i * 10L + 10).toDF("id").coalesce(1),
        root, statsCols = Seq("id"))
      want ++= (i * 10L until i * 10L + 10)
    }
    // chain shape: chains bounded by checkpointEvery, almost every
    // commit a delta (fulls only at bootstrap — where a delta would not
    // be materially smaller — and at the forced 16-commit checkpoints),
    // chain length stepping +1 per delta and resetting at checkpoints
    val lens = (0L until 40L).map(v => Manifest.snapshot(spark, root, v).chainLen)
    assert(lens.forall(_ < 16), s"chain must stay bounded: $lens")
    assert(lens.count(_ == 0) <= 4, s"most commits must be deltas: $lens")
    lens.sliding(2).foreach { case Seq(p, n) =>
      assert(n == p + 1 || n == 0, s"chain steps +1 or checkpoints: $lens")
    }
    // delta manifests are O(batch) on disk: the newest delta (1 added
    // file) must be far smaller than the last full checkpoint (full
    // file list + stats)
    def manifestBytes(v: Long) =
      new java.io.File(f"$root/manifest/m$v%016d").length()
    val lastFull = lens.zipWithIndex.filter(_._1 == 0).map(_._2).max.toLong
    assert(lens(39).toInt != 0)
    assert(manifestBytes(39L) * 4 < manifestBytes(lastFull),
      s"delta v39 ${manifestBytes(39L)}B vs checkpoint v$lastFull ${manifestBytes(lastFull)}B")
    // resolution is exact across the whole history: content, row
    // counts, data skipping all answer through the reconstructed chain
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq == want.sorted.toSeq)
    assert(Manifest.countRows(spark, root) == 400L)
    assert(Manifest.readWhereBetween(spark, root, "id", 100L, 109L)
      .as[Long].collect().sorted.toSeq == (100L to 109L))
    val snap = Manifest.current(spark, root).get
    assert(Manifest.prunedFiles(snap, "id", 100L, 109L).size == 1,
      "skip index must stay sharp through delta resolution")
    // time travel into the middle of a chain
    assert(Manifest.readSnapshot(spark, root, Manifest.snapshot(spark, root, 20L))
      .count() == 210L)
    // equivalence: the same commits with checkpointEvery=1 (every
    // manifest full — the pre-incremental format) resolve to the same
    // table and the same per-file metadata
    val twin = newRoot("deltalog_full")
    Manifest.checkpointEvery = 1
    try {
      (0 until 40).foreach { i =>
        Manifest.append(
          spark.range(i * 10L, i * 10L + 10).toDF("id").coalesce(1),
          twin, statsCols = Seq("id"))
      }
    } finally Manifest.checkpointEvery = 16
    val a = Manifest.current(spark, root).get
    val b = Manifest.current(spark, twin).get
    assert(a.files.size == b.files.size)
    assert(a.rows.values.toSeq.sorted == b.rows.values.toSeq.sorted)
    assert(Manifest.read(spark, twin).as[Long].collect().sorted.toSeq ==
      want.sorted.toSeq)
  }

  test("incremental log: gc writes the checkpoint sidecar before dropping a retained delta's chain") {
    val root = newRoot("deltagc")
    (0 until 10).foreach(i => Manifest.append(
      spark.range(i * 5L, i * 5L + 5).toDF("id").coalesce(1), root,
      statsCols = Seq("id")))
    // v9 is a delta deep in a chain; gc to keepVersions=1 must leave it
    // fully readable with every older manifest gone
    assert(Manifest.snapshot(spark, root, 9L).chainLen == 8)
    Manifest.gc(spark, root, keepVersions = 1)
    assert(Manifest.versions(spark, root) == Seq(9L))
    assert(new java.io.File(f"$root/manifest/m${9L}%016d.cp").exists(),
      "gc must checkpoint the oldest retained delta")
    Manifest.clearSnapshotCache() // force a cold resolve through the sidecar
    assert(Manifest.snapshot(spark, root, 9L).chainLen == 0,
      "sidecar resolution is checkpoint-direct")
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq ==
      (0L until 50L))
    assert(Manifest.countRows(spark, root) == 50L)
    // the table keeps working: more deltas on top of the sidecar'd
    // version, another gc, content intact
    Manifest.append(spark.range(50L, 55L).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))
    Manifest.gc(spark, root, keepVersions = 1)
    Manifest.clearSnapshotCache()
    assert(Manifest.read(spark, root).as[Long].collect().sorted.toSeq ==
      (0L until 55L))
    // file-rewriting ops still publish full manifests mid-chain
    Manifest.compact(spark, root, rangeBy = Seq("id"))
    assert(Manifest.current(spark, root).get.chainLen == 0,
      "compact is a full checkpoint by construction")
  }

  test("appendMerge: adds columns with null backfill, pads omitted columns, rejects type changes") {
    val root = newRoot("evolve")
    Manifest.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root,
      statsCols = Seq("k"))
    // evolve: new column w arrives
    Manifest.appendMerge(Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("k", "v", "w"), root)
    val afterAdd = Manifest.read(spark, root)
    assert(afterAdd.columns.toSeq == Seq("k", "v", "w"),
      "new columns append after existing ones")
    assert(afterAdd.as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.0)), (4L, "d", Some(40.0))),
      "pre-evolution files read the new column as NULL")
    // evolve again: a batch OMITTING v gets typed-NULL padding
    Manifest.appendMerge(Seq((5L, 50.0)).toDF("k", "w"), root)
    assert(Manifest.read(spark, root).filter(col("k") === 5L)
      .as[(Long, Option[String], Option[Double])].head() == ((5L, None, Some(50.0))))
    // an unsafe type change rejects loudly
    val e = intercept[IllegalArgumentException](
      Manifest.appendMerge(Seq((6L, "oops")).toDF("k", "w"), root))
    assert(e.getMessage.contains("cannot reconcile"))
    // plain append now enforces the MERGED schema
    intercept[IllegalArgumentException](
      Manifest.append(Seq((7L, "x")).toDF("k", "v"), root))
    // read-modify-write across heterogeneous files: upsert a key living
    // in a pre-evolution file — the rewrite must read that file under
    // the merged schema
    Manifest.upsert(Seq((1L, "a2", 11.0)).toDF("k", "v", "w"), root, "k")
    assert(Manifest.read(spark, root).filter(col("k") === 1L)
      .as[(Long, String, Option[Double])].head() == ((1L, "a2", Some(11.0))))
    assert(Manifest.countRows(spark, root) == 5L)
    // the plain read uses the recorded merged schema
    assert(Manifest.read(spark, root).columns.toSeq == Seq("k", "v", "w"))
    assert(Manifest.read(spark, root).filter(col("w").isNull).count() == 1L)
    // overwrite re-records schema wholesale (shrink is legal there)
    Manifest.overwrite(Seq((9L, "z")).toDF("k", "v"), root)
    assert(Manifest.read(spark, root).columns.toSeq == Seq("k", "v"))
  }

  test("appendMerge type widening: int→long and float→double merge wide; old files read wide") {
    val root = newRoot("widen")
    Manifest.append(
      spark.range(0, 5).select(col("id").cast("int").as("k"),
        col("id").cast("float").as("x")).coalesce(1),
      root, statsCols = Seq("k"))
    // a batch arriving with the WIDER types evolves the table in place
    Manifest.appendMerge(
      spark.range(5, 10).select(col("id").as("k"),
        col("id").cast("double").as("x")).coalesce(1), root)
    val got = Manifest.read(spark, root)
    assert(got.schema("k").dataType.catalogString == "bigint")
    assert(got.schema("x").dataType.catalogString == "double")
    assert(got.as[(Long, Double)].collect().toSet ==
      (0L until 10L).map(i => (i, i.toDouble)).toSet,
      "pre-widening files must read wide losslessly")
    // a NARROWER later batch upcasts at staging (files stay uniform)
    Manifest.appendMerge(
      spark.range(10, 12).select(col("id").cast("int").as("k"),
        col("id").cast("float").as("x")).coalesce(1), root)
    assert(Manifest.read(spark, root).count() == 12L)
    assert(Manifest.countRows(spark, root) == 12L)
    // skip reads keep working across the mixed physical types
    assert(Manifest.readWhereBetween(spark, root, "k", 2L, 3L)
      .as[(Long, Double)].collect().map(_._1).sorted.toSeq == Seq(2L, 3L))
    // cross-family stays rejected
    intercept[IllegalArgumentException](Manifest.appendMerge(
      spark.range(0, 1).select(col("id").cast("int").as("k"),
        col("id").cast("int").as("x")).coalesce(1), root))
    ()
  }

  test("DV-aware countRows: metadata count survives an outstanding deletion vector") {
    val root = newRoot("dvcount")
    Manifest.append(spark.range(0, 100).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))
    Manifest.append(spark.range(100, 200).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))
    Manifest.deleteWhereBetweenDv(spark, root, "id", 10L, 19L)
    val s1 = Manifest.current(spark, root).get
    assert(Manifest.rowCount(s1).contains(190L),
      "count(*) must stay a metadata answer under a DV")
    assert(Manifest.countRows(spark, root) == 190L)
    // overlapping second delete re-derives some of the same (f, ri)
    // pairs — the recorded count must stay exact (the vector dedups)
    Manifest.deleteWhereBetweenDv(spark, root, "id", 15L, 24L)
    assert(Manifest.rowCount(Manifest.current(spark, root).get).contains(185L))
    // an append under the vector keeps the metadata answer
    Manifest.append(spark.range(200, 210).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))
    assert(Manifest.rowCount(Manifest.current(spark, root).get).contains(195L))
    // a file-rewriting commit strands stale entries: the metadata count
    // honestly withdraws (None) and the scan fallback stays exact
    Manifest.upsert(Seq(50L).toDF("id"), root, "id")
    val s2 = Manifest.current(spark, root).get
    assert(Manifest.rowCount(s2).isEmpty,
      "stale-entry states must fall back to a scan, not overcount")
    assert(Manifest.countRows(spark, root) == 195L)
    // full compaction applies the vector and restores metadata counts
    Manifest.compact(spark, root)
    assert(Manifest.rowCount(Manifest.current(spark, root).get).contains(195L))
  }

  test("upsert auto-retry: read-modify-write commits survive interleaved appends") {
    val root = newRoot("retry")
    Manifest.append(spark.range(0, 1000).toDF("id").coalesce(2), root,
      statsCols = Seq("id"))
    // a background writer appending while the foreground upserts: every
    // upsert that loses its planned parent re-plans (bounded) instead
    // of throwing — both writers' effects land
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try (0 until 5).foreach { i =>
        Manifest.append(
          spark.range(2000L + i * 10, 2000L + i * 10 + 10).toDF("id").coalesce(1),
          root, statsCols = Seq("id"))
      } catch { case t: Throwable => errs.add(t) }
    })
    appender.start()
    (0 until 5).foreach { i =>
      Manifest.upsert(Seq(i.toLong * 100).toDF("id"), root, "id")
    }
    appender.join()
    assert(errs.isEmpty, s"background appends failed: ${errs.peek()}")
    assert(Manifest.countRows(spark, root) == 1050L)
    assert(Manifest.read(spark, root).as[Long].collect().toSet ==
      ((0L until 1000L) ++ (2000L until 2050L)).toSet)
  }

  test("cross-process commit atomicity: a second driver JVM and this one interleave lossless commits") {
    val root = newRoot("xproc")
    Manifest.append(spark.range(0, 10).toDF("id").coalesce(1), root)
    val n = 12
    // second DRIVER: a separate JVM running the same commit protocol at
    // the same root — on raw local fs this only stays lossless because
    // the lock-file arbiter serializes exists+rename across processes
    val cp = System.getProperty("java.class.path")
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      "-Xmx2g", "graft.tools.CommitRace", root, "w2", n.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new StringBuilder
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(l => out.synchronized { out.append(l).append('\n') })
      finally src.close()
    })
    reader.start()
    // this driver commits concurrently
    (0 until n).foreach(i => Manifest.appendSynthetic(spark, root, Seq(s"w1_$i")))
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "second driver did not finish")
    reader.join(10000)
    assert(out.synchronized(out.toString).contains(s"[commitrace] w2 done $n"),
      s"second driver failed:\n$out")
    Manifest.clearSnapshotCache()
    val snap = Manifest.current(spark, root).get
    val got = snap.files.toSet
    val missing = ((0 until n).map(i => s"w1_$i") ++ (0 until n).map(i => s"w2_$i"))
      .filterNot(got)
    assert(missing.isEmpty, s"lost commits across processes: $missing")
    assert(snap.version == 2L * n, "every commit must have won exactly one version")
  }

  /** Spawn the second-driver commit hammer ([[graft.tools.CommitRace]])
    * and return (process, output buffer, reader thread). */
  private def raceChild(root: String, tag: String, n: Int, mode: String)
      : (Process, StringBuilder, Thread) = {
    val cp = System.getProperty("java.class.path")
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      "-Xmx2g", "graft.tools.CommitRace", root, tag, n.toString, mode)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new StringBuilder
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(l => out.synchronized { out.append(l).append('\n') })
      finally src.close()
    })
    reader.start()
    (proc, out, reader)
  }

  test("fencing at the commit point: cross-process commits lossless with NO lock arbiter (hard-link rename)") {
    val root = newRoot("fence")
    Manifest.append(spark.range(0, 10).toDF("id").coalesce(1), root)
    val saved = Manifest.arbiterFor
    val n = 10
    try {
      // strip ALL cross-process locking from BOTH drivers: losslessness
      // now rests entirely on the hard-link commit point — the
      // exists+rename pair this replaced is check-then-act and LOSES
      // manifests here (POSIX rename overwrites)
      Manifest.arbiterFor = _ => graft.store.RenameArbiter
      val (proc, out, reader) = raceChild(root, "nw2", n, "nolock")
      (0 until n).foreach(i => Manifest.appendSynthetic(spark, root, Seq(s"nw1_$i")))
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "second driver did not finish")
      reader.join(10000)
      assert(out.synchronized(out.toString).contains(s"[commitrace] nw2 done $n"),
        s"second driver failed:\n$out")
    } finally Manifest.arbiterFor = saved
    Manifest.clearSnapshotCache()
    val snap = Manifest.current(spark, root).get
    val got = snap.files.toSet
    val missing = ((0 until n).map(i => s"nw1_$i") ++ (0 until n).map(i => s"nw2_$i"))
      .filterNot(got)
    assert(missing.isEmpty, s"lost commits without a lock: $missing")
    assert(snap.version == 2L * n, "every commit must have won exactly one version")
  }

  test("slow-but-alive holder keeps its lock (heartbeat); commits serialize losslessly") {
    val root = newRoot("stall")
    Manifest.append(spark.range(0, 10).toDF("id").coalesce(1), root)
    val saved = Manifest.arbiterFor
    try {
      // the child stalls 2.5 s INSIDE its first commit's critical
      // section — well past the parent's 500 ms stale window. Its
      // HEARTBEAT keeps the lock's mtime fresh, so the parent must
      // WAIT (slow ≠ dead), not usurp; every commit from both sides
      // still lands, exactly once, with no lock debris. (The
      // dead-holder takeover path is the orphan-lock test below.)
      Manifest.arbiterFor = _ => new graft.store.LockFileArbiter(staleMs = 500L)
      val (proc, out, reader) = raceChild(root, "sw2", 3, "stall:2500")
      // wait until the child actually holds the lock (JVM+Spark startup)
      val lock = new java.io.File(s"$root/manifest/_commit.lock")
      val deadline = System.currentTimeMillis() + 120000L
      while (!lock.exists() && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      assert(lock.exists(), "child never acquired the commit lock")
      (0 until 6).foreach(i => Manifest.appendSynthetic(spark, root, Seq(s"sw1_$i")))
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        "second driver did not finish")
      reader.join(10000)
      assert(out.synchronized(out.toString).contains("[commitrace] sw2 done 3"),
        s"second driver failed:\n$out")
    } finally Manifest.arbiterFor = saved
    Manifest.clearSnapshotCache()
    val snap = Manifest.current(spark, root).get
    val got = snap.files.toSet
    val missing = ((0 until 6).map(i => s"sw1_$i") ++ (0 until 3).map(i => s"sw2_$i"))
      .filterNot(got)
    assert(missing.isEmpty, s"lost commits across the takeover: $missing")
    assert(snap.version == 9L, "every commit must have won exactly one version")
    val debris = new java.io.File(s"$root/manifest").listFiles()
      .filter(_.getName.startsWith("_commit.lock"))
    assert(debris.isEmpty, s"lock debris left behind: ${debris.map(_.getName).toSeq}")
  }

  test("orphan lock (dead holder, no heartbeat) is taken over after staleMs") {
    val root = newRoot("orphan")
    Manifest.append(spark.range(0, 10).toDF("id").coalesce(1), root)
    val saved = Manifest.arbiterFor
    try {
      Manifest.arbiterFor = _ => new graft.store.LockFileArbiter(staleMs = 500L)
      // a crashed holder's leftovers: a lock file nobody heartbeats,
      // mtime 10 s in the past
      val lock = new java.io.File(s"$root/manifest/_commit.lock")
      assert(lock.createNewFile())
      val w = new java.io.FileOutputStream(lock)
      try w.write("dead-holder-token".getBytes("UTF-8")) finally w.close()
      assert(lock.setLastModified(System.currentTimeMillis() - 10000L))
      val t0 = System.currentTimeMillis()
      Manifest.appendSynthetic(spark, root, Seq("after_crash"))
      val took = System.currentTimeMillis() - t0
      assert(took < 30000L, s"takeover should beat the acquire timeout, took ${took}ms")
      assert(Manifest.current(spark, root).get.files.contains("after_crash"))
      val debris = new java.io.File(s"$root/manifest").listFiles()
        .filter(_.getName.startsWith("_commit.lock"))
      assert(debris.isEmpty, s"lock debris left behind: ${debris.map(_.getName).toSeq}")
    } finally Manifest.arbiterFor = saved
  }

  test("heartbeat: a live holder past staleMs is never usurped (no critical-section overlap)") {
    val root = newRoot("beat")
    new java.io.File(root).mkdirs()
    val arb = new graft.store.LockFileArbiter(staleMs = 300L,
      acquireTimeoutMs = 30000L)
    val inside = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var overlap = false
    def guarded(holdMs: Long): Unit = arb.withCommitLock(root) {
      if (!inside.compareAndSet(false, true)) overlap = true
      Thread.sleep(holdMs)
      inside.set(false)
    }
    // A holds 4× the stale window; B arrives mid-hold. Pre-heartbeat,
    // B usurps at ~300 ms and the sections overlap.
    val a = new Thread(() => guarded(1200L))
    a.start()
    Thread.sleep(150L)
    val b = new Thread(() => guarded(50L))
    b.start()
    a.join(15000L); b.join(15000L)
    assert(!a.isAlive && !b.isAlive, "lock holders did not finish")
    assert(!overlap, "a live holder was usurped despite its heartbeat")
  }

  // Every data-writing op with a rival commit landing inside its own
  // publish — after it planned and staged, before it resolves its
  // parent: the window a concurrent writer hits. The commit-lock hook
  // fires the rival once. Oracle: the same rival, then the same op, run
  // one after the other on a copy of the same base table. An op that
  // publishes over the rival without re-planning loses its rows (or
  // resurrects its deletes); one that throws instead of re-planning
  // fails outright.
  private lazy val raceBase: String = {
    val root = newRoot("racebase")
    // four small interleaved files: each file's id box spans the table,
    // so every compaction (small, clustered, incremental) has work
    (0 until 4).foreach { i =>
      Manifest.append(spark.range(0, 100).filter(col("id") % 4 === i)
          .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v"))
          .coalesce(1), root, statsCols = Seq("id"))
    }
    root
  }

  private def copyOfBase(tag: String): String = {
    val to = newRoot(tag)
    val src = java.nio.file.Paths.get(raceBase)
    val dst = java.nio.file.Paths.get(to)
    val walk = Files.walk(src)
    try walk.forEach(p => { Files.copy(p, dst.resolve(src.relativize(p))); () })
    finally walk.close()
    to
  }

  private val raceRivals: Seq[(String, String => Any)] = Seq(
    "append of id 1000" -> (r => Manifest.append(Seq((1000L, "rival")).toDF("id", "v"), r)),
    "DV delete of ids 0-9" -> (r => Manifest.deleteWhereBetweenDv(spark, r, "id", 0L, 9L)))

  private val raceOps: Seq[(String, String => Any)] = Seq(
    "append" -> (r => Manifest.append(Seq((500L, "n")).toDF("id", "v"), r)),
    "appendOnce" -> (r => Manifest.appendOnce(Seq((500L, "n")).toDF("id", "v"), r, "w", 1L)),
    "appendMerge" -> (r => Manifest.appendMerge(Seq((500L, "n")).toDF("id", "v"), r)),
    "overwrite" -> (r => Manifest.overwrite(Seq((500L, "n")).toDF("id", "v"), r)),
    "overwriteOnce" -> (r =>
      Manifest.overwriteOnce(Seq((500L, "n")).toDF("id", "v"), r, "w", 1L)),
    "upsert" -> (r =>
      Manifest.upsert(Seq((5L, "u"), (500L, "n")).toDF("id", "v"), r, "id")),
    "upsertOnce" -> (r => Manifest.upsertOnce(
      Seq((5L, "u"), (500L, "n")).toDF("id", "v"), r, "id", "w", 1L)),
    "mergeInto" -> (r => Manifest.mergeInto(Seq((5L, "m")).toDF("id", "v"), r, "id",
      Map("v" -> "s.v"))),
    "deleteWhereBetween" -> (r => Manifest.deleteWhereBetween(spark, r, "id", 40L, 49L)),
    "replaceWhereBetween" -> (r => Manifest.replaceWhereBetween(
      Seq((50L, "r")).toDF("id", "v"), r, "id", 50L, 59L)),
    "replaceWhere" -> (r => Manifest.replaceWhere(
      Seq((60L, "r")).toDF("id", "v"), r, "id >= 60 AND id < 70")),
    "deleteWhereBetweenDv" -> (r => Manifest.deleteWhereBetweenDv(spark, r, "id", 20L, 29L)),
    "deleteWhereDv" -> (r => Manifest.deleteWhereDv(spark, r, "id >= 30 AND id < 35")),
    "compactSmall" -> (r => Manifest.compactSmall(spark, r)),
    "compact" -> (r => Manifest.compact(spark, r)),
    "compactClustered" -> (r => Manifest.compactClustered(spark, r, Seq("id"))),
    "compactClusteredIncremental" -> (r =>
      Manifest.compactClusteredIncremental(spark, r, Seq("id"))))

  for ((opName, op) <- raceOps)
    test(s"concurrent commit inside $opName's publish: re-planned, nothing lost") {
      def rows(r: String): Seq[(Long, String)] =
        Manifest.read(spark, r).as[(Long, String)].collect().toSeq.sorted
      for ((rivalName, rival) <- raceRivals) {
        val raced = copyOfBase("raced")
        val saved = Manifest.arbiterFor
        val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
        try {
          Manifest.arbiterFor = r => new graft.store.CommitArbiter {
            def withCommitLock[T](root: String)(body: => T): T = {
              if (root == raced && armed.compareAndSet(true, false)) rival(raced)
              saved(root).withCommitLock(root)(body)
            }
          }
          op(raced)
        } finally Manifest.arbiterFor = saved
        assert(!armed.get, s"$opName never published, so the $rivalName never ran")
        val serial = copyOfBase("serial")
        rival(serial)
        op(serial)
        val (got, want) = (rows(raced), rows(serial))
        assert(got == want, s"$opName raced by the $rivalName: lost " +
          s"${want.diff(got)}, gained ${got.diff(want)} vs the serial order")
      }
    }

  test("bloom probe hashes the column's SCAN type on plain-append tables (no recorded schema)") {
    val root = newRoot("bloomtype")
    // plain appends never record SchemaJsonKey; hash-split layout so
    // min/max stats can't prune a point probe — the bloom screen is
    // the only pruning layer, and it must hash LongType (the scan
    // type), not the probe literal's IntegerType
    (0 to 1).foreach { b =>
      Manifest.append(
        spark.range(0L, 2000L).toDF("id")
          .filter(pmod(xxhash64(col("id")), lit(2)) === b).coalesce(1),
        root, statsCols = Seq("id"))
    }
    Manifest.buildBloomIndex(spark, root, "id")
    assert(Manifest.current(spark, root).get.meta.get(Manifest.SchemaJsonKey).isEmpty,
      "fixture must be a plain-append table (no recorded schema)")
    assert(Manifest.readWhereEquals(spark, root, "id", 42).count() == 1L,
      "Int probe against the Long column silently lost the row")
    assert(Manifest.readWhereEquals(spark, root, "id", 42L).count() == 1L)
    assert(Manifest.readWhereIn(spark, root, "id", Seq(7, 9L, 4000)).count() == 2L,
      "mixed-width IN probe silently lost rows")
  }

  test("appendMerge: concurrent column additions both land (planned-parent re-merge)") {
    val root = newRoot("mergerace")
    Manifest.append(spark.range(0, 10).toDF("id").coalesce(1), root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def adder(c: String): Thread = new Thread(() => {
      try {
        barrier.await()
        Manifest.appendMerge(
          spark.range(10, 15).toDF("id")
            .withColumn(c, concat(lit(c), col("id"))).coalesce(1), root)
        ()
      } catch { case t: Throwable => errs.add(t); () }
    })
    val (t1, t2) = (adder("a"), adder("b"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"concurrent appendMerge failed: ${errs.peek()}")
    Manifest.clearSnapshotCache()
    // the LOSER re-planned against the winner's snapshot, so the final
    // recorded schema carries BOTH new columns — the pre-fix interleave
    // recorded only the loser's, silently hiding the winner's data
    val df = Manifest.read(spark, root)
    assert(df.schema.fieldNames.toSet == Set("id", "a", "b"))
    assert(df.filter(col("a").isNotNull).count() == 5L)
    assert(df.filter(col("b").isNotNull).count() == 5L)
    assert(df.count() == 20L)
  }

  test("appendMerge: nested struct fields add/omit/widen; old files read nested NULL everywhere; cross-type rejects") {
    val root = newRoot("nested")
    val s0 = spark.range(0, 5).toDF("id")
      .withColumn("meta", struct(col("id").cast("int").as("a")))
    Manifest.appendMerge(s0, root, statsCols = Seq("id"))
    // ADD meta.b (string) and WIDEN meta.a int→long in one batch
    val s1 = spark.range(5, 10).toDF("id")
      .withColumn("meta", struct(col("id").as("a"),
        concat(lit("x"), col("id")).as("b")))
    Manifest.appendMerge(s1, root, statsCols = Seq("id"))
    val df = Manifest.read(spark, root)
    val metaT = df.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaT.fieldNames.toSeq == Seq("a", "b"))
    assert(metaT("a").dataType == org.apache.spark.sql.types.LongType,
      "nested int→long widening must be recorded")
    // old files (ids 0–4) read meta.b as NULL through the plain read
    val got = df.select(col("id"), col("meta.a").as("a"), col("meta.b").as("b"))
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(got == (0L until 5L).map(i => (i, i, null)) ++
      (5L until 10L).map(i => (i, i, s"x$i")))
    // OMIT the nested field again: padded as typed NULL
    Manifest.appendMerge(
      spark.range(10, 12).toDF("id")
        .withColumn("meta", struct(col("id").cast("int").as("a"))), root)
    assert(Manifest.read(spark, root)
      .filter(col("id") >= 10 && col("meta.b").isNull).count() == 2L)
    // ... and old files still read it as NULL after the omitting append
    val viaPlanner = Manifest.read(spark, root)
      .filter(col("id") < 5).select("meta.b").collect()
    assert(viaPlanner.forall(_.isNullAt(0)),
      "planner scan must read pre-evolution nested field as NULL")
    // ... and through an upsert's touched-file rewrite across
    // heterogeneous files
    Manifest.upsert(
      spark.range(0, 1).toDF("id")
        .withColumn("meta", struct(lit(99L).as("a"), lit("z").as("b"))),
      root, "id")
    val after = Manifest.read(spark, root)
      .select(col("id"), col("meta.a").as("a"), col("meta.b").as("b"))
      .orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(after.head == ((0L, 99L, "z")))
    assert(after.size == 12)
    // a nested cross-family type change still rejects loudly
    intercept[IllegalArgumentException] {
      Manifest.appendMerge(
        spark.range(12, 13).toDF("id")
          .withColumn("meta", struct(lit("oops").as("a"))), root)
    }
  }

  test("materializedAggStep survives gc outpacing its cursor: full-recompute re-baseline") {
    val src = newRoot("mvgc_src"); val dst = newRoot("mvgc_dst")
    def rows(a: Long, b: Long) = spark.range(a, b).toDF("id")
      .withColumn("k", expr("CAST(id DIV 25 AS BIGINT)"))
      .withColumn("v", col("id") * 3)
    val aggs = Seq(("n", "count", ""), ("sv", "sum", "v"))
    def pump() = graft.streaming.StreamOps.materializedAggStep(
      spark, src, dst, "mv", "k", aggs)
    Manifest.append(rows(0, 50).coalesce(1), src, statsCols = Seq("id"))
    assert(pump().contains(0L)) // bootstrap, watermark = 0
    // the source races ahead: append + upsert + DV delete...
    Manifest.append(rows(50, 100).coalesce(1), src, statsCols = Seq("id"))
    Manifest.upsert(rows(10, 20).withColumn("v", col("v") * 2), src, "id")
    Manifest.deleteWhereBetweenDv(spark, src, "id", 50L, 59L)
    // ...and retention outpaces the watermark
    Manifest.gc(spark, src, keepVersions = 1, orphanMinAgeMs = 0L)
    assert(Manifest.versions(spark, src) == Seq(3L))
    // the pump RE-BASELINES (full recompute, the view's own contract)
    // instead of throwing; watermark and rows move in one commit
    assert(pump().contains(3L))
    val expect = Manifest.read(spark, src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def view(): Set[(Long, Long, Long)] = Manifest.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(view() == expect)
    assert(pump().isEmpty) // converged
    // exact incremental folding resumes from the new baseline
    Manifest.append(rows(100, 125).coalesce(1), src, statsCols = Seq("id"))
    assert(pump().contains(4L))
    val expect2 = Manifest.read(spark, src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(view() == expect2)
  }

  test("materializedAggStep: retracting source — signed fold, min/max recount, zero-count eviction, guards") {
    val src = newRoot("rvsrc"); val dst = newRoot("rvdst")
    def rows(a: Long, b: Long) = spark.range(a, b).toDF("id")
      .withColumn("k", expr("CAST(id DIV 25 AS BIGINT)"))
      .withColumn("v", col("id") * 3)
    val aggs = Seq(("n", "count", ""), ("sv", "sum", "v"),
      ("mn", "min", "v"), ("mx", "max", "v"))
    def pump() = graft.streaming.StreamOps.materializedAggStep(
      spark, src, dst, "mv", "k", aggs)
    Manifest.append(rows(0, 100).coalesce(1), src, statsCols = Seq("id"))
    assert(pump().contains(0L)) // bootstrap
    // UPDATE (touched-file merge): v doubled for ids 10..19
    Manifest.upsert(rows(10, 20).withColumn("v", col("v") * 2), src, "id")
    // DELETE (deletion-vector form): ids 50..59
    Manifest.deleteWhereBetweenDv(spark, src, "id", 50L, 59L)
    // DELETE (rewrite form): ids 0..24 — group k=0 vanishes ENTIRELY
    Manifest.deleteWhereBetween(spark, src, "id", 0L, 24L)
    assert(pump().isDefined) // ONE retracting fold over all three
    assert(pump().isEmpty)   // no-op
    def view() = Manifest.read(spark, dst).orderBy("k")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = Manifest.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("v").as("mn"), max("v").as("mx"))
      .orderBy("k").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(view() == want, "retracting fold diverged from the full recompute")
    assert(!view().exists(_._1 == 0L),
      "zero-count group must be EVICTED, not kept as a zeroed husk")
    // multi-pump guard: a second writer id on the same view fails loud
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.materializedAggStep(
        spark, src, dst, "mv2", "k", aggs)
    }
    assert(e.getMessage.contains("owned by pump"))
    // a retracting delta against a view WITHOUT a count aggregate
    // rejects loudly (liveness undecidable)
    val src2 = newRoot("rvsrc2"); val dst2 = newRoot("rvdst2")
    Manifest.append(rows(0, 50).coalesce(1), src2, statsCols = Seq("id"))
    val sumOnly = Seq(("sv", "sum", "v"))
    graft.streaming.StreamOps.materializedAggStep(
      spark, src2, dst2, "mv", "k", sumOnly)
    Manifest.deleteWhereBetween(spark, src2, "id", 0L, 9L)
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.materializedAggStep(
        spark, src2, dst2, "mv", "k", sumOnly)
    }
    assert(e2.getMessage.contains("count"))
    // NULL source keys reject loudly instead of forking duplicate rows
    val src3 = newRoot("rvsrc3"); val dst3 = newRoot("rvdst3")
    Manifest.append(rows(0, 10)
      .withColumn("k", when(col("id") === 5L, lit(null)).otherwise(col("k")))
      .coalesce(1), src3)
    val e3 = intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.materializedAggStep(
        spark, src3, dst3, "mv", "k", aggs)
    }
    assert(e3.getMessage.contains("NULL"))
  }

  test("materializedAggStep: a compaction-only window advances the watermark metadata-only") {
    val src = newRoot("cpsrc"); val dst = newRoot("cpdst")
    def rows(a: Long, b: Long) = spark.range(a, b).toDF("id")
      .withColumn("k", expr("CAST(id DIV 25 AS BIGINT)"))
      .withColumn("v", col("id") * 3)
    val aggs = Seq(("n", "count", ""), ("sv", "sum", "v"))
    def pump() = graft.streaming.StreamOps.materializedAggStep(
      spark, src, dst, "mv", "k", aggs)
    Manifest.append(rows(0, 50).coalesce(1), src, statsCols = Seq("id"))
    Manifest.append(rows(50, 100).coalesce(1), src, statsCols = Seq("id"))
    assert(pump().contains(1L)) // bootstrap
    val viewFiles = Manifest.current(spark, dst).get.files
    // a compaction rewrites every file (NOT append-only) but preserves
    // logical content: the pump must advance without staging view bytes
    Manifest.compact(spark, src, targetBytes = 1L << 20)           // v2
    assert(pump().contains(2L))
    assert(Manifest.lastTxn(spark, dst, "mv").contains(2L))
    assert(Manifest.current(spark, dst).get.files == viewFiles,
      "a content-preserving window must not stage view bytes")
    // the fold path still works after the metadata advance
    Manifest.deleteWhereBetween(spark, src, "id", 0L, 24L)         // v3
    assert(pump().contains(3L))
    val got = Manifest.read(spark, dst).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    val want = Manifest.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("k").as[(Long, Long, Long)].collect().toSeq
    assert(got == want, "post-skip fold diverged from the full recompute")
  }

  test("contentPreservingSince: compaction/index windows answer true, data commits false") {
    val root = newRoot("cpops")
    Manifest.append(spark.range(0, 40).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))                                        // v0
    Manifest.append(spark.range(40, 80).toDF("id").coalesce(1), root,
      statsCols = Seq("id"))                                        // v1
    Manifest.compact(spark, root, targetBytes = 1L << 20)           // v2
    assert(Manifest.contentPreservingSince(spark, root, 1L,
      Manifest.current(spark, root).get))
    Manifest.upsert(spark.range(0, 5).toDF("id"), root, "id")       // v3
    assert(!Manifest.contentPreservingSince(spark, root, 1L,
      Manifest.current(spark, root).get),
      "a window containing an upsert is not content-preserving")
    assert(!Manifest.contentPreservingSince(spark, root, 0L,
      Manifest.snapshot(spark, root, 2L)),
      "an append inside the window is not content-preserving")
  }

  test("bloom index: point lookups skip files min/max can't prune; stale coverage stays conservative") {
    val root = newRoot("bloom")
    // HASH-split layout: every file's id range spans the whole table,
    // so the [min, max] stats are useless for point lookups BY DESIGN
    (0 to 3).foreach { b =>
      Manifest.append(
        spark.range(0L, 4000L).toDF("id")
          .filter(pmod(xxhash64(col("id")), lit(4)) === b)
          .withColumn("v", col("id") * 10).coalesce(1),
        root, statsCols = Seq("id"))
    }
    Manifest.buildBloomIndex(spark, root, "id")

    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
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

    // stats alone keep all 4 files (every range intersects); the bloom
    // prunes to the file(s) whose sketch might contain the key
    val probe = Manifest.readWhereEquals(spark, root, "id", 1234L)
    assert(probe.as[(Long, Long)].collect().toSeq == Seq((1234L, 12340L)))
    val n = scanned(Manifest.readWhereEquals(spark, root, "id", 1234L))
    assert(n < 4 && n >= 1, s"bloom should skip files, scanned $n of 4")
    // an absent key reads no rows (usually zero files)
    assert(Manifest.readWhereEquals(spark, root, "id", 999999L).count() == 0L)
    // a post-build append is unscreened by the bloom but still found
    Manifest.append(Seq((777777L, 1L)).toDF("id", "v").coalesce(1),
      root, statsCols = Seq("id"))
    assert(Manifest.readWhereEquals(spark, root, "id", 777777L)
      .as[(Long, Long)].collect().toSeq == Seq((777777L, 1L)))
    // rebuild covers it; gc sweeps the superseded sidecar, keeps the live one
    Manifest.buildBloomIndex(spark, root, "id")
    Manifest.gc(spark, root, keepVersions = 1, orphanMinAgeMs = 0L)
    val f = new java.io.File(new java.net.URI(s"file:$root/bloom"))
    assert(f.listFiles().length == 1, f.listFiles().mkString(","))
    assert(Manifest.readWhereEquals(spark, root, "id", 777777L).count() == 1L)
    // multi-value lookup: ONE scan of the union candidate set, same
    // bloom screen per value, absent values contribute nothing
    val in = Manifest.readWhereIn(spark, root, "id",
        Seq(1234L, 777777L, 999999L))
      .as[(Long, Long)].collect().toSet
    assert(in == Set((1234L, 12340L), (777777L, 1L)), in.toString)
    val nIn = scanned(Manifest.readWhereIn(spark, root, "id",
      Seq(1234L, 999999L)))
    assert(nIn < 5 && nIn >= 1, s"IN probe scanned $nIn of 5")
  }

  test("upsertOnce: racing same-txn merges commit exactly once, interleaved with appends") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val root = newRoot("uponce")
      Manifest.append(
        spark.range(0L, 100L).toDF("id").withColumn("v", lit(0L)),
        root, statsCols = Seq("id"))
      // 6 threads race the SAME logical fold (writer, txn=1): exactly
      // one commits — the skip check re-raced against the pinned parent
      // is what stops a double-apply
      val batch = spark.range(0L, 50L).toDF("id").withColumn("v", lit(1L))
      val reps = (0 until 6).map(_ => Future {
        Manifest.upsertOnce(batch, root, "id", "mv", 1L)
      })
      val outcomes = Await.result(Future.sequence(reps), 180.seconds)
      assert(outcomes.count(_._2) == 1,
        s"exactly one racing fold must commit: $outcomes")
      val got = Manifest.read(spark, root).as[(Long, Long)].collect().toMap
      assert(got == (0L until 100L).map(i => i -> (if (i < 50) 1L else 0L)).toMap,
        "a double-applied fold would have produced the same rows here, " +
          "but version history below proves single application")
      // the txn landed once: watermark recorded, version advanced by 1
      assert(Manifest.lastTxn(spark, root, "mv").contains(1L))
      assert(Manifest.current(spark, root).get.version == 1L)
      // a replay AFTER the fact skips without touching the table
      assert(!Manifest.upsertOnce(batch, root, "id", "mv", 1L)._2)
      assert(Manifest.current(spark, root).get.version == 1L)
      // and an interleaved append forcing a planned-parent conflict
      // still lets a NEWER txn re-plan and land
      val f1 = Future { Manifest.append(
        spark.range(200L, 220L).toDF("id").withColumn("v", lit(9L)), root) }
      val f2 = Future { Manifest.upsertOnce(
        spark.range(0L, 10L).toDF("id").withColumn("v", lit(2L)),
        root, "id", "mv", 2L) }
      Await.result(Future.sequence(Seq(f1.map(_ => ()), f2.map(_ => ()))),
        180.seconds)
      assert(Manifest.lastTxn(spark, root, "mv").contains(2L))
      assert(Manifest.read(spark, root).count() == 120L)
      assert(Manifest.read(spark, root).filter(col("v") === 2L).count() == 10L)
    } finally { pool.shutdown(); () }
  }

  test("fully-covered files drop metadata-only; null-keyed rows force the rewrite") {
    val root = newRoot("fullcover")
    (0L to 2L).foreach(i => Manifest.append(
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("v", col("id") * 2).coalesce(1),
      root, statsCols = Seq("id")))
    val before = Manifest.current(spark, root).get
    val file1 = before.files.find(f =>
      before.stats(f)("id")._1 match { case lo: Long => lo == 100L; case _ => false }).get
    // the range covers file 1 EXACTLY (stats-proven, zero nulls):
    // it must vanish with NO new file staged — a pure metadata commit
    Manifest.deleteWhereBetween(spark, root, "id", 100L, 199L)
    val after = Manifest.current(spark, root).get
    assert(after.files.toSet == before.files.toSet - file1,
      s"metadata-only drop staged files: ${after.files.diff(before.files)}")
    assert(Manifest.read(spark, root).count() == 200L)
    assert(Manifest.rowCount(after).contains(200L))

    // a file CONTAINING NULL KEYS is not provably covered — nulls
    // survive a range delete, so the file must be rewritten, not dropped
    val root2 = newRoot("fullcover_null")
    Manifest.append(
      spark.range(0L, 100L).toDF("i")
        .select(when(col("i") === 50L, lit(null)).otherwise(col("i"))
          .cast("long").as("id"))
        .withColumn("v", lit(1L)).coalesce(1),
      root2, statsCols = Seq("id"))
    Manifest.append(
      spark.range(100L, 200L).toDF("id").withColumn("v", lit(2L)).coalesce(1),
      root2, statsCols = Seq("id"))
    Manifest.deleteWhereBetween(spark, root2, "id", 0L, 99L)
    val got = Manifest.read(spark, root2)
    assert(got.count() == 101L)
    assert(got.filter(col("id").isNull).count() == 1L,
      "the null-keyed row must survive the range delete")
  }

  test("replaceWhere (general predicate): swap matching rows in one commit; NULL rows survive") {
    val root = newRoot("rwgen")
    Manifest.append(
      spark.range(0L, 100L).toDF("id")
        .withColumn("v", when(col("id") === 7L, lit(null))
          .otherwise(col("id") % 10L).cast("long")).coalesce(1),
      root, statsCols = Seq("id"))
    Manifest.append(
      spark.range(100L, 200L).toDF("id")
        .withColumn("v", (col("id") % 10L).cast("long")).coalesce(1),
      root, statsCols = Seq("id"))
    val before = Manifest.current(spark, root).get
    val batch = spark.range(1000L, 1005L).toDF("id").withColumn("v", lit(3L))
    val v = Manifest.replaceWhere(batch, root, "v = 3")
    assert(v == before.version + 1, "general replace must be ONE commit")
    val got = Manifest.read(spark, root)
    // 20 v=3 rows swapped for the 5 batch rows; the NULL-v row is NOT
    // replaced (NULL predicate = keep); everything else untouched
    assert(got.count() == 185L)
    assert(got.filter(col("v") === 3L).select("id").as[Long].collect().sorted
      .toSeq == (1000L until 1005L))
    assert(got.filter(col("v").isNull).select("id").as[Long].collect()
      .toSeq == Seq(7L))
    // a batch row violating the predicate rejects loudly
    intercept[IllegalArgumentException] {
      Manifest.replaceWhere(
        spark.range(0L, 1L).toDF("id").withColumn("v", lit(4L)),
        root, "v = 3")
    }
  }

  test("maybeRefreshBloomIndex: rebuilds only when coverage decays") {
    val root = newRoot("bloomauto")
    (0 to 3).foreach { b =>
      Manifest.append(
        spark.range(0L, 2000L).toDF("id")
          .filter(pmod(xxhash64(col("id")), lit(4)) === b)
          .withColumn("v", col("id")).coalesce(1),
        root, statsCols = Seq("id"))
    }
    // no index yet: the valve builds one
    assert(Manifest.maybeRefreshBloomIndex(spark, root, "id"))
    assert(!Manifest.maybeRefreshBloomIndex(spark, root, "id"),
      "full coverage must not rebuild")
    // three post-build appends: coverage 4/7 < 0.7 → rebuild
    (0 to 2).foreach(i => Manifest.append(
      spark.range(3000L + i, 3001L + i).toDF("id")
        .withColumn("v", col("id")).coalesce(1),
      root, statsCols = Seq("id")))
    assert(Manifest.maybeRefreshBloomIndex(spark, root, "id"))
    assert(!Manifest.maybeRefreshBloomIndex(spark, root, "id"))
    assert(Manifest.readWhereEquals(spark, root, "id", 3001L).count() == 1L)
  }

  test("materializedAggStep: bootstrap, multi-commit delta fold, replay skip — equals the full recompute") {
    val src = newRoot("mvsrc"); val dst = newRoot("mvdst")
    def rows(a: Long, b: Long) = spark.range(a, b).toDF("id")
      .withColumn("k", col("id") % 7).withColumn("v", col("id") * 3)
    val aggs = Seq(("n", "count", ""), ("sv", "sum", "v"),
      ("mn", "min", "v"), ("mx", "max", "v"))
    def pump() = graft.streaming.StreamOps.materializedAggStep(
      spark, src, dst, "mv", "k", aggs)
    assert(pump().isEmpty) // no source yet
    Manifest.append(rows(0, 100), src)
    assert(pump().contains(0L)) // bootstrap aggregates the full snapshot
    Manifest.append(rows(100, 150), src)
    Manifest.append(rows(150, 300), src)
    assert(pump().contains(2L)) // ONE step folds both pending commits
    assert(pump().isEmpty)      // up to date: no-op
    def view() = Manifest.read(spark, dst).orderBy("k")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val want = rows(0, 300).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
        min("v").as("mn"), max("v").as("mx"))
      .orderBy("k").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(view() == want)
    // a lagging pump re-applying the final delta must NOT double-count:
    // the view's own rows re-merged under the already-recorded txn skip
    val (_, committed) = Manifest.upsertOnce(
      Manifest.read(spark, dst), dst, "k", "mv", 2L)
    assert(!committed, "replayed txn must skip")
    assert(view() == want)
    // unsupported kind rejects loudly (avg is not insert-only-mergeable)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.materializedAggStep(
        spark, src, dst, "mv", "k", Seq(("a", "avg", "v")))
    }
  }

  test("replaceWhereBetween: one atomic commit re-lands a slab; untouched files carried; contract enforced") {
    val root = newRoot("replace")
    (0L to 3L).foreach(i => Manifest.append(
      spark.range(i * 100, (i + 1) * 100).toDF("id")
        .withColumn("v", col("id") * 10).coalesce(1),
      root, statsCols = Seq("id")))
    val before = Manifest.current(spark, root).get
    assert(before.files.size == 4)
    // backfill [100, 250]: file 1 fully replaced, file 2 clipped; the
    // re-landed slab keeps only even keys, values restated
    val backfill = spark.range(100L, 251L).toDF("id")
      .filter(col("id") % 2 === 0)
      .withColumn("v", col("id") * -1)
    val v = Manifest.replaceWhereBetween(backfill, root, "id", 100L, 250L)
    assert(v == before.version + 1, "replace must be ONE commit, not delete+append")
    val after = Manifest.current(spark, root).get
    val got = Manifest.read(spark, root).as[(Long, Long)].collect().toMap
    val expected =
      (0L until 100L).map(i => i -> i * 10).toMap ++
      (100L to 250L by 2).map(i => i -> -i).toMap ++
      (251L until 400L).map(i => i -> i * 10).toMap
    assert(got == expected, s"${got.size} vs ${expected.size}")
    // files 0 and 3 carried through by identity
    val keptOld = before.files.filter(after.files.contains)
    assert(keptOld.size == 2, s"expected 2 untouched files, kept $keptOld")
    assert(Manifest.rowCount(after).contains(expected.size.toLong))
    assert(after.meta(Manifest.OpKey) == "replaceWhere")
    // a batch row OUTSIDE the replaced range rejects loudly
    intercept[IllegalArgumentException] {
      Manifest.replaceWhereBetween(Seq((99L, 0L)).toDF("id", "v"),
        root, "id", 100L, 250L)
    }
    // schema drift rejects (replace is not the schema-change path)
    intercept[IllegalArgumentException] {
      Manifest.replaceWhereBetween(Seq((100L, "x")).toDF("id", "v"),
        root, "id", 100L, 250L)
    }
    // an empty batch is a pure slab delete through the same commit
    Manifest.replaceWhereBetween(
      spark.range(0L, 0L).toDF("id").withColumn("v", col("id")),
      root, "id", 300L, 399L)
    assert(Manifest.read(spark, root).count() == expected.size - 100L)
  }

  test("rightSized floors the coalesce target at leaf scan bytes (deflated-estimate guard)") {
    val dir = TempDirs.create("graft_rightsized").toString
    // incompressible-ish wide rows so the parquet bytes are real
    spark.range(0, 5000)
      .select(col("id"), expr("repeat(md5(cast(id as string)), 30)").as("text"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val fileBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(fileBytes > 256 * 1024, s"fixture too small: $fileBytes")
    val target = 64L * 1024
    // a narrow projection deflates the width-ratio estimate below the
    // files' real bytes — the hazard class: coalesce on a filter-only
    // rewrite narrows the whole scan stage, so the target must never
    // drop below one writer per targetBytes of leaf scan bytes
    val t = Manifest.rightSizedTarget(back.select(col("id"))
      .filter(col("id") >= 0L), target).get
    assert(t >= (fileBytes / target).toInt,
      s"coalesce target $t below the scan-bytes floor ${fileBytes / target}")
    // a kilobyte-scale fold still collapses to one file (the r18 win)
    val tiny = Manifest.rightSizedTarget(
      spark.range(0, 10).toDF("id"), 64L * 1024 * 1024).get
    assert(tiny == 1)
  }
}

/** Static hook for the mergeInto race test — a UDF closure must not
  * capture non-serializable latches/threads, so the rival-commit
  * action routes through module state. */
object MergeRaceHolder {
  val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var fire: () => Unit = () => ()
}
