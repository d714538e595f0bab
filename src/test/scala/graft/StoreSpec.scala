package graft

import org.apache.spark.sql.functions._

import graft.store.Store

/** Managed-table catalog: overwrite-idempotence, append, partitioned
  * fact, partition pruning. */
class StoreSpec extends SparkTestBase {
  import spark.implicits._

  test("overwrite is idempotent (the TRUNCATE+reload contract)") {
    Store.ensureDatabase(spark, "graft_test")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Store.overwrite(df, "t_overwrite")
    Store.overwrite(df, "t_overwrite")
    assert(Store.table(spark, "t_overwrite").count() == 2)
    Store.drop(spark, "t_overwrite")
  }

  test("append adds rows") {
    Store.ensureDatabase(spark, "graft_test")
    val df = Seq((1L, "a")).toDF("id", "v")
    Store.overwrite(df, "t_append")
    Store.append(df, "t_append")
    assert(Store.table(spark, "t_append").count() == 2)
    Store.drop(spark, "t_append")
  }

  test("co-bucketed tables join without a shuffle on either side") {
    Store.ensureDatabase(spark, "graft_test")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Store.overwriteBucketed(orders, "b_orders", Seq("o_orderkey"), 4)
    Store.overwriteBucketed(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", Seq("o_orderkey"), 4)
    val joined = spark.sql(
      """SELECT /*+ MERGE(b_orders) */ o.o_orderkey, l.l_quantity
        |FROM b_orders o JOIN b_lineitem l USING (o_orderkey)""".stripMargin)
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    Store.drop(spark, "b_orders"); Store.drop(spark, "b_lineitem")
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    Store.ensureDatabase(spark, "graft_test")
    // a crashed run leaves files without a catalog entry (the test
    // catalog is in-memory, the warehouse is on disk) — clear the
    // orphaned locations or CTAS refuses with LOCATION_ALREADY_EXISTS
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    Seq("fact_dpp", "dim_dpp").foreach { t =>
      Store.drop(spark, t)
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/graft_test.db/$t")
      if (loc.exists) rm(loc)
    }
    val fact = spark.range(1000)
      .selectExpr("id AS k", "CAST(id % 5 AS INT) AS year", "id * 1.0 AS v")
    Store.overwrite(fact, "fact_dpp", partitionBy = Seq("year"))
    // the dim must be a STORED table: an inline Seq dim gets collapsed by
    // ConvertToLocalRelation, the Filter node disappears, and the DPP
    // rule's selectivity check never sees a predicate to prune with
    Store.overwrite(spark.range(5)
      .selectExpr("CAST(id AS INT) AS year", "CAST(2020 + id AS INT) AS label_year"), "dim_dpp")
    val joined = Store.table(spark, "fact_dpp")
      .join(broadcast(Store.table(spark, "dim_dpp").filter(col("label_year") === 2024)), "year")
    assert(joined.count() == 200)
    val p = joined.queryExecution.executedPlan.toString
    // the fact scan's PartitionFilters must carry a runtime pruning
    // subquery fed by the dim — only year=4 files are read
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$p")
    Store.drop(spark, "fact_dpp"); Store.drop(spark, "dim_dpp")
  }

  test("partitioned fact table gets partition-pruned scans") {
    Store.ensureDatabase(spark, "graft_test")
    val fact = Seq((1L, 2023, 10.0), (2L, 2023, 20.0), (3L, 2024, 30.0))
      .toDF("product_sk", "year", "value")
    Store.overwrite(fact, "fact_part", partitionBy = Seq("year"))
    val pruned = Store.table(spark, "fact_part").filter(col("year") === 2024)
    assert(pruned.count() == 1)
    val plan = pruned.queryExecution.executedPlan.toString
    // the 2023 partition must not be scanned
    assert(plan.contains("PartitionFilters") || !plan.contains("year=2023"),
      s"partition pruning missing in plan:\n$plan")
    Store.drop(spark, "fact_part")
  }

  test("compact rewrites a sprawled table into few files, preserving data") {
    Store.ensureDatabase(spark, "graft_test")
    val df = spark.range(1000).selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    df.repartition(20).write.mode("overwrite").format("parquet").saveAsTable("t_sprawl")
    val before = spark.table("t_sprawl").inputFiles.length
    assert(before >= 20, s"setup should sprawl, got $before files")
    val want = spark.table("t_sprawl").orderBy("id").collect().toSeq
    Store.compact(spark, "t_sprawl") // tiny table -> one target file
    val after = spark.table("t_sprawl").inputFiles.length
    assert(after < before && after <= 2, s"still sprawled: $after files")
    assert(spark.table("t_sprawl").orderBy("id").collect().toSeq == want)
    // idempotent: compacting a compact table keeps data + file count sane
    Store.compact(spark, "t_sprawl")
    assert(spark.table("t_sprawl").orderBy("id").collect().toSeq == want)
    Store.drop(spark, "t_sprawl")
  }

  test("compact on a partitioned table compacts per partition, pruning metadata intact") {
    Store.ensureDatabase(spark, "graft_test")
    val df = spark.range(300).selectExpr("id", "CAST(id % 3 AS STRING) AS part")
    // sprawl each partition: 10 writers x 3 partitions
    df.repartition(10).write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable("t_parted")
    val before = spark.table("t_parted").inputFiles.length
    assert(before >= 15, s"setup should sprawl, got $before files")
    val want = spark.table("t_parted").orderBy("id").collect().toSeq
    Store.compact(spark, "t_parted")
    // one file per partition (tiny partitions), same rows
    val after = spark.table("t_parted").inputFiles.length
    assert(after <= 3, s"still sprawled: $after files")
    assert(spark.table("t_parted").orderBy("id").collect().toSeq == want)
    // the partition spec and pruning survived: catalog still lists the
    // partitions, and a filtered scan carries partition filters
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_parted"))
    assert(meta.partitionColumnNames == Seq("part"), meta.partitionColumnNames)
    val pruned = spark.table("t_parted").filter(col("part") === "2")
    assert(pruned.count() == 100)
    assert(pruned.inputFiles.length == 1, "partition pruning should read one file")
    // overwrite-mode conf was restored
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .exists(_.equalsIgnoreCase("dynamic")) ||
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").isEmpty)
    Store.drop(spark, "t_parted")
  }

  test("fileReport flags sprawled partitions; compact clears the flag") {
    Store.ensureDatabase(spark, "graft_test")
    val df = spark.range(300).selectExpr("id", "CAST(id % 3 AS STRING) AS part")
    df.repartition(10).write.mode("overwrite").format("parquet")
      .partitionBy("part").saveAsTable("t_report")
    try {
      // tiny files against a 1-byte target are NOT flagged (target count
      // >= file count); against the default 128MB target they are
      val relaxed = Store.fileReport(spark, "t_report", targetBytes = 1L)
      assert(relaxed.count() == 3)
      assert(relaxed.filter(col("needs_compaction")).count() == 0, "bytes justify the files")
      val before = Store.fileReport(spark, "t_report")
        .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
      assert(before.map(_._1).toSeq == Seq("part=0", "part=1", "part=2"))
      assert(before.forall(r => r._2 >= 5 && r._4), s"expected sprawl flagged: ${before.toSeq}")
      assert(before.forall(_._3 > 0))
      Store.compact(spark, "t_report")
      val after = Store.fileReport(spark, "t_report")
        .as[(String, Long, Long, Boolean)].collect()
      assert(after.forall(r => r._2 == 1 && !r._4), s"compact should clear: ${after.toSeq}")
      // unpartitioned: one total row, partition name empty
      spark.range(10).write.mode("overwrite").format("parquet").saveAsTable("t_report_flat")
      val flat = Store.fileReport(spark, "t_report_flat").collect()
      assert(flat.length == 1 && flat(0).getString(0) == "")
    } finally {
      Store.drop(spark, "t_report")
      Store.drop(spark, "t_report_flat")
    }
  }

  test("compact rejects external and bucketed tables with a clear error") {
    Store.ensureDatabase(spark, "graft_test")
    // external: the swap would orphan the original location
    val extDir = TempDirs.create("graft-ext").toString
    spark.range(10).selectExpr("id").write.mode("overwrite").parquet(extDir)
    spark.sql(s"CREATE TABLE t_external USING parquet LOCATION '$extDir'")
    val e1 = intercept[IllegalArgumentException](Store.compact(spark, "t_external"))
    assert(e1.getMessage.contains("MANAGED"), e1.getMessage)
    Store.drop(spark, "t_external")
    // bucketed: the rewrite would strip co-location metadata
    Store.overwriteBucketed(
      spark.range(10).selectExpr("id AS k"), "t_bucketed", Seq("k"), 2)
    val e2 = intercept[IllegalArgumentException](Store.compact(spark, "t_bucketed"))
    assert(e2.getMessage.contains("bucketing"), e2.getMessage)
    Store.drop(spark, "t_bucketed")
  }

  test("compact preserves a non-parquet provider") {
    Store.ensureDatabase(spark, "graft_test")
    spark.range(50).selectExpr("id").repartition(8)
      .write.mode("overwrite").format("orc").saveAsTable("t_orc")
    Store.compact(spark, "t_orc")
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("t_orc"))
    assert(meta.provider.contains("orc"), meta.provider)
    assert(spark.table("t_orc").count() == 50)
    assert(spark.table("t_orc").inputFiles.forall(_.endsWith(".orc")))
    Store.drop(spark, "t_orc")
  }

  test("quoted backticks each part of a qualified identifier, doubling embedded backticks") {
    assert(Store.quoted("t") == "`t`")
    assert(Store.quoted("db.t") == "`db`.`t`")
    assert(Store.quoted("we`ird") == "`we``ird`")
  }

  test("tableDiff: added/removed/changed/unchanged incl. null transitions") {
    import graft.store.Store
    val l = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Some("d"), 40.0))
      .toDF("k", "s", "v")
    val r = Seq((1L, Some("a"), 10.0),                 // unchanged
      (2L, Some("B"), 20.0),                           // changed (value)
      (3L, None: Option[String], 30.0),                // unchanged (null == null)
      (5L, Some("e"), 50.0))                           // added; 4 removed
    .toDF("k", "s", "v")
    val got = Store.tableDiff(l, r, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "added"))
    // null -> value IS a change
    val got2 = Store.tableDiff(
      Seq((3L, None: Option[String])).toDF("k", "s"),
      Seq((3L, Some("x"))).toDF("k", "s"), Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got2 == Map(3L -> "changed"))
    // all-key schema: presence is the only signal
    val got3 = Store.tableDiff(
      Seq(Tuple1(1L), Tuple1(2L)).toDF("k"),
      Seq(Tuple1(2L), Tuple1(3L)).toDF("k"), Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got3 == Map(1L -> "removed", 2L -> "unchanged", 3L -> "added"))
    intercept[IllegalArgumentException](
      Store.tableDiff(l, r.drop("v"), Seq("k")))
    // NULL keys match their counterpart (null-safe key join) — a
    // null-keyed row diffs column-wise instead of being reported as
    // both added and removed
    val got4 = Store.tableDiff(
      Seq((None: Option[Long], "x"), (Some(1L), "a")).toDF("k", "s"),
      Seq((None: Option[Long], "y"), (Some(1L), "a")).toDF("k", "s"), Seq("k"))
      .as[(Option[Long], String)].collect().toMap
    assert(got4 == Map((None: Option[Long]) -> "changed", Some(1L) -> "unchanged"))
  }

  test("scd2: init → apply closes/opens/chains/no-ops; asOf reads point-in-time") {
    import graft.store.Store
    // v1 snapshot at t=10
    val snap = Seq((1L, "a", 10L), (2L, "b", 10L)).toDF("k", "v", "eff")
    val dim1 = Store.scd2Init(snap, Seq("k"), "eff")
    assert(dim1.columns.toSeq == Seq("k", "v", "valid_from", "valid_to", "is_current"))
    assert(dim1.as[(Long, String, Long, Option[Long], Boolean)].collect().toSet ==
      Set((1L, "a", 10L, None, true), (2L, "b", 10L, None, true)))
    // batch: k=1 changes twice (chain), k=2 unchanged (no-op), k=3 new
    val ch = Seq((1L, "a2", 20L), (1L, "a3", 30L), (2L, "b", 25L), (3L, "c", 20L))
      .toDF("k", "v", "eff")
    val dim2 = Store.scd2Apply(dim1, ch, Seq("k"), "eff")
    val got = dim2.as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(got == Set(
      (1L, "a", 10L, Some(20L), false),
      (1L, "a2", 20L, Some(30L), false),
      (1L, "a3", 30L, None, true),
      (2L, "b", 10L, None, true),      // attribute-identical change: NO churn
      (3L, "c", 20L, None, true)), s"$got")
    // closed history passes through a second apply untouched; a change
    // BACK to an old value is a genuinely new version
    val dim3 = Store.scd2Apply(dim2, Seq((1L, "a", 40L)).toDF("k", "v", "eff"),
      Seq("k"), "eff")
    val v1 = dim3.filter(col("k") === 1).orderBy("valid_from")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSeq
    assert(v1 == Seq(
      (1L, "a", 10L, Some(20L), false), (1L, "a2", 20L, Some(30L), false),
      (1L, "a3", 30L, Some(40L), false), (1L, "a", 40L, None, true)))
    // point-in-time reads across the version chain
    def asOf(t: Long) = Store.scd2AsOf(dim3.filter(col("k") === 1), lit(t))
      .select("v").as[String].collect().toSeq
    assert(asOf(9L).isEmpty && asOf(10L) == Seq("a") && asOf(29L) == Seq("a2") &&
      asOf(35L) == Seq("a3") && asOf(99L) == Seq("a"))
    // null-safe attribute compare: null -> value IS a change, null -> null is not
    val dn1 = Store.scd2Init(
      Seq((1L, None: Option[String], 5L)).toDF("k", "v", "eff"), Seq("k"), "eff")
    val dn2 = Store.scd2Apply(dn1,
      Seq((1L, None: Option[String], 6L), (1L, Some("x"), 7L)).toDF("k", "v", "eff"),
      Seq("k"), "eff")
    assert(dn2.count() == 2) // null->null no-op'd, null->x versioned
  }

  test("scd2: loud rejects — dup change rows, corrupt dim, retroactive change") {
    import graft.store.Store
    val dim = Store.scd2Init(Seq((1L, "a", 10L)).toDF("k", "v", "eff"), Seq("k"), "eff")
    intercept[IllegalArgumentException](Store.scd2Apply(dim,
      Seq((1L, "x", 20L), (1L, "y", 20L)).toDF("k", "v", "eff"), Seq("k"), "eff"))
    intercept[IllegalArgumentException](Store.scd2Apply(dim,
      Seq((1L, "x", 5L)).toDF("k", "v", "eff"), Seq("k"), "eff")) // retroactive
    val corrupt = dim.unionByName(dim) // two open versions for k=1
    intercept[IllegalArgumentException](Store.scd2Apply(corrupt,
      Seq((1L, "x", 20L)).toDF("k", "v", "eff"), Seq("k"), "eff"))
    intercept[IllegalArgumentException](Store.scd2Apply(dim,
      Seq((1L, 20L)).toDF("k", "eff"), Seq("k"), "eff")) // schema mismatch
    intercept[IllegalArgumentException](
      Store.scd2Init(Seq((1L, "a")).toDF("k", "v"), Seq("k"), "eff"))
  }

  test("kAnonymity flags only sub-k groups; loud rejects") {
    import graft.quality.QualitySuite
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2), ("c", 3))
      .toDF("seg", "nat")
    val got = QualitySuite.kAnonymity(df, Seq("seg", "nat"), k = 3L)
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(("b", 2, 2L), ("c", 3, 1L)))
    intercept[IllegalArgumentException](
      QualitySuite.kAnonymity(df, Seq.empty, 3L))
    intercept[IllegalArgumentException](
      QualitySuite.kAnonymity(df, Seq("seg"), 1L))
  }

  test("analyze works on reserved-word and db-qualified table names") {
    Store.ensureDatabase(spark, "graft_test")
    Store.overwrite(spark.range(10).selectExpr("id AS k"), "`select`")
    Store.analyze(spark, "select", columns = Seq("k"))
    Store.analyze(spark, "graft_test.select")
    Store.drop(spark, "select")
  }

  test("writeJdbc passthrough fails fast without a driver (compat shim, not engine path)") {
    val df = Seq((1L, "a")).toDF("id", "v")
    intercept[Exception] {
      Store.writeJdbc(df, "jdbc:mysql://localhost:1/none", "t")
    }
  }

  test("writeJdbc round-trips through embedded Derby (gated; VERDICT r10 'what's missing' #3)") {
    // Derby ships beside Spark (the metastore's embedded engine) — a
    // REAL JDBC target with zero egress, so the MySQL-compat shim gets
    // one proven write+read round trip. Gated: a trimmed classpath
    // cancels rather than fails.
    assume(scala.util.Try(
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")).isSuccess,
      "Derby not on the classpath")
    val url = "jdbc:derby:memory:graft_jdbc_rt;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val props = new java.util.Properties()
    props.setProperty("driver", driver)
    val rows = Seq((1L, "a", 1.5), (2L, "b", -2.25))
    val df = rows.toDF("k", "name", "v")
    Store.writeJdbc(df, url, "t_jdbc_rt", props)
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "t_jdbc_rt").option("driver", driver)
      .load().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(readBack() == rows)
    // overwrite is idempotent — the reference's TRUNCATE+reload contract
    // (pipeline_etl.ipynb:469-474) holds through the shim too
    Store.writeJdbc(df, url, "t_jdbc_rt", props)
    assert(readBack() == rows)
  }

  test("compactBucketed collapses sprawl to ≤ numBuckets files; bucket spec, sort cols and data survive") {
    Store.ensureDatabase(spark, "graft_test")
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi).selectExpr("id", "id % 5 AS cid")
    Store.overwriteBucketed(batch(0, 200), "t_bsprawl", Seq("cid"), 4)
    // sprawl: small bucketed appends accumulate files per admission
    (1 to 5).foreach(i => Store.appendBucketed(batch(200L + i * 10, 210L + i * 10), "t_bsprawl"))
    val before = spark.table("t_bsprawl").inputFiles.length
    assert(before > 4, s"setup should sprawl past numBuckets, got $before files")
    val rep = Store.fileReport(spark, "t_bsprawl").collect()(0)
    assert(rep.getAs[Boolean]("needs_compaction") && rep.getAs[Long]("n_files") == before)
    val want = spark.table("t_bsprawl").orderBy("id").collect().toSeq

    Store.compactBucketed(spark, "t_bsprawl")
    assert(spark.table("t_bsprawl").inputFiles.length <= 4,
      s"still sprawled: ${spark.table("t_bsprawl").inputFiles.length} files")
    assert(!Store.fileReport(spark, "t_bsprawl").collect()(0).getAs[Boolean]("needs_compaction"))
    assert(spark.table("t_bsprawl").orderBy("id").collect().toSeq == want)
    // the catalog spec the no-shuffle probe guarantee rides on survives the swap
    val spec = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser.parseTableIdentifier("t_bsprawl"))
      .bucketSpec
    assert(spec.exists(s => s.numBuckets == 4 && s.bucketColumnNames == Seq("cid")
      && s.sortColumnNames == Seq("cid")), s"bucket spec lost: $spec")

    // crash-debris paths must not wedge the next swap:
    // (a) an in-catalog __precompact leftover
    Store.overwrite(Seq((1L, 1L)).toDF("id", "cid"), "t_bsprawl__precompact")
    Store.compactBucketed(spark, "t_bsprawl")
    assert(spark.table("t_bsprawl").orderBy("id").collect().toSeq == want)
    assert(!spark.catalog.tableExists("t_bsprawl__precompact"))
    // (b) an on-disk-only leftover (previous JVM crashed mid-swap; the
    // in-memory catalog forgot the table but the directory persists)
    val cat = spark.sessionState.catalog
    val debris = new org.apache.hadoop.fs.Path(cat.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier("t_bsprawl__precompact")
        .copy(database = Some(cat.getCurrentDatabase))))
    val fs = debris.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(debris)
    Store.compactBucketed(spark, "t_bsprawl")
    assert(spark.table("t_bsprawl").orderBy("id").collect().toSeq == want)
    assert(!fs.exists(debris), "on-disk debris should be cleared by the swap")
    Store.drop(spark, "t_bsprawl")
  }

  test("analyze records row-count + column stats the optimizer can read") {
    Store.ensureDatabase(spark, "graft_test")
    Store.overwrite(spark.range(500).selectExpr("id AS k", "id % 7 AS grp"), "stats_t")
    Store.analyze(spark, "stats_t", columns = Seq("k", "grp"))
    val cboWas = spark.conf.get("spark.sql.cbo.enabled", "false")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats = Store.table(spark, "stats_t").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(500)), s"row count not visible to CBO: $stats")
      val desc = spark.sql("DESC EXTENDED stats_t grp").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc.get("distinct_count").exists(_.toLong >= 6L), s"no NDV for grp: $desc")
    } finally spark.conf.set("spark.sql.cbo.enabled", cboWas)
    Store.drop(spark, "stats_t")
  }
}
