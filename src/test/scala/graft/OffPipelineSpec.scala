package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.analytics.OffQueries
import graft.metrics.Metrics
import graft.pipeline.OffPipeline
import graft.quality.QualitySuite

/** End-to-end golden test of the Bronze→Silver→Gold pipeline on a
  * FIXTURES.md A1-shaped TSV, covering every documented edge:
  * accents/specials, invalid markers, lang-prefixed categories,
  * multi-country, out-of-bounds nutrients, salt⇄sodium conversion,
  * duplicate codes (keep latest), bad codes.
  *
  * Also pins the reference's schema-on-read quirk: with no inferSchema
  * every column is a string, so the clean chain strips decimal points
  * from numeric columns ("0.9" → "09" → 9.0). Our pipeline reproduces
  * that behavior bit-for-bit (pipeline_etl.ipynb:93-102,214-240).
  */
class OffPipelineSpec extends SparkTestBase {

  private val header = Seq(
    "code", "product_name", "brands", "main_category", "categories_en", "countries_en",
    "last_modified_t", "nutriscore_grade", "energy-kcal_100g", "fat_100g",
    "saturated-fat_100g", "sugars_100g", "salt_100g", "proteins_100g", "fiber_100g",
    "sodium_100g", "completeness", "ignored_col").mkString("\t")

  private val rows = Seq(
    // r1: accents + TM, multi-country, sodium-only (salt derived ×2.5)
    Seq("0001", "Côte d'Or™ Chocolat", "Côte d'Or", "en:chocolate-spreads",
      "Chocolate spreads", "France, Belgium", "1700000000", "d",
      "550", "30", "10", "57", "", "6", "4", "2", "1", "zzz"),
    // r2: older duplicate of 0001 — dedup must drop it
    Seq("0001", "Old Version", "Côte d'Or", "en:chocolate-spreads",
      "Chocolate spreads", "France", "1600000000", "d",
      "500", "28", "9", "50", "1", "5", "3", "", "1", "zzz"),
    // r3: invalid markers, out-of-bounds kcal, salt-only (sodium ÷2.5), q5 anomaly (salt 30)
    Seq("0002", "Mystery", "unknown", "", "undefined", "n/a", "1690000000", "none",
      "73529", "", "", "", "30", "", "", "", "1", "zzz"),
    // r4/r5: bad codes — rejected by O-21
    Seq("", "No Code", "b", "c", "cat", "France", "1700000001", "a",
      "", "", "", "", "", "", "", "", "1", "zzz"),
    Seq("null", "Null Code", "b", "c", "cat", "France", "1700000002", "b",
      "", "", "", "", "", "", "", "", "1", "zzz"),
    // r6: decimal-point-stripping quirk ("0.9" → 9.0), salt-only
    Seq("0003", "Halfy", "BrandY", "fr:boissons-gazeuses", "Sodas", "Spain",
      "1680000000", "b", "0.9", "2", "1", "12", "2", "0", "0", "", "1", "zzz"))
    .map(_.mkString("\t"))

  private lazy val tsvPath: String = {
    val dir = TempDirs.create("graft-fixture")
    val f = dir.resolve("openfoodfacts_sample.tsv")
    Files.writeString(f, (header +: rows).mkString("\n"))
    f.toString
  }

  private lazy val gold: Map[String, org.apache.spark.sql.DataFrame] =
    OffPipeline.run(spark, tsvPath)

  private lazy val silver = { gold; spark.table("silver_products") }
  private def byCode(code: String): Row = silver.filter(s"code = '$code'").collect()(0)

  test("silver keeps 3 rows: dedup drops older 0001, bad codes rejected") {
    assert(silver.count() == 3)
    assert(silver.select("code").collect().map(_.getString(0)).sorted.toSeq
      == Seq("0001", "0002", "0003"))
  }

  test("dedup kept the LATEST 0001 (O-22/O-23)") {
    assert(byCode("0001").getAs[String]("product_name") == "cote dortm chocolat")
  }

  test("text cleaning: accents stripped, lowercased (O-9/O-10)") {
    assert(byCode("0001").getAs[String]("brands") == "cote dor")
  }

  test("main_category: lang prefix + dash tail removed (O-11)") {
    assert(byCode("0001").getAs[String]("main_category") == "chocolate")
    assert(byCode("0003").getAs[String]("main_category") == "boissons")
  }

  test("semantic defaults fill invalid markers (O-13)") {
    val r = byCode("0002")
    assert(r.getAs[String]("brands") == "marque inconnue")
    assert(r.getAs[String]("categories_en") == "non classe")
    assert(r.getAs[String]("main_category") == "non classe")
    assert(r.getAs[String]("nutriscore_grade") == "non classe")
    assert(r.getAs[scala.collection.Seq[String]]("countries_en").toSeq == Seq("pays inconue"))
  }

  test("countries_en is a real array (O-15)") {
    assert(byCode("0001").getAs[scala.collection.Seq[String]]("countries_en").toSeq
      == Seq("france", "belgium"))
  }

  test("bounds null-out: kcal 73529 → NULL (O-16)") {
    assert(byCode("0002").isNullAt(byCode("0002").fieldIndex("energy_kcal_100g")))
  }

  test("salt ⇄ sodium derivation (O-17/O-18)") {
    assert(byCode("0001").getAs[Double]("salt_100g") == 5.0) // sodium 2 × 2.5
    assert(byCode("0002").getAs[Double]("sodium_100g") == 12.0) // salt 30 ÷ 2.5
    assert(byCode("0003").getAs[Double]("sodium_100g") == 0.8)
  }

  test("kcal→kJ derivation + rounding (O-17/O-19)") {
    assert(byCode("0001").getAs[Double]("energy_kj_100g") == 2301.2)
  }

  test("decimal-point-stripping parity quirk: '0.9' becomes 9.0") {
    assert(byCode("0003").getAs[Double]("energy_kcal_100g") == 9.0)
  }

  test("gold star schema passes the full reference invariant suite") {
    val results = QualitySuite.fullSuite(
      silver, gold("dim_product"), gold("dim_brand"), gold("dim_category"),
      gold("fact_nutrition_snapshot"), graft.model.OffModel.nutrientBounds)
    assert(results.forall(_.passed), results.filterNot(_.passed).mkString("; "))
  }

  test("fact grain: one row per product (snapshot)") {
    assert(gold("fact_nutrition_snapshot").count() == 3)
    assert(gold("dim_time").count() == 3)
  }

  test("all six analytic queries run on the gold views (O-30…O-39)") {
    OffQueries.sql.keys.foreach { name =>
      val df = OffQueries.runSql(spark, name)
      assert(df.columns.nonEmpty, s"$name produced no schema")
      df.collect() // must execute
    }
  }

  test("Q5 anomaly listing finds the salt>25 product") {
    val q5 = OffQueries.runSql(spark, "q5").collect()
    assert(q5.length == 1 && q5(0).getAs[String]("code") == "0002")
  }

  test("DataFrame builders agree with the SQL texts (Q1..Q6)") {
    val fact = gold("fact_nutrition_snapshot")
    val product = gold("dim_product"); val brand = gold("dim_brand")
    val category = gold("dim_category"); val time = gold("dim_time")
    val pairs = Seq(
      "q1" -> OffQueries.q1TopBrandsAbShare(fact, product, brand),
      "q2" -> OffQueries.q2GradeByCategory(fact, product, category),
      "q3" -> OffQueries.q3CountryCategorySugar(fact, product, category),
      "q4" -> OffQueries.q4CompletenessByBrand(fact, product, brand),
      "q5" -> OffQueries.q5Anomalies(fact, product, brand),
      "q6" -> OffQueries.q6WeeklyCompleteness(fact, time))
    pairs.foreach { case (name, df) =>
      val viaSql = OffQueries.runSql(spark, name).collect().map(_.toSeq).toSeq
      val viaDf = df.collect().map(_.toSeq).toSeq
      assert(viaSql == viaDf, s"$name: SQL and DataFrame results differ")
    }
  }

  test("Q1 approx fast mode (HLL) tracks the exact distinct within rsd") {
    // on larger data: exact vs approx distinct over the part table
    val part = spark.read.parquet("/root/testdata/sf0.01/part.parquet")
    val exact = part.select(countDistinct(col("p_partkey"))).collect()(0).getLong(0)
    val approx = part.select(approx_count_distinct(col("p_partkey"), 0.05))
      .collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
    // and the full approx query runs on the tiny gold star
    val q1a = OffQueries.q1TopBrandsAbShareApprox(
      gold("fact_nutrition_snapshot"), gold("dim_product"), gold("dim_brand"))
    q1a.collect() // executes; tiny data won't clear the HAVING >= 10
  }

  test("metrics single-pass aggregate matches the layer counts (O-6/O-29)") {
    val m = Metrics.compute(silver, rowsIn = 6, startedAtMs = 0L, finishedAtMs = 1000L)
    assert(m.rowsOut == 3 && m.rowsRejected == 3)
    assert(m.avgCompleteness == 1.0) // the reference's recorded 1.0 quirk, BASELINE.md
    assert(m.nutriscoreCoverage == 1.0)
    assert(m.sugarAnomalies == 0)
    assert(m.toJson.contains("\"rows_out\":3"))
  }

  test("runStored persists + ANALYZEs gold and turns the CBO on (same rows as run)") {
    val cboWas = spark.conf.getOption("spark.sql.cbo.enabled")
    val jrWas = spark.conf.getOption("spark.sql.cbo.joinReorder.enabled")
    // a crashed run leaves warehouse files without a catalog entry (the
    // test catalog is in-memory, the warehouse on disk) — clear orphaned
    // locations or CTAS refuses with LOCATION_ALREADY_EXISTS
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    OffPipeline.goldAnalyzeColumns.keys.foreach { t =>
      graft.store.Store.drop(spark, s"graft_test.$t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/graft_test.db/$t")
      if (loc.exists) rm(loc)
    }
    try {
      val stored = OffPipeline.runStored(spark, tsvPath, database = "graft_test")
      assert(spark.conf.get("spark.sql.cbo.enabled") == "true")
      // every gold table is a catalog table with optimizer-visible stats
      // (db-qualified: run()'s same-named temp views must not shadow)
      stored.keys.foreach { name =>
        val stats = graft.store.Store.table(spark, s"graft_test.$name")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.nonEmpty, s"$name has no ANALYZE row count")
      }
      // and the stored layer agrees with the in-plan layer
      assert(stored("fact_nutrition_snapshot").count() == gold("fact_nutrition_snapshot").count())
      assert(stored("dim_product").select("code").collect().map(_.getString(0)).sorted.toSeq ==
        gold("dim_product").select("code").collect().map(_.getString(0)).sorted.toSeq)
      stored.keys.foreach(n => graft.store.Store.drop(spark, s"graft_test.$n"))
    } finally {
      Seq("spark.sql.cbo.enabled" -> cboWas, "spark.sql.cbo.joinReorder.enabled" -> jrWas)
        .foreach {
          case (c, Some(v)) => spark.conf.set(c, v)
          case (c, None) => spark.conf.unset(c)
        }
    }
  }

  test("splittable bronze ≡ multiLine bronze on the golden TSV, through silver") {
    import graft.ingest.Ingest
    val ml = Ingest.bronzeCsv(spark, tsvPath)
    val sp = Ingest.bronzeCsvSplittable(spark, tsvPath)
    assert(sp.schema == ml.schema)
    assert(sp.collect().map(_.toSeq).toSet == ml.collect().map(_.toSeq).toSet)
    // and the whole silver layer is identical through either scan
    val silverMl = OffPipeline.silver(ml).collect().map(_.toSeq).toSet
    val silverSp = OffPipeline.silver(sp).collect().map(_.toSeq).toSet
    assert(silverSp == silverMl)
  }

  test("splittable bronze guard rejects a quoted-newline corpus loudly") {
    import graft.ingest.Ingest
    val dir = TempDirs.create("graft-mlfix")
    val f = dir.resolve("embedded_newline.tsv")
    // a quoted product_name spanning a line break — legal under
    // multiLine=true, shredded under line splitting
    Files.writeString(f,
      "code\tproduct_name\tbrands\n" +
        "0001\t\"Choc\nBar\"\tAcme\n" +
        "0002\tPlain\tAcme\n")
    // the multiLine scan parses it as TWO records (parity baseline)
    assert(Ingest.bronzeCsv(spark, f.toString).count() == 2)
    val ex = intercept[IllegalArgumentException](
      Ingest.bronzeCsvSplittable(spark, f.toString))
    assert(ex.getMessage.contains("unbalanced quotes"))
    // validate=false documents the escape hatch: caller takes the risk
    assert(Ingest.bronzeCsvSplittable(spark, f.toString, validate = false).count() == 3)
  }
}
