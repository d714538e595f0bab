package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.{TextClean, Validate}
import graft.dedup.Dedup
import graft.ingest.Ingest
import graft.model.OffModel
import graft.star.Star

/** The full Bronze → Silver → Gold medallion pipeline of the reference
  * (pipeline_etl.ipynb end-to-end, SURVEY §3 EP-1), as one lazy Catalyst
  * plan per layer — no MySQL, no JDBC round trips, no Python workers.
  */
object OffPipeline {

  /** Bronze → Silver: allowlist projection, renames, text cleaning,
    * semantic fill, array split, bounds, derivations, rounding, time
    * parts, window dedup, code filter (pipeline_etl.ipynb:167-436). */
  def silver(bronze: DataFrame): DataFrame = {
    // NOTE on scan parallelism: the bronze CSV scan is UNSPLITTABLE
    // (multiLine=true, reference parity — a quoted field may span line
    // breaks, so Spark cannot chop the file at arbitrary offsets), and
    // this whole chain is narrow until the dedup window's shuffle. A
    // Rebalance.forCpuStage here was MEASURED SLOWER (silver lap
    // 7.8-9.9s → 10.9-12.6s at reference scale): the single-task cost
    // is the CSV *parse* itself, which no post-scan exchange can
    // parallelize, and the codegen'd clean cascade is cheap enough
    // that shuffling 418k rows to spread it loses. At real scale the
    // fix is upstream: Ingest.bronzeCsvSplittable proves the corpus
    // quoted-newline-free (one cheap parity scan, loud throw otherwise)
    // and reads with multiLine=false — parallelism then follows bytes
    // (maxPartitionBytes splits), not file count. Measured A/B at
    // 1x/10x/100x in PipelineScaleBench (x204/x205 rows; retired, see
    // "Retired harnesses" in BENCH_NOTES.md).
    val projected = Ingest.renameDashes(
      Ingest.selectExisting(bronze, OffModel.rawAllowlist))

    // O-10 full clean on every string col except the three excluded
    // (pipeline_etl.ipynb:214-216)
    val excluded = Set("countries_en", "main_category", "categories_en")
    val cleaned = TextClean.cleanAllStringCols(projected, excluded)

    // O-11 + O-12 (pipeline_etl.ipynb:246-257)
    val lightCleaned = excluded.foldLeft(
      cleaned.withColumn("main_category",
        TextClean.mainCategoryExtract(col("main_category")))) {
      (d, c) => d.withColumn(c, TextClean.lightClean(col(c)))
    }

    // O-13/O-14 semantic fill + truncate (pipeline_etl.ipynb:270-302)
    val filled = Validate.fillDefaults(lightCleaned, OffModel.textDefaults, OffModel.invalidVals)

    // O-15: countries → real array (the reference stringifies for MySQL;
    // we keep ArrayType — pipeline_etl.ipynb:305-312)
    val withArray = filled.withColumn("countries_en", Validate.splitToArray(col("countries_en")))

    // numeric pipeline: cast the string columns, bounds, derive, round
    // (pipeline_etl.ipynb:345-388)
    val numericCols = OffModel.nutrientBounds.map(_._1)
    val casted = numericCols.filter(withArray.columns.contains).foldLeft(withArray) {
      (d, c) => d.withColumn(c, col(c).cast("double"))
    }.withColumn("last_modified_t", col("last_modified_t").cast("long"))
    val bounded = Validate.boundsNullOut(casted, OffModel.nutrientBounds)
    val derived = Validate.deriveNutrients(bounded)
    val rounded = Validate.roundCols(derived, OffModel.colsToRound)

    // O-20 time parts + O-23 dedup + O-21 code filter
    // (pipeline_etl.ipynb:405-436)
    val withTime = Validate.addTimeParts(rounded)
    val deduped = Dedup.latestPerKey(withTime, Seq("code"),
      Seq(col("last_modified_t").cast("long").desc, col("product_name").asc_nulls_last))
    deduped.filter(Validate.validCode(col("code")))
      .drop("last_modified_ts", "last_modified_date")
  }

  /** Silver → Gold: the five dims + fact (pipeline_etl.ipynb:493-691). */
  def gold(silver: DataFrame): Map[String, DataFrame] = {
    val time = Star.dimTime(silver)
    val brand = Star.dimBrand(silver)
    val category = Star.dimCategory(silver)
    val country = Star.dimCountry(silver)
    val product = Star.dimProduct(silver, brand, category)
    val factDf = Star.fact(silver, product)
    Map(
      "dim_time" -> time, "dim_brand" -> brand, "dim_category" -> category,
      "dim_country" -> country, "dim_product" -> product,
      "fact_nutrition_snapshot" -> factDf)
  }

  /** Silver → Gold with a materialization boundary after every table:
    * `mat` persists a DataFrame and returns the re-read handle, so
    * downstream joins read the stored table instead of re-executing the
    * upstream plan (dim_brand would otherwise be recomputed by
    * dim_product AND by fact). This is the EP-1 shape — the reference
    * writes each dim and reads it back for the SK joins
    * (pipeline_etl.ipynb:553-571,630-656) — and the right plan at scale:
    * each layer computed exactly once. */
  def goldMaterialized(
      silver: DataFrame, mat: (String, DataFrame) => DataFrame): Map[String, DataFrame] = {
    val time = mat("dim_time", Star.dimTime(silver))
    val brand = mat("dim_brand", Star.dimBrand(silver))
    val category = mat("dim_category", Star.dimCategory(silver))
    val country = mat("dim_country", Star.dimCountry(silver))
    val product = mat("dim_product", Star.dimProduct(silver, brand, category))
    val factDf = mat("fact_nutrition_snapshot", Star.fact(silver, product))
    Map(
      "dim_time" -> time, "dim_brand" -> brand, "dim_category" -> category,
      "dim_country" -> country, "dim_product" -> product,
      "fact_nutrition_snapshot" -> factDf)
  }

  /** Full run from a TSV path; registers gold tables as temp views so
    * the six analytic queries (requetes_analytiques.sql) run via
    * spark.sql against them. */
  def run(spark: SparkSession, csvPath: String): Map[String, DataFrame] = {
    val bronze = Ingest.bronzeCsv(spark, csvPath)
    val s = silver(bronze)
    val g = gold(s)
    (g + ("silver_products" -> s)).foreach { case (n, df) => df.createOrReplaceTempView(n) }
    g
  }

  /** Join/filter key columns worth column-level statistics (NDVs,
    * min/max) per gold table — what the CBO reads to size joins and
    * estimate post-filter cardinalities. */
  val goldAnalyzeColumns: Map[String, Seq[String]] = Map(
    "dim_time" -> Seq("time_sk", "year", "week"),
    "dim_brand" -> Seq("brand_sk", "brand_name"),
    "dim_category" -> Seq("category_sk", "category_name"),
    "dim_country" -> Seq("country_sk"),
    "dim_product" -> Seq("product_sk", "code", "brand_sk", "primary_category_sk"),
    "fact_nutrition_snapshot" -> Seq("product_sk", "time_sk", "nutriscore_grade"))

  /** Full run persisted into the engine catalog with the cost-based
    * optimizer wired end-to-end (SURVEY §4's "free-ish" row, made
    * real): each gold table is stored via [[graft.store.Store]], then
    * ANALYZEd (table + join-key column stats), and
    * `spark.sql.cbo.enabled` / `cbo.joinReorder.enabled` are turned on
    * for the session — so every subsequent query against the gold
    * layer plans from true row counts and NDVs (join reordering,
    * stats-informed broadcast decisions) instead of raw file-size
    * guesses. The ANALYZE cost is one scan per table, amortized over
    * every later plan; run this variant when the gold layer is built
    * once and queried many times (the reference's own usage pattern —
    * its MySQL optimizer got table stats the same way). */
  def runStored(
      spark: SparkSession, csvPath: String, database: String = "graft"): Map[String, DataFrame] = {
    graft.store.Store.ensureDatabase(spark, database)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    val bronze = Ingest.bronzeCsv(spark, csvPath)
    val s = silver(bronze)
    goldMaterialized(s, (name, df) => {
      // db-qualified throughout: an unqualified name would resolve to a
      // same-named TEMP VIEW if one exists (e.g. a prior run()'s views),
      // and ANALYZE refuses temp views
      val qualified = s"$database.$name"
      graft.store.Store.overwrite(df, qualified)
      graft.store.Store.analyze(spark, qualified, goldAnalyzeColumns.getOrElse(name, Nil))
      graft.store.Store.table(spark, qualified)
    })
  }
}
