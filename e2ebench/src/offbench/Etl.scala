package offbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.analytics.OffQueries
import graft.ingest.Ingest
import graft.metrics.{Metrics, RunMetrics}
import graft.pipeline.OffPipeline

/** `etl`: the reference's own run, end to end. From a seeded dump, one
  * cold Bronze → Silver (parquet) → six Gold tables (parquet) → run
  * metrics pass in a fresh JVM, then warm passes of the same thing, each
  * into a fresh directory. After every pass one client runs the six
  * analytic queries over that pass's Gold: two rounds after a warm pass,
  * one warm-up round after the cold pass. Ingest, clean, window dedup and
  * the star build make the pass time; analytics, Catalyst planning and
  * parquet scans make the query time; store and dedup are idle. */
object Etl {

  /** Input rows. The reference dump has 418,676 rows; a run here has to
    * fit a cold pass and a warm one in well under a minute on four cores,
    * so the shape (215 columns, one file) is kept and the row count scaled
    * down. */
  val Rows = 10000

  /** The seeded dump (cached per seed) and the generator's predictions. */
  def input(h: Harness): (String, EtlTruth) = {
    val (dir, t) = h.cachedInput(s"offtsv$Rows") { tmp =>
      Gen.offTsv(tmp.resolve("off.tsv"), Rows, h.seed).productIterator.mkString(",")
    }
    val v = t.trim.split(",").map(_.toLong)
    (dir.resolve("off.tsv").toString, EtlTruth(v(0), v(1), v(2), v(3), v(4), v(5)))
  }

  /** One pass as the reference runs it: Bronze → Silver parquet → the six
    * Gold tables as parquet, each read back for the tables built on it →
    * run metrics over silver. */
  def pass(h: Harness, tsv: String, rowsIn: Long, out: Path): (RunMetrics, Map[String, DataFrame]) =
    h.tracer.span("run", "pipeline") {
      val spark = h.spark
      val t0 = System.currentTimeMillis()
      val silverPath = out.resolve("silver").toString
      h.tracer.span("silver", "silver") {
        OffPipeline.silver(Ingest.bronzeCsv(spark, tsv)).write.parquet(silverPath)
      }
      val silver = spark.read.parquet(silverPath)
      val gold = h.tracer.span("star", "gold") {
        OffPipeline.goldMaterialized(silver, (name, df) => h.tracer.span("star", name) {
          val p = out.resolve(name).toString
          df.write.parquet(p)
          spark.read.parquet(p)
        })
      }
      val m = h.tracer.span("metrics", "compute") {
        Metrics.compute(silver, rowsIn, t0, System.currentTimeMillis())
      }
      (m, gold)
    }

  /** The six reference queries (OffQueries.q1…q6) over one Gold. */
  def queries(gold: Map[String, DataFrame]): IndexedSeq[(String, () => DataFrame)] = {
    val fact = gold("fact_nutrition_snapshot")
    val product = gold("dim_product")
    val brand = gold("dim_brand")
    val category = gold("dim_category")
    Vector(
      "q1" -> (() => OffQueries.q1TopBrandsAbShare(fact, product, brand)),
      "q2" -> (() => OffQueries.q2GradeByCategory(fact, product, category)),
      "q3" -> (() => OffQueries.q3CountryCategorySugar(fact, product, category)),
      "q4" -> (() => OffQueries.q4CompletenessByBrand(fact, product, brand)),
      "q5" -> (() => OffQueries.q5Anomalies(fact, product, brand)),
      "q6" -> (() => OffQueries.q6WeeklyCompleteness(fact, gold("dim_time"))))
  }

  def checkPass(h: Harness, truth: EtlTruth, m: RunMetrics, gold: Map[String, DataFrame]): Unit = {
    h.check("etl rows_out", m.rowsOut == truth.rowsOut, s"${m.rowsOut} != ${truth.rowsOut}")
    h.check("etl rows_rejected", m.rowsRejected == truth.rowsRejected,
      s"${m.rowsRejected} != ${truth.rowsRejected}")
    val expected = Map(
      "dim_time" -> truth.times, "dim_brand" -> truth.brands, "dim_category" -> truth.categories,
      "dim_country" -> truth.countries, "dim_product" -> truth.rowsOut,
      "fact_nutrition_snapshot" -> m.rowsOut)
    expected.foreach { case (t, n) =>
      val got = gold(t).count()
      h.check(s"etl $t rows", got == n, s"$got != $n")
    }
  }

  /** Writes each query's rows and the paths of the Gold parquet it read,
    * for the caller to compare with DuckDB running OffQueries.sql over the
    * same files. */
  def exportForOracle(h: Harness, gold: Path, qs: IndexedSeq[(String, () => DataFrame)]): Unit = {
    val dir = Files.createDirectories(h.work.resolve("oracle"))
    val results = qs.map { case (name, q) =>
      val f = dir.resolve(s"$name.jsonl")
      val lines = q().collect().map(r => Json.value(r.toSeq) + "\n")
      Files.write(f, lines.mkString.getBytes(StandardCharsets.UTF_8))
      name -> f.toString
    }.toMap
    val tables = Seq("fact_nutrition_snapshot", "dim_product", "dim_brand", "dim_category",
      "dim_time", "dim_country").map(t => t -> gold.resolve(t).toString).toMap
    h.context("oracle") = Map("results" -> results, "tables" -> tables, "sql" -> OffQueries.sql)
  }

  def run(h: Harness): Unit = {
    val (tsv, truth) = input(h)
    // no set-up beyond the session: the dump itself is the pipeline's input
    h.metrics("setup_s") = h.sessionS
    val querySamples = mutable.ArrayBuffer.empty[Double]
    var k = 0
    var last: Option[(Path, IndexedSeq[(String, () => DataFrame)])] = None

    /** A pass, its checks and `rounds` query rounds; returns the pass
      * time. Query times are kept when `timeQueries`. */
    def once(rounds: Int, timeQueries: Boolean): Option[Double] = {
      last.foreach { case (p, _) => Harness.delete(p) }
      last = None
      val out = h.fresh(s"pass-$k")
      k += 1
      val r = h.call("etl pass")(pass(h, tsv, truth.rowsIn, out))
      r.foreach { case ((m, gold), _) =>
        checkPass(h, truth, m, gold)
        val qs = queries(gold)
        (0 until rounds).foreach(_ => qs.foreach { case (name, q) =>
          h.call(name)(h.tracer.span("analytics", name)(q().collect()))
            .foreach { case (_, d) => if (timeQueries) querySamples += d }
        })
        last = Some((out, qs))
      }
      r.map(_._2)
    }

    h.tracer.enable(false)
    val cold = once(rounds = 1, timeQueries = false)
    val warm = h.loop(minOps = if (h.traced) 2 else 1)(_ => once(rounds = 2, timeQueries = true))
    require(cold.nonEmpty && warm.nonEmpty && querySamples.nonEmpty, "no pass succeeded")
    h.layers("jvm.cold_s") = cold.get
    h.metrics("p50_ms") = Stats.median(querySamples) * 1000.0
    h.metrics("rate_per_s") = truth.rowsIn / Stats.median(warm)
    h.context ++= Seq("rows_in" -> truth.rowsIn, "rows_out" -> truth.rowsOut,
      "cold_s" -> cold.get, "warm_s" -> warm, "queries" -> querySamples.size,
      "query_p90_ms" -> Stats.percentile(querySamples, 0.9) * 1000.0)

    if (h.traced) {
      Layers.pipeline(h, h.tracer.named("run", "pipeline").filterNot(_.failed))
      Layers.analytics(h, (1 to 6).map(i => s"q$i"))
      (0 until 3).foreach { _ =>
        h.call("ingest scan")(h.tracer.span("ingest", "scan") {
          Ingest.bronzeCsv(h.spark, tsv).write.format("noop").mode("overwrite").save()
        })
      }
      Layers.ingest(h)
    }
    h.tracer.enable(false)
    last.foreach { case (p, qs) => exportForOracle(h, p, qs) }
  }
}
