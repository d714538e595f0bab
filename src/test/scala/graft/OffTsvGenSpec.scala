package graft

import graft.bench.OffTsvGen
import graft.pipeline.OffPipeline
import graft.quality.QualitySuite
import graft.model.OffModel

/** The bench input generator feeds a real pipeline run: generated TSV →
  * Bronze→Silver→Gold must satisfy the reference invariant suite, and
  * the planted edge rows (dup codes, bad codes) must be rejected in the
  * planted proportions. */
class OffTsvGenSpec extends SparkTestBase {

  private val n = 50000L

  private lazy val gold = {
    val dir = TempDirs.create("graft-gen").toString + "/off"
    OffTsvGen.generate(spark, dir, n)
    OffPipeline.run(spark, dir)
  }
  private lazy val silver = { gold; spark.table("silver_products") }

  test("generator is deterministic (same rows both times)") {
    val a = OffTsvGen.df(spark, 500).collect()
    val b = OffTsvGen.df(spark, 500).collect()
    assert(a.sameElements(b))
  }

  test("215 columns like the reference dump") {
    assert(OffTsvGen.df(spark, 1).columns.length == 215)
  }

  test("silver rejects exactly the planted dup + bad-code rows") {
    // per 80000-row cycle: 5 dup codes (i%16000==15999), 2 bad codes
    // (one "", one "null"), but a dup row can't also be a bad-code row
    val planted = (0L until n).count { i =>
      i % 16000 == 15999 || i % 40000 == 39998 || i % 40000 == 19998
    }
    assert(silver.count() == n - planted)
  }

  test("gold passes the full reference invariant suite on generated data") {
    val results = QualitySuite.fullSuite(
      silver, gold("dim_product"), gold("dim_brand"), gold("dim_category"),
      gold("fact_nutrition_snapshot"), OffModel.nutrientBounds)
    assert(results.forall(_.passed), results.filterNot(_.passed).mkString("; "))
  }
}
