package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.Rebalance

/** The scan-parallelism valve: opens only for narrow plans whose leaf
  * splits are at most half the session's default parallelism, stays
  * closed for wide plans, already-split scans and streams — and never
  * changes results. */
class RebalanceSpec extends SparkTestBase {
  import spark.implicits._

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val was = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally was match {
      case Some(x) => spark.conf.set(k, x)
      case None => spark.conf.unset(k)
    }
  }

  private lazy val smallParquet: String = {
    val dir = TempDirs.create("graft-rebalance").toString
    spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS t")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def roundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.toLowerCase.contains("roundrobin")

  test("opens for a narrow single-split scan: one round-robin exchange appears") {
    val target = spark.sparkContext.defaultParallelism
    assert(target >= 2, s"a single split must be at most half of $target")
    val df = Rebalance.forCpuStage(spark.read.parquet(smallParquet).select("id", "t"))
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    assert(p.contains(s"roundrobinpartitioning($target)"), s"valve did not open to $target:\n$p")
    assert(df.count() == 1000)
  }

  test("stays closed for wide plans and for scans already split past half the parallelism") {
    val wide = spark.read.parquet(smallParquet).groupBy("t").count()
    assert(!roundRobin(Rebalance.forCpuStage(wide)), "valve opened above a wide op")
    // one split per 64 bytes: the estimate exceeds half of any default
    // parallelism this suite runs under, so the scan is already parallel
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(smallParquet))
      .filter(_.toString.endsWith(".parquet")).mapToLong(java.nio.file.Files.size(_)).sum()
    assert(bytes / 64 * 2 > spark.sparkContext.defaultParallelism)
    withConf("spark.sql.files.maxPartitionBytes", "64") {
      assert(!roundRobin(Rebalance.forCpuStage(spark.read.parquet(smallParquet))),
        "valve opened for a scan already split past half the parallelism")
    }
  }

  test("streaming inputs pass through untouched (regression: optimizedPlan access threw)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val sdf = stream.toDF().toDF("doc_id", "text")
    // forCpuStage sits inside hashedDocs — building the plan for a
    // streaming input must not throw (it did, via UnsupportedOperationChecker)
    val hashed = Dedup.hashedDocs(sdf, "doc_id", "text", Dedup.CharShingles(3))
    assert(hashed.isStreaming)
  }
}
