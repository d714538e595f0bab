package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for named battery queries, one file per
  * query, for the optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_{before,after}.txt`). Unlike [[PlanDump]] (the
  * curated PLANS.md narrative) this is a plain per-query dump: run the
  * query to let AQE finalize, then write the final formatted plan.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <query...>
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2) // "before" | "after"
    val names = args.drop(3).toSeq
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.CacheReset(spark)
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() executes THIS df's own QueryExecution, so AQE
      // finalizes the very plan we print (a noop write runs a separate
      // QueryExecution and the dump stayed isFinalPlan=false — runtime
      // exchange reuse was invisible); battery results are small
      df.collect()
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
