package offbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `offbench.Main --workload <etl|refresh|neardup> --seed <n>
  *  --seconds <s> --trace <0|1> --cores <n> --work <dir> --inputs <dir>
  *  --result <file> --spans <file>`.
  * Writes the run record (metrics, per-layer metrics, attempts, failed
  * checks) as JSON to the result file; a traced run also writes its
  * spans. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val runs: Map[String, Harness => Unit] = Map(
      "etl" -> Etl.run, "refresh" -> Refresh.run, "neardup" -> NearDup.run)
    require(runs.contains(workload), s"unknown workload $workload")
    val work = Paths.get(opt("work"))
    val cores = opt("cores").toInt
    val traced = opt("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"offbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the session settings graft.Bench runs the engine under
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // everything the session writes stays in the run directory
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val runId = s"$workload-${opt("seed")}"
    val tracer = new Tracer(spark, runId)
    val h = new Harness(spark, tracer, work, Paths.get(opt("inputs")), opt("seed").toLong,
      opt("seconds").toDouble, traced, sessionS)
    runs(workload)(h)
    h.finishLayers()
    if (traced) tracer.write(Paths.get(opt("spans")))

    val record = Json.obj(Seq(
      "correct" -> h.checkFailures.isEmpty,
      "attempted" -> h.attempted,
      "failed" -> h.failed,
      "metrics" -> h.metrics.toMap,
      "layers" -> h.layers.toMap,
      "checks_failed" -> h.checkFailures.toSeq,
      "failures" -> h.failures.toSeq,
      "context" -> (h.context.toMap ++ Map(
        "session_s" -> sessionS, "cores" -> cores,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "spark_version" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))))
    Files.write(Paths.get(opt("result")), record.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
