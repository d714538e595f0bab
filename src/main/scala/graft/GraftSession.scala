package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is configured. Bench, Verify, the
  * tools mains and the test session all start from [[builder]], so the
  * oracle dump, the bench and the tests run the engine under the same
  * confs. Callers add only what is their own (an app name, a tool's
  * overrides) and call `getOrCreate()`. */
object GraftSession {

  /** Local cores to run on: `SPARK_GRAFT_CPUS`, else every processor
    * the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` builder, one shuffle partition per core, preset
    * with the engine's confs. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    // let AQE right-size CACHED plan output too: the matview/commit
    // paths cache small delta frames, and without this every cached
    // frame materializes at the raw shuffle-partition count — 32
    // near-empty tasks per downstream read at any scale. Byte-based
    // coalescing keeps big caches wide; this is scale-adaptive, not
    // a local tuning (q194: 1557 -> 125 tasks, task_sec 35 -> 3).
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    // the engine's commit/fold/scan working set is far more than 100
    // distinct codegen units (the static default): an overflowing
    // cache recompiles the SAME generated classes inside executor
    // tasks on every reuse — pure CPU waste at any scale. Bounded by
    // distinct plan shapes, not data volume (scale-independent).
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet carries TIMESTAMP(NANOS); read as LongType
    // (nanos since epoch) instead of failing — ordering semantics
    // are identical and the ts column is never a query output.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
