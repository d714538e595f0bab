package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-parallelism valve for CPU-bound narrow stages.
  *
  * A parquet scan's task count is bounded by the file SPLIT count, and
  * a file is only splittable at row-group boundaries — a corpus packed
  * as large single-row-group files (or any input whose splits ≪ cores)
  * feeds its first narrow stage to a handful of tasks no matter what
  * `spark.sql.files.maxPartitionBytes` says. For I/O-bound stages that
  * is fine; for the CPU-bound hash scans of the dedup family (one md5
  * per shingle) it serializes minutes of digest work onto one core
  * while the rest of the executor idles.
  *
  * [[forCpuStage]] inserts a round-robin repartition ONLY when
  *  (a) the input plan is NARROW — no join/aggregate/window/sort
  *      between the leaves and this stage. Any wide op already runs
  *      the downstream stage at `spark.sql.shuffle.partitions`
  *      parallelism, so there is nothing to fix; and
  *  (b) the estimated leaf split count is at most half the target,
  *      `sparkContext.defaultParallelism`.
  * Both checks read the OPTIMIZED LOGICAL plan and file statistics
  * only — deliberately no `df.rdd`, which under AQE materializes every
  * upstream shuffle stage at "planning" time and would double-execute
  * them. Unknown leaf types conservatively count as already-parallel
  * (valve stays closed). The shuffle the open valve adds moves the
  * projected rows once — one narrow-data exchange buying `target`-way
  * parallelism for a stage whose per-row cost dominates the wire cost.
  * Downstream operators in this engine are partitioning-insensitive by
  * design (deterministic aggregates, per-row hashes), so round-robin
  * placement never changes results.
  */
object Rebalance {

  /** Wide operators set their own (shuffle.partitions) parallelism for
    * everything above them — the valve must stay closed. */
  private def isWide(p: LogicalPlan): Boolean = p match {
    case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
        _: Deduplicate | _: RepartitionOperation | _: GlobalLimit |
        _: SetOperation => true
    case _ => false
  }

  /** Split-count estimate per leaf, from catalog statistics only.
    *  - file relations: bytes / maxPartitionBytes (caps at the file
    *    count implicitly for row-group-packed files — we UNDERESTIMATE
    *    splits never, but an unsplittable big file overestimates; that
    *    errs toward leaving the valve closed only for big files, which
    *    at least amortize their single task over many rows)
    *  - anything else (LogicalRDD from localCheckpoint, v2 relations,
    *    local data): treated as already-parallel.
    */
  private def leafSplits(p: LogicalPlan, maxPartitionBytes: Long): Option[Long] = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(math.max(1L, (fs.location.sizeInBytes + maxPartitionBytes - 1) / maxPartitionBytes))
      case _ => None
    }
    case _ => None
  }

  def forCpuStage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    // Streaming plans: the batch-only optimizedPlan access below would
    // throw (UnsupportedOperationChecker); the valve is a batch-scan
    // concept anyway, so it stays closed for streams.
    if (df.isStreaming) return df
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    if (plan.collectFirst { case p if isWide(p) => p }.nonEmpty) return df
    val maxPartitionBytes = try {
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    } catch { case _: Throwable => 134217728L }
    val leaves = plan.collectLeaves()
    val splits = leaves.map(leafSplits(_, maxPartitionBytes))
    // any unknown leaf -> assume already parallel; else sum the estimates
    if (splits.exists(_.isEmpty)) df
    else if (splits.flatten.sum * 2 <= target) df.repartition(target)
    else df
  }
}
