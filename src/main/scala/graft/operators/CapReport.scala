package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Default-on visibility for the quadratic-blowup safety valves
  * ([[graft.dedup.Dedup.candidatePairsFromBanded]]'s `maxBucketSize`,
  * [[Blocking.selfPairs]]'s `maxBlockSize`).
  *
  * A capped run EXCLUDES oversized buckets/blocks from pair generation;
  * before this, surfacing what was dropped was caller convention
  * (`oversizedBlocks` exists but nothing wired it in), so a capped
  * production run could truncate silently. Now every capped operator
  * attaches a `CollectMetrics` observation to the per-group count
  * aggregate it already computes — zero extra jobs, zero extra
  * shuffles, works under AQE — recording (excluded groups, excluded
  * rows, max group size), and registers a per-session
  * QueryExecutionListener that logs a loud warning whenever an executed
  * query actually dropped something. Programmatic consumers read the
  * same numbers from `df.queryExecution.observedMetrics` after any
  * action.
  */
object CapReport {

  /** Observation names are `graft.cap.<what>#<n>` — the counter keeps
    * names unique when one query plans several capped operators
    * (Spark rejects duplicate observation names inside a query). */
  val MetricPrefix = "graft.cap."
  private val counter = new AtomicLong()

  /** Attach the exclusion observation to a per-group count DataFrame
    * (`nCol` = rows in the group). Call BEFORE the `<= cap` filter so
    * the dropped groups are still visible to the aggregate. */
  def observeExclusions(df: DataFrame, what: String, nCol: Column, cap: Int): DataFrame = {
    ensureListener(df.sparkSession)
    df.observe(s"$MetricPrefix$what#${counter.incrementAndGet()}",
      coalesce(sum(when(nCol > cap, lit(1L)).otherwise(lit(0L))), lit(0L)).as("excluded_groups"),
      coalesce(sum(when(nCol > cap, nCol).otherwise(lit(0L))), lit(0L)).as("excluded_rows"),
      coalesce(max(nCol), lit(0L)).as("max_group"),
      lit(cap.toLong).as("cap"))
  }

  /** Warning line for one observation row, None when nothing was
    * dropped (pure — unit-testable without the listener bus). */
  def format(name: String, row: Row): Option[String] = {
    // other observations (Store's `retro`) ride the same queries and
    // lack these fields: the name decides before any field is read
    if (!name.startsWith(MetricPrefix)) return None
    val excludedGroups = row.getAs[Long]("excluded_groups")
    if (excludedGroups == 0L) None
    else {
      val what = name.stripPrefix(MetricPrefix).takeWhile(_ != '#')
      Some(s"[graft] CAPPED RUN: $what excluded $excludedGroups group(s) " +
        s"totaling ${row.getAs[Long]("excluded_rows")} row(s) over cap=${row.getAs[Long]("cap")} " +
        s"(largest group: ${row.getAs[Long]("max_group")} rows) — " +
        "these members were NOT pair-compared; route them through exact dedup, " +
        "a finer key, or per-group sampling")
    }
  }

  /** All observed metrics of an executed DataFrame, surviving AQE's
    * empty-relation propagation (which erases CollectMetricsExec from
    * `qe.observedMetrics` exactly when a capped query returns zero
    * rows — the case where the report matters most). */
  def metricsOf(df: DataFrame): Map[String, Row] =
    org.apache.spark.sql.GraftSqlBridge.observedMetricsDeep(df.queryExecution.executedPlan)

  private def report(qe: QueryExecution): Unit =
    org.apache.spark.sql.GraftSqlBridge.observedMetricsDeep(qe.executedPlan)
      .foreach { case (name, row) =>
        format(name, row).foreach { msg =>
          System.err.println(msg)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
        }
      }

  // weak keys: a dropped session must not be pinned by this registry
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the logging listener once per session (idempotent). */
  def ensureListener(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          report(qe)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
    }
}
