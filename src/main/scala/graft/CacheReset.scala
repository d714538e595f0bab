package graft

import org.apache.spark.sql.SparkSession

/** Frees every materialized intermediate between timed/verified runs:
  * SQL-cache entries AND persistent RDD blocks. `localCheckpoint`
  * blocks (the near-dup fingerprint table, q29's simhash table) live
  * in the RDD block manager, which `spark.catalog.clearCache()` does
  * NOT touch — without the unpersist sweep they accumulate across a
  * 74-query run until ContextCleaner's periodic GC. Unpersisting a
  * localCheckpointed RDD invalidates it (lineage is truncated, so it
  * cannot recompute), which is safe here precisely because the plans
  * referencing it are discarded with the finished run.
  *
  * Callers still HOLDING a localCheckpoint-backed DataFrame across the
  * reset (e.g. `Curation.funnel` stage outputs)
  * must pass those RDD ids in `keep` — otherwise their next action
  * fails (unrecomputable) instead of recomputing. Collect the ids with
  * [[rddIds]] on each DataFrame to protect.
  */
object CacheReset {
  def apply(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep.contains(r.id))
      .foreach(_.unpersist(blocking = false))
  }

  /** RDD ids backing a DataFrame's physical plan — pass to `keep` to
    * exempt a live checkpointed intermediate from the sweep. Resolves
    * the plan (one `.rdd` call, no job) and walks its RDD lineage. */
  def rddIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.map(_.rdd).flatMap(walk).toSet + r.id
    walk(df.rdd)
  }
}
