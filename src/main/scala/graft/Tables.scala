package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md):
  * tables region, nation, customer, supplier, part, orders, lineitem,
  * events, documents, embeddings — one parquet file each under an sf dir.
  */
object Tables {
  /** Engine contract: `events.ts` is nanos-since-epoch (LongType) — every
    * downstream consumer (q36/q42/q56, StreamOps, AsOfJoinPlan) does integer
    * nanos arithmetic on it. The driver's parquet has stored `ts` as
    * TIMESTAMP(NANOS) (round ≤8, loaded as Long via the `nanosAsLong` legacy
    * flag) and as TIMESTAMP(MICROS, isAdjustedToUTC=0) (round 9, loaded as
    * TIMESTAMP_NTZ — which broke nanos arithmetic at analysis). Normalize at
    * the load boundary so the physical unit the driver happens to pick never
    * reaches query code:
    *   - LongType           → already nanos, pass through;
    *   - TIMESTAMP_NTZ      → wall-clock; sessions pin timeZone=UTC, so the
    *                          NTZ→TZ cast is UTC-stable → unix_micros*1000;
    *   - TimestampType      → unix_micros*1000 directly.
    * The DuckDB oracle reads the same parquet natively (`epoch_ns(ts)`,
    * `CAST(ts AS DATE)`), so only the Spark side needs this shim. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampNTZType) =>
        df.withColumn("ts", (unix_micros(col("ts").cast(TimestampType)) * 1000L).cast(LongType))
      case Some(TimestampType) =>
        df.withColumn("ts", (unix_micros(col("ts")) * 1000L).cast(LongType))
      case Some(other) =>
        // fail loud: a blind cast would turn a double-seconds or string
        // ts into wrong-unit "nanos" feeding integer arithmetic — a new
        // driver encoding must surface at LOAD, not as wrong results
        throw new IllegalArgumentException(
          s"events.ts has unsupported type $other — expected LongType " +
            "(nanos), TimestampType, or TimestampNTZType; extend " +
            "Tables.normalizeTs for the new driver encoding")
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
}
