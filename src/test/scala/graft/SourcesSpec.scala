package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink breadth beyond parquet: ORC, JSON lines, and CSV
  * round-trips preserve values (JSON/CSV lose type information by
  * design — re-read with the explicit schema, the engine's contract
  * for schema-on-read formats, SURVEY §1.3). */
class SourcesSpec extends SparkTestBase {

  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    .withColumn("o_orderdate", col("o_orderdate").cast("string")) // format-stable
    .orderBy("o_orderkey")

  private def tmp(tag: String): String =
    TempDirs.create(s"graft-src-$tag").toString + "/t"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("o_orderkey").collect().map(_.toSeq.toList).toList

  test("ORC round-trip preserves schema and values (Ingest.orc)") {
    val p = tmp("orc")
    orders.write.orc(p)
    val back = graft.ingest.Ingest.orc(spark, p)
    assert(back.schema == orders.schema)
    assert(rows(back) == rows(orders))
  }

  test("JSON-lines round-trip preserves values under the explicit schema (Ingest.jsonLines)") {
    val p = tmp("json")
    orders.write.json(p)
    val back = graft.ingest.Ingest.jsonLines(spark, p, Some(orders.schema))
    assert(rows(back) == rows(orders))
    // schema-less read infers (interactive convenience, documented cost)
    assert(graft.ingest.Ingest.jsonLines(spark, p).count() == orders.count())
  }

  test("CSV round-trip preserves values under the explicit schema") {
    val p = tmp("csv")
    orders.write.option("header", "true").csv(p)
    val back = spark.read.option("header", "true").schema(orders.schema).csv(p)
    assert(rows(back) == rows(orders))
  }

  test("schema-on-read contract: CSV without a schema lands all-string (reference parity)") {
    val p = tmp("csv2")
    orders.limit(10).write.option("header", "true").csv(p)
    val inferredOff = spark.read.option("header", "true").csv(p)
    assert(inferredOff.schema.fields.forall(_.dataType == StringType))
  }
}
