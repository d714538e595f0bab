package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.{Blocking, CapReport}

/** The safety valves report their truncation by default: a capped run
  * carries a CollectMetrics observation whose numbers survive to
  * `queryExecution.observedMetrics` (and the session listener logs
  * them) — silent truncation is the failure mode this closes. */
class CapReportSpec extends SparkTestBase {
  import spark.implicits._

  test("a capped LSH run surfaces the excluded-bucket report") {
    // 4 identical docs (one hot bucket per band) + 2 singletons
    val docs = (Seq.fill(4)("all the same text here") ++
      Seq("first unique document", "second distinct other"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val banded = Dedup.bandedSigs(
      Dedup.hashedDocs(docs, "doc_id", "text", Dedup.CharShingles(4)), 4, 2)
    val pairs = Dedup.candidatePairsFromBanded(banded, maxBucketSize = 3)
    pairs.collect()
    // NOTE metricsOf, not qe.observedMetrics: this query's result is
    // EMPTY (the only pairs were in the excluded hot bucket), so AQE's
    // empty-relation propagation erased the CollectMetricsExec from the
    // final plan — the exact case where silent truncation would hide
    val reports = CapReport.metricsOf(pairs).collect {
      case (name, row) if name.startsWith(CapReport.MetricPrefix + "lsh_buckets") => row
    }
    assert(reports.size == 1, CapReport.metricsOf(pairs).keys)
    val r = reports.head
    assert(r.getAs[Long]("excluded_groups") == 4L, r)   // the hot bucket, once per band
    assert(r.getAs[Long]("excluded_rows") == 16L, r)    // 4 docs x 4 bands
    assert(r.getAs[Long]("max_group") == 4L, r)
    assert(r.getAs[Long]("cap") == 3L, r)
    // and the warning text is loud and actionable
    val msg = CapReport.format(CapReport.MetricPrefix + "lsh_buckets#9", r)
    assert(msg.exists(m => m.contains("CAPPED RUN") && m.contains("lsh_buckets")
      && m.contains("4 group(s)") && m.contains("cap=3")), msg)
  }

  test("a capped blocking run surfaces the excluded-block report") {
    val df = (Seq.fill(5)(("hot", "x")) ++ Seq(("cold", "y"), ("cold", "z")))
      .zipWithIndex.map { case ((b, v), i) => (i.toLong, b, v) }
      .toDF("id", "block", "v")
    val pairs = Blocking.selfPairs(df, "id", Seq("block"), maxBlockSize = 4)
    pairs.collect()
    val reports = CapReport.metricsOf(pairs).collect {
      case (name, row) if name.startsWith(CapReport.MetricPrefix + "match_blocks") => row
    }
    assert(reports.size == 1)
    assert(reports.head.getAs[Long]("excluded_groups") == 1L)
    assert(reports.head.getAs[Long]("excluded_rows") == 5L)
  }

  test("nothing dropped → no warning; uncapped → no observation at all") {
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](0L, 0L, 7L, 100L),
      org.apache.spark.sql.types.StructType(
        Seq("excluded_groups", "excluded_rows", "max_group", "cap").map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType))))
    assert(CapReport.format(CapReport.MetricPrefix + "lsh_buckets#1", row).isEmpty)
    // non-graft observations are ignored by the formatter
    assert(CapReport.format("user.metric", row).isEmpty)
    // ... including ones that lack the cap fields (Store's `retro`
    // observation rides the same queries as a capped operator)
    val retro = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](3L),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("retro",
          org.apache.spark.sql.types.LongType))))
    assert(CapReport.format("retro", retro).isEmpty)

    val docs = Seq((1L, "aaa bbb"), (2L, "ccc ddd")).toDF("doc_id", "text")
    val banded = Dedup.bandedSigs(
      Dedup.hashedDocs(docs, "doc_id", "text", Dedup.CharShingles(3)), 2, 2)
    val pairs = Dedup.candidatePairsFromBanded(banded) // uncapped
    pairs.collect()
    assert(!CapReport.metricsOf(pairs).keys.exists(_.startsWith(CapReport.MetricPrefix)))
  }

  test("capped results still exclude the hot groups' pairs (behavior unchanged)") {
    val docs = (Seq.fill(4)("all the same text here") ++
      Seq("first unique document", "second distinct other"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val banded = Dedup.bandedSigs(
      Dedup.hashedDocs(docs, "doc_id", "text", Dedup.CharShingles(4)), 4, 2)
    val capped = Dedup.candidatePairsFromBanded(banded, maxBucketSize = 3)
      .as[(Long, Long)].collect().toSet
    // the 4-doc hot bucket's 6 pairs are gone; nothing else paired
    assert(capped.isEmpty, capped)
    val uncapped = Dedup.candidatePairsFromBanded(banded).as[(Long, Long)].collect().toSet
    assert(uncapped.size == 6, uncapped)
  }
}
