package offbench

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.ConnectedComponents

/** `neardup`: a seeded corpus with planted clusters of near-duplicates
  * goes through `Dedup.verifiedNearDupPairs`, then
  * `ConnectedComponents.components` with its default threshold. Measures
  * dedup, the shingle-hash functions and the operators (with their
  * `localCheckpoint` sites), which the other workloads never reach. No
  * CSV and no store. */
object NearDup {

  val Docs = 10000
  val Clusters = 500
  /** Copies per planted cluster besides its base document. */
  val Variants = 4
  /** Verified-pair cut, as `graft.text.Curation.nearDedupClustered` uses. */
  val Jaccard = 0.5

  def run(h: Harness): Unit = {
    val spark = h.spark
    val (dir, truth) = h.cachedInput(s"corpus$Docs") { tmp =>
      spark.createDataFrame(Gen.nearDupCorpus(Docs, Clusters, Variants, h.seed).toSeq)
        .toDF("id", "text").write.parquet(tmp.resolve("corpus").toString)
      Clusters.toString
    }
    val planted = truth.trim.toLong
    // no set-up beyond the session: the corpus itself is the input
    h.metrics("setup_s") = h.sessionS
    val docs = spark.read.parquet(dir.resolve("corpus").toString)

    var candidates = 0L
    var verified = 0L
    def round(i: Int): Option[Double] =
      h.call("neardup round")(h.tracer.span("run", "round") {
        val pairs = h.tracer.span("dedup", "pairs") {
          Dedup.verifiedNearDupPairs(docs, "id", "text", Dedup.CharShingles(5)).localCheckpoint()
        }
        val counts = h.tracer.span("dedup", "count") {
          pairs.agg(count(lit(1)), sum(when(col("jaccard") >= Jaccard, 1L).otherwise(0L))).head()
        }
        val comps = h.tracer.span("operators", "cc") {
          ConnectedComponents.components(
            pairs.filter(col("jaccard") >= Jaccard).select("id_a", "id_b"))
            .agg(countDistinct(col("comp"))).head().getLong(0)
        }
        (counts.getLong(0), counts.getLong(1), comps)
      }).map { case ((c, v, comps), d) =>
        candidates = c
        verified = v
        h.check(s"neardup components $i", comps == planted, s"$comps != $planted planted clusters")
        d
      }

    h.tracer.enable(false)
    val cold = round(0)
    require(cold.nonEmpty, "the cold round failed")
    h.layers("jvm.cold_s") = cold.get
    round(1) // rounds keep getting faster after the cold one; not timed
    val rounds = h.loop(minOps = 3)(i => round(i + 2))
    require(rounds.nonEmpty, "no round succeeded")
    h.metrics("p50_ms") = Stats.median(rounds) * 1000.0
    h.metrics("rate_per_s") = Docs / Stats.median(rounds)
    h.context ++= Seq("cold_s" -> cold.get, "round_s" -> rounds, "candidate_pairs" -> candidates,
      "verified_pairs" -> verified)
    h.layers("dedup.candidate_pairs") = candidates.toDouble
    h.layers("dedup.verified_pairs") = verified.toDouble
    h.layers("dedup.verify_ratio") = if (candidates == 0) 0.0 else verified.toDouble / candidates
    if (h.traced) {
      h.tracer.drain()
      val t = h.tracer
      val pairs = t.named("dedup", "pairs").filterNot(_.failed)
      val dedup = pairs ++ t.named("dedup", "count").filterNot(_.failed)
      val cc = t.named("operators", "cc").filterNot(_.failed)
      val n = pairs.size.max(1)
      h.layers("dedup.pairs_s") = Stats.median(pairs.map(_.seconds))
      h.layers("dedup.task_s") = dedup.map(t.inclusive(_).taskMs).sum / 1000.0 / n
      h.layers("dedup.shuffle_bytes") = dedup.map(t.inclusive(_).shuffleBytes).sum.toDouble / n
      h.layers("operators.cc_s") = Stats.median(cc.map(_.seconds))
      h.layers("operators.cc_jobs") = Stats.median(cc.map(t.inclusive(_).jobs.toDouble))
      h.layers("operators.cc_task_s") = Stats.median(cc.map(t.inclusive(_).taskMs / 1000.0))
    }
  }
}
