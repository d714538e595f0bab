package offbench

/** Per-layer metrics computed from spans. Each figure is the median over
  * the calls of one kind, so a single slow call does not move it. A
  * metric a workload does not set is 0 in the printed result: that layer
  * did no work. */
object Layers {

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Silver, star and metrics figures of pipeline passes: `roots` are the
    * spans whose children are the silver, gold and metrics calls. */
  def pipeline(h: Harness, roots: Seq[Span]): Unit = {
    val t = h.tracer
    t.drain()
    val kids = roots.map(t.children)
    def of(layer: String, name: String) =
      kids.flatMap(_.filter(s => s.layer == layer && s.name == name && !s.failed))
    val silver = of("silver", "silver")
    val silverC = silver.map(t.inclusive)
    h.layers("silver.wall_s") = med(silver.map(_.seconds))
    h.layers("silver.tasks") = med(silverC.map(_.tasks.toDouble))
    h.layers("silver.max_task_s") = med(silverC.map(_.maxTaskMs / 1000.0))
    h.layers("silver.task_s") = med(silverC.map(_.taskMs / 1000.0))
    h.layers("silver.shuffle_bytes") = med(silverC.map(_.shuffleBytes.toDouble))
    val gold = of("star", "gold")
    val goldC = gold.map(t.inclusive)
    def table(n: String) = gold.flatMap(g => t.children(g).filter(_.name == n)).map(_.seconds)
    h.layers("star.wall_s") = med(gold.map(_.seconds))
    h.layers("star.fact_s") = med(table("fact_nutrition_snapshot"))
    h.layers("star.dim_product_s") = med(table("dim_product"))
    h.layers("star.jobs") = med(goldC.map(_.jobs.toDouble))
    h.layers("star.task_s") = med(goldC.map(_.taskMs / 1000.0))
    h.layers("star.shuffle_bytes") = med(goldC.map(_.shuffleBytes.toDouble))
    h.layers("metrics.wall_s") = med(of("metrics", "compute").map(_.seconds))
  }

  /** Per-query figures of the traced analytic queries named `names`. */
  def analytics(h: Harness, names: Seq[String]): Unit = {
    val t = h.tracer
    t.drain()
    val spans = names.flatMap(n => t.named("analytics", n)).filterNot(_.failed)
    if (spans.nonEmpty) {
      names.foreach { n =>
        val xs = t.named("analytics", n).filterNot(_.failed).map(_.seconds * 1000.0)
        h.layers(s"analytics.${n}_p50_ms") = med(xs)
      }
      val c = spans.map(t.inclusive)
      h.layers("analytics.query_p90_ms") = Stats.percentile(spans.map(_.seconds * 1000.0), 0.9)
      h.layers("analytics.planning_ms") = Stats.median(spans.map(t.planningMs))
      h.layers("analytics.jobs_per_query") = c.map(_.jobs).sum.toDouble / c.size
      h.layers("analytics.task_s_per_query") = c.map(_.taskMs).sum / 1000.0 / c.size
      h.layers("analytics.scan_bytes_per_query") = c.map(_.inputBytes).sum.toDouble / c.size
      h.layers("analytics.driver_gap_ms") = Stats.median(spans.map(t.driverGapMs))
    }
  }

  /** Figures of the traced bronze-only scans. */
  def ingest(h: Harness): Unit = {
    val t = h.tracer
    t.drain()
    val spans = t.named("ingest", "scan").filterNot(_.failed)
    h.layers("ingest.scan_s") = med(spans.map(_.seconds))
    h.layers("ingest.scan_tasks") = med(spans.map(t.inclusive(_).tasks.toDouble))
    h.layers("ingest.task_s") = med(spans.map(t.inclusive(_).taskMs / 1000.0))
  }
}
