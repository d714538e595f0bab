package graft.tools

/** Repeat-timing harness for single battery queries: runs each named
  * query `reps` times in ONE JVM and prints every sample. Host timing
  * noise on this box makes cross-JVM comparisons useless (2-4x
  * swings); within-JVM repeats with a shared warm cache are the only
  * way to A/B an operator change. Usage:
  *   runMain graft.tools.QueryLoop <sfDir> <reps> <query> [query...]
  */
object QueryLoop {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    // Bench's session (same GraftSession.cpus) — an A/B timed under a
    // different parallelism than the benchmark it explains would mislead.
    // SPARK_GRAFT_CONF A/Bs a conf hypothesis in the same harness:
    // semicolon-separated key=value overrides on top, e.g.
    // SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false"
    val spark = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .foldLeft(graft.GraftSession.builder(graft.GraftSession.cpus)) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job/stage counters: a scenario whose wall is fixed per-job
    // scheduling shows a job count in the hundreds — the lever is
    // then FEWER jobs, not faster ones
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskTime = new java.util.concurrent.atomic.AtomicLong
    val heavy = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          // GRAFT_LOOP_JOBS: one line per job with its call site — the
          // scenario queries' wall is often fixed per-job scheduling,
          // and this attributes each job to the engine call that ran it
          if (sys.env.contains("GRAFT_LOOP_JOBS")) {
            // search EVERY stage of the job for a graft frame —
            // broadcast-exchange builds run under a future whose last
            // stage has no user frames, but an upstream stage usually
            // does
            val site = j.stageInfos.reverseIterator.map { si =>
              si.details.linesIterator
                .filter(_.contains("graft."))
                .take(2).mkString(" <- ").take(160)
            }.find(_.nonEmpty).orElse(
              // broadcast-exchange builds run under a future with no
              // user frames in any stage — fall back to the parent
              // action's callSite carried in the job properties
              Option(j.properties).flatMap(p =>
                Option(p.getProperty("callSite.long")).flatMap(
                  _.linesIterator.find(_.contains("graft.")).map(s =>
                    s.trim.take(160) + " [bcast]"))
                .orElse(Option(p.getProperty("callSite.short"))
                  .map(_ + " [bcast]"))))
              .getOrElse(
                j.stageInfos.lastOption.map(_.name.take(80)).getOrElse("?"))
            val exec = Option(j.properties)
              .map(p => p.getProperty("spark.sql.execution.id", "-"))
              .getOrElse("-")
            System.err.println(
              s"[loop] job ${j.jobId} exec=$exec stages=${j.stageInfos.size} $site")
            jobStart.put(j.jobId, (System.nanoTime(), site))
          }
          ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          // submit→end wall per job: scenario walls are often the SUM of
          // many small jobs' scheduling+planning, and knowing which jobs
          // carry real seconds (vs the count alone) picks the lever
          Option(jobStart.remove(j.jobId)).foreach { case (t0, site) =>
            System.err.println(
              f"[loop] jobend ${j.jobId} sec=${(System.nanoTime() - t0) / 1e9}%.3f $site")
          }
          ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks)
          val rt = s.stageInfo.taskMetrics.executorRunTime
          taskTime.addAndGet(rt)
          heavy.add((s"${s.stageInfo.name.takeWhile(_ != '\n').take(90)} " +
            s"tasks=${s.stageInfo.numTasks}", rt)); ()
        }
      })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val samples = (1 to reps).map { _ =>
        graft.CacheReset(spark)
        // unconditional: without this a session without GRAFT_LOOP_STAGES
        // grows the queue forever, and with it the first sample's top-8
        // mixes in stages from prior queries/warm-up
        heavy.clear()
        val (j0, s0, k0, t0m) =
          (jobs.get(), stages.get(), tasks.get(), taskTime.get())
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[loop] $name sample=$sec%.3f " +
          s"jobs=${jobs.get() - j0} stages=${stages.get() - s0} " +
          s"tasks=${tasks.get() - k0} " +
          f"task_sec=${(taskTime.get() - t0m) / 1e3}%.1f")
        if (sys.env.contains("GRAFT_LOOP_STAGES")) {
          import scala.jdk.CollectionConverters._
          heavy.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (n, rt) =>
            System.err.println(f"[loop]   stage ${rt / 1e3}%7.1fs  $n") }
        }
        sec
      }
      println(f"[loop] $name min=${samples.min}%.3f samples=" +
        samples.map(s => f"$s%.3f").mkString(","))
    }
    spark.stop()
  }
}
