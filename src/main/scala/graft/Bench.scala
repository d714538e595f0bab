package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every battery query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver. Each query is forced through the
  * noop sink so the full plan (not a count-pruned variant) executes.
  */
object Bench {
  /** Millisecond precision is plenty for seconds-scale timings and keeps
    * the single stdout JSON line ~40% shorter (full double toString emits
    * 15+ digits/query x 92 queries — long lines are what the driver's
    * tail capture truncated in BENCH_r05). Locale.ROOT: the default
    * locale's decimal COMMA (de_DE etc.) would make the JSON line the
    * driver parses invalid.
    */
  private def fmt(v: Double): String =
    if (v < 0) "-1.0"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Per-query times parsed from one bench-record file; empty when the
    * file's recorded "sf" contradicts `expectedSf` (cross-scale
    * comparisons would mis-trigger the outlier guard on every query).
    * Tolerant: unreadable/truncated JSON degrades to empty. */
  private def parseTimes(
      f: java.io.File, expectedSf: Option[String]): Map[String, Double] = try {
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val sfRe = """"sf"\s*:\s*"([^"]*)"""".r
    val sfOk = (expectedSf, sfRe.findFirstMatchIn(txt)) match {
      case (Some(want), Some(m)) => m.group(1) == want
      case _ => true // either side unknown -> trust the file
    }
    if (!sfOk) Map.empty[String, Double]
    else {
      val re = """"(q\d+\w*)"\s*:\s*(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)""".r
      re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  } catch { case _: Throwable => Map.empty[String, Double] }

  /** Per-query times from the newest BENCH_r*.json in the working dir
    * (the repo root when the driver runs us), as the previous-round
    * reference for the outlier guard. "Newest" sorts the round number
    * NUMERICALLY (lexicographic would pin r99 above r100 forever).
    * The driver's tail capture can truncate the HEAD of a round
    * record's stdout JSON (BENCH_r05 lost q01-q21, r06 lost q01-q13),
    * so the untruncated [[LocalRecord]] the previous full run wrote is
    * merged underneath: the round file wins overlaps, the local record
    * fills the lost head. Tolerant parse: missing dir, no files,
    * truncated JSON all degrade to "no prior" (guard disabled).
    */
  private[graft] def priorRoundTimes(
      dir: java.io.File = new java.io.File("."),
      expectedSf: Option[String] = None): Map[String, Double] = try {
    val benches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toLong)
    val fromRound = benches.lastOption
      .map(parseTimes(_, expectedSf)).getOrElse(Map.empty[String, Double])
    val fromLocal = parseTimes(new java.io.File(dir, LocalRecord), expectedSf)
    // Freshness: the round file is the driver's (possibly head-truncated)
    // capture of the SAME stdout line the local record holds, so when the
    // two are from the same run every overlapping per-query value is
    // IDENTICAL. A stale local record from an older run disagrees on the
    // overlap (ms-precision timings never repeat) — backfilling it would
    // inject outdated priors for exactly the queries the round file lost.
    // EXCEPTION: a budget-TRUNCATED round record is BY DESIGN a
    // different run than the canonical closing sweep (which alone
    // writes the local record) — its partial map must not evict the
    // full canonical priors for the skipped tail.
    val roundTruncated = benches.lastOption.exists { f =>
      try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("\"truncated\":true")
      catch { case _: Throwable => false }
    }
    val sameRun = fromRound.isEmpty || roundTruncated || {
      val common = fromLocal.keySet & fromRound.keySet
      common.nonEmpty && common.forall(k => fromLocal(k) == fromRound(k))
    }
    (if (sameRun) fromLocal else Map.empty[String, Double]) ++ fromRound
  } catch { case _: Throwable => Map.empty[String, Double] }

  /** The untruncatable bench record: the driver captures only the TAIL
    * of stdout, and the single summary JSON line is long enough that
    * the head of the per-query map gets cut (BENCH_r05/r06 lost the
    * first 13-21 queries — a record-keeping gap, not a measurement
    * one). Every FULL battery run therefore also writes the identical
    * JSON to this file in the working dir, where the judge and the
    * next round's outlier guard read all 92 values. Partial runs
    * (explicit query args) never write it — a 3-query dev loop must
    * not shadow the full record. */
  private[graft] val LocalRecord = "BENCH_LOCAL.json"

  /** The TIMEOUT-survivable bench record (VERDICT r16 item 1: the
    * round-16 driver bench hit its envelope mid-battery and, because
    * Bench emitted everything at the END, the round's official record
    * is null): every per-query timing APPENDS here the moment it
    * lands, one JSON object per line, so a killed run still leaves
    * every completed measurement on disk. Truncated at full-run
    * start; partial (dev) invocations don't touch it, mirroring
    * [[LocalRecord]]. Lines: {"pass":"pass1|pass2|final","q":...,
    * "sec":...} plus one closing {"pass":"summary",...} identical to
    * the stdout summary. A reader reconstructs a usable ledger from
    * any prefix: min over pass1/pass2 per query, `final` winning
    * where present. */
  private[graft] val ProgressRecord = "BENCH_PROGRESS.jsonl"

  private var progressEnabled = false
  private def progressInit(): Unit = {
    progressEnabled = true
    try java.nio.file.Files.write(java.nio.file.Paths.get(ProgressRecord),
      Array.empty[Byte])
    catch { case e: Throwable =>
      progressEnabled = false
      System.err.println(s"[bench] no progress record: ${e.getMessage}")
    }
  }
  private def progress(line: String): Unit = if (progressEnabled) {
    try java.nio.file.Files.write(java.nio.file.Paths.get(ProgressRecord),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () } // never let bookkeeping kill a sweep
  }

  /** Host-speed CANARY: a fixed, single-thread, allocation-free
    * integer hash loop (the SplitMix64 finalizer over 2^28 steps),
    * reported in seconds. Pure ALU work — no memory traffic, no
    * syscalls — so the number tracks the core's effective frequency
    * class and nothing else. Stamped into every bench record as
    * `host_speed`: when it sits outside the healthy band recorded in
    * BENCH_NOTES.md, the window is degraded and cross-round per-query
    * deltas are window artifacts, not code — the r9–r15
    * adjudication-by-essay replaced by one number. Min of 3 timed
    * runs after one discarded JIT-warm run; sampled before AND after
    * the battery (a window can degrade mid-run), the min reported. */
  private[graft] def hostSpeed(): Double = {
    def once(): Double = {
      val n = 1 << 28
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < n) {
        h += 0x9E3779B97F4A7C15L
        var z = h
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        h ^= z ^ (z >>> 31)
        i += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // consume h so the JIT cannot eliminate the loop
      if (h == 0x1234L) System.err.println("[bench] canary sentinel")
      sec
    }
    once() // JIT warm, discarded
    Seq(once(), once(), once()).min
  }

  /** PARALLEL-throughput CANARY — the steal-time detector the other
    * two canaries cannot be (r16 lesson: a window inflated a full
    * sweep 1.3x uniformly while host_speed AND fs_speed sat in band —
    * single-thread ALU and fs metadata were fine; what degraded was
    * the box's ability to run 32 threads AT ONCE, exactly what every
    * Spark stage does). 32 threads each run the SplitMix64 loop at
    * 1/8 the single-thread length (total work 4x host_speed's); on an
    * uncontended 32-vCPU box the wall is ~host_speed/2, under
    * steal/oversubscription it inflates toward the serialized time.
    * Reported in seconds, min of 3 after a warm run. Compare
    * cross-round sweep deltas only when all THREE canaries are in
    * band. */
  private[graft] def parSpeed(threads: Int = 32): Double = {
    def once(): Double = {
      val n = 1 << 25
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { tid =>
        val th = new Thread(() => {
          var h = 0x9E3779B97F4A7C15L + tid
          var i = 0
          while (i < n) {
            h += 0x9E3779B97F4A7C15L
            var z = h
            z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
            z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
            h ^= z ^ (z >>> 31)
            i += 1
          }
          if (h == 0x1234L) System.err.println("[bench] par canary sentinel")
        })
        th.setDaemon(true); th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    once() // JIT warm, discarded
    Seq(once(), once(), once()).min
  }

  /** Filesystem-speed CANARY, the host_speed sibling for the SCENARIO
    * section: scenario walls are dominated by tiny-file commits,
    * renames, and listings — fs-side degradation the CPU canary
    * cannot see (the r16 ledger found untouched scenarios ~15% slower
    * in a CPU-healthy window). One run = create 1000 small files,
    * rename each, list the dir, delete everything; reported in
    * seconds, min of 3 runs. Compare scenario-section deltas only
    * when BOTH canaries sit in their healthy bands. */
  private[graft] def fsSpeed(): Double = {
    def once(): Double = {
      val dir = graft.TempDirs.create("graft_fs_canary")
      val t0 = System.nanoTime()
      val payload = ("x" * 256).getBytes("UTF-8")
      var i = 0
      while (i < 1000) {
        val p = dir.resolve(s"f$i")
        java.nio.file.Files.write(p, payload)
        java.nio.file.Files.move(p, dir.resolve(s"g$i"))
        i += 1
      }
      // Files.list holds a directory stream open until closed — leak-free
      // via try/finally (the bench JVM runs 4 canary samples per sweep)
      def listed[A](f: java.util.stream.Stream[java.nio.file.Path] => A): A = {
        val s = java.nio.file.Files.list(dir)
        try f(s) finally s.close()
      }
      val n = listed(_.count())
      val sec = (System.nanoTime() - t0) / 1e9
      if (n != 1000L) System.err.println(s"[bench] fs canary anomaly: $n files")
      // cleanup outside the timed span
      listed(_.forEach(p => { java.nio.file.Files.delete(p); () }))
      java.nio.file.Files.delete(dir)
      sec
    }
    once() // warm (dentry caches, JIT), discarded
    Seq(once(), once(), once()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (args.isEmpty) progressInit()
    val hostStart = hostSpeed()
    System.err.println(f"[bench] host_speed(start): $hostStart%.3fs")
    val fsStart = fsSpeed()
    System.err.println(f"[bench] fs_speed(start): $fsStart%.3fs")
    val parStart = parSpeed()
    System.err.println(f"[bench] par_speed(start): $parStart%.3fs")
    progress(s"""{"pass":"canary","host_speed":${fmt(hostStart)},"fs_speed":${fmt(fsStart)},"par_speed":${fmt(parStart)}}""")

    // Warm pass on the TARGET dir: first execution of each plan pays
    // 10-35s of one-time JVM cost (JIT, whole-stage-codegen compile,
    // parquet footer + OS page-cache reads) that is not query
    // throughput. Steady-state per-query time is what scales to a
    // cluster, so warm once, then time two full passes and keep the
    // per-query min. CacheReset before each run keeps materializing
    // operators (near-dup fingerprint localCheckpoint reuse) honest —
    // a timed run must not read a previous run's stored blocks — and
    // bounds storage growth across the 92-query battery.
    def once(fn: (SparkSession, String) => DataFrame): Double = {
      CacheReset(spark)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // optional args: query names to bench (default all) — lets a dev
    // iterate on one hot query without paying for the full battery.
    // NUMERIC order (q01…q197, not alphabetical — alphabetical put
    // q100-q185's scenario-heavy range before q20-q99 and burned the
    // r17 driver envelope on fixtures before the parity core ever
    // measured): under a budget the contiguous measured prefix is the
    // parity pipeline + cheap battery first, scenarios last.
    val selected = SparkEntry.queries.toSeq
      .sortBy { case (n, _) =>
        (n.drop(1).takeWhile(_.isDigit).toLong, n) }
      .filter { case (n, _) => args.isEmpty || args.contains(n) }

    // WALL-CLOCK SELF-DEADLINE (VERDICT r17 #1: two consecutive rounds
    // of rc=124 prove the full 2-pass sweep exceeds the driver's bench
    // envelope, and a killed run leaves a null official record no
    // matter how good the incremental JSONL is). GRAFT_BENCH_BUDGET_SEC
    // bounds the whole main: the battery admits queries only while the
    // PROJECTED finish (elapsed + warm + 2 timed passes, estimated
    // from the previous round's per-query times) fits inside the
    // budget minus a reserve for the pipeline section and the closing
    // canaries — then EMITS the final parseable JSON with
    // "truncated":true and the un-measured tail counted as skipped.
    // A self-truncated record beats a killed run every time. 0 (or
    // any non-positive value) = unlimited — the canonical closing
    // sweep sets that explicitly; dev invocations with explicit query
    // args are unlimited too.
    val budget = sys.env.get("GRAFT_BENCH_BUDGET_SEC").map(_.toDouble)
      .getOrElse(if (args.isEmpty) 1200.0 else 0.0)
    val unlimited = budget <= 0
    val t0Main = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0Main) / 1e9
    // the pipeline section is the judge's bench_vs_baseline anchor —
    // reserve it room up front instead of letting the battery eat it
    val pipelineReserve = if (unlimited || args.nonEmpty) 0.0 else 140.0
    val usable =
      if (unlimited) Double.MaxValue else budget - pipelineReserve - 25.0
    val prior = priorRoundTimes(expectedSf = Some(sfDir))
    def est(name: String): Double = prior.get(name).filter(_ > 0)
      .getOrElse(3.0).max(0.5)

    // Admission: a query is measured only if warm + both timed passes
    // of EVERYTHING admitted so far still fit (warm ≈ 1.5× the prior
    // time + 2s cold overhead; each timed pass ≈ the prior time). Stop
    // at the first overflow (contiguous prefix, no cherry-picking) —
    // with numeric order that drops the expensive scenario tail first.
    var projectedAll = 0.0
    val admitted = scala.collection.mutable.ArrayBuffer
      .empty[(String, (SparkSession, String) => DataFrame)]
    var admitting = true
    selected.foreach { case (name, fn) =>
      val cost = 1.5 * est(name) + 2.0 + 2 * est(name)
      if (admitting && (unlimited ||
          elapsedSec + projectedAll + cost <= usable)) {
        projectedAll += cost
        admitted += ((name, fn))
      } else admitting = false
    }
    val truncatedQs = selected.size - admitted.size
    if (truncatedQs > 0) System.err.println(
      s"[bench] budget ${budget}s admits ${admitted.size}/${selected.size} queries — " +
        s"truncating at ${admitted.lastOption.map(_._1).getOrElse("-")}")

    def pass(label: String): Map[String, Double] =
      admitted.iterator.takeWhile { _ =>
        // estimates can be off — re-check the wall before every timed
        // run; the warm pass already fit inside the admission math
        label == "warm" || unlimited || elapsedSec <= usable
      }.map { case (name, fn) =>
        val sec = try once(fn) catch { case e: Throwable =>
          // label distinguishes warm-pass failures (otherwise invisible —
          // warm results are discarded) from timed-pass failures
          System.err.println(s"[bench] $label $name: ${e.getMessage}")
          -1.0
        }
        if (label != "warm")
          progress(s"""{"pass":"$label","q":"$name","sec":${fmt(sec)}}""")
        name -> sec
      }.toMap
    // Two FULL timed passes (not two back-to-back runs per query), then
    // per-query min across passes: host-contention windows on this box
    // last minutes and inflate a contiguous run of queries 5-10x; two
    // consecutive runs of one query both land inside the window, while
    // the same query in a second full pass lands minutes away from it.
    // Same total cost as min-of-2-consecutive, far better isolation.
    // Scenarios STAY in the warm pass: an A/B sweep without it showed
    // their multi-commit plans carry 20-50% JIT/codegen residue into
    // pass2 (q161 21.7 s vs 9.4 s converged), which would poison every
    // cross-round scenario comparison. BENCH_PROGRESS.jsonl still
    // appends every completed measurement as a second safety net.
    pass("warm")
    val p1m = scala.collection.mutable.Map.empty[String, Double] ++ pass("pass1")
    val p2m = scala.collection.mutable.Map.empty[String, Double] ++ pass("pass2")
    // RE-ADMISSION from the real surplus (VERDICT r18 #1): the static
    // projection above over-reserves ~2x (it charges 3.5x prior + 2s
    // per query up front), so the r18 driver run finished at 729s of
    // its 1200s budget with the q141+ scenario tail never measured.
    // Consume the MEASURED surplus instead of the projected one: after
    // the admitted prefix's two passes, while the wall still fits the
    // next query's projected cost, admit it (contiguous order, no
    // cherry-picking) and run its warm + 2 timed passes back-to-back.
    // Back-to-back passes lose the straddled-window isolation the two
    // full passes give the prefix, but the outlier guard below covers
    // re-admitted queries identically, and a measured-with-caveat tail
    // beats an unmeasured one.
    var readmitted = 0
    if (truncatedQs > 0) {
      var go = true
      selected.drop(admitted.size).foreach { case (name, fn) =>
        val cost = 3.5 * est(name) + 2.0
        if (go && (unlimited || elapsedSec + cost <= usable)) {
          admitted += ((name, fn))
          readmitted += 1
          def one(label: String): Double = {
            val sec = try once(fn) catch { case e: Throwable =>
              System.err.println(s"[bench] $label $name: ${e.getMessage}")
              -1.0
            }
            if (label != "warm")
              progress(s"""{"pass":"$label","q":"$name","sec":${fmt(sec)}}""")
            sec
          }
          one("warm")
          p1m(name) = one("pass1")
          p2m(name) = one("pass2")
        } else go = false
      }
      if (readmitted > 0) System.err.println(
        s"[bench] re-admitted $readmitted skipped queries from the measured surplus " +
          f"(elapsed ${elapsedSec}%.0fs of usable ${usable}%.0fs)")
    }
    val (p1, p2) = (p1m.toMap, p2m.toMap)
    // Outlier guard: a contention window can still straddle BOTH passes
    // of one query (observed: q27 16s in BENCH_r05, 2.4s in isolation —
    // now a permanent wrong number in that round's record). If min-of-2
    // exceeds 3x the same query's previous-round value (and the delta is
    // >1s, so sub-second jitter never triggers it), buy ONE extra timed
    // pass for that query alone and keep the overall min.
    val measured = admitted.filter(kv => p1.contains(kv._1) || p2.contains(kv._1))
    // truncatedQs was the STATIC admission's count; re-admission may
    // have recovered part of that tail, so recount from what actually
    // remains unadmitted plus anything admitted but cut by a wall
    // re-check mid-pass
    val skippedQs = (selected.size - admitted.size) + (admitted.size - measured.size)
    val results = measured.toSeq.map { case (name, fn) =>
      val samples = Seq(p1.get(name), p2.get(name)).flatten.filter(_ >= 0)
      val min2 = if (samples.isEmpty) -1.0 else samples.min
      val retried = prior.get(name) match {
        case Some(prev) if prev > 0 && min2 > 3 * prev && min2 - prev > 1.0 &&
            (unlimited || elapsedSec <= usable) =>
          val extra = try once(fn) catch { case _: Throwable => -1.0 }
          System.err.println(f"[bench] outlier-guard $name: min2=$min2%.2fs prev=$prev%.2fs extra=$extra%.2fs")
          if (extra >= 0) math.min(min2, extra) else min2
        case _ => min2
      }
      // per-query line on stderr: survives even if the driver's tail
      // capture truncates the (long) single-line stdout JSON
      System.err.println(f"[bench] result $name: $retried%.3fs")
      progress(s"""{"pass":"final","q":"$name","sec":${fmt(retried)}}""")
      name -> retried
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // failed queries report the -1.0 sentinel; keep them out of the total
    // so a crash never *reduces* the reported bench time
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // SECTION SPLIT: multi-commit lifecycle scenarios vs single-plan
    // queries. The scenarios' wall measures commit orchestration at
    // deliberately tiny file sizes; totalled together with query
    // plans, the battery total stops meaning anything and a real
    // query-plan regression hides inside scenario noise. Each section
    // gets its own total and worst-5; the regression gate diffs per
    // section.
    val scenNames = graft.analytics.Battery.scenarioNames
    val (scenR, queryR) = results.partition { case (k, _) => scenNames(k) }
    val querySec = queryR.map(_._2).filter(_ >= 0).sum
    val scenarioSec = scenR.map(_._2).filter(_ >= 0).sum
    def worst5Of(rs: Seq[(String, Double)]): String =
      rs.filter(_._2 >= 0).sortBy(-_._2).take(5)
        .map { case (k, v) => "{\"q\":\"" + k + "\",\"sec\":" + fmt(v) + "}" }
        .mkString("[", ",", "]")

    // End-to-end pipeline throughput at the reference's published scale
    // (BASELINE.md: 418,676 rows × 215 cols, 6.55-9.67 min on local[1]
    // ≈ 722-1,065 rows/s). Input generation is untimed; the timed span
    // is scan → silver (materialized, like the reference's silver write)
    // → all six gold tables → run metrics.
    // under a budget the reserve was carved out up front; if the
    // battery's re-checks still left less room than a full min-of-2
    // (~130s at sf0.1), degrade to a single run — a slightly
    // conservative pipeline number beats an absent one (it anchors
    // bench_vs_baseline) — and only a nearly-exhausted budget skips
    val pipelineRoom = if (unlimited) Double.MaxValue else budget - elapsedSec - 15.0
    val pipelineRuns = if (pipelineRoom > 130.0) 2 else if (pipelineRoom > 60.0) 1 else 0
    // pipeline_sec is None when the section was not run (partial dev
    // invocations) — -1.0 stays exclusively the failure sentinel the
    // catch branch records, never "didn't run"
    val (pipeline, pipelineSec) = if ((args.isEmpty || args.contains("pipeline")) && pipelineRuns > 0) {
      try {
        val tsv = graft.TempDirs.create("graft-off-bench").toString + "/off"
        graft.bench.OffTsvGen.generate(spark, tsv)
        val silverPath = tsv + "_silver"
        // one full pipeline run: TSV scan → silver (materialized, like
        // the reference's silver write) → all six gold tables → run
        // metrics → the six reference analytic queries in-engine
        // (requetes_analytiques.sql — the workload MySQL ran for the
        // reference; no timings published there, ours are the baseline)
        def runPipeline(): (Double, Double, Long) = {
          val t0 = System.nanoTime()
          def lap(label: String, start: Long): Long = {
            val now = System.nanoTime()
            System.err.println(f"[bench] pipeline/$label: ${(now - start) / 1e9}%.2fs")
            now
          }
          val bronze = graft.ingest.Ingest.bronzeCsv(spark, tsv)
          val silver = graft.pipeline.OffPipeline.silver(bronze)
          silver.write.mode("overwrite").parquet(silverPath)
          val t1 = lap("silver", t0)
          val silverBack = spark.read.parquet(silverPath)
          val gold = graft.pipeline.OffPipeline.goldMaterialized(silverBack, (name, df) => {
            val p = s"${tsv}_gold_$name"
            df.write.mode("overwrite").parquet(p)
            spark.read.parquet(p)
          })
          val t2 = lap("gold", t1)
          val m = graft.metrics.Metrics.compute(
            silverBack, graft.bench.OffTsvGen.ReferenceRows, 0L, 0L)
          val t3 = lap("metrics", t2)
          val fact = gold("fact_nutrition_snapshot"); val product = gold("dim_product")
          val brand = gold("dim_brand"); val category = gold("dim_category")
          val time = gold("dim_time")
          import graft.analytics.OffQueries
          Seq(
            OffQueries.q1TopBrandsAbShare(fact, product, brand),
            OffQueries.q2GradeByCategory(fact, product, category),
            OffQueries.q3CountryCategorySugar(fact, product, category),
            OffQueries.q4CompletenessByBrand(fact, product, brand),
            OffQueries.q5Anomalies(fact, product, brand),
            OffQueries.q6WeeklyCompleteness(fact, time)
          ).foreach(_.write.format("noop").mode("overwrite").save())
          val t4 = lap("off_queries", t3)
          ((System.nanoTime() - t0) / 1e9, (t4 - t3) / 1e9, m.rowsOut)
        }
        // min-of-2 full runs, same contention-window rationale as the
        // battery passes (the first run doubles as the warm pass for
        // the second, so the steady-state run is what gets reported);
        // a tight remaining budget degrades to one run
        val r1 = runPipeline()
        val r2 = if (pipelineRuns >= 2) runPipeline() else r1
        val (sec, offQSec, rowsOut) = if (r2._1 <= r1._1) r2 else r1
        (s""","pipeline_sec":${fmt(sec)},"pipeline_rows_in":${graft.bench.OffTsvGen.ReferenceRows}""" +
          s""","pipeline_rows_out":$rowsOut,"pipeline_rows_per_sec":${fmt(graft.bench.OffTsvGen.ReferenceRows / sec)}""" +
          s""","off_queries_sec":${fmt(offQSec)}""", Some(sec))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pipeline: ${e.getMessage}")
        (",\"pipeline_sec\":-1.0", Some(-1.0))
      }
    } else ("", None)
    val hostEnd = hostSpeed()
    System.err.println(f"[bench] host_speed(end): $hostEnd%.3fs")
    val host = math.min(hostStart, hostEnd)
    val fsEnd = fsSpeed()
    System.err.println(f"[bench] fs_speed(end): $fsEnd%.3fs")
    val fsS = math.min(fsStart, fsEnd)
    val parEnd = parSpeed()
    System.err.println(f"[bench] par_speed(end): $parEnd%.3fs")
    val par = math.min(parStart, parEnd)
    val truncated = skippedQs > 0
    val sections =
      s""","host_speed":${fmt(host)},"fs_speed":${fmt(fsS)},"par_speed":${fmt(par)}""" +
      s""","query_sec":${fmt(querySec)}""" +
      s""","scenario_sec":${fmt(scenarioSec)}""" +
      s""","worst5_queries":${worst5Of(queryR)}""" +
      s""","worst5_scenarios":${worst5Of(scenR)}""" +
      s""","truncated":$truncated,"skipped":$skippedQs""" +
      // prove the CPU contract in the record (VERDICT r18 #2): the env
      // is honored (master local[$cpus] above) but nothing in the JSON
      // showed it, so the driver's scaling check could not distinguish
      // "honored" from "ignored" when sf0.1's 0.2-6s queries are
      // scheduling-bound and 8 cores ~ 32 cores
      s""","cores":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism}"""
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$nFailed$pipeline$sections,"sf":"$sfDir"}"""
    // a budget-truncated record must NOT shadow the canonical local
    // record: its partial per-query map would poison the next round's
    // outlier-guard priors and the per-section regression gate
    if (args.isEmpty && !truncated) try {
      java.nio.file.Files.write(java.nio.file.Paths.get(LocalRecord),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $LocalRecord: ${e.getMessage}")
    }
    progress(line.replaceFirst("\\{", """{"pass":"summary","""))
    println(line)
    // Tail-survivable summary: the full per-query line above has
    // outgrown the driver's tail capture three rounds running (its
    // `parsed` field has been null since r07 — the capture kept only
    // the line's tail, which no longer parses). Emit a SECOND, short
    // JSON line after it: total/failed/pipeline/worst-5 in <200 chars,
    // short enough for any tail window to hold whole. The full record
    // still lands in BENCH_LOCAL.json (written above) for per-query
    // regression diffs.
    val worst5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "{\"q\":\"" + k + "\",\"sec\":" + fmt(v) + "}" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$nFailed,""" +
      pipelineSec.fold("")(v => s""""pipeline_sec":${fmt(v)},""") +
      s""""host_speed":${fmt(host)},"fs_speed":${fmt(fsS)},"par_speed":${fmt(par)},""" +
      s""""query_sec":${fmt(querySec)},""" +
      s""""scenario_sec":${fmt(scenarioSec)},"truncated":$truncated,""" +
      s""""skipped":$skippedQs,"cores":$cpus,""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""worst5":$worst5,"sf":"$sfDir"}""")
    spark.stop()
  }
}
