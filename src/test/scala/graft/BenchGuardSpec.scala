package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench outlier guard's previous-round parser: pure JVM, no Spark.
  * The guard's failure mode must always be "no prior" (disabled), never
  * a crash — a broken guard would take the whole benchmark down. */
class BenchGuardSpec extends AnyFunSuite {

  private def tmpDirWith(files: (String, String)*): java.io.File = {
    val d = TempDirs.create("benchguard").toFile
    files.foreach { case (name, body) =>
      Files.writeString(new java.io.File(d, name).toPath, body)
    }
    d
  }

  test("scenario section: every scenario name is a registered battery query") {
    val all = graft.analytics.Battery.all.map(_.name).toSet
    val scen = graft.analytics.Battery.scenarioNames
    assert(scen.nonEmpty && scen.subsetOf(all), (scen -- all).toString)
    // spot pins: the heaviest lifecycle is a scenario, the flagship
    // single-plan query is not
    assert(scen.contains("q190_manifest_maintenance"))
    assert(!scen.contains("q01_pricing_summary"))
  }

  test("host-speed canary: positive bounded seconds, deterministic work") {
    val s = Bench.hostSpeed()
    assert(s > 0.0 && s < 60.0, s.toString)
  }

  test("picks the newest BENCH_r file and parses per-query seconds") {
    val d = tmpDirWith(
      "BENCH_r04.json" -> """{"queries":{"q01_x":9.0}}""",
      "BENCH_r05.json" ->
        """{"metric":"total","value":1.5,"queries":{"q01_x":1.25,"q27_y":2.950},"failed":0}""")
    val got = Bench.priorRoundTimes(d)
    assert(got == Map("q01_x" -> 1.25, "q27_y" -> 2.95))
  }

  test("TRUNCATED json (the BENCH_r05 tail-capture case) still yields the surviving entries") {
    val d = tmpDirWith(
      "BENCH_r05.json" -> """_sample":0.183,"q49_unpivot":1.319,"q50_topk":0.3""")
    // q49 is complete in the fragment; the cut-off q50 value still parses
    // as a number prefix — both usable, neither fatal
    val got = Bench.priorRoundTimes(d)
    assert(got.get("q49_unpivot").contains(1.319))
  }

  test("round numbers sort numerically — r100 is newer than r99") {
    val d = tmpDirWith(
      "BENCH_r99.json" -> """{"queries":{"q01_x":9.9}}""",
      "BENCH_r100.json" -> """{"queries":{"q01_x":1.0}}""")
    assert(Bench.priorRoundTimes(d) == Map("q01_x" -> 1.0))
  }

  test("a prior recorded at a different scale factor is discarded") {
    val d = tmpDirWith(
      "BENCH_r05.json" -> """{"queries":{"q01_x":1.0},"sf":"/root/testdata/sf0.01"}""")
    assert(Bench.priorRoundTimes(d, expectedSf = Some("/root/testdata/sf0.1")).isEmpty)
    assert(Bench.priorRoundTimes(d, expectedSf = Some("/root/testdata/sf0.01")).nonEmpty)
    // file without an sf field -> trusted (pre-guard rounds)
    val d2 = tmpDirWith("BENCH_r05.json" -> """{"queries":{"q01_x":1.0}}""")
    assert(Bench.priorRoundTimes(d2, expectedSf = Some("x")).nonEmpty)
  }

  test("BENCH_LOCAL.json fills the truncated head when it is the same run's record") {
    val d = tmpDirWith(
      // round record lost its head to the tail capture — only q27 survives
      "BENCH_r06.json" -> """_neardup":2.1,"q27_y":2.290},"failed":0}""",
      // the untruncated local record of the SAME run: overlap identical
      "BENCH_LOCAL.json" -> """{"queries":{"q01_x":0.5,"q27_y":2.290},"failed":0}""")
    val got = Bench.priorRoundTimes(d)
    assert(got.get("q01_x").contains(0.5), got)   // head restored from local
    assert(got.get("q27_y").contains(2.29), got)
    // local record at the wrong sf is discarded like any other prior
    val d2 = tmpDirWith(
      "BENCH_LOCAL.json" -> """{"queries":{"q01_x":0.5},"sf":"/root/testdata/sf0.01"}""")
    assert(Bench.priorRoundTimes(d2, expectedSf = Some("/root/testdata/sf0.1")).isEmpty)
  }

  test("a STALE local record (overlap disagrees with the round file) is not backfilled") {
    // ms-precision timings never repeat across runs, so a disagreeing
    // overlap means the local record is from an OLDER run — backfilling
    // it would inject outdated priors for the queries the round file lost
    val d = tmpDirWith(
      "BENCH_r06.json" -> """_neardup":2.1,"q27_y":2.290},"failed":0}""",
      "BENCH_LOCAL.json" -> """{"queries":{"q01_x":0.5,"q27_y":9.9},"failed":0}""")
    val got = Bench.priorRoundTimes(d)
    assert(got.get("q01_x").isEmpty, got)         // stale head NOT restored
    assert(got.get("q27_y").contains(2.29), got)  // round file still trusted
    // no round file at all -> the local record stands alone
    val d2 = tmpDirWith("BENCH_LOCAL.json" -> """{"queries":{"q01_x":0.5}}""")
    assert(Bench.priorRoundTimes(d2).get("q01_x").contains(0.5))
    // disjoint query sets (nothing to corroborate) -> treated as stale
    val d3 = tmpDirWith(
      "BENCH_r06.json" -> """{"queries":{"q27_y":2.290}}""",
      "BENCH_LOCAL.json" -> """{"queries":{"q01_x":0.5}}""")
    assert(Bench.priorRoundTimes(d3) == Map("q27_y" -> 2.29))
  }

  test("missing dir, empty dir, and junk files all degrade to no-prior") {
    assert(Bench.priorRoundTimes(new java.io.File("/nonexistent-xyz")).isEmpty)
    assert(Bench.priorRoundTimes(tmpDirWith()).isEmpty)
    assert(Bench.priorRoundTimes(tmpDirWith("BENCH_r05.json" -> "not json at all")).isEmpty)
    assert(Bench.priorRoundTimes(tmpDirWith("OTHER.json" -> """{"q01_x":1.0}""")).isEmpty)
  }
}
