package offbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer, the directories,
  * the attempt counts and the metrics gathered so far. */
final class Harness(
    val spark: SparkSession, val tracer: Tracer, val work: Path, val inputs: Path,
    val seed: Long, val seconds: Double, val traced: Boolean, val sessionS: Double) {

  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  /** End-to-end metrics, printed by untraced runs. */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Per-layer metrics, printed by traced runs. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Everything else worth keeping with the run record. */
  val context = mutable.LinkedHashMap.empty[String, Any]
  /** Durations of the timed calls, split by whether tracing was on. */
  val tracedOps = mutable.ArrayBuffer.empty[Double]
  val untracedOps = mutable.ArrayBuffer.empty[Double]

  /** Times one call into the program. A failure counts against the
    * attempts and is never retried. */
  def call[T](what: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = body
      Some((v, (System.nanoTime() - t0) / 1e9))
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$what: $e"
        e.printStackTrace()
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      checkFailures += s"$what: $detail"
      System.err.println(s"[offbench] check failed: $what: $detail")
    }

  /** Wall time of a set-up step. */
  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** The closed timed loop: calls `op(i)` until `seconds` have passed and
    * at least `minOps` calls were made. In a traced run, tracing is on for
    * every other call, so the same run gives the per-layer numbers and the
    * tracing overhead. `op` returns the duration of its timed part, or
    * None when the call failed. */
  def loop(minOps: Int)(op: Int => Option[Double]): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && i % 2 == 0
      tracer.enable(on)
      op(i).foreach { d =>
        out += d
        if (traced) (if (on) tracedOps else untracedOps) += d
      }
      i += 1
    }
    tracer.enable(traced)
    out.toSeq
  }

  /** Inputs of one (generator, seed): made once into a temporary
    * directory, then renamed into place, so a directory that exists is
    * complete. `make` fills the directory and returns the generator's
    * predictions as text. */
  def cachedInput(name: String)(make: Path => String): (Path, String) = {
    val dir = inputs.resolve(s"$name-$seed")
    val truth = dir.resolve("truth.txt")
    if (!Files.exists(truth)) {
      val t0 = System.nanoTime()
      val tmp = inputs.resolve(s".$name-$seed-${ProcessHandle.current().pid()}")
      Harness.delete(tmp)
      Files.createDirectories(tmp)
      val t = make(tmp)
      Files.write(tmp.resolve("truth.txt"), t.getBytes(StandardCharsets.UTF_8))
      Harness.delete(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      context("inputs_s") = (System.nanoTime() - t0) / 1e9
    }
    (dir, new String(Files.readAllBytes(truth), StandardCharsets.UTF_8))
  }

  /** An empty output path under the run's work directory. */
  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Harness.delete(p)
    p
  }

  /** Per-layer numbers every workload reports: JVM totals, failed calls
    * and self time per layer, and the tracing overhead. */
  def finishLayers(): Unit = {
    tracer.drain()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    layers("jvm.gc_s") = gcMs / 1000.0
    layers("jvm.jit_ms") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    layers("jvm.peak_rss_mb") = Harness.peakRssMb
    val spans = tracer.all
    val roots = spans.filter(_.parent < 0)
    Harness.Layers.foreach { l =>
      // per call of the workload: the layer's self time under each
      // top-level span that reaches it, then the median over those calls
      val perRoot = roots.map(r => tracer.subtree(r).filter(_.layer == l))
        .filter(_.nonEmpty).map(_.map(tracer.selfSeconds).sum)
      layers(s"$l.self_s") = if (perRoot.isEmpty) 0.0 else Stats.median(perRoot)
      layers(s"$l.failed_calls") = spans.count(s => s.layer == l && s.failed).toDouble
    }
    layers("trace.overhead_pct") =
      if (tracedOps.isEmpty || untracedOps.isEmpty) 0.0
      else (Stats.median(tracedOps) / Stats.median(untracedOps) - 1.0) * 100.0
  }
}

object Harness {
  /** The program's modules, by the names the per-layer metrics use. */
  val Layers: Seq[String] =
    Seq("ingest", "silver", "star", "metrics", "analytics", "store", "dedup", "operators")

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Peak resident set of this process (Linux), 0 where unknown. */
  def peakRssMb: Double =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
      finally s.close()
    }.getOrElse(0.0)
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 1]. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }
}
