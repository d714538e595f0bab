package offbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer of the program. Times are wall-clock ms (to
  * line up with Spark's job events) plus a nanosecond duration. */
final case class Span(id: Int, parent: Int, layer: String, name: String, startMs: Long) {
  var endMs: Long = startMs
  var durNs: Long = 0L
  var failed: Boolean = false
  def seconds: Double = durNs / 1e9
}

/** Spark work attributed to one span. */
final class Counts {
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var maxTaskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** Spans around the benchmark's calls into the program, and Spark counts
  * keyed by span through a per-call job group. While off, `span` only
  * runs its body and no listener is registered, so untraced calls pay
  * nothing. Everything stays in memory until [[write]]. */
final class Tracer(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  private val groupPrefix = s"offbench-$runId-"
  private var on = false
  private var nextId = 0
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  // (first phase start ms, last phase end ms, summed phase ms) per query execution
  private val planning = new ConcurrentLinkedQueue[(Long, Long, Double)]()

  private def countsOf(id: Int): Counts = counts.computeIfAbsent(id, _ => new Counts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null && group.startsWith(groupPrefix)) {
        val id = group.substring(groupPrefix.length).toInt
        jobSpan.put(e.jobId, (id, e.time))
        e.stageIds.foreach(s => stageSpan.put(s, Integer.valueOf(id)))
        val c = countsOf(id)
        c.synchronized { c.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, t0) =>
        val c = countsOf(id)
        c.synchronized { c.jobIntervals += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null) {
        val c = countsOf(id)
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.taskMs += m.executorRunTime
            c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planning.add((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
          phases.map(_.durationMs.toDouble).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Turns recording on or off; used to alternate traced and untraced
    * calls inside one run, which measures the tracing overhead. */
  def enable(flag: Boolean): Unit = if (flag != on) {
    if (flag) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
    }
    on = flag
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1), layer, name,
        System.currentTimeMillis())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupPrefix + s.id, s"$layer.$name", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      catch { case t: Throwable => s.failed = true; throw t }
      finally {
        s.durNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupPrefix + p.id, s"${p.layer}.${p.name}", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until Spark has delivered every event of finished jobs. */
  def drain(): Unit = org.apache.spark.offbench.Bus.drain(sc)

  def all: Seq[Span] = spans.toSeq
  def named(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** A span and all spans below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counts of a span and all spans below it. */
  def inclusive(s: Span): Counts = {
    val out = new Counts
    subtree(s).foreach(x => Option(counts.get(x.id)).foreach(c => c.synchronized(out.add(c))))
    out
  }

  /** Wall time of a span not covered by any of its running jobs. */
  def driverGapMs(s: Span): Double = {
    val iv = inclusive(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.durNs / 1e6 - covered)
  }

  /** Catalyst phase time (analysis, optimization, planning) of the query
    * executions that ran inside the span. */
  def planningMs(s: Span): Double =
    planning.asScala.filter { case (a, b, _) => a >= s.startMs - 1 && b <= s.endMs + 1 }
      .map(_._3).sum

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Spans as JSON lines, one per span, with their own counts. */
  def write(file: Path): Unit = {
    val lines = spans.map { s =>
      val c = Option(counts.get(s.id)).getOrElse(new Counts)
      Json.obj(Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds,
        "failed" -> s.failed, "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "shuffle_bytes" -> c.shuffleBytes, "input_bytes" -> c.inputBytes))
    }
    Files.createDirectories(file.getParent)
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
