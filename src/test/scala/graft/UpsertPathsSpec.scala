package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SimpleMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.store.Manifest

/** `Manifest.upsert` has two ways to test batch-key membership: keys
  * within `spark.sql.autoBroadcastJoinThreshold` are collected to the
  * driver and shipped as one broadcast variable; larger ones go
  * through an aggregate and semi/anti joins. Every case here runs on
  * both (the default threshold and -1) and must give the same rows,
  * kept files, added files' row counts and stats, version, and error.
  */
class UpsertPathsSpec extends SparkTestBase {

  private def newRoot(tag: String): String =
    TempDirs.create(s"graft_upsert_$tag").toString + "/t"

  private def withThreshold[T](v: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  private def frame(dt: DataType, rows: Seq[(Any, Long)]): DataFrame =
    spark.createDataFrame(rows.map { case (k, v) => Row(k, v) }.asJava,
      StructType(Seq(StructField("k", dt), StructField("v", LongType))))

  /** One single-file commit per key list; file i's rows carry v = i. */
  private def seed(root: String, dt: DataType, files: Seq[Seq[Any]],
      stats: Boolean = true): Unit =
    files.zipWithIndex.foreach { case (keys, i) =>
      Manifest.append(frame(dt, keys.map(_ -> i.toLong)).coalesce(1), root,
        statsCols = if (stats) Seq("k") else Nil)
    }

  /** What `op` did to the table at `root`, free of root paths and
    * staged file names. */
  private case class Outcome(rows: Seq[String], kept: Seq[Int],
      added: Seq[String], versions: Long, error: Option[String])

  private def outcome(root: String)(op: => Any): Outcome = {
    val before = Manifest.current(spark, root).get
    val error = Try(op).failed.toOption
      .map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
    val after = Manifest.current(spark, root).get
    val fresh = after.files.filterNot(before.files.toSet)
    Outcome(
      Manifest.read(spark, root).collect().map(_.toString).sorted.toSeq,
      before.files.indices.filter(i => after.files.contains(before.files(i))),
      fresh.map(f => s"${after.rows.get(f)} " +
        after.stats.get(f).map(_.toSeq.sortBy(_._1)).toString).sorted,
      after.version - before.version, error)
  }

  /** Runs `scenario` on a fresh root per path and requires the same
    * outcome; returns it for case-specific checks. */
  private def onBothPaths(tag: String)(scenario: String => Outcome): Outcome = {
    val held = scenario(newRoot(s"${tag}_held"))
    val joined = withThreshold("-1")(scenario(newRoot(s"${tag}_join")))
    assert(held == joined, s"$tag: driver-held keys vs joins")
    held
  }

  private def upsertCase(tag: String, dt: DataType, files: Seq[Seq[Any]],
      batch: Seq[(Any, Long)], stats: Boolean = true): Outcome =
    onBothPaths(tag) { root =>
      seed(root, dt, files, stats)
      outcome(root)(Manifest.upsert(frame(dt, batch), root, "k"))
    }

  private def live(o: Outcome): Set[String] = o.rows.toSet

  test("long keys: touched file rewritten, others kept, inserts land") {
    val o = upsertCase("long", LongType,
      Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L), Seq(20L, 21L)),
      Seq(11L -> 99L, 12L -> 98L, 15L -> 97L))
    assert(o.error.isEmpty, o.error)
    assert(o.kept == Seq(0, 2))
    assert(live(o) == Set("[1,0]", "[2,0]", "[3,0]", "[10,1]", "[11,99]",
      "[12,98]", "[15,97]", "[20,2]", "[21,2]"))
  }

  test("string keys") {
    val o = upsertCase("string", StringType,
      Seq(Seq("a", "b"), Seq("m", "n", "o"), Seq("x", "y")),
      Seq("n" -> 7L, "p" -> 8L))
    assert(o.error.isEmpty, o.error)
    assert(o.kept == Seq(0, 2))
    assert(live(o).contains("[n,7]") && live(o).contains("[p,8]") &&
      !live(o).contains("[n,1]"))
  }

  test("date keys") {
    def d(day: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(20000L + day))
    val o = upsertCase("date", DateType,
      Seq(Seq(d(0), d(1)), Seq(d(10), d(11)), Seq(d(20))),
      Seq(d(11) -> 5L, d(12) -> 6L))
    assert(o.error.isEmpty, o.error)
    assert(o.kept == Seq(0, 2))
    assert(o.rows.size == 6)
  }

  test("decimal keys") {
    def m(s: String) = new java.math.BigDecimal(s)
    val o = upsertCase("decimal", DecimalType(12, 2),
      Seq(Seq(m("1.25"), m("2.50")), Seq(m("10.00"), m("10.01")), Seq(m("99.99"))),
      Seq(m("10.01") -> 5L, m("10.02") -> 6L))
    assert(o.error.isEmpty, o.error)
    assert(o.kept == Seq(0, 2))
    assert(live(o).contains("[10.01,5]") && !live(o).contains("[10.01,1]"))
  }

  test("double keys: -0.0 matches 0.0 and NaN matches NaN, as the equi-join") {
    val o = upsertCase("double", DoubleType,
      Seq(Seq(-1.5, 0.0), Seq(2.5, Double.NaN)),
      Seq(-0.0 -> 7L, Double.NaN -> 8L, 3.5 -> 9L), stats = false)
    assert(o.error.isEmpty, o.error)
    assert(live(o) == Set("[-1.5,0]", "[-0.0,7]", "[2.5,1]", "[NaN,8]", "[3.5,9]"))
    // -0.0 and 0.0 are one key to the duplicate guard, as to groupBy
    val dup = upsertCase("double_dup", DoubleType, Seq(Seq(1.0)),
      Seq(-0.0 -> 1L, 0.0 -> 2L))
    assert(dup.error.exists(_.contains("duplicate k")), dup.error)
    assert(dup.versions == 0L)
  }

  test("double keys with stats: NaN and ±Infinity keys prune as Spark orders them") {
    val o = upsertCase("double_stats", DoubleType,
      Seq(Seq(-1.5, 0.0), Seq(2.5, Double.NaN)),
      Seq(-0.0 -> 7L, Double.NaN -> 8L, 3.5 -> 9L))
    assert(o.error.isEmpty, o.error)
    assert(live(o) == Set("[-1.5,0]", "[-0.0,7]", "[2.5,1]", "[NaN,8]", "[3.5,9]"))
    // an infinite batch key widens the key range past every finite stat
    val inf = upsertCase("double_inf", DoubleType,
      Seq(Seq(-1.5, 0.0), Seq(2.5, 4.0)),
      Seq(Double.NegativeInfinity -> 7L, 4.0 -> 8L, Double.PositiveInfinity -> 9L))
    assert(inf.error.isEmpty, inf.error)
    assert(inf.kept == Seq(0))
    assert(live(inf) == Set("[-1.5,0]", "[0.0,0]", "[2.5,1]", "[4.0,8]",
      "[-Infinity,7]", "[Infinity,9]"))
  }

  test("null keys: one inserts, two throw, table nulls survive, all-null is a no-op") {
    val files = Seq(Seq[Any](1L, 2L, null), Seq[Any](10L, 11L))
    val one = upsertCase("null_one", LongType, files,
      Seq((null, 7L), 2L -> 8L))
    assert(one.error.isEmpty, one.error)
    assert(one.rows.count(_.startsWith("[null,")) == 2,
      s"table's null-key row kept and the batch's inserted: ${one.rows}")
    assert(live(one).contains("[2,8]") && !live(one).contains("[2,0]"))
    val two = upsertCase("null_two", LongType, files,
      Seq((null, 7L), (null, 8L), 2L -> 9L))
    assert(two.error.exists(_.contains("duplicate k values (e.g. null)")), two.error)
    assert(two.versions == 0L)
    val allNull = upsertCase("null_all", LongType, files, Seq((null, 7L)))
    assert(allNull.error.isEmpty && allNull.versions == 0L, allNull)
    val empty = upsertCase("empty", LongType, files, Seq.empty)
    assert(empty.error.isEmpty && empty.versions == 0L, empty)
  }

  test("duplicate batch keys throw with the same message on both paths") {
    val o = upsertCase("dup", LongType, Seq(Seq(1L, 2L)),
      Seq(5L -> 1L, 5L -> 2L, 6L -> 3L))
    assert(o.error.exists(_.contains("duplicate k values (e.g. 5)")), o.error)
  }

  test("upsertOnce: dropKeys remove rows, keyedRange skips the probe, replays skip") {
    val files = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L, 12L), Seq(20L, 21L))
    val o = onBothPaths("drops") { root =>
      seed(root, LongType, files)
      outcome(root)(Manifest.upsertOnce(frame(LongType, Seq(11L -> 50L, 13L -> 51L)),
        root, "k", "w", 1L,
        // 12 leaves; 13 is also upserted (the batch row lands); 30 is absent
        dropKeys = Some(frame(LongType, Seq(12L -> 0L, 13L -> 0L, 30L -> 0L))
          .select("k"))))
    }
    assert(o.error.isEmpty, o.error)
    assert(o.kept == Seq(0, 2))
    assert(live(o) == Set("[1,0]", "[2,0]", "[3,0]", "[10,1]", "[11,50]",
      "[13,51]", "[20,2]", "[21,2]"))
    val k = onBothPaths("keyed") { root =>
      seed(root, LongType, files)
      Manifest.upsertOnce(frame(LongType, Seq(2L -> 60L)), root, "k", "w", 1L)
      outcome(root) {
        // a replayed txn skips; the next one merges with its given range
        assert(!Manifest.upsertOnce(frame(LongType, Seq(3L -> 0L)),
          root, "k", "w", 1L)._2)
        Manifest.upsertOnce(frame(LongType, Seq(20L -> 70L, 21L -> 71L)),
          root, "k", "w", 2L, keyedRange = Some((20L, 21L)))
      }
    }
    assert(k.error.isEmpty, k.error)
    assert(k.versions == 1L)
    assert(live(k).contains("[2,60]") && live(k).contains("[3,0]") &&
      live(k).contains("[20,70]") && live(k).contains("[21,71]"))
  }

  test("deletion-vectored rows stay deleted through the rewrite") {
    val o = onBothPaths("dv") { root =>
      seed(root, LongType, Seq(Seq(1L, 2L, 3L), Seq(10L, 11L)))
      Manifest.deleteWhereBetweenDv(spark, root, "k", 2L, 2L)
      outcome(root)(Manifest.upsert(frame(LongType, Seq(3L -> 9L)), root, "k"))
    }
    assert(o.error.isEmpty, o.error)
    assert(live(o) == Set("[1,0]", "[3,9]", "[10,1]", "[11,1]"))
  }

  /** Physical plans of the `collect`s that test key membership. */
  private def membershipPlans(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val text = qe.explainString(SimpleMode)
        if (f == "collect" && text.contains("in_key_set")) plans.add(text)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  test("a local upsert runs at most 2 jobs; discovery's plan does not grow with the keys") {
    val root = newRoot("jobs")
    seed(root, LongType, Seq((0L until 100L).toSeq,
      (100000L until 200000L by 1000L).toSeq, (1000000L until 1000100L).toSeq))
    Manifest.upsert(frame(LongType, Seq(150000L -> 1L)), root, "k") // warm
    val batch = frame(LongType, Seq(150000L -> 2L, 151000L -> 3L,
      152500L -> 4L, 199500L -> 5L))
    val jobs = jobsDuring(Manifest.upsert(batch, root, "k"))
    assert(jobs <= 2, s"4-row upsert ran $jobs jobs")
    // the same upsert through the aggregate and the joins costs more
    val joinJobs = withThreshold("-1")(jobsDuring(Manifest.upsert(batch, root, "k")))
    assert(joinJobs > jobs, s"join path $joinJobs jobs vs held keys $jobs")
    // 10 keys and 10,000 keys in the same file's range: the discovery
    // plan has the same text once expression ids and object hashes,
    // which vary from run to run, are blanked
    def discovery(keys: Seq[Long]): String = {
      val plans = membershipPlans(
        Manifest.upsert(frame(LongType, keys.map(_ -> 0L)), root, "k"))
      assert(plans.size == 1, plans)
      plans.head.replaceAll("#\\d+", "#").replaceAll("@[0-9a-f]+", "@")
        .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "uuid")
        .replaceAll("b[0-9a-f]{32}", "b")
    }
    val small = discovery((0 until 10).map(i => 100000L + i * 10000L))
    val large = discovery((0 until 10000).map(i => 100000L + i * 10L))
    assert(small.length == large.length, s"\n$small\n---\n$large")
  }
}
