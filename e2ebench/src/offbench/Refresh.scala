package offbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.OffModel
import graft.store.Manifest

/** `refresh`: silver-shaped products seeded into a Manifest table in set-up,
  * then steps of one upsert of ~0.5% changed products, one stats-pruned
  * `readWhereBetween` on `code` and one full-table aggregate over
  * `Manifest.read`. Store commit chains dominate. Reads run beside
  * writes, so a gain for one that costs the other shows, and so does
  * growth in file or log count. */
object Refresh {

  val Products = 20000
  /** The seeded table is range-partitioned on `code` into this many files,
    * so per-file stats on `code` can prune. */
  val SeedFiles = 16
  /** Share of the products one commit changes; changed products come from
    * one seeded file's code range, as updates to recent products do. */
  val ChangeShare = 0.005
  val WarmSteps = 1

  /** Order-free digest of a set of product rows. */
  final case class Sums(rows: Long, ts: Long, sugar10: Long, nameCrc: Long) {
    def +(o: Sums): Sums = Sums(rows + o.rows, ts + o.ts, sugar10 + o.sugar10, nameCrc + o.nameCrc)
  }

  private def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** The same digest computed by Spark over a table. */
  def tableSums(df: DataFrame): Sums = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(col("last_modified_t")), lit(0L)),
      coalesce(sum(round(col("sugars_100g") * 10).cast("long")), lit(0L)),
      coalesce(sum(crc32(col("product_name").cast("binary"))), lit(0L))).head()
    Sums(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private def dirBytes(p: Path, skip: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.startsWith(skip))
      .map(Files.size).sum
    finally s.close()
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    // the independent model: product rows by code, as generated
    val schema = OffModel.silverSchema
    val rows = Gen.products(Products, h.seed)
    val codeIx = schema.fieldIndex("code")
    val nameIx = schema.fieldIndex("product_name")
    val sugarIx = schema.fieldIndex("sugars_100g")
    val tsIx = schema.fieldIndex("last_modified_t")
    val model = mutable.HashMap.empty[String, Row]
    rows.foreach(r => model(r.getString(codeIx)) = r)
    def sums(rows: Iterable[Row]): Sums = rows.foldLeft(Sums(0, 0, 0, 0)) { (a, r) =>
      a + Sums(1, r.getLong(tsIx),
        if (r.isNullAt(sugarIx)) 0L else math.round(r.getDouble(sugarIx) * 10),
        if (r.isNullAt(nameIx)) 0L else crc(r.getString(nameIx)))
    }

    // set-up: the products seeded three times into fresh roots (a root is
    // never reused: the store caches snapshots by root and version),
    // range-partitioned on code with per-file stats
    val products = spark.createDataFrame(rows.asJava, schema)
    val seeds = (0 until 3).map { k =>
      if (k > 0) Harness.delete(h.work.resolve(s"manifest-${k - 1}"))
      val root = h.fresh(s"manifest-$k").toString
      val (_, t) = h.timeS(Manifest.overwrite(
        products.repartitionByRange(SeedFiles, col("code")), root, statsCols = Seq("code")))
      (root, t)
    }
    h.metrics("setup_s") = h.sessionS + Stats.median(seeds.map(_._2))
    h.context("seed_s") = seeds.map(_._2)
    val root = seeds.last._1
    val seeded = tableSums(Manifest.read(spark, root))
    h.check("refresh seed", seeded == sums(model.values), s"$seeded != ${sums(model.values)}")

    // the code range of each seeded file: a step changes products of one
    // range and reads one range, so every commit rewrites about one file
    val ranges = {
      val snap = Manifest.current(spark, root).get
      snap.files.flatMap(f => snap.stats.get(f).flatMap(_.get("code")))
        .map { case (lo, hi) => (lo.toString, hi.toString) }.sorted.toIndexedSeq
    }
    h.check("refresh seeded files", ranges.size == SeedFiles, s"${ranges.size} != $SeedFiles")
    val rng = new SplittableRandom(h.seed)
    var codes = model.keysIterator.toArray.sorted
    /** A random seeded file's code range and its [start, end) in `codes`. */
    def range(): (String, String, Int, Int) = {
      val (lo, hi) = ranges(rng.nextInt(ranges.size))
      val s = codes.indexWhere(_ >= lo)
      val e = codes.indexWhere(_ > hi, s)
      (lo, hi, s, if (e < 0) codes.length else e)
    }
    def changed(r: Row, code: String, step: Int): Row = {
      val v = r.toSeq.toArray
      v(codeIx) = code
      v(nameIx) = s"refreshed $step ${rng.nextInt(1000000)}"
      v(sugarIx) = rng.nextInt(600) / 10.0
      v(tsIx) = r.getLong(tsIx) + 1 + step
      Row.fromSeq(v.toSeq)
    }
    val updatesPerStep = math.max(1, (codes.length * ChangeShare).toInt)
    val batchRows = updatesPerStep + math.max(1, updatesPerStep / 10)
    def batch(step: Int): Seq[Row] = {
      val (_, _, s, e) = range()
      val n = updatesPerStep
      val picks = mutable.LinkedHashSet.empty[Int]
      while (picks.size < n) picks += s + rng.nextInt(e - s)
      val updates = picks.toSeq.map(j => changed(model(codes(j)), codes(j), step))
      // new products: a code that sorts right after an existing one
      val inserts = picks.toSeq.take(batchRows - n)
        .map(j => changed(model(codes(j)), s"${codes(j)}u$step", step))
      updates ++ inserts
    }

    val commits = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val aggs = mutable.ArrayBuffer.empty[Double]
    val added = mutable.ArrayBuffer.empty[Double]
    val amp = mutable.ArrayBuffer.empty[Double]
    val scanned = mutable.ArrayBuffer.empty[Double]
    val pruned = mutable.ArrayBuffer.empty[Double]

    def step(i: Int): Option[Double] = h.tracer.span("run", "step") {
      val rows = batch(i)
      val df = spark.createDataFrame(rows.asJava, schema)
      val before = Manifest.current(spark, root).get
      val commit = h.call("store upsert")(h.tracer.span("store", "upsert") {
        Manifest.upsert(df, root, "code")
      })
      commit.foreach { case (_, d) =>
        commits += d
        rows.foreach(r => model(r.getString(codeIx)) = r)
        codes = model.keysIterator.toArray.sorted
        val after = Manifest.current(spark, root).get
        val fresh = after.files.filterNot(before.files.toSet)
        added += fresh.size.toDouble
        amp += fresh.map(after.bytes.getOrElse(_, 0L)).sum.toDouble /
          df.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble
      }

      val (lo, hi, s, e) = range()
      val snap = Manifest.current(spark, root).get
      val keep = Manifest.prunedFiles(snap, "code", lo, hi).size
      scanned += keep.toDouble
      pruned += (snap.files.size - keep).toDouble / snap.files.size
      val read = h.call("store read")(h.tracer.span("store", "read_pruned") {
        Manifest.readWhereBetween(spark, root, "code", lo, hi).collect()
      })
      read.foreach { case (got, d) =>
        reads += d
        val want = sums(codes.slice(s, e).map(model))
        h.check(s"refresh pruned read $i", sums(got) == want, s"${sums(got)} != $want")
      }

      val agg = h.call("store aggregate")(h.tracer.span("store", "read_agg") {
        tableSums(Manifest.read(spark, root))
      })
      agg.foreach { case (got, d) =>
        aggs += d
        val want = sums(model.values)
        h.check(s"refresh table $i", got == want, s"$got != $want")
      }
      for { c <- commit; r <- read; a <- agg } yield c._2 + r._2 + a._2
    }

    val cold = step(0)
    require(cold.nonEmpty, "the cold refresh step failed")
    val coldCommit = commits.head
    // steps keep getting faster for a while after the cold one; these
    // are not timed
    (1 to WarmSteps).foreach(step)
    val untimed = commits.size
    val steps = h.loop(minOps = 5)(i => step(i + 1 + WarmSteps))
    val timed = commits.drop(untimed)
    require(timed.nonEmpty && steps.nonEmpty, "no refresh step succeeded")
    h.layers("jvm.cold_s") = coldCommit
    h.metrics("p50_ms") = Stats.median(timed) * 1000.0
    h.metrics("rate_per_s") = batchRows / Stats.median(steps)

    // the pruned read equals the same filter over the full table
    val (lo, hi, _, _) = range()
    val a = Manifest.readWhereBetween(spark, root, "code", lo, hi).collect().map(_.toString).sorted
    val b = Manifest.read(spark, root).filter(col("code").between(lo, hi))
      .collect().map(_.toString).sorted
    h.check("refresh pruned read = filtered full read", a.sameElements(b),
      s"${a.length} rows vs ${b.length} rows")

    val last = Manifest.current(spark, root).get
    h.context ++= Seq("cold_s" -> coldCommit, "commit_ms" -> commits.map(_ * 1000.0),
      "commits" -> commits.size, "commit_p50_ms" -> Stats.median(timed) * 1000.0,
      "read_p50_ms" -> (if (reads.isEmpty) 0.0 else Stats.median(reads) * 1000.0),
      "agg_p50_ms" -> (if (aggs.isEmpty) 0.0 else Stats.median(aggs) * 1000.0),
      "rows" -> model.size)
    h.layers("store.files_added_per_commit") = Stats.median(added)
    h.layers("store.write_amp") = Stats.median(amp)
    h.layers("store.read_files_scanned") = Stats.median(scanned)
    h.layers("store.read_prune_ratio") = Stats.median(pruned)
    h.layers("store.live_files") = last.files.size.toDouble
    val rootPath = java.nio.file.Paths.get(root)
    h.layers("store.log_bytes") = dirBytes(rootPath, rootPath.resolve("data")).toDouble
    if (h.traced) {
      h.tracer.drain()
      val warm = h.tracer.named("run", "step").flatMap(h.tracer.children)
      val ups = warm.filter(s => s.name == "upsert" && !s.failed)
      val rds = warm.filter(s => s.name == "read_pruned" && !s.failed)
      if (ups.nonEmpty) {
        h.layers("store.commit_p50_ms") = Stats.median(ups.map(_.seconds * 1000.0))
        h.layers("store.upsert_jobs") = Stats.median(ups.map(h.tracer.inclusive(_).jobs.toDouble))
        h.layers("store.upsert_task_s") = Stats.median(ups.map(h.tracer.inclusive(_).taskMs / 1000.0))
        h.layers("store.upsert_driver_gap_ms") = Stats.median(ups.map(h.tracer.driverGapMs))
      }
      if (rds.nonEmpty) h.layers("store.read_p50_ms") = Stats.median(rds.map(_.seconds * 1000.0))
    }
  }
}
