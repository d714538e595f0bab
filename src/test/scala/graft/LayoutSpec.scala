package graft

import org.apache.spark.sql.functions._

import graft.store.Layout

/** Z-order layout: interleave arithmetic (golden), boundary handling,
  * row preservation, and the actual PRUNING property — per-partition
  * min-max boxes of a Z-clustered layout bound every layout column,
  * where a linear sort leaves the other dimension unbounded. */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("zValue golden: known buckets interleave to the Morton value") {
    // bx = 0b101 (5), by = 0b011 (3), 3 bits, dimension order (bx, by):
    // bit j of dim i lands at j*2+i →
    //   j0: bx→bit0=1, by→bit1=1; j1: bx→bit2=0, by→bit3=1; j2: bx→bit4=1, by→bit5=0
    // z = 0b011011 = 27
    val df = Seq((5L, 3L)).toDF("bx", "by")
    val z = df.select(Layout.zValue(Seq(col("bx"), col("by")), bits = 3).as("z"))
      .as[Long].head()
    assert(z == 27L, s"expected 27, got $z")
    // one dimension degenerates to the identity (shifted by nothing)
    val one = Seq(6L).toDF("b")
      .select(Layout.zValue(Seq(col("b")), bits = 3).as("z")).as[Long].head()
    assert(one == 6L)
  }

  test("bucketOf: rank against ascending boundaries; NULLs rank 0; guards fire") {
    val df = Seq(Some(5.0), Some(15.0), Some(25.0), None).toDF("v")
    val got = df.select(Layout.bucketOf(col("v"), Seq(10.0, 20.0)).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L, 0L))
    intercept[IllegalArgumentException](Layout.bucketOf(col("v"), Seq.empty))
    intercept[IllegalArgumentException](Layout.bucketOf(col("v"), Seq(2.0, 1.0)))
    intercept[IllegalArgumentException](Layout.zValue(Seq(col("v")), bits = 64))
  }

  test("bucketOfString: rank under binary string order; NULLs rank 0; guards fire") {
    val df = Seq(Some("aa"), Some("en"), Some("es"), Some("fr"), Some("zz"), None)
      .toDF("s")
    val got = df.select(
        Layout.bucketOfString(col("s"), Seq("en", "fr", "zh")).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 1L, 2L, 3L, 0L), got.toString)
    intercept[IllegalArgumentException](Layout.bucketOfString(col("s"), Seq.empty))
    intercept[IllegalArgumentException](
      Layout.bucketOfString(col("s"), Seq("b", "a")))
  }

  test("bucketOfString: boundary validation follows UTF-8 byte order, not UTF-16") {
    // U+FFFD = EF BF BD; U+1F600 (surrogate pair, UTF-16 0xD83D...) =
    // F0 9F 98 80. UTF-8 binary (Spark's comparator): FFFD < 1F600.
    // Java UTF-16 code units: D83D < FFFD — the OPPOSITE. A boundary
    // set legal under Spark's order must validate; ranks must match.
    val lo = "�"
    val hi = "😀"
    assert(Layout.utf8Order.compare(lo, hi) < 0)
    assert(lo.compareTo(hi) > 0) // Java order disagrees — the trap
    val df = Seq("", lo, hi).toDF("s")
    val got = df.select(
        Layout.bucketOfString(col("s"), Seq(lo, hi)).as("b"))
      .as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L), got.toString)
    // descending in UTF-8 order still rejects
    intercept[IllegalArgumentException](
      Layout.bucketOfString(col("s"), Seq(hi, lo)))
  }

  test("stringBoundariesFor: low-cardinality keys exact; bounded, ascending, deduped") {
    val langs = Seq("de", "en", "es", "fr", "it", "ja", "pt", "zh")
    val df = (1 to 1000).map(i => langs(i % 8)).toDF("lang")
    val b = Layout.stringBoundariesFor(df, Seq("lang"), bits = 4)("lang")
    assert(b == langs, b.toString) // every distinct value seen, sorted
    // high cardinality: evenly-spaced cut at 2^bits − 1
    val wide = (1 to 5000).map(i => f"k$i%05d").toDF("k")
    val bw = Layout.stringBoundariesFor(wide, Seq("k"), bits = 4)("k")
    assert(bw.length <= 15 && bw == bw.sorted && bw.distinct == bw, bw.toString)
    // bits=16 with a sample past 2^16 − 1: the split-point product
    // i * length overflowed Int and indexed negative
    val huge = (1 to 70000).map(i => f"k$i%06d").toDF("k")
    val bh = Layout.stringBoundariesFor(huge, Seq("k"), bits = 16,
      sampleCap = 70000)("k")
    assert(bh.length <= 65535 && bh == bh.sorted && bh.distinct == bh,
      s"${bh.length} boundaries")
  }

  test("mixed (string, numeric) clustering: rows preserved, string boxes tight per partition") {
    val langs = Seq("de", "en", "es", "fr", "it", "ja", "pt", "zh")
    val df = (1 to 4000).map(i => (langs(i % 8), (i * 17) % 101, s"r$i"))
      .toDF("lang", "y", "s")
    val out = Layout.zOrder(df, Seq("lang", "y"), partitions = 16, bits = 3)
    assert(out.columns.toSeq == Seq("lang", "y", "s"))
    val a = df.orderBy("s").collect().map(_.toSeq)
    val b = out.orderBy("s").collect().map(_.toSeq)
    assert(a.sameElements(b), "clustering must preserve the row multiset")
    // the pruning property on the STRING dimension: partitions cover
    // few distinct langs each, vs all 8 in the unclustered layout
    val nl = out.withColumn("p", spark_partition_id())
      .groupBy("p").agg(countDistinct(col("lang")).as("nl"))
      .agg(avg(col("nl"))).head().getDouble(0)
    assert(nl < 4.0, s"string boxes not tight: avg $nl distinct langs/partition")
  }

  test("boundariesFor: ≤ 2^bits − 1 ascending boundaries, deduped under skew") {
    val df = (1 to 1000).map(i => i % 7).toDF("v") // heavy ties
    val b = Layout.boundariesFor(df, Seq("v"), bits = 4)("v")
    assert(b.length <= 15 && b == b.sorted && b.distinct == b)
  }

  test("cluster preserves the row multiset exactly and drops the helper column") {
    val df = (1 to 500).map(i => (i % 37, (i * 17) % 101, s"r$i")).toDF("x", "y", "s")
    val out = Layout.zOrder(df, Seq("x", "y"), partitions = 8, bits = 4)
    assert(out.columns.toSeq == Seq("x", "y", "s"))
    assert(out.count() == 500)
    val a = df.orderBy("s").collect().map(_.toSeq)
    val b = out.orderBy("s").collect().map(_.toSeq)
    assert(a.sameElements(b), "clustering must not change row content")
  }

  test("the pruning property: Z-clustered partition boxes bound BOTH dimensions") {
    // 64x64 uniform grid; 16 output partitions (= files on write).
    // A scan filtered on ONE dimension prunes by per-file min-max:
    // count the partitions whose [min,max] box intersects the slab.
    val n = 64
    val grid = (for { x <- 0 until n; y <- 0 until n } yield (x, y)).toDF("x", "y")
    def boxesHit(df: org.apache.spark.sql.DataFrame, col0: String, lo: Int, hi: Int): Long = {
      val boxes = df
        .withColumn("__p", spark_partition_id())
        .groupBy("__p")
        .agg(min(col0).as("lo"), max(col0).as("hi"))
      boxes.filter(col("hi") >= lo && col("lo") <= hi).count()
    }
    val parts = 16
    val zFrozen = Layout.zOrder(grid, Seq("x", "y"), partitions = parts, bits = 6)
    val linear = grid.repartitionByRange(parts, col("x")).sortWithinPartitions("x")
    // y-slab query: a linear-on-x layout cannot prune it at all
    val zHitY = boxesHit(zFrozen, "y", 0, 7)
    val linHitY = boxesHit(linear, "y", 0, 7)
    assert(linHitY == parts, s"premise: linear-x layout has unbounded y boxes ($linHitY)")
    assert(zHitY * 2 <= parts,
      s"z layout must prune a y-slab to a minority of files ($zHitY of $parts)")
    // x-slab query: z still prunes (bounded, if looser than a pure x-sort)
    val zHitX = boxesHit(zFrozen, "x", 0, 7)
    assert(zHitX * 2 <= parts, s"z layout must also prune an x-slab ($zHitX of $parts)")
    // Hilbert: adjacency (HilbertSpec) ⇒ no seam jumps ⇒ AGGREGATE box
    // tightness at least matches Z (single slabs can tie either way —
    // box counts depend on where the range partitioner cuts the curve)
    val hFrozen = Layout.hilbertOrder(grid, Seq("x", "y"), partitions = parts, bits = 6)
    def totalHits(df: org.apache.spark.sql.DataFrame, col0: String): Long =
      (0 until n by 8).map(lo => boxesHit(df, col0, lo, lo + 7)).sum
    val hTot = totalHits(hFrozen, "y") + totalHits(hFrozen, "x")
    val zTot = totalHits(zFrozen, "y") + totalHits(zFrozen, "x")
    assert(hTot <= zTot, s"hilbert aggregate boxes ($hTot) looser than z ($zTot)")
    assert(hTot <= parts.toLong * 8, // both axes, 8 slabs each: average ≤ half the files
      s"hilbert layout fails to prune in aggregate ($hTot)")
  }

  test("clustering survives the write: per-FILE min-max boxes stay tight on disk") {
    // the pruning consumer is the parquet footer, so prove the property
    // on actual written files, not just in-memory partitions
    val n = 64
    val parts = 16
    val grid = (for { x <- 0 until n; y <- 0 until n } yield (x, y)).toDF("x", "y")
    val dir = TempDirs.create("graft_zorder").toFile
    try {
      Layout.zOrder(grid, Seq("x", "y"), partitions = parts, bits = 6)
        .write.mode("overwrite").parquet(dir.getAbsolutePath)
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == parts, s"expected $parts files, got ${files.length}")
      // per-file boxes via reading each file alone (what a footer holds)
      val hit = files.count { f =>
        val box = spark.read.parquet(f.getAbsolutePath)
          .agg(min("y").as("lo"), max("y").as("hi")).head()
        box.getInt(1) >= 0 && box.getInt(0) <= 7 // intersects y ∈ [0, 7]
      }
      assert(hit * 2 <= parts,
        s"written files must prune a y-slab to a minority ($hit of $parts)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }
}
