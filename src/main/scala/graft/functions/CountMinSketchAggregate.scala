package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a mergeable
  * aggregate: `cms_sketch(item, depth, width)` → the d×w counter
  * matrix flattened row-major to `array<bigint>`.
  *
  * The 100 TB role: approximate counts for EVERY item at fixed memory —
  * the frequency complement of [[HeavyHitters]] (which keeps only the
  * top-m candidates) and of the exact `groupBy(token)` (which shuffles
  * the whole vocabulary). Each partial aggregate is a d·w long matrix;
  * merge is elementwise ADD — commutative and associative, so unlike
  * Misra-Gries's candidate set the final sketch is BIT-IDENTICAL under
  * any partitioning or merge tree. That makes it the rare approximate
  * structure this repo can hash-oracle: DuckDB recomputes every cell
  * as a plain GROUP BY over the same md5 slices (battery q128/q129).
  *
  * Hashing: ONE md5 per item, rows index DISJOINT 32-bit slices of the
  * 128-bit digest (`row i` reads hex chars `8i..8i+8`, i.e. digest
  * bytes `4i..4i+4`) — d ≤ 4 pairwise-independent-enough rows at a
  * quarter of the d-md5 cost, and exactly `('0x' ||
  * substr(md5(x), 1+8*i, 8))::BIGINT % w` on the SQL side.
  *
  * Estimate rule (classic CMS): `count̂(x) = min_i cell[i][h_i(x)]` —
  * an OVERCOUNT, never an undercount: every occurrence of x lands in
  * all d of its cells, so collisions only add. With `w = ⌈e/ε⌉` and
  * `d = ⌈ln 1/δ⌉` the overshoot is ≤ εN with probability ≥ 1−δ.
  * The order-dependent "conservative update" variant is deliberately
  * NOT offered — it breaks merge-order determinism, which is this
  * implementation's whole contract.
  *
  * NULL items are skipped (SQL aggregate convention); the sketch of an
  * empty group is the all-zero matrix, the identity under merge.
  */
case class CountMinSketch(
    child: Expression, depth: Int, width: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ImplicitCastInputTypes {

  // ImplicitCastInputTypes: the SQL surface gets the same to-string
  // coercion the Column wrapper applies, so `cms_sketch(int_col, …)`
  // is an analysis-time cast (or error), never a runtime
  // ClassCastException from the UTF8String eval below.
  override def inputTypes: Seq[DataType] = Seq(StringType)

  require(depth >= 1 && depth <= 4,
    s"cms_sketch depth must be in [1, 4] (md5 yields four 32-bit slices), got $depth")
  require(width >= 1, s"cms_sketch width must be positive, got $width")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val u = v.asInstanceOf[UTF8String]
      val w = new Array[Int](4)
      Md5.digestWords(u.getBaseObject, u.getBaseOffset, u.numBytes, w)
      var i = 0
      while (i < depth) {
        val b = ((Md5.slice32(w, i) & 0xffffffffL) % width).toInt
        buf(i * width + b) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CountMinSketch =
    copy(child = newChildren(0))
}

object CountMinSketch {

  /** Driver/kernel-side bucket of `item` in row `i`: the same value the
    * SQL replay computes. (slice32 can be negative as an Int; widen
    * unsigned before the mod.) */
  def bucketOf(item: String, i: Int, width: Int): Int = {
    val w = new Array[Int](4)
    Md5.digestWords(item, w)
    ((Md5.slice32(w, i) & 0xffffffffL) % width).toInt
  }

  /** Column API: the flattened d×w sketch of `item` strings. */
  def sketch(item: Column, depth: Int, width: Int): Column =
    GraftSqlBridge.column(CountMinSketch(
      GraftSqlBridge.expression(item.cast("string")), depth, width).toAggregateExpression())

  /** Merge a frame of flattened sketches (e.g. one per day / per
    * micro-batch, all built with the same d and w) into the combined
    * matrix as `(pos, cell)` rows — the read side of a persisted
    * sketch log: elementwise addition commutes, so summing stored
    * partial sketches equals the one-pass sketch of the union, without
    * rescanning any history. */
  def mergedCells(sketches: org.apache.spark.sql.DataFrame,
      sketchCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode, sum}
    sketches.select(posexplode(col(sketchCol)).as(Seq("pos", "c")))
      .groupBy("pos").agg(sum("c").as("cell"))
  }

  /** Point estimate of a LITERAL key against a sketch column: the
    * min over rows of the key's cell — buckets are computed
    * driver-side with [[bucketOf]], so the lookup is d element_at's
    * and a `least`, fully narrow. */
  def estimate(sketchCol: Column, key: String, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions.{element_at, least, lit}
    val cells = (0 until depth).map(i =>
      element_at(sketchCol, i * width + bucketOf(key, i, width) + 1))
    if (cells.size == 1) cells.head else least(cells: _*)
  }
}
