package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** An upsert's batch ∪ drop keys, collected to the driver once per
  * commit: the duplicate guard, the key range, and the membership test
  * of both touched-file discovery and the rewrite all come from this
  * one read. `rows` are (key, weight) pairs: 1 for a batch key, 0 for a
  * drop key, which widens the range without counting as a duplicate.
  *
  * Equality is the equi-join's, which these keys replace: NaN equals
  * NaN, −0.0 equals 0.0, and a null key matches no table row. For the
  * guard, null keys form one group, as a `groupBy` makes them. */
private[store] final class UpsertKeys(spark: SparkSession, keyType: DataType,
    rows: Array[Row]) {
  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(keyType)

  /** Throws when a key occurs in more than one batch row. Keys count
    * by `equals` after [[UpsertKeys.normalize]], so NaN meets NaN and
    * −0.0 meets 0.0, as in the `groupBy` of the aggregate path. */
  def requireUnique(keyCol: String): Unit = {
    val counts = new java.util.HashMap[Any, Integer]()
    rows.iterator.filter(_.getLong(1) == 1L).foreach(r =>
      counts.merge(UpsertKeys.normalize(r.get(0)), 1, (a: Integer, b: Integer) => a + b))
    counts.asScala.maxByOption(_._2.intValue).foreach { case (k, n) =>
      require(n <= 1, UpsertKeys.duplicateMessage(keyCol, k))
    }
  }

  /** [min, max] of the non-null keys in Spark's order (NaN greatest),
    * as the row `Manifest.prunedFiles` takes; both null when there are
    * none. */
  def range: Row = {
    val live = rows.iterator.map(_.get(0)).filter(_ != null).toSeq
    if (live.isEmpty) Row(null, null)
    else {
      val ord: Ordering[Any] = (a: Any, b: Any) => Manifest.cmp(a, b)
      Row(live.min(ord), live.max(ord))
    }
  }

  private var shipped: Option[Broadcast[java.util.HashSet[Any]]] = None

  /** `c IN keys`, through one broadcast variable made on first use. */
  def member(c: Column): Column = {
    val bc = shipped.getOrElse {
      val set = new java.util.HashSet[Any]()
      rows.foreach { r =>
        if (!r.isNullAt(0)) set.add(UpsertKeys.normalize(toCatalyst(r.get(0))))
      }
      val b = spark.sparkContext.broadcast(set)
      shipped = Some(b)
      b
    }
    GraftSqlBridge.column(InKeySet(GraftSqlBridge.expression(c), bc))
  }

  /** Drops the broadcast variable, if one was made. */
  def release(): Unit = shipped.foreach(_.destroy())
}

private[store] object UpsertKeys {

  /** Key types the driver path covers: atomic types `Manifest.cmp`
    * orders and whose Catalyst values compare by `equals`. Other types
    * take the aggregate and join path. */
  def covers(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s == StringType // binary collation only
    case _ => false
  }

  /** The keys of `allKeys` (batch ∪ drops) on the driver, when its
    * estimated size is within `spark.sql.autoBroadcastJoinThreshold` —
    * the rule that would broadcast the same keys into the joins — and
    * its type is covered and equal to the table's key type. `tagged`
    * is the same keys with their weights. None means: take the
    * aggregate and join path. */
  def held(allKeys: DataFrame, tagged: => DataFrame,
      tableKeyType: => Option[DataType]): Option[UpsertKeys] = {
    val keyType = allKeys.schema.head.dataType
    val size = allKeys.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = allKeys.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (size > threshold || !covers(keyType) ||
        tableKeyType.exists(_ != keyType)) None
    else Some(new UpsertKeys(allKeys.sparkSession, keyType, tagged.collect()))
  }

  def duplicateMessage(keyCol: String, example: Any): String =
    s"upsert batch has duplicate $keyCol values (e.g. $example) — " +
      "one row per key, the merge is otherwise ambiguous"

  /** A key value, external or Catalyst, as the equi-join compares it:
    * −0.0 becomes 0.0 (boxed `equals` already holds NaN equal to NaN). */
  def normalize(v: Any): Any = v match {
    case d: Double => d + 0.0
    case f: Float => f + 0.0f
    case other => other
  }
}

/** `child IN keys` for a key set the driver already holds, shipped
  * once per executor as a broadcast variable. A null child is never a
  * member: the result is false, not null, so `NOT` keeps the row, as
  * an anti-join keeps a null key. The plan prints no keys, so its text
  * does not grow with the set. */
case class InKeySet(child: Expression, keys: Broadcast[java.util.HashSet[Any]])
    extends UnaryExpression with Predicate with CodegenFallback {

  @transient private lazy val set = keys.value

  override def nullable: Boolean = false
  override def prettyName: String = "in_key_set"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && set.contains(UpsertKeys.normalize(v))
  }

  override protected def withNewChildInternal(newChild: Expression): InKeySet =
    copy(child = newChild)
}
