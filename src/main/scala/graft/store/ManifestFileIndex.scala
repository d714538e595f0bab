package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, IsNull, LessThan, LessThanOrEqual, Literal, Not,
  Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** The manifest skip index wired into Spark's SCAN PLANNER — the
  * public Delta architecture (a table-format [[FileIndex]] under
  * `HadoopFsRelation`): Catalyst hands `listFiles` the pushed data
  * filters at planning time, and the per-file [min, max] stats recorded
  * in the manifest prune the file list BEFORE the scan exists. From
  * there everything is stock Spark — `ParquetFileFormat` vectorized
  * reads, whole-stage codegen, parquet footer/row-group pushdown of the
  * same predicates. Every manifest read ([[Manifest.read]],
  * [[Manifest.readSnapshot]], the skip reads, and the file-subset reads
  * inside the writers) is a scan over one of these, so ANY
  * DataFrame/SQL filter over a manifest table skips files.
  *
  * Pinned to one snapshot's file list at construction (snapshot
  * isolation, same as every other manifest read): `refresh()` is
  * deliberately a no-op — re-resolve via a fresh [[Manifest.read]].
  * Two indexes over the same data directory and file list are equal,
  * as `InMemoryFileIndex` is over the same root paths, so two reads of
  * one snapshot give plans that are `sameResult` (exchange reuse,
  * cache hits).
  *
  * Pruning is conservative by construction: conjuncts of the shapes
  * `col (=|<|<=|>|>=) literal`, null-safe equality, `col IN (…)`,
  * `col IS NULL` (via the #nulls twin), and any OR/NOT-tree of those
  * shapes over stat'd columns prune (OR = union of the disjuncts'
  * file sets; NOT rewrites through De Morgan and comparison
  * complements — valid in SQL's three-valued logic because null rows
  * satisfy neither a comparison nor its complement, null-safe
  * equality handled with the null counts); anything else (casts,
  * functions, unstat'd columns, type families [[Manifest.cmp]] cannot
  * order) keeps the file. Date/timestamp literals prune via their
  * canonical text forms. Correctness never depends on pruning — Spark
  * re-applies every filter to the rows it reads. */
final class ManifestFileIndex(
    spark: SparkSession, root: String,
    val snapshot: Manifest.Snapshot) extends FileIndex {

  private val dataDirPath = new Path(s"$root/data")

  // file statuses for the pinned list, built from the manifest's
  // recorded byte sizes — ZERO per-file status RPCs at scan planning,
  // the reason the public formats record sizes in their logs (modTime 0
  // is fine: Spark only consumes length + path here). A file without a
  // recorded size (pre-size-recording tables, files of another
  // snapshot) falls back to getFileStatus.
  private val statuses: Map[String, FileStatus] = {
    lazy val fsys = dataDirPath.getFileSystem(spark.sessionState.newHadoopConf())
    snapshot.files.map { rel =>
      val p = new Path(dataDirPath, rel)
      rel -> snapshot.bytes.get(rel)
        .map(n => new FileStatus(n, false, 1, 128L << 20, 0L, p))
        .getOrElse(fsys.getFileStatus(p))
    }.toMap
  }

  private lazy val identity = (dataDirPath, snapshot.files)
  private lazy val hash = identity.hashCode
  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.hash == hash && m.identity == identity
    case _ => false
  }
  override def hashCode(): Int = hash

  override def rootPaths: Seq[Path] = Seq(dataDirPath)
  override def partitionSchema: StructType = new StructType()
  override def inputFiles: Array[String] =
    snapshot.files.map(rel => new Path(dataDirPath, rel).toString).toArray
  override def sizeInBytes: Long = statuses.valuesIterator.map(_.getLen).sum
  override def refresh(): Unit = () // pinned snapshot — see scaladoc

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val conjuncts = dataFilters.flatMap(splitAnd)
    val kept = snapshot.files.filter { f =>
      conjuncts.forall(c => survives(f, c))
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(statuses).toArray))
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Catalyst-internal literal → the manifest stats value domain; a
    * non-match means "a type we do not prune on" and the enclosing
    * conjunct falls through to the conservative `case _ => true`.
    * DATE/TIMESTAMP literals (internal days/micros encodings) convert to
    * the same canonical java.sql text [[Manifest.cmp]] orders temporal
    * stat bounds in — so date-slab SQL over [[Manifest.read]] prunes,
    * the primary data-skipping shape. */
  private object Lit {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.sql.types.{DateType, TimestampType}
    def unapply(e: Expression): Option[Any] = e match {
      case Literal(null, _) => None
      case Literal(days: Int, DateType) =>
        Some(String.valueOf(DateTimeUtils.toJavaDate(days)))
      case Literal(micros: Long, TimestampType) =>
        Some(String.valueOf(DateTimeUtils.toJavaTimestamp(micros)))
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => Some(s.toString)
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toJavaBigDecimal)
      case Literal(n: java.lang.Number, _) => Some(n)
      case _ => None // booleans, binary, NTZ/interval encodings
    }
  }

  private def bounds(file: String, attr: String): Option[(Any, Any)] =
    snapshot.stats.get(file).flatMap(_.get(attr))

  /** Does `file` possibly contain rows satisfying the conjunct?
    * Unrecognized shapes and incomparable type families answer true. */
  private def survives(file: String, c: Expression): Boolean = {
    def check(attr: String, f: ((Any, Any)) => Boolean): Boolean =
      bounds(file, attr) match {
        case Some(b) => try f(b) catch { case _: IllegalArgumentException => true }
        case None => true // no stats for this column in this file
      }
    c match {
      case GreaterThanOrEqual(a: AttributeReference, Lit(x)) =>
        check(a.name, { case (_, mx) => Manifest.cmp(mx, x) >= 0 })
      case LessThanOrEqual(Lit(x), a: AttributeReference) =>
        check(a.name, { case (_, mx) => Manifest.cmp(mx, x) >= 0 })
      case GreaterThan(a: AttributeReference, Lit(x)) =>
        check(a.name, { case (_, mx) => Manifest.cmp(mx, x) > 0 })
      case LessThan(Lit(x), a: AttributeReference) =>
        check(a.name, { case (_, mx) => Manifest.cmp(mx, x) > 0 })
      case LessThanOrEqual(a: AttributeReference, Lit(x)) =>
        check(a.name, { case (mn, _) => Manifest.cmp(mn, x) <= 0 })
      case GreaterThanOrEqual(Lit(x), a: AttributeReference) =>
        check(a.name, { case (mn, _) => Manifest.cmp(mn, x) <= 0 })
      case LessThan(a: AttributeReference, Lit(x)) =>
        check(a.name, { case (mn, _) => Manifest.cmp(mn, x) < 0 })
      case GreaterThan(Lit(x), a: AttributeReference) =>
        check(a.name, { case (mn, _) => Manifest.cmp(mn, x) < 0 })
      case EqualTo(a: AttributeReference, Lit(x)) =>
        check(a.name,
          { case (mn, mx) => Manifest.cmp(mn, x) <= 0 && Manifest.cmp(mx, x) >= 0 })
      case EqualTo(Lit(x), a: AttributeReference) =>
        check(a.name,
          { case (mn, mx) => Manifest.cmp(mn, x) <= 0 && Manifest.cmp(mx, x) >= 0 })
      case EqualNullSafe(a: AttributeReference, Lit(x)) =>
        check(a.name,
          { case (mn, mx) => Manifest.cmp(mn, x) <= 0 && Manifest.cmp(mx, x) >= 0 })
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val xs = vs.map { case l: Literal => Lit.unapply(l) }
        if (xs.exists(_.isEmpty)) true
        else check(a.name, { case (mn, mx) =>
          xs.flatten.exists(x => Manifest.cmp(mn, x) <= 0 && Manifest.cmp(mx, x) >= 0)
        })
      // OR of prunable shapes (the common date-slab disjunction): a file
      // survives iff SOME disjunct might match it — each side is itself
      // conservative (unrecognized shapes answer true), so the union
      // never over-prunes. `a BETWEEN x AND y OR a BETWEEN p AND q`
      // scans exactly the union of the two ranges' file sets. The AND
      // case makes the recursion total: a BETWEEN is And(>=, <=) when
      // it appears INSIDE an Or (top-level Ands were already split).
      case Or(l, r) => survives(file, l) || survives(file, r)
      case And(l, r) => survives(file, l) && survives(file, r)
      // NOT-trees: SQL's three-valued logic satisfies De Morgan (Kleene),
      // and a row SATISFIES the complement of a comparison iff it
      // satisfies the complementary comparison (null rows satisfy
      // neither side) — so NOT rewrites into shapes already handled,
      // and `NOT (a BETWEEN x AND y)` prunes files fully inside the
      // range. Null rows never satisfy a comparison, so the min/max
      // bounds (which ignore nulls) answer exactly the right question —
      // EXCEPT null-safe equality, whose complement IS satisfied by
      // null rows: that case consults the #nulls twin and stays
      // conservative without it.
      case Not(And(l, r)) => survives(file, Or(Not(l), Not(r)))
      case Not(Or(l, r)) => survives(file, Not(l)) && survives(file, Not(r))
      case Not(Not(e)) => survives(file, e)
      case Not(GreaterThanOrEqual(l, r)) => survives(file, LessThan(l, r))
      case Not(GreaterThan(l, r)) => survives(file, LessThanOrEqual(l, r))
      case Not(LessThanOrEqual(l, r)) => survives(file, GreaterThan(l, r))
      case Not(LessThan(l, r)) => survives(file, GreaterThanOrEqual(l, r))
      case Not(EqualTo(a: AttributeReference, Lit(x))) =>
        check(a.name, { case (mn, mx) =>
          !(Manifest.cmp(mn, x) == 0 && Manifest.cmp(mx, x) == 0) })
      case Not(EqualTo(Lit(x), a: AttributeReference)) =>
        check(a.name, { case (mn, mx) =>
          !(Manifest.cmp(mn, x) == 0 && Manifest.cmp(mx, x) == 0) })
      case Not(In(a: AttributeReference, vs))
          if vs.forall(_.isInstanceOf[Literal]) =>
        val xs = vs.map { case l: Literal => Lit.unapply(l) }
        if (xs.exists(_.isEmpty)) true
        else check(a.name, { case (mn, mx) =>
          !(Manifest.cmp(mn, mx) == 0 &&
            xs.flatten.exists(x => Manifest.cmp(mn, x) == 0)) })
      case Not(EqualNullSafe(a: AttributeReference, Lit(x))) =>
        // a null row DOES satisfy NOT(a <=> x): prune only when the
        // file is single-valued at x AND provably null-free
        val nullFree = bounds(file, a.name + Manifest.NullsSuffix)
          .exists { case (n, _) => String.valueOf(n) == "0" }
        !nullFree || check(a.name, { case (mn, mx) =>
          !(Manifest.cmp(mn, x) == 0 && Manifest.cmp(mx, x) == 0) })
      // `a IS NULL` prunes null-free files through the #nulls twin
      // (recorded beside every min/max since r14; older files keep)
      case IsNull(a: AttributeReference) =>
        bounds(file, a.name + Manifest.NullsSuffix) match {
          case Some((n, _)) => String.valueOf(n) != "0"
          case None => true
        }
      // col LIKE 'p%' (Catalyst rewrites the trailing-wildcard LIKE to
      // StartsWith): some s in [lo, hi] has prefix p iff p <= hi (the
      // minimal prefixed string is p itself) and lo's first |p| chars
      // are <= p (then either lo < p <= hi, or lo itself is prefixed).
      // String bounds only; other stat families fall through true.
      case StartsWith(a: AttributeReference, Literal(p0, _))
          if p0.isInstanceOf[org.apache.spark.unsafe.types.UTF8String] =>
        val p = p0.toString
        bounds(file, a.name) match {
          case Some((lo: String, hi: String)) =>
            p.compareTo(hi) <= 0 &&
              lo.substring(0, math.min(lo.length, p.length)).compareTo(p) <= 0
          case _ => true
        }
      case _ => true
    }
  }
}
