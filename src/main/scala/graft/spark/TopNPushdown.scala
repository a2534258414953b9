package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.format.{PageMeta, StrawFormat}

/** Partial Top-N pushdown: each scan partition returns only its own top-k
  * candidates (Spark still applies the global sort+limit above, so emitting
  * a superset per partition is always correct). Two effects compound at
  * scale: (a) at most k rows per partition cross the scan boundary, and
  * (b) once a partition's candidate buffer is full, pages whose zone-map
  * bound on the primary sort column provably cannot beat the current k-th
  * candidate are skipped without IO — a sorted-ish table answers ORDER BY x
  * LIMIT k from a handful of pages. The scan reader
  * ([[ColumnarSupport.StrawColumnarReader]]) applies both: it offers each
  * page's surviving rows to a [[TopKBuffer]], tests every page with
  * [[pageMayBeat]] before decoding it, and emits the drained candidates as
  * one batch. */
object TopNPushdown {

  final case class SortCol(name: String, desc: Boolean, nullsFirst: Boolean)
  final case class Spec(cols: Seq[SortCol], limit: Int)

  // bound candidate-buffer memory: each partition holds up to k row COPIES
  // on heap; beyond this, Spark's own spill-capable sort is the better plan
  private val MaxPushedLimit = 1 << 16

  private[spark] def comparable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType |
         StringType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Accept when every sort key is a plain top-level column of a comparable
    * type. Page-bound skipping additionally needs StatsSigned zone maps on
    * the FIRST key (checked per file at read time); other keys only need a
    * row comparator. */
  def translate(orders: Array[SortOrder], schema: StructType, limit: Int): Option[Spec] = {
    if (limit <= 0 || limit > MaxPushedLimit || orders.isEmpty) return None
    val cols = orders.map { o =>
      o.expression() match {
        case fr: NamedReference if fr.fieldNames().length == 1 =>
          val name = fr.fieldNames()(0)
          schema.fields.find(_.name == name) match {
            case Some(f) if comparable(f.dataType) =>
              SortCol(name,
                desc = o.direction() == SortDirection.DESCENDING,
                nullsFirst = o.nullOrdering() == NullOrdering.NULLS_FIRST)
            case _ => return None
          }
        case _ => return None
      }
    }
    Some(Spec(cols.toSeq, limit))
  }

  /** Spark-consistent non-null value comparison (NaN greatest, -0.0 == 0.0,
    * UTF8 binary order). */
  private[spark] def compareValues(dt: DataType, a: Any, b: Any): Int = dt match {
    case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case IntegerType | DateType => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case FloatType => SQLOrderingUtil.compareFloats(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case DoubleType => SQLOrderingUtil.compareDoubles(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case _: DecimalType => a.asInstanceOf[Decimal].compareTo(b.asInstanceOf[Decimal])
    case other => throw new IllegalStateException(s"uncomparable $other")
  }

  /** "Better first" comparator over produced rows: cmp(a, b) < 0 ⇔ a ranks
    * before b in the requested ordering. */
  def rowComparator(idx: Array[Int], dts: Array[DataType], spec: Spec)
      : java.util.Comparator[InternalRow] =
    new java.util.Comparator[InternalRow] {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var c = 0
        while (c < idx.length) {
          val col = spec.cols(c)
          val i = idx(c)
          val an = a.isNullAt(i)
          val bn = b.isNullAt(i)
          val r =
            if (an && bn) 0
            else if (an) { if (col.nullsFirst) -1 else 1 }
            else if (bn) { if (col.nullsFirst) 1 else -1 }
            else {
              val base = compareValues(dts(c), a.get(i, dts(c)), b.get(i, dts(c)))
              if (col.desc) -base else base
            }
          if (r != 0) return r
          c += 1
        }
        0
      }
    }

  /** The primary key's value mapped into the StatsSigned zone-map domain —
    * must mirror the writer's stats encoding exactly. None when the type
    * has no signed stats (string prefix / wide decimal are lossy). */
  def toSortable(dt: DataType, v: Any): Option[Long] = dt match {
    case BooleanType => Some(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case ByteType => Some(v.asInstanceOf[Byte].toLong)
    case ShortType => Some(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => Some(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType => Some(v.asInstanceOf[Long])
    case FloatType => Some(StrawFormat.sortableDouble(v.asInstanceOf[Float].toDouble))
    case DoubleType => Some(StrawFormat.sortableDouble(v.asInstanceOf[Double]))
    case d: DecimalType if d.precision <= 18 =>
      Some(v.asInstanceOf[Decimal].toUnscaledLong)
    case _ => None
  }

  /** Can page `pm` contain a row strictly better than the current k-th
    * candidate's primary key? Conservative: ties keep the page (secondary
    * keys could win), unknown stats keep the page, null candidates at the
    * boundary keep everything. */
  def pageMayBeat(pm: PageMeta, primary: SortCol, worstKey: Option[Long],
      worstIsNull: Boolean): Boolean = {
    if (worstIsNull) {
      // a null occupies the k-th slot: with nulls-first everything non-null
      // ranks after it only if... no — nulls-first means null is BEST, so a
      // full buffer with a null k-th implies fewer than k non-null rows seen;
      // any page may still contribute. With nulls-last a null k-th means
      // every value beats it. Either way: keep.
      return true
    }
    if (pm.statsKind != StrawFormat.StatsSigned) return true
    worstKey match {
      case None => true
      case Some(w) =>
        val couldBeat =
          if (primary.desc) pm.max >= w // strictly-better needs > w; ties kept for tiebreaks
          else pm.min <= w
        // nulls-first: nulls rank best, so a page holding nulls always may beat
        couldBeat || (primary.nullsFirst && pm.nullCount > 0)
    }
  }
}

/** EXACT row-level evaluation of pushed filters over produced rows, for
  * composing Top-N pushdown with filter pushdown. Exactness is the
  * correctness requirement, not an optimization: a row that fails the
  * filter but enters the TopK buffer can EVICT a passing row, and Spark's
  * re-evaluation above the scan cannot bring the evicted row back — so the
  * buffer must see precisely the filter-passing rows. Any filter shape this
  * evaluator cannot reproduce under SQL three-valued semantics makes
  * [[build]] return None and the Top-N pushdown decline. */
object RowFilterEval {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.catalyst.CatalystTypeConverters

  /** A conjunction evaluator: row ⇒ all filters TRUE (SQL 3VL — UNKNOWN
    * does not pass), or None when exact evaluation is not possible. */
  def build(schema: StructType, filters: Array[Filter]): Option[InternalRow => Boolean] = {
    if (filters.isEmpty) return None
    val compiled = filters.map(compile(schema, _))
    if (compiled.exists(_.isEmpty)) None
    else {
      val fns = compiled.map(_.get)
      Some(row => fns.forall(f => f(row) == java.lang.Boolean.TRUE))
    }
  }

  /** Tri-state (TRUE / FALSE / null=UNKNOWN) compile of one filter. */
  private def compile(schema: StructType, f: Filter)
      : Option[InternalRow => java.lang.Boolean] = {
    def cmp(attr: String, v: Any)(pred: Int => Boolean)
        : Option[InternalRow => java.lang.Boolean] =
      literal(schema, attr, v).map { case (idx, dt, lit) =>
        row =>
          if (row.isNullAt(idx)) null
          else java.lang.Boolean.valueOf(pred(TopNPushdown.compareValues(dt, row.get(idx, dt), lit)))
      }
    def idxOf(attr: String): Option[Int] =
      schema.fields.indexWhere(_.name == attr) match {
        case -1 => None
        case i => Some(i)
      }
    f match {
      case EqualTo(a, v) => cmp(a, v)(_ == 0)
      // null-safe equality is total (never UNKNOWN): a null row matches a
      // null literal, fails a non-null one
      case EqualNullSafe(a, v) =>
        if (v == null)
          idxOf(a).map(i => row => java.lang.Boolean.valueOf(row.isNullAt(i)))
        else
          literal(schema, a, v).map { case (idx, dt, lit) =>
            row =>
              java.lang.Boolean.valueOf(!row.isNullAt(idx) &&
                TopNPushdown.compareValues(dt, row.get(idx, dt), lit) == 0)
          }
      case GreaterThan(a, v) => cmp(a, v)(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v)(_ >= 0)
      case LessThan(a, v) => cmp(a, v)(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v)(_ <= 0)
      case In(a, vs) =>
        val lits = vs.map(v => literal(schema, a, v))
        if (vs.isEmpty || lits.exists(_.isEmpty)) None
        else {
          val (idx, dt, _) = lits.head.get
          val values = lits.map(_.get._3)
          Some(row =>
            if (row.isNullAt(idx)) null
            else java.lang.Boolean.valueOf(
              values.exists(l => TopNPushdown.compareValues(dt, row.get(idx, dt), l) == 0)))
        }
      case IsNull(a) => idxOf(a).map(i => row => java.lang.Boolean.valueOf(row.isNullAt(i)))
      case IsNotNull(a) => idxOf(a).map(i => row => java.lang.Boolean.valueOf(!row.isNullAt(i)))
      case StringStartsWith(a, v) => strPred(schema, a, v)((s, p) => s.startsWith(p))
      case StringEndsWith(a, v) => strPred(schema, a, v)((s, p) => s.endsWith(p))
      case StringContains(a, v) => strPred(schema, a, v)((s, p) => s.contains(p))
      case And(l, r) =>
        for (lf <- compile(schema, l); rf <- compile(schema, r)) yield { row: InternalRow =>
          val a = lf(row); val b = rf(row)
          if (a == java.lang.Boolean.FALSE || b == java.lang.Boolean.FALSE)
            java.lang.Boolean.FALSE
          else if (a == null || b == null) null
          else java.lang.Boolean.TRUE
        }
      case Or(l, r) =>
        for (lf <- compile(schema, l); rf <- compile(schema, r)) yield { row: InternalRow =>
          val a = lf(row); val b = rf(row)
          if (a == java.lang.Boolean.TRUE || b == java.lang.Boolean.TRUE)
            java.lang.Boolean.TRUE
          else if (a == null || b == null) null
          else java.lang.Boolean.FALSE
        }
      case Not(c) =>
        compile(schema, c).map { cf => row: InternalRow =>
          val a = cf(row)
          if (a == null) null else java.lang.Boolean.valueOf(!a.booleanValue())
        }
      // constants (SQL DELETE/UPDATE without WHERE reach mutations this way)
      case _: AlwaysTrue => Some(_ => java.lang.Boolean.TRUE)
      case _: AlwaysFalse => Some(_ => java.lang.Boolean.FALSE)
      case _ => None
    }
  }

  /** Byte-wise string predicate on a DEFAULT-collation string column (the
    * `StringType` pattern matches only collation UTF8_BINARY, whose
    * semantics UTF8String reproduces exactly). */
  private def strPred(schema: StructType, attr: String, v: String)(
      pred: (UTF8String, UTF8String) => Boolean)
      : Option[InternalRow => java.lang.Boolean] = {
    val idx = schema.fields.indexWhere(_.name == attr)
    if (idx < 0 || v == null) return None
    schema.fields(idx).dataType match {
      case StringType =>
        val lit = UTF8String.fromString(v)
        Some(row =>
          if (row.isNullAt(idx)) null
          else java.lang.Boolean.valueOf(pred(row.getUTF8String(idx), lit)))
      case _ => None
    }
  }

  /** (fieldIndex, type, Catalyst-internal literal) for a comparison, or None
    * when the column is absent, the literal is null (the comparison would be
    * constant-UNKNOWN — Catalyst never pushes those), or conversion fails. */
  private def literal(schema: StructType, attr: String, v: Any)
      : Option[(Int, DataType, Any)] = {
    val idx = schema.fields.indexWhere(_.name == attr)
    if (idx < 0 || v == null) return None
    val dt = schema.fields(idx).dataType
    if (!TopNPushdown.comparable(dt)) return None
    try {
      val lit = CatalystTypeConverters.createToCatalystConverter(dt)(v)
      if (lit == null) None else Some((idx, dt, lit))
    } catch { case _: Exception => None }
  }
}

/** Bounded candidate buffer: keeps the k best rows seen (defensive copies —
  * upstream readers may reuse row objects). `worst` exposes the k-th
  * candidate once full, for page-bound pruning. */
final class TopKBuffer(cmp: java.util.Comparator[InternalRow], k: Int) {
  // priority queue ordered worst-first so peek() is the k-th candidate
  private val pq = new java.util.PriorityQueue[InternalRow](k, cmp.reversed())
  def offer(row: InternalRow): Unit = {
    if (pq.size < k) pq.add(row.copy()): Unit
    else if (cmp.compare(row, pq.peek()) < 0) {
      pq.poll()
      pq.add(row.copy()): Unit
    }
  }
  def worst: InternalRow = if (pq.size < k) null else pq.peek()
  def drain(): Iterator[InternalRow] = {
    import scala.collection.JavaConverters._
    pq.iterator().asScala
  }
}
