package graft.spark

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.format._

/** Page-skipping predicates over the per-page zone maps in the `.strb`
  * footer (an extension the reference format lacks — its PageMeta carries
  * only length/num_values, reference: src/lib.rs:75-80; SURVEY §7.4).
  *
  * Everything here is *conservative*: a page is skipped only when the zone
  * map proves no row can match. Filters are always re-evaluated by Spark
  * above the scan, so a false "keep" costs IO, never correctness.
  */
object ZoneMapFilter {

  /** Encode a filter literal into the stats domain of `dt`.
    * @return (encodedValue, expectedStatsKind), or None if not encodable. */
  def toStatsLong(dt: DataType, v: Any): Option[(Long, Int)] = {
    import StrawFormat._
    if (v == null) return None
    try dt match {
      case BooleanType => Some(((if (v.asInstanceOf[Boolean]) 1L else 0L), StatsSigned))
      // lenient on the literal's box: with type widening a filter on the
      // table's LONG column probes a file whose pages are INT-typed (and
      // vice versa) — any INTEGRAL literal compares in the same signed
      // domain as the stats. Floating boxes are excluded: longValue() would
      // truncate a fractional literal and make strict bounds unsound.
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
                  _: java.lang.Long) =>
          Some((n.asInstanceOf[java.lang.Number].longValue(), StatsSigned))
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some((d.toLocalDate.toEpochDay, StatsSigned))
        case d: java.time.LocalDate => Some((d.toEpochDay, StatsSigned))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.sql.Timestamp =>
          Some((t.getTime * 1000L + (t.getNanos % 1000000) / 1000, StatsSigned))
        case t: java.time.Instant =>
          Some((t.getEpochSecond * 1000000L + t.getNano / 1000, StatsSigned))
        case _ => None
      }
      case TimestampNTZType => v match {
        case t: java.time.LocalDateTime =>
          Some((t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000, StatsSigned))
        case _ => None
      }
      case FloatType => v match {
        case f: java.lang.Float => Some((sortableDouble(f.toDouble), StatsSigned))
        case d: java.lang.Double => Some((sortableDouble(d), StatsSigned))
        case _ => None
      }
      case DoubleType => v match {
        case d: java.lang.Double => Some((sortableDouble(d), StatsSigned))
        case f: java.lang.Float => Some((sortableDouble(f.toDouble), StatsSigned))
        case _ => None
      }
      case d: DecimalType if d.precision <= 18 => v match {
        case bd: java.math.BigDecimal =>
          Some((bd.setScale(d.scale).unscaledValue().longValueExact(), StatsSigned))
        case bd: BigDecimal =>
          Some((bd.underlying().setScale(d.scale).unscaledValue().longValueExact(), StatsSigned))
        case _ => None
      }
      case StringType => v match {
        case s: String => Some((prefixLong(s.getBytes("UTF-8")), StatsPrefix))
        case u: org.apache.spark.unsafe.types.UTF8String =>
          Some((prefixLong(u.getBytes), StatsPrefix))
        case _ => None
      }
      case _ => None
    } catch { case _: ArithmeticException => None }
  }

  /** Kinds whose encoded stat collapses several values into one long, so
    * strict range bounds must be widened to inclusive ones.
    * [[StrawFormat.StatsDecimal128]] is exact — strict bounds stand. */
  private def lossyKind(kind: Int): Boolean = kind == StrawFormat.StatsPrefix

  /** Exact i128 planes (hi, lo) of a wide-decimal literal at the column's
    * scale, or None when not exactly representable (a literal whose scale
    * reduction would round — keep the page, conservative). */
  def toStats128(dt: DecimalType, v: Any): Option[(Long, Long)] = {
    val bd = v match {
      case b: java.math.BigDecimal => b
      case b: BigDecimal => b.underlying()
      case _ => return None
    }
    try {
      val unscaled = bd.setScale(dt.scale).unscaledValue()
      if (unscaled.bitLength() > 127) None
      else Some((unscaled.shiftRight(64).longValue(), unscaled.longValue()))
    } catch { case _: ArithmeticException => None }
  }

  /** Resolve an attribute (top-level or a dotted struct path like
    * `meta.lang`) to its LEAF in the schema's per-leaf numbering
    * ([[graft.format.LeafLayout.resolveLeaf]]): struct-path leaf pages are
    * row-aligned and carry their own stats, so nested-field predicates
    * prune pages exactly like flat ones. Array/map paths (not row-aligned)
    * and nested targets don't resolve — those filters simply don't prune. */
  private def leafOf(schema: StructType, attr: String): Option[(Int, DataType)] =
    graft.format.LeafLayout.resolveLeaf(schema, attr)

  /** Can this filter contribute to page skipping? */
  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => encodable(schema, a, v)
    // `a <=> v` prunes exactly like `a = v` for a non-null literal (a null
    // row never satisfies either) and like IS NULL for a null one
    case EqualNullSafe(a, v) =>
      if (v == null) leafOf(schema, a).isDefined else encodable(schema, a, v)
    case GreaterThan(a, v) => encodable(schema, a, v)
    case GreaterThanOrEqual(a, v) => encodable(schema, a, v)
    case LessThan(a, v) => encodable(schema, a, v)
    case LessThanOrEqual(a, v) => encodable(schema, a, v)
    case In(a, vs) => vs.nonEmpty && vs.forall(encodable(schema, a, _))
    case IsNull(a) => leafOf(schema, a).isDefined
    case IsNotNull(a) => leafOf(schema, a).isDefined
    case And(l, r) => supported(schema, l) || supported(schema, r)
    case Or(l, r) => supported(schema, l) && supported(schema, r)
    case _ => false
  }

  private def encodable(schema: StructType, attr: String, v: Any): Boolean =
    leafOf(schema, attr).exists {
      case (_, d: DecimalType) if d.precision > 18 => toStats128(d, v).isDefined
      case (_, dt) => toStatsLong(dt, v).isDefined
    }

  // -------------------------------------------------------------------------
  // Selectivity estimation (drives the consume-vs-residual filter decision;
  // any answer is CORRECT — this is purely a plan-quality heuristic)
  // -------------------------------------------------------------------------

  /** Estimated fraction of rows passing the CONJUNCTION of `filters`,
    * from page zone maps under an equi-width assumption (range predicates
    * interpolate linearly in the encoded domain; conjuncts assumed
    * independent). Footers beyond `sampleFiles` are ignored — an estimate
    * over a prefix sample is plenty for a binary plan decision. */
  def estimatePassFraction(schema: StructType, footers: Seq[StrawFooter],
      filters: Array[Filter], sampleFiles: Int = 64): Double = {
    if (filters.isEmpty) return 1.0
    var rows = 0L
    var pass = 0.0
    for (footer <- footers.take(sampleFiles) if footer.columns.nonEmpty) {
      val nPages = footer.columns(0).pages.length
      var p = 0
      while (p < nPages) {
        val n = footer.columns(0).pages(p).numValues
        rows += n
        var f = 1.0
        filters.foreach(fl => f *= filterFraction(schema, footer, p, fl))
        pass += f * n
        p += 1
      }
    }
    if (rows == 0) 0.5 else pass / rows
  }

  /** Estimated pass fraction of one filter over one page. */
  private def filterFraction(schema: StructType, footer: StrawFooter, p: Int,
      f: Filter): Double = {
    val sch = footer.schema
    def pm(attr: String): Option[PageMeta] =
      leafOf(sch, attr).map { case (li, _) => footer.columns(li).pages(p) }
    def nonNullFrac(m: PageMeta): Double =
      if (m.numValues == 0) 0.0 else 1.0 - m.nullCount.toDouble / m.numValues
    // position of the literal inside the page's encoded [min, max], clamped
    def interp(attr: String, v: Any): Option[Double] =
      leafOf(sch, attr) match {
        case Some((li, dt)) if footer.columns(li).pages(p).statsKind != StrawFormat.StatsNone =>
          val m = footer.columns(li).pages(p)
          def pos(enc: Double, lo: Double, hi: Double): Double =
            if (hi <= lo) 0.5 else math.max(0.0, math.min(1.0, (enc - lo) / (hi - lo)))
          m.statsKind match {
            case StrawFormat.StatsDecimal128 => dt match {
              case d: DecimalType if d.precision > 18 =>
                toStats128(d, v).map { case (h, l) =>
                  def f128(hi0: Long, lo0: Long): Double =
                    hi0.toDouble * math.pow(2, 64) + (lo0.toDouble + (if (lo0 < 0) math.pow(2, 64) else 0))
                  pos(f128(h, l), f128(m.min, m.min2), f128(m.max, m.max2))
                }
              case _ => None
            }
            case k => toStatsLong(dt, v) match {
              case Some((enc, kind)) if kind == k =>
                if (k == StrawFormat.StatsPrefix)
                  // unsigned domain: shift into positive doubles
                  Some(pos(enc.toDouble + (if (enc < 0) math.pow(2, 64) else 0),
                    m.min.toDouble + (if (m.min < 0) math.pow(2, 64) else 0),
                    m.max.toDouble + (if (m.max < 0) math.pow(2, 64) else 0)))
                else Some(pos(enc.toDouble, m.min.toDouble, m.max.toDouble))
              case _ => None
            }
          }
        case _ => None
      }
    def withNull(attr: String, core: Double): Double =
      pm(attr).map(m => core * nonNullFrac(m)).getOrElse(core)
    // corroborated equality: the flat 0.05 badly understates a pass-most
    // equality (constant / low-cardinality columns). When the page's stats
    // pin a SINGLE encoded value and the filter survived mayMatch, treat it
    // as pass-all — overestimating is the safe direction here (a too-large
    // size estimate only forgoes a broadcast; a too-small one can
    // green-light broadcasting a huge table).
    def eqFrac(a: String): Double =
      leafOf(sch, a) match {
        case Some((li, _)) =>
          val m = footer.columns(li).pages(p)
          if (m.statsKind != StrawFormat.StatsNone &&
            m.min == m.max && m.min2 == m.max2) 1.0
          else 0.05
        case None => 0.05
      }
    f match {
      // satisfiability against the FILE's own schema (indices into
      // footer.columns must come from footer.schema — an evolved table's
      // field positions can differ per file)
      case _ if !mayMatch(sch, footer, p, f) => 0.0
      case EqualTo(a, _) => withNull(a, eqFrac(a))
      case EqualNullSafe(a, v) =>
        if (v == null) filterFraction(schema, footer, p, IsNull(a))
        else filterFraction(schema, footer, p, EqualTo(a, v))
      case In(a, vs) => withNull(a, math.min(1.0, eqFrac(a) * vs.length))
      case GreaterThan(a, v) => withNull(a, 1.0 - interp(a, v).getOrElse(0.5))
      case GreaterThanOrEqual(a, v) => withNull(a, 1.0 - interp(a, v).getOrElse(0.5))
      case LessThan(a, v) => withNull(a, interp(a, v).getOrElse(0.5))
      case LessThanOrEqual(a, v) => withNull(a, interp(a, v).getOrElse(0.5))
      case IsNull(a) => pm(a).map(m => 1.0 - nonNullFrac(m)).getOrElse(0.1)
      case IsNotNull(a) => pm(a).map(nonNullFrac).getOrElse(0.9)
      case And(l, r) => filterFraction(schema, footer, p, l) * filterFraction(schema, footer, p, r)
      case Or(l, r) => math.min(1.0,
        filterFraction(schema, footer, p, l) + filterFraction(schema, footer, p, r))
      case Not(c) => 1.0 - filterFraction(schema, footer, p, c)
      case _ => 0.5
    }
  }

  /** Page-keep predicate for one file: true ⇔ page may contain a match. */
  def keptPages(footer: StrawFooter, filters: Array[Filter]): Int => Boolean = {
    val schema = footer.schema
    if (filters.isEmpty || footer.columns.isEmpty) return _ => true
    p => filters.forall(f => mayMatch(schema, footer, p, f))
  }

  /** Conservative page-level satisfiability of one filter. */
  private def mayMatch(schema: StructType, footer: StrawFooter, p: Int, f: Filter): Boolean = {
    def page(attr: String): Option[PageMeta] =
      leafOf(schema, attr).map { case (li, _) => footer.columns(li).pages(p) }
    // every leaf slot null (for a struct path: parent null OR field null —
    // exactly when `parent.field` is SQL-null)
    def allNull(pm: PageMeta): Boolean = pm.nullCount == pm.numValues

    // (compare(literal, pageMin), compare(literal, pageMax)) under the
    // PAGE's stats kind, or None when the literal can't be encoded for it —
    // wide-decimal literals compare as exact i128 planes (StatsDecimal128)
    def encComp(dt: DataType, v: Any, pm: PageMeta): Option[(Int, Int)] =
      pm.statsKind match {
        case StrawFormat.StatsDecimal128 => dt match {
          case d: DecimalType if d.precision > 18 =>
            toStats128(d, v).map { case (h, l) =>
              (StrawFormat.compare128(h, l, pm.min, pm.min2),
                StrawFormat.compare128(h, l, pm.max, pm.max2))
            }
          case _ => None
        }
        case k => toStatsLong(dt, v) match {
          case Some((enc, kind)) if kind == k =>
            val cmp: (Long, Long) => Int =
              if (k == StrawFormat.StatsPrefix) java.lang.Long.compareUnsigned
              else java.lang.Long.compare
            Some((cmp(enc, pm.min), cmp(enc, pm.max)))
          case _ => None
        }
      }

    def cmpRange(attr: String, v: Any)(
        check: (PageMeta, Int, Int) => Boolean): Boolean = {
      leafOf(schema, attr) match {
        case Some((li, dt)) =>
          val pm = footer.columns(li).pages(p)
          if (allNull(pm)) false // no non-null value can satisfy a comparison
          else encComp(dt, v, pm) match {
            case Some((toMin, toMax)) => check(pm, toMin, toMax)
            case None => true // stats unavailable/mismatched: keep
          }
        case None => true
      }
    }

    // Per-page equality filter probe (PageBloom, opt-in at write): a page
    // whose bloom excludes the literal provably holds no match — sharper
    // than the 8-byte prefix bounds on shared-prefix string keys (URLs,
    // digests). Hash domains mirror the writer: raw UTF-8/binary bytes for
    // string/binary leaves, the encoded stats long for long-backed ones.
    def bloomKeeps(dt: DataType, v: Any, pm: PageMeta): Boolean = {
      if (pm.bloom == null || v == null) return true
      dt match {
        case StringType => v match {
          case s: String => PageBloom.mightContain(pm.bloom, PageBloom.hashBytes(s.getBytes("UTF-8")))
          case u: org.apache.spark.unsafe.types.UTF8String =>
            PageBloom.mightContain(pm.bloom, PageBloom.hashBytes(u.getBytes))
          case _ => true
        }
        case BinaryType => v match {
          case b: Array[Byte] => PageBloom.mightContain(pm.bloom, PageBloom.hashBytes(b))
          case _ => true
        }
        case _ => toStatsLong(dt, v) match {
          case Some((enc, StrawFormat.StatsSigned)) =>
            PageBloom.mightContain(pm.bloom, PageBloom.hashLong(enc))
          case _ => true
        }
      }
    }

    f match {
      case EqualTo(a, v) =>
        cmpRange(a, v)((pm, toMin, toMax) => toMin >= 0 && toMax <= 0) &&
          leafOf(schema, a).forall { case (li, dt) =>
            bloomKeeps(dt, v, footer.columns(li).pages(p))
          }
      case EqualNullSafe(a, v) =>
        if (v == null) mayMatch(schema, footer, p, IsNull(a))
        else mayMatch(schema, footer, p, EqualTo(a, v))
      case GreaterThan(a, v) =>
        // prefix stats blur strict bounds: treat > as >=
        // there (conservative — multiple values share an encoded stat)
        cmpRange(a, v)((pm, _, toMax) =>
          if (lossyKind(pm.statsKind)) toMax <= 0 else toMax < 0)
      case GreaterThanOrEqual(a, v) =>
        cmpRange(a, v)((_, _, toMax) => toMax <= 0)
      case LessThan(a, v) =>
        cmpRange(a, v)((pm, toMin, _) =>
          if (lossyKind(pm.statsKind)) toMin >= 0 else toMin > 0)
      case LessThanOrEqual(a, v) =>
        cmpRange(a, v)((_, toMin, _) => toMin >= 0)
      case In(a, vs) => vs.exists(v => mayMatch(schema, footer, p, EqualTo(a, v)))
      case IsNull(a) => page(a).forall(_.nullCount > 0)
      case IsNotNull(a) => page(a).forall(pm => !allNull(pm))
      case And(l, r) =>
        (!supported(schema, l) || mayMatch(schema, footer, p, l)) &&
          (!supported(schema, r) || mayMatch(schema, footer, p, r))
      case Or(l, r) =>
        mayMatch(schema, footer, p, l) || mayMatch(schema, footer, p, r)
      case _ => true
    }
  }
}
