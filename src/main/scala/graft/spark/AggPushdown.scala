package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

import graft.format._

/** Footer-only aggregates: COUNT(*), COUNT(col), MIN/MAX(col) over
  * unfiltered scans never touch data pages — the whole query is a metadata
  * pass over file footers (exact, because page min/max are exact aggregates
  * of the written values). At 100 TB that turns a full scan into reading
  * one footer per file.
  *
  * GROUP BY is supported when the single grouping column IS the table's
  * hive-partition column: every group maps to a directory, so the same
  * footer pass yields one row per partition value (`SELECT event_type,
  * count(*) ... GROUP BY event_type` over a type-partitioned table is pure
  * metadata).
  *
  * Strings are excluded from MIN/MAX (their zone maps are 8-byte prefixes,
  * not exact). */
object AggPushdown {

  sealed trait Spec
  case object CountStarSpec extends Spec
  final case class CountColSpec(field: Int) extends Spec
  final case class MinSpec(field: Int) extends Spec
  final case class MaxSpec(field: Int) extends Spec
  final case class SumSpec(field: Int) extends Spec

  private def fieldOf(schema: StructType, e: Expression): Option[Int] = e match {
    case nr: NamedReference if nr.fieldNames().length == 1 =>
      schema.fields.indexWhere(_.name == nr.fieldNames()(0)) match {
        case -1 => None
        case i => Some(i)
      }
    case _ => None
  }

  /** Types whose zone maps are exact & invertible to the column value.
    * Wide decimals qualify through StatsDecimal128 (exact i128 planes); a
    * page of any other kind makes [[compute]] bail. */
  private def statsExact(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case d: DecimalType => d.precision <= 38
    case _ => false
  }

  /** Types whose pages carry exact i128 sums (the writer's sumEnabled set). */
  private def sumCapable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Spark's result type for a pushed SUM (must match the engine's
    * expectation for complete pushdown): integral → long, decimal(p, s) →
    * decimal(min(38, p+10), s). */
  private def sumResultType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
    case _ => LongType
  }

  /** @return (groupByField, aggregate specs) — groupByField is None for a
    * global aggregate, Some(i) for GROUP BY one plain column of a
    * hive-parseable type (whether the table is ACTUALLY partitioned on it
    * is only known at [[compute]] time, which then bails if not). */
  def translate(schema: StructType, agg: Aggregation): Option[(Option[Int], Seq[Spec])] = {
    val grp: Option[Int] = agg.groupByExpressions() match {
      case Array() => None
      case Array(e) => fieldOf(schema, e) match {
        case Some(i) if StrawKeyedPartition.parseable(schema.fields(i).dataType) =>
          Some(i)
        case _ => return None
      }
      case _ => return None
    }
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => Some(CountStarSpec)
      // COUNT(col) needs the column's OWN null count: only a flat field's
      // single leaf carries it (a nested field's first-leaf nullCount counts
      // leaf nulls, a superset of the column's)
      case c: Count if !c.isDistinct =>
        fieldOf(schema, c.column())
          .filter(i => !graft.format.LeafLayout.isNested(schema.fields(i).dataType))
          .map(CountColSpec)
      case m: Min =>
        fieldOf(schema, m.column())
          .filter(i => statsExact(schema.fields(i).dataType)).map(MinSpec)
      case m: Max =>
        fieldOf(schema, m.column())
          .filter(i => statsExact(schema.fields(i).dataType)).map(MaxSpec)
      // SUM from the per-page i128 sums — integer-family and decimal(≤18)
      // only (float sums are order-dependent, so pages carry none)
      case s: Sum if !s.isDistinct =>
        fieldOf(schema, s.column())
          .filter(i => sumCapable(schema.fields(i).dataType)).map(SumSpec)
      case _ => None
    }
    if (specs.forall(_.isDefined)) Some((grp, specs.flatten.toSeq)) else None
  }

  /** Complete-pushdown contract: group-by columns first, then aggregates. */
  def outputSchema(schema: StructType, grp: Option[Int], specs: Seq[Spec]): StructType =
    StructType(grp.map(i => schema.fields(i).copy(nullable = true)).toSeq ++
      specs.zipWithIndex.map {
        case (CountStarSpec, i) => StructField(s"agg$i", LongType, nullable = false)
        case (CountColSpec(_), i) => StructField(s"agg$i", LongType, nullable = false)
        case (MinSpec(f), i) => StructField(s"agg$i", schema.fields(f).dataType)
        case (MaxSpec(f), i) => StructField(s"agg$i", schema.fields(f).dataType)
        case (SumSpec(f), i) =>
          StructField(s"agg$i", sumResultType(schema.fields(f).dataType))
      })

  /** Invert StrawFormat.sortableDouble. */
  private def unsortableDouble(s: Long): Double = {
    val bits = if (s >= 0) s else -(s + 1) | Long.MinValue
    java.lang.Double.longBitsToDouble(bits)
  }

  private def statsToValue(dt: DataType, enc: (Long, Long)): Any = dt match {
    case BooleanType => enc._1 != 0L
    case ByteType => enc._1.toByte
    case ShortType => enc._1.toShort
    case IntegerType | DateType => enc._1.toInt
    case LongType | TimestampType | TimestampNTZType => enc._1
    case FloatType => unsortableDouble(enc._1).toFloat
    case DoubleType => unsortableDouble(enc._1)
    case d: DecimalType if d.precision <= 18 =>
      Decimal.createUnsafe(enc._1, d.precision, d.scale)
    case d: DecimalType => // exact i128 planes (hi, lo)
      Decimal(new java.math.BigDecimal(
        StrawFormat.i128ToBigInteger(enc._1, enc._2), d.scale), d.precision, d.scale)
    case other => throw new IllegalStateException(s"agg pushdown: $other")
  }

  /** The stats kind a field's pages must carry for MIN/MAX to be provable. */
  private def requiredKind(dt: DataType): Int = dt match {
    case d: DecimalType if d.precision > 18 => StrawFormat.StatsDecimal128
    case _ => StrawFormat.StatsSigned
  }

  private def cmpEnc(kind: Int, a: (Long, Long), b: (Long, Long)): Int =
    if (kind == StrawFormat.StatsDecimal128)
      StrawFormat.compare128(a._1, a._2, b._1, b._2)
    else java.lang.Long.compare(a._1, b._1)

  /** Accumulates one (group's) aggregate state across footers. */
  private final class Acc(schema: StructType, needCount: Seq[Int],
      needMinMax: Seq[Int], needSum: Seq[Int]) {
    var countStar = 0L
    val countCol = collection.mutable.Map.empty[Int, Long]
    val minEnc = collection.mutable.Map.empty[Int, (Long, Long)]
    val maxEnc = collection.mutable.Map.empty[Int, (Long, Long)]
    // exact i128 running sums + whether any non-null value contributed
    // (SUM over zero non-null rows is SQL NULL, not 0)
    val sumEnc = collection.mutable.Map.empty[Int, (Long, Long)]
    val sumSeen = collection.mutable.Set.empty[Int]

    /** @return false when a page lacks provable stats. */
    def add(footer: graft.format.StrawFooter): Boolean = {
      countStar += footer.numRows
      def colIdx(f: Int): Int =
        footer.schema.fields.indexWhere(_.name == schema.fields(f).name)
      for (f <- needCount) {
        val ci = colIdx(f)
        val nonNull =
          if (ci < 0) 0L // column absent in this file: all null
          else footer.topLeaf(ci).pages.foldLeft(0L)((a, p) => a + p.numValues - p.nullCount)
        countCol(f) = countCol.getOrElse(f, 0L) + nonNull
      }
      for (f <- needMinMax) {
        val ci = colIdx(f)
        val kind = requiredKind(schema.fields(f).dataType)
        if (ci >= 0) {
          for (p <- footer.topLeaf(ci).pages if p.nullCount < p.numValues) {
            if (p.statsKind != kind) return false // not provable
            val pMin = (p.min, p.min2)
            val pMax = (p.max, p.max2)
            minEnc(f) = minEnc.get(f) match {
              case Some(cur) if cmpEnc(kind, cur, pMin) <= 0 => cur
              case _ => pMin
            }
            maxEnc(f) = maxEnc.get(f) match {
              case Some(cur) if cmpEnc(kind, cur, pMax) >= 0 => cur
              case _ => pMax
            }
          }
        }
      }
      for (f <- needSum) {
        val ci = colIdx(f)
        if (ci >= 0) {
          for (p <- footer.topLeaf(ci).pages) {
            // a page with any non-null values must carry a sum (files from
            // before the sum extension don't — bail to the normal scan)
            if (p.nullCount < p.numValues) {
              if (!p.hasSum) return false
              sumSeen += f
            }
            if (p.hasSum) {
              val cur = sumEnc.getOrElse(f, (0L, 0L))
              sumEnc(f) = StrawFormat.add128(cur._1, cur._2, p.sumHi, p.sumLo)
            }
          }
        }
      }
      true
    }

    /** The accumulated sum fits its result representation: long sums must
      * not exceed 64 bits (Spark's own non-pushed sum would wrap or throw
      * depending on ANSI mode — bail and let it), decimal sums must fit the
      * widened precision. */
    def sumsRepresentable(specs: Seq[Spec]): Boolean = specs.forall {
      case SumSpec(f) => sumEnc.get(f).forall { case (hi, lo) =>
        schema.fields(f).dataType match {
          case d: DecimalType =>
            toBigInteger(hi, lo).abs.toString.length <= math.min(38, d.precision + 10)
          case _ => hi == (lo >> 63) // sign-extension consistent: fits i64
        }
      }
      case _ => true
    }

    private def toBigInteger(hi: Long, lo: Long): java.math.BigInteger =
      StrawFormat.i128ToBigInteger(hi, lo)

    /** Aggregate values (spec order) written into `row` from `offset`. */
    def fill(row: GenericInternalRow, offset: Int, specs: Seq[Spec]): Unit =
      specs.zipWithIndex.foreach {
        case (CountStarSpec, i) => row.update(offset + i, countStar)
        case (CountColSpec(f), i) => row.update(offset + i, countCol.getOrElse(f, 0L))
        case (MinSpec(f), i) => row.update(offset + i,
          minEnc.get(f).map(statsToValue(schema.fields(f).dataType, _)).orNull)
        case (MaxSpec(f), i) => row.update(offset + i,
          maxEnc.get(f).map(statsToValue(schema.fields(f).dataType, _)).orNull)
        case (SumSpec(f), i) =>
          val v: Any =
            if (!sumSeen(f)) null
            else {
              val (hi, lo) = sumEnc(f)
              schema.fields(f).dataType match {
                case d: DecimalType =>
                  val p = math.min(38, d.precision + 10)
                  Decimal(new java.math.BigDecimal(toBigInteger(hi, lo), d.scale), p, d.scale)
                case _ => lo // fits i64 (checked by sumsRepresentable)
              }
            }
          row.update(offset + i, v)
      }
  }

  /** Compute the result rows from file footers alone — one row for a global
    * aggregate, one row per partition value for GROUP BY the partition
    * column — or None if any page lacks the exact stats needed or, for the
    * grouped form, any file is not hive-partitioned on the grouping column. */
  def compute(path: String, schema: StructType, grp: Option[Int],
      specs: Seq[Spec], asOf: Option[Long] = None): Option[Seq[InternalRow]] = {
    val needCount = specs.collect { case CountColSpec(f) => f }.distinct
    val needMinMax = (specs.collect { case MinSpec(f) => f } ++
      specs.collect { case MaxSpec(f) => f }).distinct
    val needSum = specs.collect { case SumSpec(f) => f }.distinct
    // prefetch with the bounded parallel pool (same pattern as inferSchema),
    // then accumulate in path order for deterministic group ordering. A
    // log-carried file-stats footer (ManifestStats) substitutes for
    // the real one — the aggregate then reads NO file at all — but only
    // when its counts are un-clamped (numValues == numRows): the synthetic
    // page clamps to Int range, and a clamped nullCount would make
    // COUNT(col) wrong, so oversized files fall back to their real footer.
    // With SUM specs, a synthetic entry must additionally carry sums on
    // the SUMMED fields' leaves (other columns — dates, strings, floats —
    // never have them and must not block the log path) — otherwise the real
    // footer answers for that file instead of failing the whole pushdown.
    def synthCoversSum(synth: graft.format.StrawFooter): Boolean =
      needSum.forall { f =>
        val ci = synth.schema.fields.indexWhere(_.name == schema.fields(f).name)
        ci < 0 || { // absent column: all null, no sum needed
          val p = synth.topLeaf(ci).pages(0)
          p.hasSum || p.nullCount == p.numValues
        }
      }
    val listed = StrawIO.listFilesMetaWithStats(path, asOf)
    val metas = listed.map(_.meta)
    // deletion vectors: a DV'd file's footer aggregates over DEAD rows too.
    // COUNT(*) nets out exactly (the DV's cardinality is the dead count);
    // COUNT(col)/MIN/MAX/SUM cannot (which dead rows were null / extreme /
    // how much they summed is only in the data) — bail to the real scan,
    // whose readers subtract the DV row-level.
    val dvDead: Seq[Long] = listed.map(l => if (l.dv == null) 0L else l.dv.cardinality)
    if (dvDead.exists(_ > 0L) && !specs.forall(_ == CountStarSpec)) return None
    // rename/drop history: footer spellings translate to the logical
    // namespace the aggregation references (identity on unmapped tables) —
    // BEFORE the synth-coverage guard, which matches by logical name
    val mapping = StrawLog.mappingAt(path, asOf)
    val footers = StrawIO.mapParallel(listed) { l =>
      l.synth.map(mapping.toLogicalFooter) match {
        case Some(synth)
          if (synth.columns.isEmpty ||
            synth.columns(0).pages(0).numValues.toLong == synth.numRows) &&
            (needSum.isEmpty || synthCoversSum(synth)) => synth
        case _ =>
          mapping.toLogicalFooter(
            FooterCache.get(l.meta.path, l.meta.mtime, l.meta.len))
      }
    }
    grp match {
      case None =>
        val acc = new Acc(schema, needCount, needMinMax, needSum)
        for ((footer, dead) <- footers.zip(dvDead)) {
          if (!acc.add(footer)) return None
          acc.countStar -= dead
        }
        if (!acc.sumsRepresentable(specs)) return None
        val row = new GenericInternalRow(specs.length)
        acc.fill(row, 0, specs)
        Some(Seq(row))
      case Some(g) =>
        val groupCol = schema.fields(g).name
        val dt = schema.fields(g).dataType
        // keyed by the PARSED group value, not the raw directory string:
        // two spellings of one value (cat=1 vs cat=01, true vs TRUE) must
        // land in ONE group — complete pushdown makes these rows final, so
        // duplicate groups would be a wrong GROUP BY answer, not a slow one.
        // LinkedHashMap: deterministic row order (path-sorted first sight);
        // null (the __null__ directory) is a valid key.
        val groups = collection.mutable.LinkedHashMap.empty[Any, Acc]
        for (((m, footer), dead) <- metas.zip(footers).zip(dvDead)) {
          PartitionLayout.partitionOf(m.path) match {
            case Some((c, v)) if c == groupCol =>
              // the directory name must be CORROBORATED by the group
              // column's own page stats (the column is also stored in the
              // data) — a directory that merely happens to parse as
              // col=value over unpartitioned files declines instead of
              // fabricating a group
              if (!groupValueConfirmed(footer, groupCol, dt, v)) return None
              val parsed =
                try StrawKeyedPartition.parse(v, dt)
                catch { case _: Exception => return None }
              val acc = groups.getOrElseUpdate(parsed,
                new Acc(schema, needCount, needMinMax, needSum))
              if (!acc.add(footer)) return None
              acc.countStar -= dead
            case _ => return None // a file outside the layout: groups unknowable
          }
        }
        if (!groups.values.forall(_.sumsRepresentable(specs))) return None
        Some(groups.toSeq.map { case (parsed, acc) =>
          val row = new GenericInternalRow(1 + specs.length)
          row.update(0, parsed)
          acc.fill(row, 1, specs)
          row
        })
    }
  }

  /** Every page of the group column must pin the directory's value: all
    * null for the null directory, else no nulls and min == max == the
    * encoded value (8-byte-prefix granularity for strings — exact under
    * this writer's layout, where the column is constant per file). */
  private def groupValueConfirmed(footer: graft.format.StrawFooter,
      groupCol: String, dt: DataType, v: Option[String]): Boolean = {
    val ci = footer.schema.fields.indexWhere(_.name == groupCol)
    // column absent from the file: every row reads as null, so only the
    // null directory tells the truth
    if (ci < 0) return v.isEmpty
    val pages = footer.topLeaf(ci).pages
    v match {
      case None => pages.forall(p => p.nullCount == p.numValues)
      case Some(s) =>
        val parsed =
          try StrawKeyedPartition.parse(Some(s), dt)
          catch { case _: Exception => return false }
        ZoneMapFilter.toStatsLong(dt, parsed) match {
          case Some((enc, kind)) => pages.forall(p =>
            p.numValues == 0 || (p.nullCount == 0 && p.statsKind == kind &&
              p.min == enc && p.max == enc))
          case None => false
        }
    }
  }
}

case class OneRowPartition() extends InputPartition

case class PrecomputedRowsFactory(values: Seq[Array[Any]]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = values.iterator
      private var row: InternalRow = _
      override def next(): Boolean = {
        val h = it.hasNext
        if (h) row = new GenericInternalRow(it.next())
        h
      }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** A Scan that emits pre-computed aggregate rows (one for a global
  * aggregate, one per group for partition-column GROUP BY). */
class StrawAggScan(description0: String, schema: StructType, rows: Seq[InternalRow])
  extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String = description0

  override def planInputPartitions(): Array[InputPartition] =
    Array(OneRowPartition())

  override def createReaderFactory(): PartitionReaderFactory =
    PrecomputedRowsFactory(
      rows.map(_.asInstanceOf[GenericInternalRow].values.clone()))
}
