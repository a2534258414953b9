package graft.spark

import org.apache.spark.sql.types.StructType

import graft.format.{ColumnMeta, LeafLayout, PageMeta, StrawFormat, StrawFooter}

/** File-level column statistics: each leaf's page stats merged over the
  * whole file, serialized as a small binary blob on the transaction log's
  * add lines ([[StrawLog]]) and re-materialized as a synthetic ONE-page
  * footer — so file-level pruning reuses [[ZoneMapFilter]]'s page
  * satisfiability verbatim instead of duplicating its kind-aware
  * comparison logic. */
object ManifestStats {

  /** Layout (LE, via ByteBuf), version 2: version u8 | numRows i64 | per
    * leaf (schema DFS order): flags u8 (low 6 bits = stats kind, 0x40 =
    * has i128 sum) | nullCount i64 | if kind != None: min, max i64 | if
    * kind == Decimal128: min2, max2 i64 | if has sum: sumHi, sumLo i64. */
  def encode(footer: StrawFooter): Array[Byte] = {
    val out = new graft.format.ByteBuf(256)
    out.putByte(2)
    out.putLong(footer.numRows)
    footer.columns.foreach { col =>
      var kind = StrawFormat.StatsNone
      var mn = 0L; var mx = 0L; var mn2 = 0L; var mx2 = 0L
      var nulls = 0L
      var mixed = false
      // file-level sum exists iff EVERY page carries one (the writer emits
      // sums uniformly per leaf, so a mixed leaf means generations differ)
      var hasSum = col.pages.nonEmpty
      var sHi = 0L; var sLo = 0L
      col.pages.foreach { p =>
        nulls += p.nullCount
        if (p.hasSum) {
          val s = StrawFormat.add128(sHi, sLo, p.sumHi, p.sumLo)
          sHi = s._1; sLo = s._2
        } else hasSum = false
        if (p.statsKind != StrawFormat.StatsNone && !mixed) {
          if (kind == StrawFormat.StatsNone) {
            kind = p.statsKind; mn = p.min; mx = p.max; mn2 = p.min2; mx2 = p.max2
          } else if (kind != p.statsKind) {
            // pages disagree on kind: no file stats
            mixed = true; kind = StrawFormat.StatsNone
          } else {
            if (lessThan(kind, p.min, p.min2, mn, mn2)) { mn = p.min; mn2 = p.min2 }
            if (lessThan(kind, mx, mx2, p.max, p.max2)) { mx = p.max; mx2 = p.max2 }
          }
        }
      }
      out.putByte(kind | (if (hasSum) 0x40 else 0))
      out.putLong(nulls)
      if (kind != StrawFormat.StatsNone) { out.putLong(mn); out.putLong(mx) }
      if (kind == StrawFormat.StatsDecimal128) { out.putLong(mn2); out.putLong(mx2) }
      if (hasSum) { out.putLong(sHi); out.putLong(sLo) }
    }
    java.util.Arrays.copyOf(out.buf, out.len)
  }

  private def lessThan(kind: Int, aHi: Long, aLo: Long, bHi: Long, bLo: Long): Boolean =
    kind match {
      case StrawFormat.StatsDecimal128 => StrawFormat.compare128(aHi, aLo, bHi, bLo) < 0
      case StrawFormat.StatsPrefix => java.lang.Long.compareUnsigned(aHi, bHi) < 0
      case _ => aHi < bHi
    }

  /** Synthetic footer: one page per leaf carrying the file-merged stats.
    * `numValues`/`nullCount` clamp to Int range (page counts are ints)
    * while preserving EXACTLY the two boolean signals pruning reads from
    * them — all-null (nulls == rows) and has-null (nulls > 0): a >2B-row
    * file with most-but-not-all slots null must not clamp into an all-null
    * page that a comparison filter would wrongly prune. */
  def decode(schema: StructType, bytes: Array[Byte]): StrawFooter = {
    val in = graft.format.ByteIO.reader(bytes)
    val version = in.get() & 0xff
    require(version == 2, s"unknown manifest stats version $version")
    val numRows = in.getLong()
    val rowsInt = math.min(numRows, Int.MaxValue.toLong).toInt
    val leafCount = LeafLayout.starts(schema).last
    val cols = new Array[ColumnMeta](leafCount)
    var i = 0
    while (i < leafCount) {
      val flags = in.get() & 0xff
      val hasSum = (flags & 0x40) != 0
      val kind = flags & 0x3f
      require(kind <= StrawFormat.StatsDecimal128, s"bad stats kind $kind")
      val nulls = in.getLong()
      val (mn, mx) =
        if (kind != StrawFormat.StatsNone) (in.getLong(), in.getLong()) else (0L, 0L)
      val (mn2, mx2) =
        if (kind == StrawFormat.StatsDecimal128) (in.getLong(), in.getLong()) else (0L, 0L)
      val (sHi, sLo) = if (hasSum) (in.getLong(), in.getLong()) else (0L, 0L)
      val nullsInt =
        if (nulls >= numRows) rowsInt
        else math.min(nulls, (rowsInt - 1).toLong).toInt
      cols(i) = ColumnMeta(0L,
        Array(PageMeta(rowsInt, 0L, nullsInt, kind, mn, mx, mn2, mx2, null,
          hasSum, sHi, sLo)))
      i += 1
    }
    StrawFooter(schema, numRows, cols)
  }
}
