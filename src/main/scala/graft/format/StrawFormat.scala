package graft.format

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** On-disk layout of a `.strb` file, format v2 (original design;
  * structurally follows the reference's file shape — magic, contiguous
  * per-column pages, trailing self-describing footer; reference:
  * src/write/writer.rs:91-167, src/read/reader.rs:168-241):
  *
  * {{{
  * magic "GRAFT2\0\0"                          (8 bytes)
  * leaf 0 pages | leaf 1 pages | ...           (each page self-contained)
  * schemaBytes (Spark StructType JSON, UTF-8)
  * metaBytes   (see MetaIO)
  * schemaLen u32 | metaLen u32 | "GRAFTEN2"    (16-byte tail)
  * }}}
  *
  * v2 stores one page stream per LEAF column ([[LeafLayout]]): nested types
  * are flattened into separately addressable leaves, each with its own
  * [[ColumnMeta]] and per-page stats, as the reference does
  * (src/write/common.rs:60-68) — so reading one struct field reads only
  * that leaf's bytes, and struct-field predicates prune pages.
  *
  * Unlike the reference footer (length + num_values per page only,
  * src/lib.rs:75-80) every page carries optional zone-map stats
  * (order-preserving min/max longs) enabling predicate page skipping —
  * the SURVEY §7.4 "v2 footer" extension, built in from the start.
  */
object StrawFormat {
  val Magic: Array[Byte] = Array('G', 'R', 'A', 'F', 'T', '2', 0, 0).map(_.toByte)
  val EofMagic: Array[Byte] = "GRAFTEN2".getBytes("UTF-8")
  val Extension = ".strb"

  /** Stats kind per page: how min/max longs are to be compared. */
  val StatsNone = 0
  val StatsSigned = 1 // integer-family & sortable-encoded floating point
  val StatsPrefix = 2 // unsigned big-endian 8-byte string prefix
  // kind 3 is retired (a lossy wide-decimal encoding): it still parses,
  // but no reader prunes or aggregates with it
  /** Wide decimals (precision 19..38): EXACT unscaled-i128 min/max, stored
    * as two planes — (min, max) hold the high 64 bits, (min2, max2) the low
    * 64. Comparison is signed-hi then unsigned-lo. Exact stats make range
    * pruning strict-capable and MIN/MAX footer-only aggregation valid. */
  val StatsDecimal128 = 4

  /** Signed i128 comparison over (hi, lo) planes. */
  def compare128(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Int = {
    val c = java.lang.Long.compare(aHi, bHi)
    if (c != 0) c else java.lang.Long.compareUnsigned(aLo, bLo)
  }

  /** i128 (hi, lo) + i128 (bHi, bLo), two's complement. */
  def add128(aHi: Long, aLo: Long, bHi: Long, bLo: Long): (Long, Long) = {
    val lo = aLo + bLo
    // carry-out of the unsigned low-plane addition
    val carry = ((aLo & bLo) | ((aLo | bLo) & ~lo)) >>> 63
    (aHi + bHi + carry, lo)
  }

  /** Signed i128 (hi, lo) → BigInteger (hi signed, lo unsigned plane). */
  def i128ToBigInteger(hi: Long, lo: Long): java.math.BigInteger =
    java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(lo)
        .and(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)))

  /** Order-preserving long for doubles/floats (zone maps). -0.0 normalizes
    * to +0.0 so SQL equality semantics survive the encoding. */
  def sortableDouble(d: Double): Long = {
    val v = if (d == 0.0d) 0.0d else d
    val bits = java.lang.Double.doubleToLongBits(v)
    if (bits >= 0) bits else -(bits & Long.MaxValue) - 1
  }

  /** Inverse of [[sortableDouble]] (statistics reporting recovers the
    * stored zone-map bound as a real double). */
  def fromSortableDouble(s: Long): Double =
    java.lang.Double.longBitsToDouble(
      if (s >= 0) s else (-(s + 1)) | Long.MinValue)

  /** Unsigned big-endian prefix long of up to the first 8 bytes. Prefix
    * order is consistent with full lexicographic (unsigned byte) order, so
    * both bounds are sound at prefix granularity. */
  def prefixLong(bytes: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v <<= 8
      if (i < len) v |= (bytes(off + i) & 0xffL)
      i += 1
    }
    v
  }
  def prefixLong(bytes: Array[Byte]): Long = prefixLong(bytes, 0, bytes.length)
}

/** Per-page metadata of ONE LEAF column. `numValues` is the page group's
  * TOP-LEVEL ROW count — uniform across every leaf of the file (the writer
  * flushes all columns together), so planners count rows off any leaf;
  * a leaf's own value count (elements under arrays/maps) is self-described
  * in its page bytes. `nullCount` counts the LEAF's null slots (for a
  * struct-path leaf this includes rows where an ancestor struct is null —
  * exactly the SQL null semantics of `parent.field`). `min2`/`max2` are the
  * low-64-bit planes, used only by [[StrawFormat.StatsDecimal128]]. */
final case class PageMeta(
    numValues: Int,
    compLen: Long,
    nullCount: Int,
    statsKind: Int,
    min: Long,
    max: Long,
    min2: Long = 0L,
    max2: Long = 0L,
    /** Optional per-page equality filter ([[PageBloom]] layout); null when
      * the column was not bloom-enabled at write (the common case). */
    bloom: Array[Byte] = null,
    /** Exact i128 SUM of the page's non-null values in the VALUE domain
      * (raw integral / unscaled decimal), present (`hasSum`) for
      * integer-family and decimal(≤18) leaves — footer-only SUM
      * aggregation. Floats are excluded: their sums are order-dependent. */
    hasSum: Boolean = false,
    sumHi: Long = 0L,
    sumLo: Long = 0L)

final case class ColumnMeta(offset: Long, pages: Array[PageMeta]) {
  /** Absolute byte offset of every page (prefix sums; readers index this
    * rather than recomputing O(p) per page). */
  def pageOffsets: Array[Long] = {
    val offs = new Array[Long](pages.length)
    var acc = offset
    var p = 0
    while (p < pages.length) { offs(p) = acc; acc += pages(p).compLen; p += 1 }
    offs
  }
}

/** `columns` holds one [[ColumnMeta]] per LEAF ([[LeafLayout]] DFS order);
  * for a flat top-level field the leaf IS the field. `ndv`, when present,
  * is leaf-aligned with `columns`: each non-null entry is a 512-byte
  * [[NdvSketch]] register array for that leaf (top-level flat leaves only;
  * null entries and files from pre-extension writers carry none). */
/** File-level value-length stats for one string/binary leaf: total decoded
  * bytes and the longest value. Feeds Catalyst CBO's avgLen/maxLen (row
  * width of intermediate plans — join strategy inputs); exact string
  * min/max is deliberately NOT collected: Spark's filter estimation builds
  * value intervals for numeric/date types only, so string bounds would
  * cost write-path cycles and footer bytes that nothing consumes. */
final class LenStat(var sum: Long = 0L, var max: Int = 0) {
  def add(n: Int): Unit = { sum += n; if (n > max) max = n }
}

final case class StrawFooter(schema: StructType, numRows: Long,
    columns: Array[ColumnMeta], ndv: Array[Array[Byte]] = null,
    lens: Array[LenStat] = null) {
  /** Starting leaf index per top-level field (+ total leaf count last). */
  lazy val leafStarts: Array[Int] = LeafLayout.starts(schema)

  /** The first leaf's meta of top-level field `i` — for a FLAT field this
    * is the field's own (exact) meta; callers indexing by field must gate
    * on flatness where leaf-level stats/null counts would differ. */
  def topLeaf(i: Int): ColumnMeta = columns(leafStarts(i))
}

object MetaIO {
  import StrawFormat._

  def writeFooter(footer: StrawFooter, out: ByteBuf): Unit = {
    val schemaBytes = footer.schema.json.getBytes("UTF-8")
    out.putBytes(schemaBytes)
    val metaStart = out.len
    out.putLong(footer.numRows)
    out.putInt(footer.columns.length)
    footer.columns.foreach { col =>
      out.putLong(col.offset)
      out.putInt(col.pages.length)
      col.pages.foreach { p =>
        out.putInt(p.numValues)
        out.putLong(p.compLen)
        out.putInt(p.nullCount)
        // flag bits on the kind byte: 0x80 = attached page bloom filter,
        // 0x40 = exact i128 page sum. Pre-extension readers see kind >= 0x40
        // and reject with the clean "newer version" error below rather than
        // desyncing the parse.
        out.putByte(p.statsKind |
          (if (p.bloom != null) 0x80 else 0) | (if (p.hasSum) 0x40 else 0))
        if (p.statsKind != StatsNone) { out.putLong(p.min); out.putLong(p.max) }
        if (p.statsKind == StatsDecimal128) { out.putLong(p.min2); out.putLong(p.max2) }
        if (p.hasSum) { out.putLong(p.sumHi); out.putLong(p.sumLo) }
        if (p.bloom != null) { out.putInt(p.bloom.length); out.putBytes(p.bloom) }
      }
    }
    // extension sections (each self-describing: id u8 + payload length u32)
    // land AFTER the column metas: a reader that knows the id parses the
    // payload, one that doesn't skips it wholesale — and pre-extension
    // files simply have none (the column loop consumes the meta block
    // exactly, so presence is detected by remaining bytes)
    if (footer.ndv != null && footer.ndv.exists(_ != null)) {
      val ext = new ByteBuf(1 << 12)
      footer.ndv.foreach { r =>
        if (r == null) ext.putInt(0)
        else { ext.putInt(r.length); ext.putBytes(r) }
      }
      out.putByte(ExtNdv)
      out.putInt(ext.len)
      out.putBytes(ext.buf, 0, ext.len)
    }
    if (footer.lens != null && footer.lens.exists(_ != null)) {
      val ext = new ByteBuf(256)
      footer.lens.foreach { l =>
        if (l == null) ext.putByte(0)
        else { ext.putByte(1); ext.putLong(l.sum); ext.putInt(l.max) }
      }
      out.putByte(ExtLen)
      out.putInt(ext.len)
      out.putBytes(ext.buf, 0, ext.len)
    }
    val metaLen = out.len - metaStart
    out.putInt(schemaBytes.length)
    out.putInt(metaLen)
    out.putBytes(EofMagic)
  }

  /** Footer extension ids. */
  final val ExtNdv = 1
  final val ExtLen = 2

  /** Parse footer given the file tail (at least schema+meta+16 bytes) and
    * the absolute file length. `tail` must end exactly at file end. */
  def readFooter(tail: Array[Byte]): StrawFooter = {
    val n = tail.length
    require(n >= 16, "file too small for strawboat footer")
    val eof = java.util.Arrays.copyOfRange(tail, n - 8, n)
    require(java.util.Arrays.equals(eof, EofMagic), "bad strawboat EOF magic")
    val szBuf = ByteIO.reader(tail, n - 16, 8)
    val schemaLen = szBuf.getInt()
    val metaLen = szBuf.getInt()
    require(schemaLen >= 0 && metaLen >= 0 &&
      schemaLen.toLong + metaLen <= n - 16L,
      s"corrupt strawboat footer: schemaLen=$schemaLen metaLen=$metaLen tail=$n")
    val schemaOff = n - 16 - metaLen - schemaLen
    val schema = DataType.fromJson(
      new String(tail, schemaOff, schemaLen, "UTF-8")).asInstanceOf[StructType]
    val in = ByteIO.reader(tail, schemaOff + schemaLen, metaLen)
    val numRows = in.getLong()
    // COUNT(*) pushdown sums this: a negative count is a silently wrong answer
    require(numRows >= 0, s"corrupt strawboat footer: numRows=$numRows")
    val numCols = in.getInt()
    // bound on-disk counts by the bytes left for their minimum records
    // (column: offset + numPages = 12; page: numValues + compressedLen +
    // nullCount + kind = 17) before allocating from them
    require(numCols >= 0 && numCols <= in.remaining() / 12,
      s"corrupt strawboat footer: numCols=$numCols")
    val cols = new Array[ColumnMeta](numCols)
    var c = 0
    while (c < numCols) {
      val offset = in.getLong()
      val numPages = in.getInt()
      require(numPages >= 0 && numPages <= in.remaining() / 17,
        s"corrupt strawboat footer: numPages=$numPages")
      val pages = new Array[PageMeta](numPages)
      var p = 0
      while (p < numPages) {
        val nv = in.getInt()
        val cl = in.getLong()
        val nc = in.getInt()
        val kindByte = in.get() & 0xff
        val hasBloom = (kindByte & 0x80) != 0
        val hasSum = (kindByte & 0x40) != 0
        val kind = kindByte & 0x3f
        // fail CLEANLY on files from a future format revision: an unknown
        // kind changes the stats-plane byte count, and guessing would
        // desync the whole footer parse into garbage page metadata
        require(kind <= StatsDecimal128,
          s"strawboat: unknown page stats kind $kind — file written by a newer version")
        val (mn, mx) = if (kind != StatsNone) (in.getLong(), in.getLong()) else (0L, 0L)
        val (mn2, mx2) =
          if (kind == StatsDecimal128) (in.getLong(), in.getLong()) else (0L, 0L)
        val (sHi, sLo) = if (hasSum) (in.getLong(), in.getLong()) else (0L, 0L)
        val bloom =
          if (!hasBloom) null
          else {
            val bl = in.getInt()
            require(bl >= 0 && bl <= PageBloom.MaxEncodedBytes,
              s"strawboat: corrupt page bloom length $bl")
            val arr = new Array[Byte](bl)
            in.get(arr)
            arr
          }
        pages(p) = PageMeta(nv, cl, nc, kind, mn, mx, mn2, mx2, bloom, hasSum, sHi, sLo)
        p += 1
      }
      cols(c) = ColumnMeta(offset, pages)
      c += 1
    }
    // extension sections: parse the known ids, skip unknown ones (each is
    // length-prefixed, so a future writer's section can't desync the parse)
    var ndv: Array[Array[Byte]] = null
    var lens: Array[LenStat] = null
    while (in.remaining() > 0) {
      val id = in.get() & 0xff
      val len = in.getInt()
      require(len >= 0 && len <= in.remaining(),
        s"corrupt strawboat footer extension: id=$id len=$len")
      val end = in.position() + len
      if (id == ExtNdv) {
        ndv = new Array[Array[Byte]](numCols)
        var c2 = 0
        while (c2 < numCols) {
          val rl = in.getInt()
          require(rl == 0 || rl == NdvSketch.M,
            s"corrupt strawboat ndv sketch: $rl registers")
          if (rl > 0) { val r = new Array[Byte](rl); in.get(r); ndv(c2) = r }
          c2 += 1
        }
      } else if (id == ExtLen) {
        lens = new Array[LenStat](numCols)
        var c2 = 0
        while (c2 < numCols) {
          if ((in.get() & 0xff) == 1) lens(c2) = new LenStat(in.getLong(), in.getInt())
          c2 += 1
        }
      } else in.position(end)
      // a known section must fill its declared length exactly: any other
      // end means the payload and its header disagree
      require(in.position() == end,
        s"corrupt strawboat footer extension: id=$id len=$len does not match its payload")
    }
    StrawFooter(schema, numRows, cols, ndv, lens)
  }
}

// ---------------------------------------------------------------------------
// Write-side column builders: buffer one page of values, encode on flush.
// ---------------------------------------------------------------------------

/** Growable validity bitmap (1 = valid), LSB-first. */
final class ValidityBuilder {
  private var words = new Array[Long](128)
  var count = 0
  var nullCount = 0
  def append(valid: Boolean): Unit = {
    val w = count >>> 6
    if (w >= words.length) words = java.util.Arrays.copyOf(words, words.length * 2)
    if (valid) words(w) |= (1L << (count & 63)) else nullCount += 1
    count += 1
  }
  def isValid(i: Int): Boolean = (words(i >>> 6) & (1L << (i & 63))) != 0
  def encode(opts: WriteOptions, out: ByteBuf): Unit = {
    out.putInt(count)
    out.putInt(nullCount)
    if (nullCount > 0) {
      val nBytes = (count + 7) / 8
      val bytes = new Array[Byte](nBytes)
      var i = 0
      while (i < nBytes) {
        bytes(i) = ((words(i >>> 3) >>> ((i & 7) * 8)) & 0xff).toByte
        i += 1
      }
      CommonCompression.writeBytesBlock(bytes, 0, nBytes, opts, out)
    }
  }
  def clear(): Unit = {
    java.util.Arrays.fill(words, 0L); count = 0; nullCount = 0
  }
}

object ValidityReader {
  /** @return null if no nulls, else boolean validity array of length n. */
  def read(in: ByteBuffer): (Int, Array[Boolean]) = {
    val n = in.getInt()
    val nullCount = in.getInt()
    if (nullCount == 0) (n, null)
    else {
      val bytes = CommonCompression.readBytesBlock(in)
      val valid = new Array[Boolean](n)
      var i = 0
      while (i < n) { valid(i) = (bytes(i >>> 3) & (1 << (i & 7))) != 0; i += 1 }
      (n, valid)
    }
  }
}

final case class PageStats(statsKind: Int, min: Long, max: Long,
    min2: Long = 0L, max2: Long = 0L, nullCount: Int = 0,
    bloom: Array[Byte] = null,
    hasSum: Boolean = false, sumHi: Long = 0L, sumLo: Long = 0L)

/** One column's write-side buffer (top-level or nested child). `append`
  * pulls the value out of a row/array via SpecializedGetters; at page flush
  * every descendant LEAF encodes its own self-contained page
  * ([[encodeLeaves]]), prefixed with its ancestors' level headers. */
sealed abstract class ColumnWriter(val opts: WriteOptions) {
  val validity = new ValidityBuilder
  def count: Int = validity.count
  def append(g: SpecializedGetters, ordinal: Int): Unit
  def appendNull(): Unit
  /** Number of leaf columns under this writer ([[LeafLayout.leafCount]]). */
  def leafCount: Int
  /** Encode the buffered page into the per-leaf buffers
    * `outs(base until base+leafCount)`, each page prefixed with `prefix`
    * (the already-encoded ancestor level headers), recording per-leaf
    * stats. Buffers are NOT cleared — call [[clearPage]] afterwards (the
    * same struct/map header bytes feed several leaf subtrees). */
  def encodeLeaves(prefix: Array[Byte], outs: Array[ByteBuf],
      stats: Array[PageStats], base: Int): Unit
  /** Reset all page buffers (recursively) after [[encodeLeaves]]. */
  def clearPage(): Unit
  /** Rough in-memory size of buffered data (for file rolling). */
  def bufferedBytes: Long

  protected final def concatPrefix(prefix: Array[Byte], hdr: ByteBuf): Array[Byte] = {
    val out = new Array[Byte](prefix.length + hdr.len)
    System.arraycopy(prefix, 0, out, 0, prefix.length)
    System.arraycopy(hdr.buf, 0, out, prefix.length, hdr.len)
    out
  }
}

/** A flat (leaf) column: owns exactly one page stream of validity + data. */
sealed abstract class LeafColumnWriter(opts: WriteOptions) extends ColumnWriter(opts) {
  /** File-lifetime distinct-count sketch, set by [[StrawFileWriter]] on
    * top-level flat leaves only (nested leaves have no stats consumer).
    * Survives [[clearBuffers]] — it spans every page of the file. */
  private[format] var ndv: NdvSketch = null
  /** File-lifetime value-length stats, set like [[ndv]] on top-level
    * string/binary leaves (CBO avgLen/maxLen row-width inputs). */
  private[format] var lenStat: LenStat = null
  /** True when [[appendVector]] is implemented — the columnar ingest path
    * feeds ColumnarBatch vectors straight into the page buffers, skipping
    * ColumnarToRow + UnsafeRow materialization entirely. */
  def vectorCapable: Boolean = false
  /** Append rows `[start, start+n)` of `vec` (nulls included). Only called
    * when [[vectorCapable]]. */
  def appendVector(vec: org.apache.spark.sql.vectorized.ColumnVector,
      start: Int, n: Int): Unit =
    throw new UnsupportedOperationException(s"$getClass: no vector append")
  /** Gather-append the vector positions `sel(from until from+n)` (nulls
    * included) — the bucketed columnar ingest shape, where a batch's rows
    * scatter across per-bucket page builders. Only called when
    * [[vectorCapable]]. */
  def appendVectorSelected(vec: org.apache.spark.sql.vectorized.ColumnVector,
      sel: Array[Int], from: Int, n: Int): Unit =
    throw new UnsupportedOperationException(s"$getClass: no selected vector append")
  /** Encode validity + data of the buffered page. */
  def encodePage(out: ByteBuf): PageStats
  def clearBuffers(): Unit
  final def leafCount: Int = 1
  final def encodeLeaves(prefix: Array[Byte], outs: Array[ByteBuf],
      stats: Array[PageStats], base: Int): Unit = {
    val out = outs(base)
    out.putBytes(prefix)
    val nulls = validity.nullCount
    stats(base) = encodePage(out).copy(nullCount = nulls)
  }
  final def clearPage(): Unit = { validity.clear(); clearBuffers() }
}

final class LongColumnWriter(
    opts: WriteOptions,
    width: Int,
    get: (SpecializedGetters, Int) => Long,
    statsKind: Int,
    toSortable: Long => Long = identity,
    floatBits: Boolean = false,
    bloomEnabled: Boolean = false,
    /** Accumulate an exact i128 page sum of the raw values (integer-family
      * and unscaled small-decimal leaves) — footer-only SUM. */
    sumEnabled: Boolean = false,
    /** Vector-side twin of `get` — present for every flat type the factory
      * builds, enabling the columnar ingest path. */
    vecGet: (org.apache.spark.sql.vectorized.ColumnVector, Int) => Long = null)
  extends LeafColumnWriter(opts) {
  private var values = new Array[Long](1024)
  private var n = 0
  private var lastValid = 0L
  private var min = Long.MaxValue
  private var max = Long.MinValue
  private var sumHi = 0L
  private var sumLo = 0L
  private def grow(): Unit =
    if (n >= values.length) values = java.util.Arrays.copyOf(values, values.length * 2)
  // chooser stats gathered inline (the page is hot in cache here) — the
  // encode step then needs no second scan outside dict-probe pages
  private val scan = new PageScan
  def append(g: SpecializedGetters, ordinal: Int): Unit =
    appendValue(get(g, ordinal))
  private def appendValue(v: Long): Unit = {
    grow(); values(n) = v; n += 1
    lastValid = v
    scan.update(v)
    if (ndv != null) ndv.addHash(PageBloom.hashLong(v))
    if (statsKind != StrawFormat.StatsNone) {
      val s = toSortable(v)
      if (s < min) min = s
      if (s > max) max = s
    }
    if (sumEnabled) {
      // canonical i128 add (Tuple2[Long, Long] is scalar-replaced by the JIT)
      val s = StrawFormat.add128(sumHi, sumLo, v >> 63, v)
      sumHi = s._1
      sumLo = s._2
    }
    validity.append(true)
  }
  override def vectorCapable: Boolean = vecGet != null
  override def appendVector(vec: org.apache.spark.sql.vectorized.ColumnVector,
      start: Int, cnt: Int): Unit = {
    var i = start
    val end = start + cnt
    while (i < end) {
      if (vec.isNullAt(i)) appendNull() else appendValue(vecGet(vec, i))
      i += 1
    }
  }
  override def appendVectorSelected(vec: org.apache.spark.sql.vectorized.ColumnVector,
      sel: Array[Int], from: Int, cnt: Int): Unit = {
    var k = from
    val end = from + cnt
    while (k < end) {
      val i = sel(k)
      if (vec.isNullAt(i)) appendNull() else appendValue(vecGet(vec, i))
      k += 1
    }
  }
  def appendNull(): Unit = {
    // null slots repeat the previous valid value: compresses well, never read
    grow(); values(n) = lastValid; n += 1
    scan.update(lastValid)
    validity.append(false)
  }
  private val dictProbe = new DictProbe
  def encodePage(out: ByteBuf): PageStats = {
    validity.encode(opts, out)
    val codec = IntCodec.encode(values, n, width, opts, 0, out, floatBits,
      countDistinct = dictProbe.shouldProbe, scan = scan)
    dictProbe.record(codec)
    // hash in the same encoded domain the query side probes with
    // (ZoneMapFilter.toStatsLong): toSortable is identity for integer-family
    // values and the sortable-double mapping for float bits
    val bloom =
      if (!bloomEnabled || n == 0) null
      else {
        val hs = new Array[Long](n - validity.nullCount)
        var i = 0
        var j = 0
        while (i < n) {
          if (validity.isValid(i)) { hs(j) = PageBloom.hashLong(toSortable(values(i))); j += 1 }
          i += 1
        }
        PageBloom.build(hs, j, opts.bloomFpp)
      }
    if (min > max)
      PageStats(StrawFormat.StatsNone, 0, 0, bloom = bloom,
        hasSum = sumEnabled, sumHi = sumHi, sumLo = sumLo)
    else PageStats(statsKind, min, max, bloom = bloom,
      hasSum = sumEnabled, sumHi = sumHi, sumLo = sumLo)
  }
  def clearBuffers(): Unit = {
    n = 0; lastValid = 0L; min = Long.MaxValue; max = Long.MinValue
    sumHi = 0L; sumLo = 0L
    scan.reset()
  }
  def bufferedBytes: Long = n.toLong * width
}

final class BinaryColumnWriter(opts: WriteOptions, isString: Boolean,
    bloomEnabled: Boolean = false)
  extends LeafColumnWriter(opts) {
  private val bytes = new ByteBuf(1 << 16)
  private var offsets = new Array[Int](1025)
  private var n = 0
  private var minP = -1L
  private var maxP = 0L
  private var hasStats = false
  private def grow(): Unit =
    if (n + 1 >= offsets.length) offsets = java.util.Arrays.copyOf(offsets, offsets.length * 2)
  private def appendBytes(b: Array[Byte]): Unit = {
    grow()
    bytes.putBytes(b)
    offsets(n + 1) = offsets(n) + b.length
    n += 1
    // distinct-count hash over a 256-byte prefix + the full length: exact
    // for keys/ids/names (the values CBO joins on), and long text bodies —
    // where prefix collisions could undercount — have ndv ≈ rowcount
    // regardless; hashing megabyte cells whole would tax the write path
    // for no estimate precision
    if (ndv != null) ndv.addHash(
      PageBloom.hashBytes(b, 0, math.min(b.length, 256)) ^
        java.lang.Long.rotateLeft(b.length.toLong, 43))
    if (lenStat != null) lenStat.add(b.length)
    if (isString) {
      val p = StrawFormat.prefixLong(b)
      if (!hasStats) { minP = p; maxP = p; hasStats = true }
      else {
        if (java.lang.Long.compareUnsigned(p, minP) < 0) minP = p
        if (java.lang.Long.compareUnsigned(p, maxP) > 0) maxP = p
      }
    }
    validity.append(true)
  }
  def append(g: SpecializedGetters, ordinal: Int): Unit =
    appendBytes(
      if (isString) g.getUTF8String(ordinal).getBytes else g.getBinary(ordinal))
  def appendNull(): Unit = {
    grow(); offsets(n + 1) = offsets(n); n += 1
    validity.append(false)
  }
  override def vectorCapable: Boolean = true
  override def appendVector(vec: org.apache.spark.sql.vectorized.ColumnVector,
      start: Int, cnt: Int): Unit = {
    var i = start
    val end = start + cnt
    while (i < end) {
      if (vec.isNullAt(i)) appendNull()
      else appendBytes(
        if (isString) vec.getUTF8String(i).getBytes else vec.getBinary(i))
      i += 1
    }
  }
  override def appendVectorSelected(vec: org.apache.spark.sql.vectorized.ColumnVector,
      sel: Array[Int], from: Int, cnt: Int): Unit = {
    var k = from
    val end = from + cnt
    while (k < end) {
      val i = sel(k)
      if (vec.isNullAt(i)) appendNull()
      else appendBytes(
        if (isString) vec.getUTF8String(i).getBytes else vec.getBinary(i))
      k += 1
    }
  }
  def encodePage(out: ByteBuf): PageStats = {
    validity.encode(opts, out)
    BinaryCodec.encode(offsets, bytes.buf, n, opts, out)
    val bloom =
      if (!bloomEnabled || n == 0) null
      else {
        val hs = new Array[Long](n - validity.nullCount)
        var i = 0
        var j = 0
        while (i < n) {
          if (validity.isValid(i)) {
            hs(j) = PageBloom.hashBytes(bytes.buf, offsets(i), offsets(i + 1) - offsets(i))
            j += 1
          }
          i += 1
        }
        PageBloom.build(hs, j, opts.bloomFpp)
      }
    if (hasStats) PageStats(StrawFormat.StatsPrefix, minP, maxP, bloom = bloom)
    else PageStats(StrawFormat.StatsNone, 0, 0, bloom = bloom)
  }
  def clearBuffers(): Unit = {
    bytes.clear(); n = 0; offsets(0) = 0; hasStats = false; minP = -1L; maxP = 0L
  }
  def bufferedBytes: Long = bytes.len.toLong + 4L * n
}

final class ArrayColumnWriter(opts: WriteOptions, elem: ColumnWriter,
    containsNull: Boolean) extends ColumnWriter(opts) {
  private var lengths = new Array[Long](1024)
  private var n = 0
  private def grow(): Unit =
    if (n >= lengths.length) lengths = java.util.Arrays.copyOf(lengths, lengths.length * 2)
  def append(g: SpecializedGetters, ordinal: Int): Unit = {
    val arr = g.getArray(ordinal)
    val m = arr.numElements()
    grow(); lengths(n) = m.toLong; n += 1
    var i = 0
    while (i < m) {
      if (containsNull && arr.isNullAt(i)) elem.appendNull()
      else elem.append(arr, i)
      i += 1
    }
    validity.append(true)
  }
  def appendNull(): Unit = {
    grow(); lengths(n) = 0L; n += 1
    validity.append(false)
  }
  def leafCount: Int = elem.leafCount
  def encodeLeaves(prefix: Array[Byte], outs: Array[ByteBuf],
      stats: Array[PageStats], base: Int): Unit = {
    val hdr = new ByteBuf(256)
    validity.encode(opts, hdr)
    IntCodec.encode(lengths, n, 4, opts, 0, hdr)
    elem.encodeLeaves(concatPrefix(prefix, hdr), outs, stats, base)
  }
  def clearPage(): Unit = { validity.clear(); n = 0; elem.clearPage() }
  def bufferedBytes: Long = 4L * n + elem.bufferedBytes
}

final class MapColumnWriter(opts: WriteOptions, key: ColumnWriter, value: ColumnWriter,
    valueContainsNull: Boolean) extends ColumnWriter(opts) {
  private var lengths = new Array[Long](1024)
  private var n = 0
  private def grow(): Unit =
    if (n >= lengths.length) lengths = java.util.Arrays.copyOf(lengths, lengths.length * 2)
  def append(g: SpecializedGetters, ordinal: Int): Unit = {
    val map: MapData = g.getMap(ordinal)
    val m = map.numElements()
    grow(); lengths(n) = m.toLong; n += 1
    val ks: ArrayData = map.keyArray()
    val vs: ArrayData = map.valueArray()
    var i = 0
    while (i < m) {
      key.append(ks, i)
      if (valueContainsNull && vs.isNullAt(i)) value.appendNull() else value.append(vs, i)
      i += 1
    }
    validity.append(true)
  }
  def appendNull(): Unit = {
    grow(); lengths(n) = 0L; n += 1
    validity.append(false)
  }
  def leafCount: Int = key.leafCount + value.leafCount
  def encodeLeaves(prefix: Array[Byte], outs: Array[ByteBuf],
      stats: Array[PageStats], base: Int): Unit = {
    // the same map-level header feeds both the key and value leaf subtrees
    val hdr = new ByteBuf(256)
    validity.encode(opts, hdr)
    IntCodec.encode(lengths, n, 4, opts, 0, hdr)
    val p2 = concatPrefix(prefix, hdr)
    key.encodeLeaves(p2, outs, stats, base)
    value.encodeLeaves(p2, outs, stats, base + key.leafCount)
  }
  def clearPage(): Unit = { validity.clear(); n = 0; key.clearPage(); value.clearPage() }
  def bufferedBytes: Long = 4L * n + key.bufferedBytes + value.bufferedBytes
}

final class StructColumnWriter(opts: WriteOptions, fields: Array[ColumnWriter])
  extends ColumnWriter(opts) {
  def append(g: SpecializedGetters, ordinal: Int): Unit = {
    val st = g.getStruct(ordinal, fields.length)
    var i = 0
    while (i < fields.length) {
      if (st.isNullAt(i)) fields(i).appendNull() else fields(i).append(st, i)
      i += 1
    }
    validity.append(true)
  }
  def appendNull(): Unit = {
    var i = 0
    while (i < fields.length) { fields(i).appendNull(); i += 1 }
    validity.append(false)
  }
  val leafCount: Int = fields.foldLeft(0)(_ + _.leafCount)
  def encodeLeaves(prefix: Array[Byte], outs: Array[ByteBuf],
      stats: Array[PageStats], base: Int): Unit = {
    // the struct's own validity is encoded ONCE and replicated into every
    // descendant leaf's page prefix (sibling leaves stay self-contained)
    val hdr = new ByteBuf(64)
    validity.encode(opts, hdr)
    val p2 = concatPrefix(prefix, hdr)
    var b = base
    var i = 0
    while (i < fields.length) {
      fields(i).encodeLeaves(p2, outs, stats, b)
      b += fields(i).leafCount
      i += 1
    }
  }
  def clearPage(): Unit = { validity.clear(); fields.foreach(_.clearPage()) }
  def bufferedBytes: Long = fields.map(_.bufferedBytes).sum
}

/** Decimal with precision 19..38: unscaled i128 stored as two long planes
  * (high 64 | low 64), each running through the integer codec cascade.
  * JVM has no i128 — mirror of the reference's Int128 primitive support
  * (reference: src/write/primitive.rs:71-78). Zone maps store the EXACT
  * unscaled-i128 min/max over the same two planes
  * ([[StrawFormat.StatsDecimal128]]) — strict range pruning and footer-only
  * MIN/MAX aggregation both stay valid. */
final class Decimal128ColumnWriter(opts: WriteOptions, precision: Int, scale: Int)
  extends LeafColumnWriter(opts) {
  private var hi = new Array[Long](1024)
  private var lo = new Array[Long](1024)
  private var n = 0
  private var hasStats = false
  private var minHi = 0L
  private var minLo = 0L
  private var maxHi = 0L
  private var maxLo = 0L
  private def grow(): Unit =
    if (n >= hi.length) {
      hi = java.util.Arrays.copyOf(hi, hi.length * 2)
      lo = java.util.Arrays.copyOf(lo, lo.length * 2)
    }
  def append(g: SpecializedGetters, ordinal: Int): Unit = {
    val unscaled = g.getDecimal(ordinal, precision, scale)
      .toJavaBigDecimal.unscaledValue()
    grow()
    val l = unscaled.longValue()
    val h = unscaled.shiftRight(64).longValue()
    lo(n) = l
    hi(n) = h
    if (ndv != null) ndv.addHash(PageBloom.hashLong(PageBloom.hashLong(l) ^ h))
    if (!hasStats) {
      minHi = h; minLo = l; maxHi = h; maxLo = l; hasStats = true
    } else {
      if (StrawFormat.compare128(h, l, minHi, minLo) < 0) { minHi = h; minLo = l }
      if (StrawFormat.compare128(h, l, maxHi, maxLo) > 0) { maxHi = h; maxLo = l }
    }
    n += 1
    validity.append(true)
  }
  def appendNull(): Unit = {
    grow(); hi(n) = 0L; lo(n) = 0L; n += 1
    validity.append(false)
  }
  private val hiProbe = new DictProbe
  private val loProbe = new DictProbe
  def encodePage(out: ByteBuf): PageStats = {
    validity.encode(opts, out)
    hiProbe.record(IntCodec.encode(hi, n, 8, opts, 0, out,
      countDistinct = hiProbe.shouldProbe))
    loProbe.record(IntCodec.encode(lo, n, 8, opts, 0, out,
      countDistinct = loProbe.shouldProbe))
    if (!hasStats) PageStats(StrawFormat.StatsNone, 0, 0)
    else PageStats(StrawFormat.StatsDecimal128, minHi, maxHi, minLo, maxLo)
  }
  def clearBuffers(): Unit = { n = 0; hasStats = false }
  def bufferedBytes: Long = 16L * n
}

/** All-null / NullType column: validity only. */
final class NullColumnWriter(opts: WriteOptions) extends LeafColumnWriter(opts) {
  def append(g: SpecializedGetters, ordinal: Int): Unit = validity.append(true)
  def appendNull(): Unit = validity.append(false)
  def encodePage(out: ByteBuf): PageStats = {
    validity.encode(opts, out)
    PageStats(StrawFormat.StatsNone, 0, 0)
  }
  def clearBuffers(): Unit = ()
  def bufferedBytes: Long = count.toLong / 8
}

object ColumnWriter {
  import StrawFormat._
  /** `path` is the column's dotted leaf path (array elements as `element`,
    * map sides as `key`/`value`, matching [[LeafLayout.leafNames]]) — it
    * selects which leaves build page bloom filters (`opts.bloomColumns`).
    * `topLevel` marks the schema's own fields: only their leaves carry
    * page sums (SUM pushdown only targets flat top-level columns — nested
    * leaves would pay the footer bytes with no reader). */
  def apply(dt: DataType, opts: WriteOptions, path: String = "",
      topLevel: Boolean = true): ColumnWriter = {
    def bloom = opts.bloomColumns.contains(path)
    dt match {
      case BooleanType =>
        new LongColumnWriter(opts, 1, (g, i) => if (g.getBoolean(i)) 1L else 0L, StatsSigned,
          bloomEnabled = bloom,
          vecGet = (v, i) => if (v.getBoolean(i)) 1L else 0L)
      case ByteType => new LongColumnWriter(opts, 1, (g, i) => g.getByte(i).toLong, StatsSigned,
        bloomEnabled = bloom, sumEnabled = topLevel,
        vecGet = (v, i) => v.getByte(i).toLong)
      case ShortType => new LongColumnWriter(opts, 2, (g, i) => g.getShort(i).toLong, StatsSigned,
        bloomEnabled = bloom, sumEnabled = topLevel,
        vecGet = (v, i) => v.getShort(i).toLong)
      case IntegerType | DateType =>
        // SUM over dates is not SQL; don't spend the footer bytes there
        new LongColumnWriter(opts, 4, (g, i) => g.getInt(i).toLong, StatsSigned,
          bloomEnabled = bloom, sumEnabled = topLevel && dt == IntegerType,
          vecGet = (v, i) => v.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType =>
        new LongColumnWriter(opts, 8, (g, i) => g.getLong(i), StatsSigned,
          bloomEnabled = bloom, sumEnabled = topLevel && dt == LongType,
          vecGet = (v, i) => v.getLong(i))
      case FloatType =>
        new LongColumnWriter(opts, 4,
          (g, i) => java.lang.Float.floatToIntBits(g.getFloat(i)).toLong & 0xffffffffL,
          StatsSigned,
          bits => sortableDouble(java.lang.Float.intBitsToFloat(bits.toInt).toDouble),
          floatBits = true, bloomEnabled = bloom,
          vecGet = (v, i) => java.lang.Float.floatToIntBits(v.getFloat(i)).toLong & 0xffffffffL)
      case DoubleType =>
        new LongColumnWriter(opts, 8,
          (g, i) => java.lang.Double.doubleToLongBits(g.getDouble(i)),
          StatsSigned,
          bits => sortableDouble(java.lang.Double.longBitsToDouble(bits)),
          floatBits = true, bloomEnabled = bloom,
          vecGet = (v, i) => java.lang.Double.doubleToLongBits(v.getDouble(i)))
      case d: DecimalType if d.precision <= 18 =>
        new LongColumnWriter(opts, 8,
          (g, i) => g.getDecimal(i, d.precision, d.scale).toUnscaledLong, StatsSigned,
          bloomEnabled = bloom, sumEnabled = topLevel,
          vecGet = (v, i) => v.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case d: DecimalType if d.precision <= 38 =>
        new Decimal128ColumnWriter(opts, d.precision, d.scale)
      case StringType => new BinaryColumnWriter(opts, isString = true, bloomEnabled = bloom)
      case BinaryType => new BinaryColumnWriter(opts, isString = false, bloomEnabled = bloom)
      case ArrayType(et, containsNull) =>
        new ArrayColumnWriter(opts, apply(et, opts, s"$path.element", topLevel = false),
          containsNull)
      case MapType(kt, vt, vcn) =>
        new MapColumnWriter(opts, apply(kt, opts, s"$path.key", topLevel = false),
          apply(vt, opts, s"$path.value", topLevel = false), vcn)
      case StructType(fields) =>
        // a field-less struct has no leaf to carry its validity in the
        // per-leaf layout (and Spark SQL cannot construct one anyway)
        require(fields.nonEmpty, "strawboat: empty struct type unsupported")
        new StructColumnWriter(opts,
          fields.map(f => apply(f.dataType, opts, s"$path.${f.name}", topLevel = false)))
      case NullType => new NullColumnWriter(opts)
      case other =>
        throw new UnsupportedOperationException(
          s"strawboat: unsupported write type $other (Decimal>18 lands later)")
    }
  }
}

/** Encodes a stream of InternalRows into one `.strb` file image. Pages are
  * encoded incrementally (bounded memory per page); the encoded column
  * buffers are held until `finish` so columns land contiguously — same
  * memory shape as a Parquet row-group writer. */
final class StrawFileWriter(schema: StructType, opts: WriteOptions) {
  locally {
    // fail fast on bloom column typos: a misspelled path would silently
    // build no filter while the user believes point lookups are covered
    if (opts.bloomColumns.nonEmpty) {
      val paths = LeafLayout.leafPaths(schema)
      val infos = paths.zip(LeafLayout.leaves(schema)).toMap
      opts.bloomColumns.foreach { c =>
        val info = infos.get(c)
        require(info.isDefined,
          s"strawboat: bloomColumns entry '$c' names no leaf of the schema " +
            s"(leaves: ${paths.mkString(", ")})")
        val (levels, dt) = info.get
        require(PageBloom.capable(dt),
          s"strawboat: bloomColumns entry '$c' has type $dt — no bloom " +
            "support (string/binary/integer-family/float/decimal<=18 only)")
        // only row-aligned leaves (struct ancestry all the way down) are
        // probe-able: ZoneMapFilter never resolves a path crossing an
        // array/map level, so a bloom there would be written into every
        // footer yet never consulted — silent bloat, not acceleration
        require(!levels.contains(LeafLayout.LevelRep),
          s"strawboat: bloomColumns entry '$c' crosses an array/map level — " +
            "repeated leaves are not row-aligned and can never be probed by " +
            "equality pushdown")
      }
    }
  }
  private val writers: Array[ColumnWriter] =
    schema.fields.map(f => ColumnWriter(f.dataType, opts, f.name))
  // one page stream per LEAF column (LeafLayout DFS order), not per field
  private val leafStarts: Array[Int] = LeafLayout.starts(schema)
  private val totalLeaves: Int = leafStarts.last
  // distinct-count sketches on TOP-LEVEL FLAT leaves (the only columns
  // Catalyst attribute statistics can attach to); file-lifetime, fed from
  // the append path, merged across files by the scan's estimateStatistics
  private val ndvSketches: Array[NdvSketch] = {
    val out = new Array[NdvSketch](totalLeaves)
    writers.zipWithIndex.foreach {
      case (l: LeafColumnWriter, c) if !l.isInstanceOf[NullColumnWriter] =>
        val s = new NdvSketch
        l.ndv = s
        out(leafStarts(c)) = s
      case _ =>
    }
    out
  }
  // value-length stats on top-level string/binary leaves (same placement
  // rule as the ndv sketches; fed from the shared appendBytes funnel so the
  // row and columnar ingest paths stay byte-identical)
  private val lenStats: Array[LenStat] = {
    val out = new Array[LenStat](totalLeaves)
    writers.zipWithIndex.foreach {
      case (b: BinaryColumnWriter, c) =>
        val s = new LenStat
        b.lenStat = s
        out(leafStarts(c)) = s
      case _ =>
    }
    out
  }
  private val colBufs: Array[ByteBuf] = Array.fill(totalLeaves)(new ByteBuf(1 << 16))
  private val pageMetas: Array[ArrayBuffer[PageMeta]] =
    Array.fill(totalLeaves)(new ArrayBuffer[PageMeta])
  private var rowsInPage = 0
  private var totalRows = 0L
  // running upper-ish estimate of this page's buffered bytes: UnsafeRow
  // (the DSv2 write path's row class) reports its serialized size in O(1),
  // so the cap check costs one field read per row instead of a
  // boxing-foldLeft over every column writer (which dominated the write
  // profile). Non-Unsafe rows poison the estimate and fall back to the
  // exact per-row fold — same 16 MiB bound either way.
  private var approxBuffered = 0L
  private var approxUnknown = false

  // columnar ingest split: vector-capable columns append straight from
  // their vectors; the rest read the batch's row view ([[writeColumnar]])
  private val rowFallback: IndexedSeq[Int] = writers.indices.filter(c => writers(c) match {
    case l: LeafColumnWriter => !l.vectorCapable
    case _ => true
  })
  private val vectored: IndexedSeq[Int] = writers.indices.filterNot(rowFallback.contains)

  private def bufferedExact: Long = {
    var total = 0L
    var c = 0
    while (c < writers.length) { total += writers(c).bufferedBytes; c += 1 }
    total
  }

  def write(row: InternalRow): Unit = {
    var c = 0
    while (c < writers.length) {
      if (row.isNullAt(c)) writers(c).appendNull()
      else writers(c).append(row, c)
      c += 1
    }
    rowsInPage += 1
    totalRows += 1
    row match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        approxBuffered += u.getSizeInBytes.toLong
      case _ => approxUnknown = true
    }
    // flush on row count OR buffered bytes — large binary/multimodal cells
    // must not accumulate unbounded page memory (16 MiB cap, checked every
    // row so even a single giant cell flushes at the next row boundary)
    if (rowsInPage >= opts.maxPageSize ||
      (if (approxUnknown) bufferedExact else approxBuffered) > (16L << 20))
      flushPages()
  }

  /** Columnar ingest: append up to `maxN` rows of `batch` starting at
    * `start`, straight from its vectors — no ColumnarToRow stage, no
    * UnsafeRow materialization. Chunked at page boundaries so page sizes
    * (and with them the emitted file bytes) are IDENTICAL to the row
    * path's. Vector-capable leaves consume the vector directly; nested
    * columns fall back to the batch's row view for just that column.
    * @return rows consumed (call again until the batch is drained) */
  def writeColumnar(batch: org.apache.spark.sql.vectorized.ColumnarBatch,
      start: Int, maxN: Int): Int = {
    val n = math.min(maxN, math.max(1, opts.maxPageSize - rowsInPage))
    // vector-capable columns append independently (per-writer state only;
    // source vectors are read-only here), so a large chunk appends across
    // the common pool — same intra-task parallelism rationale as
    // [[flushPages]]: a one-row-group table is ONE task, and the per-value
    // append work (chooser stats, ndv hashing, validity) otherwise runs
    // serially column after column on that task's core. The row-view
    // fallback columns share the batch's ONE mutable row cursor and must
    // stay serial; they run after the parallel wave.
    if (vectored.size > 1 && n >= 1024)
      java.util.stream.IntStream.range(0, vectored.size).parallel().forEach { k =>
        val c = vectored(k)
        writers(c).asInstanceOf[LeafColumnWriter]
          .appendVector(batch.column(c), start, n)
      }
    else vectored.foreach { c =>
      writers(c).asInstanceOf[LeafColumnWriter]
        .appendVector(batch.column(c), start, n)
    }
    rowFallback.foreach { c =>
      val w = writers(c)
      var i = start
      val end = start + n
      while (i < end) {
        val row = batch.getRow(i) // shared mutable view, consumed here
        if (row.isNullAt(c)) w.appendNull() else w.append(row, c)
        i += 1
      }
    }
    rowsInPage += n
    totalRows += n
    if (rowsInPage >= opts.maxPageSize || bufferedExact > (16L << 20))
      flushPages()
    n
  }

  /** Columnar ingest with a selection vector: append up to `maxN` of the
    * batch positions `sel(from until from+maxN)` — the bucketed write
    * shape, where one batch's rows scatter across per-bucket page
    * builders. Same page-boundary chunking as [[writeColumnar]], so page
    * sizes stay identical to the row path's.
    * @return selection entries consumed (call again until drained) */
  def writeColumnarSelected(batch: org.apache.spark.sql.vectorized.ColumnarBatch,
      sel: Array[Int], from: Int, maxN: Int): Int = {
    val n = math.min(maxN, math.max(1, opts.maxPageSize - rowsInPage))
    var c = 0
    while (c < writers.length) {
      val vec = batch.column(c)
      writers(c) match {
        case l: LeafColumnWriter if l.vectorCapable =>
          l.appendVectorSelected(vec, sel, from, n)
        case w =>
          var k = from
          val end = from + n
          while (k < end) {
            val row = batch.getRow(sel(k)) // shared mutable view, consumed here
            if (row.isNullAt(c)) w.appendNull() else w.append(row, c)
            k += 1
          }
      }
      c += 1
    }
    rowsInPage += n
    totalRows += n
    if (rowsInPage >= opts.maxPageSize || bufferedExact > (16L << 20))
      flushPages()
    n
  }

  private def flushPages(): Unit = {
    if (rowsInPage > 0) {
      val stats = new Array[PageStats](totalLeaves)
      val before: Array[Int] = colBufs.map(_.len)
      // column encodes are independent — field c writes only its own leaf
      // slots [leafStarts(c), leafStarts(c+1)) of colBufs/stats, and the
      // codec state is per-writer — so a full page group encodes across the
      // JVM common pool. This is the single-file writer's intra-task
      // parallelism: a one-row-group input plans as ONE conversion task
      // however large the table, and without this every column of that
      // table encodes serially on one core while the rest idle. The pool
      // is the shared ForkJoinPool, so ten concurrent table conversions
      // self-balance instead of oversubscribing cores x tables threads.
      // Output bytes are IDENTICAL: each column's bytes land in its own
      // buffer; assembly order below is unchanged.
      if (writers.length > 1 && rowsInPage >= 1024)
        java.util.stream.IntStream.range(0, writers.length).parallel().forEach { c =>
          writers(c).encodeLeaves(Array.emptyByteArray, colBufs, stats, leafStarts(c))
          writers(c).clearPage()
        }
      else {
        var c = 0
        while (c < writers.length) {
          writers(c).encodeLeaves(Array.emptyByteArray, colBufs, stats, leafStarts(c))
          writers(c).clearPage()
          c += 1
        }
      }
      var l = 0
      while (l < totalLeaves) {
        val s = stats(l)
        // numValues = the page group's ROW count, uniform across leaves
        pageMetas(l) += PageMeta(rowsInPage, (colBufs(l).len - before(l)).toLong,
          s.nullCount, s.statsKind, s.min, s.max, s.min2, s.max2, s.bloom,
          s.hasSum, s.sumHi, s.sumLo)
        l += 1
      }
      rowsInPage = 0
      approxBuffered = 0L
      approxUnknown = false
    }
  }

  def estimatedBytes: Long =
    colBufs.map(_.len.toLong).sum + bufferedExact

  def numRows: Long = totalRows

  /** Stream the complete file to `os` without assembling a whole-file image
    * in memory: magic, each column's encoded pages (already compressed, held
    * once in `colBufs`), then the footer. Peak heap ≈ 1× compressed file size
    * (columns must land contiguously, same constraint as a Parquet row
    * group), not the 3× of a concat-then-copy approach. */
  def writeTo(os: java.io.OutputStream): Long = {
    flushPages()
    os.write(StrawFormat.Magic)
    var fileLen = StrawFormat.Magic.length.toLong
    val metas = new Array[ColumnMeta](totalLeaves)
    var c = 0
    while (c < totalLeaves) {
      metas(c) = ColumnMeta(fileLen, pageMetas(c).toArray)
      os.write(colBufs(c).buf, 0, colBufs(c).len)
      fileLen += colBufs(c).len
      c += 1
    }
    val tail = new ByteBuf(1 << 16)
    MetaIO.writeFooter(StrawFooter(schema, totalRows, metas,
      ndvSketches.map(s => if (s == null) null else s.registers),
      lenStats), tail)
    os.write(tail.buf, 0, tail.len)
    fileLen + tail.len
  }

  /** Assemble the complete file image in memory (tests / small files). */
  def finish(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(1 << 20)
    writeTo(bos)
    bos.toByteArray
  }
}
