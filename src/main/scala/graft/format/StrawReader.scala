package graft.format

import java.io.Closeable
import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Read side of the `.strb` format: footer parsing from a random-access
  * input, then per-column page decoding that exactly mirrors the
  * `ColumnWriter` hierarchy (one page of a nested column is self-contained,
  * children inline after the parent's lengths block).
  *
  * Structurally mirrors the reference's streaming read path
  * (reference: src/read/reader.rs:51-146 per-column page iterator,
  * src/read/deserialize.rs:100-234 typed + nested dispatch) but decodes a
  * whole page into a [[DecodedPage]] — the unit handed to Spark as one
  * ColumnarBatch slice.
  */
trait RandomInput extends Closeable {
  def length: Long
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit
  final def readFully(pos: Long, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    readFully(pos, b, 0, len)
    b
  }
}

final class ByteArrayInput(bytes: Array[Byte]) extends RandomInput {
  def length: Long = bytes.length.toLong
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit =
    System.arraycopy(bytes, pos.toInt, buf, off, len)
  def close(): Unit = ()
}

final class LocalFileInput(path: String) extends RandomInput {
  private val ch = java.nio.channels.FileChannel.open(
    java.nio.file.Paths.get(path), java.nio.file.StandardOpenOption.READ)
  def length: Long = ch.size()
  def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    var done = 0
    while (done < len) {
      val n = ch.read(ByteBuffer.wrap(buf, off + done, len - done), pos + done)
      if (n < 0) throw new java.io.EOFException(s"EOF at ${pos + done} in $path")
      done += n
    }
  }
  def close(): Unit = ch.close()
}

// ---------------------------------------------------------------------------
// Decoded page representations (one per ColumnWriter variant)
// ---------------------------------------------------------------------------

/** One decoded page of one column; `value(i)` yields the Catalyst-internal
  * value (UTF8String / ArrayData / InternalRow / boxed primitives). */
sealed trait DecodedPage {
  def numValues: Int
  def isNullAt(i: Int): Boolean
  def value(i: Int): Any
  final def valueOrNull(i: Int): Any = if (isNullAt(i)) null else value(i)
}

final class LongPage(val dt: DataType, val values: Array[Long],
    val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = values.length
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  private val conv: Long => Any = dt match {
    case BooleanType => v => v != 0L
    case ByteType => v => v.toByte
    case ShortType => v => v.toShort
    case IntegerType | DateType => v => v.toInt
    case LongType | TimestampType | TimestampNTZType => v => v
    // float bits are stored zero-extended; `.toInt` keeps the low 32 bits
    // regardless of which codec decoded them (sign- vs zero-extension safe)
    case FloatType => v => java.lang.Float.intBitsToFloat(v.toInt)
    case DoubleType => v => java.lang.Double.longBitsToDouble(v)
    case d: DecimalType => v => Decimal.createUnsafe(v, d.precision, d.scale)
    case other => throw new UnsupportedOperationException(s"LongPage: $other")
  }
  def value(i: Int): Any = conv(values(i))
}

final class BinaryPage(val isString: Boolean, val offsets: Array[Int],
    val bytes: Array[Byte], val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = offsets.length - 1
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  def value(i: Int): Any =
    if (isString) UTF8String.fromBytes(bytes, offsets(i), offsets(i + 1) - offsets(i))
    else java.util.Arrays.copyOfRange(bytes, offsets(i), offsets(i + 1))
}

final class ArrayPage(val lengths: Array[Int], val childStart: Array[Int],
    val child: DecodedPage, val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = lengths.length
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  def value(i: Int): Any = {
    val m = lengths(i)
    val out = new Array[Any](m)
    var j = 0
    while (j < m) { out(j) = child.valueOrNull(childStart(i) + j); j += 1 }
    new GenericArrayData(out)
  }
}

final class MapPage(val lengths: Array[Int], val childStart: Array[Int],
    val keys: DecodedPage, val vals: DecodedPage,
    val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = lengths.length
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  def value(i: Int): Any = {
    val m = lengths(i)
    val k = new Array[Any](m)
    val v = new Array[Any](m)
    var j = 0
    while (j < m) {
      k(j) = keys.value(childStart(i) + j)
      v(j) = vals.valueOrNull(childStart(i) + j)
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(k), new GenericArrayData(v))
  }
}

final class StructPage(val fields: Array[DecodedPage], val n: Int,
    val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = n
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  def value(i: Int): Any = {
    val row = new GenericInternalRow(fields.length)
    var f = 0
    while (f < fields.length) { row.update(f, fields(f).valueOrNull(i)); f += 1 }
    row
  }
}

final class Decimal128Page(val precision: Int, val scale: Int,
    val hi: Array[Long], val lo: Array[Long],
    val valid: Array[Boolean]) extends DecodedPage {
  def numValues: Int = hi.length
  def isNullAt(i: Int): Boolean = valid != null && !valid(i)
  def value(i: Int): Any = {
    val big = java.math.BigInteger.valueOf(hi(i)).shiftLeft(64)
      .add(java.math.BigInteger.valueOf(lo(i)).and(Decimal128Page.Mask64))
    Decimal(new java.math.BigDecimal(big, scale), precision, scale)
  }
}
object Decimal128Page {
  val Mask64: java.math.BigInteger =
    java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)
}

final class NullPage(val n: Int) extends DecodedPage {
  def numValues: Int = n
  def isNullAt(i: Int): Boolean = true
  def value(i: Int): Any = null
}

/** A whole-column view over eagerly decoded pages ([[BatchRead]]'s unit):
  * one index space `0..numValues-1` across page boundaries. A
  * forward-moving cursor makes sequential access O(1); random access
  * falls back to binary search. NOT thread-safe (neither are the
  * underlying pages). Lives here because [[DecodedPage]] is sealed. */
final class ConcatPage(pages: Array[DecodedPage]) extends DecodedPage {
  private val starts: Array[Int] = pageStarts()
  val numValues: Int = starts(pages.length)
  private var cursor = 0

  // a method, not the initializer: a loop in a `val` initializer runs with
  // `this` on the operand stack, where HotSpot cannot OSR-compile it
  private def pageStarts(): Array[Int] = {
    val a = new Array[Int](pages.length + 1)
    var p = 0
    while (p < pages.length) { a(p + 1) = a(p) + pages(p).numValues; p += 1 }
    a
  }

  private def locate(i: Int): Int = {
    if (i >= starts(cursor) && i < starts(cursor + 1)) return cursor
    if (cursor + 1 < pages.length &&
        i >= starts(cursor + 1) && i < starts(cursor + 2)) {
      cursor += 1
      return cursor
    }
    var lo = 0
    var hi = pages.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= i) lo = mid else hi = mid - 1
    }
    cursor = lo
    lo
  }

  def isNullAt(i: Int): Boolean = {
    val p = locate(i)
    pages(p).isNullAt(i - starts(p))
  }
  def value(i: Int): Any = {
    val p = locate(i)
    pages(p).value(i - starts(p))
  }
}

object PageDecoder {
  /** Natural storage byte width per flat type (mirrors ColumnWriter). */
  def widthOf(dt: DataType): Int = dt match {
    case BooleanType | ByteType => 1
    case ShortType => 2
    case IntegerType | DateType | FloatType => 4
    case _ => 8
  }

  /** Decode one FLAT leaf's validity + data from `in` (positioned after any
    * ancestor level headers; consumes exactly the leaf bytes). Nested types
    * never reach here — v2 stores one page stream per leaf, and
    * [[LeafDecoder]] reassembles nesting from level headers. */
  def decode(dt: DataType, in: ByteBuffer): DecodedPage = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType | DoubleType =>
      val (n, valid) = ValidityReader.read(in)
      new LongPage(dt, IntCodec.decode(in, n, widthOf(dt)), valid)
    case d: DecimalType if d.precision <= 18 =>
      val (n, valid) = ValidityReader.read(in)
      new LongPage(dt, IntCodec.decode(in, n, 8), valid)
    case d: DecimalType if d.precision <= 38 =>
      val (n, valid) = ValidityReader.read(in)
      val hi = IntCodec.decode(in, n, 8)
      val lo = IntCodec.decode(in, n, 8)
      new Decimal128Page(d.precision, d.scale, hi, lo, valid)
    case StringType | BinaryType =>
      val (n, valid) = ValidityReader.read(in)
      val (offsets, bytes) = BinaryCodec.decode(in, n)
      new BinaryPage(dt == StringType, offsets, bytes, valid)
    case NullType =>
      val (n, _) = ValidityReader.read(in)
      new NullPage(n)
    case other =>
      throw new UnsupportedOperationException(s"strawboat: unsupported leaf type $other")
  }

  private[format] def readLengths(in: ByteBuffer, n: Int): (Array[Int], Array[Int]) = {
    val raw = IntCodec.decode(in, n, 4)
    val lengths = new Array[Int](n)
    val starts = new Array[Int](n)
    var acc = 0
    var i = 0
    while (i < n) {
      lengths(i) = raw(i).toInt
      starts(i) = acc
      acc += lengths(i)
      i += 1
    }
    (lengths, starts)
  }
}

/** One decoded ancestor nesting level of a leaf page: the level's validity
  * and (for array/map levels) its element lengths + prefix-sum starts. */
final class LevelHeader(val n: Int, val valid: Array[Boolean],
    val lengths: Array[Int], val starts: Array[Int])

/** Decode + reassemble per-leaf pages (reassembly mirrors the reference's
  * per-leaf deserialize, src/read/deserialize.rs:140-234, expressed over
  * validity+lengths levels instead of rep/def levels). */
object LeafDecoder {

  /** Decode one self-contained leaf page: ancestor level headers top-down
    * (`levels` — [[LeafLayout.LevelStruct]]/[[LeafLayout.LevelRep]]), then
    * the flat leaf itself. */
  def decode(levels: Array[Int], leafDt: DataType, in: ByteBuffer)
      : (Array[LevelHeader], DecodedPage) = {
    val hdrs = new Array[LevelHeader](levels.length)
    var i = 0
    while (i < levels.length) {
      val (n, valid) = ValidityReader.read(in)
      if (levels(i) == LeafLayout.LevelStruct)
        hdrs(i) = new LevelHeader(n, valid, null, null)
      else {
        val (lengths, starts) = PageDecoder.readLengths(in, n)
        hdrs(i) = new LevelHeader(n, valid, lengths, starts)
      }
      i += 1
    }
    (hdrs, PageDecoder.decode(leafDt, in))
  }

  /** Reassemble a column of (possibly struct-pruned) type `dt` from its
    * decoded leaves, given in DFS order of `dt`. Ancestor headers are
    * replicated in every leaf — assembly reads each level's header from its
    * subtree's first leaf. */
  def assemble(dt: DataType, leaves: Array[(Array[LevelHeader], DecodedPage)]): DecodedPage =
    build(dt, leaves, 0, 0)._1

  private def build(dt: DataType, leaves: Array[(Array[LevelHeader], DecodedPage)],
      pos: Int, depth: Int): (DecodedPage, Int) = dt match {
    case s: StructType =>
      var p = pos
      val children = new Array[DecodedPage](s.fields.length)
      var i = 0
      while (i < s.fields.length) {
        val (c, np) = build(s.fields(i).dataType, leaves, p, depth + 1)
        children(i) = c
        p = np
        i += 1
      }
      val hdr = leaves(pos)._1(depth)
      (new StructPage(children, hdr.n, hdr.valid), p)
    case a: ArrayType =>
      val (child, p) = build(a.elementType, leaves, pos, depth + 1)
      val hdr = leaves(pos)._1(depth)
      (new ArrayPage(hdr.lengths, hdr.starts, child, hdr.valid), p)
    case m: MapType =>
      val (k, p1) = build(m.keyType, leaves, pos, depth + 1)
      val (v, p2) = build(m.valueType, leaves, p1, depth + 1)
      val hdr = leaves(pos)._1(depth)
      (new MapPage(hdr.lengths, hdr.starts, k, v, hdr.valid), p2)
    case _ => (leaves(pos)._2, pos + 1)
  }
}

/** Read plan of one projected output column: which global leaves to decode
  * and how to reassemble them into `readDt` (equal to the file's column
  * type, or a struct-pruned subset of it). */
final case class ProjCol(
    readDt: DataType,
    globalLeaves: Array[Int],
    levelKinds: Array[Array[Int]],
    leafDts: Array[DataType]) {
  def isSingleFlat: Boolean = levelKinds.length == 1 && levelKinds(0).isEmpty
}

object ProjCol {
  /** Plan reading `readDt` out of file field `fileFieldIdx`. Throws when
    * `readDt` is not the stored type or a struct-pruned subset of it —
    * callers ([[graft.spark]] resolver) validate compatibility first. */
  def plan(footer: StrawFooter, fileFieldIdx: Int, readDt: DataType): ProjCol = {
    val fileDt = footer.schema.fields(fileFieldIdx).dataType
    val base = footer.leafStarts(fileFieldIdx)
    val rel = LeafLayout.prunedLeafIdx(fileDt, readDt).getOrElse(
      throw new IllegalArgumentException(
        s"strawboat: cannot read $readDt from a column stored as $fileDt"))
    val lv = LeafLayout.leaves(readDt)
    require(lv.size == rel.length, s"leaf plan mismatch for $readDt")
    ProjCol(readDt, rel.map(_ + base), lv.map(_._1).toArray, lv.map(_._2).toArray)
  }
}

// ---------------------------------------------------------------------------
// File-level reader
// ---------------------------------------------------------------------------

object StrawFileReader {
  /** Read the footer with at most two positioned reads (tail-size probe then
    * exact tail; reference pre-reads a 64 KiB tail for the same reason,
    * src/read/reader.rs:33,184-213). */
  def readFooter(in: RandomInput): StrawFooter = {
    val flen = in.length
    require(flen >= StrawFormat.Magic.length + 16, s"file too small: $flen bytes")
    val probeLen = math.min(flen, 64L << 10).toInt
    val probe = in.readFully(flen - probeLen, probeLen)
    val sz = ByteIO.reader(probe, probeLen - 16, 8)
    val schemaLen = sz.getInt()
    val metaLen = sz.getInt()
    require(schemaLen >= 0 && metaLen >= 0 &&
      16L + schemaLen + metaLen <= flen,
      s"corrupt strawboat footer: schemaLen=$schemaLen metaLen=$metaLen len=$flen")
    val need = 16 + schemaLen + metaLen
    val tail = if (need <= probeLen)
      java.util.Arrays.copyOfRange(probe, probeLen - need, probeLen)
    else in.readFully(flen - need, need)
    MetaIO.readFooter(tail)
  }

  /** Convenience: project whole top-level fields by index (tests, chained
    * readers). */
  def rowsByField(
      input: RandomInput,
      footer: StrawFooter,
      fields: Array[Int],
      keepPage: Int => Boolean = _ => true,
      limit: Long = Long.MaxValue): Iterator[InternalRow] =
    rows(input, footer,
      fields.map(i => ProjCol.plan(footer, i, footer.schema.fields(i).dataType)),
      keepPage, limit)

  /** Decode page group `p` of one projected column: the single-flat fast
    * path reads one leaf page; a nested/pruned column decodes each leaf
    * and reassembles. Shared by the streaming iterator and the eager
    * [[BatchRead]] tier. `leafOffsets(l)(p)` is leaf `l`'s byte offset for
    * page `p` (from the footer's `pageOffsets`). */
  private[format] def decodeColumnPage(
      input: RandomInput,
      footer: StrawFooter,
      pc: ProjCol,
      leafOffsets: Array[Array[Long]],
      p: Int): DecodedPage =
    if (pc.isSingleFlat) {
      val pm = footer.columns(pc.globalLeaves(0)).pages(p)
      val bytes = input.readFully(leafOffsets(0)(p), pm.compLen.toInt)
      PageDecoder.decode(pc.leafDts(0), ByteIO.reader(bytes))
    } else {
      val decoded = new Array[(Array[LevelHeader], DecodedPage)](pc.globalLeaves.length)
      var l = 0
      while (l < pc.globalLeaves.length) {
        val pm = footer.columns(pc.globalLeaves(l)).pages(p)
        val bytes = input.readFully(leafOffsets(l)(p), pm.compLen.toInt)
        decoded(l) = LeafDecoder.decode(pc.levelKinds(l), pc.leafDts(l), ByteIO.reader(bytes))
        l += 1
      }
      LeafDecoder.assemble(pc.readDt, decoded)
    }

  /** Iterate rows of one file with column projection (possibly
    * struct-pruned — see [[ProjCol]]) and optional page-group filter
    * (zone-map skipping) / row limit — the format-level reference reader
    * (the connector's scans read through its columnar reader).
    *
    * The produced rows have exactly the projected columns in order; a
    * nested-pruned column materializes ONLY its requested leaves — sibling
    * leaf pages are never read. `keepPage(p)` decides whether page group
    * `p` can contain matching rows (pages are row-aligned across columns —
    * the writer flushes all columns together).
    */
  def rows(
      input: RandomInput,
      footer: StrawFooter,
      projection: Array[ProjCol],
      keepPage: Int => Boolean = _ => true,
      limit: Long = Long.MaxValue): Iterator[InternalRow] = {
    // zero-column files (empty write schema) carry rows only in the footer
    if (footer.columns.isEmpty)
      return (0L until math.min(footer.numRows, limit)).iterator.map(_ => InternalRow.empty)
    val numPages = footer.columns(0).pages.length
    // PageMeta.numValues is the page group's row count on every leaf
    val pageRows: Array[Int] = footer.columns(0).pages.map(_.numValues)
    val pageOffsets: Array[Array[Array[Long]]] =
      projection.map(_.globalLeaves.map(li => footer.columns(li).pageOffsets))

    new Iterator[InternalRow] {
      private var pageIdx = 0
      private var rowInPage = 0
      private var emitted = 0L
      private var pages: Array[DecodedPage] = null
      private var pageN = 0

      private def decodeColumn(c: Int, p: Int): DecodedPage =
        StrawFileReader.decodeColumnPage(input, footer, projection(c),
          pageOffsets(c), p)

      private def loadNextPage(): Boolean = {
        while (pageIdx < numPages) {
          val p = pageIdx
          pageIdx += 1
          if (keepPage(p)) {
            // count(*)-style scans project zero columns; rows still must flow
            pages = Array.tabulate(projection.length)(decodeColumn(_, p))
            pageN = pageRows(p)
            rowInPage = 0
            if (pageN > 0) return true
          }
        }
        false
      }

      def hasNext: Boolean =
        emitted < limit && (rowInPage < pageN || loadNextPage())

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val i = rowInPage
        rowInPage += 1
        emitted += 1
        if (projection.isEmpty) InternalRow.empty
        else {
          val row = new GenericInternalRow(projection.length)
          var c = 0
          while (c < projection.length) {
            row.update(c, pages(c).valueOrNull(i))
            c += 1
          }
          row
        }
      }
    }
  }
}
