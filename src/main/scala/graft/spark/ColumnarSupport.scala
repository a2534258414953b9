package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.format._

/** The strawboat scan reader: one ColumnarBatch per page group, decoded
  * pages bulk-filled into OnHeapColumnVectors so everything above the scan
  * stays inside whole-stage codegen. Every strawboat scan (batch and
  * streaming), compaction, rebucket, DELETE/UPDATE matching, MERGE key
  * probe and change feed reads through [[StrawColumnarReader]].
  * Shapes without a bulk fill (maps, decimals wider than 18 digits) and
  * schema-evolved columns fill value by value through [[append]]. */
object ColumnarSupport {

  def isFlat(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType | DoubleType |
         StringType | BinaryType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  private def fill(v: OnHeapColumnVector, dt: DataType, page: DecodedPage): Unit = {
    val n = page.numValues
    page match {
      case lp: LongPage =>
        val vals = lp.values
        val valid = lp.valid
        // values first (bulk / branch-free: null slots hold the writer's
        // repeat-last filler, harmless under the null mask), then the mask
        dt match {
          case BooleanType =>
            var i = 0
            while (i < n) { v.putBoolean(i, vals(i) != 0L); i += 1 }
          case ByteType =>
            var i = 0
            while (i < n) { v.putByte(i, vals(i).toByte); i += 1 }
          case ShortType =>
            var i = 0
            while (i < n) { v.putShort(i, vals(i).toShort); i += 1 }
          case IntegerType | DateType =>
            var i = 0
            while (i < n) { v.putInt(i, vals(i).toInt); i += 1 }
          case LongType | TimestampType | TimestampNTZType =>
            v.putLongs(0, n, vals, 0)
          case FloatType =>
            var i = 0
            // low 32 bits regardless of codec sign/zero extension
            while (i < n) { v.putFloat(i, java.lang.Float.intBitsToFloat(vals(i).toInt)); i += 1 }
          case DoubleType =>
            // bit-identical reinterpretation: one bulk copy through a
            // scratch double[] instead of n scalar putDouble calls — the
            // TPC-H money columns' hot path
            val d = new Array[Double](n)
            org.apache.spark.unsafe.Platform.copyMemory(
              vals, org.apache.spark.unsafe.Platform.LONG_ARRAY_OFFSET,
              d, org.apache.spark.unsafe.Platform.DOUBLE_ARRAY_OFFSET, n * 8L)
            v.putDoubles(0, n, d, 0)
          case d: DecimalType =>
            // Spark backs precision <= 9 with an INT vector, 10..18 with long
            if (d.precision <= 9) {
              var i = 0
              while (i < n) { v.putInt(i, vals(i).toInt); i += 1 }
            } else v.putLongs(0, n, vals, 0)
          case other => throw new UnsupportedOperationException(s"columnar fill: $other")
        }
        if (valid != null) {
          var i = 0
          while (i < n) { if (!valid(i)) v.putNull(i); i += 1 }
        }
      case bp: BinaryPage =>
        val valid = bp.valid
        // the decoded page is already the vector's wire shape — one
        // contiguous byte run + offsets — so copy the bytes ONCE and
        // record per-row (offset, length) views; putByteArray would pay a
        // memcpy and an append-bookkeeping call per value
        val child = v.arrayData()
        val total = bp.offsets(n)
        child.reserve(total)
        child.putBytes(0, total, bp.bytes, 0)
        var i = 0
        while (i < n) {
          if (valid != null && !valid(i)) v.putNull(i)
          else v.putArray(i, bp.offsets(i), bp.offsets(i + 1) - bp.offsets(i))
          i += 1
        }
      case _: NullPage =>
        v.putNulls(0, n)
      case sp: StructPage =>
        // parent validity mask, then each child leaf into its child vector
        // (null parents leave child slots as filler — masked by the parent)
        val st = dt.asInstanceOf[StructType]
        if (sp.valid != null) {
          var i = 0
          while (i < n) { if (!sp.valid(i)) v.putNull(i); i += 1 }
        }
        var f = 0
        while (f < st.fields.length) {
          // reserve() on a struct vector resizes only its own buffers, not
          // its children's — a struct under an array (child count can exceed
          // the allocation-time 4x-rows child capacity) needs each field
          // vector grown explicitly before the bulk fill
          val cv = v.getChild(f).asInstanceOf[OnHeapColumnVector]
          cv.reserve(n)
          fill(cv, st.fields(f).dataType, sp.fields(f))
          f += 1
        }
      case ap: ArrayPage =>
        // per-row (offset, length) into a bulk-filled element child vector
        val elemDt = dt.asInstanceOf[ArrayType].elementType
        val childN = ap.child.numValues
        val childVec = v.arrayData().asInstanceOf[OnHeapColumnVector]
        childVec.reserve(childN)
        fill(childVec, elemDt, ap.child)
        var i = 0
        while (i < n) {
          if (ap.valid != null && !ap.valid(i)) v.putNull(i)
          else v.putArray(i, ap.childStart(i), ap.lengths(i))
          i += 1
        }
      case other => fillValues(v, dt, other, identity)
    }
  }

  /** Per-value fill of page `page` into the (reset) vector `v`: `conv` maps
    * each decoded value to `dt`, the read type (identity for a page with no
    * bulk fill, a [[StrawSchemaResolver.convert]] for an evolved column). */
  private def fillValues(v: WritableColumnVector, dt: DataType, page: DecodedPage,
      conv: Any => Any): Unit = {
    var i = 0
    while (i < page.numValues) {
      val x = page.valueOrNull(i)
      append(v, dt, if (x == null) null else conv(x))
      i += 1
    }
  }

  /** Append one Catalyst value of type `dt` (null-safe) to `v` — the generic
    * writer behind [[fillValues]] and the drained Top-N batch. Covers every
    * type a strawboat column can have; nested values recurse into the
    * child vectors. */
  private def append(v: WritableColumnVector, dt: DataType, x: Any): Unit = dt match {
    case st: StructType =>
      if (x == null) v.appendStruct(true): Unit
      else {
        v.appendStruct(false)
        val r = x.asInstanceOf[InternalRow]
        var f = 0
        while (f < st.fields.length) {
          val fdt = st.fields(f).dataType
          append(v.getChild(f), fdt, if (r.isNullAt(f)) null else r.get(f, fdt))
          f += 1
        }
      }
    case _ if x == null => v.appendNull(): Unit
    case BooleanType => v.appendBoolean(x.asInstanceOf[Boolean]): Unit
    case ByteType => v.appendByte(x.asInstanceOf[Byte]): Unit
    case ShortType => v.appendShort(x.asInstanceOf[Short]): Unit
    case IntegerType | DateType => v.appendInt(x.asInstanceOf[Int]): Unit
    case LongType | TimestampType | TimestampNTZType => v.appendLong(x.asInstanceOf[Long]): Unit
    case FloatType => v.appendFloat(x.asInstanceOf[Float]): Unit
    case DoubleType => v.appendDouble(x.asInstanceOf[Double]): Unit
    case d: DecimalType => v.putDecimal(v.appendNotNull(), x.asInstanceOf[Decimal], d.precision)
    case StringType =>
      val b = x.asInstanceOf[UTF8String].getBytes
      v.appendByteArray(b, 0, b.length): Unit
    case BinaryType =>
      val b = x.asInstanceOf[Array[Byte]]
      v.appendByteArray(b, 0, b.length): Unit
    case at: ArrayType =>
      val a = x.asInstanceOf[ArrayData]
      v.appendArray(a.numElements())
      appendElements(v.getChild(0), at.elementType, a)
    case mt: MapType =>
      val m = x.asInstanceOf[MapData]
      v.appendArray(m.numElements())
      appendElements(v.getChild(0), mt.keyType, m.keyArray())
      appendElements(v.getChild(1), mt.valueType, m.valueArray())
    case other => throw new UnsupportedOperationException(s"columnar append: $other")
  }

  private def appendElements(v: WritableColumnVector, dt: DataType, a: ArrayData): Unit = {
    var i = 0
    while (i < a.numElements()) {
      append(v, dt, if (a.isNullAt(i)) null else a.get(i, dt))
      i += 1
    }
  }

  /** Survivor copy between long-backed / byte-backed vectors (compaction
    * after an in-reader filter). Only flat types and decimals appear here;
    * struct, array and map shapes compact per-column in [[compactColumn]]. */
  private def copyValue(dt: DataType, src: OnHeapColumnVector, i: Int,
      dst: OnHeapColumnVector, j: Int): Unit = {
    if (src.isNullAt(i)) { dst.putNull(j); return }
    dt match {
      case BooleanType => dst.putBoolean(j, src.getBoolean(i))
      case ByteType => dst.putByte(j, src.getByte(i))
      case ShortType => dst.putShort(j, src.getShort(i))
      case IntegerType | DateType => dst.putInt(j, src.getInt(i))
      case LongType | TimestampType | TimestampNTZType => dst.putLong(j, src.getLong(i))
      case FloatType => dst.putFloat(j, src.getFloat(i))
      case DoubleType => dst.putDouble(j, src.getDouble(i))
      case d: DecimalType => // int-backed <= 9, long-backed 10..18, bytes beyond
        if (d.precision <= 9) dst.putInt(j, src.getInt(i))
        else if (d.precision <= 18) dst.putLong(j, src.getLong(i))
        else dst.putDecimal(j, src.getDecimal(i, d.precision, d.scale), d.precision)
      case StringType | BinaryType =>
        val b = src.getBinary(i)
        dst.putByteArray(j, b, 0, b.length): Unit
      case other => throw new UnsupportedOperationException(s"columnar copy: $other")
    }
  }

  /** Compact one column: copy the `n` rows of `src` named by `positions`
    * into `dst[0..n)`. Flat values copy directly; a struct recurses into
    * each child over the SAME positions (null parents masked, child filler
    * copied harmlessly — identical to the page fill's layout); an array or
    * map writes compacted (offset, length) entries and recurses into its
    * element child (a map: its key and value children) over the surviving
    * ELEMENT position list, so arbitrarily nested trees compact without
    * ever leaving the columnar path. */
  private def compactColumn(dt: DataType, src: OnHeapColumnVector,
      positions: Array[Int], n: Int, dst: OnHeapColumnVector): Unit = dt match {
    case st: StructType =>
      var j = 0
      while (j < n) { if (src.isNullAt(positions(j))) dst.putNull(j); j += 1 }
      var f = 0
      while (f < st.fields.length) {
        // reserve() does not propagate to struct children; under an array
        // the survivor ELEMENT count can exceed the child vectors'
        // allocation-time capacity — grow each field vector to n first
        val dc = dst.getChild(f).asInstanceOf[OnHeapColumnVector]
        dc.reserve(n)
        compactColumn(st.fields(f).dataType,
          src.getChild(f).asInstanceOf[OnHeapColumnVector], positions, n, dc)
        f += 1
      }
    case _: ArrayType | _: MapType =>
      // pass 1: survivor (offset, length) entries + total element count
      var total = 0
      var j = 0
      while (j < n) {
        val i = positions(j)
        if (src.isNullAt(i)) dst.putNull(j)
        else {
          val len = src.getArrayLength(i)
          dst.putArray(j, total, len)
          total += len
        }
        j += 1
      }
      // pass 2: surviving element positions, then compact the child
      val childPos = new Array[Int](total)
      var k = 0
      j = 0
      while (j < n) {
        val i = positions(j)
        if (!src.isNullAt(i)) {
          val off = src.getArrayOffset(i)
          val len = src.getArrayLength(i)
          var e = 0
          while (e < len) { childPos(k) = off + e; k += 1; e += 1 }
        }
        j += 1
      }
      val children = dt match {
        case at: ArrayType => Seq(at.elementType)
        case mt: MapType => Seq(mt.keyType, mt.valueType)
      }
      children.zipWithIndex.foreach { case (cdt, k) =>
        val dstChild = dst.getChild(k).asInstanceOf[OnHeapColumnVector]
        dstChild.reserve(total)
        compactColumn(cdt, src.getChild(k).asInstanceOf[OnHeapColumnVector],
          childPos, total, dstChild)
      }
    case flat =>
      var j = 0
      while (j < n) { copyValue(flat, src, positions(j), dst, j); j += 1 }
  }

  /** `base` with the constant vectors `consts` appended to every batch it
    * yields: a per-partition value (`_file`, a change feed's labels) stays
    * vectorized, one shared vector per column. */
  def withConstants(base: PartitionReader[ColumnarBatch],
      consts: ColumnVector*): PartitionReader[ColumnarBatch] =
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = base.next()
      override def get(): ColumnarBatch = {
        val b = base.get()
        new ColumnarBatch(Array.tabulate[ColumnVector](b.numCols())(b.column) ++ consts,
          b.numRows())
      }
      override def close(): Unit = base.close()
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        base.currentMetricsValues()
    }

  /** The scan reader over one page slice [pageStart, pageEnd) of one file.
    * `readSchema` may extend the produced schema with trailing filter-only
    * columns (consumed filters whose columns Catalyst pruned); `outCols` is
    * the produced prefix width.
    *
    *  - `pred`, when non-null, filters rows IN the reader (the filters were
    *    consumed — no Filter node remains above): an all-pass page emits
    *    zero-copy, a mixed page compacts survivors into a second vector set,
    *    an all-fail page is skipped, and `part.limit` counts PASSING rows.
    *  - `dead`, when non-null, is the file's deletion-vector bitmap: dead
    *    ordinals are dropped by the same survivor compaction (a page with no
    *    dead rows stays zero-copy, a fully-dead page is skipped without
    *    decoding).
    *  - `topN`, when non-null, is a pushed partial Top-N: the surviving rows
    *    of each page (after the deletion vector and `pred`) are offered to a
    *    bounded [[TopKBuffer]], a page whose zone map on the primary sort
    *    column cannot beat the k-th candidate is skipped without decoding,
    *    and the k candidates leave the reader as one final batch.
    *  - a column stored at an older type (lossless widening, nested
    *    evolution) decodes at its file shape and converts value by value to
    *    the read type; a column the file lacks reads as null.
    *
    * Task metrics: `pagesRead` counts decoded pages, `pagesPruned` the
    * slice's pages skipped without a decode (fully dead, or beaten by the
    * Top-N bound). */
  final class StrawColumnarReader(
      part: StrawInputPartition,
      readSchema: StructType,
      outCols: Int,
      pred: InternalRow => Boolean = null,
      dead: org.roaringbitmap.RoaringBitmap = null,
      mapping: ColumnMappingState = ColumnMappingState.Empty,
      appendPos: Boolean = false,
      topN: TopNPushdown.Spec = null)
    extends PartitionReader[ColumnarBatch] {

    private val input = StrawIO.open(part.path)
    // footer parse / schema resolution can throw (corrupt file, evolved
    // type mismatch) — don't leak the open stream on the error path
    private val (footer, resolved) =
      try {
        // version-keyed cache: a file split into many page-range partitions
        // parses its footer once per executor, not once per task. Spellings
        // translate to the logical namespace before name resolution
        // (rename/drop history; identity on unmapped tables).
        val f = mapping.toLogicalFooter(FooterCache.get(part.path, input))
        // per-file name resolution (files in a dir may have evolved schemas)
        (f, StrawSchemaResolver.resolve(part.path, f.schema, readSchema))
      } catch { case e: Throwable => input.close(); throw e }
    // the type each present column DECODES as: the file's own type when a
    // flat widening converts after decode; the (possibly struct-pruned)
    // read type when the per-leaf reader materializes the pruned shape
    // directly; the maximal decodable subset at file leaf types for a
    // nested-evolved column
    private val decodeDts: Array[DataType] = resolved.indices.map { c =>
      if (resolved(c) < 0) null
      else {
        val fileDt = footer.schema.fields(resolved(c)).dataType
        val readDt = readSchema.fields(c).dataType
        if (fileDt == readDt) readDt
        else if (StrawSchemaResolver.widenable(fileDt, readDt)) fileDt
        else if (LeafLayout.pruneCompatible(fileDt, readDt)) readDt
        else StrawSchemaResolver.decodeShape(fileDt, readDt)
      }
    }.toArray
    // decoded shape → read type, for the columns whose two differ
    private val convs: Array[Any => Any] = resolved.indices.map { c =>
      val readDt = readSchema.fields(c).dataType
      if (resolved(c) < 0 || decodeDts(c) == readDt) null
      else StrawSchemaResolver.convert(decodeDts(c), readDt)
    }.toArray
    private val pageRows: Array[Int] =
      if (footer.columns.isEmpty) Array.empty else footer.columns(0).pages.map(_.numValues)
    // whole-file chaining (bucket / keyed partitions) passes
    // pageEnd=MaxValue — clamp to the real page count
    private val pageEnd: Int = math.min(part.pageEnd, pageRows.length)
    // file-absolute ordinal of each page's first row (deletion vectors,
    // the `_pos` metadata column)
    private val pageStartOrd: Array[Long] =
      if (dead == null && !appendPos) null else pageRows.scanLeft(0L)(_ + _)
    // `_pos` vector: appended AFTER the produced data prefix; refilled per
    // batch with the surviving rows' file-absolute ordinals
    private var posVec: OnHeapColumnVector = _
    private def withPos(vecs: Array[OnHeapColumnVector], cap: Int)
        : Array[ColumnVector] = {
      if (!appendPos) return vecs.map(_.asInstanceOf[ColumnVector])
      if (posVec == null)
        posVec = OnHeapColumnVector.allocateColumns(cap,
          StructType(Seq(StructField("_pos", LongType, nullable = false))))(0)
      else posVec.reserve(cap)
      (vecs :+ posVec).map(_.asInstanceOf[ColumnVector])
    }
    // survivor compaction engages when EITHER filter source is active
    private def filtering: Boolean = pred != null || dead != null
    // per-column leaf read plan (flat = one leaf, struct = its leaf set);
    // page byte offsets precomputed per leaf
    private val plans: Array[ProjCol] = resolved.indices.map { c =>
      if (resolved(c) < 0) null else ProjCol.plan(footer, resolved(c), decodeDts(c))
    }.toArray
    private val leafOffsets: Array[Array[Array[Long]]] = plans.map { pl =>
      if (pl == null) null else pl.globalLeaves.map(l => footer.columns(l).pageOffsets)
    }
    private val outSchema = StructType(readSchema.fields.take(outCols))

    // pushed Top-N: sort keys are produced top-level columns (the factory
    // checks), so their indices hold in both the read and produced schemas
    private val topIdx: Array[Int] =
      if (topN == null) null else topN.cols.map(c => readSchema.fieldIndex(c.name)).toArray
    private val topDts: Array[DataType] =
      if (topN == null) null else topIdx.map(readSchema.fields(_).dataType)
    private val topK: TopKBuffer =
      if (topN == null) null
      else new TopKBuffer(TopNPushdown.rowComparator(topIdx, topDts, topN), topN.limit)
    private val primaryFileIdx: Int =
      if (topN == null) -1 else footer.schema.fields.indexWhere(_.name == topN.cols.head.name)
    private var topKDrained = false

    /** Can page `p` hold a row better than the k-th Top-N candidate? Always
      * true until the buffer is full (or without a pushed Top-N). */
    private def mayBeat(p: Int): Boolean = topK == null || primaryFileIdx < 0 || {
      val w = topK.worst
      w == null || {
        val worstIsNull = w.isNullAt(topIdx(0))
        val worstKey =
          if (worstIsNull) None
          else TopNPushdown.toSortable(topDts(0), w.get(topIdx(0), topDts(0)))
        // sort keys are flat top-level columns — topLeaf IS the column
        TopNPushdown.pageMayBeat(footer.topLeaf(primaryFileIdx).pages(p),
          topN.cols.head, worstKey, worstIsNull)
      }
    }

    private var pagesRead = 0L
    private var pagesPruned = 0L
    private var pageIdx = part.pageStart
    private var emitted = 0L
    private var batch: ColumnarBatch = _
    // vectors are reused across pages (reset, not reallocated)
    private var vectors: Array[OnHeapColumnVector] = _
    private var fullBatch: ColumnarBatch = _ // over all read columns (pred view)
    private var outBatch: ColumnarBatch = _ // over the produced prefix
    private var compactVectors: Array[OnHeapColumnVector] = _
    private var compactBatch: ColumnarBatch = _
    private var topKVectors: Array[OnHeapColumnVector] = _
    private var selection: Array[Int] = _
    private var vectorCapacity = 0
    // zero-column files carry rows only in the footer: emit one
    // vector-less batch of numRows
    private var zeroColDone = footer.columns.nonEmpty

    override def next(): Boolean = {
      if (!zeroColDone) return nextZeroColumn()
      while (pageIdx < pageEnd && emitted < part.limit) {
        val p = pageIdx
        pageIdx += 1
        val n0 = pageRows(p)
        val deadInPage =
          if (dead == null || n0 == 0) 0L
          else dead.rangeCardinality(pageStartOrd(p), pageStartOrd(p) + n0)
        // a fully-dead page, or one that cannot beat the k-th Top-N
        // candidate, is skipped without decoding a byte
        if (n0 > 0 && (deadInPage == n0 || !mayBeat(p))) pagesPruned += 1
        else if (n0 > 0) {
          pagesRead += 1
          decodePage(p, n0)
          if (pred == null && deadInPage == 0L && topK == null)
            return emit(outBatch, math.min(n0.toLong, part.limit - emitted).toInt, p, null)
          // survivor selection: deletion vector first (a dead row must
          // never reach the predicate or the Top-N buffer), then the
          // consumed filters
          fullBatch.setNumRows(n0)
          var nSel = 0
          var i = 0
          while (i < n0 && emitted + nSel < part.limit) {
            val alive = deadInPage == 0L ||
              !dead.contains((pageStartOrd(p) + i).toInt)
            if (alive && (pred == null || pred(fullBatch.getRow(i)))) {
              if (topK != null) topK.offer(fullBatch.getRow(i)) // copies retained rows
              else selection(nSel) = i
              nSel += 1
            }
            i += 1
          }
          if (topK != null) emitted += nSel
          else if (nSel == n0 && outCols == readSchema.length)
            // every row passed and nothing to project away: zero copy
            return emit(outBatch, nSel, p, null)
          else if (nSel > 0) {
            compactVectors.foreach(_.reset())
            var c = 0
            while (c < outCols) {
              compactColumn(outSchema.fields(c).dataType, vectors(c),
                selection, nSel, compactVectors(c))
              c += 1
            }
            return emit(compactBatch, nSel, p, selection)
          }
          // all rows failed (or went to the Top-N buffer): next page
        }
      }
      if (topK != null && !topKDrained) {
        topKDrained = true
        drainTopK()
      } else false
    }

    /** Emit the first `n` rows of `b`; `sel` maps them to page rows for
      * `_pos` (null = identity). */
    private def emit(b: ColumnarBatch, n: Int, p: Int, sel: Array[Int]): Boolean = {
      if (appendPos) {
        var j = 0
        while (j < n) {
          posVec.putLong(j, pageStartOrd(p) + (if (sel == null) j else sel(j)))
          j += 1
        }
      }
      emitted += n
      b.setNumRows(n)
      batch = b
      true
    }

    /** Decode page `p` (`n0` rows) of every read column into `vectors`. */
    private def decodePage(p: Int, n0: Int): Unit = {
      if (vectors == null || vectorCapacity < n0) {
        if (vectors != null) vectors.foreach(_.close())
        if (compactVectors != null) compactVectors.foreach(_.close())
        vectors = OnHeapColumnVector.allocateColumns(n0, readSchema)
        fullBatch = new ColumnarBatch(vectors.map(_.asInstanceOf[ColumnVector]), n0)
        outBatch =
          if (outCols == readSchema.length && !appendPos) fullBatch
          else new ColumnarBatch(withPos(vectors.take(outCols), n0), n0)
        compactVectors =
          if (!filtering) null else OnHeapColumnVector.allocateColumns(n0, outSchema)
        compactBatch =
          if (!filtering) null
          else new ColumnarBatch(withPos(compactVectors, n0), n0)
        selection = if (!filtering) null else new Array[Int](n0)
        vectorCapacity = n0
      } else {
        vectors.foreach(_.reset())
      }
      var c = 0
      while (c < resolved.length) {
        if (resolved(c) < 0) vectors(c).putNulls(0, n0)
        else {
          val pl = plans(c)
          // decode each leaf page, reassemble (flat = the leaf itself)
          val leaves = new Array[(Array[LevelHeader], DecodedPage)](
            pl.globalLeaves.length)
          var li = 0
          while (li < pl.globalLeaves.length) {
            val cm = footer.columns(pl.globalLeaves(li))
            val bytes = input.readFully(leafOffsets(c)(li)(p),
              cm.pages(p).compLen.toInt)
            leaves(li) = LeafDecoder.decode(pl.levelKinds(li), pl.leafDts(li),
              ByteIO.reader(bytes))
            li += 1
          }
          val page = LeafDecoder.assemble(decodeDts(c), leaves)
          val readDt = readSchema.fields(c).dataType
          if (convs(c) == null) fill(vectors(c), readDt, page)
          else fillValues(vectors(c), readDt, page, convs(c))
        }
        c += 1
      }
    }

    /** The Top-N candidates as one batch over the produced columns. */
    private def drainTopK(): Boolean = {
      val rows = topK.drain().toArray
      if (rows.isEmpty) return false
      topKVectors = OnHeapColumnVector.allocateColumns(rows.length, outSchema)
      rows.foreach { r =>
        var c = 0
        while (c < outCols) {
          val dt = outSchema.fields(c).dataType
          append(topKVectors(c), dt, if (r.isNullAt(c)) null else r.get(c, dt))
          c += 1
        }
      }
      batch = new ColumnarBatch(topKVectors.map(_.asInstanceOf[ColumnVector]), rows.length)
      true
    }

    private def nextZeroColumn(): Boolean = {
      zeroColDone = true
      // a zero-column file reads as all-null rows: a predicate evaluates
      // once against one all-null row (comparisons are UNKNOWN → fail;
      // IsNull passes) and applies to every row uniformly
      if (pred != null && !pred(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          readSchema.length))) return false
      val live =
        if (dead == null) footer.numRows
        else math.max(0L, footer.numRows - dead.getLongCardinality)
      val n = math.min(live, part.limit)
      if (n <= 0) return false
      val zeroVecs =
        if (outSchema.isEmpty) Array.empty[OnHeapColumnVector]
        else {
          // zero-column file under a non-empty merged schema: null-fill
          // every required column so downstream column access works
          vectors = OnHeapColumnVector.allocateColumns(n.toInt, outSchema)
          vectors.foreach(_.putNulls(0, n.toInt))
          vectors
        }
      if (appendPos) {
        // live ordinals advance past dead rows
        val cols = withPos(zeroVecs, n.toInt)
        var ord = -1L
        var j = 0
        while (j < n.toInt) {
          ord += 1
          if (dead != null) while (dead.contains(ord.toInt)) ord += 1
          posVec.putLong(j, ord)
          j += 1
        }
        batch = new ColumnarBatch(cols, n.toInt)
      } else
        batch = new ColumnarBatch(
          zeroVecs.map(_.asInstanceOf[ColumnVector]), n.toInt)
      true
    }

    override def get(): ColumnarBatch = batch

    override def currentMetricsValues(): Array[CustomTaskMetric] =
      Array(StrawScanMetrics.Value("pagesRead", pagesRead),
        StrawScanMetrics.Value("pagesPruned", pagesPruned))

    override def close(): Unit = {
      // close every allocated vector exactly once (batches share vectors)
      if (vectors != null) { vectors.foreach(_.close()); vectors = null }
      if (compactVectors != null) { compactVectors.foreach(_.close()); compactVectors = null }
      if (topKVectors != null) { topKVectors.foreach(_.close()); topKVectors = null }
      if (posVec != null) { posVec.close(); posVec = null }
      batch = null
      input.close()
    }
  }
}
