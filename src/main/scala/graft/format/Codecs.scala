package graft.format

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable
import org.roaringbitmap.RoaringBitmap

/** Codec ids for the strawboat-like paged columnar format.
  *
  * Structurally mirrors the reference codec numbering
  * (reference: src/compression/mod.rs:36-108): 0-3 are byte-level
  * "common" codecs, 10+ are data-aware encodings chosen adaptively
  * per page (BtrBlocks-style). The implementations here are
  * original Scala, designed for the JVM codecs shipped with Spark
  * (lz4-java, zstd-jni, snappy-java, RoaringBitmap).
  */
object Codec {
  val Plain = 0
  val Lz4 = 1
  val Zstd = 2
  val Snappy = 3
  val Rle = 10
  val Dict = 11
  val OneValue = 12
  val Freq = 13
  val BitPack = 14 // frame-of-reference + bit packing
  val DeltaBitPack = 15 // sorted columns: first value + bit-packed deltas
  val Patas = 16 // float XOR-chain, byte-aligned (DuckDB "patas" family)
  // any-direction small deltas: first value + bit-packed zigzag(deltas).
  // The shape DeltaBitPack's sorted-only guard misses: PIECEWISE-ascending
  // leaves — array ordinals that reset per row (a positional index's
  // `positions.element`: ascending within each document, dropping back to
  // ~0 at every document boundary), per-group sequence numbers, sawtooth
  // ids. Values span the full domain (wide FOR window) but successive
  // deltas stay tiny, so zigzag+bitpack beats FOR by the ratio of
  // bits(max-min) to bits(2·|maxDelta|).
  val DeltaZigZag = 17
  // decimal-real floats (ALP, Afroozeh & Boncz 2023): x encoded as the
  // integer round(x·10^e·10⁻ᶠ) when that digit decodes back bit-exactly;
  // the digit stream re-enters the integer codec family (FOR/Dict/RLE win
  // on prices, discounts, rates), non-conforming values (NaN, ±Inf, -0.0,
  // true reals) are patched from a positional exception list. The shape
  // Patas misses: decimal-looking doubles have dense mantissas (XOR chains
  // stay wide) but tiny digit ranges.
  val Alp = 18
  // true-real floats (ALP_RD, same paper): when no decimal structure
  // exists (embeddings, measurements), split each value's bits at a
  // sampled cut — the high (sign+exponent+top-mantissa) parts repeat
  // across a page and dictionary-code in ~3 bits, the low mantissa bits
  // are incompressible and stored packed as-is. ~1.2-1.6× on data every
  // other codec (incl. lz4) passes through untouched — the dominant
  // payload byte at embedding-corpus scale.
  val AlpRd = 19

  def name(id: Int): String = id match {
    case 0 => "plain"; case 1 => "lz4"; case 2 => "zstd"; case 3 => "snappy"
    case 10 => "rle"; case 11 => "dict"; case 12 => "one_value"
    case 13 => "freq"; case 14 => "bitpack"; case 15 => "delta_bitpack"
    case 16 => "patas"; case 17 => "delta_zigzag"; case 18 => "alp"
    case 19 => "alp_rd"
    case x => s"unknown($x)"
  }
}

/** Per-writer options (reference: WriteOptions, src/write/common.rs:37-45).
  * @param ratio a data-aware codec is chosen only if its estimated
  *              compression ratio beats this threshold, else `base`.
  * @param forced force one codec for tests (replaces the reference's
  *               STRAWBOAT_*_COMPRESSION env vars with a writer option).
  */
final case class WriteOptions(
    base: Int = Codec.Lz4,
    adaptive: Boolean = true,
    ratio: Double = 2.0,
    // 64k-row pages: scan/agg throughput at sf0.1 improves ~35% over 8k
    // (fewer per-page decode/alloc cycles) and files shrink ~10% (fewer
    // codec headers, better dictionaries); zone-map granularity coarsens
    // accordingly, and the 16 MiB buffered-bytes cap still bounds writer
    // memory for wide/binary rows
    maxPageSize: Int = 65536,
    targetFileBytes: Long = 128L << 20,
    forced: Option[Int] = None,
    zstdLevel: Int = 3,
    // leaf paths (dotted for struct fields) that get a per-page equality
    // filter ([[PageBloom]]); opt-in — the right columns are point-lookup
    // keys whose prefix zone maps cannot prune (URLs, digests, UUIDs)
    bloomColumns: Set[String] = Set.empty,
    bloomFpp: Double = 0.01,
    // Patas float variant: Some(true) forces the ring-reference search,
    // Some(false) the prev-XOR chain, None (default) decides per page by
    // trial-encoding a contiguous prefix with both
    patasRing: Option[Boolean] = None,
    // hash-bucket layout: rows route to one of `buckets` files per task by
    // murmur3 of the `bucketBy` column — equal keys co-locate across tables
    // for storage-partitioned (shuffle-free) joins; see spark.StrawBucket
    bucketBy: Option[String] = None,
    buckets: Int = 0)

/** Growable little-endian byte buffer (write side). */
final class ByteBuf(initial: Int = 1 << 14) {
  var buf: Array[Byte] = new Array[Byte](initial)
  var len: Int = 0
  def ensure(n: Int): Unit = {
    val need = len.toLong + n
    if (need > buf.length) {
      // overflow-safe growth: doubling clamped to the max JVM array size
      val maxCap = Integer.MAX_VALUE - 8L
      if (need > maxCap)
        throw new IllegalStateException(s"strawboat page buffer over 2 GiB ($need bytes)")
      val cap = math.min(maxCap, math.max(need, buf.length.toLong * 2)).toInt
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }
  def putByte(v: Int): Unit = { ensure(1); buf(len) = v.toByte; len += 1 }
  def putInt(v: Int): Unit = {
    ensure(4)
    buf(len) = v.toByte; buf(len + 1) = (v >>> 8).toByte
    buf(len + 2) = (v >>> 16).toByte; buf(len + 3) = (v >>> 24).toByte
    len += 4
  }
  def putLong(v: Long): Unit = {
    ensure(8)
    var i = 0
    while (i < 8) { buf(len + i) = (v >>> (8 * i)).toByte; i += 1 }
    len += 8
  }
  def putBytes(src: Array[Byte], off: Int, n: Int): Unit = {
    ensure(n); System.arraycopy(src, off, buf, len, n); len += n
  }
  def putBytes(src: Array[Byte]): Unit = putBytes(src, 0, src.length)
  /** Patch a previously written little-endian int. */
  def patchInt(at: Int, v: Int): Unit = {
    buf(at) = v.toByte; buf(at + 1) = (v >>> 8).toByte
    buf(at + 2) = (v >>> 16).toByte; buf(at + 3) = (v >>> 24).toByte
  }
  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  def clear(): Unit = len = 0
}

object ByteIO {
  def reader(bytes: Array[Byte], off: Int, n: Int): ByteBuffer =
    ByteBuffer.wrap(bytes, off, n).order(ByteOrder.LITTLE_ENDIAN)
  def reader(bytes: Array[Byte]): ByteBuffer = reader(bytes, 0, bytes.length)
}

/** Byte-level ("common") compression wrappers. Block layout mirrors the
  * reference's 9-byte header `codec u8 | compressed u32 | uncompressed u32`
  * (reference: src/compression/integer/mod.rs:49-63).
  */
object CommonCompression {
  private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  def compress(codec: Int, src: Array[Byte], off: Int, n: Int, zstdLevel: Int): Array[Byte] =
    codec match {
      case Codec.Plain => java.util.Arrays.copyOfRange(src, off, off + n)
      case Codec.Lz4 =>
        val c = lz4.fastCompressor()
        val out = new Array[Byte](c.maxCompressedLength(n))
        val clen = c.compress(src, off, n, out, 0, out.length)
        java.util.Arrays.copyOf(out, clen)
      case Codec.Zstd =>
        com.github.luben.zstd.Zstd.compress(
          java.util.Arrays.copyOfRange(src, off, off + n), zstdLevel)
      case Codec.Snappy =>
        val out = new Array[Byte](org.xerial.snappy.Snappy.maxCompressedLength(n))
        val clen = org.xerial.snappy.Snappy.compress(src, off, n, out, 0)
        java.util.Arrays.copyOf(out, clen)
      case other => throw new IllegalArgumentException(s"not a common codec: $other")
    }

  def decompress(codec: Int, src: Array[Byte], off: Int, clen: Int, rawLen: Int): Array[Byte] =
    codec match {
      case Codec.Plain => java.util.Arrays.copyOfRange(src, off, off + clen)
      case Codec.Lz4 =>
        val out = new Array[Byte](rawLen)
        lz4.fastDecompressor().decompress(src, off, out, 0, rawLen)
        out
      case Codec.Zstd =>
        val out = new Array[Byte](rawLen)
        com.github.luben.zstd.Zstd.decompressByteArray(out, 0, rawLen, src, off, clen)
        out
      case Codec.Snappy =>
        val out = new Array[Byte](rawLen)
        org.xerial.snappy.Snappy.uncompress(src, off, clen, out, 0)
        out
      case other => throw new IllegalArgumentException(s"not a common codec: $other")
    }

  /** Write one block: pick `base` unless it doesn't help or input is tiny. */
  def writeBytesBlock(src: Array[Byte], off: Int, n: Int, opts: WriteOptions, out: ByteBuf): Unit = {
    if (n < 128) {
      out.putByte(Codec.Plain); out.putInt(n); out.putInt(n)
      out.putBytes(src, off, n)
    } else {
      val comp = compress(opts.base, src, off, n, opts.zstdLevel)
      if (comp.length >= n) {
        out.putByte(Codec.Plain); out.putInt(n); out.putInt(n)
        out.putBytes(src, off, n)
      } else {
        out.putByte(opts.base); out.putInt(comp.length); out.putInt(n)
        out.putBytes(comp)
      }
    }
  }

  /** Read one block written by [[writeBytesBlock]]. */
  def readBytesBlock(in: ByteBuffer): Array[Byte] = {
    val codec = in.get() & 0xff
    val clen = in.getInt()
    val rawLen = in.getInt()
    val arr = in.array()
    val pos = in.arrayOffset() + in.position()
    val out = decompress(codec, arr, pos, clen, rawLen)
    in.position(in.position() + clen)
    out
  }
}

/** Bit packing of n values at a fixed bit width (1..64). Widths ≤ 57 use
  * word-level windows (one unaligned 64-bit load/store per value, JIT
  * intrinsic via ByteBuffer); wider values fall back to the per-bit path.
  * Same layout either way: LSB-first, values contiguous. */
object BitPacking {
  def packedSize(n: Int, bits: Int): Int = ((n.toLong * bits + 7) / 8).toInt

  def pack(values: Array[Long], n: Int, bits: Int, out: ByteBuf): Unit = {
    val nBytes = packedSize(n, bits)
    out.ensure(nBytes + 8) // slack so word-level RMW never exceeds capacity
    val buf = out.buf
    val base = out.len
    java.util.Arrays.fill(buf, base, math.min(buf.length, base + nBytes + 8), 0.toByte)
    if (bits <= 57) {
      val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
      var bitPos = 0L
      var i = 0
      while (i < n) {
        val byteIdx = base + (bitPos >>> 3).toInt
        val shift = (bitPos & 7).toInt
        bb.putLong(byteIdx, bb.getLong(byteIdx) | (values(i) << shift))
        bitPos += bits
        i += 1
      }
    } else {
      var bitPos = 0L
      var i = 0
      while (i < n) {
        val v = values(i)
        var b = 0
        while (b < bits) {
          if (((v >>> b) & 1L) != 0L) {
            val p = bitPos + b
            buf(base + (p >>> 3).toInt) = (buf(base + (p >>> 3).toInt) | (1 << (p & 7))).toByte
          }
          b += 1
        }
        bitPos += bits
        i += 1
      }
    }
    out.len += nBytes
  }

  def unpack(src: Array[Byte], off: Int, n: Int, bits: Int, dst: Array[Long], dstOff: Int): Unit = {
    if (bits <= 57) {
      val bb = ByteBuffer.wrap(src).order(ByteOrder.LITTLE_ENDIAN)
      val mask = (1L << bits) - 1
      val limit = src.length - 8
      var bitPos = 0L
      var i = 0
      while (i < n) {
        val byteIdx = off + (bitPos >>> 3).toInt
        val shift = (bitPos & 7).toInt
        if (byteIdx <= limit) {
          dst(dstOff + i) = (bb.getLong(byteIdx) >>> shift) & mask
        } else { // tail: assemble the last window byte-safely
          var w = 0L
          var j = 0
          while (j < 8 && byteIdx + j < src.length) {
            w |= (src(byteIdx + j) & 0xffL) << (8 * j); j += 1
          }
          dst(dstOff + i) = (w >>> shift) & mask
        }
        bitPos += bits
        i += 1
      }
    } else {
      var bitPos = 0L
      var i = 0
      while (i < n) {
        var v = 0L
        var b = 0
        while (b < bits) {
          val p = bitPos + b
          if ((src(off + (p >>> 3).toInt) & (1 << (p & 7))) != 0) v |= (1L << b)
          b += 1
        }
        dst(dstOff + i) = v
        bitPos += bits
        i += 1
      }
    }
  }

  def bitsNeeded(maxValue: Long): Int =
    if (maxValue <= 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(maxValue)
}

/** Incremental chooser statistics over one page's raw buffered values
  * (including null-filled slots), maintained by the column writer's append
  * path — so the steady-state encode needs NO second scan of the page.
  * Must see exactly the values the page buffer holds, in order.
  * [[IntStats]] runs the same update when no scan is handed in. */
final class PageScan {
  var min: Long = Long.MaxValue
  var max: Long = Long.MinValue
  var runCount: Int = 0
  var sorted: Boolean = true
  var maxDelta: Long = 0L
  // zigzag-delta viability: max zigzag(v - prev) over ALL deltas, any sign.
  // Disqualified (zzOk=false) when a delta overflows the subtraction or its
  // zigzag image exceeds 2^63-1 — bitsNeeded treats magnitudes as
  // non-negative, and such pages never benefit from delta coding anyway.
  var zzOk: Boolean = true
  var maxZzDelta: Long = 0L
  private var prev: Long = 0L
  def update(v: Long): Unit = {
    if (v < min) min = v
    if (v > max) max = v
    if (runCount == 0) runCount = 1
    else {
      if (v != prev) runCount += 1
      if (v < prev) sorted = false
      else if (sorted) {
        val d = v - prev
        if (d < 0) sorted = false // delta overflows Long: not delta-packable
        else if (d > maxDelta) maxDelta = d
      }
      if (zzOk) {
        val d = v - prev
        if (((v ^ prev) & (v ^ d)) < 0) zzOk = false // subtraction overflow
        else {
          val zz = (d << 1) ^ (d >> 63)
          if (zz < 0) zzOk = false // |delta| >= 2^62: zigzag leaves the domain
          else if (zz > maxZzDelta) maxZzDelta = zz
        }
      }
    }
    prev = v
  }
  def reset(): Unit = {
    min = Long.MaxValue; max = Long.MinValue
    runCount = 0; sorted = true; maxDelta = 0L
    zzOk = true; maxZzDelta = 0L; prev = 0L
  }
}

/** Per-page statistics driving the adaptive chooser
  * (reference: gen_stats, src/compression/integer/mod.rs:164-229).
  * Distinct counting is capped: beyond [[IntStats.DistinctCap]] the page is
  * treated as high-cardinality and dict/freq/one-value are skipped.
  */
final class IntStats(values: Array[Long], n: Int, countDistinct: Boolean = true,
    width: Int = 8, ratio: Double = 2.0, forcedDictFamily: Boolean = false,
    precomputed: PageScan = null) {
  import IntStats.DistinctCap
  // countDistinct=false skips the distinct map entirely (the caller has
  // ruled out the dict-family codecs, e.g. a column writer whose previous
  // pages all came back high-cardinality) — only the sequential
  // min/max/sorted/run pass runs
  var highCardinality: Boolean = !countDistinct

  // membership structure. When the page's value RANGE is small (known
  // up-front from the append path's PageScan), a bitmap replaces the hash
  // map: one test-and-set per value instead of an open-addressing probe
  // chain — the probe loop was the hottest write-path frame on every
  // dict-viable column. Distinct values fall out of the bitmap already
  // sorted, and dict ranks come from prefix popcounts (O(1) per value).
  private var bmBase = 0L
  private var bitmap: Array[Long] =
    if (countDistinct && precomputed != null && n > 0 &&
      precomputed.min <= precomputed.max && {
        val r = precomputed.max - precomputed.min
        r >= 0 && r < (1 << 16)
      }) {
      bmBase = precomputed.min
      new Array[Long](((precomputed.max - bmBase).toInt >> 6) + 1)
    } else null
  // growable open-addressing membership map (keys only — Freq's top value
  // comes from the Boyer–Moore vote below, so per-key counts are never
  // needed): the boxed-HashMap version dominated the whole write path
  private var cap = if (countDistinct && bitmap == null) 4096 else 0
  private var keys = if (cap > 0) new Array[Long](cap) else null
  private var present = if (cap > 0) new Array[Boolean](cap) else null
  private var nDistinct = 0
  // Boyer–Moore majority vote: Freq needs a >=90% top value, which is in
  // particular a majority — the surviving candidate is the only possible
  // one, verified with an exact single-compare pass after the main loop
  private var cand = 0L
  private var candCnt = 0
  var topValue: Long = 0L
  var topCount: Int = 0

  private def slotOf(v: Long, capacity: Int, ks: Array[Long], pr: Array[Boolean]): Int = {
    var slot = (v ^ (v >>> 29)).toInt & (capacity - 1)
    while (pr(slot) && ks(slot) != v) slot = (slot + 1) & (capacity - 1)
    slot
  }

  private def grow(): Unit = {
    val newCap = cap << 2
    val nk = new Array[Long](newCap)
    val np = new Array[Boolean](newCap)
    var i = 0
    while (i < cap) {
      if (present(i)) {
        val s = slotOf(keys(i), newCap, nk, np)
        np(s) = true; nk(s) = keys(i)
      }
      i += 1
    }
    cap = newCap; keys = nk; present = np
  }

  // The page pass is a method the constructor calls, never inline code in
  // the class body: scalac enters a loop in a class-body block, `locally {}`
  // or `val`/`lazy val` initializer with values on the operand stack, and
  // HotSpot cannot OSR-compile such a loop ("OSR starts with non-empty
  // stack"), so every page of a cold write ran interpreted. JitShapeSpec
  // fails on any such loop in graft.
  private val seq: PageScan = scanPage()
  val min: Long = seq.min
  val max: Long = seq.max
  val runCount: Int = seq.runCount
  val sorted: Boolean = seq.sorted
  val maxDelta: Long = seq.maxDelta
  val zzOk: Boolean = seq.zzOk
  val maxZz: Long = seq.maxZzDelta

  /** One pass over the page: the sequential statistics (unless the
    * writer's append path already kept them in `precomputed`) fused with
    * the distinct count and majority vote, then the Freq verify pass. */
  private def scanPage(): PageScan = {
    // bail threshold: the map exists only to qualify Dict, and the chooser
    // only ever picks Dict when its estimated size beats the ratio gate —
    // so count no further than the largest distinct count that could still
    // win ([[IntStats.maxUsefulDistinct]]; ~4k at width 4, ~16k at width 8
    // for 64k-row pages — far below the generic n/2 dict bound, and the
    // counting beyond it was the dominant write-path cost on mid-cardinality
    // columns). A forced dict-family codec (test mode) bypasses the chooser,
    // so it keeps the generic bound.
    val capLimit =
      if (forcedDictFamily) math.min(DistinctCap, n >>> 1)
      else math.min(math.min(DistinctCap, n >>> 1),
        IntStats.maxUsefulDistinct(n, width, ratio))
    // the writer's append path already scanned the page — reuse
    val reuse = precomputed != null && n > 0
    val scan = if (reuse) precomputed else new PageScan
    if (!reuse || countDistinct) {
      var i = 0
      while (i < n) {
        val v = values(i)
        if (!reuse) scan.update(v)
        if (countDistinct) {
          if (candCnt == 0) { cand = v; candCnt = 1 }
          else if (v == cand) candCnt += 1
          else candCnt -= 1
          if (!highCardinality) {
            if (bitmap != null) {
              val off = (v - bmBase).toInt
              val w = off >> 6
              val m = 1L << (off & 63)
              if ((bitmap(w) & m) == 0L) {
                if (nDistinct < capLimit) { bitmap(w) |= m; nDistinct += 1 }
                else { highCardinality = true; bitmap = null }
              }
            } else {
              val slot = slotOf(v, cap, keys, present)
              if (!present(slot)) {
                if (nDistinct < capLimit) {
                  present(slot) = true; keys(slot) = v; nDistinct += 1
                  if (nDistinct * 4 > cap * 3) grow()
                } else {
                  highCardinality = true
                  keys = null; present = null; cap = 0
                }
              }
            }
          }
        }
        i += 1
      }
    }
    // exact count of the surviving candidate. The vote's final counter c
    // bounds the true count f: 2f − n <= c <= f, so f >= 0.9n implies
    // c >= 0.8n — verify (one compare per value) only when that holds, which
    // skips the pass entirely on every non-Freq-shaped page
    if (countDistinct && n >= 64 && candCnt.toLong * 5 >= n.toLong * 4) {
      var c = 0
      var i = 0
      while (i < n) { if (values(i) == cand) c += 1; i += 1 }
      topValue = cand; topCount = c
    }
    scan
  }

  def distinct: Int = nDistinct
  def distinctValues: Array[Long] = {
    val out = new Array[Long](nDistinct)
    if (bitmap != null) {
      // ascending bit scan — already sorted, no sort pass
      var j = 0
      var w = 0
      while (w < bitmap.length) {
        var bits = bitmap(w)
        while (bits != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(bits)
          out(j) = bmBase + (w.toLong << 6) + b
          j += 1
          bits &= bits - 1
        }
        w += 1
      }
      return out
    }
    var i = 0
    var j = 0
    while (i < cap) {
      if (present(i)) { out(j) = keys(i); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }

  // value→sorted-dict-index lookup reusing the membership structure
  // (replaces a per-value binary search in the dict encoder): bitmap mode
  // ranks by prefix popcount, hash mode by one O(1) probe
  private var dictIdx: Array[Int] = null
  private var bmPrefix: Array[Int] = null
  def buildDictIndex(sortedVals: Array[Long]): Unit = {
    if (bitmap != null) {
      bmPrefix = new Array[Int](bitmap.length)
      var acc = 0
      var w = 0
      while (w < bitmap.length) {
        bmPrefix(w) = acc
        acc += java.lang.Long.bitCount(bitmap(w))
        w += 1
      }
      return
    }
    dictIdx = new Array[Int](cap)
    var i = 0
    while (i < sortedVals.length) {
      dictIdx(slotOf(sortedVals(i), cap, keys, present)) = i
      i += 1
    }
  }
  def dictIndexOf(v: Long): Int =
    if (bitmap != null) {
      val off = (v - bmBase).toInt
      val w = off >> 6
      bmPrefix(w) + java.lang.Long.bitCount(bitmap(w) & ((1L << (off & 63)) - 1))
    } else dictIdx(slotOf(v, cap, keys, present))
}
object IntStats {
  val DistinctCap = 65536

  /** Largest distinct count for which a Dict page could still beat the
    * chooser's ratio gate: size(d) = 4 + d*width + 18 + packed(n, bits(d-1))
    * must be <= n*width/ratio. Monotone in d → binary search. */
  def maxUsefulDistinct(n: Int, width: Int, ratio: Double): Int = {
    val budget = (n.toLong * width / ratio).toLong
    def fits(d: Int): Boolean = {
      val idxBits = BitPacking.bitsNeeded(d - 1L)
      4L + d.toLong * width + 18L + BitPacking.packedSize(n, idxBits) <= budget
    }
    if (!fits(2)) return 0
    var lo = 2
    var hi = math.min(DistinctCap, math.max(2, n >>> 1))
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (fits(mid)) lo = mid else hi = mid - 1
    }
    lo
  }
}

/** Cross-page dict-probe memory for one leaf's page stream. The distinct
  * map inside [[IntStats]] exists only to qualify Dict/Freq; once a
  * column's pages have repeatedly come back without a dict-family codec,
  * re-counting 64k values per page is provably wasted work (the dominant
  * write-path cost on high-cardinality columns). Probe the first pages,
  * then skip the map, re-probing every 16th page so a shift to
  * low-cardinality regions (clustered or sorted data) is still caught
  * within one page group. Mirrors parquet's once-per-column dictionary
  * fallback, but adaptive instead of once-and-done. */
final class DictProbe {
  private var pageIdx = 0
  private var missStreak = 0
  def shouldProbe: Boolean = missStreak < 2 || (pageIdx & 15) == 0
  def record(codec: Int): Unit = {
    if (codec == Codec.Dict || codec == Codec.Freq) missStreak = 0
    else missStreak += 1
    pageIdx += 1
  }
}

/** Integer-family page codec: encode/decode n values widened to Long at a
  * natural byte width (1,2,4,8). Floats/doubles reuse this on their raw
  * bits (bit-equality semantics match the reference's OrderedFloat use),
  * with [[Codec.Patas]] as the float-specific candidate.
  */
object IntCodec {
  /** Bitmask helpers for forbidding recursive codecs
    * (reference: forbidden_compressions, src/compression/integer/dict.rs:60-62). */
  final val ForbidDict = 1 << 0
  final val ForbidFreq = 1 << 1

  // bulk little-endian transcoding via ByteBuffer views (JIT-intrinsified)
  // instead of per-byte shift/or assembly — this is the plain-page hot path
  private def rawBytes(values: Array[Long], n: Int, width: Int): Array[Byte] = {
    val out = new Array[Byte](n * width)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    width match {
      case 1 => while (i < n) { out(i) = values(i).toByte; i += 1 }
      case 2 =>
        val sb = bb.asShortBuffer()
        while (i < n) { sb.put(i, values(i).toShort); i += 1 }
      case 4 =>
        val ib = bb.asIntBuffer()
        while (i < n) { ib.put(i, values(i).toInt); i += 1 }
      case 8 =>
        bb.asLongBuffer().put(values, 0, n)
    }
    out
  }

  private def fromRawBytes(bytes: Array[Byte], n: Int, width: Int): Array[Long] = {
    val out = new Array[Long](n)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    width match {
      case 1 => while (i < n) { out(i) = bytes(i).toLong; i += 1 }
      case 2 =>
        val sb = bb.asShortBuffer()
        while (i < n) { out(i) = sb.get(i).toLong; i += 1 }
      case 4 =>
        val ib = bb.asIntBuffer()
        while (i < n) { out(i) = ib.get(i).toLong; i += 1 }
      case 8 =>
        bb.asLongBuffer().get(out, 0, n)
    }
    out
  }

  // ---- encoders (payload only; header written by encode()) ----

  private def encodeRle(values: Array[Long], n: Int, width: Int, out: ByteBuf): Unit = {
    var i = 0
    while (i < n) {
      val v = values(i)
      var j = i + 1
      while (j < n && values(j) == v) j += 1
      out.putInt(j - i)
      putWidth(out, v, width)
      i = j
    }
  }

  private def putWidth(out: ByteBuf, v: Long, width: Int): Unit = width match {
    case 1 => out.putByte(v.toInt)
    case 2 => out.putByte(v.toInt); out.putByte((v >>> 8).toInt)
    case 4 => out.putInt(v.toInt)
    case 8 => out.putLong(v)
  }

  private def getWidth(in: ByteBuffer, width: Int): Long = width match {
    case 1 => in.get().toLong
    case 2 => in.getShort().toLong
    case 4 => in.getInt().toLong
    case 8 => in.getLong()
  }

  private def encodeBitPack(values: Array[Long], n: Int, min: Long, max: Long, out: ByteBuf): Unit = {
    val bits = BitPacking.bitsNeeded(max - min)
    out.putLong(min)
    out.putByte(bits)
    val shifted = new Array[Long](n)
    var i = 0
    while (i < n) { shifted(i) = values(i) - min; i += 1 }
    BitPacking.pack(shifted, n, bits, out)
  }

  private def encodeDeltaBp(values: Array[Long], n: Int, maxDelta: Long, out: ByteBuf): Unit = {
    out.putLong(if (n > 0) values(0) else 0L)
    val bits = BitPacking.bitsNeeded(maxDelta)
    out.putByte(bits)
    if (n > 1) {
      val deltas = new Array[Long](n - 1)
      var i = 1
      while (i < n) { deltas(i - 1) = values(i) - values(i - 1); i += 1 }
      BitPacking.pack(deltas, n - 1, bits, out)
    }
  }

  /** Same layout as [[encodeDeltaBp]] but the packed words are
    * zigzag(delta) — deltas of either sign stay small non-negative codes
    * (0→0, -1→1, 1→2, …), so piecewise-ascending sequences pack at the
    * width of their LOCAL step, not their global range. */
  private def encodeDeltaZz(values: Array[Long], n: Int, maxZz: Long, out: ByteBuf): Unit = {
    out.putLong(if (n > 0) values(0) else 0L)
    val bits = BitPacking.bitsNeeded(maxZz)
    out.putByte(bits)
    if (n > 1) {
      val zz = new Array[Long](n - 1)
      var i = 1
      while (i < n) {
        val d = values(i) - values(i - 1)
        zz(i - 1) = (d << 1) ^ (d >> 63)
        i += 1
      }
      BitPacking.pack(zz, n - 1, bits, out)
    }
  }

  /** Byte-aligned XOR-chain float codec (patas/chimp family, original
    * byte-granularity variant). Control byte 0 = same as previous;
    * else bits 3-6 = significant byte count (1..8), bits 0-2 = trailing
    * zero byte count. */
  /** Patas dispatcher: the page payload self-describes its variant (first
    * byte 0xFF = ring, anything else = prev-chain — a prev-chain control
    * byte is structurally <= 71). The variant is decided ONCE per page in
    * [[encode]] (see [[patasRingAuto]]) so neither the chooser's size
    * trial nor the final encode re-trials. */
  private def encodePatas(values: Array[Long], n: Int, out: ByteBuf,
      opts: WriteOptions): Unit =
    if (opts.patasRing.contains(true)) encodePatasRing(values, n, out)
    else encodePatasPrev(values, n, out)

  /** Auto variant decision: trial-encode both on a short CONTIGUOUS prefix
    * (contiguous, not strided — the ring variant's whole advantage is
    * LOCAL periodic structure a stride would destroy). Cost ≈ the single
    * trial the chooser paid before the variant existed. */
  private def patasRingAuto(values: Array[Long], n: Int): Boolean =
    n >= 64 && {
      val m = math.min(n, 512)
      val a = new ByteBuf(m * 10)
      encodePatasPrev(values, m, a)
      val b = new ByteBuf(m * 10)
      encodePatasRing(values, m, b)
      b.len < a.len
    }

  /** Ring-reference variant (the reference's 128-slot search,
    * src/compression/double/patas.rs:34-202, re-derived byte-aligned): a
    * 128-value ring of recent values plus a 1024-slot hash keyed on the
    * value's high 48 bits picks the reference — an OSCILLATING series
    * (alternating sensor phases, interleaved channels) XORs against its
    * own phase instead of the immediately-previous opposite phase. Each
    * value stores [refOff: 1 byte][ctrl][sig bytes]; refOff 0 = zero
    * reference, else the value `refOff` positions back. */
  private def encodePatasRing(values: Array[Long], n: Int, out: ByteBuf): Unit = {
    if (n == 0) return
    out.putByte(0xFF)
    val ring = new Array[Long](128)
    val table = new Array[Int](1024) // 0 = empty, else absolute pos + 1
    var i = 0
    while (i < n) {
      val v = values(i)
      // key on sign+exponent+top mantissa bits: same-phase values of an
      // oscillating series share it even under drift; the candidate still
      // COMPETES with the previous value (whichever XORs smaller wins), so
      // a stale or colliding slot can never do worse than the prev chain
      val k = v >>> 32
      val slot = (((k * -7046029254386353131L) >>> 54) & 1023).toInt
      val p = table(slot) - 1
      var refOff = 0
      var ref = 0L
      if (i > 0) {
        ref = ring((i - 1) & 127)
        refOff = 1
        if (p >= 0 && p < i && p >= i - 127) {
          val cand = ring(p & 127)
          if (java.lang.Long.numberOfLeadingZeros(v ^ cand) >
              java.lang.Long.numberOfLeadingZeros(v ^ ref)) {
            ref = cand
            refOff = i - p
          }
        }
      }
      val x = v ^ ref
      out.putByte(refOff)
      if (x == 0L) out.putByte(0)
      else {
        val tz = java.lang.Long.numberOfTrailingZeros(x) >>> 3
        val lz = java.lang.Long.numberOfLeadingZeros(x) >>> 3
        val sig = 8 - tz - lz
        out.putByte((sig << 3) | tz)
        var sx = x >>> (tz * 8)
        var j = 0
        while (j < sig) { out.putByte((sx & 0xff).toInt); sx >>>= 8; j += 1 }
      }
      ring(i & 127) = v
      table(slot) = i + 1
      i += 1
    }
  }

  private def decodePatasRing(in: ByteBuffer, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val refOff = in.get() & 0xff
      val ref = if (refOff == 0) 0L else out(i - refOff)
      val ctrl = in.get() & 0xff
      if (ctrl == 0) out(i) = ref
      else {
        val sig = (ctrl >>> 3) & 0xf
        val tz = ctrl & 7
        var x = 0L
        var j = 0
        while (j < sig) { x |= (in.get() & 0xffL) << (8 * j); j += 1 }
        out(i) = ref ^ (x << (tz * 8))
      }
      i += 1
    }
    out
  }

  private def encodePatasPrev(values: Array[Long], n: Int, out: ByteBuf): Unit = {
    var prev = 0L
    var i = 0
    while (i < n) {
      val v = values(i)
      val x = v ^ prev
      if (x == 0L) out.putByte(0)
      else {
        val tz = java.lang.Long.numberOfTrailingZeros(x) >>> 3 // trailing zero bytes
        val lz = java.lang.Long.numberOfLeadingZeros(x) >>> 3
        val sig = 8 - tz - lz
        out.putByte((sig << 3) | tz)
        var s = x >>> (tz * 8)
        var j = 0
        while (j < sig) { out.putByte((s & 0xff).toInt); s >>>= 8; j += 1 }
      }
      prev = v
      i += 1
    }
  }

  private def decodePatas(in: ByteBuffer, n: Int): Array[Long] = {
    if (n == 0) return new Array[Long](0)
    if ((in.get(in.position()) & 0xff) == 0xFF) {
      in.get() // consume the ring-variant tag
      return decodePatasRing(in, n)
    }
    decodePatasPrev(in, n)
  }

  private def decodePatasPrev(in: ByteBuffer, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var prev = 0L
    var i = 0
    while (i < n) {
      val ctrl = in.get() & 0xff
      if (ctrl == 0) out(i) = prev
      else {
        val sig = (ctrl >>> 3) & 0xf
        val tz = ctrl & 7
        var x = 0L
        var j = 0
        while (j < sig) { x |= (in.get() & 0xffL) << (8 * j); j += 1 }
        out(i) = prev ^ (x << (tz * 8))
      }
      prev = out(i)
      i += 1
    }
    out
  }

  // ---- ALP (decimal-real floats; Afroozeh & Boncz, "ALP: Adaptive
  // Lossless floating-Point compression", 2023 — re-derived, original
  // implementation) -------------------------------------------------------

  // 10^i lookup table. Decode divides by 10^e instead of multiplying by
  // 10^-e: IEEE division is correctly rounded, so digit/100.0 lands back
  // on the original decimal's nearest double, where digit·0.01 misses by
  // an ulp ~13% of the time (measured on cents data) — and every miss
  // would be an exception. Decode MUST evaluate the exact chain the
  // encoder's verification did: (digit · 10^f) / 10^e.
  private val F10: Array[Double] = (0 to 18).map(i => math.pow(10.0, i)).toArray
  // |x·10^e·10⁻ᶠ| must stay in the range where a double still represents
  // every integer exactly, else round() is meaningless
  private val AlpMaxDigit = 1L << 51

  /** The digit for (value, e, f), or Long.MinValue when the value doesn't
    * survive the round trip bit-exactly (exception). `width` 4 = float
    * bits in the low 32, 8 = double bits — matching the column writers. */
  private def alpDigit(bits: Long, e: Int, f: Int, width: Int): Long = {
    if (width == 4) {
      val v = java.lang.Float.intBitsToFloat(bits.toInt)
      val tmp = v.toDouble * F10(e) / F10(f)
      if (tmp != tmp || tmp >= AlpMaxDigit || tmp <= -AlpMaxDigit) return Long.MinValue
      val d = Math.round(tmp)
      val back = (d.toDouble * F10(f) / F10(e)).toFloat
      if ((java.lang.Float.floatToIntBits(back).toLong & 0xffffffffL) == bits) d
      else Long.MinValue
    } else {
      val v = java.lang.Double.longBitsToDouble(bits)
      val tmp = v * F10(e) / F10(f)
      if (tmp != tmp || tmp >= AlpMaxDigit || tmp <= -AlpMaxDigit) return Long.MinValue
      val d = Math.round(tmp)
      val back = d.toDouble * F10(f) / F10(e)
      if (java.lang.Double.doubleToLongBits(back) == bits) d
      else Long.MinValue
    }
  }

  /** Sample indices: four CONTIGUOUS runs of eight spread across the page
    * (the paper's vector sampling). A strided sample correlates with
    * arithmetic value patterns — e.g. an even stride over `i/4` data only
    * ever sees halves and under-selects e — where consecutive runs always
    * mix residues. */
  private def alpSampleIdx(n: Int, maxSample: Int = 32, runs: Int = 4): Array[Int] = {
    val sampleN = math.min(n, maxSample)
    val idx = new Array[Int](sampleN)
    if (sampleN == n) {
      var i = 0; while (i < n) { idx(i) = i; i += 1 }
    } else {
      val runLen = sampleN / runs
      var r = 0; var k = 0
      while (r < runs) {
        val base = (n - runLen).toLong * r / (runs - 1)
        var j = 0
        while (j < runLen) { idx(k) = base.toInt + j; k += 1; j += 1 }
        r += 1
      }
    }
    idx
  }

  /** Pick (e, f) minimizing estimated bits on the mini-run sample: FOR
    * width of the conforming digits + flat exception cost. Returns
    * (e, f), or (-1, -1) when nothing conforms. */
  private def alpSelect(values: Array[Long], n: Int, width: Int): (Int, Int) = {
    val idx = alpSampleIdx(n)
    var bestE = -1; var bestF = -1
    var bestCost = Long.MaxValue
    var e = 0
    while (e <= 18) {
      var f = 0
      while (f <= e) {
        var exc = 0; var minD = Long.MaxValue; var maxD = Long.MinValue
        var k = 0
        while (k < idx.length) {
          val d = alpDigit(values(idx(k)), e, f, width)
          if (d == Long.MinValue) exc += 1
          else { if (d < minD) minD = d; if (d > maxD) maxD = d }
          k += 1
        }
        val conf = idx.length - exc
        if (conf > 0 && maxD - minD >= 0) {
          val bits = BitPacking.bitsNeeded(maxD - minD)
          val cost = conf.toLong * bits + exc.toLong * (width + 4) * 8
          // strictly-less keeps the smallest (e, f) on ties: fewer digits,
          // same size
          if (cost < bestCost) { bestCost = cost; bestE = e; bestF = f }
        }
        f += 1
      }
      e += 1
    }
    (bestE, bestF)
  }

  /** Payload: [e:1][f:1][excCount:4][positions:4·exc][rawBits:width·exc]
    * [digits as a nested integer block]. Exception slots in the digit
    * stream carry the previous conforming digit so they cost ~nothing. */
  private def encodeAlp(values: Array[Long], n: Int, width: Int,
      opts: WriteOptions, out: ByteBuf): Boolean = {
    var (e, f) = alpSelect(values, n, width)
    if (e < 0) return false
    val digits = new Array[Long](n)
    var excCount = 0
    var retry = true
    while (retry) {
      excCount = 0
      var i = 0
      while (i < n) {
        val d = alpDigit(values(i), e, f, width)
        if (d == Long.MinValue) excCount += 1
        digits(i) = d
        i += 1
      }
      // a sample can still under-select precision on mixed-granularity
      // pages: escalate e (one more decimal digit, exceptions only ever
      // shrink) until the page conforms or the exponent range runs out
      retry = excCount.toLong * 2 > n && e < 18
      if (retry) e += 1
    }
    if (excCount.toLong * 2 > n) return false // not a decimal column
    out.putByte(e); out.putByte(f)
    out.putInt(excCount)
    // find the first conforming digit as the filler for leading exceptions
    var lastGood = 0L
    var i = 0
    while (i < n && digits(i) == Long.MinValue) i += 1
    if (i < n) lastGood = digits(i)
    // positions (ascending), patching exception slots to the previous
    // conforming digit so they cost ~nothing in the nested block
    val excBits = new Array[Long](excCount)
    var k = 0
    i = 0
    while (i < n) {
      if (digits(i) == Long.MinValue) {
        out.putInt(i)
        excBits(k) = values(i); k += 1
        digits(i) = lastGood
      } else lastGood = digits(i)
      i += 1
    }
    // raw bits for each exception, in the same position order
    k = 0
    while (k < excCount) { putWidth(out, excBits(k), width); k += 1 }
    // the digit stream re-enters the integer family un-forced (FOR/Dict/
    // RLE/delta all legal; float-only codecs can't re-fire: floatBits=false)
    encode(digits, n, 8, opts.copy(forced = None, patasRing = None), 0, out)
    true
  }

  private def decodeAlp(in: ByteBuffer, n: Int, width: Int): Array[Long] = {
    val e = in.get() & 0xff
    val f = in.get() & 0xff
    val excCount = in.getInt()
    val positions = new Array[Int](excCount)
    var i = 0
    while (i < excCount) { positions(i) = in.getInt(); i += 1 }
    val rawBits = new Array[Long](excCount)
    i = 0
    while (i < excCount) { rawBits(i) = getWidth(in, width); i += 1 }
    val digits = decode(in, n, 8)
    // decode IN PLACE into the digit array (it is fresh from decode() —
    // saves an n-length allocation per page) and bit-cast with the RAW
    // variants: every loop input is a conforming digit or the encoder's
    // conforming filler, whose decode chain is finite by construction
    // (NaN/Inf inputs never conform), so the canonicalizing NaN branch in
    // floatToIntBits/doubleToLongBits — which also blocks SuperWord from
    // vectorizing the loop — can never fire. Measured 8-10% on the cents
    // loop (DevAlpDecode, same-JVM interleaved).
    if (width == 4) {
      i = 0
      while (i < n) {
        val back = (digits(i).toDouble * F10(f) / F10(e)).toFloat
        digits(i) = java.lang.Float.floatToRawIntBits(back).toLong & 0xffffffffL
        i += 1
      }
    } else if (f == 0) {
      // the common shape (cents, rates: digits scaled straight down) —
      // one division per value
      val div = F10(e)
      i = 0
      while (i < n) {
        digits(i) =
          java.lang.Double.doubleToRawLongBits(digits(i).toDouble / div)
        i += 1
      }
    } else {
      val mul = F10(f); val div = F10(e)
      i = 0
      while (i < n) {
        val back = digits(i).toDouble * mul / div
        digits(i) = java.lang.Double.doubleToRawLongBits(back)
        i += 1
      }
    }
    i = 0
    while (i < excCount) { digits(positions(i)) = rawBits(i); i += 1 }
    digits
  }

  // ---- ALP_RD (true-real floats; same paper, §"ALP for real doubles" —
  // re-derived, original implementation) ---------------------------------

  /** Pick the left (high-bits) width in 1..16 minimizing estimated size on
    * the mini-run sample: a ≤8-entry dictionary must cover most lefts,
    * everything else is a per-value exception. Returns (leftWidth,
    * estimatedPayloadBytes) — leftWidth 0 when nothing helps. */
  private def alpRdSelect(values: Array[Long], n: Int, width: Int): (Int, Long) = {
    // wider sample than the decimal selector: the l choice turns on
    // exception RATES (a 32-sample resolves them only to 1/32, which
    // extrapolated over the page swamps the few-bytes/value differences
    // between adjacent cuts)
    val idx = alpSampleIdx(n, maxSample = 256, runs = 8)
    val totalBits = width * 8
    var bestL = 0
    var bestSize = Long.MaxValue
    var l = 1
    while (l <= 16) {
      val r = totalBits - l
      val freq = new mutable.HashMap[Long, Int]()
      var k = 0
      while (k < idx.length) {
        val left = (values(idx(k)) & widthMask(width)) >>> r
        freq.update(left, freq.getOrElse(left, 0) + 1)
        k += 1
      }
      val tops = freq.toArray.sortBy(e => (-e._2, e._1)).take(8)
      val covered = tops.map(_._2).sum
      val exc = idx.length - covered
      val dictN = tops.length
      val codeBits = math.max(1, BitPacking.bitsNeeded(math.max(0, dictN - 1)))
      // per-value: code + right bits; per-exception: position + left long
      val est = 6L + dictN.toLong * 8 +
        (n.toLong * (codeBits + r) + 7) / 8 +
        exc.toLong * n / idx.length * 12
      if (est < bestSize) { bestSize = est; bestL = l }
      l += 1
    }
    (bestL, bestSize)
  }

  private def widthMask(width: Int): Long =
    if (width >= 8) -1L else (1L << (width * 8)) - 1

  /** Payload: [leftWidth:1][dictN:1][excCount:4][dict lefts:8·dictN]
    * [positions:4·exc][exc lefts:8·exc][codes bit-packed][rights
    * bit-packed]. Exception slots keep their real right bits (only the
    * left part is patched at decode), so nothing branches per value. */
  private def encodeAlpRd(values: Array[Long], n: Int, width: Int,
      out: ByteBuf): Unit = {
    val (l, _) = alpRdSelect(values, n, width)
    val totalBits = width * 8
    val r = totalBits - l
    val mask = widthMask(width)
    // full-page left histogram → top-8 dictionary (deterministic order)
    val freq = new mutable.HashMap[Long, Int]()
    var i = 0
    while (i < n) {
      val left = (values(i) & mask) >>> r
      freq.update(left, freq.getOrElse(left, 0) + 1)
      i += 1
    }
    val dict = freq.toArray.sortBy(e => (-e._2, e._1)).take(8).map(_._1)
    val index: Map[Long, Int] = dict.zipWithIndex.toMap
    val codeBits = math.max(1, BitPacking.bitsNeeded(math.max(0, dict.length - 1)))
    val codes = new Array[Long](n)
    val rights = new Array[Long](n)
    var excCount = 0
    i = 0
    while (i < n) {
      val v = values(i) & mask
      val left = v >>> r
      rights(i) = v & ((1L << r) - 1)
      index.get(left) match {
        case Some(c) => codes(i) = c.toLong
        case None => codes(i) = 0L; excCount += 1
      }
      i += 1
    }
    out.putByte(l); out.putByte(dict.length)
    out.putInt(excCount)
    var d = 0
    while (d < dict.length) { out.putLong(dict(d)); d += 1 }
    if (excCount > 0) {
      i = 0
      while (i < n) {
        if (!index.contains((values(i) & mask) >>> r)) out.putInt(i)
        i += 1
      }
      i = 0
      while (i < n) {
        val left = (values(i) & mask) >>> r
        if (!index.contains(left)) out.putLong(left)
        i += 1
      }
    }
    BitPacking.pack(codes, n, codeBits, out)
    BitPacking.pack(rights, n, r, out)
  }

  private def decodeAlpRd(in: ByteBuffer, n: Int, width: Int): Array[Long] = {
    val l = in.get() & 0xff
    val dictN = in.get() & 0xff
    val excCount = in.getInt()
    val r = width * 8 - l
    val dict = new Array[Long](dictN)
    var d = 0
    while (d < dictN) { dict(d) = in.getLong(); d += 1 }
    val positions = new Array[Int](excCount)
    var i = 0
    while (i < excCount) { positions(i) = in.getInt(); i += 1 }
    val excLefts = new Array[Long](excCount)
    i = 0
    while (i < excCount) { excLefts(i) = in.getLong(); i += 1 }
    val codeBits = math.max(1, BitPacking.bitsNeeded(math.max(0, dictN - 1)))
    val codes = new Array[Long](n)
    val arr = in.array()
    var pos = in.arrayOffset() + in.position()
    BitPacking.unpack(arr, pos, n, codeBits, codes, 0)
    pos += BitPacking.packedSize(n, codeBits).toInt
    val rights = new Array[Long](n)
    BitPacking.unpack(arr, pos, n, r, rights, 0)
    pos += BitPacking.packedSize(n, r).toInt
    in.position(pos - in.arrayOffset())
    val out = new Array[Long](n)
    val shifted = new Array[Long](dictN)
    i = 0
    while (i < dictN) { shifted(i) = dict(i) << r; i += 1 }
    i = 0
    while (i < n) {
      out(i) = shifted(codes(i).toInt) | rights(i)
      i += 1
    }
    i = 0
    while (i < excCount) {
      val p = positions(i)
      out(p) = (excLefts(i) << r) | rights(p)
      i += 1
    }
    out
  }

  private def encodeDict(values: Array[Long], n: Int, width: Int, stats: IntStats,
      opts: WriteOptions, out: ByteBuf): Unit = {
    val dictVals = stats.distinctValues
    out.putInt(dictVals.length)
    var i = 0
    while (i < dictVals.length) { putWidth(out, dictVals(i), width); i += 1 }
    // one hash probe per value against the stats map (replaced a per-value
    // binary search — O(n) instead of O(n log d), allocation/boxing-free)
    stats.buildDictIndex(dictVals)
    val indices = new Array[Long](n)
    i = 0
    while (i < n) {
      indices(i) = stats.dictIndexOf(values(i)).toLong
      i += 1
    }
    // indices as a nested block; chooser forbidden from re-entering Dict
    encode(indices, n, 4, opts, ForbidDict | ForbidFreq, out)
  }

  private def encodeFreq(values: Array[Long], n: Int, width: Int, stats: IntStats,
      opts: WriteOptions, out: ByteBuf): Unit = {
    val top = stats.topValue
    putWidth(out, top, width)
    val bitmap = new RoaringBitmap()
    var excCount = 0
    var i = 0
    while (i < n) {
      if (values(i) != top) { bitmap.add(i); excCount += 1 }
      i += 1
    }
    bitmap.runOptimize()
    val bmSize = bitmap.serializedSizeInBytes()
    out.putInt(bmSize)
    val bb = ByteBuffer.allocate(bmSize).order(ByteOrder.LITTLE_ENDIAN)
    bitmap.serialize(bb)
    out.putBytes(bb.array(), 0, bmSize)
    out.putInt(excCount)
    if (excCount > 0) {
      val exceptions = new Array[Long](excCount)
      var k = 0
      i = 0
      while (i < n) {
        if (values(i) != top) { exceptions(k) = values(i); k += 1 }
        i += 1
      }
      encode(exceptions, excCount, width, opts, ForbidDict | ForbidFreq, out)
    }
  }

  // ---- chooser ----

  /** Estimated payload sizes per candidate; exact where cheap.
    * (reference: compress_ratio estimators, src/compression/integer/\*.rs) */
  private def choose(values: Array[Long], n: Int, width: Int, stats: IntStats,
      opts: WriteOptions, forbidden: Int, floatBits: Boolean): Int = {
    val rawSize = n.toLong * width
    if (!opts.adaptive) return opts.base
    // runCount == 1 ⟺ every value equals the first — constancy doesn't
    // need the distinct map, so OneValue still fires when it's disabled
    if (stats.runCount == 1 && n > 1) return Codec.OneValue
    var best = -1
    var bestSize = Long.MaxValue
    def consider(codec: Int, size: Long): Unit =
      if (size < bestSize) { best = codec; bestSize = size }
    // RLE: exact
    consider(Codec.Rle, stats.runCount.toLong * (4 + width))
    // BitPack (FOR): exact; guard subtraction overflow
    if (stats.max >= stats.min && (stats.max - stats.min) >= 0) {
      val bits = BitPacking.bitsNeeded(stats.max - stats.min)
      if (bits < width * 8) consider(Codec.BitPack, 9L + BitPacking.packedSize(n, bits))
    }
    // DeltaBitPack: sorted only; exact
    if (stats.sorted && n > 1 && stats.maxDelta >= 0) {
      val bits = BitPacking.bitsNeeded(stats.maxDelta)
      consider(Codec.DeltaBitPack, 9L + BitPacking.packedSize(n - 1, bits))
    }
    // DeltaZigZag: any-direction deltas; exact. On a sorted page its codes
    // cost one more bit than DeltaBitPack's, so the strictly-smaller
    // `consider` keeps the sorted fast path on DeltaBitPack; it wins on
    // piecewise-ascending leaves (positions arrays, per-group ordinals)
    // where `sorted` is false but steps stay local.
    if (stats.zzOk && n > 1 && stats.maxZz >= 0) {
      val bits = BitPacking.bitsNeeded(stats.maxZz)
      consider(Codec.DeltaZigZag, 9L + BitPacking.packedSize(n - 1, bits))
    }
    if (!stats.highCardinality) {
      // Dict: estimate (indices assumed bit-packed)
      if ((forbidden & ForbidDict) == 0 && stats.distinct > 1 && stats.distinct <= n / 2) {
        val idxBits = BitPacking.bitsNeeded(stats.distinct - 1)
        consider(Codec.Dict,
          4L + stats.distinct.toLong * width + 9L + 9L + BitPacking.packedSize(n, idxBits))
      }
    }
    // Freq: top value must dominate (reference guard: >=90%, max>=256).
    // topCount comes from the Boyer–Moore vote, which survives the distinct
    // map's high-cardinality bail — a near-constant page with a long
    // all-distinct exception tail still qualifies
    if ((forbidden & ForbidFreq) == 0 && stats.topCount.toLong * 10 >= n.toLong * 9 && n >= 64) {
      val exc = n - stats.topCount
      consider(Codec.Freq, width.toLong + 8 + 2L * exc + 9L + exc.toLong * width)
    }
    // Patas: floats only; deterministic trial on a CONTIGUOUS prefix (the
    // family exploits local structure — prev deltas, ring-periodicity — a
    // stride sample would destroy)
    if (floatBits && n >= 64) {
      val sampleN = math.min(n, 1024)
      val tmp = new ByteBuf(sampleN * 10)
      encodePatas(values, sampleN, tmp, opts)
      val est = tmp.len.toLong * n / sampleN
      consider(Codec.Patas, est)
    }
    // ALP: floats only; (e,f) picked on a 32-value stride sample, then the
    // exception rate and digit range measured on a wider stride sample.
    // The nested digit block is estimated at its FOR size — conservative,
    // since Dict/RLE may beat it on low-cardinality digits.
    if (floatBits && n >= 64) {
      val (e, f) = alpSelect(values, n, width)
      if (e >= 0) {
        val sampleN = math.min(n, 1024)
        val step = math.max(1, n / sampleN)
        var exc = 0; var minD = Long.MaxValue; var maxD = Long.MinValue
        var i = 0; var seen = 0
        while (seen < sampleN) {
          val d = alpDigit(values(i), e, f, width)
          if (d == Long.MinValue) exc += 1
          else { if (d < minD) minD = d; if (d > maxD) maxD = d }
          i += step; seen += 1
        }
        val conf = sampleN - exc
        if (conf > 0 && exc.toLong * 2 <= sampleN && maxD - minD >= 0) {
          val bits = BitPacking.bitsNeeded(maxD - minD)
          val excTotal = exc.toLong * n / sampleN
          val est = 6L + excTotal * (4 + width) + 9L + 9L +
            BitPacking.packedSize(n, bits)
          consider(Codec.Alp, est)
        }
      }
    }
    // ALP_RD: true-real floats never reach the 2.0 ratio gate (their
    // mantissas are incompressible; ~1.2-1.6× is the ceiling), so instead
    // of the gate it competes against the MEASURED base byte-codec on a
    // sample: it fires only when no gated candidate won and it beats what
    // lz4/zstd actually achieve on this page by ≥10% — the pages every
    // other codec passes through untouched (embeddings, measurements).
    if (floatBits && n >= 64 &&
        (best < 0 || rawSize.toDouble / bestSize < opts.ratio)) {
      val (l, rdEst) = alpRdSelect(values, n, width)
      // baseEst can never exceed rawSize (the writer stores min(raw,
      // compressed)), so rdEst >= 0.9*rawSize already loses the ≥10%
      // margin against ANY base outcome — skip the real compression
      // trial on those pages. This is the short-circuit that keeps the
      // trial off pages where ALP_RD can't win regardless of how the
      // base codec fares; when it does run, a 256-value sample (2 KB of
      // float bytes) prices lz4/zstd closely enough for a 10% margin.
      if (l > 0 && rdEst.toDouble < rawSize * 0.9) {
        val sampleN = math.min(n, 256)
        val raw = rawBytes(values, sampleN, width)
        val baseEst =
          if (opts.base == Codec.Plain) rawSize
          else {
            val comp = CommonCompression.compress(opts.base, raw, 0, raw.length,
              opts.zstdLevel)
            math.min(raw.length, comp.length).toLong * n / sampleN
          }
        if (rdEst.toDouble < baseEst * 0.9) return Codec.AlpRd
      }
    }
    if (best >= 0 && rawSize.toDouble / bestSize >= opts.ratio) best else opts.base
  }

  /** Encode one block (9-byte header + payload) to `out`. Returns codec id.
    * `countDistinct=false` skips the distinct-count pass (the dominant cost
    * on high-cardinality pages) — the chooser then never picks Dict/Freq;
    * column writers pass false once a column's pages have proven
    * high-cardinality, re-probing periodically. */
  def encode(values: Array[Long], n: Int, width: Int, opts: WriteOptions,
      forbidden: Int, out: ByteBuf, floatBits: Boolean = false,
      countDistinct: Boolean = true, scan: PageScan = null): Int = {
    val headerAt = out.len
    out.putByte(0); out.putInt(0); out.putInt(0) // patched below
    val payloadStart = out.len
    val rawLen = n * width
    // Patas variant decided ONCE per page (auto = short contiguous-prefix
    // trial): both the chooser's size estimate and the final encode then
    // run the same already-chosen variant without re-trialing
    val effOpts =
      if (opts.patasRing.isEmpty &&
          ((floatBits && opts.adaptive && opts.forced.isEmpty) ||
            opts.forced.contains(Codec.Patas)))
        opts.copy(patasRing = Some(patasRingAuto(values, n)))
      else opts
    // the map only feeds Dict/Freq: skip it when both are forbidden (the
    // recursive index/exception blocks), keep it when a forced test mode
    // demands a dict-family codec regardless of the caller's hint
    val wantDistinct = (countDistinct ||
      opts.forced.exists(c => c == Codec.Dict || c == Codec.Freq)) &&
      (forbidden & (ForbidDict | ForbidFreq)) != (ForbidDict | ForbidFreq)
    // single stats pass shared by chooser and Dict/Freq encoders
    var statsCache: IntStats = null
    def stats: IntStats = {
      if (statsCache == null) statsCache = new IntStats(values, n, wantDistinct,
        width, opts.ratio,
        forcedDictFamily = opts.forced.exists(c => c == Codec.Dict || c == Codec.Freq),
        precomputed = scan)
      statsCache
    }
    val codec = opts.forced match {
      // a forced codec in the forbidden mask (e.g. Dict inside Dict's own
      // index block) would recurse forever — fall back to the base codec
      // (reference: forbidden_compressions, integer/dict.rs:60-62)
      case Some(c) if (c == Codec.Dict && (forbidden & ForbidDict) != 0) ||
        (c == Codec.Freq && (forbidden & ForbidFreq) != 0) => opts.base
      case Some(c) => c
      case None => choose(values, n, width, stats, effOpts, forbidden, floatBits)
    }
    val effective: Int = codec match {
      case Codec.OneValue =>
        // forced-mode safety: OneValue on a non-constant page would silently
        // lose data — verify constancy, else fall back to raw
        var const = true
        var i = 1
        while (const && i < n) { const = values(i) == values(0); i += 1 }
        if (!const) { out.putBytes(rawBytes(values, n, width)); Codec.Plain }
        else { putWidth(out, if (n > 0) values(0) else 0L, width); Codec.OneValue }
      case Codec.Rle =>
        encodeRle(values, n, width, out); Codec.Rle
      case Codec.BitPack =>
        var min = Long.MaxValue; var max = Long.MinValue
        var i = 0
        while (i < n) { val v = values(i); if (v < min) min = v; if (v > max) max = v; i += 1 }
        if (n == 0) { min = 0L; max = 0L }
        if (max - min < 0) { // range overflows Long: bit width would truncate
          out.putBytes(rawBytes(values, n, width)); Codec.Plain
        } else { encodeBitPack(values, n, min, max, out); Codec.BitPack }
      case Codec.DeltaBitPack =>
        var maxDelta = 0L; var sorted = true
        var i = 1
        while (i < n) {
          val d = values(i) - values(i - 1)
          if (d < 0) sorted = false else if (d > maxDelta) maxDelta = d
          i += 1
        }
        if (!sorted || maxDelta < 0) { // forced-mode misuse: fall back to raw
          out.len = payloadStart
          val raw = rawBytes(values, n, width)
          out.putBytes(raw)
          Codec.Plain
        } else { encodeDeltaBp(values, n, maxDelta, out); Codec.DeltaBitPack }
      case Codec.DeltaZigZag =>
        // re-verify viability (forced-mode misuse, chooser-stats drift):
        // every delta must survive the subtraction and its zigzag must stay
        // in [0, 2^63) — else fall back to raw
        var ok = true
        var maxZz = 0L
        var i = 1
        while (ok && i < n) {
          val v = values(i); val p = values(i - 1)
          val d = v - p
          if (((v ^ p) & (v ^ d)) < 0) ok = false
          else {
            val zz = (d << 1) ^ (d >> 63)
            if (zz < 0) ok = false else if (zz > maxZz) maxZz = zz
          }
          i += 1
        }
        if (!ok) {
          out.len = payloadStart
          out.putBytes(rawBytes(values, n, width))
          Codec.Plain
        } else { encodeDeltaZz(values, n, maxZz, out); Codec.DeltaZigZag }
      case Codec.Dict =>
        if (stats.highCardinality) { out.putBytes(rawBytes(values, n, width)); Codec.Plain }
        else { encodeDict(values, n, width, stats, opts, out); Codec.Dict }
      case Codec.Freq =>
        // encodeFreq only needs topValue/topCount (Boyer–Moore vote), which
        // survive the distinct map's high-cardinality bail — so a
        // near-constant page with a long all-distinct exception tail stays
        // Freq. Fall back only when the vote never verified a top value
        // (forced mode on a page the chooser would never have qualified).
        if (stats.topCount == 0) { out.putBytes(rawBytes(values, n, width)); Codec.Plain }
        else { encodeFreq(values, n, width, stats, opts, out); Codec.Freq }
      case Codec.Patas =>
        encodePatas(values, n, out, effOpts); Codec.Patas
      case Codec.Alp =>
        // encodeAlp declines (writing nothing) when no (e,f) conforms or
        // exceptions would dominate — forced-mode misuse falls back to raw
        if (floatBits && encodeAlp(values, n, width, effOpts, out)) Codec.Alp
        else { out.putBytes(rawBytes(values, n, width)); Codec.Plain }
      case Codec.AlpRd =>
        // float pages only: the decoded bits come back zero-extended,
        // which the float readers re-mask but integer columns must not see
        if (floatBits) { encodeAlpRd(values, n, width, out); Codec.AlpRd }
        else { out.putBytes(rawBytes(values, n, width)); Codec.Plain }
      case common =>
        val raw = rawBytes(values, n, width)
        val comp = CommonCompression.compress(
          if (common == Codec.Plain) Codec.Plain else common, raw, 0, raw.length, opts.zstdLevel)
        if (comp.length >= raw.length && common != Codec.Plain) {
          out.putBytes(raw); Codec.Plain
        } else { out.putBytes(comp); common }
    }
    val payloadLen = out.len - payloadStart
    out.buf(headerAt) = effective.toByte
    out.patchInt(headerAt + 1, payloadLen)
    out.patchInt(headerAt + 5, rawLen)
    effective
  }

  /** Decode one block into widened Longs. Narrow raw values sign-extend
    * (all Spark integer types); width-4 float bits are re-masked to their
    * low 32 bits by the reader, so either extension is safe there. */
  def decode(in: ByteBuffer, n: Int, width: Int): Array[Long] = {
    val codec = in.get() & 0xff
    val clen = in.getInt()
    val rawLen = in.getInt()
    val endPos = in.position() + clen
    val result: Array[Long] = codec match {
      case Codec.OneValue =>
        val v = getWidth(in, width)
        val out = new Array[Long](n)
        java.util.Arrays.fill(out, v)
        out
      case Codec.Rle =>
        val out = new Array[Long](n)
        var i = 0
        while (i < n) {
          val count = in.getInt()
          val v = getWidth(in, width)
          var j = 0
          while (j < count) { out(i + j) = v; j += 1 }
          i += count
        }
        out
      case Codec.BitPack =>
        val min = in.getLong()
        val bits = in.get() & 0xff
        val out = new Array[Long](n)
        val arr = in.array()
        val pos = in.arrayOffset() + in.position()
        BitPacking.unpack(arr, pos, n, bits, out, 0)
        var i = 0
        while (i < n) { out(i) += min; i += 1 }
        out
      case Codec.DeltaBitPack =>
        val first = in.getLong()
        val bits = in.get() & 0xff
        val out = new Array[Long](n)
        if (n > 0) {
          out(0) = first
          if (n > 1) {
            val deltas = new Array[Long](n - 1)
            val arr = in.array()
            val pos = in.arrayOffset() + in.position()
            BitPacking.unpack(arr, pos, n - 1, bits, deltas, 0)
            var i = 1
            while (i < n) { out(i) = out(i - 1) + deltas(i - 1); i += 1 }
          }
        }
        out
      case Codec.DeltaZigZag =>
        val first = in.getLong()
        val bits = in.get() & 0xff
        val out = new Array[Long](n)
        if (n > 0) {
          out(0) = first
          if (n > 1) {
            val zz = new Array[Long](n - 1)
            val arr = in.array()
            val pos = in.arrayOffset() + in.position()
            BitPacking.unpack(arr, pos, n - 1, bits, zz, 0)
            var i = 1
            while (i < n) {
              val z = zz(i - 1)
              out(i) = out(i - 1) + ((z >>> 1) ^ -(z & 1L))
              i += 1
            }
          }
        }
        out
      case Codec.Alp =>
        decodeAlp(in, n, width)
      case Codec.AlpRd =>
        decodeAlpRd(in, n, width)
      case Codec.Dict =>
        val dictSize = in.getInt()
        val dict = new Array[Long](dictSize)
        var i = 0
        while (i < dictSize) { dict(i) = getWidth(in, width); i += 1 }
        val indices = decode(in, n, 4)
        val out = new Array[Long](n)
        i = 0
        while (i < n) { out(i) = dict(indices(i).toInt); i += 1 }
        out
      case Codec.Freq =>
        val top = getWidth(in, width)
        val bmSize = in.getInt()
        val bmBuf = ByteBuffer.wrap(in.array(), in.arrayOffset() + in.position(), bmSize)
          .order(ByteOrder.LITTLE_ENDIAN)
        val bitmap = new RoaringBitmap()
        bitmap.deserialize(bmBuf)
        in.position(in.position() + bmSize)
        val excCount = in.getInt()
        val out = new Array[Long](n)
        java.util.Arrays.fill(out, top)
        if (excCount > 0) {
          val exceptions = decode(in, excCount, width)
          val it = bitmap.getIntIterator
          var k = 0
          while (it.hasNext && k < excCount) { out(it.next()) = exceptions(k); k += 1 }
        }
        out
      case Codec.Patas =>
        decodePatas(in, n)
      case common =>
        val arr = in.array()
        val pos = in.arrayOffset() + in.position()
        val raw = CommonCompression.decompress(common, arr, pos, clen, rawLen)
        fromRawBytes(raw, n, width)
    }
    in.position(endPos)
    result
  }
}

/** Binary/string page codec: a lengths block (via [[IntCodec]]) followed by
  * a values block (one-value / dict-interned / common-compressed).
  * (reference surface: src/compression/binary/\*.rs) */
object BinaryCodec {
  private val ValuesPlain = 0
  private val ValuesOneValue = 1
  private val ValuesDict = 2

  /** offsets: n+1 cumulative zero-based byte offsets into bytes. */
  def encode(offsets: Array[Int], bytes: Array[Byte], n: Int,
      opts: WriteOptions, out: ByteBuf): Unit = {
    val lengths = new Array[Long](n)
    var i = 0
    while (i < n) { lengths(i) = (offsets(i + 1) - offsets(i)).toLong; i += 1 }
    IntCodec.encode(lengths, n, 4, opts, 0, out)
    val total = offsets(n)
    // values-mode byte + payload. The dict interner is O(n) hashing — gate it
    // behind the adaptive flag and a cheap sampled cardinality probe so plain
    // high-cardinality pages don't pay for a dictionary that gets discarded.
    val interner = new java.util.HashMap[ByteKey, Integer]()
    var highCard = !opts.adaptive
    if (!highCard && n > 512) {
      val sampleN = 256
      val probe = new java.util.HashSet[ByteKey](sampleN * 2)
      val stride = n / sampleN
      var s = 0
      while (s < sampleN) {
        val j = s * stride
        probe.add(new ByteKey(bytes, offsets(j), offsets(j + 1) - offsets(j)))
        s += 1
      }
      // mostly-unique sample ⇒ dict can't pay off; skip the full intern pass
      if (probe.size() * 4 > sampleN * 3) highCard = true
    }
    // indices recorded during the intern pass — values are hashed once
    val indices = new Array[Long](if (highCard) 0 else n)
    i = 0
    while (i < n && !highCard) {
      val k = new ByteKey(bytes, offsets(i), offsets(i + 1) - offsets(i))
      var id = interner.get(k)
      if (id == null) {
        if (interner.size() >= 65536) highCard = true
        else { id = Integer.valueOf(interner.size()); interner.put(k, id) }
      }
      if (!highCard) indices(i) = id.toLong
      i += 1
    }
    val distinct = interner.size()
    if (!highCard && distinct == 1 && n > 1) {
      out.putByte(ValuesOneValue)
      out.putInt(offsets(1) - offsets(0))
      out.putBytes(bytes, offsets(0), offsets(1) - offsets(0))
    } else if (!highCard && opts.adaptive && distinct.toLong * 8 <= n.toLong && distinct > 0) {
      // dict pays off when values repeat heavily
      out.putByte(ValuesDict)
      out.putInt(distinct)
      val dictOffsets = new Array[Int](distinct)
      val dictLens = new Array[Int](distinct)
      val it = interner.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        dictOffsets(e.getValue) = e.getKey.off
        dictLens(e.getValue) = e.getKey.len
      }
      val dictBuf = new ByteBuf(1024)
      i = 0
      while (i < distinct) {
        dictBuf.putInt(dictLens(i))
        dictBuf.putBytes(bytes, dictOffsets(i), dictLens(i))
        i += 1
      }
      CommonCompression.writeBytesBlock(dictBuf.buf, 0, dictBuf.len, opts, out)
      IntCodec.encode(indices, n, 4, opts, IntCodec.ForbidDict, out)
    } else {
      out.putByte(ValuesPlain)
      CommonCompression.writeBytesBlock(bytes, 0, total, opts, out)
    }
  }

  /** @return (offsets of n+1 entries, value bytes) */
  def decode(in: ByteBuffer, n: Int): (Array[Int], Array[Byte]) = {
    val lengths = IntCodec.decode(in, n, 4)
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) { offsets(i + 1) = offsets(i) + lengths(i).toInt; i += 1 }
    val mode = in.get() & 0xff
    mode match {
      case ValuesOneValue =>
        val len = in.getInt()
        val one = new Array[Byte](len)
        in.get(one)
        val out = new Array[Byte](offsets(n))
        i = 0
        while (i < n) {
          if (offsets(i + 1) - offsets(i) == len) System.arraycopy(one, 0, out, offsets(i), len)
          i += 1
        }
        (offsets, out)
      case ValuesDict =>
        val distinct = in.getInt()
        val dictBytes = CommonCompression.readBytesBlock(in)
        val db = ByteIO.reader(dictBytes)
        val dOff = new Array[Int](distinct)
        val dLen = new Array[Int](distinct)
        i = 0
        while (i < distinct) {
          dLen(i) = db.getInt()
          dOff(i) = db.position()
          db.position(db.position() + dLen(i))
          i += 1
        }
        val indices = IntCodec.decode(in, n, 4)
        val out = new Array[Byte](offsets(n))
        i = 0
        while (i < n) {
          val d = indices(i).toInt
          System.arraycopy(dictBytes, dOff(d), out, offsets(i), dLen(d))
          i += 1
        }
        (offsets, out)
      case _ =>
        val bytes = CommonCompression.readBytesBlock(in)
        (offsets, bytes)
    }
  }
}

/** Hash key over a byte range (for the dict interner). */
final class ByteKey(val bytes: Array[Byte], val off: Int, val len: Int) {
  override def hashCode(): Int = {
    var h = 1
    var i = off
    while (i < off + len) { h = 31 * h + bytes(i); i += 1 }
    h
  }
  override def equals(o: Any): Boolean = o match {
    case k: ByteKey =>
      if (k.len != len) false
      else {
        var i = 0
        var eq = true
        while (eq && i < len) { eq = bytes(off + i) == k.bytes(k.off + i); i += 1 }
        eq
      }
    case _ => false
  }
}
