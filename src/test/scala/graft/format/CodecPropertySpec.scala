package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based round-trip: for arbitrary values, null densities, page
  * sizes and codecs, write→read is the identity (replaces the reference's
  * seeded-random suite with shrinking, SURVEY §5). */
class CodecPropertySpec extends AnyFunSuite {

  /** Run a scalacheck property and fail the test with its message. */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withMaxSize(200), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    check(Prop.forAllNoShrink(ga, gb) { (a, b) => body(a, b); true })

  private def roundTrip(schema: StructType, rows: Seq[InternalRow],
      opts: WriteOptions): Seq[InternalRow] = {
    val w = new StrawFileWriter(schema, opts)
    rows.foreach(w.write)
    val in = new ByteArrayInput(w.finish())
    val footer = StrawFileReader.readFooter(in)
    StrawFileReader.rowsByField(in, footer, schema.fields.indices.toArray).toSeq
  }

  private val genOpts: Gen[WriteOptions] = for {
    base <- Gen.oneOf(Codec.Plain, Codec.Lz4, Codec.Zstd, Codec.Snappy)
    pageSize <- Gen.oneOf(64, 257, 1024)
    forced <- Gen.option(Gen.oneOf(Codec.Rle, Codec.Dict, Codec.Freq,
      Codec.BitPack, Codec.DeltaBitPack, Codec.DeltaZigZag,
      Codec.OneValue, Codec.Patas, Codec.Alp, Codec.AlpRd))
    patasRing <- Gen.oneOf(None, Some(true), Some(false))
  } yield WriteOptions(base = base, maxPageSize = pageSize, forced = forced,
    patasRing = patasRing)

  test("longs with arbitrary values and null density round trip") {
    forAll(Gen.listOf(Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))),
      genOpts) { (vals, opts) =>
      val schema = StructType(Seq(StructField("v", LongType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows, opts)
      assert(got.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))) == vals)
    }
  }

  test("doubles incl. specials round trip bit-exactly") {
    val special = Gen.oneOf(Double.NaN, 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)
    val genD = Gen.frequency(8 -> Gen.chooseNum(-1e12, 1e12), 2 -> special)
    forAll(Gen.listOf(Gen.option(genD)), genOpts) { (vals, opts) =>
      val schema = StructType(Seq(StructField("v", DoubleType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows, opts)
      val gotBits = got.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))))
      assert(gotBits == vals.map(_.map(java.lang.Double.doubleToRawLongBits)))
    }
  }

  test("decimal-real doubles (ALP's target shape) round trip bit-exactly") {
    // prices/rates: ints scaled by 10^-k, plus trailing-zero magnitudes and
    // the non-conforming specials that must travel the exception path
    val decimal = for {
      unscaled <- Gen.chooseNum(-2000000L, 2000000L)
      k <- Gen.oneOf(0, 1, 2, 4)
    } yield unscaled.toDouble / F10k(k)
    val special = Gen.oneOf(Double.NaN, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, math.Pi, 1e300, Double.MinPositiveValue)
    val genD = Gen.frequency(9 -> decimal, 1 -> special)
    val alpOpts = Gen.oneOf(
      WriteOptions(forced = Some(Codec.Alp)),
      WriteOptions(forced = Some(Codec.Alp), maxPageSize = 257),
      WriteOptions())
    forAll(Gen.listOf(Gen.option(genD)), alpOpts) { (vals, opts) =>
      val schema = StructType(Seq(StructField("v", DoubleType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows, opts)
      val gotBits = got.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))))
      assert(gotBits == vals.map(_.map(java.lang.Double.doubleToRawLongBits)))
    }
  }

  private def F10k(k: Int): Double = math.pow(10.0, k)

  test("true-real doubles and floats round trip bit-exactly under forced ALP_RD") {
    // full-mantissa reals (ALP_RD's target: left bits cluster, right bits
    // are noise) plus specials; uniform AND exponential magnitudes so the
    // left dictionary sees both few and many distinct exponents
    val genD = Gen.frequency(
      5 -> Gen.chooseNum(-1.0, 1.0),
      4 -> Gen.chooseNum(-300, 300).map(e => math.exp(e * 0.1)),
      1 -> Gen.oneOf(Double.NaN, -0.0, Double.PositiveInfinity,
        Double.MinPositiveValue, math.Pi))
    forAll(Gen.listOf(Gen.option(genD)), Gen.oneOf(64, 257)) { (vals, page) =>
      val schema = StructType(Seq(StructField("v", DoubleType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows,
        WriteOptions(forced = Some(Codec.AlpRd), maxPageSize = page))
      val gotBits = got.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(0))))
      assert(gotBits == vals.map(_.map(java.lang.Double.doubleToRawLongBits)))
    }
    val genF = Gen.frequency(9 -> Gen.chooseNum(-1.0f, 1.0f),
      1 -> Gen.oneOf(Float.NaN, -0.0f, Float.PositiveInfinity))
    forAll(Gen.listOf(Gen.option(genF)), Gen.oneOf(64, 1024)) { (vals, page) =>
      val schema = StructType(Seq(StructField("v", FloatType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows,
        WriteOptions(forced = Some(Codec.AlpRd), maxPageSize = page))
      val gotBits = got.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Float.floatToRawIntBits(r.getFloat(0))))
      assert(gotBits == vals.map(_.map(java.lang.Float.floatToRawIntBits)))
    }
  }

  test("decimal-real floats round trip bit-exactly under forced ALP") {
    val genF = Gen.frequency(
      9 -> Gen.chooseNum(-100000, 100000).map(_.toFloat / 100f),
      1 -> Gen.oneOf(Float.NaN, -0.0f, Float.PositiveInfinity, math.Pi.toFloat))
    forAll(Gen.listOf(Gen.option(genF)), Gen.oneOf(64, 1024)) { (vals, page) =>
      val schema = StructType(Seq(StructField("v", FloatType)))
      val rows = vals.map(v => new GenericInternalRow(Array[Any](v.orNull)))
      val got = roundTrip(schema, rows,
        WriteOptions(forced = Some(Codec.Alp), maxPageSize = page))
      val gotBits = got.map(r =>
        if (r.isNullAt(0)) None
        else Some(java.lang.Float.floatToRawIntBits(r.getFloat(0))))
      assert(gotBits == vals.map(_.map(java.lang.Float.floatToRawIntBits)))
    }
  }

  test("strings incl. unicode and empties round trip") {
    val genS = Gen.frequency(
      6 -> Gen.alphaNumStr,
      2 -> Gen.const(""),
      2 -> Gen.listOf(Gen.oneOf("\u65e5", "\u672c", "\u00df", "\u00e9", "\ud83d\ude42", "\n", " ")).map(_.mkString))
    forAll(Gen.listOf(Gen.option(genS)), genOpts) { (vals, opts) =>
      val schema = StructType(Seq(StructField("v", StringType)))
      val rows = vals.map(v =>
        new GenericInternalRow(Array[Any](v.map(UTF8String.fromString).orNull)))
      val got = roundTrip(schema, rows, opts)
      assert(got.map(r => if (r.isNullAt(0)) None else Some(r.getUTF8String(0).toString)) == vals)
    }
  }

  test("int arrays with null elements round trip") {
    val genArr = Gen.listOf(Gen.option(Gen.chooseNum(Int.MinValue, Int.MaxValue)))
    forAll(Gen.listOf(Gen.option(genArr)), genOpts) { (vals, opts) =>
      val schema = StructType(Seq(
        StructField("v", ArrayType(IntegerType, containsNull = true))))
      val rows = vals.map { v =>
        new GenericInternalRow(Array[Any](v.map(a =>
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            a.map(_.map(Int.box).orNull.asInstanceOf[Any]).toArray)).orNull))
      }
      val got = roundTrip(schema, rows, opts)
      val norm = got.map { r =>
        if (r.isNullAt(0)) None
        else Some(r.getArray(0).toObjectArray(IntegerType)
          .map(x => Option(x).map(_.asInstanceOf[Int])).toList)
      }
      assert(norm == vals.map(_.map(_.toList)))
    }
  }

  test("i128 sum arithmetic matches BigInteger (property)") {
    val genLong = Gen.oneOf(
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      Gen.oneOf(0L, 1L, -1L, Long.MinValue, Long.MaxValue))
    check(Prop.forAllNoShrink(Gen.listOf(genLong)) { vs =>
      // accumulate exactly as LongColumnWriter does: i128 += sign-extended v
      var hi = 0L
      var lo = 0L
      vs.foreach { v =>
        val s = StrawFormat.add128(hi, lo, v >> 63, v)
        hi = s._1; lo = s._2
      }
      val expect = vs.foldLeft(java.math.BigInteger.ZERO)(
        (a, v) => a.add(java.math.BigInteger.valueOf(v)))
      // i128 wraps only beyond 2^127 — unreachable from summing i64s in
      // these list sizes, so the reconstruction must be EXACT
      StrawFormat.i128ToBigInteger(hi, lo) == expect
    })
    // pairwise plane addition agrees with BigInteger too
    check(Prop.forAllNoShrink(genLong, genLong, genLong, genLong) { (aHi, aLo, bHi, bLo) =>
      val (h, l) = StrawFormat.add128(aHi, aLo, bHi, bLo)
      val mod = java.math.BigInteger.ONE.shiftLeft(128)
      val ea = StrawFormat.i128ToBigInteger(aHi, aLo)
      val eb = StrawFormat.i128ToBigInteger(bHi, bLo)
      val sum = ea.add(eb).mod(mod) // wrap to the i128 ring
      StrawFormat.i128ToBigInteger(h, l).mod(mod) == sum
    })
  }

  /** Every public [[IntStats]] result against a naive reference over the
    * same page, with and without the append path's [[PageScan]]; and the
    * encoded page is the same bytes either way. */
  private def checkIntStats(page: Array[Long], countDistinct: Boolean, width: Int,
      withScan: Boolean, forcedDict: Boolean): Unit = {
    val vals = if (width == 4) page.map(_.toInt.toLong) else page
    val n = vals.length
    def scanOf(vs: Array[Long]): PageScan = { val s = new PageScan; vs.foreach(s.update); s }
    val st = new IntStats(vals, n, countDistinct, width, 2.0, forcedDict,
      if (withScan) scanOf(vals) else null)
    val ctx = s"n=$n countDistinct=$countDistinct width=$width scan=$withScan " +
      s"forcedDict=$forcedDict page=${vals.take(8).mkString(",")}…"

    val steps = (1 until n).map(i => BigInt(vals(i)) - BigInt(vals(i - 1)))
    assert(st.min == (if (n == 0) Long.MaxValue else vals.min), ctx)
    assert(st.max == (if (n == 0) Long.MinValue else vals.max), ctx)
    assert(st.runCount == (if (n == 0) 0 else 1 + steps.count(_ != 0)), ctx)
    // sorted: non-decreasing with every step a Long; maxDelta over the
    // steps before the first one that breaks it
    val sortedSteps = steps.takeWhile(d => d >= 0 && d <= BigInt(Long.MaxValue))
    assert(st.sorted == (sortedSteps.size == steps.size), ctx)
    assert(st.maxDelta == (BigInt(0) +: sortedSteps).max.toLong, ctx)
    // zigzag: every step in [-2^62, 2^62); maxZz likewise over the prefix
    val zzSteps = steps.takeWhile(d => d >= -(BigInt(1) << 62) && d < (BigInt(1) << 62))
    assert(st.zzOk == (zzSteps.size == steps.size), ctx)
    assert(st.maxZz ==
      (BigInt(0) +: zzSteps.map(d => if (d >= 0) d * 2 else -d * 2 - 1)).max.toLong, ctx)

    val distinct = vals.distinct.sorted
    val capLimit = math.min(math.min(IntStats.DistinctCap, n >>> 1),
      if (forcedDict) Int.MaxValue else IntStats.maxUsefulDistinct(n, width, 2.0))
    val highCard = !countDistinct || distinct.length > capLimit
    assert(st.highCardinality == highCard, ctx)
    if (!highCard) {
      assert(st.distinct == distinct.length, ctx)
      assert(st.distinctValues.sameElements(distinct), ctx)
    }
    // a >=90% value is always reported; one under 80% never is (the
    // majority vote's counter cannot reach 0.8n); in between it may be
    val (mode, f) = if (n == 0) (0L, 0)
      else vals.groupBy(identity).map { case (k, v) => (k, v.length) }.maxBy(_._2)
    val top = countDistinct && n >= 64
    if ((top && f * 10L >= 9L * n) || (top && f * 5L >= 4L * n && st.topCount != 0))
      assert((st.topValue, st.topCount) == ((mode, f)), ctx)
    else assert((st.topValue, st.topCount) == ((0L, 0)), ctx)

    for (opts <- Seq(WriteOptions(), WriteOptions(forced = Some(Codec.Dict)))) {
      val plain = new ByteBuf()
      IntCodec.encode(vals.clone(), n, width, opts, 0, plain, countDistinct = countDistinct)
      val scanned = new ByteBuf()
      IntCodec.encode(vals.clone(), n, width, opts, 0, scanned,
        countDistinct = countDistinct, scan = scanOf(vals))
      assert(java.util.Arrays.equals(plain.buf, 0, plain.len, scanned.buf, 0, scanned.len),
        s"$ctx forced=${opts.forced}")
    }
  }

  private def checkIntStatsAllModes(page: Array[Long]): Unit =
    for (cd <- Seq(true, false); w <- Seq(4, 8); sc <- Seq(true, false); fd <- Seq(true, false))
      checkIntStats(page, cd, w, sc, fd)

  test("IntStats equals a naive reference on every page shape") {
    val shapes = Seq(
      Array.empty[Long],
      // steps past ±2^62 and past the Long range: delta and zigzag overflow
      Array(0L, 5L, Long.MaxValue, Long.MinValue, 1L << 62, -(1L << 62), 0L),
      Array(Long.MinValue, -(1L << 62) - 1, 0L, (1L << 62) - 1, Long.MaxValue),
      // range under 2^16: the bitmap path under a PageScan; few distinct,
      // then all distinct (the capLimit bail inside the bitmap)
      Array.tabulate(3000)(i => 1000L + (i % 37) * 1700),
      Array.tabulate(3000)(i => -5000L + (i * 7919L) % 65536),
      // few distinct values over a wide range: the hash map, then its bail
      Array.tabulate(3000)(i => (i % 17) * 1000003L * 1000003L),
      Array.tabulate(3000)(i => i * 0x9E3779B97F4A7C15L),
      // a >=90% majority: the Freq verify pass
      Array.tabulate(3000)(i => if (i % 31 == 0) i.toLong else 42L),
      // sorted with growing steps
      Array.tabulate(3000)(i => i.toLong * i))
    shapes.foreach(checkIntStatsAllModes)

    val anyLong = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val genPage: Gen[Array[Long]] = Gen.oneOf(
      Gen.listOf(Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, 1L << 62, -(1L << 62),
        (1L << 62) - 1, -(1L << 62) - 1)).map(_.toArray),
      for {
        base <- Gen.chooseNum(-(1L << 40), 1L << 40)
        range <- Gen.oneOf(1, 50, 4000, 65535)
        n <- Gen.chooseNum(1, 3000)
        offs <- Gen.listOfN(n, Gen.chooseNum(0, range))
      } yield offs.map(base + _).toArray,
      for {
        k <- Gen.chooseNum(1, 40)
        dict <- Gen.listOfN(k, anyLong)
        n <- Gen.chooseNum(1, 3000)
        idx <- Gen.listOfN(n, Gen.chooseNum(0, k - 1))
      } yield idx.map(dict).toArray,
      Gen.chooseNum(1, 3000).flatMap(n => Gen.listOfN(n, anyLong)).map(_.toArray),
      for {
        n <- Gen.chooseNum(64, 3000)
        top <- anyLong
        pct <- Gen.chooseNum(80, 100)
        rest <- Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L))
        seed <- Gen.long
      } yield new scala.util.Random(seed).shuffle(
        rest.zipWithIndex.map { case (v, i) => if (i * 100L < pct.toLong * n) top else v })
        .toArray)
    check(Prop.forAllNoShrink(genPage, Gen.oneOf(true, false), Gen.oneOf(4, 8),
      Gen.oneOf(true, false), Gen.oneOf(true, false)) { (page, cd, w, sc, fd) =>
      checkIntStats(page, cd, w, sc, fd)
      true
    })
  }
}
