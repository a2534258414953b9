package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}
import scala.util.Random

/** Write→read round-trip over the full type surface, mirroring the
  * reference test shapes (reference: tests/it/io.rs:48-528 — multi-type
  * chunk × base codecs, forced codecs, null densities, nested types). */
class RoundTripSpec extends AnyFunSuite {

  private def writeRead(schema: StructType, rows: Seq[InternalRow],
      opts: WriteOptions): Seq[InternalRow] = {
    val w = new StrawFileWriter(schema, opts)
    rows.foreach(w.write)
    val img = w.finish()
    val in = new ByteArrayInput(img)
    val footer = StrawFileReader.readFooter(in)
    assert(footer.schema == schema)
    assert(footer.numRows == rows.length)
    StrawFileReader.rowsByField(in, footer, schema.fields.indices.toArray).toSeq
  }

  private def assertSame(schema: StructType, expected: Seq[InternalRow],
      actual: Seq[InternalRow]): Unit = {
    assert(actual.length == expected.length)
    expected.zip(actual).zipWithIndex.foreach { case ((e, a), i) =>
      schema.fields.zipWithIndex.foreach { case (f, c) =>
        val ev = extract(e, c, f.dataType)
        val av = extract(a, c, f.dataType)
        assert(norm(ev, f.dataType) == norm(av, f.dataType),
          s"row $i col ${f.name} (${f.dataType})")
      }
    }
  }

  private def extract(r: InternalRow, i: Int, dt: DataType): Any =
    if (r.isNullAt(i)) null else r.get(i, dt)

  /** Comparable canonical form (UTF8String/arrays → Scala collections). */
  private def norm(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: Array[Byte], BinaryType) => b.toSeq
    case (a: ArrayData, ArrayType(et, _)) =>
      a.toObjectArray(et).map(norm(_, et)).toSeq
    case (m: MapData, MapType(kt, vt, _)) =>
      m.keyArray().toObjectArray(kt).map(norm(_, kt)).toSeq
        .zip(m.valueArray().toObjectArray(vt).map(norm(_, vt)).toSeq).toMap
    case (r: InternalRow, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) => norm(extract(r, i, f.dataType), f.dataType) }.toSeq
    case (f: Float, FloatType) => java.lang.Float.floatToRawIntBits(f)
    case (d: Double, DoubleType) => java.lang.Double.doubleToRawLongBits(d)
    case (x, _) => x
  }

  // --- A1: canonical multi-type chunk × 4 base codecs -----------------------

  private val multiSchema = StructType(Seq(
    StructField("c_bool", BooleanType),
    StructField("c_i8", ByteType), StructField("c_i16", ShortType),
    StructField("c_i32", IntegerType), StructField("c_i64", LongType),
    StructField("c_f32", FloatType), StructField("c_f64", DoubleType),
    StructField("c_utf8", StringType), StructField("c_bin", BinaryType),
    StructField("c_date", DateType), StructField("c_ts", TimestampType),
    StructField("c_dec", DecimalType(12, 2))))

  private def multiRows(n: Int, nullDensity: Double, seed: Long): Seq[InternalRow] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      def nv[T](v: T): Any = if (rnd.nextDouble() < nullDensity) null else v
      new GenericInternalRow(Array[Any](
        nv(rnd.nextBoolean()), nv(rnd.nextInt().toByte), nv(rnd.nextInt().toShort),
        nv(rnd.nextInt()), nv(rnd.nextLong()),
        nv(rnd.nextFloat() * (if (rnd.nextBoolean()) 1 else -1)),
        nv(rnd.nextDouble() * 1e6 - 5e5),
        nv(UTF8String.fromString(rnd.alphanumeric.take(rnd.nextInt(12)).mkString)),
        nv(Array.fill(rnd.nextInt(8))(rnd.nextInt().toByte)),
        nv(rnd.nextInt(20000)), nv(rnd.nextLong() / 1000),
        nv(Decimal(BigDecimal(rnd.nextInt(1000000), 2), 12, 2))))
    }
  }

  for (base <- Seq(Codec.Plain, Codec.Lz4, Codec.Zstd, Codec.Snappy)) {
    test(s"multi-type round trip, base=${Codec.name(base)}") {
      val rows = multiRows(3000, 0.1, 42)
      val got = writeRead(multiSchema, rows,
        WriteOptions(base = base, maxPageSize = 512))
      assertSame(multiSchema, rows, got)
    }
  }

  // --- A2: null densities ----------------------------------------------------

  for (d <- Seq(0.0, 0.3, 0.5, 1.0)) {
    test(s"null density $d") {
      val rows = multiRows(2000, d, 7)
      val got = writeRead(multiSchema, rows, WriteOptions(maxPageSize = 300))
      assertSame(multiSchema, rows, got)
    }
  }

  // --- A3: forced codecs (reference CI env-var forcing analog) ---------------

  private val intSchema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("s", StringType)))

  private def codecShapedRows(n: Int, shape: String): Seq[InternalRow] = {
    val rnd = new Random(13)
    (0 until n).map { i =>
      val v: Int = shape match {
        case "const" => 3
        case "dict" => rnd.nextInt(8)
        case "freq" => if (rnd.nextInt(100) < 97) 20 else 10000
        case "sorted" => i
        case "random" => rnd.nextInt()
      }
      new GenericInternalRow(Array[Any](
        v, v.toLong * 1000, v / 3.0,
        UTF8String.fromString(s"k${v % 16}")))
    }
  }

  for (forced <- Seq(Codec.Rle, Codec.Dict, Codec.Freq, Codec.BitPack,
      Codec.DeltaBitPack, Codec.OneValue, Codec.Patas);
      shape <- Seq("const", "dict", "freq", "sorted", "random")) {
    test(s"forced ${Codec.name(forced)} on $shape data") {
      val rows = codecShapedRows(2048, shape)
      val got = writeRead(intSchema, rows,
        WriteOptions(forced = Some(forced), maxPageSize = 512))
      assertSame(intSchema, rows, got)
    }
  }

  // --- adaptive chooser actually picks the triggered codec -------------------

  test("adaptive chooser picks expected codecs") {
    def encodedCodec(values: Array[Long], width: Int): Int = {
      val out = new ByteBuf()
      IntCodec.encode(values, values.length, width, WriteOptions(), 0, out)
      out.buf(0).toInt
    }
    assert(encodedCodec(Array.fill(2048)(7L), 4) == Codec.OneValue)
    assert(encodedCodec(Array.tabulate(2048)(i => (i % 8).toLong), 8) == Codec.Dict
      || encodedCodec(Array.tabulate(2048)(i => (i % 8).toLong), 8) == Codec.BitPack)
    assert(encodedCodec(Array.tabulate(2048)(_.toLong), 8) == Codec.DeltaBitPack)
  }

  test("Patas ring variant beats the prev-chain on oscillating floats") {
    // two interleaved phases: the prev-XOR chain pays a full-magnitude XOR
    // every step; the ring reference finds the same-phase value 2 back
    val n = 8192
    val values = Array.tabulate(n) { i =>
      val v = if (i % 2 == 0) 1000.0 + i * 1e-12 else -0.5 - i * 1e-15
      java.lang.Double.doubleToRawLongBits(v)
    }
    def sized(ring: Option[Boolean]): Int = {
      val out = new ByteBuf()
      val codec = IntCodec.encode(values, n, 8,
        WriteOptions(forced = Some(Codec.Patas), patasRing = ring), 0, out)
      assert(codec == Codec.Patas)
      // both variants decode through the same self-describing payload
      val in = ByteBuffer.wrap(out.buf, 0, out.len).order(ByteOrder.LITTLE_ENDIAN)
      assert(java.util.Arrays.equals(IntCodec.decode(in, n, 8), values))
      out.len
    }
    val prev = sized(Some(false))
    val ring = sized(Some(true))
    assert(ring * 2 < prev,
      s"ring variant ($ring B) should be <= half the prev chain ($prev B)")
    // auto mode picks the ring variant on this shape
    assert(sized(None) == ring)
  }

  test("Freq survives the distinct map's high-cardinality bail") {
    // 90% one value + a long all-distinct exception tail: the distinct map
    // bails (exceptions >> maxUsefulDistinct at width 4) but the Boyer–Moore
    // vote still verifies the top value — the page must encode as Freq, not
    // fall back to raw Plain (which would invert the optimization).
    val n = 65536
    val values = Array.tabulate(n) { i =>
      if (i % 13 != 0) 7L else 1000000L + i // 5042 distinct exceptions
    }
    val out = new ByteBuf()
    val codec = IntCodec.encode(values, n, 4, WriteOptions(), 0, out)
    assert(codec == Codec.Freq, s"expected Freq, got ${Codec.name(codec)}")
    assert(out.len < n * 4, s"Freq page (${out.len} B) should beat raw (${n * 4} B)")
    val in = ByteBuffer.wrap(out.buf, 0, out.len).order(ByteOrder.LITTLE_ENDIAN)
    val got = IntCodec.decode(in, n, 4)
    assert(java.util.Arrays.equals(got, values))
  }

  // --- float/double bit-exactness incl. NaN, ±0, infinities ------------------

  test("float special values round trip bit-exactly") {
    val schema = StructType(Seq(StructField("f", FloatType), StructField("d", DoubleType)))
    val specials = Seq(
      (Float.NaN, Double.NaN), (0.0f, 0.0), (-0.0f, -0.0),
      (Float.PositiveInfinity, Double.NegativeInfinity),
      (Float.MinPositiveValue, Double.MinPositiveValue),
      (-123.456f, 789.012))
    val rows = (0 until 1000).map { i =>
      val (f, d) = specials(i % specials.length)
      new GenericInternalRow(Array[Any](f, d))
    }
    for (forced <- Seq(None, Some(Codec.Patas), Some(Codec.Rle), Some(Codec.Dict))) {
      val got = writeRead(schema, rows, WriteOptions(forced = forced, maxPageSize = 128))
      assertSame(schema, rows, got)
    }
  }

  // --- Decimal(>18) as two-long i128 ----------------------------------------

  test("decimal 38 round trip incl. negatives and extremes") {
    val schema = StructType(Seq(StructField("d", DecimalType(38, 10))))
    val rnd = new Random(11)
    val extremes = Seq(
      BigDecimal("9999999999999999999999999999.9999999999"),
      BigDecimal("-9999999999999999999999999999.9999999999"),
      BigDecimal(0), BigDecimal("-0.0000000001"), BigDecimal("1e17"))
    val rows = (0 until 2000).map { i =>
      val v =
        if (i < extremes.length) extremes(i)
        else if (i % 11 == 0) null
        else BigDecimal(BigInt(126, new java.util.Random(rnd.nextLong())), 10)
          .setScale(10) * (if (rnd.nextBoolean()) 1 else -1)
      new GenericInternalRow(Array[Any](
        if (v == null) null else Decimal(v, 38, 10)))
    }
    for (forced <- Seq(None, Some(Codec.Rle), Some(Codec.Patas))) {
      val got = writeRead(schema, rows, WriteOptions(maxPageSize = 300, forced = forced))
      assertSame(schema, rows, got)
    }
  }

  // --- A4: nested types ------------------------------------------------------

  test("nested list/map/struct round trip") {
    val schema = StructType(Seq(
      StructField("arr", ArrayType(IntegerType, containsNull = true)),
      StructField("m", MapType(IntegerType, StringType, valueContainsNull = true)),
      StructField("st", StructType(Seq(
        StructField("name", StringType), StructField("age", IntegerType)))),
      StructField("ll", ArrayType(ArrayType(LongType, containsNull = false), containsNull = true)),
      StructField("ls", ArrayType(StructType(Seq(StructField("x", DoubleType))), containsNull = true))))
    val rnd = new Random(99)
    val rows = (0 until 1500).map { i =>
      def maybeNull[T](v: T): Any = if (rnd.nextDouble() < 0.1) null else v
      val arr = maybeNull(new GenericArrayData(
        Array.fill[Any](rnd.nextInt(4))(if (rnd.nextDouble() < 0.2) null else rnd.nextInt())))
      val mapN = rnd.nextInt(3)
      val m = maybeNull(new ArrayBasedMapData(
        new GenericArrayData(Array.tabulate[Any](mapN)(k => i * 10 + k)),
        new GenericArrayData(Array.tabulate[Any](mapN)(k =>
          if (rnd.nextBoolean()) null else UTF8String.fromString(s"v$k")))))
      val st = maybeNull(new GenericInternalRow(Array[Any](
        UTF8String.fromString(s"name$i"), rnd.nextInt(100))))
      val ll = maybeNull(new GenericArrayData(Array.fill[Any](rnd.nextInt(3))(
        new GenericArrayData(Array.fill[Any](rnd.nextInt(3))(rnd.nextLong())))))
      val ls = maybeNull(new GenericArrayData(Array.fill[Any](rnd.nextInt(3))(
        new GenericInternalRow(Array[Any](rnd.nextDouble())))))
      new GenericInternalRow(Array[Any](arr, m, st, ll, ls))
    }
    val got = writeRead(schema, rows, WriteOptions(maxPageSize = 256))
    assertSame(schema, rows, got)
  }

  // --- projection & page skipping -------------------------------------------

  test("column projection and page filter and limit") {
    val rows = multiRows(5000, 0.05, 5)
    val w = new StrawFileWriter(multiSchema, WriteOptions(maxPageSize = 1000))
    rows.foreach(w.write)
    val in = new ByteArrayInput(w.finish())
    val footer = StrawFileReader.readFooter(in)
    // project 2 of 12 columns
    val proj = Array(3, 7) // c_i32, c_utf8
    val got = StrawFileReader.rowsByField(in, footer, proj).toSeq
    assert(got.length == 5000)
    rows.zip(got).foreach { case (e, a) =>
      assert(extract(e, 3, IntegerType) == extract(a, 0, IntegerType))
    }
    // skip pages 1 and 3
    val kept = StrawFileReader.rowsByField(in, footer, proj, keepPage = p => p != 1 && p != 3).toSeq
    assert(kept.length == 3000)
    // limit
    assert(StrawFileReader.rowsByField(in, footer, proj, limit = 123).size == 123)
    // zero-column projection (count(*) path)
    assert(StrawFileReader.rowsByField(in, footer, Array.empty).size == 5000)
  }

  // --- zone maps -------------------------------------------------------------

  test("page zone maps are sound for sorted data") {
    val schema = StructType(Seq(StructField("v", LongType)))
    val rows = (0 until 4000).map(i => new GenericInternalRow(Array[Any](i.toLong)))
    val w = new StrawFileWriter(schema, WriteOptions(maxPageSize = 1000))
    rows.foreach(w.write)
    val img = w.finish()
    val footer = StrawFileReader.readFooter(new ByteArrayInput(img))
    val pages = footer.columns(0).pages
    assert(pages.length == 4)
    pages.zipWithIndex.foreach { case (p, i) =>
      assert(p.statsKind == StrawFormat.StatsSigned)
      assert(p.min == i * 1000L && p.max == i * 1000L + 999L)
    }
    // hostile counts fail cleanly instead of sizing an allocation or
    // answering wrong: meta starts with numRows i64 | numCols i32 |
    // column 0's offset i64 | column 0's numPages i32, and ends with the
    // extension sections (id u8 | len u32 | payload) — here the ndv
    // sketch (count u32 + registers); a string file's last section is its
    // length stats (flag u8 + sum i64 + max i32)
    val metaStart = img.length - 16 -
      ByteBuffer.wrap(img).order(ByteOrder.LITTLE_ENDIAN).getInt(img.length - 12)
    assert(footer.ndv(0) != null && footer.lens == null)
    val ndvLenAt = img.length - 16 - (4 + NdvSketch.M) - 4
    val strImg = {
      val sw = new StrawFileWriter(StructType(Seq(StructField("s", StringType))),
        WriteOptions())
      (0 until 100).foreach(i =>
        sw.write(new GenericInternalRow(Array[Any](UTF8String.fromString(s"s$i")))))
      sw.finish()
    }
    assert(StrawFileReader.readFooter(new ByteArrayInput(strImg)).lens(0) != null)
    val lenLenAt = strImg.length - 16 - 13 - 4
    val hostiles = Seq(
      (img, metaStart + 8, -1), (img, metaStart + 8, Int.MaxValue), // numCols
      (img, metaStart + 20, -1), (img, metaStart + 20, Int.MaxValue), // numPages
      (img, metaStart + 4, -1), // numRows' high word: a negative row count
      (img, ndvLenAt, 4 + NdvSketch.M - 1), // ndv section shorter than its payload
      (strImg, lenLenAt, 12)) // length-stats section shorter than its payload
    for ((base, at, bad) <- hostiles) {
      val hostile = base.clone()
      ByteBuffer.wrap(hostile).order(ByteOrder.LITTLE_ENDIAN).putInt(at, bad)
      val e = intercept[IllegalArgumentException] {
        StrawFileReader.readFooter(new ByteArrayInput(hostile))
      }
      assert(e.getMessage.contains("corrupt strawboat footer"), s"$at=$bad: ${e.getMessage}")
    }
  }
}
