package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Struct-of-flat columns through the VECTORIZED reader: plan shape,
  * value/null fidelity against the format-level row reader, struct-pruned
  * reads, and survivor compaction (deletion vectors) over struct vectors. */
class StructColumnarSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("struct-columnar-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("structcol").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def writeFixture(out: String): Unit = {
    // nulls at every level: null struct rows, null fields inside the struct
    spark.range(2000).select(
      col("id"),
      when(col("id") % 7 =!= 0,
        struct(
          when(col("id") % 5 =!= 0, col("id") * 2).as("a"),
          concat(lit("s"), col("id")).as("b"),
          (col("id") % 3 === 0).as("flag"))).as("m"),
      col("id").cast("double").as("x"))
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "256").save(out)
  }

  test("struct reads are vectorized and agree with the expected values") {
    val out = s"$dir/t1"
    writeFixture(out)
    val df = spark.read.format("strawboat").load(out)
    // the plan actually takes the columnar path
    val plan = df.select("id", "m", "x").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val rows = df.select("id", "m.a", "m.b", "m.flag", "x")
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 2000)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 0) {
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3), s"id=$id")
      } else {
        if (id % 5 == 0) assert(r.isNullAt(1), s"id=$id")
        else assert(r.getLong(1) == id * 2, s"id=$id")
        assert(r.getString(2) == s"s$id", s"id=$id")
        assert(r.getBoolean(3) == (id % 3 == 0), s"id=$id")
      }
      assert(r.getDouble(4) == id.toDouble)
    }
    // whole-struct null semantics survive
    assert(df.filter(col("m").isNull).count() == 2000 / 7 + 1)
  }

  test("struct-pruned columnar read decodes only the requested leaves") {
    val out = s"$dir/t1"
    val df = spark.read.format("strawboat").load(out)
    val pruned = df.select(col("id"), col("m.b").as("b"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val got = pruned.collect().sortBy(_.getLong(0))
    got.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 0) assert(r.isNullAt(1)) else assert(r.getString(1) == s"s$id")
    }
  }

  test("deletion vectors: struct survivors compact correctly in columnar") {
    val out = s"$dir/t2"
    writeFixture(out)
    val res = StrawDelete.delete(spark, out,
      Seq(org.apache.spark.sql.sources.LessThan("id", 500L)))
    assert(res.deletedRows == 500 && res.dvFiles > 0 && res.rewrittenFiles == 0)
    val df = spark.read.format("strawboat").load(out)
    val plan = df.select("id", "m").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val rows = df.select("id", "m.a", "m.b").collect().sortBy(_.getLong(0))
    assert(rows.length == 1500 && rows.head.getLong(0) == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 0) assert(r.isNullAt(2))
      else {
        assert(r.getString(2) == s"s$id")
        if (id % 5 != 0) assert(r.getLong(1) == id * 2)
      }
    }
  }

  test("array columns vectorize: values, nulls, empties, variable lengths") {
    val out = s"$dir/arr"
    spark.range(3000).select(
      col("id"),
      when(col("id") % 11 =!= 0,
        when(col("id") % 5 === 0, array().cast("array<bigint>"))
          .otherwise(expr("sequence(0L, id % 7)"))).as("nums"),
      when(col("id") % 3 =!= 0,
        split(concat(lit("w"), col("id"), lit(" x y")), " ")).as("words"))
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "512").save(out)
    val df = spark.read.format("strawboat").load(out)
    val plan = df.select("id", "nums", "words").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    val rows = df.select("id", "nums", "words").collect().sortBy(_.getLong(0))
    assert(rows.length == 3000)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 11 == 0) assert(r.isNullAt(1), s"id=$id")
      else if (id % 5 == 0) assert(r.getSeq[Long](1).isEmpty, s"id=$id")
      else assert(r.getSeq[Long](1) == (0L to id % 7), s"id=$id")
      if (id % 3 == 0) assert(r.isNullAt(2), s"id=$id")
      else assert(r.getSeq[String](2) == Seq(s"w$id", "x", "y"), s"id=$id")
    }
    // aggregation over exploded arrays agrees with the closed form
    val total = df.selectExpr("explode(nums) AS n").agg(sum("n")).collect()(0).getLong(0)
    val expected = (0L until 3000L).filter(i => i % 11 != 0 && i % 5 != 0)
      .map(i => (0L to i % 7).sum).sum
    assert(total == expected)
    // a filtering partition (deletion vector) STAYS columnar: array
    // survivors compact via the element-position recursion
    val res = StrawDelete.delete(spark, out,
      Seq(org.apache.spark.sql.sources.LessThan("id", 1000L)))
    assert(res.dvFiles > 0)
    val after = spark.read.format("strawboat").load(out)
    val planAfter = after.select("id", "nums", "words")
      .queryExecution.executedPlan.toString
    assert(planAfter.contains("ColumnarToRow"),
      s"DV'd array partition left the columnar path:\n$planAfter")
    assert(after.count() == 2000)
    // full row-parity sweep over every surviving row, all three shapes
    // (null array, empty array, variable lengths) — compaction must not
    // shift offsets or lengths
    val surv = after.select("id", "nums", "words").collect().sortBy(_.getLong(0))
    assert(surv.length == 2000 && surv.head.getLong(0) == 1000)
    surv.foreach { r =>
      val id = r.getLong(0)
      if (id % 11 == 0) assert(r.isNullAt(1), s"id=$id")
      else if (id % 5 == 0) assert(r.getSeq[Long](1).isEmpty, s"id=$id")
      else assert(r.getSeq[Long](1) == (0L to id % 7), s"id=$id")
      if (id % 3 == 0) assert(r.isNullAt(2), s"id=$id")
      else assert(r.getSeq[String](2) == Seq(s"w$id", "x", "y"), s"id=$id")
    }
    // consumed-filter compaction (the embeddings hot path: filter on a
    // row-aligned column while reading the vector column)
    val filtered = after.filter(col("id") % 2 === 1).select("id", "nums", "words")
    assert(filtered.count() == 1000)
    assert(filtered.filter(col("id") === 1501).collect()(0)
      .getSeq[String](2) == Seq("w1501", "x", "y"))
  }

  test("array<struct> with long arrays survives DV compaction (child capacity)") {
    // arrays average ~8 elements — past the 4x-rows child capacity that
    // OnHeapColumnVector allocates for an array's element vector. Both the
    // page fill and the survivor compaction must grow struct-field vectors
    // explicitly (reserve() does not propagate to struct children).
    val out = s"$dir/arrstruct"
    spark.range(2000).select(
      col("id"),
      when(col("id") % 13 =!= 0,
        expr("transform(sequence(0L, 6 + id % 4), " +
          "e -> named_struct('a', e * 10 + id, 'b', concat('v', e)))"))
        .as("items"))
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "256").save(out)
    val df = spark.read.format("strawboat").load(out)
    val plan = df.select("id", "items").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    def check(rows: Array[org.apache.spark.sql.Row]): Unit = rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 13 == 0) assert(r.isNullAt(1), s"id=$id")
      else {
        val items = r.getSeq[org.apache.spark.sql.Row](1)
        assert(items.length == 7 + (id % 4).toInt, s"id=$id")
        items.zipWithIndex.foreach { case (it, e) =>
          assert(it.getLong(0) == e * 10 + id, s"id=$id e=$e")
          assert(it.getString(1) == s"v$e", s"id=$id e=$e")
        }
      }
    }
    check(df.select("id", "items").collect().sortBy(_.getLong(0)))
    // deletion vector → survivor compaction with >4x element survivors
    val res = StrawDelete.delete(spark, out,
      Seq(org.apache.spark.sql.sources.LessThan("id", 600L)))
    assert(res.dvFiles > 0)
    val after = spark.read.format("strawboat").load(out)
    val planAfter = after.select("id", "items")
      .queryExecution.executedPlan.toString
    assert(planAfter.contains("ColumnarToRow"),
      s"DV'd array<struct> partition left the columnar path:\n$planAfter")
    val surv = after.select("id", "items").collect().sortBy(_.getLong(0))
    assert(surv.length == 1400 && surv.head.getLong(0) == 600)
    check(surv)
    // consumed-filter compaction over the same shape
    val filtered = after.filter(col("id") % 2 === 1).select("id", "items")
    assert(filtered.count() == 700)
    check(filtered.collect())
  }

  test("columnar and row readers return identical struct results") {
    import graft.format.StrawFileReader
    val out = s"$dir/t1"
    val vec = spark.read.format("strawboat").load(out)
      .select("id", "m").collect().map(_.toString).sorted
    // the format-level reference reader over the table's live files
    val row = StrawLog.snapshot(out).get.entries.map(_.meta.path).flatMap { f =>
      val in = StrawIO.open(f)
      try {
        val footer = StrawFileReader.readFooter(in)
        val idx = Array("id", "m").map(footer.schema.fieldIndex)
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(org.apache.spark.sql.types.StructType(
            idx.map(footer.schema.fields(_))))
        StrawFileReader.rowsByField(in, footer, idx).map(toRow(_).toString).toVector
      } finally in.close()
    }.sorted
    assert(vec.length == 2000)
    assert(vec.toSeq == row)
  }
}
