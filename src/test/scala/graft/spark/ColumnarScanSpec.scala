package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, LessThan}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Every strawboat scan is columnar: maps, wide decimals, widened and
  * nested-evolved files, keyed partitions and pushed Top-N all plan a
  * columnar `BatchScanExec` and return the source frame's rows; the reader
  * reports its page metrics. */
class ColumnarScanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("columnar-scan-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("colscan").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def read(path: String): DataFrame = spark.read.format("strawboat").load(path)

  /** The query's strawboat scans must all be columnar, and there must be one. */
  private def assertColumnar(df: DataFrame): Unit = {
    val scans = ColumnarScanSpec.strawScans(df)
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    scans.foreach(s => assert(s.supportsColumnar, s"row scan:\n${s.treeString}"))
  }

  /** Rows of both frames, sorted by their string form (maps have no set ops). */
  private def assertSameRows(got: DataFrame, expect: DataFrame): Unit = {
    def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(expect))
  }

  private def withConsumedFilters(body: => Unit): Unit = {
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try body finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("map column under a consumed filter and a deletion vector reads columnar") {
    val out = s"$dir/map"
    val src = spark.range(3000).select(col("id"), (col("id") % 3).as("k"),
      map(col("id") % 7, concat(lit("v"), col("id"))).as("m"),
      when(col("id") % 11 =!= 0, map(lit("a"), col("id"), lit("b"), col("id") * 2))
        .as("m2"))
    src.coalesce(1).write.format("strawboat").option("maxPageSize", "256")
      .mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 500L): Filter)): Unit
    withConsumedFilters {
      // k = 1 keeps a third of every page: each page compacts its survivors
      val q = read(out).filter(col("k") === 1L)
      val plan = q.queryExecution.executedPlan.toString
      assert("exactFilters=\\[[^\\]]*EqualTo\\(k,1\\)".r.findFirstIn(plan).nonEmpty, plan)
      assertColumnar(q)
      assertSameRows(q, src.filter(col("id") >= 500L && col("k") === 1L))
    }
    assertSameRows(read(out), src.filter(col("id") >= 500L))
  }

  test("decimal(38,10) column reads columnar, plain and compacted") {
    val out = s"$dir/dec38"
    val src = spark.range(2000).select(col("id"),
      when(col("id") % 13 =!= 0, (col("id") * 12345.6789).cast("decimal(38,10)"))
        .as("d"))
    src.coalesce(1).write.format("strawboat").option("maxPageSize", "256")
      .mode("overwrite").save(out)
    assertColumnar(read(out))
    assertSameRows(read(out), src)
    withConsumedFilters {
      val cut = new java.math.BigDecimal("5000000")
      val q = read(out).filter(col("d") < cut)
      assertColumnar(q)
      assertSameRows(q, src.filter(col("d") < cut))
    }
  }

  test("int->long and float->double widened table reads columnar") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/widen"
    val gen1 = (0 until 500).map(i => (i, i / 4.0f)).toDF("id", "score")
    val gen2 = (500L until 900L).map(i => (i * 10000000L, i / 8.0)).toDF("id", "score")
    gen1.write.format("strawboat").option("maxPageSize", "128").mode("append").save(out)
    gen2.write.format("strawboat").option("maxPageSize", "128")
      .option("mergeSchema", "true").mode("append").save(out)
    val expect = gen1.select(col("id").cast("long"), col("score").cast("double"))
      .union(gen2)
    assertColumnar(read(out))
    assertSameRows(read(out), expect)
    withConsumedFilters {
      // the predicate sees the widened values of the old generation
      val q = read(out).filter(col("id") > 100L && col("score") < 80.0)
      assertColumnar(q)
      assertSameRows(q, expect.filter(col("id") > 100L && col("score") < 80.0))
    }
  }

  test("struct that gained a field reads columnar") {
    val out = s"$dir/nested"
    val gen1 = spark.range(300).select(col("id"),
      when(col("id") % 9 =!= 0, struct((col("id") * 2).cast("int").as("a"),
        concat(lit("x"), col("id")).as("b"))).as("m"))
    val gen2 = spark.range(300, 600).select(col("id"),
      struct((col("id") * 2).as("a"), concat(lit("x"), col("id")).as("b"),
        (col("id") + 0.5).as("c")).as("m"))
    gen1.coalesce(1).write.format("strawboat").option("maxPageSize", "128")
      .mode("overwrite").save(out)
    gen2.coalesce(1).write.format("strawboat").option("maxPageSize", "128")
      .option("mergeSchema", "true").mode("append").save(out)
    val expect = gen1.select(col("id"), when(col("m").isNotNull,
      struct(col("m.a").cast("long").as("a"), col("m.b").as("b"),
        lit(null).cast("double").as("c"))).as("m"))
      .union(gen2)
    assertColumnar(read(out))
    assertSameRows(read(out), expect)
    assertSameRows(read(out).select("id", "m.a", "m.c"), expect.select("id", "m.a", "m.c"))
  }

  test("keyGrouped read is columnar") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val out = s"$dir/keyed"
      val src = spark.range(2000).select(col("id"),
        (col("id") % 4).cast("int").as("p"), concat(lit("s"), col("id")).as("s"))
      src.write.format("strawboat").option("partitionBy", "p")
        .option("maxPageSize", "128").mode("overwrite").save(out)
      val keyed = spark.read.format("strawboat").option("keyGrouped", "true").load(out)
      assert(ColumnarScanSpec.strawScans(keyed).exists(_.inputPartitions
        .exists(_.isInstanceOf[StrawKeyedPartition])))
      assertColumnar(keyed)
      assertSameRows(keyed, src)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("pushed top-n reads columnar") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/topn"
    val src = (0 until 2000).map(i => ((i * 7919L) % 2000, s"t$i")).toDF("v", "tag")
    src.coalesce(2).write.format("strawboat").option("maxPageSize", "128")
      .mode("overwrite").save(out)
    def top(d: DataFrame): DataFrame = d.orderBy(col("v").desc).limit(9)
    val q = top(read(out))
    assert(q.queryExecution.executedPlan.toString.contains("topN=9@v-"))
    assertColumnar(q)
    assert(q.collect().toSeq == top(src).collect().toSeq)
  }

  test("a multi-page scan reports the pages it read") {
    val out = s"$dir/metrics"
    spark.range(5000).select(col("id"), concat(lit("s"), col("id")).as("s"))
      .coalesce(1).write.format("strawboat").option("maxPageSize", "256")
      .mode("overwrite").save(out)
    val q = read(out).select(sum(length(col("s"))))
    assert(q.collect()(0).getLong(0) > 0)
    assert(ColumnarScanSpec.scanMetric(q, "pagesRead") > 0)
  }
}

object ColumnarScanSpec extends AdaptiveSparkPlanHelper {
  /** The strawboat `BatchScanExec`s of `df`'s executed plan. */
  def strawScans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[StrawScan] => b
    }

  /** A strawboat scan metric summed over the executed plan (run `df` first). */
  def scanMetric(df: DataFrame, name: String): Long =
    strawScans(df).flatMap(_.metrics.get(name)).map(_.value).sum
}
