package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Columnar bulk load: batches from a columnar scan feed the page builders
  * directly. The produced FILE BYTES must be identical to the row path's —
  * page boundaries, codec choices, stats, sketches, everything — since the
  * two paths share every layer below value ingestion. */
class StrawBulkLoadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("straw-bulkload-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawbulk").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def dataBytes(d: String): Seq[(Long, Array[Byte])] =
    StrawIO.listFiles(d).sorted.map { f =>
      val p = java.nio.file.Paths.get(f.stripPrefix("file:"))
      (java.nio.file.Files.size(p), java.nio.file.Files.readAllBytes(p))
    }

  test("columnar and row writes emit byte-identical files") {
    // all flat types + a struct + an array (nested falls back to the
    // batch's row view inside the SAME chunk loop) + nulls everywhere
    val src = s"$dir/src"
    spark.range(100000).select(
      col("id"),
      col("id").cast("int").as("i"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 50)
        .cast("short").as("sh"),
      (col("id") % 2 === 0).as("b"),
      (col("id").cast("double") / 3).as("d"),
      col("id").cast("float").as("f"),
      col("id").cast("decimal(12,2)").as("dec"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("name-"), col("id") % 997)).as("s"),
      to_date(lit("2024-01-01")).as("dt"),
      struct((col("id") % 5).as("a"), concat(lit("x"), col("id") % 3).as("t")).as("st"),
      array(col("id") % 3, col("id") % 7).as("arr"))
      .coalesce(2)
      .write.parquet(src)

    val rowOut = s"$dir/row"
    val colOut = s"$dir/col"
    val df1 = spark.read.parquet(src)
    df1.write.format("strawboat").mode("overwrite").save(rowOut)
    // sanity: the parquet scan really is columnar (otherwise this spec
    // silently compares row path against itself)
    val plan = spark.read.parquet(src).queryExecution.executedPlan
    assert(plan.exists(_.supportsColumnar), plan.treeString)
    StrawBulkLoad.save(spark.read.parquet(src), colOut)

    val a = dataBytes(rowOut)
    val b = dataBytes(colOut)
    assert(a.map(_._1) == b.map(_._1), s"file sizes ${a.map(_._1)} vs ${b.map(_._1)}")
    a.zip(b).foreach { case ((_, ba), (_, bb)) =>
      assert(java.util.Arrays.equals(ba, bb), "file bytes differ")
    }

    // and the data reads back equal to the source
    val got = spark.read.format("strawboat").load(colOut)
    assert(got.count() == 100000)
    assert(got.exceptAll(spark.read.parquet(src)).isEmpty)
    assert(spark.read.parquet(src).exceptAll(got).isEmpty)
  }

  test("row-producing plans fall back to the row path") {
    val out = s"$dir/fallback"
    // a local relation (no columnar scan) must still write correctly
    val df = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("k", "v")
    StrawBulkLoad.save(df, out)
    assert(spark.read.format("strawboat").load(out).count() == 2)
  }

  test("hive-partitioned bulk load: columnar path engages, byte-identical") {
    // clustered input (sorted by the partition column at write) — the
    // conversion shape the run-dispatch is built for
    val src = s"$dir/psrc"
    spark.range(60000).select(
      (col("id") % 4).cast("int").as("part"),
      col("id"),
      (col("id").cast("double") / 7).as("v"),
      concat(lit("s"), col("id") % 131).as("s"))
      .sort("part").coalesce(1)
      .write.parquet(src)

    val rowOut = s"$dir/prow"
    val colOut = s"$dir/pcol"
    spark.read.parquet(src).write.format("strawboat")
      .option("partitionBy", "part").mode("overwrite").save(rowOut)
    val before = StrawBulkLoad.columnarLoads.get()
    StrawBulkLoad.save(spark.read.parquet(src), colOut,
      partitionCols = Seq("part"))
    assert(StrawBulkLoad.columnarLoads.get() == before + 1,
      "partitioned bulk load fell back to the row path")

    // same partition directories, byte-identical data files per partition
    def parts(d: String): Seq[String] =
      StrawIO.listFiles(d).map(f => PartitionLayout.partitionsOf(f)
        .map { case (k, v) => s"$k=${v.getOrElse("null")}" }.mkString("/")).sorted
    assert(parts(colOut) == parts(rowOut))
    assert(parts(colOut).distinct == Seq("part=0", "part=1", "part=2", "part=3"))
    val a = dataBytes(rowOut)
    val b = dataBytes(colOut)
    assert(a.map(_._1) == b.map(_._1), s"file sizes ${a.map(_._1)} vs ${b.map(_._1)}")
    a.zip(b).foreach { case ((_, ba), (_, bb)) =>
      assert(java.util.Arrays.equals(ba, bb), "file bytes differ")
    }

    // partition pruning works on the bulk-loaded table
    val got = spark.read.format("strawboat").load(colOut)
    assert(got.filter(col("part") === 2).count() == 15000)
    assert(got.exceptAll(spark.read.parquet(src)).isEmpty)
    assert(spark.read.parquet(src).exceptAll(got).isEmpty)
  }

  test("unclustered partitioned input stays correct (short runs)") {
    val src = s"$dir/usrc"
    // id % 3 interleaves partition values row by row — worst-case run
    // length 1 through the dispatch loop
    spark.range(5000).select((col("id") % 3).cast("int").as("p"), col("id"))
      .coalesce(1).write.parquet(src)
    val out = s"$dir/ucol"
    val before = StrawBulkLoad.columnarLoads.get()
    StrawBulkLoad.save(spark.read.parquet(src), out, partitionCols = Seq("p"))
    assert(StrawBulkLoad.columnarLoads.get() == before + 1)
    val got = spark.read.format("strawboat").load(out)
    assert(got.count() == 5000)
    assert(got.exceptAll(spark.read.parquet(src)).isEmpty)
    assert(got.filter(col("p") === 1).count() ==
      spark.read.parquet(src).filter(col("p") === 1).count())
  }

  test("bucketed bulk load: columnar path engages, byte-identical") {
    val src = s"$dir/bsrc"
    spark.range(40000).select(
      col("id"),
      (col("id") % 97).as("k"),
      concat(lit("v"), col("id") % 53).as("s"),
      (col("id").cast("double") / 11).as("d"))
      .coalesce(1).write.parquet(src)

    // row-path reference: same single task, clustering suppressed so both
    // paths see the identical row sequence (the bulk loader never shuffles)
    val rowOut = s"$dir/brow"
    spark.read.parquet(src).write.format("strawboat")
      .option("bucketBy", "k").option("buckets", "8")
      .option("distribute", "none")
      .mode("overwrite").save(rowOut)

    val colOut = s"$dir/bcol"
    val before = StrawBulkLoad.columnarLoads.get()
    StrawBulkLoad.save(spark.read.parquet(src), colOut,
      graft.format.WriteOptions(bucketBy = Some("k"), buckets = 8))
    assert(StrawBulkLoad.columnarLoads.get() == before + 1,
      "bucketed bulk load fell back to the row path")

    // same bucket-tagged file names modulo task ids, byte-identical data
    def tags(d: String): Seq[Int] =
      StrawIO.listFiles(d).map(f => StrawBucket.parseTag(f).get.bucket).sorted
    assert(tags(colOut) == tags(rowOut))
    val a = dataBytes(rowOut)
    val b = dataBytes(colOut)
    assert(a.map(_._1) == b.map(_._1), s"file sizes ${a.map(_._1)} vs ${b.map(_._1)}")
    a.zip(b).foreach { case ((_, ba), (_, bb)) =>
      assert(java.util.Arrays.equals(ba, bb), "file bytes differ")
    }

    // layout is live: the sidecar spec records buckets, key-equality
    // pruning engages, and the data round-trips
    val got = spark.read.format("strawboat").load(colOut)
    assert(got.count() == 40000)
    assert(got.exceptAll(spark.read.parquet(src)).isEmpty)
    assert(got.filter(col("k") === 13).count() ==
      spark.read.parquet(src).filter(col("k") === 13).count())
    assert(StrawBucket.specOf(colOut).exists(_._2 == 8),
      "bucket spec sidecar missing after bulk load")
  }

  test("row-path fallback carries the full WriteOptions (bucketed local relation)") {
    val out = s"$dir/bfall"
    val df = spark.createDataFrame((1 to 200).map(i => (i.toLong, i % 7)))
      .toDF("id", "k")
    val before = StrawBulkLoad.columnarLoads.get()
    StrawBulkLoad.save(df, out,
      graft.format.WriteOptions(bucketBy = Some("k"), buckets = 4))
    assert(StrawBulkLoad.columnarLoads.get() == before, "local relation must row-route")
    assert(StrawBucket.specOf(out).exists(_._2 == 4),
      "fallback dropped the bucket layout")
    assert(spark.read.format("strawboat").load(out).count() == 200)
    // a test-only knob has no writer-option spelling: the fallback refuses
    // it rather than write a different layout
    intercept[IllegalArgumentException](StrawWriteOptions.unparse(
      graft.format.WriteOptions(patasRing = Some(true))))
  }
}
