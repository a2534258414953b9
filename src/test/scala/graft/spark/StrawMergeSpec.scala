package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, LessThan}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import scala.jdk.CollectionConverters._

/** MERGE INTO ([[StrawMerge]]): keyed upsert over the merge-on-read
  * machinery — matched target rows die via deletion vectors, source rows
  * append, one atomic commit. */
class StrawMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("strawmerge").toString
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawmerge-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // SQL MERGE INTO runs through the extensions' command rewrite
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.catalog.straw", classOf[StrawCatalog].getName)
      .config("spark.sql.catalog.straw.warehouse", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  /** `body`'s result and the number of Spark jobs it submitted, counted
    * under a fresh job group once the listener bus has caught up. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val r = try body finally sc.clearJobGroup()
    org.apache.spark.TestBus.drain(sc)
    (r, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** A three-file target of 1,800 rows, keys 0..1799. */
  private def writeTarget(out: String): Unit = {
    val sp = spark; import sp.implicits._
    (0L until 1800L).map(i => (i, s"old$i", i * 10)).toDF("k", "s", "v")
      .repartitionByRange(3, col("k"))
      .write.format("strawboat").mode("overwrite").save(out)
  }

  /** 100 updates of existing keys (spread over two files) + 50 new keys. */
  private val upsertRows: Seq[Row] =
    ((550L until 650L) ++ (5000L until 5050L)).map(i => Row(i, s"new$i", i * 100))

  test("upsert: matched rows replaced, unmatched inserted, one atomic commit") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/upsert"
    val target = (0L until 1000L).map(i => (i, s"old$i", i * 10)).toDF("k", "s", "v")
    target.repartition(2).write.format("strawboat").mode("overwrite").save(out)
    val before = StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap
    // 100 updates of existing keys + 50 brand-new keys
    val source = ((900L until 1000L) ++ (2000L until 2050L))
      .map(i => (i, s"new$i", i * 100)).toDF("k", "s", "v")
    val res = StrawMerge.merge(spark, out, source, keys = Seq("k"))
    assert(res.matchedRows == 100, res.toString)
    assert(res.insertedRows == 50 && res.replacedRows == 100, res.toString)
    assert(res.dvFiles >= 1 && res.newFiles >= 1, res.toString)
    // merge-on-read: original files untouched
    before.keys.foreach(p => assert(
      StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap.get(p)
        == before.get(p), s"original changed: $p"))
    // result = source ∪ (target minus matched keys) — multiset equality
    val expect = source.unionAll(
      target.join(source.select("k"), Seq("k"), "left_anti"))
    val back = read(out)
    assert(back.count() == 1050)
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    assert(StrawLog.history(out).head.operation == "merge")
  }

  test("whenMatched=Delete removes by key; Keep inserts only the unmatched") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/delkeys"
    (0L until 500L).map(i => (i, s"r$i")).toDF("k", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    // delete-merge: drop keys 0..49, insert nothing
    val dels = (0L until 50L).map(i => (i, "ignored")).toDF("k", "s")
    val res = StrawMerge.merge(spark, out, dels, Seq("k"),
      whenMatched = StrawMerge.Delete, insertNotMatched = false)
    assert(res.matchedRows == 50 && res.insertedRows == 0, res.toString)
    assert(read(out).count() == 450)
    assert(read(out).filter(col("k") < 50L).count() == 0)
    // insert-only merge (Keep): existing keys skipped, fresh ones land
    val ins = ((400L until 410L) ++ (9000L until 9010L))
      .map(i => (i, s"ins$i")).toDF("k", "s")
    val res2 = StrawMerge.merge(spark, out, ins, Seq("k"),
      whenMatched = StrawMerge.Keep)
    // Keep matches (to gate inserts) but never mutates the target
    assert(res2.matchedRows == 10 && res2.dvFiles == 0 && res2.removedFiles == 0,
      res2.toString)
    assert(read(out).count() == 460)
    // the 10 existing keys kept their ORIGINAL rows
    assert(read(out).filter(col("k").between(400L, 409L) &&
      col("s").startsWith("ins")).count() == 0)
    assert(read(out).filter(col("k") >= 9000L).count() == 10)
    // delete-merge of every remaining key: every file goes and nothing is
    // inserted — the table must still read back, empty, with its schema
    val all = read(out).select(col("k"), lit("ignored").as("s"))
    val res3 = StrawMerge.merge(spark, out, all, Seq("k"),
      whenMatched = StrawMerge.Delete, insertNotMatched = false)
    assert(res3.matchedRows == 460 && res3.insertedRows == 0, res3.toString)
    val emptied = read(out)
    assert(emptied.count() == 0)
    assert(emptied.schema.fieldNames.toSeq == Seq("k", "s"))
  }

  test("duplicate source keys are rejected; null keys insert but never match") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/dupnull"
    // nullable key column, so a null-keyed source row may insert
    (0L until 100L).map(i => (Option(i), s"r$i")).toDF("k", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    // a nullable source column into a NON-nullable target column is
    // rejected up front (nulls the read schema would then deny)
    val strict = s"$dir/dupnullStrict"
    (0L until 10L).map(i => (i, s"r$i")).toDF("k", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(strict)
    intercept[IllegalArgumentException] {
      StrawMerge.merge(spark, strict,
        Seq((Option(1L), "a")).toDF("k", "s"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      StrawMerge.merge(spark, out,
        Seq((Option(1L), "a"), (Option(1L), "b")).toDF("k", "s"), Seq("k"))
    }
    val src = Seq((Some(5L), "upd5"), (None, "nullkey")).toDF("k", "s")
    val res = StrawMerge.merge(spark, out, src, Seq("k"))
    assert(res.matchedRows == 1, res.toString)
    val back = read(out)
    assert(back.count() == 101)
    assert(back.filter(col("k").isNull).count() == 1)
    assert(back.filter(col("k") === 5L).select("s").as[String].head() == "upd5")
  }

  test("hive-partitioned target: inserts land in their value directories") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/hive"
    (0L until 300L).map(i => (i, s"g${i % 3}", i)).toDF("k", "g", "v")
      .write.format("strawboat").option("partitionBy", "g")
      .mode("overwrite").save(out)
    val src = Seq((7L, "g1", 777L), (1000L, "g2", 1000L)).toDF("k", "g", "v")
    val res = StrawMerge.merge(spark, out, src, Seq("k"))
    assert(res.matchedRows == 1 && res.insertedRows == 1 &&
      res.replacedRows == 1, res.toString)
    val back = read(out)
    assert(back.count() == 301)
    assert(back.filter(col("k") === 7L).select("v").as[Long].head() == 777L)
    // layout preserved: every data file sits under a g=<value> directory
    StrawIO.listFilesMeta(out).foreach { m =>
      assert(PartitionLayout.partitionOf(m.path).exists(_._1 == "g"), m.path)
    }
    // and partition pruning still answers correctly
    assert(back.filter(col("g") === "g2").count() ==
      (0L until 300L).count(_ % 3 == 2) + 1)
  }

  test("merge composes with existing deletion vectors") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/withdv"
    (0L until 400L).map(i => (i, s"r$i")).toDF("k", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("k", 100L): Filter)): Unit
    // keys 0..149: 0..99 are dead (cannot match), 100..149 update
    val src = (0L until 150L).map(i => (i, s"m$i")).toDF("k", "s")
    val res = StrawMerge.merge(spark, out, src, Seq("k"))
    assert(res.matchedRows == 50, s"dead rows must not match: $res")
    val back = read(out)
    // 300 live − 50 replaced + 150 source rows (updates + inserts)
    assert(back.count() == 400)
    assert(back.filter(col("k") === 120L).select("s").as[String].head() == "m120")
    assert(back.filter(col("k") === 50L).select("s").as[String].head() == "m50")
  }

  test("a driver-resident source merges in two jobs: probe and stage") {
    val out = s"$dir/local2jobs"
    writeTarget(out)
    val src = spark.createDataFrame(upsertRows.asJava, read(out).schema)
    val (res, jobs) = jobsOf(StrawMerge.merge(spark, out, src, Seq("k")))
    assert(jobs == 2, s"$jobs jobs for a merge from local rows")
    assert(res.matchedRows == 100 && res.insertedRows == 50 &&
      res.replacedRows == 100 && !res.distributedSource, res.toString)
    assert(read(out).count() == 1850)
    assert(read(out).filter(col("s").startsWith("new")).count() == 150)
  }

  test("SQL MERGE from VALUES merges in two jobs") {
    spark.sql("CREATE TABLE straw.vals (k BIGINT, s STRING, v BIGINT)")
    spark.sql("INSERT INTO straw.vals SELECT id, concat('old', id), id * 10 FROM range(0, 1800, 1, 3)")
    assert(StrawIO.listFiles(s"$dir/warehouse/vals").count(!_.contains("part-empty")) == 3)
    // INT literals: the rewrite's casts to BIGINT fold into the relation
    val (_, jobs) = jobsOf(spark.sql(
      """MERGE INTO straw.vals AS t
        |USING (SELECT * FROM VALUES (5, 'new5', 50), (700, 'new700', 7000),
        |  (9000, 'new9000', 90000) AS vals(k, s, v)) AS src
        |ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(jobs == 2, s"$jobs jobs for MERGE … USING (VALUES …)")
    val back = spark.table("straw.vals")
    assert(back.count() == 1801)
    assert(back.filter(col("s").startsWith("new")).orderBy("k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((5L, 50L), (700L, 7000L), (9000L, 90000L)))
  }

  test("a non-local source keeps the checkpoint path and merges the same") {
    val viaLocal = s"$dir/viaLocal"
    val viaRdd = s"$dir/viaRdd"
    writeTarget(viaLocal)
    writeTarget(viaRdd)
    val schema = read(viaLocal).schema
    val local = StrawMerge.merge(spark, viaLocal,
      spark.createDataFrame(upsertRows.asJava, schema), Seq("k"))
    val (distributed, jobs) = jobsOf(StrawMerge.merge(spark, viaRdd,
      spark.createDataFrame(spark.sparkContext.parallelize(upsertRows, 2), schema),
      Seq("k")))
    // materialize, gate and key collect run before the probe
    assert(jobs > 2, s"$jobs jobs: a non-local source must be materialized")
    // the number of written files follows the source's partitioning
    assert(distributed.copy(newFiles = 0) == local.copy(newFiles = 0),
      s"$distributed vs $local")
    val a = read(viaLocal)
    val b = read(viaRdd)
    assert(a.count() == 1850 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
