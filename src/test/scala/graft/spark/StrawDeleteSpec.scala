package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Row-level DELETE ([[StrawDelete]]): SQL 3VL semantics,
  * cost proportional to files containing matches (pruning proof by
  * corruption), atomic log switch, schema-evolution behavior, and the
  * all-rows-deleted edge. */
class StrawDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawdelete-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawdelete").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  test("delete removes exactly the matching rows (multiset)") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/basic"
    val src = (0L until 5000L).map(i =>
      (i, i % 100, if (i % 11 == 0) None else Some(s"u${i % 7}")))
      .toDF("id", "bucket", "user")
    src.repartition(3).write.format("strawboat").mode("overwrite").save(out)
    val res = StrawDelete.delete(spark, out,
      Seq(EqualTo("user", "u3"): Filter))
    val expectDeleted = src.filter(col("user") === "u3").count()
    assert(res.deletedRows == expectDeleted, res.toString)
    val back = read(out)
    val expect = src.filter(col("user") =!= "u3" || col("user").isNull)
    assert(back.count() == expect.count())
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // 3VL: null users survived an equality delete
    assert(back.filter(col("user").isNull).count() == src.filter(col("user").isNull).count())
    // the switch was one atomic log version with the delete operation
    assert(StrawLog.history(out).head.operation == "delete")
  }

  test("files that provably cannot match cost zero IO (corruption proof)") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/pruned"
    // three disjoint id ranges, one file each — stats separate them
    for (g <- 0 until 3)
      (g * 1000L until (g + 1) * 1000L).map(i => (i, s"row-$i")).toDF("id", "s")
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    val before = StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap
    // corrupt the DATA pages of the two non-matching files: if delete reads
    // them, it fails; if pruning works, they are never opened. Select them
    // by their OWN stats (max id < 2500), not by file-name order — task ids
    // in names are unpadded, so lexicographic order is not append order
    val matchless = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".strb"))
      .filter { f =>
        val in = new graft.format.LocalFileInput(f.getPath)
        val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
        val idIdx = footer.schema.fieldIndex("id")
        footer.columns(idIdx).pages.forall(_.max < 2500L)
      }
    assert(matchless.length == 2, s"expected 2 matchless files, got ${matchless.length}")
    for (f <- matchless) {
      val in = new graft.format.LocalFileInput(f.getPath)
      val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
      val raf = new java.io.RandomAccessFile(f, "rw")
      try {
        for (c <- footer.columns.indices; p <- footer.columns(c).pages.indices
             if footer.columns(c).pages(p).compLen > 0) {
          raf.seek(footer.columns(c).pageOffsets(p))
          raf.write(Array.fill(math.min(16,
            footer.columns(c).pages(p).compLen.toInt))(0x5A.toByte))
        }
      } finally raf.close()
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
    }
    // the corrupted files hold ids 0..1999; delete from the third range only
    val res = StrawDelete.delete(spark, out,
      Seq(GreaterThanOrEqual("id", 2500L): Filter))
    assert(res.deletedRows == 500, res.toString)
    assert(res.prunedFiles >= 2, s"expected the matchless files pruned: $res")
    // untouched files keep their byte identity (path, mtime, len)
    val after = StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap
    for (f <- matchless) {
      val q = StrawIO.fs(out).makeQualified(new org.apache.hadoop.fs.Path(f.getPath)).toString
      assert(after.get(q) == before.get(q), s"untouched file changed: $q")
    }
  }

  test("schema evolution: files lacking the condition column keep all rows") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/evolved"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("append").save(out)
    Seq((4L, "d", 9.5), (5L, "e", -1.0)).toDF("id", "s", "score")
      .coalesce(1).write.format("strawboat").option("mergeSchema", "true")
      .mode("append").save(out)
    val res = StrawDelete.delete(spark, out,
      Seq(GreaterThan("score", 0.0): Filter))
    assert(res.deletedRows == 1, res.toString) // only (4, d, 9.5)
    val back = read(out).select("id").as[Long].collect().sorted
    assert(back.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("rewrites preserve hive partition layout and pruning") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/hive"
    (0L until 3000L).map(i => (i, s"g${i % 3}"))
      .toDF("id", "g")
      .write.format("strawboat").option("partitionBy", "g")
      .mode("overwrite").save(out)
    val res = StrawDelete.delete(spark, out,
      Seq(And(EqualTo("g", "g1"), LessThan("id", 1500L)): Filter))
    assert(res.deletedRows == (0L until 1500L).count(_ % 3 == 1), res.toString)
    // partition directories survive; only g=g1 was touched
    val subdirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    assert(subdirs.toSeq == Seq("g=g0", "g=g1", "g=g2"))
    assert(res.prunedFiles >= 2, s"other partitions must prune: $res")
    val back = read(out)
    assert(back.filter(col("g") === "g1").count() == (1500L until 3000L).count(_ % 3 == 1))
    assert(back.count() == 3000 - res.deletedRows)
  }

  test("page blooms survive the rewrite") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/bloomkeep"
    (0L until 4000L).map(i => (i, s"key-$i")).toDF("id", "key")
      .coalesce(1).write.format("strawboat").mode("overwrite")
      .option("bloomColumns", "key").option("maxPageSize", "500").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 100L): Filter)) : Unit
    val file = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    val in = new graft.format.LocalFileInput(file.getPath)
    val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
    val keyIdx = footer.schema.fieldIndex("key")
    assert(footer.columns(keyIdx).pages.forall(_.bloom != null),
      "rewrite dropped the key column's blooms")
    assert(read(out).count() == 3900)
  }

  test("deleting every row leaves a readable empty table; no-match is a no-op") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/empty"
    (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format("strawboat").mode("overwrite").save(out)
    // no-match: version unchanged, nothing rewritten
    val v0 = StrawLog.latestVersion(out)
    val none = StrawDelete.delete(spark, out, Seq(EqualTo("id", -1L): Filter))
    assert(none.deletedRows == 0 && none.rewrittenFiles == 0)
    assert(StrawLog.latestVersion(out) == v0, "a no-op delete must not commit")
    // full delete: empty but self-describing
    val all = StrawDelete.delete(spark, out, Seq(IsNotNull("id"): Filter))
    assert(all.deletedRows == 100, all.toString)
    val back = read(out)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("unsupported or empty conditions are rejected up front") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/reject"
    Seq((1L, "a")).toDF("id", "s").write.format("strawboat").mode("overwrite").save(out)
    intercept[IllegalArgumentException] {
      StrawDelete.delete(spark, out, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      StrawDelete.delete(spark, out, Seq(EqualTo("nope", 1): Filter))
    }
  }
}
