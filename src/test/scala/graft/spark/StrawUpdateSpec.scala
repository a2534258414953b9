package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Row-level UPDATE ([[StrawUpdate]]): assignment semantics
  * under SQL 3VL, redaction-by-null, pruning, partition-column rejection,
  * and assignment validation. */
class StrawUpdateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawupdate-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawupdate").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  test("update rewrites exactly the matching rows (multiset)") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/basic"
    val src = (0L until 4000L).map(i =>
      (i, if (i % 13 == 0) None else Some(s"user-$i@mail.example"), i % 50))
      .toDF("id", "email", "score")
    src.repartition(3).write.format("strawboat").mode("overwrite").save(out)
    // redact emails of high scorers: set to null (3VL: null scores
    // don't match and keep their email)
    val res = StrawUpdate.update(spark, out,
      Seq(GreaterThanOrEqual("score", 40L): Filter),
      Map("email" -> null))
    val expectUpdated = src.filter(col("score") >= 40).count()
    assert(res.updatedRows == expectUpdated, res.toString)
    val back = read(out)
    val expect = src.withColumn("email",
      when(col("score") >= 40, lit(null)).otherwise(col("email")))
    assert(back.count() == src.count())
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    assert(StrawLog.history(out).head.operation == "update")
  }

  test("string and numeric assignments convert to the column type") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/types"
    (0L until 100L).map(i => (i, s"v$i", i.toDouble / 2))
      .toDF("id", "s", "d")
      .write.format("strawboat").mode("overwrite").save(out)
    val res = StrawUpdate.update(spark, out,
      Seq(LessThan("id", 10L): Filter),
      Map("s" -> "REDACTED", "d" -> java.lang.Double.valueOf(-1.0)))
    assert(res.updatedRows == 10)
    val back = read(out)
    assert(back.filter(col("s") === "REDACTED").count() == 10)
    assert(back.filter(col("d") === -1.0).count() == 10)
    assert(back.filter(col("id") >= 10 && col("s") === "REDACTED").count() == 0)
  }

  test("files that provably cannot match are untouched") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/pruned"
    for (g <- 0 until 3)
      (g * 1000L until (g + 1) * 1000L).map(i => (i, s"row-$i")).toDF("id", "s")
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    val before = StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap
    val res = StrawUpdate.update(spark, out,
      Seq(GreaterThanOrEqual("id", 2500L): Filter), Map("s" -> "x"))
    assert(res.updatedRows == 500 && res.prunedFiles >= 2, res.toString)
    val after = StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap
    // merge-on-read: EVERY original file stays byte-identical — the matched
    // file's old row versions die via its deletion vector, the updated
    // versions append as a new file
    assert(before.keySet.subsetOf(after.keySet), "an original file disappeared")
    assert(before.keySet.forall(p => before(p) == after(p)), "an original changed")
    assert((after.keySet -- before.keySet).nonEmpty, "expected an appended file")
    assert(res.dvFiles == 1, res.toString)
  }

  test("expression assignments evaluate against the pre-update row") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/exprs"
    (0L until 200L).map(i => (i, s"word$i", i * 10))
      .toDF("id", "s", "v")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    // swap-flavored: both right-hand sides must see the OLD row
    val res = StrawUpdate.updateExpressions(spark, out,
      Seq(LessThan("id", 50L): Filter),
      Map("s" -> "upper(s)", "v" -> "v + id"))
    assert(res.updatedRows == 50, res.toString)
    val back = read(out).orderBy("id").collect()
    assert(back(7).getString(1) == "WORD7")
    assert(back(7).getLong(2) == 77L) // 70 + 7, from the pre-update row
    assert(back(60).getString(1) == "word60")
    assert(back(60).getLong(2) == 600L)
    // bad expressions are rejected before anything is touched
    intercept[IllegalArgumentException] {
      StrawUpdate.updateExpressions(spark, out,
        Seq(LessThan("id", 5L): Filter), Map("s" -> "nope(s)"))
    }
    intercept[IllegalArgumentException] {
      // type mismatch without an explicit cast
      StrawUpdate.updateExpressions(spark, out,
        Seq(LessThan("id", 5L): Filter), Map("v" -> "'x'"))
    }
    intercept[IllegalArgumentException] {
      // non-deterministic
      StrawUpdate.updateExpressions(spark, out,
        Seq(LessThan("id", 5L): Filter), Map("v" -> "cast(rand() * 10 as long)"))
    }
    // time-dependent foldables are folded ONCE on the driver: every updated
    // row gets the SAME statement-scoped value (no per-row/per-retry drift)
    val res2 = StrawUpdate.updateExpressions(spark, out,
      Seq(LessThan("id", 5L): Filter),
      Map("v" -> "cast(unix_micros(current_timestamp()) as long)"))
    assert(res2.updatedRows == 5, res2.toString)
    val stamped = read(out).filter("id < 5").select("v").collect().map(_.getLong(0))
    assert(stamped.length == 5 && stamped.distinct.length == 1,
      s"current_timestamp must be statement-scoped, got ${stamped.toSeq}")
  }

  test("updating the hive partition column is rejected; other columns work") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/hive"
    (0L until 900L).map(i => (i, s"g${i % 3}", i * 2))
      .toDF("id", "g", "v")
      .write.format("strawboat").option("partitionBy", "g")
      .mode("overwrite").save(out)
    intercept[IllegalArgumentException] {
      StrawUpdate.update(spark, out,
        Seq(EqualTo("g", "g1"): Filter), Map("g" -> "g9"))
    }
    // rejection must not be data-dependent: a condition matching nothing
    // still fails the same way
    intercept[IllegalArgumentException] {
      StrawUpdate.update(spark, out,
        Seq(EqualTo("g", "no-such-group"): Filter), Map("g" -> "g9"))
    }
    val res = StrawUpdate.update(spark, out,
      Seq(EqualTo("g", "g1"): Filter), Map("v" -> 0L))
    assert(res.updatedRows == 300, res.toString)
    assert(res.prunedFiles >= 2, s"other partitions must prune: $res")
    val back = read(out)
    assert(back.filter(col("g") === "g1" && col("v") =!= 0L).count() == 0)
    assert(back.filter(col("g") =!= "g1" && col("v") === 0L)
      .count() == 1) // id 0 had v=0 already, in g0
  }

  test("bad assignments are rejected before any rewrite") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/reject"
    Seq((1L, "a")).toDF("id", "s").write.format("strawboat").mode("overwrite").save(out)
    val v0 = StrawLog.latestVersion(out)
    intercept[IllegalArgumentException] {
      StrawUpdate.update(spark, out, Seq(EqualTo("id", 1L): Filter), Map("nope" -> "x"))
    }
    intercept[IllegalArgumentException] {
      StrawUpdate.update(spark, out, Seq(EqualTo("id", 1L): Filter),
        Map("id" -> "not-a-long"))
    }
    intercept[IllegalArgumentException] {
      StrawUpdate.update(spark, out, Seq(EqualTo("id", 1L): Filter), Map.empty)
    }
    assert(StrawLog.latestVersion(out) == v0)
    assert(read(out).count() == 1)
  }

  test("no-match update is a no-op (version unchanged)") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/noop"
    (0L until 50L).map(i => (i, s"r$i")).toDF("id", "s")
      .write.format("strawboat").mode("overwrite").save(out)
    val v0 = StrawLog.latestVersion(out)
    val res = StrawUpdate.update(spark, out,
      Seq(EqualTo("id", -5L): Filter), Map("s" -> "x"))
    assert(res.updatedRows == 0 && res.rewrittenFiles == 0)
    assert(StrawLog.latestVersion(out) == v0)
  }

  test("update tasks run under the in-flight marker that keeps vacuum off") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/inflight"
    (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    // the assignment's UDF runs inside the task that writes the sidecar and
    // the staged rows (same JVM under local mode) and stores whether the
    // marker existed at that moment in the updated row itself
    val logDir = new java.io.File(out, "_straw_log")
    spark.udf.register("inflight_seen", (s: String) =>
      if (Option(logDir.listFiles()).exists(_.exists(_.getName.startsWith(".inflight."))))
        "marked"
      else "unmarked")
    val res = StrawUpdate.updateExpressions(spark, out,
      Seq(LessThan("id", 10L): Filter), Map("s" -> "inflight_seen(s)"))
    assert(res.updatedRows == 10, res.toString)
    assert(read(out).filter(col("s") === "marked").count() == 10)
    // and the commit retired it
    assert(!logDir.listFiles().exists(_.getName.startsWith(".inflight.")))
  }
}
