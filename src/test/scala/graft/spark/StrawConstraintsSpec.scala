package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** CHECK constraints ([[StrawConstraints]]): add-time validation of
  * existing rows, log-recorded lifecycle (survives restarts and checkpoint
  * replay), strict enforcement (FALSE and NULL both reject) on every
  * new-data path — batch append, overwrite, streaming epochs, MERGE
  * inserts, UPDATE assignments — and clean failure atomicity (a violating
  * write changes nothing visible). */
class StrawConstraintsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawconstraints-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawconstraints").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def write(out: String, from: Long, n: Long, mode: String = "append"): Unit = {
    val sp = spark; import sp.implicits._
    (from until from + n).map(i => (i, s"row-$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode(mode).save(out)
  }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  /** The cause chain includes a constraint violation (Spark wraps task
    * failures in SparkException layers). */
  private def violationIn(t: Throwable): Boolean = {
    var cur: Throwable = t
    while (cur != null) {
      if (cur.isInstanceOf[StrawConstraints.ConstraintViolationException] ||
        Option(cur.getMessage).exists(_.contains("CHECK constraint")))
        return true
      cur = cur.getCause
    }
    false
  }

  // ---------------------------------------------------------------------
  // Lifecycle: add / drop / list / idempotence / history
  // ---------------------------------------------------------------------

  test("add validates existing rows: a violated add fails and commits nothing") {
    val out = s"$dir/addfail"
    write(out, 0, 100)
    val v = StrawLog.latestVersion(out).get
    val e = intercept[StrawConstraints.ConstraintViolationException] {
      StrawConstraints.add(spark, out, "id_small", "id < 50")
    }
    assert(e.getMessage.contains("50 existing row(s)"))
    assert(StrawConstraints.list(out).isEmpty)
    assert(StrawLog.latestVersion(out).contains(v))
  }

  test("add on compliant data commits one metadata version; list and history see it") {
    val out = s"$dir/add"
    write(out, 0, 100)
    val v = StrawConstraints.add(spark, out, "id_nonneg", "id >= 0")
    assert(v == StrawLog.latestVersion(out).get)
    assert(StrawConstraints.list(out) == Map("id_nonneg" -> "id >= 0"))
    val h = StrawLog.history(out).head
    assert(h.operation == "add constraint id_nonneg")
    assert(h.addedFiles == 0 && h.removedFiles == 0)
    // idempotent same-(name, expr) re-add; conflicting expr refused
    StrawConstraints.add(spark, out, "id_nonneg", "id >= 0")
    assert(StrawLog.latestVersion(out).contains(v)) // no blank version
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "id_nonneg", "id >= 1")
    }
  }

  test("add on a table with no data files bootstraps the log, validation vacuous") {
    val out = s"$dir/empty"
    val v = StrawConstraints.add(spark, out, "pos", "id > 0")
    assert(v == 1L)
    assert(StrawConstraints.list(out) == Map("pos" -> "id > 0"))
    // first real write enforces it
    val e = intercept[Exception] { write(out, 0, 10) } // id=0 violates
    assert(violationIn(e))
    write(out, 1, 10)
    assert(read(out).count() == 10)
  }

  test("malformed / non-boolean / nondeterministic / subquery expressions are rejected") {
    val out = s"$dir/badexpr"
    write(out, 0, 10)
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "c1", "nope + 1 <")
    }
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "c2", "no_such_col > 0")
    }
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "c3", "id + 1") // BIGINT, not BOOLEAN
    }
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "c4", "rand() > 0.5")
    }
    intercept[IllegalArgumentException] {
      StrawConstraints.add(spark, out, "bad name!", "id > 0")
    }
    assert(StrawConstraints.list(out).isEmpty)
  }

  test("drop re-allows the data; dropping a missing name fails") {
    val out = s"$dir/drop"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "small", "id < 100")
    intercept[Exception] { write(out, 100, 5) }
    StrawConstraints.drop(out, "small")
    assert(StrawConstraints.list(out).isEmpty)
    write(out, 100, 5)
    assert(read(out).count() == 15)
    intercept[IllegalArgumentException] { StrawConstraints.drop(out, "small") }
  }

  // ---------------------------------------------------------------------
  // Enforcement: batch, strictness, overwrite, schema coupling
  // ---------------------------------------------------------------------

  test("violating batch append fails atomically: no rows, no version, no debris") {
    val out = s"$dir/append"
    write(out, 0, 50)
    StrawConstraints.add(spark, out, "id_small", "id < 100")
    val v = StrawLog.latestVersion(out).get
    val e = intercept[Exception] { write(out, 90, 20) } // 100..109 violate
    assert(violationIn(e))
    assert(read(out).count() == 50)
    assert(StrawLog.latestVersion(out).contains(v))
    // aborted tasks + job sweep leave no staged files behind
    val leftovers = new java.io.File(out).listFiles
      .map(_.getName).filter(_.endsWith(".stage"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("strict semantics: a NULL check result rejects the row") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/strict"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("strawboat").mode("overwrite").save(out)
    StrawConstraints.add(spark, out, "s_not_x", "s != 'x'")
    // s = null → (null != 'x') is NULL → strict reject
    val e = intercept[Exception] {
      Seq((3L, null: String)).toDF("id", "s")
        .write.format("strawboat").mode("append").save(out)
    }
    assert(violationIn(e))
    // the lenient spelling admits the null
    StrawConstraints.drop(out, "s_not_x")
    StrawConstraints.add(spark, out, "s_not_x", "s IS NULL OR s != 'x'")
    Seq((3L, null: String)).toDF("id", "s")
      .write.format("strawboat").mode("append").save(out)
    assert(read(out).count() == 3)
  }

  test("overwrite keeps the table's constraints and enforces them on the new data") {
    val out = s"$dir/overwrite"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "id_small", "id < 100")
    val e = intercept[Exception] { write(out, 100, 10, mode = "overwrite") }
    assert(violationIn(e))
    assert(read(out).count() == 10) // old generation intact
    write(out, 0, 5, mode = "overwrite")
    assert(read(out).count() == 5)
    assert(StrawConstraints.list(out).contains("id_small"))
  }

  test("a write whose schema lacks the constrained column fails on the driver") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/missingcol"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "id_pos", "id >= 0")
    val e = intercept[Exception] {
      Seq(("only-s", 1L)).toDF("s", "extra")
        .write.format("strawboat").mode("overwrite").save(out)
    }
    assert(Option(e.getMessage).exists(m =>
      m.contains("id_pos") || m.contains("does not analyze")) ||
      violationIn(e))
    assert(read(out).count() == 10)
  }

  // ---------------------------------------------------------------------
  // Enforcement: update / merge / streaming
  // ---------------------------------------------------------------------

  test("UPDATE assignments that break a constraint fail") {
    import org.apache.spark.sql.sources.LessThan
    val out = s"$dir/update-dv"
    write(out, 0, 20)
    StrawConstraints.add(spark, out, "id_small", "id < 1000")
    val e = intercept[Exception] {
      StrawUpdate.update(spark, out, Seq(LessThan("id", 5L)), Map("id" -> 5000L))
    }
    assert(violationIn(e), e.toString)
    // nothing changed: no new version beyond the add, all rows intact
    assert(read(out).agg(max("id")).head.getLong(0) == 19L)
    // a compliant update passes through the same ladder
    val res = StrawUpdate.update(spark, out, Seq(LessThan("id", 5L)), Map("id" -> 500L))
    assert(res.updatedRows == 5L)
    assert(read(out).filter(col("id") === 500L).count() == 5)
  }

  test("MERGE inserts and replaced versions are checked") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/merge"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "id_small", "id < 100")
    val bad = Seq((5L, "upd-5"), (200L, "ins-200")).toDF("id", "s")
    val e = intercept[Exception] {
      StrawMerge.merge(spark, out, bad, keys = Seq("id"),
        whenMatched = StrawMerge.Replace, insertNotMatched = true)
    }
    assert(violationIn(e))
    assert(read(out).count() == 10)
    assert(read(out).filter(col("s") === "upd-5").count() == 0)
    val good = Seq((5L, "upd-5"), (20L, "ins-20")).toDF("id", "s")
    val r = StrawMerge.merge(spark, out, good, keys = Seq("id"),
      whenMatched = StrawMerge.Replace, insertNotMatched = true)
    assert(r.matchedRows == 1L && r.insertedRows == 1L && r.replacedRows == 1L)
    assert(read(out).filter(col("s") === "upd-5").count() == 1)
  }

  test("streaming epochs enforce constraints; the violating epoch commits nothing") {
    val sp = spark; import sp.implicits._
    val src = s"$dir/stream-src"
    val out = s"$dir/stream-out"
    val ckpt = s"$dir/stream-ckpt"
    write(out, 0, 5)
    StrawConstraints.add(spark, out, "id_small", "id < 100")
    write(src, 0, 10)
    val q = spark.readStream.format("strawboat").load(src)
      .writeStream.format("strawboat")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out)
    q.awaitTermination(60000)
    assert(read(out).count() == 15)
    // next batch violates → the stream fails, nothing new lands
    write(src, 200, 5)
    val q2 = spark.readStream.format("strawboat").load(src)
      .writeStream.format("strawboat")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out)
    val e = intercept[Exception] { q2.awaitTermination(60000) }
    assert(violationIn(e))
    assert(read(out).count() == 15)
  }

  // ---------------------------------------------------------------------
  // Log durability: checkpoint replay, time travel interplay
  // ---------------------------------------------------------------------

  test("constraints survive checkpoint replay and cold-cache resolution") {
    val out = s"$dir/ckptreplay"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "id_nonneg", "id >= 0")
    // push past a checkpoint boundary so a cold replay starts from it
    (0 until StrawLog.CheckpointInterval + 2).foreach(i =>
      write(out, 10 + i * 10, 10))
    assert(StrawLog.latestVersion(out).get > StrawLog.CheckpointInterval)
    StrawLog.clearCache()
    FooterCache.clear()
    assert(StrawConstraints.list(out) == Map("id_nonneg" -> "id >= 0"))
    val e = intercept[Exception] { write(out, -5, 1) }
    assert(violationIn(e))
  }

  test("a dropped constraint stays dropped across checkpoint replay") {
    val out = s"$dir/dropreplay"
    write(out, 0, 10)
    StrawConstraints.add(spark, out, "id_small", "id < 100")
    StrawConstraints.drop(out, "id_small")
    (0 until StrawLog.CheckpointInterval).foreach(i => write(out, 100 + i, 1))
    StrawLog.clearCache()
    assert(StrawConstraints.list(out).isEmpty)
    write(out, 5000, 1) // would violate the dropped constraint
    assert(read(out).filter(col("id") === 5000L).count() == 1)
  }
}
