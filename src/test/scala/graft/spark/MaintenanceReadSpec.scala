package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The maintenance reads — DELETE/UPDATE matching, UPDATE's rewrite, both
  * MERGE key probes and the change feed — go through the scan reader, so
  * they must see an evolved file exactly as a query does. One table spans
  * two schema generations: the key is `int` in the first and `bigint` after
  * a `mergeSchema` append, a struct gained a field, a map column rides
  * along, and a deletion vector already covers part of the old file. Every
  * op keys on the widened key and is checked against an in-memory model:
  * the table after each op, the op's reported counts, and the change feed
  * of its version. */
class MaintenanceReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("maintenance-read-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("maintread").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  /** One table row; `c` is the struct field the second generation added. */
  private case class R(k: Long, v: Long, a: Int, b: String, c: Option[Double],
      m: Map[String, Int])

  /** A row of the table or of a change feed, whose data schema is merged
    * over the files that version references only: a feed touching only
    * the old file reads `k` as int and `s` without `c`. */
  private def fromRow(r: Row): R = {
    val s = r.getStruct(r.fieldIndex("s"))
    val ci = s.schema.fieldNames.indexOf("c")
    val c = if (ci < 0 || s.isNullAt(ci)) None else Some(s.getDouble(ci))
    R(r.getAs[Number]("k").longValue, r.getAs[Long]("v"), s.getAs[Int]("a"),
      s.getAs[String]("b"), c, r.getMap[String, Int](r.fieldIndex("m")).toMap)
  }

  private def toRow(r: R): Row =
    Row(r.k, r.v, Row(r.a, r.b, r.c.map(Double.box).orNull), r.m)

  private def oldRow(k: Long) = R(k, k * 3, (k % 100).toInt, s"b$k", None,
    Map("x" -> (k % 10).toInt))
  private def newRow(k: Long) = R(k, k * 3, (k % 100).toInt, s"b$k", Some(k + 0.5),
    Map("x" -> (k % 10).toInt))

  private def table(out: String): Map[Long, R] = {
    val rows = spark.read.format("strawboat").load(out).collect().map(fromRow)
    assert(rows.map(_.k).distinct.length == rows.length, "duplicate keys")
    rows.map(r => r.k -> r).toMap
  }

  private def feed(out: String, v: Long): Set[(R, String)] =
    StrawChanges.changes(spark, out, v, v).collect().map { r =>
      assert(r.getAs[Long](StrawChanges.CommitVersionCol) == v)
      (fromRow(r), r.getAs[String](StrawChanges.ChangeTypeCol))
    }.toSet

  private def source(out: String, rows: Seq[R]): DataFrame = {
    val schema = spark.read.format("strawboat").load(out).schema
    spark.createDataFrame(java.util.Arrays.asList(rows.map(toRow): _*), schema)
  }

  /** What each op did: the model after it, its version and the change rows
    * the model expects that version to feed. */
  private final case class Step(name: String, version: Long, model: Map[Long, R],
      actual: Map[Long, R], expectedFeed: Set[(R, String)])

  private lazy val scenario: (String, Seq[Step]) = {
    val out = s"$dir/evolved"
    val pages = "256"
    // generation 1: k int, s struct<a:int, b:string>, m map<string,int>
    spark.range(0, 3000).select(col("id").cast("int").as("k"), (col("id") * 3).as("v"),
      struct((col("id") % 100).cast("int").as("a"), concat(lit("b"), col("id")).as("b"))
        .as("s"),
      map(lit("x"), (col("id") % 10).cast("int")).as("m"))
      .coalesce(1).write.format("strawboat").option("maxPageSize", pages)
      .mode("overwrite").save(out)
    // the old file's deletion vector, written while the key was still int
    StrawDelete.delete(spark, out, Seq(GreaterThanOrEqual("k", 500), LessThan("k", 600)))
    // generation 2: k widened to bigint, s gained c
    spark.range(3000, 5000).select(col("id").as("k"), (col("id") * 3).as("v"),
      struct((col("id") % 100).cast("int").as("a"), concat(lit("b"), col("id")).as("b"),
        (col("id") + 0.5).as("c")).as("s"),
      map(lit("x"), (col("id") % 10).cast("int")).as("m"))
      .coalesce(1).write.format("strawboat").option("maxPageSize", pages)
      .option("mergeSchema", "true").mode("append").save(out)
    var model: Map[Long, R] =
      ((0L until 3000L).filterNot(k => k >= 500 && k < 600).map(oldRow) ++
        (3000L until 5000L).map(newRow)).map(r => r.k -> r).toMap
    val steps = Seq.newBuilder[Step]
    def step(name: String, feedRows: Set[(R, String)]): Unit =
      steps += Step(name, StrawLog.latestVersion(out).get, model, table(out), feedRows)
    step("setup", (3000L until 5000L).map(k => (newRow(k), "insert")).toSet)

    // DELETE over the widened key: [550, 600) is already dead in the DV
    var before = model
    val del = StrawDelete.delete(spark, out,
      Seq(GreaterThanOrEqual("k", 550L), LessThan("k", 700L)))
    assert(del.deletedRows == 100, del.toString)
    model = model -- (550L until 700L)
    step("delete", (600L until 700L).map(k => (before(k), "delete")).toSet)

    // UPDATE with an expression over the widened column, across both files
    before = model
    val upd = StrawUpdate.updateExpressions(spark, out,
      Seq(GreaterThanOrEqual("k", 2900L), LessThan("k", 3100L)), Map("v" -> "k * 2"))
    assert(upd.updatedRows == 200, upd.toString)
    val updated = (2900L until 3100L).map(k => model(k).copy(v = k * 2))
    model = model ++ updated.map(r => r.k -> r)
    step("update",
      (2900L until 3100L).map(k => (before(k), "update_preimage")).toSet ++
        updated.map(r => (r, "update_postimage")))

    // broadcast MERGE (Replace): live old keys, DV-dead old keys (insert),
    // new-generation keys, fresh keys
    before = model
    val bKeys = (100L until 140L) ++ (520L until 530L) ++ (3500L until 3520L) ++
      (9000L until 9010L)
    val bRows = bKeys.map(k => R(k, -k, 7, s"m$k", Some(1.5), Map("y" -> 1)))
    val bm = StrawMerge.merge(spark, out, source(out, bRows), keys = Seq("k"))
    assert(!bm.distributedSource, bm.toString)
    assert(bm.matchedRows == 60 && bm.replacedRows == 60 && bm.insertedRows == 20,
      bm.toString)
    model = model ++ bRows.map(r => r.k -> r)
    step("broadcast merge",
      bKeys.filter(before.contains).map(k => (before(k), "delete")).toSet ++
        bRows.map(r => (r, "insert")))

    // distributed MERGE (Delete + insert): old and new keys die, keys the
    // DELETE removed and fresh keys insert
    before = model
    val dKeys = (2000L until 2030L) ++ (4000L until 4030L) ++ (600L until 610L) ++
      (9100L until 9105L)
    val dRows = dKeys.map(k => R(k, k, 9, s"d$k", Some(2.5), Map.empty))
    spark.conf.set(StrawMerge.BroadcastKeyBytesConf, "0")
    val dm = try StrawMerge.merge(spark, out, source(out, dRows), keys = Seq("k"),
      whenMatched = StrawMerge.Delete)
    finally spark.conf.unset(StrawMerge.BroadcastKeyBytesConf)
    assert(dm.distributedSource, dm.toString)
    assert(dm.matchedRows == 60 && dm.insertedRows == 15, dm.toString)
    val dInserts = dRows.filterNot(r => before.contains(r.k))
    model = model -- dKeys.filter(before.contains) ++ dInserts.map(r => r.k -> r)
    step("distributed merge",
      dKeys.filter(before.contains).map(k => (before(k), "delete")).toSet ++
        dInserts.map(r => (r, "insert")))
    (out, steps.result())
  }

  test("DELETE, UPDATE and both MERGE paths on a widened key over an evolved, " +
    "DV-carrying table match the model") {
    val (_, steps) = scenario
    assert(steps.map(_.name) ==
      Seq("setup", "delete", "update", "broadcast merge", "distributed merge"))
    steps.foreach { s =>
      assert(s.actual.size == s.model.size, s"${s.name}: row count")
      val wrong = s.model.collect { case (k, r) if !s.actual.get(k).contains(r) =>
        s"$k: model $r, table ${s.actual.get(k)}" }
      assert(wrong.isEmpty, s"${s.name}: ${wrong.take(5).mkString("; ")}")
    }
  }

  test("the change feed of each op's version carries exactly the model's " +
    "inserted and deleted rows, with labels") {
    val (out, steps) = scenario
    steps.foreach { s =>
      val got = feed(out, s.version)
      assert(got == s.expectedFeed,
        s"${s.name} (v${s.version}): missing ${(s.expectedFeed -- got).take(3)}, " +
          s"extra ${(got -- s.expectedFeed).take(3)}")
    }
    // a range feed is the union of its versions
    val range = StrawChanges.changes(spark, out, steps(1).version, steps.last.version)
    assert(range.count() == steps.drop(1).map(_.expectedFeed.size).sum)
  }

  test("a change feed over a file vacuumed away fails with the retention-window " +
    "message") {
    val out = s"$dir/vacuumed"
    for (g <- 0 until 2)
      spark.range(g * 100L, g * 100L + 100L).select(col("id").as("k"))
        .coalesce(1).write.format("strawboat")
        .mode(if (g == 0) "overwrite" else "append").save(out)
    assert(feed1Count(out) == 100)
    assert(StrawCompaction.compact(spark, out).filesRemoved > 0)
    StrawLog.vacuumUnreferenced(out, olderThanMs = 0L)
    val e = intercept[Exception](feed1Count(out))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("derive feeds within the retention window")),
      e.toString)
  }

  private def feed1Count(out: String): Long = StrawChanges.changes(spark, out, 1, 1).count()
}
