package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Committed-files snapshot ([[StrawLog.snapshot]]): planning over an
  * unchanged table performs ZERO directory walks, snapshots stay complete
  * under concurrent commits, and a table without a log is walked. */
class StrawSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("straw-snapshot-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawsnapshot").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("commit writes a log snapshot; repeat queries perform zero directory walks") {
    val out = s"$dir/zerolist"
    spark.range(0, 5000).selectExpr("id", "id % 7 as k")
      .write.format("strawboat").mode("overwrite").save(out)
    assert(StrawLog.exists(out))

    // snapshot content == a direct walk of the directory
    val walked = StrawIO.walkFilesMeta(out)
    val snap = StrawLog.snapshot(out).get.entries.map(_.meta).sortBy(_.path)
    assert(snap.map(_.path) == walked.map(_.path))
    assert(snap.map(_.len) == walked.map(_.len))

    // warm the query once (footer cache etc.), then: NO walks on repeats
    val q = () => spark.read.format("strawboat").load(out)
      .filter(col("k") === 3).agg(sum("id")).collect()(0).getLong(0)
    val first = q()
    val walks0 = StrawIO.listings.get()
    assert(q() == first)
    assert(q() == first)
    assert(spark.read.format("strawboat").load(out).count() == 5000)
    assert(StrawIO.listings.get() == walks0,
      s"expected zero directory walks, saw ${StrawIO.listings.get() - walks0}")
  }

  test("log absent: reads fall back to walking, results identical") {
    val out = s"$dir/fallback"
    spark.range(0, 1000).write.format("strawboat").mode("overwrite").save(out)
    val withLog = spark.read.format("strawboat").load(out).count()
    StrawLog.invalidate(out)
    val walks0 = StrawIO.listings.get()
    assert(spark.read.format("strawboat").load(out).count() == withLog)
    assert(StrawIO.listings.get() > walks0) // really walked
  }

  test("append and truncate keep the snapshot in sync") {
    val out = s"$dir/sync"
    spark.range(0, 100).write.format("strawboat").mode("overwrite").save(out)
    spark.range(100, 300).write.format("strawboat").mode("append").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 300)
    assert(StrawLog.snapshot(out).get.pathSet ==
      StrawIO.walkFilesMeta(out).map(_.path).toSet)
    spark.range(0, 50).write.format("strawboat").mode("overwrite").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 50)
    assert(StrawLog.snapshot(out).get.pathSet ==
      StrawIO.walkFilesMeta(out).map(_.path).toSet)
  }

  test("hive-partitioned tables: snapshot covers subdirectories, pruning intact") {
    val out = s"$dir/parts"
    spark.range(0, 1000).selectExpr("id", "cast(id % 4 as string) as part")
      .write.format("strawboat").option("partitionBy", "part")
      .mode("overwrite").save(out)
    assert(StrawLog.snapshot(out).get.pathSet ==
      StrawIO.walkFilesMeta(out).map(_.path).toSet)
    val walks0 = StrawIO.listings.get()
    assert(spark.read.format("strawboat").load(out)
      .filter(col("part") === "2").count() == 250)
    assert(StrawIO.listings.get() == walks0)
  }

  test("reader during concurrent appends sees complete snapshots only") {
    val out = s"$dir/concurrent"
    spark.range(0, 1000).repartition(4)
      .write.format("strawboat").mode("overwrite").save(out)
    @volatile var failure: Option[String] = None
    @volatile var writing = true
    val reader = new Thread(() => {
      try {
        while (writing && failure.isEmpty) {
          // log-backed listing: complete old or complete new snapshot,
          // never a mid-rename partial (each append commits 4 files)
          val n = StrawLog.snapshot(out).map(_.entries.size).getOrElse(-1)
          if (n >= 0 && n % 4 != 0)
            failure = Some(s"partial snapshot: $n files")
        }
      } catch { case e: Throwable => failure = Some(e.toString) }
    })
    reader.start()
    for (i <- 1 to 5)
      spark.range(i * 1000, i * 1000 + 1000).repartition(4)
        .write.format("strawboat").mode("append").save(out)
    writing = false
    reader.join(30000)
    assert(failure.isEmpty, failure)
    assert(spark.read.format("strawboat").load(out).count() == 6000)
  }

  test("streaming sink epochs refresh the snapshot") {
    val src = s"$dir/streamsrc"
    val sink = s"$dir/streamsink"
    val ckpt = s"$dir/streamckpt"
    spark.range(0, 600).selectExpr("id", "id * 2 as v")
      .repartition(3).write.format("strawboat").mode("overwrite").save(src)
    val q = spark.readStream.format("strawboat")
      .option("maxFilesPerTrigger", 1).load(src)
      .writeStream.format("strawboat")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    assert(StrawLog.exists(sink)) // every epoch is a log version
    assert(StrawLog.snapshot(sink).get.pathSet ==
      StrawIO.walkFilesMeta(sink).map(_.path).toSet)
    assert(spark.read.format("strawboat").load(sink).count() == 600)
  }
}
