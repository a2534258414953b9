package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming change data feed ([[ChangeFeedMicroBatchStream]]): the CDC
  * surface — replay from a version, follow the tail across restarts with
  * exactly-once offsets, deliver retractions the append-only table stream
  * must skip, stay silent through compaction. */
class ChangeFeedStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("cdfstream-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("cdfstream").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def cdfStream(table: String, from: Long): DataFrame =
    spark.readStream.format("strawboat")
      .option("readChangeFeed", "true")
      .option("startingVersion", from.toString)
      .load(table)

  /** Drain the stream's current backlog into parquet at `sink` and stop. */
  private def drain(df: DataFrame, sink: String, checkpoint: String): Unit = {
    val q = df.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "cdf stream drain timed out")
  }

  private def collected(sink: String): Seq[(Long, String, Long)] =
    spark.read.parquet(sink)
      .select(col("id"), col(StrawChanges.ChangeTypeCol),
        col(StrawChanges.CommitVersionCol))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._3, t._2, t._1)).toSeq

  test("replays history, then follows the tail across restarts exactly once") {
    val sp = spark; import sp.implicits._
    val table = s"$dir/t1"
    val sink = s"$dir/t1_sink"
    val ckpt = s"$dir/t1_ckpt"
    (0L until 10L).map(i => (i, i % 5)).toDF("id", "b")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(table) // v1
    val del = StrawDelete.delete(spark, table, Seq(LessThan("id", 3L): Filter)) // v2
    assert(del.rewrittenFiles == 0)

    drain(cdfStream(table, 1), sink, ckpt)
    assert(collected(sink) ==
      (0L until 10L).map(i => (i, "insert", 1L)) ++
        (0L until 3L).map(i => (i, "delete", 2L)))

    // tail: an UPDATE commits v3; the restarted stream delivers ONLY its
    // pre/postimages — the retraction shape the table stream cannot express
    StrawUpdate.update(spark, table,
      Seq(EqualTo("id", 5L): Filter), Map("b" -> 99L))
    drain(cdfStream(table, 1), sink, ckpt)
    val afterUpdate = collected(sink)
    assert(afterUpdate.count(_._3 == 3L) == 2)
    assert(afterUpdate.filter(_._3 == 3L).map(_._2).sorted ==
      Seq("update_postimage", "update_preimage"))
    assert(afterUpdate.size == 15, "replay must not re-deliver versions 1-2")
  }

  test("compaction mid-stream delivers nothing; later appends still flow") {
    val sp = spark; import sp.implicits._
    val table = s"$dir/t2"
    val sink = s"$dir/t2_sink"
    val ckpt = s"$dir/t2_ckpt"
    (0L until 6L).map(i => (i, i)).toDF("id", "v")
      .repartition(3).write.format("strawboat").mode("overwrite").save(table) // v1
    drain(cdfStream(table, 1), sink, ckpt)
    assert(collected(sink).size == 6)

    val c = StrawCompaction.compact(spark, table) // v2: bytes move, data does not
    assert(c.outputFiles < c.inputFiles)
    drain(cdfStream(table, 1), sink, ckpt)
    assert(collected(sink).size == 6, "compaction must deliver nothing")

    (6L until 9L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.format("strawboat").mode("append").save(table) // v3
    drain(cdfStream(table, 1), sink, ckpt)
    assert(collected(sink) ==
      (0L until 6L).map(i => (i, "insert", 1L)) ++
        (6L until 9L).map(i => (i, "insert", 3L)),
      "the offset must have fast-forwarded past the compaction, not around it")
  }

  test("admission control paces the replay; the union is exact") {
    val sp = spark; import sp.implicits._
    val table = s"$dir/t3"
    val sink = s"$dir/t3_sink"
    val ckpt = s"$dir/t3_ckpt"
    // 4 files in v1 + 1 per append = 7 change tasks total
    (0L until 40L).map(i => (i, i)).toDF("id", "v")
      .repartition(4).write.format("strawboat").mode("overwrite").save(table)
    (40L until 50L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.format("strawboat").mode("append").save(table)
    StrawDelete.delete(spark, table, Seq(GreaterThanOrEqual("id", 45L): Filter))
    val paced = spark.readStream.format("strawboat")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("maxFilesPerTrigger", "2").load(table)
    val q = paced.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(batches.length >= 3,
      s"maxFilesPerTrigger=2 over 6 tasks should take >=3 batches, got ${batches.toSeq}")
    assert(collected(sink).size == 40 + 10 + 5)
    assert(collected(sink).count(_._2 == "delete") == 5)
  }

  test("explicit endingVersion bounds the stream") {
    val sp = spark; import sp.implicits._
    val table = s"$dir/t4"
    val sink = s"$dir/t4_sink"
    val ckpt = s"$dir/t4_ckpt"
    (0L until 5L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(table) // v1
    (5L until 8L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1).write.format("strawboat").mode("append").save(table) // v2
    val bounded = spark.readStream.format("strawboat")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1")
      .load(table)
    drain(bounded, sink, ckpt)
    assert(collected(sink) == (0L until 5L).map(i => (i, "insert", 1L)),
      "the bounded stream must stop at endingVersion")
  }
}
