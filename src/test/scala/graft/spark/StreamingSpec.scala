package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Structured Streaming over the strawboat format: incremental micro-batch
  * file discovery, watermarked windowed aggregation, and streaming write. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawboat-streaming-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawstream").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // Spark does not (yet) push filters into micro-batch DSv2 scans — the
  // scan's skipFilters plumbing is exercised at the source level here so
  // the pruning is proven ready the day the engine starts pushing them.
  test("streaming planInputPartitions prunes pages and partition dirs by pushed filters") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    val data = s"$dir/streamprune"
    spark.range(0, 4000)
      .select(col("id"), (col("id") % 2).cast("string").as("side"))
      .orderBy("id")
      .write.format("strawboat").mode("overwrite")
      .option("partitionBy", "side")
      .option("maxPageSize", "250")
      .save(data)
    val schema = spark.read.format("strawboat").load(data).schema
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Seq[StrawInputPartition] = {
      val stream = new StrawMicroBatchStream(data, schema, schema,
        skipFilters = filters)
      val start = stream.initialOffset()
      val end = stream.latestOffset()
      stream.planInputPartitions(start, end).toSeq.map(_.asInstanceOf[StrawInputPartition])
    }
    val all = planned(Array.empty)
    val allPages = all.map(p => p.pageEnd - p.pageStart).sum
    assert(all.size >= 2 && allPages >= 8)
    // page pruning: a selective range keeps a strict subset of pages
    val some = planned(Array(LessThan("id", 200L)))
    val somePages = some.map(p => p.pageEnd - p.pageStart).sum
    assert(somePages > 0 && somePages < allPages,
      s"expected page pruning: $somePages of $allPages")
    // partition-directory pruning: only side=0 files survive
    val oneSide = planned(Array(EqualTo("side", "0")))
    assert(oneSide.nonEmpty && oneSide.forall(_.path.contains("side=0")))
    assert(oneSide.map(_.path).toSet.size < all.map(_.path).toSet.size)
  }

  test("log-less directory: stream start fails naming the path; one connector append adopts it") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val data = s"$dir/logless"
    new java.io.File(data).mkdirs()
    val schema = StructType(Seq(StructField("v", LongType)))
    // files written by the format layer alone: data, but no _straw_log
    for (f <- 0 until 3) {
      val w = new graft.format.StrawFileWriter(schema, graft.format.WriteOptions())
      for (r <- 0 until 10) w.write(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](Long.box(f * 10L + r))))
      val os = new java.io.FileOutputStream(new java.io.File(data, s"old-$f.strb"))
      try w.writeTo(os) finally os.close()
    }
    assert(StrawLog.latestVersion(data).isEmpty)
    def drain(name: String): Set[Long] = {
      val q = spark.readStream.format("strawboat").load(data)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$dir/${name}Ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(60000) finally q.stop()
      spark.table(name).collect().map(_.getLong(0)).toSet
    }
    val err = intercept[Exception](drain("logless1"))
    val msg = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(msg.contains(data) && msg.contains("no transaction log"), msg)

    // the first connector commit folds the existing files into version 1
    spark.range(30, 40).select(col("id").as("v")).coalesce(1)
      .write.format("strawboat").mode("append").save(data)
    assert(StrawLog.commitAdds(data, 1L).exists(_._1 == "append (bootstrap)"))
    assert(drain("logless2") == (0L until 40L).toSet)
    // followed as a TAIL commit, the bootstrap version delivers the old
    // files too
    val stream = new StrawMicroBatchStream(data, schema, schema)
    val tail = StrawLogStreamOffset(1, 0)
    val end = stream.latestOffset(tail, stream.getDefaultReadLimit)
    val delivered = stream.planInputPartitions(tail, end)
      .map(_.asInstanceOf[StrawInputPartition].path).distinct
    assert(delivered.length == 4 &&
      (0 until 3).forall(f => delivered.exists(_.endsWith(s"old-$f.strb"))),
      delivered.toSeq)
  }

  test("absent directory: a stream started before the first write delivers each append once") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val data = s"$dir/notyet"
    val q = spark.readStream.format("strawboat")
      .schema(StructType(Seq(StructField("id", LongType)))).load(data)
      .writeStream.format("memory").queryName("notyet")
      .option("checkpointLocation", s"$dir/notyetCkpt")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      q.processAllAvailable()
      spark.range(0, 10).coalesce(1).write.format("strawboat").mode("append").save(data)
      q.processAllAvailable()
      spark.range(10, 25).coalesce(1).write.format("strawboat").mode("append").save(data)
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("notyet").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == (0L until 25L), s"each append exactly once: ${ids.sorted}")
  }

  test("stream offset: json round trip, phase order, change-feed checkpoints") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    for (o <- Seq(StrawLogStreamOffset(-3L, 17), StrawLogStreamOffset(42L, 7),
        StrawLogStreamOffset(1L, 0)))
      assert(StrawLogStreamOffset.fromJson(o.json()) == o)
    // the initial-snapshot phase of V orders before V's successor's tail
    val snap = StrawLogStreamOffset(-5L, 1000)
    val tail = StrawLogStreamOffset(6L, 0)
    assert(StrawLogStreamOffset.leq(snap, tail) && !StrawLogStreamOffset.leq(tail, snap))
    assert(StrawLogStreamOffset.leq(StrawLogStreamOffset(42L, 7), StrawLogStreamOffset(43L, 0)))
    assert(!StrawLogStreamOffset.leq(StrawLogStreamOffset(43L, 0), StrawLogStreamOffset(42L, 7)))
    // a change-feed checkpoint offset keeps its position
    val schema = StructType(Seq(StructField("id", LongType)))
    val cdf = new ChangeFeedMicroBatchStream(s"$dir/cdfckpt", 1L, None, schema)
    assert(cdf.deserializeOffset("""{"v":42,"i":7}""") == StrawLogStreamOffset(42L, 7))
    // a listing-mode checkpoint offset fails loudly
    val table = new StrawMicroBatchStream(s"$dir/cdfckpt", schema, schema)
    val e = intercept[IllegalStateException](
      table.deserializeOffset("""{"hw":12345,"files":["12345|/a/b.strb"]}"""))
    assert(e.getMessage.contains("listing-mode checkpoints are no longer readable"))
  }

  test("stream admission: one helper admits what both streams' former rules did") {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit,
      ReadMaxBytes, ReadMaxFiles}
    // the table stream's former rule: a prefix fold over the files
    def tableRule(fresh: Seq[Long], limit: ReadLimit): Seq[Long] = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case mb: ReadMaxBytes =>
        var budget = mb.maxBytes()
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var stop = false
        for (e <- fresh if !stop) {
          if (out.isEmpty || e <= budget) { out += e; budget -= e }
          else stop = true
        }
        out.toSeq
      case c: CompositeReadLimit => c.getReadLimits.foldLeft(fresh)(tableRule)
      case _ => fresh
    }
    // the change feed's former rule: the fewest any part admits
    def cdfRule(pending: Seq[Long], limit: ReadLimit): Int = limit match {
      case mf: ReadMaxFiles => math.min(pending.size, mf.maxFiles())
      case mb: ReadMaxBytes =>
        var budget = mb.maxBytes()
        var n = 0
        var stop = false
        for (t <- pending if !stop) {
          if (n == 0 || t <= budget) { n += 1; budget -= t }
          else stop = true
        }
        n
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(pending.size)((acc, l) => math.min(acc, cdfRule(pending, l)))
      case _ => pending.size
    }
    val limits = Seq(
      StreamAdmission.defaultLimit(None, None),
      StreamAdmission.defaultLimit(Some(2), None),
      StreamAdmission.defaultLimit(None, Some(250L)),
      StreamAdmission.defaultLimit(Some(2), Some(150L)),
      ReadLimit.compositeLimit(Array(ReadLimit.maxBytes(150L), ReadLimit.maxFiles(3))),
      ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(5),
        ReadLimit.compositeLimit(Array(ReadLimit.maxBytes(1000L), ReadLimit.maxFiles(4))))))
    val rnd = new scala.util.Random(7)
    val inputs = Seq(Vector.empty[Long], Vector(100L, 100L, 100L, 100L),
      Vector(500L, 10L, 10L), Vector(10L, 500L, 10L)) ++
      Seq.fill(50)(Vector.fill(rnd.nextInt(12))(1L + rnd.nextInt(400)))
    for (lens <- inputs; l <- limits) {
      val n = StreamAdmission.admitted(lens, l)
      assert(n == tableRule(lens, l).size && n == cdfRule(lens, l), s"$lens under $l")
    }
    val bytes100 = ReadLimit.maxBytes(100L)
    // a single file over the byte cap is still admitted, alone
    assert(StreamAdmission.admitted(Vector(500L, 10L, 10L), bytes100) == 1)
    assert(StreamAdmission.admitted(Vector(10L, 500L, 10L), bytes100) == 1)
    assert(StreamAdmission.admitted(Vector(100L, 100L, 100L, 100L),
      StreamAdmission.defaultLimit(Some(3), Some(250L))) == 2)

    // end offsets: a partial batch stops after its last admitted item; a
    // full one, or nothing pending, moves past the bound; an unmoved
    // position is the start itself
    val start = StrawLogStreamOffset(3L, 0)
    val pending = IndexedSeq((StrawLogStreamOffset(3L, 1), 10L),
      (StrawLogStreamOffset(3L, 2), 10L), (StrawLogStreamOffset(5L, 1), 10L))
    val all = ReadLimit.allAvailable()
    assert(StreamAdmission.endOffset(start, 5L, pending, ReadLimit.maxFiles(2))(identity) ==
      StrawLogStreamOffset(3L, 2))
    assert(StreamAdmission.endOffset(start, 5L, pending, all)(identity) ==
      StrawLogStreamOffset(6L, 0))
    assert(StreamAdmission.endOffset(start, 5L, IndexedSeq.empty[(StrawLogStreamOffset, Long)],
      all)(identity) == StrawLogStreamOffset(6L, 0))
    val idle = StrawLogStreamOffset(6L, 0)
    assert(StreamAdmission.endOffset(idle, 5L, IndexedSeq.empty[(StrawLogStreamOffset, Long)],
      all)(identity) eq idle)
  }

  test("log-mode stream: compaction during a live stream re-delivers nothing") {
    val data = s"$dir/logcompact"
    // several small files via separate appends (each a log version)
    for (i <- 0 until 4)
      spark.range(i * 100, (i + 1) * 100).withColumn("v", col("id") * 2)
        .coalesce(1).write.format("strawboat").mode("append").save(data)
    val schema = spark.read.format("strawboat").load(data).schema
    val stream = new StrawMicroBatchStream(data, schema, schema)
    val limit = stream.getDefaultReadLimit
    val o0 = stream.initialOffset()
    assert(o0.isInstanceOf[StrawLogStreamOffset], "connector tables stream in log mode")
    val o1 = stream.latestOffset(o0, limit)
    val firstBatch = stream.planInputPartitions(o0, o1)
    assert(firstBatch.nonEmpty, "initial snapshot must deliver")
    // compact the table mid-stream: files are rewritten under new paths
    // with data unchanged — the stream must not re-deliver them
    val res = StrawCompaction.compact(spark, data)
    assert(res.inputFiles > 0, res.toString)
    val o2 = stream.latestOffset(o1, limit)
    assert(stream.planInputPartitions(o1, o2).isEmpty,
      "compaction re-delivered rewritten files")
    // merge-on-read delete: also delivers nothing (no retraction)
    import org.apache.spark.sql.sources.{Filter, LessThan}
    StrawDelete.delete(spark, data, Seq(LessThan("id", 10L): Filter)): Unit
    val o3 = stream.latestOffset(o2, limit)
    assert(stream.planInputPartitions(o2, o3).isEmpty,
      "a delete must not deliver rows to a stream")
    // but a fresh append IS delivered — exactly the new file(s)
    spark.range(400, 450).withColumn("v", col("id") * 2)
      .coalesce(1).write.format("strawboat").mode("append").save(data)
    val o4 = stream.latestOffset(o3, limit)
    val newParts = stream.planInputPartitions(o3, o4)
      .map(_.asInstanceOf[StrawInputPartition].path).distinct
    assert(newParts.length == 1, s"expected exactly the appended file: ${newParts.toSeq}")
    // idle: offset unchanged (no-new-data signal)
    val o5 = stream.latestOffset(o4, limit)
    assert(o5.json() == o4.json())
  }

  test("micro-batch read picks up files incrementally across restarts") {
    val data = s"$dir/in"
    val ckpt = s"$dir/ckpt"
    spark.range(0, 100).withColumn("v", col("id") * 2)
      .write.format("strawboat").mode("append").save(data)

    val sinkDir = s"$dir/sink1"
    def runOnce(): Long = {
      // parquet sink supports checkpoint recovery (memory sink does not)
      val q = spark.readStream.format("strawboat").load(data)
        .writeStream.format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(sinkDir).count()
    }
    assert(runOnce() == 100)
    // second batch of files arrives; restart with same checkpoint appends ONLY new
    spark.range(100, 150).withColumn("v", col("id") * 2)
      .write.format("strawboat").mode("append").save(data)
    assert(runOnce() == 150)
  }

  test("watermarked windowed aggregation over a strawboat stream") {
    val data = s"$dir/events"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 600).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 1000L), i % 3, i.toDouble)
    }
    val ss = spark
    import ss.implicits._
    rows.toDF("ts", "k", "v").write.format("strawboat").mode("append").save(data)

    val agg = spark.readStream.format("strawboat").load(data)
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"))
    val q = agg.writeStream.format("memory").queryName("sink2")
      .outputMode("complete")
      .option("checkpointLocation", s"$dir/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.sql("SELECT k, sum(cnt) FROM sink2 GROUP BY k ORDER BY k").collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(1)).sum == 600L)
  }

  test("stream-stream join across micro-batches: state carries, stragglers drop") {
    // q_stream_join's shape proven beyond the single AvailableNow drain:
    // three ordered drains against one checkpoint. The watermark advances
    // between drains (persisted in the commit log), an on-time click from
    // drain 2 still joins a purchase arriving in drain 3 (state carries),
    // and a straggler click older than the watermark is DROPPED — its
    // would-be partner purchase emits nothing and the progress counters
    // record the drop. State stays bounded across all drains.
    val ss = spark; import ss.implicits._
    val data = s"$dir/ssj_in"
    val sink = s"$dir/ssj_sink"
    val ckpt = s"$dir/ssj_ckpt"
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    def write(rows: (String, Long, Long, java.sql.Timestamp)*): Unit =
      rows.toSeq.toDF("side", "id", "user", "ts")
        .coalesce(1).write.format("strawboat").mode("append").save(data)

    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val purchases = spark.readStream.format("strawboat").load(data)
        .filter(col("side") === "p")
        .select(col("id").as("purchase_id"), col("user"), col("ts"))
        .withWatermark("ts", "10 minutes")
      val clicks = spark.readStream.format("strawboat").load(data)
        .filter(col("side") === "c")
        .select(col("id").as("click_id"), col("user").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val joined = purchases.join(clicks,
        col("user") === col("c_user") &&
          col("c_ts") >= col("ts") - expr("INTERVAL '20' MINUTE") &&
          col("c_ts") <= col("ts"))
        .select(col("purchase_id"), col("click_id"))
      val q = joined.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain timed out")
      q.recentProgress.toSeq
    }
    def joinedPairs(): Set[(Long, Long)] =
      spark.read.parquet(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // drain 1: a click and its purchase 5 minutes later join immediately
    write(("c", 1L, 1L, t("00:10")), ("p", 101L, 1L, t("00:15")))
    drain()
    assert(joinedPairs() == Set((101L, 1L)))

    // drain 2: rows at ~03:00 advance both watermarks to 02:50; click 3
    // (user 3, 02:55) enters state with no partner yet
    write(("c", 2L, 9L, t("03:00")), ("p", 102L, 9L, t("03:00")),
      ("c", 3L, 3L, t("02:55")))
    drain()
    assert(joinedPairs() == Set((101L, 1L), (102L, 2L)))

    // drain 3: the straggler click (02:45 < watermark 02:50) must drop —
    // purchase 103 (user 1, 03:00, in-window gap 15m) finds nothing;
    // purchase 104 (user 3) still joins drain 2's buffered click 3
    write(("c", 4L, 1L, t("02:45")), ("p", 103L, 1L, t("03:00")),
      ("p", 104L, 3L, t("03:00")))
    val progress = drain()
    assert(joinedPairs() == Set((101L, 1L), (102L, 2L), (104L, 3L)),
      "the late click must not join; the buffered on-time click must")
    val stateOps = progress.flatMap(_.stateOperators)
    assert(stateOps.map(_.numRowsDroppedByWatermark).sum >= 1,
      s"expected the straggler recorded as dropped:\n${progress.mkString("\n")}")
    // watermarks bound the buffered state: a handful of rows, not history
    assert(stateOps.map(_.numRowsTotal).max <= 16,
      s"state must stay bounded by the watermark:\n${stateOps.mkString("\n")}")
  }

  test("custom stateful sessionization with flatMapGroupsWithState") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val data = s"$dir/sessions"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // user 1: two bursts 40 min apart (2 sessions); user 2: one burst
    val events = Seq(
      (1L, new java.sql.Timestamp(base.getTime)),
      (1L, new java.sql.Timestamp(base.getTime + 60000)),
      (1L, new java.sql.Timestamp(base.getTime + 40 * 60000)),
      (2L, new java.sql.Timestamp(base.getTime + 5 * 60000)))
    val ss = spark
    import ss.implicits._
    events.toDF("user_id", "ts").write.format("strawboat").mode("append").save(data)

    val sessionized = spark.readStream.format("strawboat").load(data)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        // state = (lastSeenMillis, sessionCount); 30-minute gap starts a session
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          var (last, count) = state.getOption.getOrElse((Long.MinValue, 0L))
          rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts) =>
            if (last == Long.MinValue || ts.getTime - last > 30 * 60000) count += 1
            last = ts.getTime
          }
          state.update((last, count))
          Iterator((user, count.toInt))
      }
    val q = sessionized.toDF("user_id", "sessions")
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", s"$dir/ckptSess")
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.sql("SELECT user_id, max(sessions) FROM sess GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out == Seq((1L, 2), (2L, 1)))
  }

  test("maxFilesPerTrigger bounds files admitted per micro-batch") {
    val data = s"$dir/mfpt"
    for (i <- 0 until 6)
      spark.range(i * 10, i * 10 + 10).coalesce(1)
        .write.format("strawboat").mode("append").save(data)
    val q = spark.readStream.format("strawboat")
      .option("maxFilesPerTrigger", "2").load(data)
      .writeStream.format("parquet").option("path", s"$dir/mfptOut")
      .option("checkpointLocation", s"$dir/mfptCkpt")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    Thread.sleep(5000)
    q.stop(); q.awaitTermination(30000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"expected >=3 bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 20)) // 2 files x 10 rows
    assert(spark.read.parquet(s"$dir/mfptOut").count() == 60)
  }

  test("maxBytesPerTrigger bounds bytes admitted per micro-batch (composes with maxFiles)") {
    val data = s"$dir/mbpt"
    for (i <- 0 until 6)
      spark.range(i * 10, i * 10 + 10).coalesce(1)
        .write.format("strawboat").mode("append").save(data)
    val oneFileBytes = StrawIO.listFilesMeta(data).map(_.len).max
    val q = spark.readStream.format("strawboat")
      // budget for ~1 file per batch; at-least-one admission guarantees
      // progress even if a file exceeds the budget
      .option("maxBytesPerTrigger", oneFileBytes.toString)
      .option("maxFilesPerTrigger", "4")
      .load(data)
      .writeStream.format("parquet").option("path", s"$dir/mbptOut")
      .option("checkpointLocation", s"$dir/mbptCkpt")
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    Thread.sleep(6000)
    q.stop(); q.awaitTermination(30000)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4, s"expected >=4 byte-bounded batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 20),
      batches.map(_.numInputRows).mkString(","))
    assert(spark.read.parquet(s"$dir/mbptOut").count() == 60)
  }

  test("log-mode initial snapshot delivers in (mtime, path) order, not path order") {
    val sp = spark; import sp.implicits._
    val data = s"$dir/snaporder"
    // hive layout makes path order provably DISAGREE with commit order:
    // g=z commits first but path-sorts last. A watermark-style consumer
    // depends on rough arrival ordering, so the snapshot phase must
    // deliver the older file first.
    Seq((1L, "z")).toDF("id", "g").coalesce(1)
      .write.format("strawboat").option("partitionBy", "g")
      .mode("overwrite").save(data)
    Thread.sleep(1100) // distinct mtimes at 1s filesystem granularity
    Seq((2L, "a")).toDF("id", "g").coalesce(1)
      .write.format("strawboat").option("partitionBy", "g")
      .mode("append").save(data)
    assert(StrawLog.latestVersion(data).exists(_ >= 2L))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = spark.readStream.format("strawboat")
      .option("maxFilesPerTrigger", "1").load(data)
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, df.select("id").collect().map(_.getLong(0)).toSeq)) }
        (): Unit
      }
      .option("checkpointLocation", s"$dir/snaporderCkpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val order = seen.sortBy(_._1).flatMap(_._2).toSeq
    assert(order == Seq(1L, 2L),
      s"snapshot must drain in commit (mtime) order, got $order")
  }

  test("partitioned streaming sink: epochs land in hive subdirectories") {
    val outDir = s"$dir/streampart"
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "200").load()
      .select(col("value"), (col("value") % 3).cast("long").as("bucket"))
    val q = src.writeStream.format("strawboat")
      .option("path", outDir)
      .option("partitionBy", "bucket")
      .option("checkpointLocation", s"$dir/ckptPart")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    Thread.sleep(4000)
    q.stop(); q.awaitTermination(30000)
    val subdirs = new java.io.File(outDir).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(subdirs.forall(_.startsWith("bucket=")), subdirs.mkString(","))
    assert(subdirs.size >= 2)
    val back = spark.read.format("strawboat").load(outDir)
    assert(back.count() > 0)
    assert(back.filter(col("value") % 3 =!= col("bucket")).count() == 0)
    // pruning works on the streamed layout
    assert(back.filter(col("bucket") === 1L).count() ==
      back.collect().count(_.getLong(1) == 1L))
  }

  test("streaming write lands strawboat files readable by batch") {
    val outDir = s"$dir/streamout"
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(col("value"), (col("value") % 7).as("m"))
    val q = src.writeStream.format("strawboat")
      .option("path", outDir)
      .option("checkpointLocation", s"$dir/ckpt3")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    // let a few epochs land
    Thread.sleep(6000)
    q.stop()
    q.awaitTermination(30000)
    val back = spark.read.format("strawboat").load(outDir)
    assert(back.count() > 0)
    assert(back.schema.fieldNames.toSeq == Seq("value", "m"))
    // values are the rate source's consecutive longs: distinct and in range
    val cnt = back.count()
    assert(back.distinct().count() == cnt)
  }
}
