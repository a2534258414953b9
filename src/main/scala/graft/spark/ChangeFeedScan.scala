package graft.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DSv2 execution of the change data feed ([[StrawChanges]]): reached via
  * reader options —
  * {{{
  * spark.read.format("strawboat")
  *   .option("readChangeFeed", "true")
  *   .option("startingVersion", "2")
  *   .option("endingVersion", "5")    // optional; omitted = pinned latest
  *   .load(dir)
  * }}}
  * One input partition per (file, change) task; each task runs the scan
  * reader with every undelivered row dead, so a page holding no delivered
  * ordinal is skipped without a decode (the common case for small DV
  * diffs), and emits the file's schema-resolved rows plus the
  * `_change_type` / `_commit_version` labels. No filter or
  * column pushdown: a feed is an audit/replication scan, read whole by
  * design (Catalyst still filters/projects above the scan). */
private[spark] class ChangeFeedTable(dir: String, from: Long, to: Long,
    bounded: Boolean = false)
  extends Table with SupportsRead {
  override def name(): String = s"strawboat-changes:$dir@[$from,$to]"
  override def schema(): StructType = StrawChanges.plan(dir, from, to).outSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangeFeedScan(dir, from, to, bounded,
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("maxBytesPerTrigger")).map(_.toLong))
    }
}

private[spark] class ChangeFeedScan(dir: String, from: Long, to: Long,
    bounded: Boolean = false, maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends Scan with Batch {
  private lazy val plan = StrawChanges.plan(dir, from, to)
  override def readSchema(): StructType = plan.outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"strawboat changes $dir versions [$from, $to] (${plan.tasks.size} tasks)"
  override def planInputPartitions(): Array[InputPartition] =
    plan.tasks.map(t => ChangeFeedPartition(t): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeFeedReaderFactory(plan.dataSchema.json,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf),
      plan.mapping)
  /** Streaming surface: replay the feed from `from`, then follow the
    * log's tail ([[ChangeFeedMicroBatchStream]]). An EXPLICIT
    * endingVersion bounds the stream (it drains and idles there); the
    * pinned-latest of an omitted one only fixes the schema. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ChangeFeedMicroBatchStream(dir, from, if (bounded) Some(to) else None,
      plan.dataSchema, maxFilesPerTrigger, maxBytesPerTrigger)
}

private[spark] final case class ChangeFeedPartition(
    task: StrawChanges.ChangeTask) extends InputPartition

private[spark] class ChangeFeedReaderFactory(dataSchemaJson: String,
    serConf: org.apache.spark.util.SerializableConfiguration,
    mapping: ColumnMappingState = ColumnMappingState.Empty)
  extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "strawboat change feeds are columnar: use createColumnarReader")

  /** One change task through the scan reader: the whole file at the feed's
    * data schema, with every row the task does not deliver dead — the
    * positions bitmap itself when inverted (`!…`), its complement
    * otherwise — so pages holding no delivered row are skipped undecoded.
    * The two labels ride each batch as constant vectors. */
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    StrawIO.install(serConf.value)
    val t = partition.asInstanceOf[ChangeFeedPartition].task
    val (invert, label) =
      if (t.changeType.startsWith("!")) (true, t.changeType.substring(1))
      else (false, t.changeType)
    val dataSch = DataType.fromJson(dataSchemaJson).asInstanceOf[StructType]
    val base =
      try {
        val dead = Option(t.positionBytes).map(StrawChanges.fromBytes).map(b =>
          if (invert) b
          else org.roaringbitmap.RoaringBitmap.flip(b, 0L,
            FooterCache.get(t.path, t.mtime, t.len).numRows))
        new ColumnarSupport.StrawColumnarReader(
          StrawInputPartition(t.path, 0, Int.MaxValue, Long.MaxValue), dataSch,
          dataSch.length, dead = dead.orNull, mapping = mapping)
      } catch {
        case e: java.io.FileNotFoundException => throw new IllegalStateException(
          s"strawboat: change feed needs ${t.path} (version ${t.version}) " +
            "but it was vacuumed — derive feeds within the retention window", e)
      }
    val typeVec = new ConstantColumnVector(1, StringType)
    typeVec.setUtf8String(UTF8String.fromString(label))
    val versionVec = new ConstantColumnVector(1, LongType)
    versionVec.setLong(t.version)
    ColumnarSupport.withConstants(base, typeVec, versionVec)
  }
}

// ---------------------------------------------------------------------------
// Streaming change feed
// ---------------------------------------------------------------------------

/** Micro-batch source over the change data feed: each trigger delivers the
  * row-level changes of committed versions past the stream's position —
  * including the DELETEs and UPDATEs the append-only table stream must
  * skip, labeled with `_change_type`/`_commit_version`. This is the CDC
  * replication surface: a downstream MERGE keyed on `_change_type` tracks
  * the table exactly, retractions included.
  *
  * Semantics inherited from [[StrawChanges.plan]]: compaction delivers
  * nothing; a version whose preimage files or sidecars were vacuumed fails
  * LOUDLY rather than under-reporting. The schema is pinned at stream
  * start (a later-added column is dropped; an absent one null-fills per
  * file). Admission control caps tasks (`maxFilesPerTrigger`) or bytes
  * (`maxBytesPerTrigger`) per micro-batch ([[StreamAdmission]]). The
  * offset is the table stream's [[StrawLogStreamOffset]]: every task of
  * versions `< version`, plus the first `idx` tasks of `version` in
  * [[tasksOf]] order. Commit files and sidecars are write-once, so any
  * `(start, end]` replays to the same task list. */
private[spark] class ChangeFeedMicroBatchStream(dir: String, from: Long,
    bound: Option[Long], dataSchema: StructType,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  require(from >= 1, s"strawboat: change-feed stream startingVersion must be >= 1, got $from")

  // Trigger.AvailableNow: pin the drain target once; capped micro-batches
  // then drain exactly this backlog and the query stops.
  @volatile private var availableNowVersion: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowVersion = Some(StrawLog.latestVersion(dir).getOrElse(0L))

  private def latestNow(): Long = {
    val l = availableNowVersion.getOrElse(StrawLog.latestVersion(dir).getOrElse(
      throw new IllegalStateException(
        s"strawboat: no transaction log under $dir — no change feed")))
    bound.fold(l)(math.min(l, _))
  }

  /** One version's change tasks in DETERMINISTIC order — the offset's idx
    * indexes this sequence, so it must replay identically across restarts
    * (the planner's map iteration order is not a contract; the sort is). */
  private def tasksOf(v: Long): Seq[StrawChanges.ChangeTask] =
    StrawChanges.plan(dir, v, v).tasks.sortBy(t => (t.path, t.changeType))

  /** Every unconsumed (position-after-it, task) from `start` through
    * version `hi`, in delivery order. */
  private def pendingFrom(start: StrawLogStreamOffset, hi: Long)
      : IndexedSeq[(StrawLogStreamOffset, StrawChanges.ChangeTask)] = {
    val out = IndexedSeq.newBuilder[(StrawLogStreamOffset, StrawChanges.ChangeTask)]
    var v = math.max(start.version, from)
    while (v <= hi) {
      val ts = tasksOf(v)
      var i = if (v == start.version) start.idx else 0
      while (i < ts.size) {
        out += ((StrawLogStreamOffset(v, i + 1), ts(i)))
        i += 1
      }
      v += 1
    }
    out.result()
  }

  override def initialOffset(): Offset = StrawLogStreamOffset(from, 0)
  override def deserializeOffset(json: String): Offset = StrawLogStreamOffset.fromJson(json)
  override def reportLatestOffset(): Offset = StrawLogStreamOffset(latestNow() + 1, 0)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[StrawLogStreamOffset]
    val hi = latestNow()
    StreamAdmission.endOffset(so, hi, pendingFrom(so, hi), limit)(_.len)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val e = end.asInstanceOf[StrawLogStreamOffset]
    // enumerate through e's last version, never touching a version past
    // the consumed range — e may be the (hi+1, 0) sentinel
    pendingFrom(start.asInstanceOf[StrawLogStreamOffset], e.tailBound)
      .filter { case (pos, _) => StrawLogStreamOffset.leq(pos, e) }
      .map { case (_, t) => ChangeFeedPartition(t): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeFeedReaderFactory(dataSchema.json,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf),
      StrawLog.mappingAt(dir))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
