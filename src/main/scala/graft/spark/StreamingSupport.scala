package graft.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the strawboat format.
  *
  * Read side: the stream consumes committed VERSION DELTAS of the table's
  * [[StrawLog]]. The offset is a position in the commit history
  * ([[StrawLogStreamOffset]]); each trigger reads only the commit files
  * past it — exact, O(delta), no listing. A new stream starts from the
  * latest snapshot (initial-snapshot phase) and then follows the tail.
  * Only data-bearing commits deliver (append / streaming epoch /
  * truncate); compaction moves bytes, not data, and delivers NOTHING —
  * rewriting files under a live stream never re-delivers their rows —
  * while row-level delete/update cannot be represented in an append-only
  * stream and are skipped (no retraction; a stream started AFTER them
  * sees the post-mutation state via the snapshot + current deletion
  * vectors).
  *
  * A path with no log yet starts at the tail, version 1, when it holds no
  * data files (absent or empty): its first commit is the first delivery,
  * a bootstrap commit included. A log-less path that already holds data
  * files fails at stream start — commit to it once through the connector
  * (the first commit adopts the existing files) or read it as a batch.
  *
  * Write side: per-epoch rolling files via the same [[StrawDataWriter]] as
  * batch, staged under a job-scoped suffix and made visible only at epoch
  * commit ([[StrawCommitProtocol]]).
  */
/** Stream offset: a position in the table's commit history. The table
  * stream ([[StrawMicroBatchStream]]) and the change-feed stream
  * ([[ChangeFeedMicroBatchStream]]) both use it; the items of a version
  * are its deliverable files or its change tasks, in the stream's
  * deterministic per-version order.
  *
  *  - `version > 0`: every item of versions `< version` is consumed, plus
  *    the first `idx` items of `version`.
  *  - `version < 0` (table stream's initial-snapshot phase): the stream
  *    started from the full snapshot AT `-version`; the first `idx` of its
  *    files (sorted by the log-recorded (mtime, path) — delivery order)
  *    are consumed. Once the snapshot drains, the position advances into
  *    the tail at `-version + 1`.
  *
  * Replay is exact: commit files are write-once, so `(start, end]` always
  * re-derives the same item list (a vacuumed-away commit file fails the
  * stream loudly instead of skipping data). */
case class StrawLogStreamOffset(version: Long, idx: Int) extends Offset {
  override def json(): String = s"""{"v":$version,"i":$idx}"""
  /** Sortable position: the initial-snapshot phase of V orders before the
    * tail phase (which starts at V+1). */
  def key: (Long, Int, Int) =
    if (version < 0) (-version, 0, idx) else (version, 1, idx)
  /** The last tail version whose items `(_, this]` can include. */
  def tailBound: Long =
    if (version < 0) -version - 1 else if (idx == 0) version - 1 else version
}

object StrawLogStreamOffset {
  def fromJson(json: String): StrawLogStreamOffset = {
    val s = json.trim
    require(s.startsWith("{") && s.endsWith("}"), s"bad log stream offset: $s")
    def field(k: String): String = {
      val i = s.indexOf(s""""$k":""")
      require(i >= 0, s"bad log stream offset (no $k): $s")
      s.substring(i + k.length + 3).takeWhile(c => c == '-' || c.isDigit)
    }
    StrawLogStreamOffset(field("v").toLong, field("i").toInt)
  }

  def leq(a: StrawLogStreamOffset, b: StrawLogStreamOffset): Boolean =
    Ordering[(Long, Int, Int)].lteq(a.key, b.key)
}

/** Admission control of both log-position streams:
  * `maxFilesPerTrigger` caps the items (files, change tasks) and
  * `maxBytesPerTrigger` their summed length per micro-batch. Admission is
  * a PREFIX of the pending items in delivery order, never
  * skip-and-continue, so an end offset always describes a contiguous
  * consumed range. Lengths come from the log itself: zero status RPCs
  * even on a deep backlog. */
private[spark] object StreamAdmission {
  def defaultLimit(maxFiles: Option[Int], maxBytes: Option[Long]): ReadLimit =
    maxFiles.map(ReadLimit.maxFiles).toSeq ++ maxBytes.map(ReadLimit.maxBytes) match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }

  /** How many leading items, of byte lengths `lens`, `limit` admits. A
    * byte cap admits at least one item, so a single over-cap file cannot
    * wedge the stream; a composite admits the fewest of its parts. */
  def admitted(lens: IndexedSeq[Long], limit: ReadLimit): Int = limit match {
    case mf: ReadMaxFiles => math.min(lens.size, mf.maxFiles())
    case mb: ReadMaxBytes => withinBytes(lens, mb.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(lens.size)((n, l) => math.min(n, admitted(lens, l)))
    case _ => lens.size
  }

  private def withinBytes(lens: IndexedSeq[Long], maxBytes: Long): Int = {
    var budget = maxBytes
    var n = 0
    while (n < lens.size && (n == 0 || lens(n) <= budget)) {
      budget -= lens(n)
      n += 1
    }
    n
  }

  /** The end offset of the next micro-batch: the position after the last
    * admitted item of `pending` (position-after-it, item) from `start`
    * through tail version `bound`. Once everything is admitted — or
    * nothing was pending — the position moves past `bound`, which
    * fast-forwards over data-less versions (compaction, delete, update)
    * so it never lags into the vacuumLog horizon. An unmoved position is
    * `start` itself (json-identical): the engine's no-new-data signal. */
  def endOffset[T](start: StrawLogStreamOffset, bound: Long,
      pending: IndexedSeq[(StrawLogStreamOffset, T)], limit: ReadLimit)(
      len: T => Long): StrawLogStreamOffset = {
    val n = admitted(pending.map(p => len(p._2)), limit)
    if (n == pending.size) {
      val past = StrawLogStreamOffset(bound + 1, 0)
      if (StrawLogStreamOffset.leq(past, start)) start else past
    } else if (n == 0) start
    else pending(n - 1)._1
  }
}

class StrawMicroBatchStream(path: String, fullSchema: StructType,
    requiredSchema: StructType, maxFilesPerTrigger: Option[Int] = None,
    exactFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    maxBytesPerTrigger: Option[Long] = None,
    skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  // ---- engine-side filter pruning (wired by [[StreamFilterPruning]]) ----
  // Spark runs no V2 filter pushdown for streaming scans (the ScanBuilder
  // is built once, before any Filter is visible), so an injected optimizer
  // rule registers each consumer branch's conjunctive filters here per
  // micro-batch plan. Registration is PRUNE-ONLY — Spark still evaluates
  // its Filter nodes — and sets combine as OR-of-conjunctions: a
  // file/page survives when ANY consumer's set keeps it, and a consumer
  // with no (translatable) filters disables pruning outright, so a
  // self-union with one unfiltered branch never loses rows. Offsets and
  // admission ignore the sets entirely: what a batch has SEEN is a pure
  // function of the offsets, pruning only shrinks what it reads.
  @volatile private var consumerSets: List[Array[org.apache.spark.sql.sources.Filter]] = Nil
  @volatile private var hasUnfilteredConsumer = false
  private val seenSetKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[spark] def registerConsumerFilters(
      fs: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (fs.isEmpty) hasUnfilteredConsumer = true
    else {
      val key = fs.map(_.toString).sorted.mkString("&")
      if (seenSetKeys.add(key)) consumerSets ::= fs
    }
  }
  /** The active prune sets: empty = no pruning (no registration yet, or an
    * unfiltered consumer exists). */
  private def pruneSets: Seq[Array[org.apache.spark.sql.sources.Filter]] =
    if (hasUnfilteredConsumer) Nil else consumerSets

  // Trigger.AvailableNow: pin the drain target once — the latest log
  // version; subsequent capped micro-batches drain exactly this backlog,
  // then the query stops.
  @volatile private var availableNowVersion: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowVersion = Some(latestVersionNow())
  override def reportLatestOffset(): Offset = StrawLogStreamOffset(latestVersionNow() + 1, 0)

  /** The latest committed version (0: no log yet), or the pinned one. */
  private def latestVersionNow(): Long =
    availableNowVersion.getOrElse(StrawLog.latestVersion(path).getOrElse(0L))

  /** Data-bearing ops deliver; compaction moves bytes (not data), and
    * row mutations (delete/update/merge) cannot be expressed in an
    * append-only stream — their commits deliver nothing (a merge's adds
    * are mostly REPLACEMENT versions of rows already shipped; skipping
    * the whole commit trades its genuine inserts for never
    * double-delivering, the same no-retraction bias as delete/update).
    *
    * NOTE the standing backlog contract: maintenance that VACUUMS files
    * the stream has not yet delivered destroys that backlog —
    * compact/delete/update/merge a streamed table only after the stream's
    * offset passed the inputs. A commit the stream already consumed
    * re-delivers nothing under any later maintenance. */
  private def deliverableOp(op: String): Boolean =
    !(op.startsWith("compact") || op.startsWith("delete") ||
      op.startsWith("update") || op.startsWith("merge") ||
      // a restore's A lines re-add files the stream already consumed (its
      // genuinely-resurrected rows are sacrificed to the same no-
      // double-delivery bias; the change feed is the surface that can
      // express them)
      op.startsWith("restore") ||
      // a dynamic partition overwrite's adds are mostly REPLACEMENT
      // versions of partitions already shipped — same bias as merge; the
      // change-feed STREAM expresses the replacement exactly
      op.startsWith("overwrite"))

  private def addsOf(v: Long): Seq[StrawIO.FileMeta] =
    StrawLog.commitAdds(path, v) match {
      case Some((op, adds)) =>
        if (deliverableOp(op)) adds.map(_.meta).sortBy(_.path) else Seq.empty
      case None => throw new IllegalStateException(
        s"strawboat: streaming source needs log version $v of $path but its " +
          "commit file is no longer retained (vacuumLog passed the stream's " +
          "position) — restart the stream from a fresh checkpoint")
    }

  /** The full file set at version `v` in DELIVERY order: (mtime, path).
    * Commits stamp their files with commit time, so this is commit order —
    * a consumer that relies on rough arrival ordering (e.g. event-time
    * watermarks fed by time-ranged files) sees the files in the order
    * they landed, whatever their paths. Deterministic on replay: both
    * keys come from the LOG's recorded entries, never a live listing. */
  private def snapshotFilesAt(v: Long): Seq[StrawIO.FileMeta] =
    StrawLog.snapshotAt(path, v).getOrElse(throw new IllegalStateException(
      s"strawboat: streaming source cannot reconstruct snapshot $v of $path " +
        "(log vacuumed past it) — restart the stream from a fresh checkpoint")
    ).entries.map(_.meta).sortBy(m => (m.mtime, m.path))

  /** Every unconsumed (position-after-it, file) from `start` through the
    * tail version `bound`, in delivery order. */
  private def pendingFrom(start: StrawLogStreamOffset, bound: Long)
      : IndexedSeq[(StrawLogStreamOffset, StrawIO.FileMeta)] = {
    val out = IndexedSeq.newBuilder[(StrawLogStreamOffset, StrawIO.FileMeta)]
    var firstTail = start.version
    if (start.version < 0) {
      val v0 = -start.version
      val snap = snapshotFilesAt(v0)
      var i = start.idx
      while (i < snap.size) {
        out += ((StrawLogStreamOffset(start.version, i + 1), snap(i)))
        i += 1
      }
      firstTail = v0 + 1
    }
    var v = firstTail
    while (v <= bound) {
      val adds = addsOf(v)
      var i = if (start.version >= 0 && v == start.version) start.idx else 0
      while (i < adds.size) {
        out += ((StrawLogStreamOffset(v, i + 1), adds(i)))
        i += 1
      }
      v += 1
    }
    out.result()
  }

  /** A new stream starts at the latest snapshot; a path with no log yet
    * starts at the tail, version 1 — unless it already holds data files,
    * which no position in a commit history describes. */
  override def initialOffset(): Offset = {
    val v = latestVersionNow()
    if (v > 0) StrawLogStreamOffset(-v, 0)
    else if (StrawLog.latestVersion(path).isEmpty && StrawIO.listFilesMeta(path).nonEmpty)
      throw new IllegalStateException(
        s"strawboat: cannot stream $path: it holds data files but no transaction " +
          "log (_straw_log). Commit to it once through the connector (the first " +
          "commit adopts the existing files) or read the directory as a batch")
    else StrawLogStreamOffset(1, 0)
  }
  override def latestOffset(): Offset = reportLatestOffset()

  // backpressure: cap the files and/or bytes admitted per micro-batch
  // (.option("maxFilesPerTrigger", n) / .option("maxBytesPerTrigger", b))
  override def getDefaultReadLimit: ReadLimit =
    StreamAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[StrawLogStreamOffset]
    val bound = latestVersionNow()
    StreamAdmission.endOffset(lo, bound, pendingFrom(lo, bound), limit)(_.len)
  }

  override def deserializeOffset(json: String): Offset =
    if (json.contains("\"hw\":")) throw new IllegalStateException(
      s"strawboat: the checkpoint of a stream over $path holds a listing-mode " +
        "(mtime high-water) offset; listing-mode checkpoints are no longer " +
        "readable — restart the stream from a fresh checkpoint")
    else StrawLogStreamOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // derived from the two offsets ALONE (plus the write-once commit files
    // they index): deterministic on replay from a checkpoint — the pruning
    // below is a pure function of the (static) pushed filters and each
    // file's footer, so a replayed batch prunes identically
    val lo = start.asInstanceOf[StrawLogStreamOffset]
    val eo = end.asInstanceOf[StrawLogStreamOffset]
    val fresh: Seq[String] = pendingFrom(lo, eo.tailBound)
      .filter { case (post, _) => StrawLogStreamOffset.leq(post, eo) }
      .map(_._2.path)
    // pushed filters prune the streaming read like the batch path: whole
    // hive partition directories first (zero footer IO for excluded ones),
    // then pages by their zone maps/blooms. Admission already marked the
    // files seen, so skipping their data here never re-delivers later.
    // Two layers compose: constructor `skipFilters` apply conjunctively
    // (batch-path plumbing), and the rule-registered consumer sets apply
    // as OR-of-conjunctions (a file survives if ANY consumer keeps it).
    val sets = pruneSets
    val freshKept0 =
      if (skipFilters.isEmpty) fresh
      else PartitionLayout.pruneBy(fresh, fullSchema, skipFilters)(identity)
    val freshKept =
      if (sets.isEmpty) freshKept0
      else {
        val keep = sets.map(s =>
          PartitionLayout.pruneBy(freshKept0, fullSchema, s)(identity).toSet)
          .reduce(_ union _)
        freshKept0.filter(keep)
      }
    // deletion vectors: a file admitted after a merge-on-read DELETE must
    // not deliver the dead rows — resolve each file's CURRENT sidecar from
    // the snapshot. This reads the LATEST vector deliberately: a batch
    // replayed after a further delete delivers fewer rows than the
    // original attempt (never more) — for the takedown use case,
    // under-delivery on replay is the correct bias, and rows the stream
    // already shipped are out of reach regardless (no retraction).
    val dvByPath: Map[String, DeletionVector.DvInfo] =
      StrawLog.snapshot(path) match {
        case Some(snap) =>
          snap.entries.collect { case e if e.dv != null => e.meta.path -> e.dv }.toMap
        case None => Map.empty
      }
    // footers via the bounded parallel pool + version-keyed cache, like the
    // batch planner — a wide AvailableNow backlog must not pay one serial
    // round-trip per file
    val footers = StrawIO.mapParallel(freshKept) { f =>
      val in = StrawIO.open(f)
      try (f, FooterCache.get(f, in)) finally in.close()
    }
    // contiguous kept runs, like the batch planner (without the byte
    // targeting — admission already bounds per-batch volume); zero-column
    // files still carry rows (schema-only projections)
    footers.flatMap { case (file, footer) =>
      val keep0 = ZoneMapFilter.keptPages(footer, skipFilters)
      val keep: Int => Boolean =
        if (sets.isEmpty) keep0
        else {
          val perSet = sets.map(s => ZoneMapFilter.keptPages(footer, s))
          p => keep0(p) && perSet.exists(_(p))
        }
      StrawInputPartition.keptRuns(file, footer, keep, dvByPath.getOrElse(file, null))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // exactFilters forwarded defensively: if the engine ever pushes filters
    // on the streaming path, the scan consumed them — readers must apply.
    new StrawPartitionReaderFactory(fullSchema, requiredSchema,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf),
      topN = None, exactFilters = exactFilters,
      mapping = StrawLog.mappingAt(path))
}

case class StrawStreamingWriterFactory(path: String, schema: StructType,
    opts: graft.format.WriteOptions, jobId: String,
    serConf: org.apache.spark.util.SerializableConfiguration,
    partitionCols: Seq[String],
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    StrawIO.install(serConf.value)
    new StrawDataWriter(path, schema, partitionId, taskId + epochId * 100000L,
      opts, jobId, partitionCols, checker, ordered)
  }
}

/** Streaming sink: tasks stage files under the job-scoped suffix (invisible
  * to readers); each epoch's winners are renamed in `commit(epochId)` and
  * become visible through ONE atomic [[StrawLog]] commit that also records
  * the epoch as a txn action (queryId, epochId). Replay at any crash point
  * is therefore exact: before the log commit, nothing is visible (renamed
  * files are unreferenced debris for [[StrawLog.vacuumUnreferenced]]) and
  * the replayed epoch commits cleanly; after it, the txn in the snapshot
  * identifies the epoch as committed and the replay's re-staged files are
  * discarded — no partial-duplication window remains, unlike parquet's v1
  * protocol. Epochs are serial within a query, so sweeping this job's
  * staged leftovers at abort only removes dead-task debris of the same
  * epoch. */
class StrawStreamingWrite(path: String, schema: StructType,
    opts: graft.format.WriteOptions, partitionCols: Seq[String], queryId: String,
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false)
  extends StreamingWrite {
  private val jobId = java.util.UUID.randomUUID().toString.take(8)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    StrawStreamingWriterFactory(path, schema, opts, jobId,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf), partitionCols,
      checker, ordered)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap { case StrawCommitMessage(fs) => fs }.toSeq
    // Epoch idempotence is a TXN ACTION in the transaction log, keyed by
    // the engine's queryId: the log commit that makes the epoch's files
    // visible and the replay guard are one atomic write, so no crash
    // window lies between them.
    val alreadyCommitted = StrawLog.snapshot(path).exists(
      _.txns.getOrElse(queryId, Long.MinValue) >= epochId)
    if (alreadyCommitted) {
      // replayed epoch: its rows are already visible — drop this attempt
      val f = StrawIO.fs(path)
      staged.foreach(s => f.delete(new org.apache.hadoop.fs.Path(s), false))
    } else {
      val fresh = StrawCommitProtocol.finalizeFiles(path, jobId, staged)
      val adds = StrawIO.mapParallel(fresh)(StrawLog.entryFor)
      StrawLog.commit(path, adds, txn = Some((queryId, epochId)),
        op = s"streaming epoch $epochId")
      StrawBucket.recordSpec(path, opts, truncate = false)
    }
    // no per-epoch staged sweep: success-path staged files are all
    // reported-and-renamed or task-abort-deleted; a whole-table walk per
    // MICRO-BATCH is the worst place to pay O(files) listings (see
    // StrawBatchWrite.commit). Unclean-death debris is invisible and
    // reclaimed by vacuumStaged/straw_vacuum.
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = StrawIO.fs(path)
    messages.foreach {
      case StrawCommitMessage(fs) =>
        fs.foreach(x => f.delete(new org.apache.hadoop.fs.Path(x), false))
      case _ =>
    }
    StrawCommitProtocol.sweepStaged(path, jobId)
  }
}

/** Engine-side filter pushdown for streaming scans. Spark builds a
  * streaming source's Scan once — before any Filter node is visible — and
  * never runs V2 filter pushdown on it, so a filtered `readStream` over
  * this source would read every admitted file in full. This optimizer
  * rule closes the gap: on each micro-batch plan it finds the Filter
  * conjunctions sitting on our stream's scan relation, translates them to
  * source filters, and registers them on the [[StrawMicroBatchStream]] as
  * PRUNE-ONLY hints (Spark keeps evaluating its Filter nodes — pruning
  * can only skip files/pages the filters provably exclude, never change
  * results). A consumer branch with no translatable filters registers an
  * empty set, which disables pruning for the whole stream — the safe
  * default for self-unions with an unfiltered branch. */
case class StreamFilterPruning(spark: org.apache.spark.sql.SparkSession)
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation

  private def streamOf(r: StreamingDataSourceV2ScanRelation): Option[StrawMicroBatchStream] =
    r.stream match {
      case s: StrawMicroBatchStream => Some(s)
      case _ => None
    }

  private def register(r: StreamingDataSourceV2ScanRelation,
      cond: org.apache.spark.sql.catalyst.expressions.Expression): Unit =
    streamOf(r).foreach { s =>
      val fs = splitConjuncts(cond).flatMap(c =>
        org.apache.spark.sql.graft.GraftSqlShims.translateFilter(c))
      s.registerConsumerFilters(fs.toArray)
    }

  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    visit(plan)
    plan
  }

  private def visit(p: LogicalPlan): Unit = p match {
    case Filter(cond, r: StreamingDataSourceV2ScanRelation) =>
      register(r, cond)
    case Filter(cond, Project(_, r: StreamingDataSourceV2ScanRelation)) =>
      register(r, cond)
    case r: StreamingDataSourceV2ScanRelation =>
      // a consumer reading the stream with no filter above it: every row
      // matters — disable pruning
      streamOf(r).foreach(_.registerConsumerFilters(Array.empty))
    case other => other.children.foreach(visit)
  }
}
