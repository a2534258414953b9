package graft.spark

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.format.StrawFileReader

/** Structured Streaming over the strawboat format.
  *
  * Read side, LOG MODE (tables with a [[StrawLog]] — everything this
  * library writes): the stream consumes committed VERSION DELTAS. The
  * offset is a position in the commit history ([[StrawLogStreamOffset]]);
  * each trigger reads only the commit files past it — exact, O(delta),
  * no listing, no mtime safety lag. A new stream starts from the latest
  * snapshot (initial-snapshot phase) and then follows the tail. Only
  * data-bearing commits deliver (append / streaming epoch / truncate);
  * compaction moves bytes, not data, and delivers NOTHING — rewriting
  * files under a live stream no longer re-delivers their rows — while
  * row-level delete/update cannot be represented in an append-only
  * stream and are skipped (no retraction; a stream started AFTER them
  * sees the post-mutation state via the snapshot + current deletion
  * vectors).
  *
  * Read side, LISTING MODE (no log — foreign directories): the legacy
  * micro-batch file stream — each trigger lists `.strb` files not yet
  * seen, ordered by (modificationTime, path). The offset is an mtime
  * high-water mark plus the explicit entries at or above it, bounded the
  * way FileStreamSource compacts its seen-log. A checkpointed stream
  * keeps its mode: offsets are self-describing, and a restart dispatches
  * on the offset shape.
  *
  * Write side: per-epoch rolling files via the same [[StrawDataWriter]] as
  * batch, staged under a job-scoped suffix and made visible only at epoch
  * commit ([[StrawCommitProtocol]]).
  */
object StrawOffset {
  def toJson(files: Seq[String]): String =
    files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")

  def fromJson(json: String): Seq[String] = {
    // minimal JSON string-array parser (offsets are written by toJson only)
    val s = json.trim
    require(s.startsWith("[") && s.endsWith("]"), s"bad offset json: $s")
    val body = s.substring(1, s.length - 1).trim
    if (body.isEmpty) Seq.empty
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inStr = false
      var escape = false
      body.foreach { c =>
        if (escape) { sb.append(c); escape = false }
        else if (c == '\\') escape = true
        else if (c == '"') { if (inStr) { out += sb.toString; sb.clear() }; inStr = !inStr }
        else if (inStr) sb.append(c)
      }
      out.toSeq
    }
  }
}

/** A file is SEEN iff its modTime is below `highWater` OR its path appears
  * in `files`. The mark only ever advances past files already admitted to a
  * batch, and trails the newest seen file by a safety lag — accepting the
  * same mtime-race tradeoff as Spark's FileStreamSource (a file that later
  * lands with an mtime older than the mark is treated as already seen). */
case class StrawStreamOffset(highWater: Long, files: Seq[(Long, String)]) extends Offset {
  override def json(): String = {
    // each entry serialized "modTime|path" inside a plain string array
    val entries = files.map { case (m, p) => s"$m|$p" }
    s"""{"hw":$highWater,"files":${StrawOffset.toJson(entries)}}"""
  }
  def fileSet: Set[String] = files.map(_._2).toSet
}

/** Log-mode stream offset: a position in the table's commit history.
  *
  *  - `version > 0`: every deliverable add of versions `< version` is
  *    consumed, plus the first `idx` adds (path-sorted) of `version`.
  *  - `version < 0` (initial-snapshot phase): the stream started from the
  *    full snapshot AT `-version`; the first `idx` of its files (sorted by
  *    the log-recorded (mtime, path) — delivery order) are consumed. Once
  *    the snapshot drains, the position advances into the tail at
  *    `-version + 1`.
  *
  * Replay is exact: commit files are write-once, so `(start, end]` always
  * re-derives the same file list (a vacuumed-away commit file fails the
  * stream loudly instead of skipping data). */
case class StrawLogStreamOffset(version: Long, idx: Int) extends Offset {
  override def json(): String = s"""{"v":$version,"i":$idx}"""
  /** Sortable position: the initial-snapshot phase of V orders before the
    * tail phase (which starts at V+1). */
  def key: (Long, Int, Int) =
    if (version < 0) (-version, 0, idx) else (version, 1, idx)
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

object StrawStreamOffset {
  def fromJson(json: String): StrawStreamOffset = {
    val s = json.trim
    require(s.startsWith("{") && s.endsWith("}"), s"bad stream offset json: $s")
    val hwKey = "\"hw\":"
    val hwIdx = s.indexOf(hwKey)
    require(hwIdx >= 0, s"bad stream offset json (no hw): $s")
    val hw = s.substring(hwIdx + hwKey.length)
      .takeWhile(c => c == '-' || c.isDigit).toLong
    val arrStart = s.indexOf('[')
    val arrEnd = s.lastIndexOf(']')
    require(arrStart >= 0 && arrEnd > arrStart, s"bad stream offset json (no files): $s")
    val files = StrawOffset.fromJson(s.substring(arrStart, arrEnd + 1)).map { e =>
      val cut = e.indexOf('|')
      require(cut > 0, s"bad stream offset entry: $e")
      (e.substring(0, cut).toLong, e.substring(cut + 1))
    }
    StrawStreamOffset(hw, files)
  }
}

class StrawMicroBatchStream(path: String, fullSchema: StructType,
    requiredSchema: StructType, maxFilesPerTrigger: Option[Int] = None,
    exactFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    maxBytesPerTrigger: Option[Long] = None,
    skipFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  /** The high-water mark stays this far behind the newest seen mtime, so
    * files still being copied in (or written by a skewed clock) within the
    * window are not wrongly classified as seen. Our own sinks bump mtime to
    * COMMIT time on rename (finalizeFiles), so this guards foreign writers
    * (copies, distcp) — five minutes of slack trades a slightly larger
    * explicit list for tolerance of slow multi-file copy-ins. */
  private val SafetyLagMs = 5 * 60 * 1000L

  /** Log mode iff the table carries a transaction log at stream start.
    * A RESTARTED stream dispatches on its checkpointed offset's shape, so
    * the mode is sticky per query regardless of this flag. */
  private val logMode: Boolean = StrawLog.latestVersion(path).isDefined

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
  // version (log mode) or the file-set snapshot (listing mode); subsequent
  // capped micro-batches drain exactly this backlog, then the query stops.
  @volatile private var availableNowSnapshot: Option[Seq[StrawIO.FileMeta]] = None
  @volatile private var availableNowVersion: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    // pin BOTH drain targets: the offset SHAPE follows the checkpoint,
    // not this stream's logMode flag — a listing-mode checkpoint restarted
    // after the table gained a log must still drain against a pinned file
    // snapshot, and vice versa
    if (logMode) availableNowVersion = Some(latestVersionNow())
    availableNowSnapshot = Some(currentFiles())
  }
  override def reportLatestOffset(): Offset =
    if (logMode) StrawLogStreamOffset(latestVersionNow() + 1, 0)
    else
      // an everything-visible upper bound: hw at -inf, all files explicit
      StrawStreamOffset(Long.MinValue,
        availableNowSnapshot.getOrElse(currentFiles()).map(m => (m.mtime, m.path)))

  /** Visible files in admission order — log-aware ([[StrawIO
    * .listFilesMeta]]), recursive so hive-partitioned sinks stream too. */
  private def currentFiles(): Seq[StrawIO.FileMeta] =
    StrawIO.listFilesMeta(path).sortBy(m => (m.mtime, m.path))

  private def latestVersionNow(): Long =
    availableNowVersion.getOrElse(StrawLog.latestVersion(path).getOrElse(0L))

  /** Data-bearing ops deliver; compaction moves bytes (not data), and
    * row mutations (delete/update/merge) cannot be expressed in an
    * append-only stream — their commits deliver nothing (a merge's adds
    * are mostly REPLACEMENT versions of rows already shipped; skipping
    * the whole commit trades its genuine inserts for never
    * double-delivering, the same no-retraction bias as delete/update).
    *
    * NOTE the standing backlog contract (unchanged from the listing-mode
    * source): maintenance that VACUUMS files the stream has not yet
    * delivered destroys that backlog — compact/delete/update/merge a
    * streamed table only after the stream's offset passed the inputs. A
    * commit the stream already consumed re-delivers nothing under any
    * later maintenance, which is the guarantee the mtime path could not
    * give. */
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

  /** The full file set at version `v` in DELIVERY order: (mtime, path),
    * the listing-mode admission order — a consumer that relies on rough
    * arrival ordering (e.g. event-time watermarks fed by time-ranged
    * files) sees the same sequence whichever mode the source runs in.
    * Deterministic on replay: both keys come from the LOG's recorded
    * entries, never a live listing. */
  private def snapshotFilesAt(v: Long): Seq[StrawIO.FileMeta] =
    StrawLog.snapshotAt(path, v).getOrElse(throw new IllegalStateException(
      s"strawboat: streaming source cannot reconstruct snapshot $v of $path " +
        "(log vacuumed past it) — restart the stream from a fresh checkpoint")
    ).entries.map(_.meta).sortBy(m => (m.mtime, m.path))

  /** Every unconsumed (position-after-it, file) from `start` through the
    * tail version `bound`, in delivery order. */
  private def pendingFrom(start: StrawLogStreamOffset, bound: Long)
      : Seq[(StrawLogStreamOffset, StrawIO.FileMeta)] = {
    val out = Seq.newBuilder[(StrawLogStreamOffset, StrawIO.FileMeta)]
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

  override def initialOffset(): Offset =
    if (logMode) StrawLogStreamOffset(-latestVersionNow(), 0)
    else StrawStreamOffset(Long.MinValue, Seq.empty)
  override def latestOffset(): Offset =
    if (logMode) StrawLogStreamOffset(latestVersionNow() + 1, 0)
    else StrawStreamOffset(Long.MinValue, currentFiles().map(m => (m.mtime, m.path)))

  // backpressure: cap the files and/or bytes admitted per micro-batch
  // (.option("maxFilesPerTrigger", n) / .option("maxBytesPerTrigger", b))
  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Apply one admission limit to the candidate list (in admission order).
    * Byte caps use the length carried from the listing/log itself —
    * zero per-candidate status RPCs even on a deep backlog — and always
    * admit at least one file so a single over-cap file can't wedge the
    * stream. */
  private def applyLimit(fresh: Seq[StrawIO.FileMeta], limit: ReadLimit): Seq[StrawIO.FileMeta] =
    limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        fresh.take(mf.maxFiles())
      case mb: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        // PREFIX admission only (stop at the first file over budget, never
        // skip-and-continue): the offset compaction treats the admitted set
        // as a prefix of the backlog — a gap could advance the high-water
        // mark past a skipped file and lose it permanently
        var budget = mb.maxBytes()
        val out = scala.collection.mutable.ArrayBuffer.empty[StrawIO.FileMeta]
        var stop = false
        for (e <- fresh if !stop) {
          if (out.isEmpty || e.len <= budget) { out += e; budget -= e.len }
          else stop = true
        }
        out.toSeq
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.foldLeft(fresh)(applyLimit)
      case _ => fresh
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = start match {
    case lo: StrawLogStreamOffset =>
      val bound = latestVersionNow()
      val pending = pendingFrom(lo, bound)
      if (pending.isEmpty) {
        // nothing deliverable — fast-forward past data-less versions
        // (compaction/delete/update commits) so the offset never lags into
        // the vacuumLog horizon; same position → start unchanged
        // (json-identical), the engine's no-new-data signal
        val ff = StrawLogStreamOffset(bound + 1, 0)
        if (StrawLogStreamOffset.leq(ff, lo)) lo else ff
      } else {
        val admitted = applyLimit(pending.map(_._2), limit)
        if (admitted.isEmpty) lo
        else if (admitted.size == pending.size) StrawLogStreamOffset(bound + 1, 0)
        else pending(admitted.size - 1)._1
      }
    case so: StrawStreamOffset => mtimeLatestOffset(so, limit)
  }

  private def mtimeLatestOffset(so: StrawStreamOffset, limit: ReadLimit): Offset = {
    val seenSet = so.fileSet
    val visible = availableNowSnapshot.getOrElse(currentFiles())
    val fresh = visible.filter(m =>
      m.mtime >= so.highWater && !seenSet.contains(m.path))
    val admitted = applyLimit(fresh, limit)
    // nothing new: return the START offset unchanged (json-identical), which
    // is how the engine detects no-new-data and AvailableNow terminates
    if (admitted.isEmpty) so
    else {
      val allSeen = so.files ++ admitted.map(m => (m.mtime, m.path))
      // compaction: advance the mark past admitted files, but never past
      //  (a) a not-yet-admitted backlog file (it must stay unseen),
      //  (b) any file admitted THIS batch (replays of (start, this] must
      //      still find it in the explicit list), or
      //  (c) newest-seen-mtime minus the safety lag.
      val unadmittedMin = fresh.drop(admitted.size).map(_.mtime)
        .minOption.getOrElse(Long.MaxValue)
      val admittedMin = admitted.map(_.mtime).min
      val maxSeenMod = allSeen.map(_._1).max
      val newHw = math.max(so.highWater,
        math.min(math.min(unadmittedMin, admittedMin), maxSeenMod - SafetyLagMs))
      StrawStreamOffset(newHw,
        allSeen.filter(_._1 >= newHw).sortBy(identity))
    }
  }

  override def deserializeOffset(json: String): Offset =
    // offsets are self-describing: log-mode {"v":..,"i":..} vs listing-mode
    // {"hw":..,"files":[..]} — a restarted stream keeps its mode
    if (json.contains("\"hw\":")) StrawStreamOffset.fromJson(json)
    else StrawLogStreamOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // derived from the two offsets ALONE (log mode: plus the write-once
    // commit files they index): deterministic on replay from a checkpoint —
    // the pruning below is a pure function of the (static) pushed filters
    // and each file's footer, so a replayed batch prunes identically
    val fresh: Seq[String] = (start, end) match {
      case (lo: StrawLogStreamOffset, eo: StrawLogStreamOffset) =>
        val bound =
          if (eo.version < 0) -eo.version - 1
          else if (eo.idx == 0) eo.version - 1
          else eo.version
        pendingFrom(lo, bound)
          .filter { case (post, _) => StrawLogStreamOffset.leq(post, eo) }
          .map(_._2.path)
      case (so: StrawStreamOffset, eo: StrawStreamOffset) =>
        val seenSet = so.fileSet
        eo.files
          .filter { case (m, p) => m >= so.highWater && !seenSet.contains(p) }
          .map(_._2)
      case _ => throw new IllegalStateException(
        s"strawboat: mixed stream offset modes: ${start.json()} .. ${end.json()}")
    }
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
  * protocol. Hidden epoch-marker files serve only the `queryId == "none"`
  * construction path and pre-log sinks; markers older than a few epochs
  * are deleted as commits advance. Epochs are serial within a query, so
  * sweeping this job's staged leftovers at commit/abort only removes
  * dead-task debris of the same epoch. */
class StrawStreamingWrite(path: String, schema: StructType,
    opts: graft.format.WriteOptions, partitionCols: Seq[String] = Seq.empty,
    queryId: String = "none",
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false)
  extends StreamingWrite {
  private val jobId = java.util.UUID.randomUUID().toString.take(8)

  private def epochMarker(epochId: Long) =
    new org.apache.hadoop.fs.Path(path, s".commit-$queryId-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    StrawStreamingWriterFactory(path, schema, opts, jobId,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf), partitionCols,
      checker, ordered)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = StrawIO.fs(path)
    val staged = messages.flatMap { case StrawCommitMessage(fs) => fs }.toSeq
    // Epoch idempotence is a TXN ACTION in the transaction log: the log
    // commit that makes the epoch's files visible and the replay guard are
    // one atomic write, so there is no marker-vs-log crash window left.
    // The engine-visible queryId is the txn app id; "none" (non-streaming
    // construction paths) falls back to marker files, whose window is the
    // pre-log behavior. Markers written by pre-log code are still honored.
    val txn: Option[(String, Long)] =
      if (queryId != "none") Some((queryId, epochId)) else None
    val marker = epochMarker(epochId)
    val alreadyCommitted =
      StrawLog.snapshot(path).exists(
        _.txns.getOrElse(queryId, Long.MinValue) >= epochId) || f.exists(marker)
    if (alreadyCommitted) {
      // replayed epoch: its rows are already visible — drop this attempt
      staged.foreach(s => f.delete(new org.apache.hadoop.fs.Path(s), false))
    } else {
      val fresh = StrawCommitProtocol.finalizeFiles(path, jobId, staged)
      val adds = StrawIO.mapParallel(fresh)(StrawLog.entryFor)
      StrawLog.commit(path, adds, txn = txn, op = s"streaming epoch $epochId")
      if (txn.isEmpty) f.create(marker, true).close()
      StrawBucket.recordSpec(path, opts, truncate = false)
    }
    // retire markers the engine can no longer replay (it only ever replays
    // the last uncommitted epoch) so the sink dir doesn't accumulate one
    // hidden file per epoch forever
    if (epochId >= 3) f.delete(epochMarker(epochId - 3), false): Unit
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
