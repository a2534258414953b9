package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

import graft.format.WriteOptions

/** Small-file compaction for strawboat tables.
  *
  * Streaming sinks emit a file set per epoch and incremental batch appends
  * add more; a long-lived table accumulates files that every plan and scan
  * pays for forever (footer IO, task scheduling, page fragmentation). The
  * reference format is single-file and has no table maintenance surface —
  * this is part of the table layer built around it (SURVEY §2.9).
  *
  * `compact` bin-packs the table's small files (per partition directory,
  * per file schema) into `targetFileBytes`-sized rewrites and swaps them in
  * through the commit-protocol machinery:
  *
  *  1. rewrite bins DISTRIBUTED (one Spark task per bin) into files staged
  *     under a job-scoped suffix — invisible to every reader;
  *  2. rename outputs visible, stamped with the bin's MAX INPUT mtime (not
  *     commit time: compaction moves bytes, not data — a stream's initial
  *     snapshot delivers in (mtime, path) order, and the rewrite keeps the
  *     place its inputs held there);
  *  3. commit the generation switch to the [[StrawLog]] transaction log in
  *     ONE atomic version file (adds = outputs, removes = inputs) — log
  *     readers observe the old or the new generation, never both;
  *  4. delete the inputs (vacuum).
  *
  * Files at or above `smallFileBytes` (default: the target itself) are left
  * untouched — compaction cost is proportional to the small-file backlog,
  * not table size. Schema-evolved generations are compacted within their
  * own schema group (rewriting never converts data); hive partition
  * directories compact independently, preserving the layout and its
  * pruning.
  *
  * Crash/concurrency contract (backed by the [[StrawLog]] transaction
  * log): the generation switch is ONE atomic log commit, so log readers
  * observe the old or the new file set, never both. A crash or IO failure
  * before the commit leaves nothing visible (outputs are rolled back on an
  * ordinary failure; after a hard crash they are unreferenced debris for
  * [[StrawLog.vacuumUnreferenced]]); a crash after the commit but before
  * the input vacuum leaves unreferenced INPUTS, reclaimed the same way. A
  * concurrent committer that removed any input first surfaces as a clean
  * [[StrawLog.ConflictException]] no-op. Only a directory-WALKING reader
  * (log deleted) can transiently see both
  * generations mid-vacuum. Readers that captured a pre-compaction snapshot
  * can fail (not mis-answer) when the vacuum deletes inputs under them.
  *
  * Streaming a table AS A SOURCE while compacting it: the stream skips
  * maintenance commits, so compaction never re-delivers rows, yet the
  * input vacuum destroys any not-yet-delivered backlog the stream's
  * offset still points at — compact a streamed table only after the
  * stream's offset has passed the inputs' commit versions. (Stream SINKS
  * are always safe to compact: the writing query's exactly-once
  * bookkeeping is the log's txn actions + engine checkpoint, which
  * compaction never touches.)
  */
/** Mechanics shared by compaction ([[StrawCompaction]]) and the row-level
  * ops ([[StrawDelete]], [[StrawUpdate]], [[StrawMerge]], [[StrawMergeScan]],
  * [[StrawScanDml]]): bloom re-derivation, the stamped rename-visible
  * fan-out with rollback, and the atomic log switch + vacuum epilogue. The
  * row-level ops all mutate through deletion vectors and share one
  * [[snapshot]], one candidate ladder, one staging step ([[stageFrame]])
  * and one commit epilogue ([[commitDv]]). Every file they read — DML
  * matching, MERGE key probes, compaction — goes through the scan's
  * [[ColumnarSupport.StrawColumnarReader]], so deletion vectors, consumed
  * conditions, `_pos` ordinals and schema evolution resolve exactly as a
  * query sees them. One implementation, so a fix to the rollback, marker,
  * mtime-stamping or read contract cannot diverge between the ops. */
private[spark] object MaintenanceOps {

  /** Row-aligned leaf paths of `footer`'s schema that carry page blooms —
    * rewrites re-derive these so routine maintenance never silently strips
    * the point-lookup acceleration the table was written with. Repeated
    * (array/map) leaves are dropped: not row-aligned, never probe-able
    * (files written before the writer rejected such paths may carry them). */
  def bloomLeavesOf(footer: graft.format.StrawFooter): Set[String] = {
    val paths = graft.format.LeafLayout.leafPaths(footer.schema)
    val aligned = graft.format.LeafLayout.leaves(footer.schema)
      .map(!_._1.contains(graft.format.LeafLayout.LevelRep))
    footer.columns.indices.collect {
      case li if aligned(li) && footer.columns(li).pages.exists(_.bloom != null) =>
        paths(li)
    }.toSet
  }

  /** One candidate for a row-matching op: the file, its current deletion
    * vector (null = fully live), its footer row count, and the reader
    * slices over the pages its zone maps keep, each carrying `dv` (callers
    * that match outside the scan reader ignore them). */
  final case class Candidate(meta: StrawIO.FileMeta,
      dv: DeletionVector.DvInfo, numRows: Long,
      slices: Seq[StrawInputPartition]) extends Serializable

  /** One row-level op's view of the table, taken ONCE: the listing, the
    * rename/drop column mapping, the merged LOGICAL schema that conditions,
    * assignments and keys speak (per-file translation happens at each
    * access), and `opts` carrying the table's bucket spec so rewritten rows
    * keep the layout. */
  final case class Snapshot(listed: Seq[StrawIO.Listed],
      mapping: ColumnMappingState, schema: StructType, opts: WriteOptions)

  /** The [[Snapshot]] of `dir` for row-level op `op`. ONE listing drives the
    * schema and the candidate set: deriving the schema from a separate
    * resolution could evaluate a concurrently-appended file in a stale
    * schema. Deletion-vector ordinals are 32-bit, so a table holding a file
    * of more than 2^31 rows fails here, before anything is written. */
  def snapshot(dir: String, op: String, opts: WriteOptions): Snapshot = {
    val listed = StrawIO.listFilesMetaWithStats(dir)
    require(listed.nonEmpty, s"strawboat: no data files under $dir")
    val mapping = StrawLog.mappingAt(dir)
    val footers = StrawIO.mapParallel(listed) { lf =>
      val m = lf.meta
      (m.path, lf.synth.getOrElse(FooterCache.get(m.path, m.mtime, m.len)))
    }
    require(footers.forall(_._2.numRows <= Int.MaxValue.toLong),
      s"strawboat: $op needs 32-bit row ordinals per file")
    val schema = StrawSchemaResolver.merge(footers.map { case (p, footer) =>
      (p, mapping.toLogical(footer.schema)) })
    Snapshot(listed, mapping, schema, StrawBucket.withTableSpec(dir, opts))
  }

  /** The row-matching ops' candidate ladder: hive partition directories,
    * then file-level stats from the snapshot, then the real footer's page
    * zone maps — a file excluded by any tier provably holds no matching
    * row and costs no data IO. (Zone maps of a DV'd file cover dead rows
    * too: only over-approximation, a kept file's scan re-checks row-level.)
    * @return (candidate files, pruned-file count) */
  def matchCandidates(snap: Snapshot,
      filters: Array[org.apache.spark.sql.sources.Filter])
      : (Seq[Candidate], Int) = {
    val Snapshot(listed, mapping, schema, _) = snap
    val afterPartition = PartitionLayout.pruneBy(listed, schema, filters)(_.meta.path)
    val afterStats = afterPartition.filter { lf =>
      lf.synth.forall(sf =>
        ZoneMapFilter.keptPages(mapping.toLogicalFooter(sf), filters)(0))
    }
    // zero-column files carry footer-only rows that read as all-null — an
    // IsNull-style condition can match them, so they keep their one slice
    // (the scan's zero-column path mirrors this)
    val candidates = StrawIO.mapParallel(afterStats) { lf =>
      val m = lf.meta
      val footer = mapping.toLogicalFooter(FooterCache.get(m.path, m.mtime, m.len))
      Candidate(m, lf.dv, footer.numRows, StrawInputPartition.keptRuns(m.path,
        footer, ZoneMapFilter.keptPages(footer, filters), lf.dv))
    }.filter(_.slices.nonEmpty)
    (candidates, listed.size - candidates.size)
  }

  /** One UPDATE assignment: target ordinal := a pre-converted Catalyst
    * literal (Left) or a BOUND deterministic Catalyst expression evaluated
    * against the pre-update row (Right) — `SET lang = upper(lang)`. All
    * right-hand sides of one row evaluate BEFORE any column is written
    * (SQL UPDATE semantics: `SET a = b, b = a` swaps). */
  type Assign = (Int, Either[Any, org.apache.spark.sql.catalyst.expressions.Expression])

  /** Evaluate-then-write one row's assignments (see [[Assign]]). */
  def applyAssigns(assigns: Seq[Assign],
      row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
    val vals = assigns.map {
      case (i, Left(v)) => (i, v)
      case (i, Right(e)) => (i, e.eval(row))
    }
    vals.foreach { case (i, v) => row.update(i, v) }
  }

  /** Z-ORDER an in-memory batch (a compaction bin) across `cols`, in
    * place. Each column contributes `63 / k` bits of its DENSE RANK within
    * the batch (nulls first at rank 0, equal values sharing a rank so one
    * value never straddles a z-boundary), bit-interleaved column-major
    * into one 63-bit key the batch sorts by. Rank-based rather than
    * value-based: the interleave sees a uniform [0, 2^bits) space whatever
    * the column's type or skew, so no per-type bit extraction and no
    * hot-spot from clustered raw values. Effect: when the writer rolls the
    * sorted batch into several files, EVERY clustered column's zone maps
    * are narrow in every file — a selective filter on any one of them
    * prunes, where a lexicographic sort serves only its leading column. */
  def zOrderSort(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      cols: Array[Int],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
    val n = rows.length
    if (n <= 1 || cols.isEmpty) return
    val k = cols.length
    val bits = math.max(1, 63 / k)
    val keys = new Array[Long](n)
    cols.zipWithIndex.foreach { case (ci, c) =>
      val ord = new InterpretedOrdering(Seq(SortOrder(
        BoundReference(ci, schema.fields(ci).dataType, schema.fields(ci).nullable),
        Ascending)))
      val idx = Array.tabulate(n)(identity)
      // sort indices by the column (stable not required — ranks are dense)
      val boxed = idx.map(Integer.valueOf)
      java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
        override def compare(a: Integer, b: Integer): Int =
          ord.compare(rows(a), rows(b))
      })
      // dense ranks, then scale into the column's bit budget
      val rank = new Array[Int](n)
      var r = 0
      var i = 1
      rank(boxed(0)) = 0
      while (i < n) {
        if (ord.compare(rows(boxed(i - 1)), rows(boxed(i))) != 0) r += 1
        rank(boxed(i)) = r
        i += 1
      }
      val maxRank = math.max(1, r)
      val scaleMax = (1L << bits) - 1
      i = 0
      while (i < n) {
        val v = rank(i).toLong * scaleMax / maxRank
        // interleave column-major: bit j of column c lands at j * k + c
        var j = 0
        while (j < bits) {
          keys(i) |= ((v >> j) & 1L) << (j * k + c)
          j += 1
        }
        i += 1
      }
    }
    // sort rows by key (indices carry the pairing through the sort)
    val order = Array.tabulate(n)(Integer.valueOf(_))
    java.util.Arrays.sort(order, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        java.lang.Long.compare(keys(a), keys(b))
    })
    val sorted = order.map(i => rows(i.intValue()))
    System.arraycopy(sorted, 0, rows, 0, n)
  }

  /** One candidate file's merge-on-read outcome ([[dvMatch]],
    * [[dvFromPairs]], the MERGE key probe): live rows matched, the
    * replacement sidecar (null when the file went fully dead or nothing
    * died), whether the union covers every row, and — for UPDATE — the
    * staged files holding the rewritten matches. */
  final case class DvOut(input: String, matched: Long,
      oldDvPath: String, newDv: DeletionVector.DvInfo, fullDead: Boolean,
      staged: Seq[String]) extends Serializable

  /** The merge-on-read half of DELETE/UPDATE: one task per candidate file
    * finds the LIVE rows where the `filters` conjunction is TRUE (SQL 3VL)
    * and, instead of rewriting the file, unions their ordinals into the
    * file's deletion vector — writing a replacement sidecar beside the data
    * (unreferenced until the caller's log commit). Matching is the scan
    * reader over the candidate's zone-map-kept slices with the condition
    * consumed, no data column produced and `_pos` appended: it decodes
    * ONLY the condition's columns, and every row it emits is a live match,
    * so a 10-row takedown on a wide 1 GB file costs a few filter-column
    * pages and a tiny sidecar.
    *
    * With `assigns` (UPDATE), a second reader pass reads the file whole at
    * the table schema with every non-matched row dead — pages without a
    * match are skipped undecoded — applies the assignments to each matched
    * row and stages the results as new files (the merge-on-read update: old
    * versions die via the DV, new versions append); non-matching rows are
    * never rewritten.
    *
    * A file whose union covers every row reports `fullDead` (the caller
    * removes it outright instead of carrying an all-dead sidecar). Nothing
    * visible changes here: sidecars are unreferenced, staged files carry
    * the job suffix. On failure the caller sweeps both. */
  def dvMatch(spark: org.apache.spark.sql.SparkSession, dir: String,
      jobId: String, snap: Snapshot,
      candidates: Seq[Candidate],
      filters: Array[org.apache.spark.sql.sources.Filter],
      assigns: Option[Seq[Assign]],
      checkUpdated: StrawConstraints.RowChecker = null): Array[DvOut] = {
    // locals only: the task closure must not capture the whole listing
    val Snapshot(_, mapping, schema, opts) = snap
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val schemaJson = schema.json
    val filtersB = spark.sparkContext.broadcast(filters)
    val assignsB = spark.sparkContext.broadcast(assigns)
    val desc = s"strawboat ${if (assigns.isEmpty) "delete" else "update"}: match"
    try describeJobs(spark, desc) {
      spark.sparkContext.parallelize(candidates, candidates.size).map { cand =>
        StrawIO.install(serConf.value)
        val m = cand.meta
        val tableSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val matched = new org.roaringbitmap.RoaringBitmap()
        val reader = new StrawPartitionReaderFactory(tableSchema, new StructType(),
          serConf, exactFilters = filtersB.value, mapping = mapping, appendPos = true)
          .createColumnarReader(StrawPackedPartition(cand.slices))
        try {
          while (reader.next()) {
            val batch = reader.get()
            val pos = batch.column(0)
            var i = 0
            while (i < batch.numRows()) { matched.add(pos.getLong(i).toInt); i += 1 }
          }
        } finally reader.close()
        val oldDvPath = if (cand.dv == null) null else cand.dv.path
        val matchedCount = matched.getLongCardinality
        if (matchedCount == 0)
          DvOut(m.path, 0L, oldDvPath, null, fullDead = false, Seq.empty)
        else {
          val union =
            if (cand.dv == null) matched
            else org.roaringbitmap.RoaringBitmap.or(matched,
              DeletionVector.read(cand.dv.path, cand.dv.len))
          val fullDead = union.getLongCardinality >= cand.numRows
          val newDv =
            if (fullDead) null
            else DeletionVector.write(StrawIO.fs(m.path), new Path(m.path), union)
          val staged = assignsB.value.fold(Seq.empty[String])(as =>
            stageUpdated(m, cand.numRows, matched, tableSchema, mapping, opts, jobId,
              as, checkUpdated))
          DvOut(m.path, matchedCount, oldDvPath, newDv, fullDead, staged)
        }
      }.collect()
    } catch {
      case e: Throwable =>
        // nothing visible changed: staged files are invisible, fresh
        // sidecars unreferenced — sweep the stage debris, leave sidecar
        // debris to vacuumUnreferenced (their names are unknown here)
        try StrawCommitProtocol.sweepStaged(dir, jobId)
        catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
  }

  /** UPDATE's rewrite of one file: read it whole at `tableSchema` with every
    * row outside `matched` dead (pages without a match are skipped
    * undecoded), apply `as` to each surviving row — expression right-hand
    * sides see the PRE-update row — and stage the results beside the file,
    * re-deriving the page blooms it carries.
    * @return the staged file names */
  private def stageUpdated(m: StrawIO.FileMeta, numRows: Long,
      matched: org.roaringbitmap.RoaringBitmap, tableSchema: StructType,
      mapping: ColumnMappingState, opts: WriteOptions, jobId: String,
      as: Seq[Assign], checkUpdated: StrawConstraints.RowChecker): Seq[String] = {
    // the footer is LOGICAL here: translate its bloom leaves into the write
    // namespace only
    val bloomLeaves = bloomLeavesOf(
      mapping.toLogicalFooter(FooterCache.get(m.path, m.mtime, m.len)))
      .filterNot(_.startsWith(ColumnMappingState.DroppedPrefix))
      .map(mapping.writeLeafPath)
    val writer = new StrawDataWriter(new Path(m.path).getParent.toString,
      mapping.toPhysical(tableSchema), partitionId = 0, taskId = 0,
      opts.copy(bloomColumns = opts.bloomColumns ++ bloomLeaves), jobId)
    var ok = false
    try {
      val reader = new ColumnarSupport.StrawColumnarReader(
        StrawInputPartition(m.path, 0, Int.MaxValue, Long.MaxValue), tableSchema,
        tableSchema.length, dead = org.roaringbitmap.RoaringBitmap.flip(matched, 0L, numRows),
        mapping = mapping)
      try {
        while (reader.next()) {
          val it = reader.get().rowIterator()
          while (it.hasNext) {
            val r = it.next().copy()
            applyAssigns(as, r)
            if (checkUpdated != null) checkUpdated.validate(r)
            writer.write(r)
          }
        }
      } finally reader.close()
      val files = writer.commit().asInstanceOf[StrawCommitMessage].files
      ok = true
      files
    } finally if (!ok) writer.abort()
  }

  /** Mark the job in-flight, run `body`, and clear the marker on ANY
    * failure before rethrowing — success paths retire the marker in
    * [[commitDv]]. Every row-level op runs inside this from before its
    * first sidecar write: fresh sidecars and staged files are unreferenced
    * until the commit, which is exactly what [[StrawLog.vacuumUnreferenced]]
    * reclaims, and the marker is what makes a concurrent vacuum stand off.
    * Without the failure clear, a task failure mid-operation leaks the
    * marker for the full [[StrawLog.InflightTtlMs]] window, blocking vacuum. */
  def withInflight[T](dir: String, jobId: String)(body: => T): T = {
    StrawLog.markInflight(dir, jobId)
    try body
    catch { case e: Throwable => StrawLog.clearInflight(dir, jobId); throw e }
  }

  /** Run `body` with `desc` as the description of the Spark jobs it
    * submits, so the Spark log names where each job came from; the
    * caller's description is restored afterwards. */
  def describeJobs[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Rename staged outputs visible, each group stamped with its mtime
    * BEFORE the rename (a reader must never list a file under a wrong
    * mtime; maintenance stamps the inputs' max mtime so the rewrite keeps
    * its inputs' place in a stream's (mtime, path) snapshot order). On any
    * failure every output already made visible is deleted (the inputs are
    * untouched until the caller's vacuum, so nothing is lost) and this
    * job's staged debris swept before rethrowing — an ordinary IO error is
    * a clean no-op, never a both-generations directory.
    *
    * An IN-FLIGHT MARKER (`_straw_log/.inflight.<jobId>`) is created before
    * the first rename and retired by [[commitSwitchAndVacuum]] (or the
    * rollback here): the outputs surface stamped with arbitrarily OLD
    * mtimes while still unreferenced, which is exactly the shape
    * [[StrawLog.vacuumUnreferenced]] reclaims — the marker is what tells a
    * concurrent vacuum that an op is between rename and commit, closing
    * the delete-the-outputs-then-commit-referencing-them corruption
    * window. A crashed op's marker goes stale and is reclaimed by vacuum
    * along with the debris itself. */
  def renameVisibleStamped(dir: String, jobId: String,
      groups: Seq[(Long, Seq[String])]): Seq[StrawIO.FileMeta] = {
    val f = StrawIO.fs(dir)
    val suffix = StrawCommitProtocol.stageSuffix(jobId)
    val visible = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    StrawLog.markInflight(dir, jobId)
    try {
      groups.flatMap { case (mtime, names) =>
        StrawIO.mapParallel(names) { s =>
          val sp = new Path(s)
          val dst = new Path(sp.getParent, sp.getName.stripSuffix(suffix))
          val len = f.getFileStatus(sp).getLen
          f.setTimes(sp, mtime, -1)
          if (!f.rename(sp, dst))
            throw new java.io.IOException(s"strawboat: maintenance rename $sp -> $dst failed")
          visible.add(dst)
          StrawIO.FileMeta(f.makeQualified(dst).toString, mtime, len)
        }
      }
    } catch {
      case e: Throwable =>
        visible.forEach { p =>
          try f.delete(p, false)
          catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
        }
        try StrawCommitProtocol.sweepStaged(dir, jobId)
        catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
        try StrawLog.clearInflight(dir, jobId)
        catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
  }

  /** The maintenance epilogue: ONE atomic log version switches generations
    * (adds = rewrites, removes = inputs, `dvs` = deletion-vector
    * replacements, recorded as `op`) — log readers observe the old or the
    * new set, never both. On a failed/conflicting commit the visible `adds`
    * and the `alsoRollback` paths (fresh, still-unreferenced DV sidecars)
    * are rolled back and staged debris swept before rethrowing (inputs
    * untouched — a clean no-op). On success the removed inputs and the
    * `alsoVacuum` paths (superseded sidecars) are vacuumed and staged
    * debris swept; a crash between commit and vacuum leaves unreferenced
    * files for [[StrawLog.vacuumUnreferenced]]. */
  def commitSwitchAndVacuum(dir: String, jobId: String,
      adds: Seq[StrawLog.Entry], removes: Set[String], op: String,
      dvs: Seq[StrawLog.DvUpdate] = Seq.empty,
      alsoVacuum: Seq[String] = Seq.empty,
      alsoRollback: Seq[String] = Seq.empty,
      expectDvOnRemove: Map[String, Option[String]] = Map.empty): Unit = {
    val f = StrawIO.fs(dir)
    try {
      try StrawLog.commit(dir, adds, removes = removes, op = op, dvs = dvs,
        expectDvOnRemove = expectDvOnRemove)
      catch {
        // an ambiguous claim means the commit MAY be live — deleting the
        // adds would destroy files the latest version possibly references;
        // leave everything (unreferenced debris is vacuumable later)
        case e: StrawLog.AmbiguousCommitException => throw e
        case e: Throwable =>
          (adds.map(_.meta.path) ++ alsoRollback).foreach { a =>
            try f.delete(new Path(a), false)
            catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
          }
          try StrawCommitProtocol.sweepStaged(dir, jobId)
          catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
          throw e
      }
      StrawIO.mapParallel(removes.toSeq ++ alsoVacuum)(p => f.delete(new Path(p), false))
      StrawCommitProtocol.sweepStaged(dir, jobId)
    } finally StrawLog.clearInflight(dir, jobId)
  }

  /** Stage `rows` (TABLE-schema rows, bound by position) as new data files,
    * one [[StrawDataWriter]] per Spark partition: hive-partitioned tables
    * route rows into their value directories, bucketed ones keep their
    * layout, and CHECK constraints validate every row (these are NEW row
    * versions — inserts and updates alike). Files carry PHYSICAL spellings
    * and the job's stage suffix, invisible until [[commitDv]].
    * @return the staged file names */
  def stageFrame(spark: SparkSession, dir: String, jobId: String,
      rows: org.apache.spark.sql.DataFrame, snap: Snapshot): Seq[String] = {
    val checker = StrawConstraints.checkerFor(spark, dir, snap.schema).orNull
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val partitionCols = PartitionLayout.layoutColsOf(snap.listed)
    val schemaJson = snap.mapping.toPhysical(snap.schema).json
    val opts = snap.opts
    rows.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      StrawIO.install(serConf.value)
      val s = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val writer = new StrawDataWriter(dir, s, pid, pid.toLong, opts, jobId,
        partitionCols, checker)
      var ok = false
      try {
        it.foreach(writer.write)
        val msg = writer.commit().asInstanceOf[StrawCommitMessage]
        ok = true
        Iterator(msg.files)
      } finally if (!ok) writer.abort()
    }.collect().flatten.toSeq
  }

  /** What one [[commitDv]] switched: the data files it made visible, the
    * files it removed outright, and the files that took a new sidecar. */
  final case class DvCommit(fresh: Seq[StrawIO.FileMeta], removedFiles: Int,
      dvFiles: Int)

  /** The row-level ops' epilogue, run inside [[withInflight]]: `outs` are
    * every candidate's match outcome, `staged` the new row versions.
    *  - Nothing changed (no sidecar, no full-dead file, nothing staged):
    *    sweep the stage, retire the marker, commit NO version.
    *  - Otherwise rename the staged files visible under commit-time mtime
    *    (they are NEW data: a tailing stream legitimately sees them), remove
    *    fully-dead files outright, switch partial files to their new
    *    sidecar, and — when every file goes and nothing is added — add one
    *    schema-only marker so the table stays self-describing and reads
    *    back empty. All of it is ONE atomic log version recorded as `op`. */
  def commitDv(dir: String, jobId: String, op: String, outs: Seq[DvOut],
      staged: Seq[String], snap: Snapshot): DvCommit = {
    val changed = outs.filter(o => o.newDv != null || o.fullDead)
    if (changed.isEmpty && staged.isEmpty) {
      StrawCommitProtocol.sweepStaged(dir, jobId)
      StrawLog.clearInflight(dir, jobId)
      return DvCommit(Seq.empty, 0, 0)
    }
    val f = StrawIO.fs(dir)
    def q(p: String): String = f.makeQualified(new Path(p)).toString
    val fresh =
      if (staged.isEmpty) Seq.empty
      else renameVisibleStamped(dir, jobId, Seq((System.currentTimeMillis(), staged)))
    val (full, partial) = changed.partition(_.fullDead)
    val removes = full.map(c => q(c.input)).toSet
    val dvUpdates = partial.map(c => StrawLog.DvUpdate(q(c.input), c.newDv,
      Option(c.oldDvPath)))
    val adds =
      if (fresh.isEmpty && dvUpdates.isEmpty && removes.size == snap.listed.size)
        Seq(StrawLog.entryFor(writeEmptyMarker(dir,
          snap.mapping.toPhysical(snap.schema), snap.opts)))
      else StrawIO.mapParallel(fresh)(StrawLog.entryFor)
    commitSwitchAndVacuum(dir, jobId, adds, removes, op, dvs = dvUpdates,
      // only sidecars of fully-removed files go eagerly (their data bytes
      // are gone anyway); a PARTIAL file's superseded sidecar stays for the
      // age-based vacuum — it is what RESTORE to the pre-op DV state and
      // the change feed's before-diff need within the retention window
      alsoVacuum = full.flatMap(c => Option(c.oldDvPath)),
      alsoRollback = partial.map(_.newDv.path),
      // a full-dead removal is only sound against the DV this op read
      expectDvOnRemove = full.map(c => q(c.input) -> Option(c.oldDvPath)).toMap)
    DvCommit(fresh, removes.size, dvUpdates.size)
  }

  /** Write a visible schema-only `.strb` marker so an emptied table stays
    * self-describing (as BatchWrite does for an empty overwrite). */
  private def writeEmptyMarker(dir: String, schema: StructType,
      opts: WriteOptions): StrawIO.FileMeta = {
    val f = StrawIO.fs(dir)
    val name = s"part-empty-${java.util.UUID.randomUUID().toString.take(8)}" +
      graft.format.StrawFormat.Extension
    val tmp = new Path(dir, s".$name.tmp")
    val os = f.create(tmp, true)
    var ok = false
    try { new graft.format.StrawFileWriter(schema, opts).writeTo(os); ok = true }
    finally {
      os.close()
      if (ok) {
        if (!f.rename(tmp, new Path(dir, name)))
          throw new java.io.IOException(s"strawboat: rename $tmp -> $name failed")
      } else f.delete(tmp, false)
    }
    val st = f.getFileStatus(new Path(dir, name))
    StrawIO.FileMeta(f.makeQualified(st.getPath).toString,
      st.getModificationTime, st.getLen)
  }

  /** The DV half of a row-level op whose MATCHING already happened
    * elsewhere (a shuffle-join merge, a scan-based DML fallback): matched
    * `(candidate index, file-absolute ordinal)` pairs aggregate into
    * per-file RoaringBitmaps on EXECUTORS (combiner-based — never a
    * materialized ordinal list), each of which reads the file's existing
    * deletion vector, unions, and writes the replacement sidecar in place
    * (unreferenced until the caller's commit). The driver receives only
    * O(matched files) [[DvOut]] metadata. Candidates with no pairs return
    * nothing (the caller treats absence as untouched). */
  def dvFromPairs(spark: org.apache.spark.sql.SparkSession,
      pairs: org.apache.spark.rdd.RDD[(Int, Long)],
      candidates: IndexedSeq[Candidate]): Array[DvOut] = {
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val candB = spark.sparkContext.broadcast(candidates.toArray)
    pairs
      .aggregateByKey(new org.roaringbitmap.RoaringBitmap())(
        (bm, o) => { bm.add(o.toInt); bm },
        (a, b) => { a.or(b); a })
      .map { case (fi, matched) =>
        StrawIO.install(serConf.value)
        val cand = candB.value(fi)
        val matchedCount = matched.getLongCardinality
        val existing: org.roaringbitmap.RoaringBitmap =
          if (cand.dv == null) null
          else DeletionVector.read(cand.dv.path, cand.dv.len)
        if (existing != null) matched.or(existing)
        val fullDead = matched.getLongCardinality >= cand.numRows
        val newDv =
          if (fullDead) null
          else DeletionVector.write(StrawIO.fs(cand.meta.path),
            new org.apache.hadoop.fs.Path(cand.meta.path), matched)
        DvOut(cand.meta.path, matchedCount,
          if (cand.dv == null) null else cand.dv.path, newDv, fullDead,
          Seq.empty)
      }.collect()
  }
}

object StrawCompaction {

  final case class CompactionResult(
      inputFiles: Int,
      outputFiles: Int,
      rewrittenBytes: Long,
      skippedFiles: Int) {
    def filesRemoved: Int = inputFiles - outputFiles
  }

  /** One compaction input: the file plus its deletion vector (null = fully
    * live) — the rewrite streams only live rows, materializing the DV away. */
  private final case class BinFile(meta: StrawIO.FileMeta,
      dvPath: String, dvLen: Long) extends Serializable

  /** One rewrite unit: small (or DV-carrying) files of one (partition
    * directory, schema) group whose lengths bin-pack under the target. */
  private final case class Bin(parent: String, schemaJson: String,
      files: Seq[BinFile]) extends Serializable {
    def bytes: Long = files.foldLeft(0L)(_ + _.meta.len)
    def maxMtime: Long = files.map(_.meta.mtime).max
  }

  /** Stream one input file's LIVE rows (its deletion vector rides along)
    * through the scan reader, one batch at a time. The reader reuses its
    * vectors from page to page: a caller that retains a row must copy it. */
  private def foreachLiveBatch(factory: StrawPartitionReaderFactory, f: BinFile)(
      fn: org.apache.spark.sql.vectorized.ColumnarBatch => Unit): Unit = {
    val reader = factory.createColumnarReader(
      StrawInputPartition(f.meta.path, 0, Int.MaxValue, Long.MaxValue, f.dvPath, f.dvLen))
    try while (reader.next()) fn(reader.get())
    finally reader.close()
  }

  /** Compact `dir` in place. Returns counts; a table with nothing to do
    * (fewer than two small files per group) is a no-op.
    *
    * `clusterBy`: sort each rewritten bin by these top-level columns before
    * writing (ascending, SQL null ordering) — the OPTIMIZE-style clustering
    * pass. Small files arrive in arrival order, so their zone maps overlap
    * and range/point queries keep every page; a clustered rewrite makes
    * page (and file-stats) bounds disjoint, so the same queries prune.
    * Sorting buffers one bin in memory as materialized rows, so clustered
    * bins are ADDITIONALLY capped at `maxClusterRows` (boxed-row memory
    * tracks row count far more predictably than compressed bytes — a
    * 50×-compressed 128 MB bin can be gigabytes of heap). Clustered
    * outputs may therefore be smaller than `targetFileBytes`; rerun with a
    * higher cap to consolidate further. A bin whose schema generation
    * lacks a cluster column is written unsorted (schema evolution must not
    * block maintenance) — but a column no generation has fails fast. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20,
      opts: WriteOptions = WriteOptions(),
      smallFileBytes: Option[Long] = None,
      clusterBy: Seq[String] = Nil,
      maxClusterRows: Long = 4L << 20,
      zOrder: Boolean = false): CompactionResult = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(!zOrder || clusterBy.size >= 2,
      "strawboat: zOrder needs at least two clusterBy columns (one column " +
        "is a plain sort — drop zOrder)")
    val threshold = smallFileBytes.getOrElse(targetFileBytes)
    val live = StrawIO.listFilesMetaWithStats(dir)
    // a file carrying a deletion vector is ALWAYS a candidate regardless of
    // size: compaction is what materializes merge-on-read deletes away
    // (the rewrite reads only live rows and the output drops the sidecar)
    val (candidates, skipped) =
      live.partition(lf => lf.meta.len < threshold || lf.dv != null)

    // group by (partition directory, exact file schema): rewrites never
    // cross a partition boundary (layout pruning survives) and never
    // convert between schema generations (read semantics unchanged)
    // bin schemas are LOGICAL: files differing only in historical spellings
    // bin together, and the rewrite emits current names minus dropped
    // columns — compaction materializes renames AND drops away
    val mapping = StrawLog.mappingAt(dir)
    val withSchema = StrawIO.mapParallel(candidates) { lf =>
      val m = lf.meta
      val footer = FooterCache.get(m.path, m.mtime, m.len)
      val liveRows =
        if (lf.dv == null) footer.numRows
        else math.max(0L, footer.numRows - lf.dv.cardinality)
      (BinFile(m, if (lf.dv == null) null else lf.dv.path,
        if (lf.dv == null) 0L else lf.dv.len),
        mapping.toLogical(footer.schema), liveRows)
    }
    // fail fast on a cluster column NO generation has (typo / wrong case /
    // dotted leaf path — clusterBy is top-level only); a per-bin miss
    // still falls back to unsorted for genuine schema evolution
    if (clusterBy.nonEmpty && withSchema.nonEmpty) {
      val known = withSchema.flatMap(_._2.fieldNames).toSet
      val unknown = clusterBy.filterNot(known)
      require(unknown.isEmpty,
        s"strawboat: clusterBy column(s) ${unknown.mkString(", ")} exist in no " +
          s"file schema (top-level columns: ${known.toSeq.sorted.mkString(", ")})")
    }
    val rowCap = if (clusterBy.isEmpty) Long.MaxValue else maxClusterRows
    val bins = withSchema
      .groupBy { case (bf, schema, _) =>
        // bucket-pure bins: a rewrite must never merge two hash buckets
        // into one file, or the table's storage-partitioned joins die.
        // (The output writer re-hashes rows to the same tag — see below.)
        (new Path(bf.meta.path).getParent.toString, schema.json,
          StrawBucket.parseTag(bf.meta.path))
      }
      .toSeq
      .sortBy { case ((parent, schemaJson, tag), _) =>
        (parent, schemaJson, tag.map(_.bucket).getOrElse(-1))
      }
      .flatMap { case ((parent, schemaJson, _), members) =>
        // first-fit in path order; only multi-file bins are worth a rewrite
        // — except a lone DV'd file, whose rewrite materializes the vector
        val out = Seq.newBuilder[Bin]
        def flush(cur: Vector[BinFile]): Unit =
          if (cur.size > 1 || cur.exists(_.dvPath != null))
            out += Bin(parent, schemaJson, cur)
        var cur = Vector.empty[BinFile]
        var bytes = 0L
        var rows = 0L
        for ((bf, _, nRows) <- members.sortBy(_._1.meta.path)) {
          if (cur.nonEmpty && (bytes + bf.meta.len > targetFileBytes || rows + nRows > rowCap)) {
            flush(cur)
            cur = Vector.empty; bytes = 0L; rows = 0L
          }
          cur :+= bf; bytes += bf.meta.len; rows += nRows
        }
        flush(cur)
        out.result()
      }

    if (bins.isEmpty)
      return CompactionResult(0, 0, 0L, skipped.size + candidates.size)

    val jobId = java.util.UUID.randomUUID().toString.take(8)
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    // a bucketed table's rewrites re-hash into the same tags, so routine
    // maintenance never silently strips the co-location the layout bought
    val outOpts = StrawBucket.withTableSpec(dir,
      opts.copy(targetFileBytes = targetFileBytes))

    // one task per bin: stream the bin's rows through a fresh writer into
    // staged (invisible) files; executors return the staged names
    val staged: Array[(Bin, Seq[String])] =
      try MaintenanceOps.describeJobs(spark, "strawboat compact: rewrite") {
        spark.sparkContext.parallelize(bins, bins.size).map { bin =>
          StrawIO.install(serConf.value)
          val schema = DataType.fromJson(bin.schemaJson).asInstanceOf[StructType]
          val factory = new StrawPartitionReaderFactory(schema, schema, serConf,
            mapping = mapping)
          // preserve page bloom filters through the rewrite: the input
          // footers record exactly which leaves carry them — without this,
          // routine maintenance would silently strip the point-lookup
          // acceleration the table was written with
          val bloomLeaves = bin.files.flatMap(bf =>
            MaintenanceOps.bloomLeavesOf(
              FooterCache.get(bf.meta.path, bf.meta.mtime, bf.meta.len))).toSet
            .flatMap(mapping.logicalLeafPath).map(mapping.writeLeafPath)
          val writer = new StrawDataWriter(bin.parent, mapping.toPhysical(schema),
            partitionId = 0, taskId = 0,
            outOpts.copy(bloomColumns = outOpts.bloomColumns ++ bloomLeaves),
            jobId)
          // clustering: sort the bin in memory when every cluster column
          // exists in this schema generation (ascending, SQL null order) —
          // bounded by the bin's size, which bin-packing already caps
          val sortIdx = clusterBy.map(schema.fieldNames.indexOf(_))
          val ordering: Option[Ordering[org.apache.spark.sql.catalyst.InternalRow]] =
            if (clusterBy.isEmpty || sortIdx.exists(_ < 0)) None
            else Some(new org.apache.spark.sql.catalyst.expressions.InterpretedOrdering(
              sortIdx.map(i => org.apache.spark.sql.catalyst.expressions.SortOrder(
                org.apache.spark.sql.catalyst.expressions.BoundReference(
                  i, schema.fields(i).dataType, schema.fields(i).nullable),
                org.apache.spark.sql.catalyst.expressions.Ascending))))
          var ok = false
          try {
            ordering match {
              case None =>
                // only LIVE rows survive the rewrite, and the output
                // carries no sidecar
                for (f <- bin.files) foreachLiveBatch(factory, f)(writer.writeBatch)
              case Some(ord) =>
                val buf = scala.collection.mutable.ArrayBuffer
                  .empty[org.apache.spark.sql.catalyst.InternalRow]
                for (f <- bin.files) foreachLiveBatch(factory, f) { b =>
                  val it = b.rowIterator()
                  while (it.hasNext) buf += it.next().copy()
                }
                val arr = buf.toArray
                if (zOrder)
                  MaintenanceOps.zOrderSort(arr,
                    sortIdx.toArray, schema)
                else java.util.Arrays.sort(arr, ord)
                arr.foreach(writer.write)
            }
            val msg = writer.commit().asInstanceOf[StrawCommitMessage]
            ok = true
            (bin, msg.files)
          } finally if (!ok) writer.abort()
        }.collect()
      } catch {
        case e: Throwable =>
          // failed rewrite: nothing visible changed; drop this job's debris
          StrawCommitProtocol.sweepStaged(dir, jobId)
          throw e
      }

    // make outputs visible stamped with the bin's max input mtime, then
    // switch generations atomically and vacuum — shared mechanics (incl.
    // rollback on every failure path) live in [[MaintenanceOps]]
    val fresh = MaintenanceOps.renameVisibleStamped(dir, jobId,
      staged.toSeq.map { case (bin, names) => (bin.maxMtime, names) })
    val inputs = bins.flatMap(_.files.map(_.meta.path)).toSet
    val adds = StrawIO.mapParallel(fresh)(StrawLog.entryFor)
    MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, inputs, op = "compact",
      // materialized-away sidecars are reclaimed with their data files
      alsoVacuum = bins.flatMap(_.files.flatMap(bf => Option(bf.dvPath))),
      // conflict if a row delete swapped any input's DV after this rewrite
      // read it — the output would resurrect the freshly-deleted rows
      expectDvOnRemove =
        bins.flatMap(_.files).map(bf => bf.meta.path -> Option(bf.dvPath)).toMap)

    CompactionResult(
      inputFiles = inputs.size,
      outputFiles = fresh.size,
      rewrittenBytes = bins.foldLeft(0L)(_ + _.bytes),
      skippedFiles = live.size - inputs.size)
  }

  /** Re-bucket `dir` into `n` hash buckets on `col` — bucket-count (or
    * bucket-column) EVOLUTION, the operation a forever-fixed bucket spec
    * otherwise forces through a manual CTAS that loses the table's log
    * history. Compaction-shaped: every row-carrying data file is rewritten
    * through bucket-routing writers into staged files carrying the NEW
    * layout's tags, the generations switch in one atomic log commit
    * (deletion vectors materialize away; a concurrent DV swap on any input
    * conflicts and rolls back, exactly like [[compact]]), and the sidecar
    * spec records (col, n) once the commit holds. Readers are never wrong
    * mid-transition: storage-partitioned planning engages only when EVERY
    * live file's tag certifies the sidecar's spec, so a mixed state (a
    * racing append under the old spec, a crash between commit and sidecar
    * update) degrades to ordinary shuffle planning, never to false
    * co-location. Each rewrite task holds up to `n` open page buffers —
    * the same write-side memory shape as a first bucketed load.
    *
    * Schema-evolved tables re-bucket only if every file generation carries
    * `col` (a generation that lacks the key cannot be routed); zero-row
    * marker files keep the table self-describing and stay in place. */
  def rebucket(spark: SparkSession, dir: String, n: Int,
      colOpt: Option[String] = None,
      opts: WriteOptions = WriteOptions()): CompactionResult = {
    require(n > 0, s"strawboat: bucket count must be positive, got $n")
    // the key may be multi-column ("a,b"); canonicalize the spelling the
    // same way the write-option parser does (tags hash it whole)
    val col = colOpt.orElse(StrawBucket.specOf(dir).map(_._1))
      .map(c => StrawBucket.colsOf(c).mkString(","))
      .filter(_.nonEmpty).getOrElse(
        throw new IllegalArgumentException(
          s"strawboat: $dir has no bucket spec to evolve — name the bucket " +
            "column: straw_rebucket(table, n, col)"))
    val mapping = StrawLog.mappingAt(dir)
    val live = StrawIO.listFilesMetaWithStats(dir)
    val withSchema = StrawIO.mapParallel(live) { lf =>
      val m = lf.meta
      val footer = FooterCache.get(m.path, m.mtime, m.len)
      (BinFile(m, if (lf.dv == null) null else lf.dv.path,
        if (lf.dv == null) 0L else lf.dv.len),
        mapping.toLogical(footer.schema), footer.numRows)
    }
    val rowCarrying = withSchema.filter(_._3 > 0)
    rowCarrying.foreach { case (bf, schema, _) =>
      StrawBucket.colsOf(col).foreach { c =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"strawboat: bucket column '$c' missing from ${bf.meta.path} " +
              s"(that generation has: ${schema.fieldNames.mkString(", ")})"))
        require(StrawBucket.bucketable(f.dataType),
          s"strawboat: type ${f.dataType.catalogString} of '$c' is not " +
            "bucketable (integer-family, string, date, timestamp)")
      }
    }
    if (rowCarrying.isEmpty) {
      // nothing to route — just record the evolved spec
      StrawBucket.recordSpec(dir,
        opts.copy(bucketBy = Some(col), buckets = n), truncate = true)
      return CompactionResult(0, 0, 0L, live.size)
    }
    // bin by (partition dir, schema generation) like compact, packed to the
    // target so the rewrite parallelizes; every bin re-routes its rows into
    // the new layout's tags
    val bins = rowCarrying
      .groupBy { case (bf, schema, _) =>
        (new Path(bf.meta.path).getParent.toString, schema.json)
      }
      .toSeq.sortBy(_._1)
      .flatMap { case ((parent, schemaJson), members) =>
        val out = Seq.newBuilder[Bin]
        var cur = Vector.empty[BinFile]
        var bytes = 0L
        for ((bf, _, _) <- members.sortBy(_._1.meta.path)) {
          if (cur.nonEmpty && bytes + bf.meta.len > opts.targetFileBytes) {
            out += Bin(parent, schemaJson, cur)
            cur = Vector.empty; bytes = 0L
          }
          cur :+= bf; bytes += bf.meta.len
        }
        if (cur.nonEmpty) out += Bin(parent, schemaJson, cur)
        out.result()
      }
    val jobId = java.util.UUID.randomUUID().toString.take(8)
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val outOpts = opts.copy(bucketBy = Some(col), buckets = n)
    val staged: Array[(Bin, Seq[String])] =
      try {
        spark.sparkContext.parallelize(bins, bins.size).map { bin =>
          StrawIO.install(serConf.value)
          val schema = DataType.fromJson(bin.schemaJson).asInstanceOf[StructType]
          val factory = new StrawPartitionReaderFactory(schema, schema, serConf,
            mapping = mapping)
          val bloomLeaves = bin.files.flatMap(bf =>
            MaintenanceOps.bloomLeavesOf(
              FooterCache.get(bf.meta.path, bf.meta.mtime, bf.meta.len))).toSet
            .flatMap(mapping.logicalLeafPath).map(mapping.writeLeafPath)
          val writer = new StrawDataWriter(bin.parent, mapping.toPhysical(schema),
            partitionId = 0, taskId = 0,
            outOpts.copy(bloomColumns = outOpts.bloomColumns ++ bloomLeaves),
            jobId)
          var ok = false
          try {
            for (f <- bin.files) foreachLiveBatch(factory, f)(writer.writeBatch)
            val msg = writer.commit().asInstanceOf[StrawCommitMessage]
            ok = true
            (bin, msg.files)
          } finally if (!ok) writer.abort()
        }.collect()
      } catch {
        case e: Throwable =>
          StrawCommitProtocol.sweepStaged(dir, jobId)
          throw e
      }
    val fresh = MaintenanceOps.renameVisibleStamped(dir, jobId,
      staged.toSeq.map { case (bin, names) => (bin.maxMtime, names) })
    val inputs = bins.flatMap(_.files.map(_.meta.path)).toSet
    val adds = StrawIO.mapParallel(fresh)(StrawLog.entryFor)
    MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, inputs,
      op = s"rebucket $col $n",
      alsoVacuum = bins.flatMap(_.files.flatMap(bf => Option(bf.dvPath))),
      expectDvOnRemove =
        bins.flatMap(_.files).map(bf => bf.meta.path -> Option(bf.dvPath)).toMap)
    // the commit holds — the evolved spec becomes the table's layout; a
    // crash before this line leaves the old spec with new tags, which the
    // tag-certification check reads as "no co-location" (safe), and a
    // re-run completes the switch
    StrawBucket.recordSpec(dir, outOpts, truncate = true)
    CompactionResult(
      inputFiles = inputs.size,
      outputFiles = fresh.size,
      rewrittenBytes = bins.foldLeft(0L)(_ + _.bytes),
      skippedFiles = live.size - inputs.size)
  }
}
