package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.format.WriteOptions

/** Row-level DELETE over a strawboat table. Default is MERGE-ON-READ via
  * deletion vectors ([[DeletionVector]]): each file that holds matching
  * rows gets a sidecar bitmap of its newly-dead ordinals (unioned with any
  * prior vector) and ONE atomic [[StrawLog]] commit switches the
  * references — no data file is rewritten, so a 10-row GDPR takedown on a
  * 100 TB table costs a handful of filter-column page reads and a few
  * hundred bytes of sidecar, not a gigabyte-scale rewrite. A file whose
  * vector would cover EVERY row is removed outright instead. Compaction
  * ([[StrawCompaction]]) later materializes vectors away. The legacy
  * copy-on-write rewrite remains available (`useDeletionVectors = false`)
  * and is the automatic fallback for a pathological >2^31-row file (DV
  * ordinals are 32-bit).
  *
  * `condition` is a conjunction of [[org.apache.spark.sql.sources.Filter]]s
  * (the public pushdown algebra — EqualTo/GreaterThan/In/IsNull/And/Or/Not,
  * string predicates). Rows where the conjunction evaluates TRUE under SQL
  * three-valued logic are deleted; FALSE and UNKNOWN rows are kept — SQL
  * DELETE semantics, evaluated by the same [[RowFilterEval]] machinery that
  * carries the scan's consumed-filter correctness obligation (pinned
  * adversarially against Spark's own evaluation in
  * ExactFilterEquivalenceSpec). A condition [[RowFilterEval]] cannot compile
  * exactly is REJECTED up front — never approximated.
  *
  * Rows are evaluated in the TABLE schema (per-file null-fill and lossless
  * widening, the scan's own resolution): a schema-evolved file lacking the
  * condition column keeps all its rows (absent reads as null → UNKNOWN).
  *
  * Crash/concurrency contract: sidecars (and, copy-on-write, rewrites) are
  * unreferenced/invisible until the single atomic log commit (op `delete`);
  * any failure rolls fresh outputs back; a concurrent remover or competing
  * delete on the same file surfaces as [[StrawLog.ConflictException]] (the
  * DV commit carries the expected prior sidecar — lost-update safe). The
  * data files' mtimes never change under merge-on-read, so file-stream
  * sources re-deliver nothing (deletes simply do not propagate to an
  * already-streamed row — retraction is out of streaming's contract).
  */
object StrawDelete {

  final case class DeleteResult(
      deletedRows: Long,
      rewrittenFiles: Int,
      removedFiles: Int,
      /** files the stats tiers proved could not match (zero IO). */
      prunedFiles: Int,
      /** candidate files whose scan found no matching live row. */
      falsePositiveFiles: Int,
      /** files that took (or replaced) a deletion-vector sidecar. */
      dvFiles: Int = 0)

  /** Delete rows matching `condition` (conjunction, SQL 3VL) from `dir`.
    * No-op (version unchanged) when nothing matches. */
  def delete(spark: SparkSession, dir: String, condition: Seq[Filter],
      opts: WriteOptions = WriteOptions(),
      useDeletionVectors: Boolean = true): DeleteResult = {
    require(condition.nonEmpty, "strawboat: delete needs a condition " +
      "(to remove every row, overwrite the table instead)")
    // a bucketed table's copy-on-write rewrites keep its layout
    val opts0 = StrawBucket.withTableSpec(dir, opts)
    // ONE listing snapshot drives both the table schema and the candidate
    // set: deriving the schema from a separate (earlier) resolution could
    // evaluate a concurrently-appended file in a stale schema
    val listed = StrawIO.listFilesMetaWithStats(dir)
    require(listed.nonEmpty, s"strawboat: no data files under $dir")
    // rename/drop history: the condition and the merged schema speak the
    // logical namespace; per-file translation happens in MaintenanceOps
    val mapping = StrawLog.mappingAt(dir)
    val schema = StrawSchemaResolver.merge(StrawIO.mapParallel(listed) {
      case StrawIO.Listed(m, Some(synth), _) =>
        (m.path, mapping.toLogical(synth.schema))
      case StrawIO.Listed(m, None, _) =>
        (m.path, mapping.toLogical(FooterCache.get(m.path, m.mtime, m.len).schema))
    })
    require(RowFilterEval.build(schema, condition.toArray).isDefined,
      s"strawboat: delete condition is not exactly row-evaluable over " +
        s"${schema.catalogString}: ${condition.mkString(", ")} (supported: the " +
        "pushdown filter algebra over flat comparable columns)")
    val filters = condition.toArray

    // pruning tiers before any data IO: hive partition directories, then
    // file-level stats from the snapshot, then the real footer's page zone
    // maps — exactly the scan's planning ladder
    val (candidates, pruned) = MaintenanceOps.matchCandidates(listed, schema, filters,
      StrawLog.mappingAt(dir))
    if (candidates.isEmpty)
      return DeleteResult(0L, 0, 0, pruned, 0)

    val jobId = java.util.UUID.randomUUID().toString.take(8)
    val dvCapable = useDeletionVectors &&
      candidates.forall(_.numRows <= Int.MaxValue.toLong)
    if (dvCapable)
      deleteViaDv(spark, dir, jobId, schema, listed, candidates, filters, pruned, opts0)
    else
      deleteCopyOnWrite(spark, dir, jobId, schema, listed, candidates, filters,
        pruned, opts0)
  }

  /** Merge-on-read: match → union into sidecars → one log commit. No data
    * file is written unless every file went fully dead (schema marker). */
  private def deleteViaDv(spark: SparkSession, dir: String, jobId: String,
      schema: StructType, listed: Seq[StrawIO.Listed],
      candidates: Seq[MaintenanceOps.Candidate], filters: Array[Filter],
      pruned: Int, opts: WriteOptions): DeleteResult = {
    val outs = MaintenanceOps.dvMatch(spark, dir, jobId, schema, candidates,
      filters, assigns = None, opts, mapping = StrawLog.mappingAt(dir))
    val changed = outs.filter(_.matched > 0)
    if (changed.isEmpty)
      return DeleteResult(0L, 0, 0, pruned, outs.length)

    val f = StrawIO.fs(dir)
    def q(p: String): String = f.makeQualified(new Path(p)).toString
    val (full, partial) = changed.partition(_.fullDead)
    val removes = full.map(c => q(c.input)).toSet
    val dvUpdates = partial.map(c => StrawLog.DvUpdate(q(c.input), c.newDv,
      Option(c.oldDvPath))).toSeq
    // every row of every file deleted: leave one schema-only marker so the
    // table stays self-describing and reads back empty
    val adds =
      if (dvUpdates.isEmpty && removes.size == listed.size)
        Seq(StrawLog.entryFor(writeEmptyMarker(dir,
          StrawLog.mappingAt(dir).toPhysical(schema), opts)))
      else Seq.empty
    MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, removes, op = "delete",
      dvs = dvUpdates,
      // only sidecars of fully-removed files go eagerly (their data bytes
      // are gone anyway); a PARTIAL file's superseded sidecar stays for the
      // age-based vacuum — it is what RESTORE to the pre-delete DV state
      // and the change feed's before-diff need within the retention window
      alsoVacuum = full.flatMap(c => Option(c.oldDvPath)).toSeq,
      alsoRollback = partial.map(_.newDv.path).toSeq,
      // a full-dead removal is only sound against the DV this op read
      expectDvOnRemove = full.map(c => q(c.input) -> Option(c.oldDvPath)).toMap)

    DeleteResult(
      deletedRows = changed.map(_.matched).sum,
      rewrittenFiles = 0,
      removedFiles = removes.size,
      prunedFiles = pruned,
      falsePositiveFiles = outs.count(_.matched == 0),
      dvFiles = dvUpdates.size)
  }

  /** Copy-on-write: rewrite each matching file without its matching rows
    * (dropping any prior deletion vector along the way). */
  private def deleteCopyOnWrite(spark: SparkSession, dir: String, jobId: String,
      schema: StructType, listed: Seq[StrawIO.Listed],
      candidates: Seq[MaintenanceOps.Candidate], filters: Array[Filter],
      pruned: Int, opts: WriteOptions): DeleteResult = {
    // one task per candidate file: stream LIVE rows (table schema — the
    // reader null-fills, widens, and subtracts any prior DV), drop
    // cond=TRUE rows, stage survivors (assigns=None means DROP)
    val rewrites = MaintenanceOps.rewriteMatching(spark, dir, jobId, schema,
      candidates, filters, assigns = None, opts,
      mapping = StrawLog.mappingAt(dir))

    val f = StrawIO.fs(dir)
    val (changed, untouched) = rewrites.partition(_.matched > 0)
    // zone maps keep a file whose pages MIGHT match; a rewrite that found
    // no matching row is discarded (the epilogue's staged sweep reclaims
    // its outputs) and its input stays byte-identical

    if (changed.isEmpty) {
      StrawCommitProtocol.sweepStaged(dir, jobId)
      return DeleteResult(0L, 0, 0, pruned, untouched.length)
    }

    // make survivors visible under the input's mtime (stream seen-ness),
    // with rollback on any failure — shared mechanics in [[MaintenanceOps]]
    val fresh = MaintenanceOps.renameVisibleStamped(dir, jobId,
      changed.toSeq.map(rw => (rw.inputMtime, rw.staged)))

    val removes = changed.map(c => f.makeQualified(new Path(c.input)).toString).toSet
    val candDv = candidates
      .map(c => f.makeQualified(new Path(c.meta.path)).toString -> Option(c.dv))
      .toMap
    val replacedDvs = removes.toSeq.flatMap(p => candDv.getOrElse(p, None).map(_.path))
    var freshAll = fresh
    if (fresh.isEmpty && removes.size == listed.size)
      freshAll :+= writeEmptyMarker(dir,
        StrawLog.mappingAt(dir).toPhysical(schema), opts)
    val adds = StrawIO.mapParallel(freshAll)(StrawLog.entryFor)
    MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, removes, op = "delete",
      alsoVacuum = replacedDvs,
      // conflict if a concurrent row delete swapped an input's DV after
      // this rewrite read it — the survivors would resurrect its rows
      expectDvOnRemove =
        removes.iterator.map(p => p -> candDv.getOrElse(p, None).map(_.path)).toMap)

    DeleteResult(
      deletedRows = changed.map(_.matched).sum,
      rewrittenFiles = fresh.size,
      removedFiles = removes.size,
      prunedFiles = pruned,
      falsePositiveFiles = untouched.length)
  }

  /** Write a visible schema-only `.strb` marker so an emptied table stays
    * self-describing (as BatchWrite does for an empty overwrite). */
  private[spark] def writeEmptyMarker(dir: String, schema: StructType,
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
}
