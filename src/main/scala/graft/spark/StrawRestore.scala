package graft.spark

/** RESTORE a table to an earlier log version — the undo half of time
  * travel. Reading `versionAsOf` shows the past; restore makes it the
  * PRESENT: one new commit whose entry set equals the snapshot at the
  * target version, so the operation is metadata-only (no data files move),
  * O(files) on the driver, and every later reader — batch, SQL, streaming
  * bootstrap — sees the restored state. History is preserved: the restore
  * is a new version on top, never a rewind of the log itself, so a restore
  * can itself be undone by restoring to the pre-restore version.
  *
  * The diff against the CURRENT snapshot commits as:
  *  - files only in the target snapshot → re-added `A` lines (with their
  *    original stats, and a `D` re-attachment when the target version held
  *    a deletion vector for them);
  *  - files only in the current snapshot → `R` removes, carrying the
  *    current sidecar expectation so a racing row-delete surfaces as a
  *    [[StrawLog.ConflictException]] instead of silently vanishing;
  *  - files in both whose deletion vector differs → a `D` swap back to the
  *    target's sidecar, or a plain re-`A` when the target had none (an `A`
  *    line replaces the whole entry, clearing the vector).
  *
  * Physical-file availability is the one genuine limit: this engine
  * reclaims replaced files and sidecars EAGERLY after the commit that
  * retires them (there is no retention window), so a restore only succeeds
  * while every file the target version references still exists — true for
  * undoing appends and merge-on-read deletes/updates/merges (their inputs
  * stay live under deletion vectors), false across a truncate, compaction,
  * or fully-dead delete/update/merge that physically removed inputs. [[StrawLog
  * .commit]] re-stats every referenced path and fails LOUDLY before the
  * log records anything, so an unrestorable version can never produce a
  * half-restored table.
  *
  * Concurrency: the diff is computed against one snapshot and validated by
  * the commit's ordinary conflict rules — racing mutations of files this
  * restore touches throw [[StrawLog.ConflictException]] (rerun against the
  * new state); a racing pure APPEND of new files commutes and survives the
  * restore untouched, mirroring SQL MERGE/DELETE serialization rather than
  * a whole-table freeze.
  */
object StrawRestore {

  /** Outcome of one restore: the new log version, the target it restored
    * to, and the entry-level diff sizes (files re-added / removed / DV
    * references swapped or cleared). `version == -1` for the no-op restore
    * to the current version. */
  final case class RestoreResult(version: Long, restoredTo: Long,
      addedFiles: Int, removedFiles: Int, dvChanges: Int)

  def restore(dir: String, version: Long): RestoreResult = {
    val cur = StrawLog.snapshot(dir).getOrElse(throw new IllegalStateException(
      s"strawboat: no transaction log under $dir — nothing to restore"))
    require(version >= 1,
      s"strawboat: restore target must be a committed version, got $version")
    require(version <= cur.version,
      s"strawboat: restore target $version is beyond the latest committed " +
        s"version ${cur.version} of $dir")
    if (version == cur.version)
      return RestoreResult(-1L, version, 0, 0, 0)
    val old = StrawLog.snapshotAt(dir, version).getOrElse(
      throw new IllegalStateException(
        s"strawboat: version $version of $dir is not resolvable — its log " +
          "tail was vacuumed (StrawLog.vacuumLog keeps a bounded history)"))
    val curBy = cur.entries.map(e => e.meta.path -> e).toMap
    val oldBy = old.entries.map(e => e.meta.path -> e).toMap

    def dvName(e: StrawLog.Entry): Option[String] =
      Option(e.dv).map(_.path)

    // files the target holds that the present does not: re-add, and
    // re-attach the target's sidecar in the same commit when it had one
    val returning = old.entries.filterNot(e => curBy.contains(e.meta.path))
    // files the present holds that the target does not: remove, expecting
    // the sidecar the present snapshot records (the resurrection guard)
    val leaving = cur.entries.filterNot(e => oldBy.contains(e.meta.path))
    // shared files whose deletion vector changed since the target version
    val dvDiff = old.entries.filter(e =>
      curBy.get(e.meta.path).exists(c => dvName(c) != dvName(e)))
    // target had NO sidecar → a bare re-A clears the current one (A lines
    // replace the whole entry); target had one → swap the reference back,
    // expecting the current sidecar so a racing delete conflicts
    val (dvClears, dvSwaps) = dvDiff.partition(_.dv == null)
    val adds = returning.map(e => e.copy(dv = null)) ++ dvClears
    val dvs =
      returning.collect { case e if e.dv != null =>
        StrawLog.DvUpdate(e.meta.path, e.dv, None)
      } ++ dvSwaps.map(e => StrawLog.DvUpdate(e.meta.path, e.dv,
        dvName(curBy(e.meta.path))))
    if (adds.isEmpty && leaving.isEmpty && dvs.isEmpty)
      return RestoreResult(-1L, version, 0, 0, 0)
    val committed = StrawLog.commit(dir,
      adds = adds,
      removes = leaving.map(_.meta.path).toSet,
      op = s"restore to v$version",
      dvs = dvs,
      expectDvOnRemove = leaving.map(e => e.meta.path -> dvName(e)).toMap)
    // Deliberately reclaim NOTHING here, unlike the other retiring ops:
    // the files this restore removed from the snapshot are exactly what a
    // restore FORWARD (undoing this one) needs, so their bytes stay until
    // [[StrawLog.vacuumUnreferenced]]'s age-based sweep — the undo window
    // is the vacuum cutoff, the same bound every unreferenced file gets.
    RestoreResult(committed, version, adds.size, leaving.size, dvs.size)
  }
}
