package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter

import graft.format.WriteOptions

/** Row-level DELETE over a strawboat table, MERGE-ON-READ via deletion
  * vectors ([[DeletionVector]]): each file that holds matching rows gets a
  * sidecar bitmap of its newly-dead ordinals (unioned with any prior
  * vector) and ONE atomic [[StrawLog]] commit switches the references — no
  * data file is rewritten, so a 10-row GDPR takedown on a 100 TB table
  * costs a handful of filter-column page reads and a few hundred bytes of
  * sidecar, not a gigabyte-scale rewrite. A file whose vector would cover
  * EVERY row is removed outright instead. Compaction ([[StrawCompaction]])
  * later materializes vectors away. Vector ordinals are 32-bit, so a table
  * holding a file of more than 2^31 rows is rejected.
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
  * Crash/concurrency contract: sidecars are unreferenced until the single
  * atomic log commit (op `delete`), and an in-flight marker keeps a
  * concurrent vacuum off them meanwhile; any failure rolls fresh outputs
  * back; a concurrent remover or competing delete on the same file
  * surfaces as [[StrawLog.ConflictException]] (the DV commit carries the
  * expected prior sidecar — lost-update safe). A stream skips `delete`
  * commits, so it re-delivers nothing (deletes simply do not propagate to
  * an already-streamed row — the change feed is the surface that carries
  * retractions).
  */
object StrawDelete {

  final case class DeleteResult(
      deletedRows: Long,
      /** always 0: deletes never rewrite data files. */
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
      opts: WriteOptions = WriteOptions()): DeleteResult = {
    require(condition.nonEmpty, "strawboat: delete needs a condition " +
      "(to remove every row, overwrite the table instead)")
    val snap = MaintenanceOps.snapshot(dir, "delete", opts)
    require(RowFilterEval.build(snap.schema, condition.toArray).isDefined,
      s"strawboat: delete condition is not exactly row-evaluable over " +
        s"${snap.schema.catalogString}: ${condition.mkString(", ")} (supported: the " +
        "pushdown filter algebra over flat comparable columns)")
    val filters = condition.toArray

    // pruning tiers before any data IO: hive partition directories, then
    // file-level stats from the snapshot, then the real footer's page zone
    // maps — exactly the scan's planning ladder
    val (candidates, pruned) = MaintenanceOps.matchCandidates(snap, filters)
    if (candidates.isEmpty)
      return DeleteResult(0L, 0, 0, pruned, 0)

    val jobId = java.util.UUID.randomUUID().toString.take(8)
    MaintenanceOps.withInflight(dir, jobId) {
      val outs = MaintenanceOps.dvMatch(spark, dir, jobId, snap, candidates,
        filters, assigns = None)
      val done = MaintenanceOps.commitDv(dir, jobId, "delete", outs, Seq.empty, snap)
      DeleteResult(
        deletedRows = outs.map(_.matched).sum,
        rewrittenFiles = 0,
        removedFiles = done.removedFiles,
        prunedFiles = pruned,
        falsePositiveFiles = outs.count(_.matched == 0),
        dvFiles = done.dvFiles)
    }
  }
}
