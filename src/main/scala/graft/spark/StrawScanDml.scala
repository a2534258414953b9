package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.format.WriteOptions

/** Scan-based row-level DELETE/UPDATE — the fallback for SQL conditions
  * BEYOND the v1 filter algebra (subqueries, correlated EXISTS, arbitrary
  * expressions). Where the native paths ([[StrawDelete]]/[[StrawUpdate]])
  * compile the condition into [[RowFilterEval]] and probe candidate files
  * directly, this path lets SPARK evaluate the full analyzed condition
  * through the ordinary DSv2 scan, reading the `_file`/`_pos` metadata
  * columns to learn exactly which physical rows matched:
  *
  *  1. plan `Project(..., Filter(cond, relation+metadata))` — subqueries,
  *     joins, whatever the condition holds, all planned by Catalyst; the
  *     translatable conjuncts of `cond` still push into the scan (zone
  *     maps, partition pruning), so file/page skipping is not lost;
  *  2. matched `(file, ordinal)` pairs aggregate into per-file deletion
  *     vectors ON EXECUTORS ([[MaintenanceOps.dvFromPairs]] — the driver
  *     sees O(files), never O(rows));
  *  3. UPDATE additionally projects the POST-assignment row versions out
  *     of the SAME single scan (one pass, consistent with the ordinals)
  *     and stages them distributed;
  *  4. one atomic log commit switches sidecars + staged files — the
  *     native paths' epilogue ([[MaintenanceOps.commitDv]]).
  *
  * The condition must be deterministic (SQL DML's own requirement): the
  * matched set is derived once and committed once.
  */
object StrawScanDml {

  /** Times either scan-based op ran — lets specs pin that TRANSLATABLE
    * conditions still take the native fast paths (this counter must not
    * move) while subquery conditions actually route here. */
  private[spark] val invocations = new java.util.concurrent.atomic.AtomicLong

  /** DELETE FROM t WHERE <arbitrary analyzed condition>. `scanPlan` is
    * [[planWithMeta]]'s projection of the matched rows' `(_file, _pos)`
    * (built at rewrite time so the subquery lives inside a Filter node —
    * the location CheckAnalysis allows). Returns deleted row count. */
  def delete(spark: SparkSession, dir: String, scanPlan: LogicalPlan,
      opts: WriteOptions = WriteOptions()): Long = {
    invocations.incrementAndGet()
    val snap = MaintenanceOps.snapshot(dir, "delete", opts)
    val (candidates, candIdx) = allCandidates(snap)
    val jobId = java.util.UUID.randomUUID().toString.take(8)

    val pairsDf = org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, scanPlan)
    MaintenanceOps.withInflight(dir, jobId) {
      val outs = MaintenanceOps.dvFromPairs(spark,
        pairRdd(pairsDf, candIdx), candidates)
      MaintenanceOps.commitDv(dir, jobId, "delete", outs, Seq.empty, snap)
      outs.map(_.matched).sum
    }
  }

  /** UPDATE t SET … WHERE <arbitrary analyzed condition>. `scanPlan`
    * projects the POST-assignment row versions PLUS `(_file, _pos)` out of
    * one Filter(cond) scan ([[planWithMeta]] with the assigned data
    * columns); `assignedNullable` maps assigned column name → whether its
    * value expression is nullable (the plan itself must stay the only
    * Expression-bearing field). Returns updated row count. */
  def update(spark: SparkSession, dir: String, scanPlan: LogicalPlan,
      assignedNullable: Map[String, Boolean],
      opts: WriteOptions = WriteOptions()): Long = {
    invocations.incrementAndGet()
    val snap = MaintenanceOps.snapshot(dir, "update", opts)
    // a file-local op cannot move rows between hive partition directories
    snap.listed.foreach { lf =>
      PartitionLayout.partitionOf(lf.meta.path).foreach { case (c, _) =>
        require(!assignedNullable.contains(c),
          s"strawboat: cannot update hive partition column '$c' (rows would " +
            "have to move between partition directories); rewrite the table instead")
      }
    }
    // nullability: an assignment that may produce null into a non-nullable
    // stored column would write rows the read schema then denies
    assignedNullable.foreach { case (name, exprNullable) =>
      snap.schema.fields.find(_.name == name).foreach { fld =>
        require(!exprNullable || fld.nullable,
          s"strawboat: UPDATE assigns a nullable expression to non-nullable " +
            s"column '$name' — coalesce the value first")
      }
    }
    val (candidates, candIdx) = allCandidates(snap)
    val jobId = java.util.UUID.randomUUID().toString.take(8)

    // ONE scan feeds both consumers: post-assignment row versions AND the
    // matched ordinals — localCheckpoint cuts lineage so neither re-reads
    val df = org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, scanPlan)
      .localCheckpoint(true)
    MaintenanceOps.withInflight(dir, jobId) {
      val outs = MaintenanceOps.dvFromPairs(spark, pairRdd(df, candIdx), candidates)
      // no matched ordinal means no new row version either
      val staged =
        if (outs.isEmpty) Seq.empty
        else MaintenanceOps.stageFrame(spark, dir, jobId,
          df.drop(StrawboatTable.FileColumnName, StrawboatTable.PosColumnName), snap)
      MaintenanceOps.commitDv(dir, jobId, "update", outs, staged, snap)
      outs.map(_.matched).sum
    }
  }

  // ---- shared internals ---------------------------------------------------

  /** Every listed file as a DV candidate (the SCAN decides which produce
    * matches — candidates here are only the metadata lookup), plus the
    * path → index map the pair extraction keys on. */
  private[spark] def allCandidates(snap: MaintenanceOps.Snapshot)
      : (IndexedSeq[MaintenanceOps.Candidate], Map[String, Int]) = {
    val (candidates, _) = MaintenanceOps.matchCandidates(snap, Array.empty)
    val arr = candidates.toIndexedSeq
    (arr, arr.iterator.zipWithIndex.map { case (c, i) => c.meta.path -> i }.toMap)
  }

  /** `Project(extraCols ++ [_file, _pos], Filter(cond, relation+meta))` —
    * the metadata attributes come from the relation's own `metadataOutput`
    * (stable exprIds) and are grafted into its output the same way the
    * analyzer's AddMetadataColumns does. Built at REWRITE time so the
    * condition (subqueries included) sits inside a Filter node, where
    * CheckAnalysis permits subquery expressions. */
  def planWithMeta(relation: DataSourceV2Relation, condition: Expression,
      extraCols: Seq[NamedExpression]): LogicalPlan = {
    val metaAttrs: Seq[AttributeReference] = Seq(
      StrawboatTable.FileColumnName, StrawboatTable.PosColumnName).map { n =>
      relation.metadataOutput.find(_.name == n).getOrElse(throw new IllegalStateException(
        s"strawboat: relation exposes no '$n' metadata column"))
    }
    val withMeta = relation.copy(output = relation.output ++ metaAttrs)
    Project(extraCols ++ metaAttrs, LFilter(condition, withMeta))
  }

  /** The frame's trailing (_file, _pos) columns as (candidate idx, ordinal)
    * pairs. An unknown file means the scan read a file appended after this
    * op's snapshot — fail loudly (retry reads a consistent state). */
  private[spark] def pairRdd(df: DataFrame, candIdx: Map[String, Int])
      : org.apache.spark.rdd.RDD[(Int, Long)] =
    df.select(StrawboatTable.FileColumnName, StrawboatTable.PosColumnName)
      .rdd.map { r =>
        val idx = candIdx.getOrElse(r.getString(0), throw new IllegalStateException(
          s"strawboat: scan produced rows from a file outside this " +
            s"operation's snapshot (${r.getString(0)}) — concurrent write; retry"))
        (idx, r.getLong(1))
      }
}
