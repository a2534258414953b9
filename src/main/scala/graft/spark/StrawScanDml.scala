package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

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
  *  4. one atomic log commit switches sidecars + staged files, identical
  *     to the native paths' epilogue.
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
    val (listed, mapping, schema) = snapshot(dir)
    val (candidates, candIdx) = allCandidates(dir, listed, schema, mapping)
    val jobId = java.util.UUID.randomUUID().toString.take(8)

    val pairsDf = org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, scanPlan)
    // inflight marker BEFORE sidecars exist: a concurrent vacuum must not
    // reclaim the fresh (still-unreferenced) DVs mid-operation; cleared on
    // any failure so a crashed op never blocks vacuum for the full TTL
    MaintenanceOps.withInflight(dir, jobId) {
      val outs = MaintenanceOps.dvFromPairs(spark,
        pairRdd(pairsDf, candIdx), candidates)
      if (outs.isEmpty) { StrawLog.clearInflight(dir, jobId); 0L }
      else {
        val f = StrawIO.fs(dir)
        def q(p: String): String = f.makeQualified(new Path(p)).toString
        val (full, partial) = outs.partition(_.fullDead)
        val removes = full.map(c => q(c.input)).toSet
        val dvUpdates = partial.map(c => StrawLog.DvUpdate(q(c.input), c.newDv,
          Option(c.oldDvPath))).toSeq
        // every row of every file deleted: leave one schema-only marker so the
        // table stays self-describing (mirror of StrawDelete.deleteViaDv)
        val adds =
          if (dvUpdates.isEmpty && removes.size == listed.size)
            Seq(StrawLog.entryFor(StrawDelete.writeEmptyMarker(dir,
              mapping.toPhysical(schema), opts)))
          else Seq.empty
        MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, removes, op = "delete",
          dvs = dvUpdates,
          alsoVacuum = full.flatMap(c => Option(c.oldDvPath)).toSeq,
          alsoRollback = partial.map(_.newDv.path).toSeq,
          expectDvOnRemove = full.map(c => q(c.input) -> Option(c.oldDvPath)).toMap)
        outs.map(_.matched).sum
      }
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
    val (listed, mapping, schema) = snapshot(dir)
    // a file-local op cannot move rows between hive partition directories
    listed.foreach { lf =>
      PartitionLayout.partitionOf(lf.meta.path).foreach { case (c, _) =>
        require(!assignedNullable.contains(c),
          s"strawboat: cannot update hive partition column '$c' (rows would " +
            "have to move between partition directories); rewrite the table instead")
      }
    }
    // nullability: an assignment that may produce null into a non-nullable
    // stored column would write rows the read schema then denies
    assignedNullable.foreach { case (name, exprNullable) =>
      schema.fields.find(_.name == name).foreach { fld =>
        require(!exprNullable || fld.nullable,
          s"strawboat: UPDATE assigns a nullable expression to non-nullable " +
            s"column '$name' — coalesce the value first")
      }
    }
    val (candidates, candIdx) = allCandidates(dir, listed, schema, mapping)
    val jobId = java.util.UUID.randomUUID().toString.take(8)

    // ONE scan feeds both consumers: post-assignment row versions AND the
    // matched ordinals — localCheckpoint cuts lineage so neither re-reads
    val df = org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, scanPlan)
      .localCheckpoint(true)
    MaintenanceOps.withInflight(dir, jobId) {
      val outs = MaintenanceOps.dvFromPairs(spark, pairRdd(df, candIdx), candidates)
      if (outs.isEmpty) { StrawLog.clearInflight(dir, jobId); 0L }
      else {
        // stage the new row versions (CHECK constraints bind here — an update
        // may not move a row out of compliance), then the shared epilogue
        val newRows = df.drop(StrawboatTable.FileColumnName, StrawboatTable.PosColumnName)
        val checker = StrawConstraints.checkerFor(spark, dir, schema).orNull
        val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
        val partitionCols: Seq[String] = PartitionLayout.layoutColsOf(listed)
        val schemaJson = mapping.toPhysical(schema).json
        // a bucketed table's rewritten rows keep its layout (re-hash = same tag)
        val opts0 = StrawBucket.withTableSpec(dir, opts)
        val staged: Seq[String] =
          newRows.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
            StrawIO.install(serConf.value)
            val s = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
              .asInstanceOf[StructType]
            val writer = new StrawDataWriter(dir, s, pid, pid.toLong, opts0, jobId,
              partitionCols, checker)
            var ok = false
            try {
              rows.foreach(writer.write)
              val msg = writer.commit().asInstanceOf[StrawCommitMessage]
              ok = true
              Iterator(msg.files)
            } finally if (!ok) writer.abort()
          }.collect().flatten.toSeq

        val f = StrawIO.fs(dir)
        def q(p: String): String = f.makeQualified(new Path(p)).toString
        // updated rows are NEW data: commit-time mtime (streams may see them)
        val fresh = MaintenanceOps.renameVisibleStamped(dir, jobId,
          Seq((System.currentTimeMillis(), staged)))
        val (full, partial) = outs.partition(_.fullDead)
        val removes = full.map(c => q(c.input)).toSet
        val dvUpdates = partial.map(c => StrawLog.DvUpdate(q(c.input), c.newDv,
          Option(c.oldDvPath))).toSeq
        val adds = StrawIO.mapParallel(fresh)(StrawLog.entryFor)
        MaintenanceOps.commitSwitchAndVacuum(dir, jobId, adds, removes, op = "update",
          dvs = dvUpdates,
          alsoVacuum = full.flatMap(c => Option(c.oldDvPath)).toSeq,
          alsoRollback = partial.map(_.newDv.path).toSeq,
          expectDvOnRemove = full.map(c => q(c.input) -> Option(c.oldDvPath)).toMap)
        outs.map(_.matched).sum
      }
    }
  }

  // ---- shared internals ---------------------------------------------------

  private[spark] def snapshot(dir: String)
      : (Seq[StrawIO.Listed], ColumnMappingState, StructType) = {
    val listed = StrawIO.listFilesMetaWithStats(dir)
    require(listed.nonEmpty, s"strawboat: no data files under $dir")
    val mapping = StrawLog.mappingAt(dir)
    val schema = StrawSchemaResolver.merge(StrawIO.mapParallel(listed) {
      case StrawIO.Listed(m, Some(synth), _) =>
        (m.path, mapping.toLogical(synth.schema))
      case StrawIO.Listed(m, None, _) =>
        (m.path, mapping.toLogical(FooterCache.get(m.path, m.mtime, m.len).schema))
    })
    (listed, mapping, schema)
  }

  /** Every listed file as a DV candidate (the SCAN decides which produce
    * matches — candidates here are only the metadata lookup), plus the
    * path → index map the pair extraction keys on. */
  private[spark] def allCandidates(dir: String, listed: Seq[StrawIO.Listed],
      schema: StructType, mapping: ColumnMappingState)
      : (IndexedSeq[MaintenanceOps.Candidate], Map[String, Int]) = {
    val (candidates, _) =
      MaintenanceOps.matchCandidates(listed, schema, Array.empty, mapping)
    require(candidates.forall(_.numRows <= Int.MaxValue.toLong),
      "strawboat: scan-based DML needs 32-bit row ordinals per file")
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
