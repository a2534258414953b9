package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, Literal, NamedExpression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, Filter => LFilter, InsertAction, Join, JoinHint, LogicalPlan, MergeAction, Project, UpdateAction}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

import graft.format.WriteOptions

/** The GENERAL form of SQL `MERGE INTO` — conditional and multiple WHEN
  * clauses, partial `UPDATE SET col = expr`, partial `INSERT (cols)`,
  * conditional `NOT MATCHED BY SOURCE` UPDATE/DELETE, and join keys that
  * need not share a name across sides. [[StrawMerge]]'s key-pruned
  * broadcast/shuffle paths stay the fast route for the common
  * `UPDATE SET * / DELETE / INSERT *` shapes; anything richer routes here
  * ([[StrawDmlRules]] decides).
  *
  * Execution is the scan-based DML idiom ([[StrawScanDml]]) generalized to
  * a JOIN: Catalyst plans `target ⋈ source` with the target's
  * `(_file, _pos)` metadata riding along, every WHEN clause folds into ONE
  * first-match-wins action expression evaluated on the join output, and
  * from that single checkpointed frame come (a) the matched ordinals →
  * per-file deletion vectors built on executors, and (b) the updated row
  * versions. Inserts are an anti-join of the source against the target's
  * keys; NOT MATCHED BY SOURCE clauses anti-join the other way. Everything
  * lands in one atomic log commit (op `merge`) with the same
  * conflict/rollback contract as every other mutation.
  *
  * Scale shape: no driver-side key materialization anywhere — the join,
  * both anti-joins, the DV aggregation, and the row staging are all
  * distributed; the driver sees O(files) metadata. A 100 TB target with a
  * backfill-sized source pays two shuffles of the SMALLER side (Catalyst
  * broadcasts when it can) and writes proportional to the touched rows.
  *
  * Refused loudly (never approximated): subqueries inside WHEN conditions
  * or assignment values, nested-field assignment targets, nondeterministic
  * expressions, a target row matched by multiple source rows (SQL calls it
  * nondeterministic), and nullable values into non-nullable columns.
  */
object StrawMergeScan {

  /** Times the general path ran — specs pin that simple shapes still take
    * [[StrawMerge]] (this counter must not move for them). */
  private[spark] val invocations = new java.util.concurrent.atomic.AtomicLong

  private val ActionCol = "_straw_merge_action"

  private def checkExpr(e: Expression, what: String): Unit = {
    require(e.deterministic, s"strawboat: $what must be deterministic: ${e.sql}")
    require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
      s"strawboat: $what must not contain a subquery: ${e.sql}")
  }

  /** One WHEN clause, shaped: `assigns` None = DELETE, Some = UPDATE. */
  private final case class Clause(cond: Option[Expression],
      assigns: Option[Seq[Assignment]])

  private def shapeClauses(actions: Seq[MergeAction], where: String,
      allowed: AttributeSet, targetOutput: Seq[Attribute]): Seq[Clause] =
    actions.map { a =>
      val c = a match {
        case UpdateAction(c0, assigns, _) =>
          assigns.foreach { as =>
            val key = as.key match {
              case k: AttributeReference => k
              case other => throw new UnsupportedOperationException(
                "strawboat: MERGE assignment targets must be top-level " +
                  s"columns, got: ${other.sql}")
            }
            require(targetOutput.exists(_.exprId == key.exprId),
              s"strawboat: MERGE assigns to a non-target column: ${key.sql}")
            checkExpr(as.value, s"$where assignment value")
            require(as.value.references.subsetOf(allowed),
              s"strawboat: $where assignment for '${key.name}' references " +
                s"columns outside its scope: ${as.value.sql}")
            require(!as.value.nullable || key.nullable,
              s"strawboat: MERGE assigns a nullable expression to " +
                s"non-nullable column '${key.name}' — coalesce the value first")
          }
          Clause(c0, Some(assigns))
        case DeleteAction(c0) => Clause(c0, None)
        case other => throw new UnsupportedOperationException(
          s"strawboat: unsupported $where action: $other")
      }
      c.cond.foreach { e =>
        checkExpr(e, s"$where condition")
        require(e.references.subsetOf(allowed),
          s"strawboat: $where condition references columns outside its " +
            s"scope: ${e.sql}")
      }
      c
    }

  /** First-match-wins clause selector: 1-based clause index, 0 = no clause
    * applies (the row stays untouched). */
  private def actionExpr(clauses: Seq[Clause]): Expression =
    clauses.zipWithIndex.foldRight(Literal(0): Expression) {
      case ((cl, i), rest) =>
        cl.cond match {
          case Some(c) =>
            org.apache.spark.sql.catalyst.expressions.If(
              org.apache.spark.sql.catalyst.expressions.Coalesce(
                Seq(c, Literal(false))),
              Literal(i + 1), rest)
          case None => Literal(i + 1) // unconditional: absorbs the tail
        }
    }

  /** The post-merge value of target column `a` given the selected clause
    * (an UPDATE clause that assigns it wins; otherwise the row's value). */
  private def valueExpr(a: Attribute, clauses: Seq[Clause],
      action: Attribute): Expression =
    clauses.zipWithIndex.foldLeft(a: Expression) { case (acc, (cl, i)) =>
      cl.assigns.flatMap(_.find(_.key.asInstanceOf[AttributeReference]
          .exprId == a.exprId)) match {
        case Some(as) =>
          org.apache.spark.sql.catalyst.expressions.If(
            EqualTo(action, Literal(i + 1)), as.value, acc)
        case None => acc
      }
    }

  def merge(spark: SparkSession, dir: String,
      relation: DataSourceV2Relation, source: LogicalPlan,
      targetOutput: Seq[Attribute], cond: Expression,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      notMatchedBySource: Seq[MergeAction],
      opts: WriteOptions = WriteOptions()): Unit = {
    invocations.incrementAndGet()
    val targetSet = AttributeSet(targetOutput)
    val sourceSet = source.outputSet
    val bothSet = targetSet ++ sourceSet

    // ---- shape and validate every clause up front (nothing mutates yet)
    checkExpr(cond, "MERGE condition")
    val matchedClauses = shapeClauses(matched, "WHEN MATCHED", bothSet, targetOutput)
    val nmbsClauses = shapeClauses(notMatchedBySource,
      "WHEN NOT MATCHED BY SOURCE", targetSet, targetOutput)
    // inserts: full-row from assignments; unassigned columns go NULL (the
    // SQL default), which the column must tolerate
    val insertClauses: Seq[(Option[Expression], Seq[Assignment])] =
      notMatched.map {
        case InsertAction(c0, assigns) =>
          c0.foreach { e =>
            checkExpr(e, "WHEN NOT MATCHED condition")
            require(e.references.subsetOf(sourceSet),
              "strawboat: WHEN NOT MATCHED condition may reference only " +
                s"SOURCE columns, got: ${e.sql}")
          }
          assigns.foreach { as =>
            checkExpr(as.value, "INSERT value")
            require(as.value.references.subsetOf(sourceSet),
              "strawboat: INSERT values may reference only SOURCE columns, " +
                s"got: ${as.value.sql}")
            as.key match {
              case k: AttributeReference =>
                require(!as.value.nullable || k.nullable,
                  s"strawboat: INSERT assigns a nullable expression to " +
                    s"non-nullable column '${k.name}' — coalesce the value first")
              case _ =>
            }
          }
          targetOutput.foreach { a =>
            val assigned = assigns.exists(
              _.key.asInstanceOf[AttributeReference].exprId == a.exprId)
            require(assigned || a.nullable,
              s"strawboat: INSERT leaves non-nullable column '${a.name}' " +
                "unassigned")
          }
          (c0, assigns)
        case other => throw new UnsupportedOperationException(
          s"strawboat: unsupported WHEN NOT MATCHED action: $other")
      }

    // join keys as (target, source) attribute pairs — used by the
    // anti-joins; the matched join takes `cond` verbatim
    val keyPairs: Seq[(Expression, Expression)] = StrawDml.conjuncts(cond).map {
      case EqualTo(l, r) =>
        if (l.references.subsetOf(targetSet) && r.references.subsetOf(sourceSet))
          (l, r)
        else if (r.references.subsetOf(targetSet) && l.references.subsetOf(sourceSet))
          (r, l)
        else throw new UnsupportedOperationException(
          "strawboat: each MERGE condition conjunct must compare target " +
            s"columns with source columns, got: ${EqualTo(l, r).sql}")
      case other => throw new UnsupportedOperationException(
        "strawboat: MERGE condition must be a conjunction of equalities, " +
          s"got: ${other.sql}")
    }

    // materialize the source ONCE (after validation — a refused statement
    // must not execute it): the range agg, the matched join, and both
    // anti-joins all read the same rows — a nondeterministic or expensive
    // source neither diverges between passes (which could both insert and
    // update the same key) nor re-executes per consumer. The checkpointed
    // plan keeps the original output attributes, so every clause
    // expression still resolves. Released in the epilogue's finally —
    // repeated large merges must not accumulate executor block storage.
    val src: LogicalPlan = org.apache.spark.sql.graft.GraftSqlShims
      .dataFrame(spark, source).localCheckpoint(true).queryExecution.analyzed
    try mergeBody(spark, dir, relation, src, targetOutput, cond,
      matchedClauses, nmbsClauses, insertClauses, keyPairs, opts)
    finally src.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    }
  }

  private def mergeBody(spark: SparkSession, dir: String,
      relation: DataSourceV2Relation, src: LogicalPlan,
      targetOutput: Seq[Attribute], cond: Expression,
      matchedClauses: Seq[Clause], nmbsClauses: Seq[Clause],
      insertClauses: Seq[(Option[Expression], Seq[Assignment])],
      keyPairs: Seq[(Expression, Expression)],
      opts: WriteOptions): Unit = {
    val snap = MaintenanceOps.snapshot(dir, "merge", opts)
    val (candidates, candIdx) = StrawScanDml.allCandidates(snap)
    val jobId = java.util.UUID.randomUUID().toString.take(8)

    // ---- key-range pruning for the MATCHED side: every matched target row
    // carries a key inside the source's key range, so one cheap min/max
    // pass over the source yields bounds that push into the target scan as
    // ordinary filters — partition dirs, file stats, and page zone maps
    // all engage, and a narrow upsert against a huge target reads the few
    // files that can match instead of the table. (The BY-SOURCE anti-join
    // must NOT take these bounds: unmatched rows live anywhere.)
    val rangeFilter: Option[Expression] = {
      import org.apache.spark.sql.types._
      def orderable(dt: DataType): Boolean = dt match {
        case ByteType | ShortType | IntegerType | LongType | StringType |
            BooleanType | DateType | TimestampType | TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
      val rangeable = keyPairs.filter { case (t, _) =>
        t.isInstanceOf[AttributeReference] && orderable(t.dataType) }
      if (rangeable.isEmpty) None
      else {
        val aggs = rangeable.zipWithIndex.flatMap { case ((_, s), i) =>
          Seq(
            Alias(org.apache.spark.sql.catalyst.expressions.aggregate
              .Min(s).toAggregateExpression(), s"_straw_min$i")(),
            Alias(org.apache.spark.sql.catalyst.expressions.aggregate
              .Max(s).toAggregateExpression(), s"_straw_max$i")())
        }
        val row = org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark,
          org.apache.spark.sql.catalyst.plans.logical.Aggregate(
            Nil, aggs.toIndexedSeq, src)).head()
        val bounds = rangeable.zipWithIndex.flatMap { case ((t, _), i) =>
          // an all-null (or empty) source key: no row can match on it —
          // but other conjuncts may still bound, so just skip this one
          if (row.isNullAt(2 * i)) Seq.empty
          else Seq(
            org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(t,
              Literal.create(row.get(2 * i), t.dataType)),
            org.apache.spark.sql.catalyst.expressions.LessThanOrEqual(t,
              Literal.create(row.get(2 * i + 1), t.dataType)))
        }
        if (bounds.isEmpty) None
        else Some(bounds.reduce(
          org.apache.spark.sql.catalyst.expressions.And))
      }
    }

    // ---- the one matched-frame scan: target ⋈ source with metadata
    val metaAttrs: Seq[AttributeReference] = Seq(
      StrawboatTable.FileColumnName, StrawboatTable.PosColumnName).map { n =>
      relation.metadataOutput.find(_.name == n).getOrElse(
        throw new IllegalStateException(
          s"strawboat: relation exposes no '$n' metadata column"))
    }
    val withMeta = relation.copy(output = relation.output ++ metaAttrs)
    // an insert-only merge never builds the matched frame at all
    val matchedDfOpt: Option[org.apache.spark.sql.DataFrame] =
      if (matchedClauses.isEmpty) None
      else {
        val matchedTarget =
          rangeFilter.map(f => LFilter(f, withMeta)).getOrElse(withMeta)
        val joined = Join(matchedTarget, src, Inner, Some(cond), JoinHint.NONE)
        val actionAlias = Alias(actionExpr(matchedClauses), ActionCol)()
        val lower = Project((joined.output :+ actionAlias).toIndexedSeq, joined)
        val actionAttr = actionAlias.toAttribute
        val upper = Project(
          (targetOutput.map(a =>
            Alias(valueExpr(a, matchedClauses, actionAttr), a.name)()
              : NamedExpression) ++ metaAttrs :+ actionAttr).toIndexedSeq, lower)
        Some(org.apache.spark.sql.graft.GraftSqlShims
          .dataFrame(spark, upper).localCheckpoint(true))
      }

    // SQL declares a target row matched by multiple source rows
    // nondeterministic — reject exactly that (duplicate TARGET keys are
    // fine: each matched target row acts once)
    matchedDfOpt.foreach { matchedDf =>
      val dup = matchedDf
        .groupBy(col(StrawboatTable.FileColumnName), col(StrawboatTable.PosColumnName))
        .count().filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        "strawboat: MERGE matched a target row with multiple source rows — " +
          "SQL calls this nondeterministic; de-duplicate the source on the keys")
    }

    val updateTags = matchedClauses.zipWithIndex.collect {
      case (Clause(_, Some(_)), i) => i + 1 }
    val touchedPairs = matchedDfOpt.map(_.filter(col(ActionCol) > 0)
      .select(StrawboatTable.FileColumnName, StrawboatTable.PosColumnName))

    // ---- NOT MATCHED BY SOURCE: anti-join the target against the source's
    // key columns, then the same clause algebra (target columns only)
    val nmbsDf =
      if (nmbsClauses.isEmpty) None
      else {
        val srcKeyCols: Seq[NamedExpression] = keyPairs.map(_._2).zipWithIndex
          .map { case (e, i) => Alias(e, s"_straw_k$i")() }
        val srcKeys = Project(srcKeyCols.toIndexedSeq, src)
        val anti = Join(withMeta, srcKeys, LeftAnti,
          Some(keyPairs.map(_._1).zip(srcKeys.output)
            .map { case (t, s) => EqualTo(t, s): Expression }
            .reduce(org.apache.spark.sql.catalyst.expressions.And)),
          JoinHint.NONE)
        val aAlias = Alias(actionExpr(nmbsClauses), ActionCol)()
        val lo = Project((anti.output :+ aAlias).toIndexedSeq, anti)
        val up = Project(
          (targetOutput.map(a =>
            Alias(valueExpr(a, nmbsClauses, aAlias.toAttribute), a.name)()
              : NamedExpression) ++ metaAttrs :+ aAlias.toAttribute).toIndexedSeq, lo)
        Some(org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, up)
          .localCheckpoint(true))
      }
    val nmbsUpdateTags = nmbsClauses.zipWithIndex.collect {
      case (Clause(_, Some(_)), i) => i + 1 }

    // ---- inserts: source rows with NO key match, per-clause full rows
    val insertDf =
      if (insertClauses.isEmpty) None
      else {
        val tKeyCols: Seq[NamedExpression] = keyPairs.map(_._1).zipWithIndex
          .map { case (e, i) => Alias(e, s"_straw_k$i")() }
        // target keys outside the source's key range can't match any
        // source row, so the range bounds prune this side too
        val tKeys = Project(tKeyCols.toIndexedSeq,
          rangeFilter.map(f => LFilter(f, relation)).getOrElse(relation))
        val anti = Join(src, tKeys, LeftAnti,
          Some(keyPairs.map(_._2).zip(tKeys.output)
            .map { case (s, t) => EqualTo(s, t): Expression }
            .reduce(org.apache.spark.sql.catalyst.expressions.And)),
          JoinHint.NONE)
        val insClauseShapes = insertClauses.map { case (c, as) =>
          Clause(c, Some(as)) }
        val aAlias = Alias(actionExpr(insClauseShapes), ActionCol)()
        val lo = Project((anti.output :+ aAlias).toIndexedSeq, anti)
        // column value = the selected clause's assignment, else NULL
        val up = Project(
          (targetOutput.map { a =>
            val v = insertClauses.zipWithIndex.foldLeft(
              Literal(null, a.dataType): Expression) { case (acc, ((_, as), i)) =>
              as.find(_.key.asInstanceOf[AttributeReference].exprId == a.exprId) match {
                case Some(x) =>
                  org.apache.spark.sql.catalyst.expressions.If(
                    EqualTo(aAlias.toAttribute, Literal(i + 1)), x.value, acc)
                case None => acc
              }
            }
            Alias(v, a.name)(): NamedExpression
          } :+ aAlias.toAttribute).toIndexedSeq, lo)
        Some(org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, up)
          .filter(col(ActionCol) > 0).drop(ActionCol))
      }

    // ---- build DVs on executors from every touched ordinal
    MaintenanceOps.withInflight(dir, jobId) {
      val pairFrames = Seq(
        touchedPairs,
        nmbsDf.map(_.filter(col(ActionCol) > 0)
          .select(StrawboatTable.FileColumnName, StrawboatTable.PosColumnName))
      ).flatten
      val outs =
        if (pairFrames.isEmpty) Array.empty[MaintenanceOps.DvOut]
        else MaintenanceOps.dvFromPairs(spark,
          StrawScanDml.pairRdd(pairFrames.reduce(_ union _), candIdx), candidates)

      // ---- stage new row versions + inserts (one distributed writer pass)
      val tableCols = targetOutput.map(_.name)
      val newRowFrames = Seq(
        matchedDfOpt.filter(_ => updateTags.nonEmpty).map(_
          .filter(col(ActionCol).isin(updateTags.map(Integer.valueOf): _*))
          .select(tableCols.map(col): _*)),
        nmbsDf.filter(_ => nmbsUpdateTags.nonEmpty).map(_
          .filter(col(ActionCol).isin(nmbsUpdateTags.map(Integer.valueOf): _*))
          .select(tableCols.map(col): _*)),
        insertDf.map(_.select(tableCols.map(col): _*))
      ).flatten
      val staged =
        if (newRowFrames.isEmpty) Seq.empty
        else MaintenanceOps.stageFrame(spark, dir, jobId,
          newRowFrames.reduce(_ union _), snap)
      MaintenanceOps.commitDv(dir, jobId, "merge", outs, staged, snap)
    }
  }
}
