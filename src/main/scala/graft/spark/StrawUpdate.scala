package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.format.WriteOptions

/** Row-level UPDATE over a strawboat table — the redaction primitive for an
  * LLM corpus (null out or overwrite a PII column where flagged).
  *
  * MERGE-ON-READ: matching rows' ordinals are unioned into each file's
  * deletion vector ([[DeletionVector]] — the old row versions die in
  * place) while the UPDATED versions are written to new files beside the
  * input, all switched in ONE atomic [[StrawLog]] commit (op `update`).
  * Cost is proportional to the MATCHED rows, not to the files containing
  * them: a 100-row redaction in a 1 GB file writes a 100-row file and a
  * sidecar, never rewrites the gigabyte. A file whose every row matched is
  * removed outright. Vector ordinals are 32-bit, so a table holding a file
  * of more than 2^31 rows is rejected.
  *
  * `condition` is the same pushdown-filter conjunction as delete's (SQL
  * 3VL: only TRUE rows update); `set` maps flat column names to new
  * LITERAL values (external JVM forms — String, Long, java.math.BigDecimal,
  * null to redact — converted to the column's type up front, rejected
  * loudly on mismatch). Assigning the table's hive PARTITION column is
  * rejected: rows would have to move between directories, which a
  * file-local operation cannot do.
  *
  * Crash/concurrency, schema handling, and conflict semantics follow
  * [[StrawDelete]] (shared [[MaintenanceOps]] snapshot and epilogue):
  * evaluation happens in the table schema derived from the SAME listing
  * snapshot; sidecars and staged files are invisible until the commit and
  * covered by an in-flight marker until then; failures roll back; a
  * competing mutation of the same file surfaces as
  * [[StrawLog.ConflictException]].
  */
object StrawUpdate {

  final case class UpdateResult(
      updatedRows: Long,
      rewrittenFiles: Int,
      removedFiles: Int,
      prunedFiles: Int,
      falsePositiveFiles: Int,
      /** files that took (or replaced) a deletion-vector sidecar. */
      dvFiles: Int = 0)

  /** Is `v` the Catalyst-internal representation `dt` stores? */
  private def internalForm(dt: org.apache.spark.sql.types.DataType, v: Any): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => v.isInstanceOf[java.lang.Boolean]
      case ByteType => v.isInstanceOf[java.lang.Byte]
      case ShortType => v.isInstanceOf[java.lang.Short]
      case IntegerType | DateType => v.isInstanceOf[java.lang.Integer]
      case LongType | TimestampType | TimestampNTZType => v.isInstanceOf[java.lang.Long]
      case FloatType => v.isInstanceOf[java.lang.Float]
      case DoubleType => v.isInstanceOf[java.lang.Double]
      case StringType => v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      case BinaryType => v.isInstanceOf[Array[Byte]]
      case _: DecimalType => v.isInstanceOf[org.apache.spark.sql.types.Decimal]
      case _ => false // nested targets are rejected earlier
    }
  }

  /** Update rows matching `condition` (conjunction, SQL 3VL) in `dir`,
    * applying `set` column := literal assignments. No-op (version
    * unchanged) when nothing matches. */
  def update(spark: SparkSession, dir: String, condition: Seq[Filter],
      set: Map[String, Any], opts: WriteOptions = WriteOptions()): UpdateResult =
    run(spark, dir, condition, set.keySet, opts) { schema =>
        // resolve assignments to (ordinal, catalyst value) up front — a
        // typo'd column, nested target, type mismatch, or null into a
        // non-nullable column must fail before anything is rewritten
        set.toSeq.map { case (name, v) =>
          val (i, fld) = targetField(schema, name)
          if (v == null) {
            require(fld.nullable,
              s"strawboat: cannot set non-nullable column '$name' to null")
            (i, Left(null): Either[Any, org.apache.spark.sql.catalyst.expressions.Expression])
          } else {
            val cv =
              try CatalystTypeConverters.createToCatalystConverter(fld.dataType)(v)
              catch {
                case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
                  s"strawboat: value ${v} (${v.getClass.getName}) does not convert " +
                    s"to column '$name' of type ${fld.dataType}", e)
              }
            // the converter is identity for primitive-backed types, so a
            // mistyped literal passes through and would only blow up
            // mid-job — pin the internal representation here instead
            require(cv != null && internalForm(fld.dataType, cv),
              s"strawboat: value $v (${v.getClass.getName}) does not convert to " +
                s"column '$name' of type ${fld.dataType}")
            (i, Left(cv))
          }
        }
    }

  /** Update with EXPRESSION-valued assignments — `SET lang = upper(lang)`,
    * `SET text = regexp_replace(text, '[0-9]+', 'N')` — the redaction
    * workflow's form. Each value is a SQL scalar expression over the
    * table's columns, analyzed by the session (function registry,
    * session timezone) and bound to the row once up front; right-hand
    * sides see the PRE-update row. Deterministic scalar expressions only
    * (no aggregates, no subqueries); the result type must equal the
    * column's type exactly — add an explicit CAST in the expression to
    * convert. Foldable subtrees (including `current_timestamp()` /
    * `current_date()`) are evaluated once on the driver, so time-dependent
    * functions are statement-scoped as SQL requires. */
  def updateExpressions(spark: SparkSession, dir: String, condition: Seq[Filter],
      set: Map[String, String], opts: WriteOptions = WriteOptions()): UpdateResult =
    run(spark, dir, condition, set.keySet, opts) { schema =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, PlanExpression}
        import org.apache.spark.sql.catalyst.plans.logical.Project
        // one empty frame over the TABLE schema: the session analyzer
        // resolves names/functions/timezones exactly as spark.sql would
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        set.toSeq.map { case (name, exprStr) =>
          val (i, fld) = targetField(schema, name)
          val analyzed =
            try empty.select(org.apache.spark.sql.functions.expr(exprStr))
              .queryExecution.analyzed
            catch {
              case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
                s"strawboat: assignment for '$name' does not analyze over " +
                  s"${schema.catalogString}: $exprStr", e)
            }
          val (resolved, childOutput) = analyzed match {
            case p: Project =>
              (p.projectList.head match {
                case a: Alias => a.child
                case e => e
              }, p.child.output)
            case other => throw new IllegalArgumentException(
              s"strawboat: assignment for '$name' is not a scalar row " +
                s"expression (${other.nodeName}): $exprStr")
          }
          require(resolved.deterministic,
            s"strawboat: assignment for '$name' must be deterministic: $exprStr")
          require(!resolved.exists(_.isInstanceOf[PlanExpression[_]]),
            s"strawboat: assignment for '$name' must not contain a subquery: $exprStr")
          require(resolved.dataType == fld.dataType,
            s"strawboat: assignment for '$name' is ${resolved.dataType} but the " +
              s"column is ${fld.dataType} — add an explicit CAST: $exprStr")
          require(fld.nullable || !resolved.nullable,
            s"strawboat: possibly-null assignment into non-nullable '$name': $exprStr")
          // Fold every foldable subtree ONCE on the driver, exactly as the
          // optimizer's ConstantFolding would for a real query. Our rewrite
          // evals the ANALYZED tree per row, so without this a time-dependent
          // foldable like current_timestamp() would drift across rows and
          // task retries; folding here pins it to one statement-scoped value
          // (SQL's own semantics), and data-independent errors (ANSI 1/0)
          // surface on the driver before any file is touched.
          val folded = foldOnce(resolved)
          val bound = BindReferences.bindReference(folded, childOutput)
          // Safety net: anything STILL unevaluable after folding + binding
          // (attributes became BoundReferences; foldables became Literals)
          // would crash mid-job on executors — reject up front instead.
          require(!bound.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Unevaluable]),
            s"strawboat: assignment for '$name' contains an expression only the " +
              s"optimizer can evaluate — compute it in the caller and pass a " +
              s"literal: $exprStr")
          (i, Right(bound))
        }
    }

  /** Driver-side ConstantFolding: replace each maximal foldable subtree
    * with the Literal it evaluates to. Mirrors what the optimizer does for
    * a real query plan; see the call site for why per-row eval of foldables
    * is wrong. Runs pre-binding — a foldable subtree holds no attributes. */
  private def foldOnce(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    if (e.foldable)
      org.apache.spark.sql.catalyst.expressions.Literal
        .create(e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow), e.dataType)
    else e.mapChildren(foldOnce)

  /** (ordinal, field) of an assignable target column. */
  private def targetField(schema: StructType, name: String)
      : (Int, org.apache.spark.sql.types.StructField) = {
    val i = schema.fields.indexWhere(_.name == name)
    require(i >= 0,
      s"strawboat: update column '$name' not in ${schema.fieldNames.mkString(",")}")
    val fld = schema.fields(i)
    require(!graft.format.LeafLayout.isNested(fld.dataType),
      s"strawboat: update column '$name' is nested (${fld.dataType}) — flat columns only")
    (i, fld)
  }

  /** Shared validation + execution: take the op's [[MaintenanceOps.Snapshot]],
    * compile the condition, build assignments via `mkAssigns` (literal or
    * expression form), reject partition-column targets, run the candidate
    * ladder, then match into deletion vectors, stage the updated versions
    * and commit — all under one in-flight marker. */
  private def run(spark: SparkSession, dir: String, condition: Seq[Filter],
      assignedCols: Set[String], opts: WriteOptions)(
      mkAssigns: StructType => Seq[MaintenanceOps.Assign]): UpdateResult = {
    require(condition.nonEmpty, "strawboat: update needs a condition")
    require(assignedCols.nonEmpty, "strawboat: update needs at least one assignment")
    val snap = MaintenanceOps.snapshot(dir, "update", opts)
    val schema = snap.schema
    require(RowFilterEval.build(schema, condition.toArray).isDefined,
      s"strawboat: update condition is not exactly row-evaluable over " +
        s"${schema.catalogString}: ${condition.mkString(", ")}")
    val assigns = mkAssigns(schema)
    val filters = condition.toArray

    // a file-local operation cannot move rows between hive partition
    // directories, and the directory=value invariant backs pruning and
    // grouped aggregate pushdown — updating the partition column is out.
    // Validated over the FULL listing (not the pruned candidates): the
    // same invalid call must fail identically whether or not rows match.
    snap.listed.foreach { lf =>
      PartitionLayout.partitionOf(lf.meta.path).foreach { case (c, _) =>
        require(!assignedCols.contains(c),
          s"strawboat: cannot update hive partition column '$c' (rows would " +
            "have to move between partition directories); rewrite the table instead")
      }
    }

    val (candidates, pruned) = MaintenanceOps.matchCandidates(snap, filters)
    if (candidates.isEmpty) return UpdateResult(0L, 0, 0, pruned, 0)

    val jobId = java.util.UUID.randomUUID().toString.take(8)
    // CHECK constraints apply to the POST-assignment rows — an update may
    // not move a row out of compliance (bound once here, on the driver)
    val checker = StrawConstraints.checkerFor(spark, dir, schema).orNull
    MaintenanceOps.withInflight(dir, jobId) {
      // old row versions die via the deletion vector, updated versions
      // stage as new files — one atomic commit switches both
      val outs = MaintenanceOps.dvMatch(spark, dir, jobId, snap, candidates,
        filters, assigns = Some(assigns), checkUpdated = checker)
      val done = MaintenanceOps.commitDv(dir, jobId, "update", outs,
        outs.flatMap(_.staged), snap)
      UpdateResult(
        updatedRows = outs.map(_.matched).sum,
        rewrittenFiles = done.fresh.size,
        removedFiles = done.removedFiles,
        prunedFiles = pruned,
        falsePositiveFiles = outs.count(_.matched == 0),
        dvFiles = done.dvFiles)
    }
  }
}
