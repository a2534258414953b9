package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.format.WriteOptions

import scala.jdk.CollectionConverters._

/** MERGE INTO (upsert) for strawboat tables — the natural completion of the
  * mutation surface: one atomic commit that updates matched rows, deletes
  * them, and/or inserts unmatched source rows.
  *
  * Semantics are keyed equi-merge, the standard upsert shape:
  * {{{
  * MERGE INTO target USING source ON target.k = source.k
  *   WHEN MATCHED THEN UPDATE SET * | DELETE
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  * expressed as [[merge]](whenMatched = Replace|Delete|Keep,
  * insertNotMatched). A matched TARGET row's replacement is its source
  * row (SET *). With duplicate keys in the TARGET, all duplicates die and
  * ONE source row replaces them — the merge deduplicates the key, which
  * is STRICTER than SQL MERGE (it would update each duplicate in place);
  * key-unique tables are unaffected. Duplicate non-null keys in the
  * SOURCE are rejected up front — SQL MERGE declares multiple source
  * matches per target row nondeterministic and errors; so do we. Null
  * source keys never match anything (SQL equality) and simply insert.
  *
  * Execution is MERGE-ON-READ over the deletion-vector machinery: the
  * source's keys broadcast to one task per candidate target file (pruned
  * by the key columns' file/page statistics first), matched ordinals
  * union into each file's DV, and the surviving source rows are written
  * DISTRIBUTED as new files — target rows never rewrite. Everything
  * switches in ONE atomic [[StrawLog]] commit (op `merge`); a concurrent
  * mutation of a touched file conflicts cleanly.
  *
  * Two match strategies, chosen by the SOURCE's estimated key bytes
  * against [[BroadcastKeyBytesConf]] (default 64 MiB):
  *
  *  - '''broadcast''' (small source — the usual upsert): the source's key
  *    set is collected to the driver and broadcast; one task per candidate
  *    target file probes it. Cost tracks the source size and the files
  *    containing matches, not the table.
  *  - '''distributed''' (large source — a backfill): NOTHING key-shaped
  *    ever reaches the driver. Candidate files emit their live key rows
  *    tagged (file, ordinal); a shuffle semi-join against the source keys
  *    yields the matched pairs; matched ordinals aggregate into per-file
  *    RoaringBitmaps ON EXECUTORS, which write the DVs; insert gating is a
  *    semi/anti join of the source against the matched keys. The driver
  *    sees only per-file [[MaintenanceOps.DvOut]] metadata (bounded by the
  *    file count) — a source of any size survives.
  *
  * Both paths stage inserts distributed and share the single atomic
  * commit. Candidate pruning runs before either: hive partition dirs,
  * file stats and page zone maps against the source keys' ranges (plus
  * exact In-sets when the source is small enough to enumerate them).
  *
  * The probed keys and the written rows must come from ONE evaluation of
  * the source. A DRIVER-RESIDENT source — its optimized plan is a
  * `LocalRelation`: `createDataFrame` over local rows, SQL
  * `USING (VALUES …)` — already is one: the gate, the key set and the
  * write frame all read that relation's rows, and a broadcast merge runs
  * two Spark jobs (probe, stage). Any other source is materialized with
  * `localCheckpoint` first, then sized by one aggregate job.
  */
object StrawMerge {

  /** Runtime conf: max estimated source-key bytes for the driver-collect
    * (broadcast) match path; larger sources take the shuffle-join path. */
  val BroadcastKeyBytesConf = "spark.strawboat.merge.broadcastKeyBytes"
  private val BroadcastKeyBytesDefault: Long = 64L << 20

  sealed trait MatchedAction
  /** Replace each matched target row with its source row (UPDATE SET *). */
  case object Replace extends MatchedAction
  /** Delete matched target rows (WHEN MATCHED THEN DELETE). */
  case object Delete extends MatchedAction
  /** Leave matched target rows as they are (insert-only merge). */
  case object Keep extends MatchedAction

  final case class MergeResult(
      matchedRows: Long,
      /** source rows written because their key matched NO target row —
        * true WHEN NOT MATCHED inserts only. (Until round 14 this field
        * counted every freshly written row, replacement versions
        * included; a re-merge of an already-applied source then reported
        * thousands of "inserts" while the table row count stood still.) */
      insertedRows: Long,
      removedFiles: Int,
      dvFiles: Int,
      newFiles: Int,
      prunedFiles: Int,
      /** true = the shuffle-join (large-source) match path ran; the
        * driver never materialized the source key set. */
      distributedSource: Boolean = false,
      /** target rows deleted because their key had NO source match
        * (WHEN NOT MATCHED BY SOURCE THEN DELETE). */
      notMatchedBySourceDeleted: Long = 0L,
      /** matched source rows written as replacement versions (Replace
        * action). insertedRows + replacedRows = rows this merge wrote. */
      replacedRows: Long = 0L)

  /** Key types we can hash/compare value-exactly on the driver and prune
    * by zone maps — the flat orderable set minus floats (NaN equality) and
    * binary (reference equality). */
  private[spark] def keyType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType | ByteType | ShortType | IntegerType | DateType |
           LongType | TimestampType | TimestampNTZType | StringType => true
      case d: DecimalType => d.precision <= 38
      case _ => false
    }
  }

  /** @param insertCondition SQL predicate over the TABLE's columns gating
    *        which NOT-MATCHED source rows insert (`WHEN NOT MATCHED AND c
    *        THEN INSERT *`); analyzed by the session against the aligned
    *        source. Matching itself is unaffected — a matched source row
    *        is never an insert candidate regardless. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], whenMatched: MatchedAction = Replace,
      insertNotMatched: Boolean = true,
      opts: WriteOptions = WriteOptions(),
      deleteNotMatchedBySource: Boolean = false,
      insertCondition: Option[String] = None): MergeResult = {
    require(keys.nonEmpty, "strawboat: merge needs at least one key column")
    require(whenMatched != Keep || insertNotMatched || deleteNotMatchedBySource,
      "strawboat: merge with whenMatched=Keep and insertNotMatched=false is a no-op")
    val snap = MaintenanceOps.snapshot(dir, "merge", opts)
    val schema = snap.schema
    val keyIdx = keys.map { k =>
      val i = schema.fields.indexWhere(_.name == k)
      require(i >= 0, s"strawboat: merge key '$k' not in ${schema.fieldNames.mkString(",")}")
      require(keyType(schema.fields(i).dataType),
        s"strawboat: merge key '$k' has type ${schema.fields(i).dataType} " +
          "(supported: string / integral / boolean / date / timestamp / decimal)")
      i
    }
    // align the source to the TABLE schema (by name, exact types) — SET * /
    // INSERT * semantics need a full row per source record
    val srcAligned = {
      val missing = schema.fieldNames.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"strawboat: merge source lacks table column(s): ${missing.mkString(", ")}")
      val sel = source.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      sel.schema.fields.zip(schema.fields).foreach { case (s, t) =>
        require(s.dataType == t.dataType,
          s"strawboat: merge source column '${t.name}' is ${s.dataType} but the " +
            s"table stores ${t.dataType} — cast the source first")
        // a nullable source column feeding a non-nullable table column
        // could write nulls the table's read schema then denies (codegen
        // elides the null checks) — reject statically, coalesce to fix
        require(!s.nullable || t.nullable,
          s"strawboat: merge source column '${t.name}' is nullable but the " +
            "table column is not — coalesce the source first")
      }
      sel
    }

    // The key probe and the insert write are two separate Spark jobs over
    // the same frame: a non-deterministic or concurrently-changing source
    // evaluated twice could insert rows whose keys were never probed
    // (duplicate keys / lost updates). Both must read ONE evaluation.
    //  - A DRIVER-RESIDENT source (createDataFrame over local rows, SQL
    //    `USING (VALUES …)`, and the cast projection the SQL rewrite adds,
    //    which the optimizer folds into the relation) is already that: its
    //    optimized plan is a LocalRelation holding the evaluated rows. The
    //    row count and key widths come from those rows, and the write frame
    //    is built over the same relation; the key collect over that frame
    //    is a local table scan on the driver — no Spark job before the
    //    probe.
    //  - Any other source is MATERIALIZED first. localCheckpoint CUTS
    //    LINEAGE, not just caches: losing a materialized partition fails
    //    the merge loudly instead of silently recomputing the source
    //    (persist would re-evaluate on cache loss — the exact hazard
    //    again). Blocks are reclaimed by the context cleaner once the
    //    frame is unreachable.
    // Path gate: estimated source KEY bytes. Row count is exact; string
    // key columns (the one variable-width key type) use the MEASURED
    // average byte width — defaultSize=20 undercounts URL/digest keys
    // several-fold and would route an oversized source to the
    // driver-collect path.
    val strKeys = keyIdx.filter(schema.fields(_).dataType ==
      org.apache.spark.sql.types.StringType)
    val fixedKeyBytes = keyIdx.filterNot(strKeys.contains)
      .map(schema.fields(_).dataType.defaultSize + 16L).sum
    val local = srcAligned.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !r.isStreaming && r.output.map(_.name) == schema.fieldNames.toSeq => Some(r)
      case _ => None
    }
    val (srcMat, srcRows, perRowKeyBytes) = local match {
      case Some(rel) =>
        val measured = strKeys.map { i =>
          val lens = rel.data.filterNot(_.isNullAt(i)).map(_.getUTF8String(i).numBytes.toLong)
          (if (lens.isEmpty) 0.0 else lens.sum.toDouble / lens.size) + 16L
        }.sum
        (org.apache.spark.sql.graft.GraftSqlShims.dataFrame(spark, rel),
          rel.data.size.toLong, fixedKeyBytes + measured.toLong)
      case None =>
        val mat = srcAligned.localCheckpoint(true)
        // one aggregate job computes count + widths
        import org.apache.spark.sql.functions._
        val aggs = count(lit(1)) +: strKeys.map(i =>
          coalesce(avg(octet_length(col(schema.fields(i).name))), lit(0.0)))
        val r = mat.agg(aggs.head, aggs.tail: _*).collect()(0)
        val measured = strKeys.indices.map(i => r.getDouble(i + 1) + 16L).sum
        (mat, r.getLong(0), fixedKeyBytes + measured.toLong)
    }
    val gateBytes = spark.conf.get(BroadcastKeyBytesConf,
      BroadcastKeyBytesDefault.toString).toLong
    // bind the insert condition up front: a typo'd column or analysis
    // error must fail before anything mutates
    val icCol: Option[org.apache.spark.sql.Column] =
      insertCondition.map(c => org.apache.spark.sql.functions.expr(c))
    icCol.foreach(c => srcMat.filter(c).queryExecution.assertAnalyzed())
    val jobId = java.util.UUID.randomUUID().toString.take(8)
    MaintenanceOps.withInflight(dir, jobId) {
      if (srcRows * perRowKeyBytes <= gateBytes)
        mergeBroadcast(spark, dir, jobId, srcMat, keys, keyIdx, whenMatched,
          insertNotMatched, snap, deleteNotMatchedBySource, icCol)
      else
        mergeDistributed(spark, dir, jobId, srcMat, keys, keyIdx, whenMatched,
          insertNotMatched, snap, deleteNotMatchedBySource, icCol)
    }
  }

  private def mergeBroadcast(spark: SparkSession, dir: String, jobId: String,
      srcAligned: DataFrame, keys: Seq[String], keyIdx: Seq[Int],
      whenMatched: MatchedAction, insertNotMatched: Boolean,
      snap: MaintenanceOps.Snapshot, deleteUnmatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column]): MergeResult = {
    val schema = snap.schema
    // the source KEY SET comes to the driver: dedup check + pruning bounds
    // + broadcast probe set (catalyst-valued tuples; the types above are
    // all value-hashable)
    val keyRows = srcAligned
      .select(keys.map(org.apache.spark.sql.functions.col).toSeq: _*).collect()
    val keySchema = StructType(keyIdx.map(schema.fields(_)))
    val toCatalyst = keySchema.fields.map(f =>
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(f.dataType))
    val keyTuples: Seq[Vector[Any]] = keyRows.toSeq.map { r =>
      Vector.tabulate(keys.size)(c =>
        if (r.isNullAt(c)) null else toCatalyst(c)(r.get(c)))
    }
    // a null key never equals anything (SQL equality) — it can match no
    // target row, so several null-keyed rows are NOT ambiguous matches;
    // they simply insert when insertNotMatched
    val probeList = keyTuples.filterNot(_.contains(null))
    val probeKeys: Set[Vector[Any]] = probeList.toSet
    require(probeKeys.size == probeList.length,
      s"strawboat: merge source carries duplicate keys (${probeList.length} " +
        s"non-null-keyed rows, ${probeKeys.size} distinct " +
        s"${keys.mkString("(", ",", ")")}) — SQL MERGE declares multiple " +
        "source matches per target row nondeterministic")

    // candidate pruning: per-key-column In filters (external-form values)
    // ride the ordinary stats ladder; row matching below uses the hash
    // set. Beyond the 1000-value enumeration cap an In filter drops, but
    // the key range still prunes: zone maps exclude files wholly outside
    // [min, max] — a clustered batch (the common backfill) keeps pruning.
    // WHEN NOT MATCHED BY SOURCE deletes rows anywhere in the table — no
    // key-derived pruning is sound then; every file is a candidate
    val pruneFilters: Array[org.apache.spark.sql.sources.Filter] =
      if (deleteUnmatched) Array.empty
      else keys.zipWithIndex.flatMap { case (k, c) =>
        val vals: Array[Any] = keyRows.iterator.map(r => r.get(c))
          .filter(_ != null).toArray.distinct
        if (vals.nonEmpty && vals.length <= 1000)
          Seq(org.apache.spark.sql.sources.In(k, vals))
        else rangeFilters(k, vals)
      }.toArray
    // Keep still MATCHES (to know which source keys must not insert) but
    // never mutates the matched target rows
    val mutate = whenMatched != Keep
    val (candidates, pruned) = MaintenanceOps.matchCandidates(snap, pruneFilters)

    // ---- match phase: one task per candidate file probes the key set ----
    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val keySchemaJson = keySchema.json
    val probeB = spark.sparkContext.broadcast(probeKeys)
    val mapping = snap.mapping
    final case class Probe(out: MaintenanceOps.DvOut,
        matchedKeys: Seq[Vector[Any]], unmatchedDeleted: Long)
    val outs: Array[Probe] = MaintenanceOps.describeJobs(spark, "strawboat merge: probe") {
      if (candidates.isEmpty) Array.empty
      else spark.sparkContext.parallelize(candidates, candidates.size).map { cand =>
        StrawIO.install(serConf.value)
        val m = cand.meta
        val keySub = org.apache.spark.sql.types.DataType
          .fromJson(keySchemaJson).asInstanceOf[StructType]
        val probe = probeB.value
        val matched = new org.roaringbitmap.RoaringBitmap()
        val unmatched = new org.roaringbitmap.RoaringBitmap()
        val matchedKeys = scala.collection.mutable.LinkedHashSet.empty[Vector[Any]]
        // the scan reader over the zone-map-kept slices (the file's DV on
        // each): live key rows, their file ordinal appended as `_pos`
        val reader = new StrawPartitionReaderFactory(keySub, keySub, serConf,
          mapping = mapping, appendPos = true)
          .createColumnarReader(StrawPackedPartition(cand.slices))
        try {
          while (reader.next()) {
            val it = reader.get().rowIterator()
            while (it.hasNext) {
              val row = it.next()
              val ord = row.getLong(keySub.length).toInt
              val key = Vector.tabulate(keySub.length)(c =>
                if (row.isNullAt(c)) null
                else row.get(c, keySub.fields(c).dataType))
              if (!key.contains(null) && probe(key)) {
                matched.add(ord)
                // string values view the reader's reused vectors: copy
                matchedKeys += key.map {
                  case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
                  case v => v
                }
              } else if (deleteUnmatched) {
                // no source match (null target keys match nothing):
                // WHEN NOT MATCHED BY SOURCE THEN DELETE
                unmatched.add(ord)
              }
            }
          }
        } finally reader.close()
        val matchedCount = matched.getLongCardinality
        val unmatchedCount = unmatched.getLongCardinality
        // rows this merge kills: matched ones when the action mutates,
        // source-unmatched ones under WHEN NOT MATCHED BY SOURCE DELETE
        val dying = new org.roaringbitmap.RoaringBitmap()
        if (mutate) dying.or(matched)
        if (deleteUnmatched) dying.or(unmatched)
        val oldDvPath = if (cand.dv == null) null else cand.dv.path
        if (dying.isEmpty)
          Probe(MaintenanceOps.DvOut(m.path, matchedCount, oldDvPath,
            null, fullDead = false, Seq.empty), matchedKeys.toSeq, 0L)
        else {
          if (cand.dv != null) dying.or(DeletionVector.read(cand.dv.path, cand.dv.len))
          val fullDead = dying.getLongCardinality >= cand.numRows
          val newDv =
            if (fullDead) null
            else DeletionVector.write(StrawIO.fs(m.path), new Path(m.path), dying)
          Probe(MaintenanceOps.DvOut(m.path, matchedCount, oldDvPath,
            newDv, fullDead, Seq.empty), matchedKeys.toSeq, unmatchedCount)
        }
      }.collect()
    }
    val allMatchedKeys: Set[Vector[Any]] = outs.flatMap(_.matchedKeys).toSet

    // ---- insert phase: choose the source rows to write, distributed ----
    // Replace: every source row lands (matched ones are the new versions,
    // unmatched the inserts — gated by insertNotMatched). Delete/Keep:
    // only unmatched rows insert.
    val keepMatchedSrc = whenMatched == Replace
    // the common upsert writes every source row: no filter to evaluate
    val writeAll = keepMatchedSrc && insertNotMatched && insertCond.isEmpty
    val toWrite: DataFrame = if (writeAll) srcAligned else {
      // broadcast the matched-key set in EXTERNAL form (converted once on
      // the driver), so the per-row filter compares Row values directly —
      // no converter allocation inside the hot lambda
      val toScala = keySchema.fields.map(f =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(f.dataType))
      val matchedExternal: Set[Vector[Any]] =
        allMatchedKeys.map(k => Vector.tabulate(k.size)(c =>
          if (k(c) == null) null else toScala(c)(k(c))))
      val matchedB = spark.sparkContext.broadcast(matchedExternal)
      val kIdx = keyIdx.toArray
      def keyOf(r: org.apache.spark.sql.Row): Vector[Any] =
        Vector.tabulate(kIdx.length)(c =>
          if (r.isNullAt(kIdx(c))) null else r.get(kIdx(c)))
      insertCond match {
        case None =>
          val filterFn: org.apache.spark.sql.Row => Boolean = { r =>
            val isMatched = matchedB.value(keyOf(r))
            (isMatched && keepMatchedSrc) || (!isMatched && insertNotMatched)
          }
          srcAligned.filter(filterFn)
        case Some(ic) =>
          // the condition gates only the NOT-MATCHED branch — matched
          // source rows (the replacement versions) are never subject to it
          val matchedPart =
            if (!keepMatchedSrc) srcAligned.limit(0)
            else srcAligned.filter((r: org.apache.spark.sql.Row) =>
              matchedB.value(keyOf(r)))
          val unmatchedPart =
            if (!insertNotMatched) srcAligned.limit(0)
            else srcAligned.filter((r: org.apache.spark.sql.Row) =>
              !matchedB.value(keyOf(r))).filter(ic)
          matchedPart.unionAll(unmatchedPart)
      }
    }
    // source keys are verified-unique, so distinct matched target keys
    // count exactly the source rows the Replace action writes back
    commitMerge(spark, dir, jobId, toWrite, snap, outs.map(_.out),
      matchedRows = outs.map(_.out.matched).sum, pruned,
      unmatchedDeleted = outs.map(_.unmatchedDeleted).sum,
      replacedSrcRows = if (keepMatchedSrc) allMatchedKeys.size.toLong else 0L)
  }

  /** The shuffle-join match path: nothing proportional to the source's
    * key set touches the driver. See the object scaladoc for the shape. */
  private def mergeDistributed(spark: SparkSession, dir: String, jobId: String,
      srcAligned: DataFrame, keys: Seq[String], keyIdx: Seq[Int],
      whenMatched: MatchedAction, insertNotMatched: Boolean,
      snap: MaintenanceOps.Snapshot, deleteUnmatched: Boolean,
      insertCond: Option[org.apache.spark.sql.Column]): MergeResult = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val schema = snap.schema
    val keySchema = StructType(keyIdx.map(schema.fields(_)))
    val keyCols = keys.map(col)
    // null keys never equal anything (SQL equality): they match no target
    // row and are not duplicate-ambiguous — drop them from the probe side
    val srcKeys = srcAligned.select(keyCols: _*)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
    // duplicate-key rejection, distributed (the broadcast path's driver
    // set-dedup, re-expressed as a grouped count)
    val dupSample = srcKeys.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__straw_cnt"))
      .filter(col("__straw_cnt") > 1).limit(1).collect()
    require(dupSample.isEmpty,
      s"strawboat: merge source carries duplicate keys (e.g. " +
        s"${keys.mkString("(", ",", ")")} = " +
        s"${dupSample.headOption.map(_.toSeq.dropRight(1).mkString(",")).getOrElse("")}) " +
        "— SQL MERGE declares multiple source matches per target row " +
        "nondeterministic")

    // candidate pruning by the source keys' RANGE (one tiny agg job): a
    // clustered backfill still skips most of the table's files/pages even
    // though the key set itself is too big to enumerate. WHEN NOT MATCHED
    // BY SOURCE deletes rows anywhere — no pruning is sound then.
    val pruneFilters: Array[org.apache.spark.sql.sources.Filter] =
      if (deleteUnmatched) Array.empty
      else {
        val aggExprs = keys.flatMap(k =>
          Seq(min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k")))
        val rangeRow = srcKeys.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
        keys.zipWithIndex.flatMap { case (k, i) =>
          val lo = rangeRow.get(2 * i); val hi = rangeRow.get(2 * i + 1)
          if (lo == null || hi == null) Nil // empty probe side: no pruning info
          else Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(k, lo),
            org.apache.spark.sql.sources.LessThanOrEqual(k, hi))
        }.toArray
      }
    val mutate = whenMatched != Keep
    val (candidates, pruned) = MaintenanceOps.matchCandidates(snap, pruneFilters)

    val serConf = new org.apache.spark.util.SerializableConfiguration(StrawIO.conf)
    val keySchemaJson = keySchema.json
    val mappingB = spark.sparkContext.broadcast(snap.mapping)
    val delUn = deleteUnmatched

    // ---- target side: every candidate file streams its live key rows,
    // tagged (file index, row ordinal), through the scan reader over its
    // range-zone-map-kept slices. External-form values so the rows build a
    // regular DataFrame.
    val extSchema = StructType(
      org.apache.spark.sql.types.StructField("__straw_file",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
      org.apache.spark.sql.types.StructField("__straw_ord",
        org.apache.spark.sql.types.LongType, nullable = false) +:
      keySchema.fields)
    val targetKeyRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      if (candidates.isEmpty) spark.sparkContext.emptyRDD
      else spark.sparkContext.parallelize(candidates.zipWithIndex, candidates.size)
        .flatMap { case (cand, fi) =>
          StrawIO.install(serConf.value)
          val keySub = org.apache.spark.sql.types.DataType
            .fromJson(keySchemaJson).asInstanceOf[StructType]
          val toScala = keySub.fields.map(f =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .createToScalaConverter(f.dataType))
          val reader = new StrawPartitionReaderFactory(keySub, keySub, serConf,
            mapping = mappingB.value, appendPos = true)
            .createColumnarReader(StrawPackedPartition(cand.slices))
          val tc = org.apache.spark.TaskContext.get()
          if (tc != null) tc.addTaskCompletionListener[Unit](_ => reader.close())
          // batch-lazy iterator: one decoded page in memory at a time
          Iterator.continually(reader.next()).takeWhile(identity).flatMap { _ =>
            reader.get().rowIterator().asScala.flatMap { row =>
              var hasNull = false
              val vals = new Array[Any](keySub.length + 2)
              vals(0) = fi
              vals(1) = row.getLong(keySub.length)
              var c = 0
              while (c < keySub.length) {
                if (row.isNullAt(c)) hasNull = true
                else vals(c + 2) = toScala(c)(row.get(c, keySub.fields(c).dataType))
                c += 1
              }
              // null-keyed target rows match nothing: they are dead
              // weight for MATCHING, but under WHEN NOT MATCHED BY
              // SOURCE they are exactly the rows to delete — keep them
              if (hasNull && !delUn) Iterator.empty
              else Iterator(org.apache.spark.sql.Row.fromSeq(
                scala.collection.immutable.ArraySeq.unsafeWrapArray(vals)))
            }
          }
        }
    val targetKeysRaw = spark.createDataFrame(targetKeyRdd, extSchema)
    // the unmatched-delete shape consumes the target keys TWICE (semi and
    // anti joins) — checkpoint so candidate files read once
    val targetKeys =
      if (deleteUnmatched) targetKeysRaw.localCheckpoint(true) else targetKeysRaw

    // ---- match: shuffle semi-join (source keys are verified-unique, so
    // semi ≡ inner here), then CUT LINEAGE so the two consumers below
    // don't re-read every candidate file
    val matchedPairs = targetKeys.join(srcKeys, keys, "left_semi")
      .localCheckpoint(true)
    val matchedRows = matchedPairs.count()
    // source-unmatched target rows (anti join keeps null-keyed rows —
    // null matches nothing, so they are "not matched by source")
    val unmatchedPairs: Option[DataFrame] =
      if (!deleteUnmatched) None
      else Some(targetKeys.join(srcKeys, keys, "left_anti")
        .select(col("__straw_file"), col("__straw_ord")).localCheckpoint(true))
    val unmatchedDeleted = unmatchedPairs.map(_.count()).getOrElse(0L)

    // ---- DV phase: dying ordinals (matched when the action mutates,
    // plus source-unmatched under the delete clause) aggregate into
    // per-file bitmaps on executors (combiner-based — never a
    // materialized per-file ordinal list), which read/union/write each
    // file's DV in place
    val dvPairs: Seq[org.apache.spark.rdd.RDD[(Int, Long)]] =
      (if (mutate && matchedRows > 0)
        Seq(matchedPairs.select(col("__straw_file"), col("__straw_ord")).rdd
          .map(r => (r.getInt(0), r.getLong(1))))
      else Nil) ++
      (if (unmatchedDeleted > 0)
        unmatchedPairs.map(_.rdd.map(r => (r.getInt(0), r.getLong(1)))).toSeq
      else Nil)
    val outs: Array[MaintenanceOps.DvOut] =
      dvPairs.reduceOption(_ union _) match {
        case None => Array.empty
        case Some(pairs) => MaintenanceOps.dvFromPairs(spark, pairs,
          candidates.toIndexedSeq)
      }

    // ---- insert gating: semi/anti join against the matched keys (a
    // frame bounded by the matched target rows). Anti-join keeps
    // null-keyed source rows (null matches nothing) — same semantics as
    // the broadcast path's set filter.
    val keepMatchedSrc = whenMatched == Replace
    val toWrite: DataFrame =
      if (keepMatchedSrc && insertNotMatched && insertCond.isEmpty) srcAligned
      else {
        val matchedKeys = matchedPairs.select(keyCols: _*)
        val matchedPart =
          if (keepMatchedSrc) srcAligned.join(matchedKeys, keys, "left_semi")
          else srcAligned.limit(0)
        val unmatchedPart =
          if (!insertNotMatched) srcAligned.limit(0)
          else {
            val anti = srcAligned.join(matchedKeys, keys, "left_anti")
            insertCond.map(anti.filter).getOrElse(anti)
          }
        matchedPart.unionAll(unmatchedPart)
      }
    // distinct matched target keys == matched source rows (source keys
    // verified-unique); one bounded aggregation over the checkpointed
    // matched pairs, only when Replace actually writes them back
    val replacedSrcRows =
      if (keepMatchedSrc && matchedRows > 0)
        matchedPairs.select(keyCols: _*).distinct().count()
      else 0L
    commitMerge(spark, dir, jobId, toWrite, snap, outs, matchedRows, pruned,
      unmatchedDeleted = unmatchedDeleted,
      replacedSrcRows = replacedSrcRows)
      .copy(distributedSource = true)
  }

  /** Min/max range filters over external-form key values (all supported
    * key types are Comparable); sound page/file pruning when the exact
    * value set is too large to enumerate. */
  private def rangeFilters(k: String,
      vals: Array[Any]): Seq[org.apache.spark.sql.sources.Filter] =
    if (vals.isEmpty) Nil
    else {
      var lo = vals(0); var hi = vals(0)
      vals.foreach { v =>
        val c = v.asInstanceOf[Comparable[Any]]
        if (c.compareTo(lo) < 0) lo = v
        if (c.compareTo(hi) > 0) hi = v
      }
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(k, lo),
        org.apache.spark.sql.sources.LessThanOrEqual(k, hi))
    }

  /** Shared tail of both match paths: stage `toWrite` distributed (every
    * row it holds is NEW data — inserts and replaced versions alike), then
    * the shared DV epilogue switches DVs + removes + adds in one atomic log
    * commit (an all-matched insert-only merge commits no version). */
  private def commitMerge(spark: SparkSession, dir: String, jobId: String,
      toWrite: DataFrame, snap: MaintenanceOps.Snapshot,
      outs: Seq[MaintenanceOps.DvOut], matchedRows: Long, pruned: Int,
      unmatchedDeleted: Long = 0L, replacedSrcRows: Long = 0L): MergeResult = {
    val staged = MaintenanceOps.describeJobs(spark, "strawboat merge: stage") {
      MaintenanceOps.stageFrame(spark, dir, jobId, toWrite, snap)
    }
    val done = MaintenanceOps.commitDv(dir, jobId, "merge", outs, staged, snap)
    // fresh rows = replacement versions + true inserts; report them apart
    val writtenRows = done.fresh.map(fm =>
      FooterCache.get(fm.path, fm.mtime, fm.len).numRows).sum
    val insertedRows = writtenRows - replacedSrcRows
    assert(insertedRows >= 0,
      s"merge accounting: wrote $writtenRows rows but $replacedSrcRows replacements")
    MergeResult(
      matchedRows = matchedRows,
      insertedRows = insertedRows,
      removedFiles = done.removedFiles,
      dvFiles = done.dvFiles,
      newFiles = done.fresh.size,
      prunedFiles = pruned,
      notMatchedBySourceDeleted = unmatchedDeleted,
      replacedRows = replacedSrcRows)
  }
}
