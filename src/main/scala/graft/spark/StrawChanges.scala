package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.roaringbitmap.RoaringBitmap

/** Change data feed: the ROW-LEVEL difference each committed version made,
  * as a DataFrame of the table's columns plus `_change_type` and
  * `_commit_version` — the audit/replication/incremental-ETL surface over
  * the transaction log (Delta's CDF shape, derived rather than stored).
  *
  * Nothing extra is written at commit time: a version's changes are the
  * LIVE-SET DIFF between its snapshot and its predecessor's, computed from
  * the log alone — files only in the new snapshot contribute inserts, files
  * dropped from it contribute deletes (their rows read back with the
  * PREDECESSOR's deletion vector applied), and a deletion-vector swap on a
  * shared file contributes exactly the newly-dead (deletes) and newly-live
  * (inserts — a restore clearing a vector) ordinals. This derivation is
  * uniform across append, truncate, DELETE/UPDATE/MERGE, and restore;
  * compaction commits are skipped wholesale (bytes move, data does not).
  * An UPDATE's dead rows surface as `update_preimage` and its rewritten
  * versions as `update_postimage`; a MERGE's replaced rows surface as
  * `delete` + `insert` (the log does not record which of its appended rows
  * replaced vs inserted — documented approximation).
  *
  * Two equivalent surfaces share one planner ([[plan]]):
  * {{{
  * StrawChanges.changes(spark, dir, 2, 5)            // function API
  * spark.read.format("strawboat")                    // reader options
  *   .option("readChangeFeed", "true")
  *   .option("startingVersion", "2")
  *   .option("endingVersion", "5")                   // optional: pins latest
  *   .load(dir)
  * }}}
  * The function API delegates to the options route, so the DSv2 scan
  * ([[ChangeFeedScan]]) is the single execution path.
  *
  * Scale shape: the driver touches only log metadata (snapshots + bitmap
  * diffs); row reads fan out one task per (file, change) with the wanted
  * ordinals' bitmap shipped in the partition, page-skipped like the
  * maintenance scans. The feed is replay-deterministic — commit files are
  * write-once — which is also what makes [[plan]] cacheable per process.
  *
  * The one genuine limit is physical retention, as with time travel: rows
  * are read from the files the DIFF references. Merge-on-read mutations
  * keep everything the feed needs within the age-based vacuum window
  * (data files stay live; superseded sidecars are retained for the sweep)
  * — but an op that drops bytes EAGERLY (truncate, compaction's inputs,
  * a fully-dead delete, update or merge) makes that version's
  * preimages unreadable immediately, and the feed fails LOUDLY rather
  * than under-reporting. */
object StrawChanges {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** One per-file read task: emit the file's rows at `positions` (explicit
    * ordinal bitmap) labeled `changeType`/`version`. `null` bitmap bytes =
    * every row; a `!`-prefixed changeType means all EXCEPT positions.
    * Bitmaps ship portable-serialized inside the input partition. */
  private[spark] final case class ChangeTask(path: String, mtime: Long, len: Long,
      positionBytes: Array[Byte], changeType: String, version: Long)

  /** A resolved feed: its read tasks and the DATA schema (merged over every
    * referenced file — not the latest snapshot's, which may lack columns
    * that only deleted files carried). */
  private[spark] final case class ChangePlan(tasks: Seq[ChangeTask],
      dataSchema: StructType,
      mapping: ColumnMappingState = ColumnMappingState.Empty) {
    def outSchema: StructType = StructType(dataSchema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, LongType, nullable = false)))
  }

  private def toBytes(b: RoaringBitmap): Array[Byte] = {
    b.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(b.serializedSizeInBytes())
    b.serialize(buf)
    buf.array()
  }
  private[spark] def fromBytes(a: Array[Byte]): RoaringBitmap = {
    val b = new RoaringBitmap()
    b.deserialize(java.nio.ByteBuffer.wrap(a))
    b
  }

  /** Driver-side sidecar read with the feed's retention story attached —
    * a superseded sidecar lives until the age-based vacuum, so a miss
    * means the feed reached past the retention window. */
  private def readDv(dir: String, v: Long, dv: DeletionVector.DvInfo): RoaringBitmap =
    try DeletionVector.read(dv.path, dv.len)
    catch {
      case e: java.io.FileNotFoundException => throw new IllegalStateException(
        s"strawboat: change feed of $dir version $v needs sidecar ${dv.path} " +
          "but it was vacuumed — derive feeds within the retention window", e)
    }

  // ---------------------------------------------------------------------
  // Reader-option surface
  // ---------------------------------------------------------------------

  // (qualified dir, startingVersion) -> ending resolved for an OMITTED
  // endingVersion; first resolution wins so schema inference and scan
  // building pin the SAME feed even when a commit races between them
  // (the TimeTravel timestamp pattern). Sound within one log incarnation;
  // StrawLog.invalidate clears the table's pins.
  private val pinnedEnding =
    new java.util.LinkedHashMap[(String, Long), Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Long]): Boolean = size() > 1024
    }

  /** Parses the change-feed reader options: `None` unless
    * `readChangeFeed=true`; else the pinned inclusive version range. */
  private[spark] def resolveRange(dir: String,
      options: CaseInsensitiveStringMap): Option[(Long, Long)] = {
    if (!Option(options.get("readChangeFeed")).exists(_.toBoolean)) return None
    require(options.get("versionAsOf") == null && options.get("timestampAsOf") == null,
      "strawboat: readChangeFeed cannot combine with versionAsOf/timestampAsOf " +
        "(a feed is a version RANGE; pin it with startingVersion/endingVersion)")
    val from = Option(options.get("startingVersion")).map(_.toLong).getOrElse(
      throw new IllegalArgumentException(
        "strawboat: readChangeFeed requires startingVersion"))
    val to = Option(options.get("endingVersion")).map(_.toLong).getOrElse {
      val key = (qualify(dir), from)
      pinnedEnding.synchronized(Option(pinnedEnding.get(key))).getOrElse {
        val latest = StrawLog.latestVersion(dir).getOrElse(
          throw new IllegalStateException(
            s"strawboat: no transaction log under $dir — no change feed"))
        pinnedEnding.synchronized {
          Option(pinnedEnding.get(key)).getOrElse {
            pinnedEnding.put(key, latest); latest
          }
        }
      }
    }
    Some((from, to))
  }

  private def qualify(dir: String): String =
    StrawIO.fs(dir).makeQualified(new org.apache.hadoop.fs.Path(dir)).toString

  /** Drop one table's cached plans and ending pins
    * (called by [[StrawLog.invalidate]]). */
  private[spark] def invalidate(dir: String): Unit = {
    val q = qualify(dir)
    pinnedEnding.synchronized {
      val it = pinnedEnding.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == q) it.remove()
    }
    plans.synchronized {
      val it = plans.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == q) it.remove()
    }
  }

  private[spark] def clearCache(): Unit = {
    pinnedEnding.synchronized(pinnedEnding.clear())
    plans.synchronized(plans.clear())
  }

  // ---------------------------------------------------------------------
  // Planning
  // ---------------------------------------------------------------------

  // (qualified dir, from, to) -> plan. Commit files and DV sidecars are
  // write-once, so a resolved range's plan is immutable; caching spares
  // the snapshot diffs + sidecar reads across inferSchema / getTable /
  // scan building of ONE read (and across repeated reads).
  private val plans =
    new java.util.LinkedHashMap[(String, Long, Long), ChangePlan](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), ChangePlan]): Boolean =
        size() > 64
    }

  /** Row-level changes committed in `[fromVersion, toVersion]` (both
    * inclusive) as read tasks + schema. Cached per process ([[plans]]). */
  private[spark] def plan(dir: String, fromVersion: Long,
      toVersion: Long): ChangePlan = {
    val key = (qualify(dir), fromVersion, toVersion)
    plans.synchronized(Option(plans.get(key))).foreach(return _)

    val latest = StrawLog.latestVersion(dir).getOrElse(
      throw new IllegalStateException(
        s"strawboat: no transaction log under $dir — no change feed"))
    require(fromVersion >= 1 && fromVersion <= toVersion,
      s"strawboat: bad change range [$fromVersion, $toVersion]")
    require(toVersion <= latest,
      s"strawboat: change range end $toVersion is beyond the latest " +
        s"committed version $latest of $dir")

    def snapAt(v: Long): Seq[StrawLog.Entry] =
      if (v < 1) Seq.empty
      else StrawLog.snapshotAt(dir, v).getOrElse(throw new IllegalStateException(
        s"strawboat: version $v of $dir is not resolvable (vacuumed log?) — " +
          "cannot derive its change feed")).entries

    // emit-all sentinel distinct from an empty positions bitmap
    val All: Array[Byte] = null

    val tasks = Seq.newBuilder[ChangeTask]
    var prev = snapAt(fromVersion - 1).map(e => e.meta.path -> e).toMap
    (fromVersion to toVersion).foreach { v =>
      val op = StrawLog.commitDelta(dir, v).map(_.op).getOrElse(
        throw new IllegalStateException(
          s"strawboat: commit $v of $dir is no longer retained (vacuumLog) — " +
            "cannot derive its change feed"))
      val cur = snapAt(v).map(e => e.meta.path -> e).toMap
      if (!op.startsWith("compact")) {
        val isUpdate = op.startsWith("update")
        val insLabel = if (isUpdate) "update_postimage" else "insert"
        val delLabel = if (isUpdate) "update_preimage" else "delete"
        // files entering the snapshot: their live rows insert
        cur.foreach { case (p, e) =>
          prev.get(p) match {
            case None =>
              val dead = Option(e.dv).map(d => readDv(dir, v, d))
              tasks += (dead match {
                case None => ChangeTask(e.meta.path, e.meta.mtime, e.meta.len,
                  All, insLabel, v)
                case Some(d) => ChangeTask(e.meta.path, e.meta.mtime, e.meta.len,
                  toBytes(d), s"!$insLabel", v) // "!": all EXCEPT positions
              })
            case Some(pe) if Option(pe.dv).map(_.path) != Option(e.dv).map(_.path) =>
              // shared file, vector swapped: newly-dead rows delete,
              // newly-live rows (restore clearing a vector) insert
              val before = Option(pe.dv).map(d => readDv(dir, v, d))
                .getOrElse(new RoaringBitmap())
              val after = Option(e.dv).map(d => readDv(dir, v, d))
                .getOrElse(new RoaringBitmap())
              val newlyDead = RoaringBitmap.andNot(after, before)
              val newlyLive = RoaringBitmap.andNot(before, after)
              if (!newlyDead.isEmpty)
                tasks += ChangeTask(e.meta.path, e.meta.mtime, e.meta.len,
                  toBytes(newlyDead), delLabel, v)
              if (!newlyLive.isEmpty)
                tasks += ChangeTask(e.meta.path, e.meta.mtime, e.meta.len,
                  toBytes(newlyLive), insLabel, v)
            case _ => // unchanged entry
          }
        }
        // files leaving the snapshot: their remaining live rows delete
        prev.foreach { case (p, pe) =>
          if (!cur.contains(p)) {
            val dead = Option(pe.dv).map(d => readDv(dir, v, d))
            tasks += (dead match {
              case None => ChangeTask(pe.meta.path, pe.meta.mtime, pe.meta.len,
                All, delLabel, v)
              case Some(d) => ChangeTask(pe.meta.path, pe.meta.mtime, pe.meta.len,
                toBytes(d), s"!$delLabel", v)
            })
          }
        }
      }
      prev = cur
    }
    val all = tasks.result()

    // feed data schema: merged over every referenced file, the same
    // name-resolution rules as the scan (absent → null, widen)
    // rename/drop history: the feed's data schema speaks the CURRENT
    // logical namespace even for files written under old spellings
    val mapping = StrawLog.mappingAt(dir)
    val schemas = StrawIO.mapParallel(all.map(t => (t.path, t.mtime, t.len))
      .distinct)(f =>
      (f._1, mapping.toLogical(FooterCache.get(f._1, f._2, f._3).schema)))
    val dataSchema =
      if (schemas.isEmpty) StructType(Nil) else StrawSchemaResolver.merge(schemas)
    val p = ChangePlan(all, dataSchema, mapping)
    plans.synchronized(plans.put(key, p))
    p
  }

  /** Row-level changes committed in versions `[fromVersion, toVersion]`
    * (both inclusive), ordered by nothing — apply your own ORDER BY.
    * Delegates to the reader-option surface: one execution path. */
  def changes(spark: SparkSession, dir: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    spark.read.format("strawboat")
      .option("readChangeFeed", "true")
      .option("startingVersion", fromVersion.toString)
      .option("endingVersion", toVersion.toString)
      .load(dir)
}
