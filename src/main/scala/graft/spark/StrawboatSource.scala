package graft.spark

import java.nio.file.attribute.PosixFilePermission
import java.util.{OptionalLong, UUID}
import scala.collection.JavaConverters._
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.SQLConf.PartitionOverwriteMode
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.format._

/** DataSource V2 connector for the `.strb` paged columnar format — the
  * Spark-native equivalent of the reference's read/write surface
  * (reference: src/read/reader.rs, src/write/writer.rs), registered under
  * short name `strawboat`.
  *
  * Scale design: footers are read once on the driver at planning time, which
  * lets us (a) prune pages with zone maps before any task is scheduled,
  * (b) split large files into page-aligned input partitions, and (c) report
  * statistics so Catalyst can choose broadcast joins.
  */
class StrawboatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "strawboat"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "strawboat: 'path' option required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = pathOf(options)
    // change-feed reads have their own schema (referenced files + labels)
    StrawChanges.resolveRange(dir, options).foreach { case (from, to) =>
      return StrawChanges.plan(dir, from, to).outSchema
    }
    val asOf = TimeTravel.resolveAsOf(dir, options)
    val files = StrawIO.listFilesMeta(dir, asOf)
    require(files.nonEmpty, s"strawboat: no ${StrawFormat.Extension} files under $dir")
    // fast path (parquet-style `mergeSchema=false`): trust one footer as the
    // table schema — one cached footer read instead of N for schema-uniform
    // tables, the right default knob at 100k-file scale. The full merge
    // below stays the default because it is what makes schema-evolved
    // appends read correctly (new columns surface, absent ones null-fill).
    val mergeSchema = Option(options.get("mergeSchema")).forall(_.toBoolean)
    // log entries carry each file's schema (parsed once per DISTINCT
    // schema) — inference is zero footer IO on a table with a log.
    // With versionAsOf the PINNED snapshot's schemas apply: the table reads
    // exactly as it did at that version, dropping later-added columns.
    val snapshot = asOf match {
      case Some(v) => StrawLog.snapshotAt(dir, v)
      case None => StrawLog.snapshot(dir)
    }
    val logSchemas: Option[Seq[(String, StructType)]] =
      snapshot.map(_.entries).filter(es =>
        es.nonEmpty && es.forall(_.schemaParsed != null))
        .map(_.map(e => (e.meta.path, e.schemaParsed)))
    // file schemas are PHYSICAL; rename/drop history maps them to the live
    // logical namespace (dropped spellings vanish from the table schema)
    val mapping = StrawLog.mappingAt(dir, asOf)
    if (!mergeSchema) {
      logSchemas.foreach(ms => return mapping.toLogical(ms.head._2))
      val one = files.head
      return mapping.toLogical(FooterCache.get(one.path, one.mtime, one.len).schema)
    }
    // merge across ALL files so schema-evolved appends surface new columns
    // (the read path null-fills them per file) and WIDEN across lossless
    // type evolution (int→long, float→double: the merged column takes the
    // wider type, readers convert per file); incompatible types fail here
    // with both definitions named. Schemas come from the log when it
    // has them, else from the version-keyed footer cache: repeated planning
    // over an unchanged table costs zero footer IO either way.
    val schemas = logSchemas.getOrElse(
      StrawIO.mapParallel(files)(f =>
        (f.path, FooterCache.get(f.path, f.mtime, f.len).schema)))
    StrawSchemaResolver.merge(
      schemas.map { case (p, s) => (p, mapping.toLogical(s)) })
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val dir = properties.get("path")
    val opts = new CaseInsensitiveStringMap(properties)
    StrawChanges.resolveRange(dir, opts)
      .foreach { case (from, to) => return new ChangeFeedTable(dir, from, to,
        bounded = opts.get("endingVersion") != null) }
    new StrawboatTable(dir, schema,
      Option(opts.get("partitionBy")).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }
}

/** Time-travel option parsing shared by schema inference and scan
  * building: `versionAsOf` pins a log version directly; `timestampAsOf`
  * (epoch millis, ISO-8601 instant, or `yyyy-mm-dd hh:mm:ss[.f]` in the
  * SESSION timezone) resolves to the newest version committed at or before
  * that moment. A timestamp is rejected when it lies beyond the latest
  * commit (the resolution would otherwise silently move as new commits
  * land), and each (table, timestamp) resolves ONCE per process — schema
  * inference and scan building must pin the SAME version even when a
  * commit races between them. */
private[spark] object TimeTravel {
  // (qualified dir, epoch ms) -> resolved version; first resolution wins.
  // Stability is only sound WITHIN one log incarnation: StrawLog.invalidate
  // (table recreation / external-writer escape hatch) clears the table's
  // entries so a pinned version number can never carry over to a different
  // log's colliding history.
  private val resolved =
    new java.util.LinkedHashMap[(String, Long), Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long), Long]): Boolean = size() > 1024
    }

  /** Drop resolutions for one table (called by [[StrawLog.invalidate]]). */
  private[spark] def invalidate(dir: String): Unit = {
    val q = StrawIO.fs(dir).makeQualified(new Path(dir)).toString
    resolved.synchronized {
      val it = resolved.keySet().iterator()
      while (it.hasNext) if (it.next()._1 == q) it.remove()
    }
  }

  private[spark] def clearAll(): Unit = resolved.synchronized(resolved.clear())

  def resolveAsOf(dir: String, options: CaseInsensitiveStringMap): Option[Long] = {
    val byVersion = Option(options.get("versionAsOf")).map(_.toLong)
    val byTs = Option(options.get("timestampAsOf"))
    require(byVersion.isEmpty || byTs.isEmpty,
      "strawboat: versionAsOf and timestampAsOf cannot both be set")
    byVersion.orElse(byTs.map { s =>
      val ts = parseTs(s)
      val key = (StrawIO.fs(dir).makeQualified(new Path(dir)).toString, ts)
      resolved.synchronized(Option(resolved.get(key))).getOrElse {
        // reject a timestamp BEYOND the newest commit: a commit landing
        // later would have mtime > latest's, so any accepted timestamp's
        // resolution is stable; an unstable one (ts >= "now") is refused
        // with the concrete alternatives
        val (latestV, latestMtime) = StrawLog.latestCommitInfo(dir).getOrElse(
          throw new IllegalArgumentException(
            s"strawboat: timestampAsOf requires a transaction log ($dir has none)"))
        require(ts <= latestMtime,
          s"strawboat: timestampAsOf '$s' is after the latest commit of $dir " +
            s"(${java.time.Instant.ofEpochMilli(latestMtime)}) — a later commit " +
            s"could change what it resolves to; use that timestamp or " +
            s"versionAsOf $latestV")
        val v = StrawLog.versionAtTimestamp(dir, ts).getOrElse(
          throw new IllegalArgumentException(
            s"strawboat: no committed version at or before timestampAsOf '$s' " +
              s"for $dir (earliest retained commit is newer)"))
        resolved.synchronized(resolved.put(key, v)): Unit
        v
      }
    })
  }

  private def parseTs(s: String): Long =
    try s.toLong
    catch {
      case _: NumberFormatException =>
        try java.time.Instant.parse(s).toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            // SQL timestamp form: interpret in the SESSION timezone, not the
            // JVM default — .option("timestampAsOf", "2026-01-01 00:00:00")
            // must mean the same instant the session's SQL functions would
            java.sql.Timestamp.valueOf(s).toLocalDateTime
              .atZone(java.time.ZoneId.of(
                org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
              .toInstant.toEpochMilli
        }
    }
}

/** [[RawLocalFileSystem]] that sets permission bits with `java.nio`.
  * Without libhadoop the stock class forks `chmod` from `setPermission`,
  * which its output stream calls for every file it creates (twice per
  * file under a [[LocalFileSystem]]: data and `.crc`) — milliseconds per
  * file against a fraction of one in-process. The bits are the same; a
  * non-POSIX file system, or a mode beyond `rwxrwxrwx` (sticky), takes
  * the stock route. */
private[spark] final class InProcessPermsRawFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is owner rwx, group rwx, others rwx:
      // the i-th value is mode bit 8 - i
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** The [[LocalFileSystem]] [[StrawIO.fs]] serves for local paths:
  * checksummed as ever, over [[InProcessPermsRawFs]]. `rename` stays with
  * the file system Hadoop resolved: which of the two wrapped classes that
  * is depends on the classpath (Spark's bundled Hive registers a
  * `ProxyLocalFileSystem` for `file:` whose rename refuses to replace an
  * existing file). */
private[spark] final class InProcessPermsLocalFs(val resolved: LocalFileSystem)
    extends LocalFileSystem(new InProcessPermsRawFs) {
  override def rename(src: Path, dst: Path): Boolean = resolved.rename(src, dst)
}

/** IO helpers over Hadoop FileSystem (works for local paths and any
  * configured distributed FS on the executor classpath). */
object StrawIO {
  /** Hadoop conf. On the driver this is the ACTIVE session's conf (derived
    * once per session instance and re-derived when a different session
    * becomes active — so a session created later, with different
    * spark.hadoop.* overrides, is picked up). On executors there is no
    * active session: the driver's conf is INSTALLED by the deserialized
    * reader/writer factories (SerializableConfiguration fields), so
    * object-store credentials survive the ship; the classpath default is
    * only the last resort. Cached because Configuration parsing is
    * XML-heavy and this is called per file open. */
  // one volatile holding an immutable (owner, conf) pair: concurrent
  // sessions on separate driver threads can interleave, but a reader always
  // observes a CONSISTENT pairing (never session A's tag with B's conf)
  @volatile private var state: (AnyRef, Configuration) = _
  def conf: Configuration = {
    val session = org.apache.spark.sql.SparkSession.getActiveSession.orNull
    val s = state
    if (session != null) {
      if (s != null && (s._1 eq session)) s._2
      else {
        val c = session.sessionState.newHadoopConf()
        state = (session, c)
        c
      }
    } else if (s != null) s._2
    else {
      val c = new Configuration()
      state = (null, c)
      c
    }
  }
  def install(c: Configuration): Unit = state = (null, c)

  /** The Hadoop FileSystem of `path`. Where Hadoop resolves Hadoop's
    * stock [[LocalFileSystem]] or Hive's `ProxyLocalFileSystem` (which
    * only changes `rename`), this returns an [[InProcessPermsLocalFs]]
    * over it: the same checksummed files (`.crc` sidecars written,
    * verified on read) with the same permission bits, set in-process
    * rather than by a forked `chmod` per created file. Any other class —
    * a `LocalFileSystem` subclass set through `fs.file.impl` included —
    * is returned unchanged, so its overrides keep running. Cached per
    * [[conf]] instance, as `conf` itself is; qualified paths (`file:/…`)
    * are unchanged. */
  def fs(path: String): FileSystem = {
    val c = conf
    new Path(path).getFileSystem(c) match {
      case resolved: LocalFileSystem if wrapped(resolved.getClass.getName) =>
        val l = local
        if (l != null && (l._1 eq c) && (l._2.resolved eq resolved)) l._2
        else {
          val lf = new InProcessPermsLocalFs(resolved)
          lf.setConf(c)
          lf.initialize(java.net.URI.create("file:///"), c)
          local = (c, lf)
          lf
        }
      case other => other
    }
  }
  @volatile private var local: (Configuration, InProcessPermsLocalFs) = _
  private val wrapped = Set("org.apache.hadoop.fs.LocalFileSystem",
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** Depth-first walk via listStatus — NOT FileSystem.listFiles, whose
    * LocatedFileStatus eagerly loads permissions on the local FS (a shell
    * exec per file: slow, and interruptible mid-stream at query stop).
    * Every top-level walk moves [[listings]]: the counter the zero-walk
    * specs watch covers maintenance sweeps too, not just planning — a
    * per-commit O(table) walk sneaking back into a hot path fails a spec
    * instead of resurfacing as a drill regression. */
  def walkFiles(f: FileSystem, p: Path)(visit: org.apache.hadoop.fs.FileStatus => Unit): Unit = {
    listings.incrementAndGet()
    walk0(f, p)(visit)
  }

  private def walk0(f: FileSystem, p: Path)(visit: org.apache.hadoop.fs.FileStatus => Unit): Unit =
    f.listStatus(p).foreach { st =>
      if (st.isDirectory) walk0(f, st.getPath)(visit) else visit(st)
    }

  /** Path + the version key ([[FooterCache]]) of one data file, captured
    * from the directory listing itself — no per-file status RPC. */
  final case class FileMeta(path: String, mtime: Long, len: Long)

  /** Count of actual recursive directory walks performed — the observable
    * for "a repeat query performs zero directory listings" (log) and
    * "a hot-path commit performs zero table walks". */
  val listings = new java.util.concurrent.atomic.AtomicLong()

  /** All data files under `dir` by RECURSIVE WALK (no log), sorted. */
  def walkFilesMeta(dir: String): Seq[FileMeta] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else {
      val out = ArrayBuffer.empty[FileMeta]
      walkFiles(f, p) { st =>
        if (st.getPath.getName.endsWith(StrawFormat.Extension))
          out += FileMeta(st.getPath.toString, st.getModificationTime, st.getLen)
      }
      out.sortBy(_.path).toSeq
    }
  }

  /** Entries of the PINNED log version for time travel (`versionAsOf`).
    * LOUD on an unavailable version: silently serving the latest snapshot
    * instead would answer a different question. */
  private def entriesAt(dir: String, version: Long): Seq[StrawLog.Entry] =
    StrawLog.snapshotAt(dir, version).getOrElse(throw new IllegalArgumentException(
      s"strawboat: versionAsOf $version is not available for $dir — the table " +
        "has no transaction log, the version was never committed, or its log " +
        s"files were vacuumed (latest: ${StrawLog.latestVersion(dir).getOrElse("none")})")
    ).entries

  /** All data files under `dir` (or `dir` itself if a file), recursive so
    * hive-style partition subdirectories are seen, path-sorted, with the
    * (mtime, length) version key from the same listing. Served from the
    * table's [[StrawLog]] snapshot when it has a log (one cached small read
    * instead of a directory walk); falls back to walking. `asOf` pins a
    * historical log version (time travel). */
  def listFilesMeta(dir: String, asOf: Option[Long] = None): Seq[FileMeta] = {
    asOf.foreach(v => return entriesAt(dir, v).map(_.meta))
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else {
      val st0 = f.getFileStatus(p)
      if (st0.isFile) Seq(FileMeta(dir, st0.getModificationTime, st0.getLen))
      else StrawLog.snapshot(dir).map(_.entries.map(_.meta)).getOrElse(walkFilesMeta(dir))
    }
  }

  def listFiles(dir: String): Seq[String] = listFilesMeta(dir).map(_.path)

  /** One planned-over data file: its identity, the log-carried
    * synthetic stats footer when the snapshot has one (file-level pruning
    * input), and its deletion vector (null when fully live — only a log
    * snapshot can carry one). */
  final case class Listed(meta: FileMeta, synth: Option[graft.format.StrawFooter],
      dv: DeletionVector.DvInfo)

  /** [[listFilesMeta]] plus each file's log-carried synthetic stats
    * footer ([[ManifestStats]]) when the snapshot has them — the input to
    * FILE-level pruning (drop a file before its real footer is ever read) —
    * and its deletion vector. Files without stats are never pruned. */
  def listFilesMetaWithStats(dir: String, asOf: Option[Long] = None): Seq[Listed] = {
    asOf.foreach(v =>
      return entriesAt(dir, v).map(e => Listed(e.meta, e.synthetic, e.dv)))
    val p = new Path(dir)
    val f = fs(dir)
    if (!f.exists(p)) Seq.empty
    else {
      val st0 = f.getFileStatus(p)
      if (st0.isFile)
        Seq(Listed(FileMeta(dir, st0.getModificationTime, st0.getLen), None, null))
      else StrawLog.snapshot(dir) match {
        case Some(snap) => snap.entries.map(e => Listed(e.meta, e.synthetic, e.dv))
        case None => walkFilesMeta(dir).map(Listed(_, None, null))
      }
    }
  }

  def withInput[T](path: String)(body: RandomInput => T): T = {
    val in = open(path)
    try body(in) finally in.close()
  }

  /** Parallel map with a bounded IO pool (footer reads dominate metadata
    * operations at large file counts). Worker failures are rethrown as
    * their cause, not wrapped in ExecutionException — the deliberate error
    * messages (corrupt footer, schema conflict) must reach the user. */
  def mapParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, items.size))
    try {
      items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(a)
      })).map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException if e.getCause != null =>
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }

  /** A RandomInput that also carries the file's version key, so the task
    * read path can consult [[FooterCache]] without a second status RPC. */
  final class StatusInput(f: FileSystem, p: Path) extends RandomInput {
    private val status = f.getFileStatus(p)
    private val stream = f.open(p)
    def mtime: Long = status.getModificationTime
    def length: Long = status.getLen
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit =
      stream.readFully(pos, buf, off, len)
    def close(): Unit = stream.close()
  }

  def open(path: String): StatusInput = new StatusInput(fs(path), new Path(path))
}

class StrawboatTable(path: String, val schemaArg: StructType,
    partitionByOpt: Seq[String] = Seq.empty,
    asOfOpt: Option[Long] = None,
    propertiesArg: Map[String, String] = Map.empty)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsMetadataColumns {
  override def name(): String =
    s"strawboat:$path" + asOfOpt.map(v => s"@v$v").getOrElse("")
  override def schema(): StructType = schemaArg
  override def properties(): java.util.Map[String, String] = propertiesArg.asJava

  /** `SELECT _file FROM t` — the producing data file per row (Iceberg's
    * metadata-column shape), the handle maintenance workflows key on. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(StrawboatTable.FileColumn, StrawboatTable.PosColumn)

  /** The log-recorded CHECK constraints, surfaced as V2 constraints so
    * DESCRIBE and the analyzer see what every write path enforces. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    StrawConstraints.list(path).toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  private[spark] def tablePath: String = path
  private[spark] def pinnedVersion: Option[Long] = asOfOpt

  // ---- SQL DELETE FROM (SupportsDelete) ---------------------------------
  // Spark translates the WHERE clause to the v1 filter algebra and calls
  // deleteWhere; canDeleteWhere gates on RowFilterEval compiling the
  // conjunction EXACTLY (the same obligation the row-level Scala API
  // carries) so an unsupported condition fails the statement up front
  // instead of over-deleting. An empty/always-true condition is a full
  // truncate: one log commit removes every file and leaves the schema
  // marker, no per-row work.
  private def isAlwaysTrue(f: Filter): Boolean = f.isInstanceOf[AlwaysTrue]

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOfOpt.isEmpty && {
      val real = filters.filterNot(isAlwaysTrue)
      real.isEmpty || RowFilterEval.build(schemaArg, real).isDefined
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOfOpt.isEmpty,
      s"strawboat: $path is pinned to version ${asOfOpt.get} (time travel) — " +
        "historical snapshots are read-only")
    val spark = org.apache.spark.sql.SparkSession.active
    val real = filters.filterNot(isAlwaysTrue)
    if (real.isEmpty) {
      // DELETE without WHERE — truncate through the existing overwrite
      // machinery (removes-all + schema marker + one log commit)
      val writer = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaArg)
        .write.format("strawboat").mode("overwrite")
      (if (partitionByOpt.nonEmpty)
        writer.option("partitionBy", partitionByOpt.mkString(","))
      else writer).save(path)
    } else StrawDelete.delete(spark, path, real.toSeq): Unit
  }

  /** The hive layout as identity transforms — what makes Spark plan
    * `OverwritePartitionsDynamic` under `partitionOverwriteMode=dynamic`
    * (the planner requires a PARTITIONED table). From the write's
    * `partitionBy` option when given, else derived from the existing
    * directory layout (one file's `col=value` ancestors). */
  override def partitioning(): Array[Transform] = {
    val cols =
      if (partitionByOpt.nonEmpty) partitionByOpt
      else StrawIO.listFiles(path).filterNot(StrawBucket.isMarker).headOption
        .map(f => PartitionLayout.partitionsOf(f).map(_._1)).getOrElse(Seq.empty)
    // a declared bucket spec is part of the table's partitioning contract
    // (what DESCRIBE shows and what CTAS round-trips)
    val bucketT = StrawBucket.specFromProps(propertiesArg)
      .map { case (c, n) =>
        Expressions.bucket(n, StrawBucket.colsOf(c): _*): Transform }
    (cols.map(c => Expressions.identity(c): Transform) ++ bucketT).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // MERGE WITH SCHEMA EVOLUTION: the analyzer computes the missing
      // columns / lossless widenings from the source and applies them via
      // the catalog's ALTER machinery (metadata-only schema markers), then
      // re-resolves the merge over the evolved table — catalog tables only
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StrawScanBuilder(path, schemaArg,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("keyGrouped")).exists(_.toBoolean),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      // a catalog-pinned table (VERSION/TIMESTAMP AS OF) carries its version
      // in asOfOpt; per-read options may still override on path tables
      TimeTravel.resolveAsOf(path, options).orElse(asOfOpt),
      // bucket spec: read options override, then catalog table properties,
      // then the sidecar a bucketed path write recorded at commit
      bucketSpec = Option(options.get("bucketBy")).map(_.trim).filter(_.nonEmpty)
        .flatMap(c => Option(options.get("buckets")).map(n => (c, n.trim.toInt)))
        .orElse(StrawBucket.specFromProps(propertiesArg))
        .orElse(StrawBucket.specOf(path)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfOpt.isEmpty,
      s"strawboat: $path is pinned to version ${asOfOpt.get} (time travel) — " +
        "historical snapshots are read-only; write through the current table")
    // per-table write configuration: TBLPROPERTIES with a `write.` prefix
    // ('write.compression'='zstd', 'write.sortBy'='ts', 'write.bloomColumns'
    // ='digest', …) apply to every write into the table; per-statement
    // .option(...)s override them
    val inherited = propertiesArg.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("write.") =>
        k.substring("write.".length) -> v
    }
    val options: CaseInsensitiveStringMap =
      if (inherited.isEmpty) info.options()
      else new CaseInsensitiveStringMap(
        (inherited ++ info.options().asScala).asJava)
    // comma list = multi-level layout, outer→inner: partitionBy "date,hour"
    // writes date=D/hour=H/part-*.strb — the canonical time-series shape.
    // Without the option, a catalog/partitioned table's own layout applies,
    // so plain INSERT INTO maintains the hive directories.
    val explicitCols = Option(options.get("partitionBy")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val partitionCols = if (explicitCols.nonEmpty) explicitCols else partitionByOpt
    require(partitionCols.distinct.size == partitionCols.size,
      s"strawboat: partitionBy lists a column twice: ${partitionCols.mkString(",")}")
    partitionCols.foreach { c =>
      val fld = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"strawboat: partitionBy column '$c' not in schema ${info.schema().fieldNames.mkString(",")}"))
      // hive-style partitioning only makes sense for low-cardinality scalar
      // values with a faithful string form; anything else (binary, nested,
      // timestamps-as-internal-longs) would mint one directory per row or
      // unreadable names
      require(StrawKeyedPartition.parseable(fld.dataType),
        s"strawboat: partitionBy column '$c' has unsupported type ${fld.dataType} " +
          "(supported: string, int, long, short, byte, boolean)")
    }
    // clustered-write surface: `sortBy` (comma list) adds a task-local sort
    // so pages land with tight, mostly disjoint zone maps (and sorted runs
    // the delta-bitpacking codec exploits); `distribute` overrides the
    // clustering columns ("none" opts out — e.g. tests that deliberately
    // fabricate many small files per partition)
    def cols(opt: String): Seq[String] =
      Option(options.get(opt)).toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val sortBy = cols("sortBy")
    val parsedOpts = StrawWriteOptions.parse(options)
    // hash-bucket layout: the key must be a real, bucketable column and
    // must not double as a hive partition column (a directory per value
    // already co-locates it — bucketing it again would just tag files)
    parsedOpts.bucketBy.toSeq.flatMap(StrawBucket.colsOf).foreach { c =>
      val fld = info.schema().fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"strawboat: bucketBy column '$c' not in schema ${info.schema().fieldNames.mkString(",")}"))
      require(StrawBucket.bucketable(fld.dataType),
        s"strawboat: bucketBy column '$c' has unbucketable type ${fld.dataType} " +
          "(supported: byte, short, int, long, string, boolean, date, timestamp)")
      require(!partitionCols.exists(_.equalsIgnoreCase(c)),
        s"strawboat: '$c' cannot be both a partition and a bucket column")
    }
    val distribute = Option(options.get("distribute")).map(_.trim) match {
      case Some(v) if v.equalsIgnoreCase("none") => Seq.empty
      case Some(_) => cols("distribute")
      // clustering the bucket column(s) bounds each task's open-bucket
      // fan-out (equal keys land together; a task sees only its buckets)
      case None => partitionCols ++ parsedOpts.bucketBy.toSeq.flatMap(StrawBucket.colsOf)
    }
    (sortBy ++ distribute).foreach { c =>
      require(info.schema().fieldNames.contains(c),
        s"strawboat: sortBy/distribute column '$c' not in schema " +
          info.schema().fieldNames.mkString(","))
    }
    new StrawWriteBuilder(path, info.schema(), parsedOpts,
      partitionCols, info.queryId(),
      Option(options.get("mergeSchema")).exists(_.toBoolean),
      sortBy, distribute)
  }
}

object StrawboatTable {
  val FileColumnName = "_file"
  /** `_file: STRING NOT NULL` — appended LAST in the scan's read schema
    * when requested (Spark matches scan output by name). */
  object FileColumn extends MetadataColumn {
    override def name(): String = FileColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "data file the row was read from"
  }

  val PosColumnName = "_pos"
  /** `_pos: BIGINT NOT NULL` — the row's FILE-ABSOLUTE ordinal (the
    * deletion-vector ordinal space: dead and skipped rows still count).
    * `(_file, _pos)` uniquely addresses a physical row — what the
    * scan-based DML fallback targets deletion vectors with. */
  object PosColumn extends MetadataColumn {
    override def name(): String = PosColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row ordinal within its data file"
  }
}

/** Writer options exposed on the DataFrame API, parquet-style:
  * {{{
  * df.write.format("strawboat")
  *   .option("compression", "zstd")   // none|lz4|zstd|snappy (base codec)
  *   .option("zstdLevel", "6")
  *   .option("maxPageSize", "16384")  // rows per page
  *   .option("targetFileBytes", "268435456")
  *   .option("adaptive", "false")     // disable the per-page codec chooser
  *   .option("sortBy", "l_shipdate")  // task-local sort → tight zone maps
  *   .option("distribute", "none")    // opt out of write-side clustering
  * }}}
  */
object StrawWriteOptions {
  def parse(options: CaseInsensitiveStringMap): WriteOptions = {
    var o = WriteOptions()
    Option(options.get("compression")).foreach { c =>
      o = o.copy(base = c.toLowerCase match {
        case "none" | "uncompressed" | "plain" => Codec.Plain
        case "lz4" => Codec.Lz4
        case "zstd" => Codec.Zstd
        case "snappy" => Codec.Snappy
        case other => throw new IllegalArgumentException(
          s"strawboat: unknown compression '$other' (none|lz4|zstd|snappy)")
      })
    }
    Option(options.get("zstdLevel")).foreach(v => o = o.copy(zstdLevel = v.toInt))
    Option(options.get("maxPageSize")).foreach { v =>
      val n = v.toInt
      require(n > 0, s"strawboat: maxPageSize must be positive, got $n")
      o = o.copy(maxPageSize = n)
    }
    Option(options.get("targetFileBytes")).foreach { v =>
      val n = v.toLong
      require(n > 0, s"strawboat: targetFileBytes must be positive, got $n")
      o = o.copy(targetFileBytes = n)
    }
    Option(options.get("adaptive")).foreach(v => o = o.copy(adaptive = v.toBoolean))
    // per-page equality filters: comma-separated leaf paths (dotted for
    // struct fields), e.g. .option("bloomColumns", "url,meta.digest")
    Option(options.get("bloomColumns")).foreach { v =>
      o = o.copy(bloomColumns = v.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    }
    Option(options.get("bloomFpp")).foreach { v =>
      val f = v.toDouble
      require(f > 0 && f < 1, s"strawboat: bloomFpp must be in (0, 1), got $f")
      o = o.copy(bloomFpp = f)
    }
    // hash-bucket layout: bucketBy=<col>[,<col2>…] buckets=<n> (see
    // StrawBucket). The spelling canonicalizes to bare-comma joins in the
    // declared order — tags hash the whole spelling, so "a, b" and "a,b"
    // must collapse to one form.
    Option(options.get("bucketBy")).map(_.trim).filter(_.nonEmpty).foreach { c =>
      val n = Option(options.get("buckets")).map(_.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          "strawboat: bucketBy requires buckets=<n>"))
      require(n >= 1 && n <= 65536,
        s"strawboat: buckets must be in [1, 65536], got $n")
      val cols = StrawBucket.colsOf(c)
      require(cols.nonEmpty && cols.distinct.size == cols.size,
        s"strawboat: bucketBy lists a column twice or is empty: '$c'")
      o = o.copy(bucketBy = Some(cols.mkString(",")), buckets = n)
    }
    o
  }

  /** Inverse of [[parse]], for [[StrawBulkLoad]]'s row-path fallback: a
    * programmatically built WriteOptions round-trips through the DataFrame
    * option surface without loss, so the fallback writes the SAME layout
    * (codec, paging, blooms, buckets) the columnar path would have.
    * Fields with no option key ([[WriteOptions.forced]],
    * [[WriteOptions.ratio]], [[WriteOptions.patasRing]] — test-only knobs)
    * must be at their defaults. */
  def unparse(o: WriteOptions): Map[String, String] = {
    val d = WriteOptions()
    require(o.forced == d.forced && o.ratio == d.ratio && o.patasRing == d.patasRing,
      "strawboat: forced/ratio/patasRing have no writer-option spelling")
    val m = Map.newBuilder[String, String]
    if (o.base != d.base) m += "compression" -> (o.base match {
      case Codec.Plain => "none"
      case Codec.Lz4 => "lz4"
      case Codec.Zstd => "zstd"
      case Codec.Snappy => "snappy"
      case other => throw new IllegalArgumentException(
        s"strawboat: unknown base codec id $other")
    })
    if (o.zstdLevel != d.zstdLevel) m += "zstdLevel" -> o.zstdLevel.toString
    if (o.maxPageSize != d.maxPageSize) m += "maxPageSize" -> o.maxPageSize.toString
    if (o.targetFileBytes != d.targetFileBytes)
      m += "targetFileBytes" -> o.targetFileBytes.toString
    if (o.adaptive != d.adaptive) m += "adaptive" -> o.adaptive.toString
    if (o.bloomColumns.nonEmpty)
      m += "bloomColumns" -> o.bloomColumns.mkString(",")
    if (o.bloomFpp != d.bloomFpp) m += "bloomFpp" -> o.bloomFpp.toString
    o.bucketBy.foreach { c =>
      m += "bucketBy" -> c
      m += "buckets" -> o.buckets.toString
    }
    m.result()
  }
}

// ---------------------------------------------------------------------------
// Read path
// ---------------------------------------------------------------------------

class StrawScanBuilder(path: String, fullSchema: StructType,
    maxFilesPerTrigger: Option[Int] = None, keyGrouped: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None, asOf: Option[Long] = None,
    bucketSpec: Option[(String, Int)] = None)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var wantsFileColumn: Boolean = false
  private var wantsPosColumn: Boolean = false
  private var pushedFiltersArr: Array[Filter] = Array.empty
  private var exactFilters: Array[Filter] = Array.empty
  private var limit: Long = Long.MaxValue
  private var topN: Option[TopNPushdown.Spec] = None
  private var aggResult: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None

  // PARTIAL Top-N: each partition emits only its k best candidates (and
  // prunes pages that provably can't beat them); Spark applies the global
  // sort+limit above. With filters fully consumed (exactFilters), the
  // reader evaluates them BEFORE candidate selection, so the buffer sees
  // precisely the filter-passing rows — the condition under which filtered
  // ORDER BY/LIMIT keeps page-bound pruning.
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (aggResult.isDefined || keyGrouped) return false
    TopNPushdown.translate(orders, fullSchema, n) match {
      case Some(spec) => topN = Some(spec); true
      case None => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  // COUNT/MIN/MAX answered from footers alone — exact, no data pages read
  // (only when no filter survives and stats are provably exact; see
  // AggPushdown). supportCompletePushDown => Spark uses the row as final.
  override def supportCompletePushDown(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryCompute(aggregation)

  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    tryCompute(aggregation)

  private def tryCompute(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggResult.isDefined) return true
    // footer aggregates are unfiltered by construction: any pushed filter —
    // zone-map or fully-consumed — makes them wrong, so bail. (With
    // exactFilters consumed there is no residual Filter node, so Spark DOES
    // attempt aggregate pushdown over the filtered scan.)
    if (pushedFiltersArr.nonEmpty || exactFilters.nonEmpty) return false
    AggPushdown.translate(fullSchema, aggregation) match {
      case Some((grp, specs)) =>
        AggPushdown.compute(path, fullSchema, grp, specs, asOf) match {
          case Some(rows) =>
            aggResult = Some((AggPushdown.outputSchema(fullSchema, grp, specs), rows))
            true
          case None => false
        }
      case None => false
    }
  }

  override def pruneColumns(required: StructType): Unit = {
    // the _file METADATA column (not a data column) is produced by the
    // readers, not read from files — strip it here, append it to the read
    // schema at the end (Spark matches scan output by name)
    val (metaF, dataF) = required.fields.partition(f =>
      (f.name == StrawboatTable.FileColumnName ||
        f.name == StrawboatTable.PosColumnName) &&
        !fullSchema.fieldNames.contains(f.name))
    wantsFileColumn = metaF.exists(_.name == StrawboatTable.FileColumnName)
    wantsPosColumn = metaF.exists(_.name == StrawboatTable.PosColumnName)
    val requiredData = StructType(dataF)
    // accept Catalyst's NESTED pruning too: a required field may arrive as
    // a struct-subset of its table definition (meta: struct<lang> of a
    // 4-field struct) — the per-leaf layout reads exactly those leaves, so
    // keeping the pruned type is what makes `meta.lang`-only queries decode
    // one leaf instead of the whole struct. Anything that is not a clean
    // prune-subset widens back to the full definition (always correct:
    // Spark's projection extracts above the scan).
    requiredSchema = StructType(requiredData.fields.map { f =>
      fullSchema.fields.find(_.name == f.name) match {
        case Some(full) if full.dataType == f.dataType => full
        case Some(full) if LeafLayout.pruneCompatible(full.dataType, f.dataType) =>
          full.copy(dataType = f.dataType)
        case Some(full) => full
        case None => f
      }
    })
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Two pushdown layers:
    //  - zone maps (page-granular skipping) use every supported filter;
    //  - filters the reader can evaluate EXACTLY under SQL semantics
    //    ([[RowFilterEval]]) may be fully CONSUMED — not returned for
    //    Spark to re-evaluate. Consuming them removes the post-scan Filter
    //    node, which is what lets Catalyst push Top-N and LIMIT below a
    //    filter (its pushdown rules require an empty post-scan filter), and
    //    lets the reader prune/late-materialize around them. The reader
    //    then carries the correctness obligation: it applies the consumed
    //    filters row-level to every produced row.
    //
    // Consume-vs-residual is a selectivity decision (either choice is
    // correct): a pass-most filter is best left to Spark's codegen'd
    // Filter over the vectorized scan — consuming it would shift nearly
    // every row through the connector's own evaluation for no pruning
    // payoff — while a selective filter pays for itself through skipped
    // materialization and Top-N/limit composition. Estimated from the
    // (cached) footers' zone maps; on any estimation failure the filters
    // stay residual (the long-standing default).
    pushedFiltersArr = filters.filter(ZoneMapFilter.supported(fullSchema, _))
    val (evaluable, residual) =
      filters.partition(f => RowFilterEval.build(fullSchema, Array(f)).isDefined)
    val maxPass =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.strawboat.exactFilterMaxPass", "0.35").toDouble
      catch { case _: Exception => 0.35 }
    val consume = evaluable.nonEmpty && maxPass > 0 && {
      val frac =
        try {
          // partition-prune BEFORE sampling: directory-excluded files
          // contribute nothing and must not cost footer IO here either
          val metas = PartitionLayout.pruneBy(
            StrawIO.listFilesMetaWithStats(path, asOf), fullSchema, filters)(_.meta.path)
            .take(64)
          // filters the pruning fully applied pass every surviving row —
          // estimating them again would double-count their selectivity
          val toEstimate = evaluable.filterNot(
            f => StrawScan.partitionApplied(f, metas.map(_.meta.path)))
          // log-carried file stats stand in for real footers (their
          // one-page shape estimates coarser, which only biases the
          // consume-vs-residual heuristic, never correctness)
          val mapping = StrawLog.mappingAt(path, asOf)
          val footers = StrawIO.mapParallel(metas) {
            case StrawIO.Listed(_, Some(synth), _) => mapping.toLogicalFooter(synth)
            case StrawIO.Listed(m, None, _) =>
              mapping.toLogicalFooter(FooterCache.get(m.path, m.mtime, m.len))
          }
          ZoneMapFilter.estimatePassFraction(fullSchema, footers, toEstimate)
        } catch { case _: Exception => 1.0 }
      frac <= maxPass
    }
    if (consume) { exactFilters = evaluable; residual }
    else { exactFilters = Array.empty; filters }
  }
  override def pushedFilters(): Array[Filter] = pushedFiltersArr ++
    exactFilters.filterNot(pushedFiltersArr.contains)

  // partial limit: the reader emits at most `l` (filter-passing) rows per
  // partition; Spark still applies the global limit above
  override def pushLimit(l: Int): Boolean = { limit = l; false }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) =>
      new StrawAggScan(s"strawboat $path footer-only aggregate", schema, rows)
    case None =>
      new StrawScan(path, fullSchema, requiredSchema, pushedFiltersArr, limit,
        maxFilesPerTrigger, keyGrouped, topN, exactFilters, maxBytesPerTrigger,
        asOf, appendFile = wantsFileColumn, appendPos = wantsPosColumn,
        bucketSpec = bucketSpec)
  }
}

/** Task-level scan observability: decoded vs pruned pages surface in the
  * Spark SQL UI per scan node, making skipping behavior (zone maps, Top-N
  * bounds) visible without debug logging. */
object StrawScanMetrics {
  final class PagesRead extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "pagesRead"
    override def description(): String = "strawboat pages decoded"
  }
  final class PagesPruned extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "pagesPruned"
    override def description(): String = "strawboat pages pruned at read time"
  }
  case class Value(metricName: String, v: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
}

/** One unit of work: a page-aligned slice [pageStart, pageEnd) of one file.
  * `dvPath`/`dvLen` reference the file's deletion-vector sidecar when the
  * snapshot carries one (null = fully live): every reader of the slice
  * subtracts the dead ordinals. */
case class StrawInputPartition(
    path: String,
    pageStart: Int,
    pageEnd: Int,
    limit: Long,
    dvPath: String = null,
    dvLen: Long = 0L) extends InputPartition

object StrawInputPartition {
  /** The reader slices of one file: one per contiguous run of the pages
    * `keep` retains, each carrying the file's deletion vector `dv` (null =
    * fully live). A zero-column file holding rows has no pages — its
    * footer-only rows read through one `(path, 0, 0)` slice. */
  def keptRuns(path: String, footer: graft.format.StrawFooter,
      keep: Int => Boolean, dv: DeletionVector.DvInfo): Seq[StrawInputPartition] = {
    val (dvPath, dvLen) = if (dv == null) (null, 0L) else (dv.path, dv.len)
    if (footer.columns.isEmpty)
      return if (footer.numRows > 0)
        Seq(StrawInputPartition(path, 0, 0, Long.MaxValue, dvPath, dvLen))
      else Nil
    val nPages = footer.columns(0).pages.length
    val runs = Seq.newBuilder[StrawInputPartition]
    var p = 0
    while (p < nPages) {
      if (!keep(p)) p += 1
      else {
        var end = p
        while (end < nPages && keep(end)) end += 1
        runs += StrawInputPartition(path, p, end, Long.MaxValue, dvPath, dvLen)
        p = end
      }
    }
    runs.result()
  }
}

/** Several small page slices bin-packed into one unit of work. A table of
  * many small files (streaming epochs, partitioned appends, 1000-executor
  * outputs) must not plan one task per file — per-task overhead would
  * dominate the scan; readers chain the slices sequentially. */
case class StrawPackedPartition(slices: Seq[StrawInputPartition])
  extends InputPartition

/** All files of ONE hive-partition value as a single input partition, keyed
  * so Spark's storage-partitioned execution (KeyGroupedPartitioning) can
  * skip the shuffle for joins/aggregations on the partition column. */
case class StrawKeyedPartition(files: Seq[String], rawValue: Option[String],
    dtJson: String) extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](StrawKeyedPartition.parse(rawValue,
        org.apache.spark.sql.types.DataType.fromJson(dtJson))))
}

/** All files of ONE hash bucket as a single input partition. The key is the
  * bucket ordinal, matching the scan's reported `bucket(n, col)` transform —
  * what lets Spark align bucket i of two tables in a storage-partitioned
  * join. `files` carries each file's deletion-vector sidecar so the layout
  * survives merge-on-read deletes. */
case class StrawBucketPartition(bucket: Int, files: Seq[(String, String, Long)])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

object StrawKeyedPartition {
  import org.apache.spark.sql.types._
  def parse(raw: Option[String], dt: DataType): Any = raw match {
    case None => null
    case Some(s) => dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case BooleanType => s.toBoolean
      case other =>
        throw new IllegalArgumentException(s"keyGrouped: unsupported partition type $other")
    }
  }
  def parseable(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType | BooleanType => true
    case _ => false
  }
}

class StrawScan(
    path: String,
    fullSchema: StructType,
    requiredSchema: StructType,
    initialFilters: Array[Filter],
    limit: Long,
    maxFilesPerTrigger: Option[Int] = None,
    keyGrouped: Boolean = false,
    topN: Option[TopNPushdown.Spec] = None,
    exactFilters: Array[Filter] = Array.empty,
    maxBytesPerTrigger: Option[Long] = None,
    asOf: Option[Long] = None,
    appendFile: Boolean = false,
    appendPos: Boolean = false,
    bucketSpec: Option[(String, Int)] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsRuntimeFiltering {

  // static pushed filters + any runtime (DPP-style) filters Spark injects
  // after the build side of a join executes; runtime filters arrive before
  // planInputPartitions, so they prune partitions/directories/pages exactly
  // like static ones
  @volatile private var filters: Array[Filter] = initialFilters

  // rename/drop history: footers carry PHYSICAL spellings, planning and
  // filters speak the logical namespace — pinned at the scan's version for
  // time travel. Empty (identity) on tables without rename/drop DDL.
  private lazy val mapping: ColumnMappingState = StrawLog.mappingAt(path, asOf)

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // must reference the scan's OUTPUT columns (Spark resolves these against
    // the pruned read schema, not the table schema)
    requiredSchema.fieldNames
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(runtimeFilters: Array[Filter]): Unit = {
    // key/bucket-grouped scans already reported a fixed partition count —
    // dropping groups now would contradict the reported KeyGroupedPartitioning
    if (keyedLayout.isDefined || bucketLayout.isDefined) return
    // with a pushed Top-N, runtime filters must not narrow the scan: the
    // TopK buffers would see rows the (un-evaluated) runtime filter later
    // drops, which could evict true candidates. Runtime filters are an
    // optional pruning layer — skipping them is always correct. (In
    // practice the engine never pushes Top-N below a join, so this is
    // defense in depth.)
    if (topN.isDefined) return
    // keep only shapes our pruning layers understand: zone-map-encodable
    // filters and partition-prunable In/EqualTo/null tests (everything is
    // re-evaluated by Spark above the scan, so dropping the rest is safe)
    val usable = runtimeFilters.filter(f =>
      ZoneMapFilter.supported(fullSchema, f) || isPartitionPrunable(f))
    if (usable.nonEmpty) {
      filters = filters ++ usable
      footersCache = null // re-plan with the narrowed file/page set
    }
  }

  private def isPartitionPrunable(f: Filter): Boolean = f match {
    case _: EqualTo | _: In | _: IsNull | _: IsNotNull => true
    case And(l, r) => isPartitionPrunable(l) || isPartitionPrunable(r)
    case Or(l, r) => isPartitionPrunable(l) && isPartitionPrunable(r)
    case _ => false
  }

  override def readSchema(): StructType = {
    var fields = requiredSchema.fields
    if (appendPos)
      fields :+= org.apache.spark.sql.types.StructField(
        StrawboatTable.PosColumnName, org.apache.spark.sql.types.LongType,
        nullable = false)
    if (appendFile)
      fields :+= org.apache.spark.sql.types.StructField(
        StrawboatTable.FileColumnName, org.apache.spark.sql.types.StringType,
        nullable = false)
    if (fields eq requiredSchema.fields) requiredSchema else StructType(fields)
  }
  override def toBatch: Batch = this

  /** Value equality over the full scan state — what Spark's exchange/
    * subquery REUSE machinery compares (via BatchScanExec's canonicalized
    * equality, which delegates to the Scan). Without it, two independently
    * planned scans of the same table are never equal, so a self-join's two
    * branches (span dedup's gram exchange, MinHash's bucket relation,
    * n-gram decontamination) each materialize their own exchange and the
    * whole subtree below it runs TWICE. Spark's own FileScan implements
    * the same contract. The key holds only state fixed at construction —
    * the pushed `initialFilters`, never the runtime filters [[filter]]
    * appends — so a scan's hash cannot change while Spark holds it in a
    * reuse map. BatchScanExec compares its runtime filter expressions
    * itself, so two scans that would diverge after DPP injection are
    * still never merged. */
  private def stateKey: Product =
    (path, fullSchema, requiredSchema, initialFilters.toSeq, limit,
      maxFilesPerTrigger, keyGrouped, topN, exactFilters.toSeq,
      maxBytesPerTrigger, asOf, appendFile, appendPos, bucketSpec)
  override def equals(other: Any): Boolean = other match {
    case o: StrawScan => stateKey == o.stateKey
    case _ => false
  }
  override def hashCode(): Int = stateKey.hashCode()

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a stream tails the LIVE table; pinning it to a historical version
    // contradicts itself — reject loudly rather than silently ignore
    require(asOf.isEmpty, "strawboat: time travel (versionAsOf/timestampAsOf) " +
      "is not supported for streaming reads")
    require(!appendFile && !appendPos,
      "strawboat: the _file/_pos metadata columns are not available on " +
        "streaming reads")
    new StrawMicroBatchStream(path, fullSchema, requiredSchema, maxFilesPerTrigger,
      exactFilters, maxBytesPerTrigger, skipFilters = filters)
  }
  override def description(): String =
    s"strawboat $path skipFilters=[${filters.mkString(", ")}] " +
      s"exactFilters=[${exactFilters.mkString(", ")}] limit=" +
      (if (limit == Long.MaxValue) "none" else limit.toString) +
      topN.map(s => s" topN=${s.limit}@" +
        s.cols.map(c => c.name + (if (c.desc) "-" else "+")).mkString(",")).getOrElse("")

  /** Footers of the surviving files, resolved once per filter state and
    * shared between partition planning and statistics. Hive-style partition
    * directories are pruned FIRST — an excluded directory costs zero footer
    * reads, the point of the layout at scale. Footers come from the
    * version-keyed [[FooterCache]] (parallel IO on misses), so repeated
    * scans of an unchanged table pay one directory listing and zero footer
    * reads. Invalidated when a runtime filter narrows the file set. */
  /** One planned-over file. The REAL footer loads lazily — a full scan of
    * small files whose snapshot carries stats plans from the log
    * alone (zero footer IO at any file count); page-level needs (filter
    * zone maps, top-n, limits, big-file splitting, CBO ndv sweeps) force
    * the load, pre-warmed in parallel by [[warmFooters]]. */
  private final class PlannedFile(val path: String, val mtime: Long,
      val len: Long, val dv: DeletionVector.DvInfo,
      val synth: Option[graft.format.StrawFooter]) {
    @volatile private var real: graft.format.StrawFooter = _
    def loaded: Boolean = real != null
    def footer: graft.format.StrawFooter = {
      var f = real
      if (f == null) { // benign race: footers are immutable, last load wins
        f = mapping.toLogicalFooter(FooterCache.get(path, mtime, len))
        real = f
      }
      f
    }
    /** Best stats source without forcing real IO when synth stats exist. */
    def statsFooter: graft.format.StrawFooter = synth.getOrElse(footer)
  }

  /** Force-load real footers in parallel (bounded IO pool) for the files
    * that still need one — lazy loads from a sequential loop would
    * serialize the very IO [[StrawIO.mapParallel]] exists to overlap. */
  private def warmFooters(fs: Seq[PlannedFile]): Unit = {
    val need = fs.filter(!_.loaded)
    if (need.size > 1) StrawIO.mapParallel(need)(_.footer): Unit
  }

  @volatile private var footersCache: Seq[PlannedFile] = _
  private def footers: Seq[PlannedFile] = {
    var c = footersCache
    if (c == null) {
      // three pruning tiers before any real footer IO: hive directory
      // pruning, then FILE-level stats from the log (a synthetic
      // one-page footer per file runs the ordinary zone-map satisfiability
      // — a file whose stats exclude every filter costs nothing at all).
      // DV'd files keep their full stats: zone maps over dead rows only
      // over-approximate, never exclude a live match.
      val listed0 = PartitionLayout.pruneBy(
        StrawIO.listFilesMetaWithStats(path, asOf), fullSchema, filters)(_.meta.path)
      // bucket pruning: an equality filter on the bucket column keeps only
      // the files of the matching bucket(s) — 1/n of the table excluded by
      // file NAME alone, before any footer IO. Untagged files (markers,
      // foreign data) always survive; zone maps still apply below.
      val listed = bucketKeep match {
        case Some((c, n, keep)) =>
          val want = StrawBucket.colHash(c) // once, not per file
          listed0.filter(lf =>
            StrawBucket.parseTag(lf.meta.path) match {
              // only a tag certifying THIS (column, count) may exclude a
              // file — a foreign or pre-hash tag means divergence, keep it
              case Some(t) if t.n == n && t.colHash.contains(want) =>
                keep.contains(t.bucket)
              case _ => true
            })
        case None => listed0
      }
      val kept = listed.filter { lf =>
        lf.synth.forall(sf =>
          ZoneMapFilter.keptPages(mapping.toLogicalFooter(sf), filters)(0))
      }
      c = kept.map(lf => new PlannedFile(lf.meta.path, lf.meta.mtime,
        lf.meta.len, lf.dv, lf.synth.map(mapping.toLogicalFooter)))
      footersCache = c
    }
    c
  }

  /** Value-grouped layout, used only when `.option("keyGrouped", "true")`
    * is set AND every (pruned) file is hive-partitioned on the same
    * supported-type column that survives into the output schema. Explicit
    * opt-in: one input partition per value trades split parallelism for
    * shuffle elimination — the right trade for joins/aggregations on the
    * partition column, the wrong one for plain scans. */
  private lazy val keyedLayout: Option[(String, org.apache.spark.sql.types.DataType,
      Seq[(Option[String], Seq[String])])] =
    if (!keyGrouped) None
    else {
      val listed = StrawIO.listFilesMetaWithStats(path, asOf)
      val files =
        // keyed partitions chain whole files through single-file readers
        // with no DV threading — a table carrying deletion vectors declines
        // the opt-in layout (ordinary planning applies them) rather than
        // resurrect deleted rows
        if (listed.exists(_.dv != null)) Seq.empty
        else PartitionLayout.prune(listed.map(_.meta.path), fullSchema, filters)
      val parts = files.map(f => PartitionLayout.partitionOf(f).map((f, _)))
      if (files.isEmpty || parts.exists(_.isEmpty)) None
      else {
        val flat = parts.flatten
        flat.map(_._2._1).distinct match {
          case Seq(col) =>
            requiredSchema.fields.find(_.name == col) match {
              case Some(fld) if StrawKeyedPartition.parseable(fld.dataType) =>
                val groups = flat.groupBy(_._2._2).toSeq
                  .sortBy(_._1.getOrElse(""))
                  .map { case (v, fs) => (v, fs.map(_._1).sorted) }
                Some((col, fld.dataType, groups))
              case _ => None
            }
          case _ => None
        }
      }
    }

  /** Bucket set equality filters on the bucket key narrow the scan to;
    * recomputed per filter state (runtime filters narrow it further). For a
    * single-column key, EqualTo/In filters prune directly; a multi-column
    * key prunes only when EVERY key column has one equality value (the
    * chained hash needs the whole key). */
  private def bucketKeep: Option[(String, Int, Set[Int])] = bucketSpec.flatMap {
    case (spec, n) =>
      val cols = StrawBucket.colsOf(spec)
      if (cols.size == 1) {
        val col = cols.head
        fullSchema.fields.find(_.name.equalsIgnoreCase(col)).flatMap { fld =>
          var sets = List.empty[Set[Int]]
          filters.foreach {
            case EqualTo(c, v) if c.equalsIgnoreCase(col) =>
              StrawBucket.bucketOfExternal(v, fld.dataType, n)
                .foreach(b => sets ::= Set(b))
            case EqualNullSafe(c, v) if c.equalsIgnoreCase(col) && v != null =>
              StrawBucket.bucketOfExternal(v, fld.dataType, n)
                .foreach(b => sets ::= Set(b))
            case In(c, vs) if c.equalsIgnoreCase(col) && vs != null =>
              // nulls never satisfy IN; a value the hash can't see keeps all
              val bs = vs.filter(_ != null)
                .map(v => StrawBucket.bucketOfExternal(v, fld.dataType, n))
              if (bs.forall(_.isDefined)) sets ::= bs.flatten.toSet
            case _ =>
          }
          if (sets.isEmpty) None else Some((spec, n, sets.reduce(_ intersect _)))
        }
      } else {
        val flds = cols.map(c => fullSchema.fields.find(_.name.equalsIgnoreCase(c)))
        if (flds.exists(_.isEmpty)) None
        else {
          val dts = flds.map(_.get.dataType)
          val values: Seq[Option[Any]] = cols.zip(dts).map { case (col, dt) =>
            filters.collectFirst {
              case EqualTo(c, v) if c.equalsIgnoreCase(col) && v != null =>
                StrawBucket.internalOf(v, dt)
              case EqualNullSafe(c, v) if c.equalsIgnoreCase(col) && v != null =>
                StrawBucket.internalOf(v, dt)
            }.flatten
          }
          if (values.exists(_.isEmpty)) None
          else Some((spec, n, Set(StrawBucket.bucketOfMulti(
            values.map(_.get).toArray, dts.toArray, n))))
        }
      }
  }

  /** Bucket-grouped layout: one input partition per bucket ordinal, keyed so
    * Spark's storage-partitioned execution joins/aggregates two same-bucketed
    * tables with no shuffle. Engages only under
    * `spark.sql.sources.v2.bucketing.enabled` (the same session opt-in the
    * rest of the V2 ecosystem uses) and only when every live data file
    * carries this spec's bucket tag — a table with foreign/compacted files
    * silently falls back to ordinary split planning, never to wrong
    * co-location. All `n` groups are emitted (empty ones read nothing) so
    * both join sides align positionally without partition-value pushdown.
    * Deletion vectors ride along per file. */
  private lazy val bucketLayout: Option[(String, Int, Array[Seq[(String, String, Long)]])] =
    bucketSpec.flatMap { case (col, n) =>
      val enabled =
        try org.apache.spark.sql.internal.SQLConf.get
          .getConfString("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
        catch { case _: Exception => false }
      if (!enabled || topN.isDefined || limit != Long.MaxValue) None
      else if (!StrawBucket.colsOf(col).forall(c =>
        requiredSchema.fields.find(_.name.equalsIgnoreCase(c))
          .exists(f => StrawBucket.bucketable(f.dataType)))) None
      // a multi-column key only trades split parallelism for one-task-per-
      // bucket grouping when this Spark's SPJ can actually consume the
      // multi-reference transform (probed; Spark 4.1.2 cannot — see
      // StrawBucket.spjSupportsMultiRef). Equality pruning via bucketKeep
      // is independent and stays on either way.
      else if (StrawBucket.colsOf(col).size > 1 && !StrawBucket.spjSupportsMultiRef)
        None
      else {
        {
          val groups = Array.fill(n)(List.newBuilder[(String, String, Long)])
          val want = StrawBucket.colHash(col) // once, not per file
          val ok = footers.forall { pf =>
            StrawBucket.parseTag(pf.path) match {
              case Some(t) if t.n == n && t.colHash.contains(want) && t.bucket < n =>
                groups(t.bucket) += ((pf.path,
                  if (pf.dv == null) null else pf.dv.path,
                  if (pf.dv == null) 0L else pf.dv.len))
                true
              // markers don't break the layout (synth stats carry the row
              // count; an untagged stats-less file loads its footer once)
              case _ => pf.statsFooter.numRows == 0
            }
          }
          if (ok) Some((col, n, groups.map(_.result(): Seq[(String, String, Long)])))
          else None
        }
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedLayout match {
      case Some((col, _, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity(col)),
          groups.size)
      case None => bucketLayout match {
        case Some((col, n, _)) =>
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
              n, StrawBucket.colsOf(col): _*)),
            n)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      }
    }

  /** Driver-side plan: read each file's footer, drop zone-map-excluded
    * pages, slice surviving page runs into ~32 MiB partitions. In
    * key-grouped mode, one partition per hive-partition value instead
    * (page-level zone skipping is then left to Spark's row-level filter
    * re-evaluation). */
  override def planInputPartitions(): Array[InputPartition] = {
    keyedLayout match {
      case Some((_, dt, groups)) =>
        return groups.map { case (v, fs) =>
          StrawKeyedPartition(fs, v, dt.json): InputPartition
        }.toArray
      case None =>
    }
    bucketLayout match {
      case Some((_, n, groups)) =>
        return (0 until n).map(b =>
          StrawBucketPartition(b, groups(b)): InputPartition).toArray
      case None =>
    }
    // split sizing mirrors the file-source heuristic: cap at 32 MiB, but
    // shrink toward totalBytes/defaultParallelism, floored at Spark's own
    // spark.sql.files.openCostInBytes (default 4 MiB) so a table smaller
    // than cores×cap still fans out — a 9 MB probe side must not scan
    // single-threaded under a 32-way join. The floor is the user's knob
    // for compression-dense tables: this format packs 3-7× tighter than
    // parquet, so 4 MiB of file is far MORE decode work per task than the
    // same conf gives a parquet scan; lowering openCostInBytes splits down
    // to page granularity (measured: q6 on sf0.1 lineitem, one 9.3 MB
    // file, 3 tasks → 10 single-page tasks, 0.30 s → 0.18 s at local[32],
    // parquet-parity).
    val targetBytes = {
      val totalBytes = footers.foldLeft(0L)((a, f) => a + f.len)
      val par = math.max(1,
        org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
      val openCost =
        try org.apache.spark.sql.internal.SQLConf.get.filesOpenCostInBytes
        catch { case _: Exception => 4L << 20 }
      math.min(32L << 20, math.max(math.max(1L, openCost), totalBytes / par))
    }
    // a pushed limit counts FILTER-PASSING rows; with exact filters consumed
    // the planner's page row counts are pre-filter, so planning must not
    // truncate on them (the readers stop after `limit` passing rows instead)
    val planLimit = if (exactFilters.nonEmpty) Long.MaxValue else limit
    // zero-footer-IO fast path: an unfiltered, unlimited scan needs no
    // page-level data for a file the snapshot carries stats for, as long
    // as the whole file fits one task — plan it as a whole-file slice and
    // let the task reader parse the footer where the data IO happens
    // anyway. At 100k+ files this is the difference between planning from
    // the log alone and re-reading every footer on the driver.
    val fastEligible =
      filters.isEmpty && topN.isEmpty && planLimit == Long.MaxValue
    def fastPath(pf: PlannedFile): Boolean = fastEligible &&
      pf.len <= targetBytes &&
      pf.synth.exists(s => s.schema.fields.nonEmpty && s.numRows > 0)
    warmFooters(footers.filterNot(fastPath))
    val slices = ArrayBuffer.empty[(StrawInputPartition, Long)]
    var rowsPlanned = 0L
    for (pf <- footers if rowsPlanned < planLimit) {
      val dvPath = if (pf.dv == null) null else pf.dv.path
      val dvLen = if (pf.dv == null) 0L else pf.dv.len
      if (fastPath(pf)) {
        slices += ((StrawInputPartition(pf.path, 0, Int.MaxValue, limit,
          dvPath, dvLen), pf.len))
      } else if (pf.footer.columns.nonEmpty) {
        val footer = pf.footer
        val keep = ZoneMapFilter.keptPages(footer, filters)
        val pages = footer.columns(0).pages
        val pageBytes: Int => Long =
          p => footer.columns.foldLeft(0L)((a, c) => a + c.pages(p).compLen)
        // limit-truncation budget must count LIVE rows: charge the file's
        // dead count against its earliest pages (as if the deletes were all
        // up front) — an under-count only plans MORE pages, never fewer
        var deadLeft = if (pf.dv == null) 0L else pf.dv.cardinality
        var p = 0
        while (p < pages.length && rowsPlanned < planLimit) {
          if (!keep(p)) p += 1
          else {
            // measure the full contiguous kept run, then ceil-divide it so
            // slices come out near-EQUAL — a 9 MB run under a 4 MiB target
            // must yield three ~3 MB slices, not two lopsided ones (the
            // FilePartition.maxSplitBytes division; greedy-to-target loses
            // a split and with it a core on every mid-size file)
            var runEnd = p
            var runBytes = 0L
            while (runEnd < pages.length && keep(runEnd)) {
              runBytes += pageBytes(runEnd)
              runEnd += 1
            }
            val nSlices = math.max(1L, (runBytes + targetBytes - 1) / targetBytes)
            val eq = math.max(1L, runBytes / nSlices)
            while (p < runEnd && rowsPlanned < planLimit) {
              var end = p
              var bytes = 0L
              while (end < runEnd && bytes < eq && rowsPlanned < planLimit) {
                bytes += pageBytes(end)
                val n = pages(end).numValues.toLong
                val dead = math.min(deadLeft, n)
                deadLeft -= dead
                rowsPlanned += n - dead
                end += 1
              }
              slices += ((StrawInputPartition(pf.path, p, end, limit, dvPath, dvLen),
                bytes))
              p = end
            }
          }
        }
      } else if (pf.footer.numRows > 0) {
        // zero-column table: rows live only in the footer; DV still applies
        slices += ((StrawInputPartition(pf.path, 0, 0, limit, dvPath, dvLen), 0L))
      }
    }
    // bin-pack small slices into shared tasks (the file-source behavior):
    // a many-small-files table — streaming epochs, partitioned appends,
    // wide-cluster outputs — must not pay one task per file. Consecutive
    // slices group until the byte target; a slice at or above the target
    // stays alone. File order is preserved, so page-ordinal semantics
    // (_pos, DVs, top-n) are untouched — a packed task just chains the
    // same readers the separate tasks would have run.
    val parts = ArrayBuffer.empty[InputPartition]
    val group = ArrayBuffer.empty[StrawInputPartition]
    var groupBytes = 0L
    def flush(): Unit = if (group.nonEmpty) {
      parts += (if (group.size == 1) group.head else StrawPackedPartition(group.toSeq))
      group.clear()
      groupBytes = 0L
    }
    for ((slice, bytes) <- slices) {
      if (group.nonEmpty && groupBytes + bytes > targetBytes) flush()
      group += slice
      groupBytes += bytes
    }
    flush()
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StrawPartitionReaderFactory(fullSchema, requiredSchema,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf), topN,
      exactFilters, appendFile, mapping, appendPos)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new StrawScanMetrics.PagesRead, new StrawScanMetrics.PagesPruned)

  override def estimateStatistics(): Statistics = {
    // live rows: footer counts net of each file's deletion-vector dead rows
    // (synth stats carry numRows, so a stats-carrying snapshot estimates
    // with zero footer IO; stats-less files load once, in parallel)
    warmFooters(footers.filter(_.synth.isEmpty))
    val rawRows = footers.foldLeft(0L) { (a, pf) =>
      val n = pf.statsFooter.numRows
      a + (if (pf.dv == null) n else math.max(0L, n - pf.dv.cardinality))
    }
    // DECODED size, not on-disk bytes: the scan's output width (pruned
    // schema defaultSize + per-row overhead) times live rows. Join-strategy
    // decisions compare sizeInBytes against the broadcast threshold as a
    // proxy for build-side memory — a well-compressed 600k-row fact table
    // can be under 10 MB on disk and would get broadcast off its file size
    // (parquet narrowly avoids this only because it compresses worse).
    val width = math.max(8L, requiredSchema.defaultSize.toLong + 8L)
    val rawBytes = math.max(rawRows * width, 1L)
    // report FILTERED estimates: without cost-based optimization Spark
    // propagates a Filter node's size unchanged, so a selectively-filtered
    // dimension table would never qualify for a broadcast join off its raw
    // size. The scan knows its filters (consumed ones produce no Filter
    // node at all) and its zone maps — scale by the estimated pass
    // fraction. Estimates only steer join strategy; wrong is slow, not
    // incorrect, and AQE re-plans from actual sizes at runtime anyway.
    //
    // Filters DIRECTORY PRUNING already applied must not scale the totals a
    // second time: `footers` only contains surviving partitions, so e.g.
    // `region = 'eu'` over a region-partitioned table already reflects the
    // filter fully — re-applying a flat equality estimate would understate
    // the build side ~20× and could green-light broadcasting a huge table.
    val allFilters = (filters ++ exactFilters).distinct
      .filterNot(f => StrawScan.partitionApplied(f, footers.map(_.path)))
    val frac =
      if (allFilters.isEmpty) 1.0
      else {
        val f = ZoneMapFilter.estimatePassFraction(
          fullSchema, footers.map(_.statsFooter), allFilters)
        // never report zero: an empty estimate would make ANY plan legal
        math.max(f, 1e-4)
      }
    val r = math.max((rawRows * frac).toLong, if (rawRows > 0) 1L else 0L)
    val b = math.max((rawBytes * frac).toLong, 1L)
    // column statistics feed ONLY cost-based optimization: skip the
    // footer-page sweep entirely when CBO is off, and memoize per filter
    // state — the optimizer asks for stats once per rule invocation, and
    // recomputing the sweep each time taxed every short query's planning
    val colStats = {
      val cboOn =
        try org.apache.spark.sql.internal.SQLConf.get.cboEnabled
        catch { case _: Exception => false }
      if (!cboOn) java.util.Collections.emptyMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      else {
        val fs = footers
        var cached = colStatsCache
        if (cached == null || (cached._1 ne fs) || cached._2 != r) {
          // the ndv sketches live only in real footers — but the MERGED
          // per-column state is snapshot-keyed in the global
          // ColStatsCache, so the footer warm + merge sweep runs at most
          // once per (snapshot, mapping, column) ACROSS queries and scan
          // instances: repeat queries over a table bigger than the
          // FooterCache capacity no longer re-read evicted footers
          val key = ColStatsCache.tableKey(
            fs.map(pf => (pf.path, pf.mtime, pf.len)), mapping.hashCode)
          val tbl = ColStatsCache.forTable(key)
          val flat = requiredSchema.fields
            .filter(f => ColumnarSupport.isFlat(f.dataType))
          val missing =
            if (tbl == null) flat
            else flat.filterNot(f => tbl.containsKey(f.name))
          val local = new java.util.HashMap[String, ColStatsCache.Merged]()
          if (missing.nonEmpty && fs.nonEmpty) {
            warmFooters(fs)
            val reals = fs.map(_.footer)
            missing.foreach { f =>
              val m = StrawScan.mergeColumn(reals, f.name)
              if (tbl != null) tbl.put(f.name, m): Unit else local.put(f.name, m): Unit
            }
          }
          val outMap = new java.util.HashMap[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
          if (fs.nonEmpty) flat.foreach { f =>
            val m = if (tbl != null) tbl.get(f.name) else local.get(f.name)
            val cs = if (m == null) null
              else StrawScan.assembleColumnStat(f, m, r)
            if (cs != null)
              outMap.put(org.apache.spark.sql.connector.expressions
                .Expressions.column(f.name), cs)
          }
          cached = (fs, r, outMap)
          colStatsCache = cached
        }
        cached._3
      }
    }
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(b)
      override def numRows(): OptionalLong = OptionalLong.of(r)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  @volatile private var colStatsCache: (Seq[PlannedFile], Long, java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]) = _
}

object StrawScan {
  /** True iff directory pruning fully applied `f` to the surviving file
    * set: every file is hive-partitioned on the filter's single referenced
    * column, and the shape is one [[PartitionLayout]] evaluates completely
    * (equality / IN / null tests — ranges only prune conservatively). Such
    * a filter passes every remaining row and must not scale estimates. */
  def partitionApplied(f: Filter, files: Seq[String]): Boolean = {
    val attr = f match {
      case EqualTo(a, v) if v != null => a
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) => a
      case IsNull(a) => a
      case IsNotNull(a) => a
      case _ => return false
    }
    files.nonEmpty && files.forall(p =>
      PartitionLayout.partitionsOf(p).exists(_._1 == attr))
  }

  /** Per-column statistics for Catalyst's cost-based optimizer, assembled
    * from metadata alone (no data IO): distinct counts from the footers'
    * [[graft.format.NdvSketch]] registers (register-wise max merge across
    * files — exact for HLL), null counts summed from page metas, min/max
    * recovered from the zone-map planes of value-exact stats kinds.
    * Only TOP-LEVEL FLAT columns report (Catalyst attribute statistics
    * cannot attach to nested paths). A file predating the sketch extension
    * withholds the distinct count (a partial NDV would understate a join
    * key's cardinality and mis-order joins) but still contributes
    * null/min/max. Estimates only steer plans — wrong is slow, never
    * incorrect. */
  /** The accumulation half of the CBO stats sweep: one logical column's
    * stats merged across every footer of a snapshot. Pure function of
    * (footer set, column name) — which makes it cacheable per snapshot in
    * [[ColStatsCache]]; type decoding and rowCount clamps stay in
    * [[assembleColumnStat]], per query. */
  def mergeColumn(footers: Seq[graft.format.StrawFooter],
      name: String): ColStatsCache.Merged = {
    import graft.format.{NdvSketch, StrawFormat}
    ColStatsCache.merges.incrementAndGet()
    var regs: Array[Byte] = null
    var sketchOk = true // every row-carrying file must contribute
    var nulls = 0L
    var minS = Long.MaxValue
    var maxS = Long.MinValue
    var statsKind = -1 // uniform kind across pages or min/max withheld
    var kindOk = true
    // value-length stats (string/binary): every row-carrying file with
    // the column present must contribute, else withhold
    var lenSum = 0L
    var lenMax = 0
    var lenOk = true
    var lenRows = 0L // non-null values behind lenSum
    footers.foreach { f =>
      val i = f.schema.fields.indexWhere(_.name == name)
      if (i < 0) nulls += f.numRows // absent column reads all-null
      else if (f.numRows > 0) {
        val leaf = f.leafStarts(i)
        val sk = if (f.ndv == null) null else f.ndv(leaf)
        if (sk == null) sketchOk = false
        else if (regs == null) regs = sk.clone()
        else NdvSketch.mergeInto(regs, sk)
        val ls = if (f.lens == null) null else f.lens(leaf)
        if (ls == null) lenOk = false
        else {
          lenSum += ls.sum
          if (ls.max > lenMax) lenMax = ls.max
        }
        var fileNulls = 0L
        f.columns(leaf).pages.foreach { p =>
          nulls += p.nullCount
          fileNulls += p.nullCount
          if (p.statsKind == StrawFormat.StatsSigned) {
            if (statsKind == -1) statsKind = p.statsKind
            if (p.min < minS) minS = p.min
            if (p.max > maxS) maxS = p.max
          } else if (p.statsKind != StrawFormat.StatsNone) kindOk = false
        }
        lenRows += math.max(0L, f.numRows - fileNulls)
      }
    }
    ColStatsCache.Merged(regs, sketchOk, nulls, minS, maxS, statsKind,
      kindOk, lenSum, lenMax, lenOk, lenRows)
  }

  def columnStatistics(requiredSchema: StructType,
      footers: Seq[(String, graft.format.StrawFooter, Long, DeletionVector.DvInfo)],
      rowCount: Long): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (footers.isEmpty) return out
    val fs = footers.map(_._2)
    requiredSchema.fields.foreach { fld =>
      if (ColumnarSupport.isFlat(fld.dataType)) {
        val cs = assembleColumnStat(fld, mergeColumn(fs, fld.name), rowCount)
        if (cs != null)
          out.put(org.apache.spark.sql.connector.expressions.Expressions
            .column(fld.name), cs)
      }
    }
    out
  }

  /** The per-query half: decode the merged numbers into Catalyst column
    * statistics for `fld`'s logical type, clamping against the (filtered)
    * row-count estimate. Returns null when nothing is reportable. */
  def assembleColumnStat(fld: org.apache.spark.sql.types.StructField,
      m: ColStatsCache.Merged, rowCount: Long):
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
    import graft.format.{NdvSketch, StrawFormat}
    import m._
    val ndvOpt =
      if (!sketchOk || regs == null) java.util.OptionalLong.empty()
      else java.util.OptionalLong.of(
        math.max(1L, math.min(NdvSketch.estimate(regs), rowCount)))
        // StatsSigned min/max are value-exact for the integer family and
        // sortable-double-encoded for float/double; every other kind
        // (string prefixes, approx decimals) is not a real value — withhold
        val (minV, maxV): (Any, Any) =
          if (!kindOk || statsKind != StrawFormat.StatsSigned || minS > maxS)
            (null, null)
          else fld.dataType match {
            case org.apache.spark.sql.types.BooleanType => (minS != 0L, maxS != 0L)
            case org.apache.spark.sql.types.ByteType => (minS.toByte, maxS.toByte)
            case org.apache.spark.sql.types.ShortType => (minS.toShort, maxS.toShort)
            case org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.DateType => (minS.toInt, maxS.toInt)
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.TimestampNTZType => (minS, maxS)
            case org.apache.spark.sql.types.FloatType =>
              (StrawFormat.fromSortableDouble(minS).toFloat,
                StrawFormat.fromSortableDouble(maxS).toFloat)
            case org.apache.spark.sql.types.DoubleType =>
              (StrawFormat.fromSortableDouble(minS),
                StrawFormat.fromSortableDouble(maxS))
            case d: org.apache.spark.sql.types.DecimalType if d.precision <= 18 =>
              (org.apache.spark.sql.types.Decimal.createUnsafe(minS, d.precision, d.scale),
                org.apache.spark.sql.types.Decimal.createUnsafe(maxS, d.precision, d.scale))
            case _ => (null, null)
          }
        // avgLen/maxLen for variable-width columns: CBO's row-width input
        // (intermediate plan sizes → join strategy). Exact from the footer
        // length stats; withheld when any contributing file predates them.
        val isVarWidth = fld.dataType == org.apache.spark.sql.types.StringType ||
          fld.dataType == org.apache.spark.sql.types.BinaryType
        val (avgLenOpt, maxLenOpt) =
          if (!isVarWidth || !lenOk || lenRows <= 0)
            (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
          else (java.util.OptionalLong.of(math.max(1L, lenSum / lenRows)),
            java.util.OptionalLong.of(lenMax.toLong))
    if (ndvOpt.isPresent || minV != null || avgLenOpt.isPresent) {
      val nullsCapped = math.min(nulls, rowCount)
      new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
        override def distinctCount(): java.util.OptionalLong = ndvOpt
        override def min(): java.util.Optional[Object] =
          java.util.Optional.ofNullable(minV.asInstanceOf[Object])
        override def max(): java.util.Optional[Object] =
          java.util.Optional.ofNullable(maxV.asInstanceOf[Object])
        override def nullCount(): java.util.OptionalLong =
          java.util.OptionalLong.of(nullsCapped)
        override def avgLen(): java.util.OptionalLong = avgLenOpt
        override def maxLen(): java.util.OptionalLong = maxLenOpt
      }
    } else null
  }
}

class StrawPartitionReaderFactory(fullSchema: StructType, requiredSchema: StructType,
    serConf: org.apache.spark.util.SerializableConfiguration,
    topN: Option[TopNPushdown.Spec] = None,
    exactFilters: Array[Filter] = Array.empty,
    appendFile: Boolean = false,
    mapping: ColumnMappingState = ColumnMappingState.Empty,
    appendPos: Boolean = false)
  extends PartitionReaderFactory {

  // Filters fully consumed by the scan (no residual Filter node above):
  // evaluating them here is a CORRECTNESS obligation. They may reference
  // columns Catalyst pruned from requiredSchema (nothing above references
  // them anymore), so the reader reads an extended schema internally and
  // projects back down before emitting.
  private val readSchemaExt: StructType = {
    val extra = exactFilters.flatMap(_.references).distinct
      .filterNot(requiredSchema.fieldNames.contains)
      .flatMap(n => fullSchema.fields.find(_.name == n))
    StructType(requiredSchema.fields ++ extra)
  }

  private lazy val rowPred: Option[InternalRow => Boolean] =
    if (exactFilters.isEmpty) None
    else RowFilterEval.build(readSchemaExt, exactFilters) match {
      case some @ Some(_) => some
      case None => throw new IllegalStateException(
        "strawboat: consumed filters are no longer row-evaluable " +
          s"(${exactFilters.mkString(", ")} over ${readSchemaExt.catalogString})")
    }

  // pushed Top-N only engages when every sort column survived pruning into
  // the produced schema (it always does for genuine ORDER BY pushdowns)
  private lazy val topNActive: Option[TopNPushdown.Spec] =
    // under _pos the TopK buffer would reorder rows after ordinals were
    // captured; the pushdown is partial (Spark sorts above), so skipping
    // the buffer is always correct
    if (appendPos) None
    else topN.filter(_.cols.forall(c => requiredSchema.fieldNames.contains(c.name)))

  /** Chain per-file readers into one partition reader — the key-grouped,
    * bucket-grouped and bin-packed partitions. Task metrics sum over the
    * finished readers and the current one. */
  private def chainReaders[T](files: Iterator[StrawInputPartition],
      open: StrawInputPartition => PartitionReader[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private var cur: PartitionReader[T] = _
      private val finished = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      private def addMetrics(into: scala.collection.mutable.Map[String, Long],
          r: PartitionReader[T]): Unit =
        r.currentMetricsValues().foreach(m =>
          into(m.name()) = into.getOrElse(m.name(), 0L) + m.value())
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!files.hasNext) return false
            cur = open(files.next())
          }
          if (cur.next()) return true
          addMetrics(finished, cur)
          cur.close()
          cur = null
        }
        false
      }
      override def get(): T = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
      override def currentMetricsValues()
          : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
        val all = finished.clone()
        if (cur != null) addMetrics(all, cur)
        all.map { case (n, v) => StrawScanMetrics.Value(n, v) }.toArray
      }
    }

  // every strawboat scan is columnar: one reader serves every partition
  // shape, column type, schema generation and pushdown (consumed filters,
  // deletion vectors, Top-N, `_file`/`_pos`)
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "strawboat scans are columnar: use createColumnarReader")

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    StrawIO.install(serConf.value) // the planner's Hadoop conf, shipped per task
    partition match {
      case kp: StrawKeyedPartition =>
        // chain the value's files through per-file readers
        return chainReaders(kp.files.iterator.map(f =>
          StrawInputPartition(f, 0, Int.MaxValue, Long.MaxValue)), createColumnarReader)
      case bp: StrawBucketPartition =>
        // chain the bucket's files (deletion vectors threaded per file) —
        // the storage-partitioned layout keeps whole-stage columnar speed
        return chainReaders(bp.files.iterator.map { case (f, dvPath, dvLen) =>
          StrawInputPartition(f, 0, Int.MaxValue, Long.MaxValue, dvPath, dvLen)
        }, createColumnarReader)
      case pp: StrawPackedPartition =>
        // bin-packed small slices: chain the same per-slice readers
        return chainReaders(pp.slices.iterator, createColumnarReader)
      case _ =>
    }
    val p = partition.asInstanceOf[StrawInputPartition]
    // the slice's deletion vector: loaded once per task (process-wide
    // (path, len) cache behind it), applied INSIDE the reader so limits,
    // consumed filters, and Top-N all see only live rows
    val dead: org.roaringbitmap.RoaringBitmap =
      if (p.dvPath == null) null else DeletionVector.read(p.dvPath, p.dvLen)
    val base = new ColumnarSupport.StrawColumnarReader(p, readSchemaExt,
      requiredSchema.length, rowPred.orNull, dead, mapping, appendPos,
      topNActive.orNull)
    if (!appendFile) base
    else {
      // _file stays vectorized: one constant string vector appended per batch
      val fileVec = new org.apache.spark.sql.execution.vectorized.ConstantColumnVector(
        1, org.apache.spark.sql.types.StringType)
      fileVec.setUtf8String(UTF8String.fromString(p.path))
      ColumnarSupport.withConstants(base, fileVec)
    }
  }
}

/** Per-file schema resolution by name: required field → index in the file's
  * footer schema, or -1 when the file predates the field (read as null).
  * A file column NARROWER than the table column resolves too (lossless
  * type widening across schema evolution — the reader converts); any other
  * mismatch fails loudly with the offending file in the message. */
object StrawSchemaResolver {
  import org.apache.spark.sql.types._

  /** Merge per-file schemas into the table schema: new columns surface
    * (null-filled where absent — those turn nullable), lossless type
    * evolution widens, incompatible types fail with both definitions
    * named. Shared by `inferSchema` and maintenance ops that must derive
    * the schema from the SAME snapshot as their file listing. */
  def merge(schemas: Seq[(String, StructType)]): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    val presence = scala.collection.mutable.Map.empty[String, Int]
    for ((f, s) <- schemas; fld <- s.fields) {
      presence(fld.name) = presence.getOrElse(fld.name, 0) + 1
      fields.get(fld.name) match {
        case None => fields(fld.name) = fld
        case Some(prev) =>
          val merged = mergeType(prev.dataType, fld.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"strawboat: column '${fld.name}' is ${prev.dataType} in one file " +
                s"but ${fld.dataType} in $f"))
          // copy from prev so first-seen field METADATA survives the merge
          fields(fld.name) = prev.copy(dataType = merged,
            nullable = prev.nullable || fld.nullable)
      }
    }
    StructType(fields.values.toSeq.map { fld =>
      // a column absent from any file reads as null there — it MUST be
      // nullable in the merged schema or codegen elides the null checks
      if (presence(fld.name) < schemas.size) fld.copy(nullable = true) else fld
    })
  }

  /** Recursive merge of two evolved spellings of one column's type. Equal
    * types unify; nested nullability unions (a literal-valued INSERT may
    * have written inner fields non-nullable); flat lossless widenings take
    * the wider side; and STRUCT fields union BY NAME — first-seen order,
    * fields added by later schema evolution append, and a field present on
    * one side only turns nullable (files lacking it read null there,
    * mirroring top-level column addition). None when genuinely
    * incompatible. */
  def mergeType(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case (x, y) if x == y => Some(x)
    case (StructType(fa), StructType(fb)) =>
      val out = Seq.newBuilder[StructField]
      var ok = true
      fa.foreach { x =>
        fb.find(_.name == x.name) match {
          case Some(y) => mergeType(x.dataType, y.dataType) match {
            case Some(m) =>
              out += x.copy(dataType = m, nullable = x.nullable || y.nullable)
            case None => ok = false
          }
          case None => out += x.copy(nullable = true)
        }
      }
      fb.filterNot(y => fa.exists(_.name == y.name))
        .foreach(y => out += y.copy(nullable = true))
      if (ok) Some(StructType(out.result())) else None
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      mergeType(ea, eb).map(e => ArrayType(e, na || nb))
    case (MapType(ka, va, na), MapType(kb, vb, nb)) =>
      for {
        k <- mergeType(ka, kb)
        v <- mergeType(va, vb)
      } yield MapType(k, v, na || nb)
    case (x, y) if widenable(x, y) => Some(y)
    case (x, y) if widenable(y, x) => Some(x)
    case _ => None
  }

  /** Can a column stored as `file` be read at the table's evolved type
    * `req`? Covers exact match, flat lossless widening, struct-field
    * pruning, MISSING struct fields (added after the file was written —
    * read as null, so they must be nullable in `req`), and any recursive
    * combination through struct/array/map. The reader decodes such a
    * column at [[decodeShape]] and maps values through [[convert]]. */
  def evolvable(file: DataType, req: DataType): Boolean = (file, req) match {
    case (f, r) if f == r => true
    case (f: StructType, r: StructType) =>
      // an all-fields-dropped file struct (no leaf to carry row alignment)
      // cannot be read — unreachable through the catalog, loud if forced
      f.fields.nonEmpty && r.fields.forall { rf =>
        f.fields.find(_.name == rf.name) match {
          case Some(ff) => evolvable(ff.dataType, rf.dataType)
          case None => rf.nullable
        }
      }
    case (f: ArrayType, r: ArrayType) => evolvable(f.elementType, r.elementType)
    case (f: MapType, r: MapType) =>
      evolvable(f.keyType, r.keyType) && evolvable(f.valueType, r.valueType)
    case (f, r) => widenable(f, r)
  }

  /** The shape to DECODE a nested-evolved column at: the maximal
    * prune-subset of `file` that `req` still wants, at the FILE's own leaf
    * types (widening converts after decode). When `req` keeps none of the
    * file's struct fields, one minimal carrier leaf still decodes — the
    * struct's own validity/row alignment lives in its leaves. */
  def decodeShape(file: DataType, req: DataType): DataType = (file, req) match {
    case (f, r) if f == r => r
    case (f: StructType, r: StructType) =>
      val present = r.fields.flatMap(rf =>
        f.fields.find(_.name == rf.name).map(ff =>
          StructField(rf.name, decodeShape(ff.dataType, rf.dataType),
            nullable = true)))
      if (present.nonEmpty) StructType(present)
      else StructType(Seq(minimalField(f)))
    case (f: ArrayType, r: ArrayType) =>
      ArrayType(decodeShape(f.elementType, r.elementType), f.containsNull)
    case (f: MapType, r: MapType) =>
      MapType(decodeShape(f.keyType, r.keyType),
        decodeShape(f.valueType, r.valueType), f.valueContainsNull)
    case (f, _) => f
  }

  private def minimalShape(dt: DataType): DataType = dt match {
    case s: StructType => StructType(Seq(minimalField(s)))
    case a: ArrayType => ArrayType(minimalShape(a.elementType), a.containsNull)
    case m: MapType =>
      MapType(minimalShape(m.keyType), minimalShape(m.valueType), m.valueContainsNull)
    case flat => flat
  }

  private def minimalField(s: StructType): StructField = {
    val f = s.fields.head
    StructField(f.name, minimalShape(f.dataType), nullable = true)
  }

  /** Catalyst-value converter from a decoded shape to the table's evolved
    * type: struct fields map BY NAME (missing → null, extra → dropped),
    * arrays/maps convert element-wise, flat leaves widen. Boxed — only
    * schema-evolved files pay, identical to the flat [[widen]] trade. */
  def convert(from: DataType, to: DataType): Any => Any = (from, to) match {
    case (f, t) if f == t => identity[Any] _
    case (f: StructType, t: StructType) =>
      val n = t.fields.length
      val srcIdx = t.fields.map(tf => f.fields.indexWhere(_.name == tf.name))
      val fromDts = srcIdx.map(i => if (i < 0) null else f.fields(i).dataType)
      val convs = t.fields.zipWithIndex.map { case (tf, j) =>
        if (srcIdx(j) < 0) null else convert(fromDts(j), tf.dataType)
      }
      v => {
        val r = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(n)
        var j = 0
        while (j < n) {
          val i = srcIdx(j)
          if (i >= 0 && !r.isNullAt(i)) out.update(j, convs(j)(r.get(i, fromDts(j))))
          j += 1
        }
        out
      }
    case (f: ArrayType, t: ArrayType) =>
      val ec = convert(f.elementType, t.elementType)
      val ed = f.elementType
      v => {
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val n = a.numElements()
        val out = new Array[Any](n)
        var i = 0
        while (i < n) { if (!a.isNullAt(i)) out(i) = ec(a.get(i, ed)); i += 1 }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
    case (f: MapType, t: MapType) =>
      val kc = convert(f.keyType, t.keyType)
      val vc = convert(f.valueType, t.valueType)
      v => {
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray()
        val vs = m.valueArray()
        val n = m.numElements()
        val ko = new Array[Any](n)
        val vo = new Array[Any](n)
        var i = 0
        while (i < n) {
          ko(i) = kc(ks.get(i, f.keyType)) // map keys are never null
          if (!vs.isNullAt(i)) vo(i) = vc(vs.get(i, f.valueType))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(ko),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vo))
      }
    case (f, t) => widen(f, t)
  }

  /** Lossless widenings a long-lived table accumulates: integral up-casts
    * and float→double. (Decimal re-precision changes the physical layout
    * at the 18/19 boundary and is deliberately out.) */
  def widenable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case _ => false
  }

  /** Value converter for a widened column (boxed — only evolved files pay). */
  def widen(from: DataType, to: DataType): Any => Any = (from, to) match {
    case (ByteType, ShortType) => v => v.asInstanceOf[Byte].toShort
    case (ByteType, IntegerType) => v => v.asInstanceOf[Byte].toInt
    case (ByteType, LongType) => v => v.asInstanceOf[Byte].toLong
    case (ShortType, IntegerType) => v => v.asInstanceOf[Short].toInt
    case (ShortType, LongType) => v => v.asInstanceOf[Short].toLong
    case (IntegerType, LongType) => v => v.asInstanceOf[Int].toLong
    case (FloatType, DoubleType) => v => v.asInstanceOf[Float].toDouble
    case other => throw new IllegalStateException(s"not widenable: $other")
  }

  /** The table's CURRENT merged schema, or None when the directory holds no
    * data yet (first write). Same sources as `inferSchema`: log entry
    * schemas when present (zero footer IO), footers otherwise. */
  def tableSchemaOf(dir: String): Option[StructType] = {
    val files =
      try StrawIO.listFilesMeta(dir)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (files.isEmpty) return None
    val logSchemas = StrawLog.snapshot(dir).map(_.entries)
      .filter(es => es.nonEmpty && es.forall(_.schemaParsed != null))
      .map(_.map(e => (e.meta.path, e.schemaParsed)))
    val mapping = StrawLog.mappingAt(dir)
    Some(merge(logSchemas.getOrElse(
      StrawIO.mapParallel(files)(f =>
        (f.path, FooterCache.get(f.path, f.mtime, f.len).schema)))
      .map { case (p, s) => (p, mapping.toLogical(s)) }))
  }

  /** Names+types only: nullable flags and field metadata normalized away,
    * recursively — the structural identity the append gate compares. */
  private def shape(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, shape(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(shape(m.keyType), shape(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Gate an APPEND's schema against the table's current schema. An exact
    * match passes; STRUCTURAL evolution — new columns, omitted columns,
    * type widening — must be stated with the write option
    * `mergeSchema=true` (the reader handles evolved tables fine, but a
    * silent default would let a typo'd column name fork the schema).
    * Nullability drift is NOT gated: Spark frames flip the flag constantly
    * (lit() vs Seq-derived), and the reader unions it anyway. Two shapes
    * are rejected even WITH the option: a non-widenable type change
    * (`merge` throws, naming both definitions), and omitting a
    * non-nullable column (the reader null-fills absent columns, which
    * would break that column's contract). */
  def validateAppend(dir: String, table: StructType, query: StructType,
      mergeSchema: Boolean): Unit = {
    // merge throws on a non-widenable type change, naming both definitions
    val merged = merge(Seq((s"table $dir", table), ("this append", query)))
    table.fields.filter(f => !query.fieldNames.contains(f.name))
      .filterNot(_.nullable).foreach { f =>
        throw new IllegalArgumentException(
          s"strawboat: append to $dir omits non-nullable column '${f.name}' " +
            "— absent columns read as null, breaking its contract")
      }
    // an omitted column leaves no trace in the merged SHAPE (it only forces
    // nullability, which shape() normalizes away) — check it structurally
    val omitsAny = table.fieldNames.exists(n => !query.fieldNames.contains(n))
    if ((shape(merged) != shape(table) || omitsAny) && !mergeSchema) {
      val newCols = query.fieldNames.filterNot(table.fieldNames.contains)
      val dropped = table.fieldNames.filterNot(query.fieldNames.contains)
      val changed = table.fields.flatMap { tf =>
        query.fields.find(_.name == tf.name).collect {
          case qf if qf.dataType != tf.dataType =>
            s"${tf.name}: ${tf.dataType.simpleString}->${qf.dataType.simpleString}"
        }
      }
      val diff = Seq(
        if (newCols.nonEmpty) s"new columns ${newCols.mkString(", ")}" else "",
        if (dropped.nonEmpty) s"omitted columns ${dropped.mkString(", ")}" else "",
        if (changed.nonEmpty) s"type changes ${changed.mkString(", ")}" else "")
        .filter(_.nonEmpty).mkString("; ")
      throw new IllegalArgumentException(
        s"strawboat: append schema does not match table $dir " +
          s"(${if (diff.nonEmpty) diff else "nullability relaxation"}) — " +
          "pass .option(\"mergeSchema\", \"true\") to evolve the table, " +
          "or align the frame to the table schema")
    }
  }

  def resolve(path: String, fileSchema: StructType, required: StructType): Array[Int] =
    required.fields.map { f =>
      fileSchema.fields.indexWhere(_.name == f.name) match {
        case -1 => -1
        case i =>
          val fdt = fileSchema.fields(i).dataType
          // equal, flat-widenable, a struct-pruned subset the per-leaf
          // reader materializes directly (nested pruning), or a nested
          // evolution (missing/widened struct fields) the reader decodes
          // at decodeShape and converts
          require(fdt == f.dataType || widenable(fdt, f.dataType) ||
            LeafLayout.pruneCompatible(fdt, f.dataType) ||
            evolvable(fdt, f.dataType),
            s"strawboat: column '${f.name}' is $fdt in $path " +
              s"but ${f.dataType} in the table schema")
          i
      }
    }
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

class StrawWriteBuilder(path: String, schema: StructType, opts: WriteOptions,
    partitionCols: Seq[String], queryId: String,
    mergeSchema: Boolean = false, sortBy: Seq[String] = Seq.empty,
    distribute: Seq[String] = Seq.empty)
  extends WriteBuilder with SupportsTruncate with SupportsDynamicOverwrite {
  private var doTruncate = false
  private var doDynamic = false
  override def truncate(): WriteBuilder = {
    // DataFrameWriter.mode(Overwrite).save(path) always plans
    // OverwriteByExpression(true) — i.e. truncate — for DSv2 path tables;
    // only the SQL INSERT OVERWRITE route reaches overwriteDynamicPartitions.
    // Honor spark.sql.sources.partitionOverwriteMode=dynamic for partitioned
    // writes here, matching the built-in file sources' conf-driven behavior.
    val dynamic = partitionCols.nonEmpty &&
      SQLConf.get.partitionOverwriteMode == PartitionOverwriteMode.DYNAMIC
    if (dynamic) doDynamic = true else doTruncate = true
    this
  }
  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`: replace
    * ONLY the hive partitions this write produces rows for; every other
    * partition survives untouched. */
  override def overwriteDynamicPartitions(): WriteBuilder = { doDynamic = true; this }

  // appends answer to the table's current schema (truncate replaces it, so
  // overwrite needs no gate; a DYNAMIC overwrite keeps the untouched
  // partitions' files, so it validates like an append). Exact match, or a
  // declared evolution via .option("mergeSchema", "true") — see
  // StrawSchemaResolver.validateAppend. Checked at build() on the driver,
  // before any task writes a byte.
  private def validated(): Unit =
    if (!doTruncate) {
      StrawSchemaResolver.tableSchemaOf(path).foreach(table =>
        StrawSchemaResolver.validateAppend(path, table, schema, mergeSchema))
      // bucket-layout consistency: an append must keep every data file
      // single-bucket under ONE (column, count) spec, or the co-location
      // the layout promises silently breaks. The sidecar spec is
      // authoritative when present; tag counts+column-hashes back it up
      // for sidecar-less tables. Schema-only markers are exempt.
      StrawBucket.specOf(path) match {
        case Some((c, n)) =>
          require(opts.buckets > 0,
            s"strawboat: $path is bucketed by ($c, $n) — appends must set " +
              "the same bucketBy/buckets (or overwrite to drop the layout)")
          require(opts.buckets == n && opts.bucketBy.exists(_.equalsIgnoreCase(c)),
            s"strawboat: $path is bucketed by ($c, $n) — an append with " +
              s"(${opts.bucketBy.getOrElse("")}, ${opts.buckets}) would mix " +
              "layouts (overwrite to rebucket)")
        case None =>
          val existing = StrawIO.listFiles(path)
            .filterNot(StrawBucket.isMarker)
            .map(p => StrawBucket.parseTag(p)
              .map(t => (t.n, t.colHash.getOrElse(-1))).getOrElse((0, -1)))
            .distinct
          val incoming =
            if (opts.buckets == 0) (0, -1)
            else (opts.buckets, StrawBucket.colHash(opts.bucketBy.get))
          existing.find(_ != incoming).foreach { case (en, eh) =>
            val held =
              if (en == 0) "unbucketed"
              else if (opts.buckets > 0 && en == opts.buckets && eh != incoming._2)
                s"buckets=$en differently-keyed"
              else s"buckets=$en"
            val asked =
              if (opts.buckets == 0) "no bucketing"
              else s"(${opts.bucketBy.get}, ${opts.buckets})"
            throw new IllegalArgumentException(
              s"strawboat: $path holds $held data — an append with $asked " +
                "would mix layouts (overwrite to rebucket)")
          }
      }
    }

  // partition columns first in the write-side ordering: rows then arrive
  // GROUPED by partition value, so a task holds one open file writer at a
  // time instead of one per live value (bounded memory at high fan-out)
  private def orderingCols: Seq[String] =
    if (sortBy.isEmpty && distribute.isEmpty) Seq.empty
    else (partitionCols ++ sortBy.filterNot(partitionCols.contains)).distinct

  /** Write-side distribution & ordering, the anti-small-files story at
    * scale: a hive-partitioned write from an N-task stage would otherwise
    * emit up to N files PER partition value. The clustered distribution is
    * non-strict, so Spark satisfies it with a `RebalancePartitions` — AQE
    * coalesces undersized shuffle partitions and SPLITS skewed ones (a hot
    * partition value does not serialize into one task), with
    * [[WriteOptions.targetFileBytes]] as the advisory partition size so
    * shuffle partitions are born file-sized. Opt out per write with
    * `.option("distribute", "none")`. */
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    validated()
    // CHECK constraints bind on the driver against THIS write's schema —
    // a constraint whose columns the write lacks fails the job up front;
    // truncate keeps the table's constraints (metadata survives data
    // replacement — drop the constraint first to overwrite past it)
    private val checker = StrawConstraints.checkerFor(
      org.apache.spark.sql.SparkSession.active, path, schema).orNull
    override def requiredDistribution(): Distribution =
      if (distribute.isEmpty) Distributions.unspecified()
      else Distributions.clustered(
        distribute.map(c => Expressions.identity(c))
          .toArray[org.apache.spark.sql.connector.expressions.Expression])
    override def distributionStrictlyRequired(): Boolean = false
    override def advisoryPartitionSizeInBytes(): Long =
      if (distribute.isEmpty) 0L else opts.targetFileBytes
    override def requiredOrdering(): Array[V2SortOrder] =
      orderingCols.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    private def ordered: Boolean =
      partitionCols.nonEmpty && orderingCols.startsWith(partitionCols)
    // physical spellings for re-added-after-drop columns (positions are
    // untouched, so the incoming rows bind unchanged); empty mapping — the
    // overwhelmingly common case — is the identity
    private def physicalSchema: StructType =
      StrawLog.mappingAt(path).toPhysical(schema)
    override def toBatch: BatchWrite =
      new StrawBatchWrite(path, physicalSchema, doTruncate, opts, partitionCols,
        checker, ordered, doDynamic)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new StrawStreamingWrite(path, physicalSchema, opts, partitionCols, queryId,
        checker, ordered)
  }
}

case class StrawCommitMessage(files: Seq[String]) extends WriterCommitMessage

/** Job-level commit protocol (parquet-commit-protocol style). Tasks write
  * rolled files under a job-scoped STAGED suffix (`<name>.strb.<job>.stage`)
  * that readers never list (the log names the visible files, and only
  * `*.strb` is data). Files become visible ONLY when the driver renames
  * them in BatchWrite/StreamingWrite.commit from the winners' commit
  * messages — so a task killed after rolling (abort() never runs) or a
  * losing speculative attempt can't leak duplicate rows: its staged files
  * are swept (batch) or remain invisible (streaming). The rename fan-out is
  * not atomic across files — the same window parquet's v1 protocol has. */
object StrawCommitProtocol {
  def stageSuffix(jobId: String): String = s".$jobId.stage"

  /** Rename this job's staged files to their visible names; returns the
    * final paths. Parallel IO: one rename per file, driver-side. The
    * modification time is bumped to COMMIT time (rename preserves the
    * task-side write mtime), and the log records it: a stream's initial
    * snapshot delivers in (mtime, path) order, which is then commit order,
    * and [[StrawLog.vacuumUnreferenced]] ages a renamed-but-not-yet-
    * committed file from its rename, not from a task that wrote it long
    * before. */
  def finalizeFiles(path: String, jobId: String, staged: Seq[String])
      : Seq[StrawIO.FileMeta] = {
    val f = StrawIO.fs(path)
    val suffix = stageSuffix(jobId)
    val now = System.currentTimeMillis()
    StrawIO.mapParallel(staged) { s =>
      val sp = new Path(s)
      val dst = new Path(sp.getParent, sp.getName.stripSuffix(suffix))
      // capture the length now — rename preserves it, and the log
      // entry then needs no post-rename status RPC
      val len = f.getFileStatus(sp).getLen
      // bump mtime BEFORE the rename that makes the file visible, so no
      // vacuum walk between rename and a later setTimes sees the old write
      // time (rename preserves mtime on local/HDFS; object-store renames
      // are copies and refresh it)
      f.setTimes(sp, now, -1)
      if (!f.rename(sp, dst))
        throw new java.io.IOException(s"strawboat: commit rename $sp -> $dst failed")
      StrawIO.FileMeta(f.makeQualified(dst).toString, now, len)
    }
  }

  /** Delete any leftover staged files of this job (dead tasks that never
    * aborted, losing speculative attempts). Recursive so staged files in
    * partition subdirectories are swept too. */
  def sweepStaged(path: String, jobId: String): Unit = {
    val f = StrawIO.fs(path)
    val p = new Path(path)
    val suffix = stageSuffix(jobId)
    if (f.exists(p))
      StrawIO.walkFiles(f, p) { st =>
        if (st.getPath.getName.endsWith(suffix))
          f.delete(st.getPath, false): Unit
      }
  }

  /** Table maintenance: delete staged debris of OTHER (crashed) jobs once
    * it is old enough that no in-flight job can still own it. Orphaned
    * staged files are invisible to readers — this reclaims storage only.
    * The horizon is floored at [[StrawLog.InflightTtlMs]]: a live write
    * job owns its .stage files until commit, so even an aggressive
    * `olderThanMs` never reclaims a file younger than the in-flight TTL
    * (a job running LONGER than the TTL must not overlap a vacuum).
    * @return deleted file count */
  def vacuumStaged(path: String, olderThanMs: Long = 24 * 3600 * 1000L): Int = {
    val f = StrawIO.fs(path)
    val p = new Path(path)
    if (!f.exists(p)) return 0
    val cutoff = System.currentTimeMillis() -
      math.max(olderThanMs, StrawLog.InflightTtlMs)
    var n = 0
    StrawIO.walkFiles(f, p) { st =>
      if (st.getPath.getName.endsWith(".stage") && st.getModificationTime < cutoff) {
        if (f.delete(st.getPath, false)) n += 1
      }
    }
    n
  }
}

class StrawBatchWrite(path: String, schema: StructType, truncate: Boolean,
    opts: WriteOptions, partitionCols: Seq[String] = Seq.empty,
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false,
    dynamicOverwrite: Boolean = false)
  extends BatchWrite {
  // captured on the driver before any task writes, so overwrite-on-commit
  // removes exactly the pre-existing generation of files
  private val preExisting: Seq[String] =
    if (truncate || dynamicOverwrite) StrawIO.listFiles(path) else Seq.empty
  private val jobId = UUID.randomUUID().toString.take(8)
  /** The job-scoped staging id, for [[StrawBulkLoad]]'s columnar tasks —
    * their staged files must carry THIS job's suffix so commit/abort/sweep
    * see them. */
  private[spark] def stagingJobId: String = jobId

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new StrawDataWriterFactory(path, schema, opts, jobId,
      new org.apache.spark.util.SerializableConfiguration(StrawIO.conf), partitionCols,
      checker, ordered)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.flatMap { case StrawCommitMessage(fs) => fs }.toSeq
    var freshMeta = StrawCommitProtocol.finalizeFiles(path, jobId, staged)
    // NO per-commit staged sweep here: on the success path every staged
    // file was either reported (renamed above) or belonged to a failed
    // task attempt whose abort() deleted it — only an UNCLEAN executor
    // death leaves debris, and that debris is invisible to readers (no
    // `.strb` suffix) and reclaimed by vacuumStaged/straw_vacuum. The
    // sweep walked the WHOLE table per commit — O(files) listings that the
    // cadence drill measured as the dominant per-commit growth term
    // (~0.13 ms/file locally; paged LIST requests on an object store).
    val f = StrawIO.fs(path)
    val fresh = freshMeta.map(_.path).toSet
    val removes: Set[String] =
      if (truncate)
        // preExisting paths may predate qualification — compare qualified
        preExisting.map(p => f.makeQualified(new Path(p)).toString)
          .filterNot(fresh).toSet
      else if (dynamicOverwrite) {
        // replace exactly the hive partitions this write produced rows for:
        // old files whose full col=value key sequence matches a fresh
        // file's. An UNPARTITIONED dynamic overwrite degenerates to the
        // whole table (its one implicit partition); files under a layout
        // the write did not touch (mixed/foreign levels) always survive.
        val touched = freshMeta.map(m => PartitionLayout.partitionsOf(m.path)).toSet
        preExisting.map(p => f.makeQualified(new Path(p)).toString)
          .filterNot(fresh)
          .filter(p => touched.contains(PartitionLayout.partitionsOf(p)))
          .toSet
      } else Set.empty
    // empty result set into a table left empty by this commit: write one
    // schema-only marker (driver-side, once) so the table stays
    // self-describing and reads back as empty, like parquet. Judged on the
    // POST-commit logical state — physical deletes happen after the log
    // commit, so the directory still holds the outgoing generation here.
    // (fresh.isEmpty first: ordinary appends must not pay a listing.)
    if (fresh.isEmpty && (truncate || StrawIO.listFilesMeta(path).isEmpty)) {
      f.mkdirs(new Path(path))
      val name = s"part-empty-${UUID.randomUUID().toString.take(8)}${StrawFormat.Extension}"
      val tmp = new Path(path, s".$name.tmp")
      val os = f.create(tmp, true)
      var ok = false
      try { new StrawFileWriter(schema, opts).writeTo(os); ok = true }
      finally {
        os.close()
        if (ok) {
          // Hadoop rename signals failure by returning false, not throwing
          if (!f.rename(tmp, new Path(path, name)))
            throw new java.io.IOException(s"strawboat: rename $tmp -> $name failed")
        } else f.delete(tmp, false)
      }
      val st = f.getFileStatus(new Path(path, name))
      freshMeta :+= StrawIO.FileMeta(f.makeQualified(st.getPath).toString,
        st.getModificationTime, st.getLen)
    }
    // ONE atomic log commit makes the new generation visible — adds AND
    // truncate's removes switch together, so a reader sees the old or the
    // new file set, never a mix. A crash before this line leaves the
    // renamed files invisible to log readers (vacuumUnreferenced debris),
    // not a partial commit. Physical deletes follow the metadata commit;
    // a crash between them leaves unreferenced files, reclaimed the same
    // way. A FAILED commit (IO error, ConflictException against a racing
    // truncate/compaction) rolls the renamed outputs back so the job fails
    // as a clean no-op, mirroring StrawCompaction.
    if (freshMeta.nonEmpty || removes.nonEmpty) {
      val adds = StrawIO.mapParallel(freshMeta)(StrawLog.entryFor)
      try StrawLog.commit(path, adds, removes,
        op = if (truncate) "truncate"
        else if (dynamicOverwrite) "overwrite (dynamic)" else "append")
      catch {
        // ambiguous claim: the commit may be live — never delete files the
        // latest version possibly references (debris is vacuumable later)
        case e: StrawLog.AmbiguousCommitException => throw e
        case e: Throwable =>
          freshMeta.foreach { m =>
            try f.delete(new Path(m.path), false)
            catch { case scala.util.control.NonFatal(s) => e.addSuppressed(s) }
          }
          throw e
      }
    }
    removes.foreach(old => f.delete(new Path(old), false))
    // committed layout becomes self-describing: the sidecar spec is what
    // later readers, mutations, and compaction resolve the buckets from
    StrawBucket.recordSpec(path, opts, truncate)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val f = StrawIO.fs(path)
    messages.foreach {
      case StrawCommitMessage(fs) => fs.foreach(x => f.delete(new Path(x), false))
      case _ =>
    }
    StrawCommitProtocol.sweepStaged(path, jobId)
  }
}

class StrawDataWriterFactory(path: String, schema: StructType, opts: WriteOptions,
    jobId: String,
    serConf: org.apache.spark.util.SerializableConfiguration,
    partitionCols: Seq[String] = Seq.empty,
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    StrawIO.install(serConf.value)
    new StrawDataWriter(path, schema, partitionId, taskId, opts, jobId, partitionCols,
      checker, ordered)
  }
}

/** Streams rows into rolling files (one open StrawFileWriter per hive
  * partition, flushed to the FS at `targetFileBytes`). Rolled files land
  * under the job-scoped staged suffix — invisible to readers until the
  * driver's commit renames them (see [[StrawCommitProtocol]]); a file
  * killed mid-write is never complete under ANY name. With `partitionCol`
  * set, rows route to `col=value/` subdirectories ([[PartitionLayout]];
  * intended for low-cardinality columns, as with hive partitioning —
  * memory holds one open page buffer per live partition value). Values are
  * extracted from the incoming row eagerly, so Spark's UnsafeRow buffer
  * reuse is safe. */
class StrawDataWriter(dir: String, schema: StructType, partitionId: Int, taskId: Long,
    opts: WriteOptions, jobId: String, partitionCols: Seq[String] = Seq.empty,
    checker: StrawConstraints.RowChecker = null, ordered: Boolean = false)
  extends DataWriter[InternalRow] {
  private val fsys = StrawIO.fs(dir)
  locally { fsys.mkdirs(new Path(dir)) }
  private val uuid = UUID.randomUUID().toString.take(8)
  private val partIdx: Array[Int] = partitionCols.map(schema.fieldIndex).toArray
  private val partDt = partIdx.map(schema.fields(_).dataType)
  // hash-bucket routing: bucket id per row; empty = unbucketed table. The
  // spec may name several comma-joined key columns; a spec naming a column
  // this write lacks is a caller bug — failing here beats silently emitting
  // untagged files that break the table's co-location.
  private val bucketIdx: Array[Int] = opts.bucketBy.toSeq
    .flatMap(StrawBucket.colsOf).map { c =>
      val i = schema.fields.indexWhere(_.name.equalsIgnoreCase(c))
      require(i >= 0, s"strawboat: bucketBy column '$c' not in write schema " +
        schema.fieldNames.mkString(","))
      i
    }.toArray
  private val bucketDt: Array[org.apache.spark.sql.types.DataType] =
    bucketIdx.map(schema.fields(_).dataType)

  private final class PartState(val subdir: String, val bucket: Int) {
    var writer = new StrawFileWriter(schema, opts)
    var fileIdx = 0
  }
  private val parts = scala.collection.mutable.LinkedHashMap.empty[String, PartState]
  private var currentSubdir: String = null
  private var rowsSinceCheck = 0
  private val files = ArrayBuffer.empty[String]

  /** Live partition buffers — the write-side memory footprint. With the
    * clustered+ordered write path this stays at 1. */
  private[spark] def openPartitions: Int = parts.size

  private def subdirOf(row: InternalRow): String =
    if (partIdx.isEmpty) ""
    else {
      val sb = new StringBuilder
      var k = 0
      while (k < partIdx.length) {
        if (k > 0) sb.append('/')
        val i = partIdx(k)
        val enc =
          if (row.isNullAt(i)) PartitionLayout.NullDir
          else PartitionLayout.encode(row.get(i, partDt(k)).toString)
        sb.append(partitionCols(k)).append('=').append(enc)
        k += 1
      }
      sb.toString
    }

  /** Hash-bucket ordinal of one row (the batch path reads rows through the
    * batch's shared row cursor); -1 for unbucketed tables. */
  private def bucketOfRow(row: InternalRow): Int =
    if (bucketIdx.isEmpty) -1
    else if (bucketIdx.length == 1) StrawBucket.bucketOf(
      if (row.isNullAt(bucketIdx(0))) null else row.get(bucketIdx(0), bucketDt(0)),
      bucketDt(0), opts.buckets)
    else {
      val vs = new Array[Any](bucketIdx.length)
      var k = 0
      while (k < bucketIdx.length) {
        vs(k) = if (row.isNullAt(bucketIdx(k))) null
          else row.get(bucketIdx(k), bucketDt(k))
        k += 1
      }
      StrawBucket.bucketOfMulti(vs, bucketDt, opts.buckets)
    }

  private def roll(subdir: String, st: PartState): Unit = {
    if (st.writer.numRows > 0) {
      val tag =
        if (st.bucket < 0) ""
        else StrawBucket.fileTag(st.bucket, opts.buckets, opts.bucketBy.get)
      val name =
        f"part-$partitionId%05d-$taskId-$uuid-${st.fileIdx}%04d$tag${StrawFormat.Extension}"
      val parent = if (subdir.isEmpty) new Path(dir) else new Path(dir, subdir)
      val staged = new Path(parent, name + StrawCommitProtocol.stageSuffix(jobId))
      val os = fsys.create(staged, true) // creates the partition dir as needed
      var ok = false
      try { st.writer.writeTo(os); ok = true }
      finally {
        os.close()
        if (!ok) fsys.delete(staged, false)
      }
      files += staged.toString
      st.fileIdx += 1
    }
    st.writer = new StrawFileWriter(schema, opts)
  }

  override def write(row: InternalRow): Unit = {
    if (checker != null) checker.validate(row)
    val subdir = subdirOf(row)
    // ordered mode: the plan sorts by the partition column, so values
    // arrive grouped — a value change means the previous buffers are final;
    // flush and drop them so memory stays one open SUBDIR regardless of how
    // many values the task holds. (If a row ever arrives out of order the
    // value simply re-opens: extra file, same rows — never wrong.) Buckets
    // within a subdir interleave freely, so the flush keys on the subdir,
    // not the full routing key — a bucketed subdir holds up to `buckets`
    // open page buffers until its value change.
    if (ordered && currentSubdir != null && subdir != currentSubdir) {
      parts.foreach { case (_, st) => roll(st.subdir, st) }
      parts.clear()
    }
    currentSubdir = subdir
    val bucket = bucketOfRow(row)
    val key = if (bucket < 0) subdir else subdir + "\u0001" + bucket
    val st = parts.getOrElseUpdate(key, new PartState(subdir, bucket))
    st.writer.write(row)
    rowsSinceCheck += 1
    if (rowsSinceCheck >= 4096) {
      rowsSinceCheck = 0
      parts.foreach { case (_, s) =>
        if (s.writer.estimatedBytes > opts.targetFileBytes) roll(s.subdir, s)
      }
    }
  }

  /** Columnar ingest entry ([[StrawBulkLoad]]): drain a ColumnarBatch
    * straight into the page builders. Plain, hive-partitioned, and
    * hash-bucketed shapes; the bulk loader falls back to the row path only
    * for constrained writes (CHECK validation is row-at-a-time anyway).
    * Bucketed batches route by one pass over the batch's row cursor (only
    * the key columns are touched) into per-bucket selection vectors, then
    * each bucket's positions gather-append into its page builders — the
    * batch's value columns never materialize as rows. */
  private[spark] def writeBatch(batch: org.apache.spark.sql.vectorized.ColumnarBatch): Unit = {
    require(checker == null,
      "strawboat: columnar ingest supports unconstrained writes only")
    val total = batch.numRows()
    if (total == 0) return
    def drain(subdir: String, from: Int, until: Int): Unit = {
      val st = parts.getOrElseUpdate(subdir, new PartState(subdir, -1))
      var off = from
      while (off < until) {
        off += st.writer.writeColumnar(batch, off, until - off)
        if (st.writer.estimatedBytes > opts.targetFileBytes) roll(subdir, st)
      }
    }
    if (bucketIdx.nonEmpty) {
      // (subdir, bucket) per row, grouped into per-key selection vectors.
      // A task sees at most `buckets` open page-buffer sets per live
      // subdir — the same fan-out the unordered row path carries.
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, Int, ArrayBuffer[Int])]
      var i = 0
      while (i < total) {
        val row = batch.getRow(i) // shared mutable view, consumed here
        val subdir = subdirOf(row)
        val bucket = bucketOfRow(row)
        val key = subdir + "\u0001" + bucket
        groups.getOrElseUpdate(key, (subdir, bucket, ArrayBuffer.empty[Int]))
          ._3 += i
        i += 1
      }
      groups.foreach { case (key, (subdir, bucket, positions)) =>
        val st = parts.getOrElseUpdate(key, new PartState(subdir, bucket))
        val sel = positions.toArray
        var off = 0
        while (off < sel.length) {
          off += st.writer.writeColumnarSelected(batch, sel, off, sel.length - off)
          if (st.writer.estimatedBytes > opts.targetFileBytes) roll(subdir, st)
        }
      }
    }
    else if (partIdx.isEmpty) drain("", 0, total)
    else {
      // hive-partitioned ingest: dispatch maximal runs of rows sharing a
      // partition key into that partition's page builders — full columnar
      // speed when the input is clustered by the partition columns (the
      // normal conversion shape); unclustered input degrades to short runs
      // but stays correct. Only the partition columns are touched per row;
      // the batch row view is a shared mutable cursor, consumed in place.
      var runStart = 0
      var runSubdir = subdirOf(batch.getRow(0))
      var i = 1
      while (i < total) {
        val sub = subdirOf(batch.getRow(i))
        if (sub != runSubdir) {
          drain(runSubdir, runStart, i)
          runStart = i
          runSubdir = sub
        }
        i += 1
      }
      drain(runSubdir, runStart, total)
    }
  }

  override def commit(): WriterCommitMessage = {
    parts.foreach { case (_, s) => roll(s.subdir, s) }
    StrawCommitMessage(files.toSeq)
  }

  override def abort(): Unit = {
    files.foreach(f => fsys.delete(new Path(f), false))
  }

  override def close(): Unit = ()
}
