package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.spark.StrawIO.FileMeta

/** Transaction log: the table's commit history as a `_straw_log/` directory
  * of version-numbered action files, making every table mutation — batch
  * append/truncate, streaming epoch, compaction — one ATOMIC metadata
  * operation with snapshot isolation. The log is the table's only
  * committed-files snapshot: planning resolves a table to the entries of
  * its latest version (zero directory walks), and a table without a log is
  * listed by walking its directory. The log guarantees:
  *
  *  - a reader (planning a query) resolves the table to the entries of the
  *    latest complete log version — a crash after the data-file rename
  *    fan-out but before the log commit leaves those files INVISIBLE
  *    (uncommitted debris for [[vacuumUnreferenced]]), not a partial commit;
  *  - truncate and compaction become atomic generation switches: the log
  *    records removes+adds in ONE version file, physical deletes happen
  *    after — a reader sees the old or the new generation, never both and
  *    never neither;
  *  - concurrent committers race on `createLink`/rename-claimed version
  *    files: the loser re-reads and retries (appends commute) or fails
  *    cleanly (conflicting removes);
  *  - streaming epochs carry an idempotence action (`X query version`):
  *    a replayed epoch whose log commit already won is recognized and
  *    dropped even when the engine's own marker was lost in a crash;
  *  - commits are O(changed files), not O(table): a log commit writes one
  *    small delta file instead of re-walking the directory — at 100k files
  *    a walk is the dominant cost and an eventual-consistency hazard on
  *    object stores.
  *
  * Old versions remain readable ([[snapshotAt]] — time travel /
  * `versionAsOf`) until their files are reclaimed by compaction's vacuum or
  * [[vacuumUnreferenced]].
  *
  * Layout (all files under `<table>/_straw_log/`):
  * {{{
  * 00000000000000000001.commit      // one per version, atomically claimed
  * 00000000000000000010.checkpoint  // full snapshot every Nth version
  * }}}
  * Commit/checkpoint body is line-framed UTF-8:
  * {{{
  * strawboat-log v1 <uuid>
  * S<idx>\t<schema json>                     (schema dictionary)
  * A\t<mtime>\t<len>\t<schemaIdx|->\t<statsB64|->\t<relpath>
  * R\t<relpath>
  * D\t<dvLen>\t<dvCardinality>\t<dvFileName>\t<data relpath>
  * X\t<version>\t<appId>                     (streaming idempotence)
  * C\t<name>\t<b64(expr)|->                  (CHECK constraint set / drop)
  * E                                         (completeness terminator)
  * }}}
  * An `A` action may reference its file's schema (deduplicated in the `S`
  * dictionary, parsed once per distinct schema) and a [[ManifestStats]]
  * blob of per-leaf (kind, min, max, nullCount, sum) merged over the
  * file's pages. Planning turns the blob into a synthetic one-page footer
  * and runs the ordinary [[ZoneMapFilter]] over it, so a selective filter
  * prunes WHOLE FILES before any footer IO. Stats are computed once at
  * commit time and carried forward verbatim; an entry without stats never
  * prunes. The relative path is LAST so the fixed-position fields parse
  * even though it is unconstrained; schema JSON escapes control
  * characters, so line/tab framing is safe.
  * A `C` action sets (payload = base64 of the SQL expression, framing-safe)
  * or drops (payload `-`) a named CHECK constraint; replay folds them into
  * [[Snapshot.constraints]] and checkpoints re-emit the live set.
  * A `D` action attaches (or replaces) a data file's deletion vector
  * ([[DeletionVector]] — merge-on-read row deletes): the sidecar named
  * `<dvFileName>` in the data file's own directory. Replay applies it to
  * the file's current entry; an `A` for the same path (a rewrite) clears
  * any DV, an `R` removes file and DV together.
  *
  * Atomicity of the version claim: the commit body is written to a temp
  * file, then linked/renamed to `<version>.commit` with a create-if-absent
  * primitive — `Files.createLink` on the local FS (atomic, fails when the
  * target exists), non-overwriting rename on HDFS-likes. Object stores
  * without an atomic claim degrade to last-writer-wins on a same-version
  * race, the same caveat Delta has without a coordinating LogStore.
  *
  * Trust model: this library's committers are the only writers. Files
  * dropped in externally are not seen; delete `_straw_log/` to force
  * directory walking. A replay problem on an EXISTING log (corrupt or
  * missing version file) fails reads loudly after a retry — a silent walk
  * fallback could expose uncommitted renamed files and resurrect rows
  * deleted via deletion vectors, so only the absence of a log (or its
  * explicit deletion, the escape hatch) selects the listing path.
  */
object StrawLog {
  val DirName = "_straw_log"
  private val Header = "strawboat-log v1 "
  private val CommitExt = ".commit"
  private val CheckpointExt = ".checkpoint"

  /** Write a checkpoint every this many versions (replay cost bound) —
    * the default; see [[checkpointInterval]] for the deployment knob. */
  val CheckpointInterval = 10

  /** Session conf overriding [[CheckpointInterval]]. A checkpoint
    * serializes the WHOLE table state (O(files) stats strings), so its
    * cadence is the commit-throughput vs cold-replay-length trade a
    * deployment tunes: a 100k-file table under a high-rate micro-batch
    * sink wants this larger (pay O(table) less often), an analyst-facing
    * table with rare writes can keep the default's short replay tail. */
  val CheckpointIntervalConf = "spark.straw.log.checkpointInterval"

  private def checkpointInterval: Int = {
    val v =
      try org.apache.spark.sql.internal.SQLConf.get
        .getConfString(CheckpointIntervalConf, CheckpointInterval.toString)
      catch { case scala.util.control.NonFatal(_) => CheckpointInterval.toString }
    val n = try v.toInt catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"strawboat: $CheckpointIntervalConf must be a positive int, got '$v'") }
    require(n > 0, s"strawboat: $CheckpointIntervalConf must be positive, got $n")
    n
  }

  /** One resolved table state: `entries` keyed by path (sorted), `txns` the
    * latest committed version per streaming query id, `constraints` the
    * live CHECK constraints (name → SQL expression) every new-data write
    * must satisfy ([[StrawConstraints]]). */
  final case class Snapshot(version: Long, entries: Seq[Entry],
      txns: Map[String, Long],
      constraints: Map[String, String] = Map.empty,
      mapping: ColumnMappingState = ColumnMappingState.Empty) {
    lazy val pathSet: Set[String] = entries.map(_.meta.path).toSet
  }

  /** One live data file of a snapshot: its version-keyed identity plus
    * optional file-level stats (`schemaJson`/`statsB64` null when absent).
    * `schemaParsed` is the pre-parsed schema when the producer had it in
    * hand (the `S` dictionary parses each distinct schema ONCE for all its
    * files — 100k same-schema entries must not mean 100k JSON parses).
    * `dv` is the file's deletion vector, null for a fully-live file. */
  final case class Entry(meta: FileMeta, schemaJson: String, statsB64: String,
      schemaParsed: StructType = null,
      dv: DeletionVector.DvInfo = null) {
    /** Rows the file contributes to the table (footer rows minus dead). */
    def liveRowsOf(footerRows: Long): Long =
      if (dv == null) footerRows else math.max(0L, footerRows - dv.cardinality)
    /** Synthetic one-page-per-leaf footer for file-level pruning, or None
      * when this entry carries no stats (or they fail to parse — stats
      * accelerate, never wall). Memoized: entries are shared across cached
      * snapshots, so each file's stats decode once. */
    lazy val synthetic: Option[graft.format.StrawFooter] =
      if (schemaJson == null || statsB64 == null) None
      else
        try {
          val schema =
            if (schemaParsed != null) schemaParsed
            else DataType.fromJson(schemaJson).asInstanceOf[StructType]
          Some(ManifestStats.decode(schema,
            java.util.Base64.getDecoder.decode(statsB64)))
        } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The entry for a just-written file, with file-level stats from its
    * (cached) footer; stats-less on any error — a commit must never fail
    * because statistics couldn't be derived. */
  def entryFor(m: FileMeta): Entry =
    try {
      val footer = FooterCache.get(m.path, m.mtime, m.len)
      Entry(m, footer.schema.json,
        java.util.Base64.getEncoder.encodeToString(ManifestStats.encode(footer)))
    } catch { case scala.util.control.NonFatal(_) => Entry(m, null, null) }

  def logDir(table: String): Path = new Path(table, DirName)

  /** Log-served snapshot resolutions — observability (zero-walk proofs). */
  val hits = new java.util.concurrent.atomic.AtomicLong()

  // replayed snapshots keyed by (log dir, version, commit-file mtime, len):
  // replay happens once per version per process, every later planning pass
  // is a map hit. The (mtime, len) of the version FILE is in the key so a
  // deleted-and-recreated log (the external-writer escape hatch) can never
  // serve the previous incarnation's snapshot for a colliding version
  // number — same version-keying discipline as [[FooterCache]].
  private val cache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), Snapshot](64, 0.75f, true)

  // Eviction is bounded by snapshot COUNT and by retained ENTRY count: a
  // cold-replayed snapshot owns its whole entry vector, so 256 of them over
  // a 100k-file table would pin ~25M Entry objects (stats strings included)
  // and turn commit latency into GC time. Monotonic commits are exempt from
  // the weight pressure in practice: [[afterCommit]] derives each new
  // snapshot from the previous one, SHARING unchanged Entry objects, so the
  // weight metric (which counts shared entries once per snapshot) merely
  // evicts old versions early — replay restores them on demand, never
  // wrongly.
  private val MaxCachedSnapshots = 256
  private val MaxCachedEntries = 1000000L

  // Highest version ever cached per log dir, with its commit file's
  // (mtime, len). Lets [[resolveOnce]] answer "what is the latest
  // snapshot?" with TWO getFileStatus probes (is version+1 absent? is
  // version's file unchanged?) instead of a full log-directory listing —
  // the listing is O(retained log files) PER PLANNING PASS and per commit,
  // which the 3,000-commit mutation drill measured at ~0.16 ms/file/commit
  // locally (~540 ms/commit at 3.4k log files; on an object store it is
  // paged LIST requests). The probe is only a shortcut for "nothing new":
  // any surprise (a successor version exists — foreign committers land
  // here —, the hinted file changed or vanished, no cached snapshot) falls
  // back to the listing. Point-in-time semantics are unchanged — a
  // snapshot may always be one commit stale under concurrency; writers
  // re-resolve after a lost claim race, which drops the hint first.
  private val latestHint =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  private def cachePut(key: (String, Long, Long, Long), snap: Snapshot): Unit =
    cache.synchronized {
      // >= : on an equal version number the newest observation wins, so a
      // deleted-and-recreated version file (new mtime/len) refreshes the
      // hint instead of pinning a permanently stale probe target
      latestHint.merge(key._1, (key._2, key._3, key._4),
        (a, b) => if (b._1 >= a._1) b else a)
      cache.put(key, snap)
      var total = 0L
      cache.values.forEach(s => total += s.entries.size)
      val it = cache.entrySet().iterator()
      while (it.hasNext &&
          (cache.size > MaxCachedSnapshots || total > MaxCachedEntries) &&
          cache.size > 1) {
        val e = it.next()
        if (e.getValue ne snap) { total -= e.getValue.entries.size; it.remove() }
      }
    }

  private val writeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Raw FS (no checksum sidecars) — single-file atomic ops. */
  private[spark] def rawFs(dir: String): FileSystem =
    StrawIO.fs(dir) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def versionOf(name: String, ext: String): Option[Long] =
    if (!name.endsWith(ext)) None
    else {
      val stem = name.dropRight(ext.length)
      if (stem.length == 20 && stem.forall(_.isDigit)) Some(stem.toLong) else None
    }

  private def commitPath(ld: Path, v: Long) = new Path(ld, f"$v%020d$CommitExt")
  private def checkpointPath(ld: Path, v: Long) = new Path(ld, f"$v%020d$CheckpointExt")

  /** Log-directory listings performed — observability: steady-state
    * planning over an unchanged table should resolve via [[latestHint]]
    * probes and not move this counter. */
  val listings = new java.util.concurrent.atomic.AtomicLong()

  /** (commit version → file (mtime, len), checkpoint versions) present —
    * ONE shallow listing of the log directory (not a recursive data walk). */
  private def listVersions(f: FileSystem, ld: Path)
      : (scala.collection.SortedMap[Long, (Long, Long)], Seq[Long]) = {
    listings.incrementAndGet()
    val sts =
      try f.listStatus(ld)
      catch { case _: java.io.FileNotFoundException =>
        return (scala.collection.SortedMap.empty, Nil) }
    val commits = scala.collection.SortedMap.newBuilder[Long, (Long, Long)]
    val checkpoints = Seq.newBuilder[Long]
    sts.foreach { st =>
      val n = st.getPath.getName
      versionOf(n, CommitExt).foreach(
        commits += _ -> ((st.getModificationTime, st.getLen)))
      versionOf(n, CheckpointExt).foreach(checkpoints += _)
    }
    (commits.result(), checkpoints.result().sorted)
  }

  def exists(table: String): Boolean =
    try rawFs(table).getFileStatus(logDir(table)).isDirectory
    catch { case _: java.io.IOException => false }

  // -------------------------------------------------------------------
  // In-flight maintenance markers: a maintenance op's outputs surface
  // (renamed visible, stamped with OLD input mtimes) BEFORE its log
  // commit references them — precisely the shape vacuumUnreferenced
  // reclaims. The marker file signals "an op is between rename and
  // commit"; vacuum refuses to run while any fresh marker exists and
  // reclaims stale ones (crashed ops) along with their debris.
  // -------------------------------------------------------------------
  private val InflightPrefix = ".inflight."

  private[spark] def markInflight(table: String, jobId: String): Unit = {
    val f = rawFs(table)
    val ld = logDir(table)
    f.mkdirs(ld)
    val os = f.create(new Path(ld, s"$InflightPrefix$jobId"), true)
    os.close()
  }

  private[spark] def clearInflight(table: String, jobId: String): Unit =
    try { rawFs(table).delete(new Path(logDir(table), s"$InflightPrefix$jobId"), false): Unit }
    catch { case scala.util.control.NonFatal(_) => }

  /** A marker younger than this is an op that may still be running — an
    * aggressive vacuum's `olderThanMs` must not shrink the window below
    * it, or a healthy long rename fan-out gets its outputs swept mid-op.
    * Six hours bounds how long a crashed op's debris lingers. */
  private[spark] val InflightTtlMs = 6 * 3600 * 1000L

  /** Fresh in-flight markers (and, as a side effect, reclaim stale ones
    * older than `cutoff` — their op crashed; its debris is fair game). */
  private def freshInflight(f: FileSystem, ld: Path, cutoff: Long): Seq[String] =
    try {
      f.listStatus(ld).toSeq
        .filter(_.getPath.getName.startsWith(InflightPrefix))
        .flatMap { st =>
          if (st.getModificationTime >= cutoff) Seq(st.getPath.getName)
          else { f.delete(st.getPath, false); Seq.empty }
        }
    } catch { case _: java.io.FileNotFoundException => Seq.empty }

  def latestVersion(table: String): Option[Long] = {
    val f = rawFs(table)
    val ld = logDir(table)
    // streaming sources poll this per micro-batch: answer from the probe
    // (two stats) when the hint provably still names the latest commit
    probeLatest(f, ld) match {
      case Some((v, _, _)) => Some(v)
      case None =>
        val (commits, _) = listVersions(f, ld)
        commits.keySet.lastOption
    }
  }

  /** The hinted (version, mtime, len) when it PROVABLY still names the
    * latest commit — successor file absent (committed versions are gapless,
    * so `hint+1` is where any newer commit, foreign ones included, must
    * land) and the hinted file's identity unchanged (guards the
    * delete-and-recreate-log escape hatch). None → the caller must list. */
  private def probeLatest(f: FileSystem, ld: Path): Option[(Long, Long, Long)] = {
    val h = latestHint.get(f.makeQualified(ld).toString)
    if (h == null) return None
    val (hv, hm, hl) = h
    val successor =
      try { f.getFileStatus(commitPath(ld, hv + 1)); true }
      catch { case _: java.io.FileNotFoundException => false }
    if (successor) return None
    val unchanged =
      try {
        val st = f.getFileStatus(commitPath(ld, hv))
        st.getModificationTime == hm && st.getLen == hl
      } catch { case _: java.io.FileNotFoundException => false }
    if (unchanged) Some(h) else None
  }

  /** The latest snapshot, or None when the table has no log — callers
    * fall back to walking. A log that exists but cannot be read throws
    * ([[resolve]]). */
  def snapshot(table: String): Option[Snapshot] = resolve(table, None)

  /** The snapshot AS OF `version` (time travel). None when the log is
    * absent/unreadable or the version exceeds the latest; reads of entries
    * whose files were since vacuumed fail at scan time, not here. */
  def snapshotAt(table: String, version: Long): Option[Snapshot] =
    resolve(table, Some(version))

  /** The column-mapping state visible at `asOf` (or latest). Empty for
    * tables without a log or without rename/drop history — the zero-cost
    * common case every schema/scan/write resolution starts from. */
  def mappingAt(table: String, asOf: Option[Long] = None): ColumnMappingState =
    asOf.fold(snapshot(table))(snapshotAt(table, _))
      .map(_.mapping).getOrElse(ColumnMappingState.Empty)

  /** The newest version whose commit-file timestamp is at or before
    * `tsMs` — the `timestampAsOf` resolution. None when the log is absent
    * or nothing was committed by then. Commit timestamps are the log
    * files' mtimes: monotone in practice (commits serialize on the version
    * claim) but clock-skewed writers can blur sub-second ordering. */
  def versionAtTimestamp(table: String, tsMs: Long): Option[Long] = {
    val (commits, _) = listVersions(rawFs(table), logDir(table))
    commits.toSeq.filter(_._2._1 <= tsMs).map(_._1).maxOption
  }

  /** (version, commit-file mtime) of the newest retained commit. */
  def latestCommitInfo(table: String): Option[(Long, Long)] = {
    val (commits, _) = listVersions(rawFs(table), logDir(table))
    commits.lastOption.map { case (v, (mtime, _)) => (v, mtime) }
  }

  /** Resolution failure classes: None = genuinely no log (or the asOf
    * version was never committed / was vacuumed) — callers fall back to a
    * walk. A log that EXISTS but cannot be replayed (IO error, corrupt
    * version file, replay gap) THROWS after one retry
    * instead: silently degrading to a directory walk would expose
    * uncommitted renamed files, mid-vacuum both-generations states, and —
    * worst — resurrect rows deleted via deletion vectors (the walk cannot
    * see sidecars). The retry absorbs benign races (a concurrent vacuumLog
    * deleting a commit file between the listing and the read); the throw
    * mirrors the commit side's refusal. Deleting `_straw_log/` remains the
    * explicit escape hatch back to listing. */
  private def resolve(table: String, asOf: Option[Long]): Option[Snapshot] = {
    var attempt = 0
    while (true) {
      try return resolveOnce(table, asOf)
      catch {
        case scala.util.control.NonFatal(e) =>
          attempt += 1
          if (attempt >= 2) throw new IllegalStateException(
            s"strawboat: transaction log of $table exists but is unreadable — " +
              "refusing to fall back to a directory listing (it could expose " +
              "uncommitted files and resurrect deleted rows); repair or delete " +
              s"$DirName to force listing", e)
      }
    }
    None // unreachable
  }

  private def resolveOnce(table: String, asOf: Option[Long]): Option[Snapshot] = {
    val f = rawFs(table)
    val ld = logDir(table)
    // latest-snapshot fast path: serve the hinted cached snapshot when no
    // successor version exists and the hinted commit file is unchanged —
    // two stat probes instead of an O(log files) directory listing (see
    // [[latestHint]]). Probe ORDER matters: successor-absence is checked
    // first, so a commit landing between the probes merely serves the
    // (valid) previous point-in-time snapshot, never a torn state.
    if (asOf.isEmpty) {
      val ldq = f.makeQualified(ld).toString
      val h = latestHint.get(ldq)
      if (h != null) {
        val cached = cache.synchronized(Option(cache.get((ldq, h._1, h._2, h._3))))
        if (cached.isDefined && probeLatest(f, ld).contains(h)) {
          hits.incrementAndGet(); return cached
        }
      }
    }
    val (commits, checkpoints) = listVersions(f, ld)
    if (commits.isEmpty) return None
    val target = asOf match {
      case Some(v) => if (commits.contains(v)) v else return None
      case None => commits.lastKey
    }
    val (tMtime, tLen) = commits(target)
    val key = (f.makeQualified(ld).toString, target, tMtime, tLen)
    cache.synchronized(Option(cache.get(key))).foreach { s =>
      hits.incrementAndGet(); return Some(s)
    }
    def unreadable(what: String): Nothing =
      throw new java.io.IOException(s"strawboat: log of $table: $what")
    // replay: nearest checkpoint at or below the target, then the commit
    // tail. A gap in the tail (cleaned or lost version file) is a replay
    // failure — never serve a snapshot with holes.
    val base = checkpoints.filter(_ <= target).lastOption
    val start = base.map(_ + 1).getOrElse(
      if (commits.firstKey == 1L) 1L
      else unreadable(s"no checkpoint at or below $target and no version 1"))
    val tail = (start to target).filter { v =>
      if (!commits.contains(v)) unreadable(s"version $v missing from the tail")
      true
    }
    val qdir = StrawIO.fs(table).makeQualified(new Path(table)).toString
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    var txns = Map.empty[String, Long]
    var constraints = Map.empty[String, String]
    var mapping = ColumnMappingState.Empty
    // applies one commit's actions in file order; a DV action on a path
    // the state doesn't hold is an inconsistent log (the committer
    // validated presence) — unreadable rather than dropped deletes
    def apply(a: Actions): Unit = {
      a.actions.foreach {
        case AddAction(e) => entries(e.meta.path) = e
        case RemoveAction(removed) => entries.remove(removed): Unit
        case DvAction(dataPath, dv) => entries.get(dataPath) match {
          case Some(e) => entries(dataPath) = e.copy(dv = dv)
          case None => unreadable(s"DV action targets unknown file $dataPath")
        }
      }
      txns ++= a.txns
      a.constraintOps.foreach {
        case (name, Some(expr)) => constraints += (name -> expr)
        case (name, None) => constraints -= name
      }
      a.mapping.foreach(mapping = _) // full-state line: latest wins
    }
    base.foreach { cv =>
      apply(parseActions(readLines(f, checkpointPath(ld, cv)), qdir)
        .getOrElse(unreadable(s"checkpoint $cv does not parse")))
    }
    tail.foreach { v =>
      apply(parseActions(readLines(f, commitPath(ld, v)), qdir)
        .getOrElse(unreadable(s"commit $v does not parse")))
    }
    val snap =
      Snapshot(target, entries.values.toVector.sortBy(_.meta.path), txns,
        constraints, mapping)
    cachePut(key, snap)
    hits.incrementAndGet()
    Some(snap)
  }

  private def readLines(f: FileSystem, p: Path): Array[String] = {
    val st = f.getFileStatus(p)
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](st.getLen.toInt)
      in.readFully(0, bytes)
      new String(bytes, "UTF-8").split('\n')
    } finally in.close()
  }

  /** One commit/checkpoint action, applied in file order on replay. */
  private sealed trait Action
  private final case class AddAction(e: Entry) extends Action
  private final case class RemoveAction(path: String) extends Action
  private final case class DvAction(dataPath: String,
      dv: DeletionVector.DvInfo) extends Action

  /** One parsed commit/checkpoint body: actions in file order, txns,
    * constraint set/drop ops in file order, the column-mapping state (full
    * replacement, latest wins), and the operation description. */
  private final case class Actions(actions: Seq[Action],
      txns: Map[String, Long], op: String,
      constraintOps: Seq[(String, Option[String])] = Seq.empty,
      mapping: Option[ColumnMappingState] = None)

  /** The sidecar path a `D` line's (dvName, data relpath) resolves to: the
    * DV lives in the data file's own directory. */
  private def dvPathOf(qdir: String, dataRel: String, dvName: String): String = {
    val slash = dataRel.lastIndexOf('/')
    if (slash < 0) s"$qdir/$dvName"
    else s"$qdir/${dataRel.substring(0, slash + 1)}$dvName"
  }

  /** Parse one commit/checkpoint body; None on any malformed framing
    * (missing header or `E` terminator, bad line) — the caller treats the
    * whole log as unreadable rather than trusting a partial parse. */
  private def parseActions(lines: Array[String], qdir: String): Option[Actions] = {
    if (lines.isEmpty || !lines(0).startsWith(Header)) return None
    val body = lines.drop(1).filter(_.nonEmpty)
    if (body.isEmpty || body.last != "E") return None
    val schemas = scala.collection.mutable.ArrayBuffer.empty[(String, StructType)]
    val out = Seq.newBuilder[Action]
    var txns = Map.empty[String, Long]
    val constraintOps = Seq.newBuilder[(String, Option[String])]
    var mapping: Option[ColumnMappingState] = None
    var op = ""
    try {
      body.dropRight(1).foreach { line =>
        if (line.startsWith("S")) parseSchemaLine(line, schemas)
        else if (line.startsWith("A\t")) out += AddAction(parseAddLine(line, schemas, qdir))
        else if (line.startsWith("R\t")) {
          out += RemoveAction(s"$qdir/${line.substring(2)}")
        } else if (line.startsWith("D\t")) {
          // D\t<dvLen>\t<dvCardinality>\t<dvFileName>\t<data relpath> —
          // data path LAST (unconstrained), dv name tab-free by writer rule
          val parts = line.split('\t')
          require(parts.length >= 5, s"bad log dv line: $line")
          val dataRel = parts.drop(4).mkString("\t")
          out += DvAction(s"$qdir/$dataRel",
            DeletionVector.DvInfo(dvPathOf(qdir, dataRel, parts(3)),
              parts(1).toLong, parts(2).toLong))
        } else if (line.startsWith("X\t")) {
          val parts = line.split('\t')
          require(parts.length >= 3, s"bad log txn line: $line")
          txns += (parts.drop(2).mkString("\t") -> parts(1).toLong)
        } else if (line.startsWith("C\t")) {
          val parts = line.split('\t')
          require(parts.length == 3, s"bad log constraint line: $line")
          constraintOps += (parts(1) -> (parts(2) match {
            case "-" => None
            case b64 => Some(new String(
              java.util.Base64.getDecoder.decode(b64), "UTF-8"))
          }))
        } else if (line.startsWith("M\t") || line == "M") {
          // M\t<alias pairs>\t<dropped>\t<writeNames pairs> — full state
          // (limit -1: empty trailing tokens are meaningful empty sets)
          val parts = line.split("\t", -1)
          require(parts.length == 4 || parts.length == 1,
            s"bad log mapping line: $line")
          mapping = Some(
            if (parts.length == 1) ColumnMappingState.Empty
            else ColumnMappingState.parse(parts(1), parts(2), parts(3)))
        } else if (line.startsWith("O\t")) {
          op = line.substring(2)
        } else require(false, s"bad log line: $line")
      }
      Some(Actions(out.result(), txns, op, constraintOps.result(), mapping))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Write the `S<idx>\t<schema json>` dictionary of `sorted`'s distinct
    * schemas; returns each schema's index for [[appendAddLine]]. */
  private def appendSchemaDict(sb: StringBuilder,
      sorted: Seq[Entry]): scala.collection.Map[String, Int] = {
    val schemaIdx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    sorted.foreach { e =>
      if (e.schemaJson != null && !schemaIdx.contains(e.schemaJson)) {
        val idx = schemaIdx.size
        schemaIdx(e.schemaJson) = idx
        sb.append('S').append(idx).append('\t').append(e.schemaJson).append('\n')
      }
    }
    schemaIdx
  }

  private def appendAddLine(sb: StringBuilder, e: Entry,
      schemaIdx: scala.collection.Map[String, Int], prefix: String): Unit = {
    require(e.meta.path.startsWith(prefix), s"log entry outside table: ${e.meta.path}")
    sb.append("A\t").append(e.meta.mtime).append('\t').append(e.meta.len)
      .append('\t')
      .append(if (e.schemaJson == null) "-" else schemaIdx(e.schemaJson).toString)
      .append('\t')
      .append(if (e.statsB64 == null) "-" else e.statsB64)
      .append('\t')
      .append(e.meta.path.substring(prefix.length)).append('\n')
  }

  /** Parse one `S<idx>\t<json>` dictionary line; each DISTINCT schema
    * parses once, every entry of that schema shares the instance. */
  private def parseSchemaLine(line: String,
      schemas: scala.collection.mutable.ArrayBuffer[(String, StructType)]): Unit = {
    val t = line.indexOf('\t')
    require(t > 0 && line.substring(1, t).toInt == schemas.size,
      s"bad log schema line: $line")
    val json = line.substring(t + 1)
    schemas += ((json, DataType.fromJson(json).asInstanceOf[StructType]))
  }

  private def parseAddLine(line: String,
      schemas: scala.collection.IndexedSeq[(String, StructType)], qdir: String): Entry = {
    val parts = line.split('\t') // path (last) re-joined below if it had tabs
    require(parts.length >= 6, s"bad log line: $line")
    val relPath = parts.drop(5).mkString("\t")
    val (schemaJson, schemaParsed) =
      if (parts(3) == "-") (null, null) else schemas(parts(3).toInt)
    val statsB64 = if (parts(4) == "-") null else parts(4)
    Entry(FileMeta(s"$qdir/$relPath", parts(1).toLong, parts(2).toLong),
      schemaJson, statsB64, schemaParsed)
  }

  private def serialize(adds: Seq[Entry], removes: Seq[String],
      txns: Map[String, Long], qdir: String, op: String,
      dvs: Seq[(String, DeletionVector.DvInfo)] = Seq.empty,
      constraintOps: Seq[(String, Option[String])] = Seq.empty,
      mapping: Option[ColumnMappingState] = None): String = {
    val prefix = qdir + "/"
    val sb = new StringBuilder(Header)
      .append(java.util.UUID.randomUUID().toString).append('\n')
    if (op.nonEmpty)
      sb.append("O\t").append(op.replace('\n', ' ').replace('\t', ' ')).append('\n')
    val sorted = adds.sortBy(_.meta.path)
    val schemaIdx = appendSchemaDict(sb, sorted)
    // R before A before D: replay applies actions in file order — a DV
    // must attach after its file's add, and if the adds/removes
    // disjointness requirement is ever relaxed, an in-place path
    // replacement nets to ADDED rather than silently removed
    removes.sorted.foreach { p =>
      require(p.startsWith(prefix), s"log remove outside table: $p")
      sb.append("R\t").append(p.substring(prefix.length)).append('\n')
    }
    sorted.foreach(appendAddLine(sb, _, schemaIdx, prefix))
    dvs.sortBy(_._1).foreach { case (dataPath, dv) =>
      require(dataPath.startsWith(prefix), s"log dv outside table: $dataPath")
      val dataRel = dataPath.substring(prefix.length)
      val dvName = dv.path.substring(dv.path.lastIndexOf('/') + 1)
      require(!dvName.contains('\t') && dvName.endsWith(DeletionVector.Extension),
        s"log dv sidecar name not frameable: ${dv.path}")
      require(dv.path == dvPathOf(qdir, dataRel, dvName),
        s"log dv sidecar not beside its data file: ${dv.path} vs $dataPath")
      sb.append("D\t").append(dv.len).append('\t').append(dv.cardinality)
        .append('\t').append(dvName).append('\t').append(dataRel).append('\n')
    }
    txns.toSeq.sortBy(_._1).foreach { case (app, v) =>
      sb.append("X\t").append(v).append('\t').append(app).append('\n')
    }
    constraintOps.foreach { case (name, exprOpt) =>
      require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
        s"log constraint name not frameable: '$name'")
      sb.append("C\t").append(name).append('\t')
        .append(exprOpt.fold("-")(e =>
          java.util.Base64.getEncoder.encodeToString(e.getBytes("UTF-8"))))
        .append('\n')
    }
    mapping.foreach(m => sb.append("M\t").append(m.serialize).append('\n'))
    sb.append("E\n")
    sb.toString
  }

  /** The version-claim primitive, PLUGGABLE for stores with a true
    * conditional put. `claim(f, tmp, dst, headerLine)` must place `tmp`'s
    * content at `dst` iff no `dst` exists, returning true only when THIS
    * writer's content is live there — the create-if-absent contract every
    * commit races on. An object-store deployment (S3 `If-None-Match`, GCS
    * generation-0 preconditions, ABFS lease) plugs its conditional PUT in
    * via the `graft.strawboat.claimStore` system property (class name, no-
    * arg constructor); without one, same-version races on such stores
    * degrade to rename-then-verify. May throw
    * [[StrawLog.AmbiguousCommitException]] when the outcome cannot be
    * determined — callers then must NOT roll back the commit's files. */
  trait ClaimStore {
    def claim(f: FileSystem, tmp: Path, dst: Path, headerLine: String): Boolean
  }

  /** Default claim: atomic hard link on `file:`; non-overwriting rename
    * plus read-back verification elsewhere.
    *
    * Verification rationale: HDFS rename does not overwrite, but the
    * exists+rename pair is check-then-act — on stores whose rename CAN
    * overwrite, two same-version racers may each observe exists=false and
    * "win", and without verification the true loser (whose content was
    * overwritten) would silently lose its commit. The destination is
    * re-read and the body's UUID header compared; a mismatch reports
    * false (retry at the next version). A rename that succeeded but
    * cannot be VERIFIED is ambiguous — this writer's commit may well be
    * live at `dst`, so reporting "lost" would send the caller into a
    * retry that sees its own effects as a conflict and rolls back files
    * the committed version references; it throws instead. */
  final class DefaultClaimStore extends ClaimStore {
    override def claim(f: FileSystem, tmp: Path, dst: Path,
        headerLine: String): Boolean =
      if (f.getUri.getScheme == "file") {
        // hard link: atomic create-if-absent — no verification needed
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case scala.util.control.NonFatal(_) => false
        }
      } else {
        val renamed =
          try !f.exists(dst) && f.rename(tmp, dst)
          catch { case scala.util.control.NonFatal(_) => false }
        renamed && {
          var read: Option[String] = None
          var attempt = 0
          while (read.isEmpty && attempt < 3) {
            try read = readLines(f, dst).headOption
            catch { case scala.util.control.NonFatal(_) => attempt += 1 }
          }
          read match {
            case Some(h) => h == headerLine
            case None => throw new AmbiguousCommitException(
              s"strawboat: claimed $dst but cannot read it back to verify the " +
                "claim — the commit may or may not be live; do NOT roll back " +
                "its files; inspect the log before retrying")
          }
        }
      }
  }

  @volatile private var claimStoreOverride: ClaimStore = _
  private lazy val configuredClaimStore: ClaimStore =
    sys.props.get("graft.strawboat.claimStore") match {
      case Some(cn) => Class.forName(cn).getDeclaredConstructor()
        .newInstance().asInstanceOf[ClaimStore]
      case None => new DefaultClaimStore
    }
  private def claimStore: ClaimStore = {
    val o = claimStoreOverride
    if (o != null) o else configuredClaimStore
  }
  /** Test/embedding hook: install a claim store programmatically
    * (null restores the configured one). */
  def setClaimStore(cs: ClaimStore): Unit = claimStoreOverride = cs

  private[spark] def claim(f: FileSystem, tmp: Path, dst: Path,
      headerLine: String): Boolean = {
    val won = claimStore.claim(f, tmp, dst, headerLine)
    try f.delete(tmp, false) catch { case scala.util.control.NonFatal(_) => }
    won
  }

  /** Raised when a commit with removes loses a race against another
    * committer that already removed (or replaced) one of the same files —
    * retrying blindly would resurrect or double-delete a generation. */
  final class ConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Raised when a version claim's outcome cannot be determined (the
    * destination was written but cannot be read back for verification):
    * the commit MAY be live, so callers must not roll back the files it
    * references — rollback paths treat this as "leave everything in
    * place and fail the operation". */
  final class AmbiguousCommitException(msg: String)
    extends java.io.IOException(msg)

  /** One DV assignment within a commit: attach `dv` to `dataPath`,
    * expecting the file's CURRENT sidecar to be `expectedOld` (None = none).
    * The expectation is the lost-update guard: two committers that each
    * unioned the same base bitmap must not silently drop one another's
    * deletes — the loser's stale expectation surfaces as a conflict. */
  final case class DvUpdate(dataPath: String, dv: DeletionVector.DvInfo,
      expectedOld: Option[String])

  /** Commit `adds` (absolute-path entries, stats optional) and `removes`
    * (absolute paths) as the next log version and return it.
    *
    * First commit on a table BOOTSTRAPS the log: one directory walk folds
    * the files already present into version 1 as stats-less adds.
    *
    * `txn = (appId, version)` makes the commit idempotent per appId: when
    * the log already records `appId` at `version` or later the commit is a
    * no-op returning the current version — the streaming-epoch replay guard.
    *
    * Append-only commits retry transparently when another committer claims
    * the version first (adds commute). Commits with `removes` throw
    * [[ConflictException]] when any removed path is no longer in the latest
    * snapshot; commits with `dvs` throw it when the target file is gone or
    * its current DV is not the one the op unioned from.
    *
    * `expectDvOnRemove`: the sidecar (None = none) each removed path
    * carried when the REMOVING op read its rows. Path presence alone is not
    * enough for removes: a concurrent merge-on-read DELETE mutates a file's
    * entry WITHOUT removing the path (it only swaps the DV), so a
    * compaction/rewrite that read the file before that delete would
    * otherwise commit a replacement still containing the freshly-deleted
    * rows — silent resurrection. A mismatch throws [[ConflictException]]
    * (rerun the op over the new snapshot). Removers that genuinely read the
    * files they remove should always pass this. */
  def commit(table: String, adds: Seq[Entry], removes: Set[String] = Set.empty,
      txn: Option[(String, Long)] = None, op: String = "",
      dvs: Seq[DvUpdate] = Seq.empty,
      expectDvOnRemove: Map[String, Option[String]] = Map.empty,
      constraintOps: Seq[(String, Option[String])] = Seq.empty,
      mappingUpdate: Option[(ColumnMappingState, ColumnMappingState)] = None,
      expectVersion: Option[Long] = None): Long = {
    require(constraintOps.map(_._1).distinct.length == constraintOps.length,
      "strawboat: log commit carries two ops for one constraint name")
    require(adds.map(_.meta.path).toSet.intersect(removes).isEmpty,
      "strawboat: log commit adds and removes must be disjoint (an in-place " +
        "path replacement would net to REMOVED on replay)")
    require(dvs.map(_.dataPath).distinct.length == dvs.length,
      "strawboat: log commit carries two DV updates for one file")
    require(dvs.forall(d => !removes(d.dataPath)),
      "strawboat: DV updates must not target files the commit removes " +
        "(a remove takes the sidecar along)")
    // a DV may target a path this commit ADDS — the restore shape: the A
    // line re-instates the file (clearing any sidecar, A lines carry none)
    // and the D line re-attaches the one the restored version held; replay
    // applies them in file order. Such a DV carries no expectation (the add
    // is authoritative, there is no current sidecar to race against).
    require(dvs.forall(d =>
      !adds.exists(_.meta.path == d.dataPath) || d.expectedOld.isEmpty),
      "strawboat: a DV update on a path this commit adds must expect no " +
        "prior sidecar")
    // read (and VALIDATE) the checkpoint cadence before any side effect:
    // afterCommit swallows failures by contract (the version file IS the
    // commit), so a malformed conf evaluated there would silently stop
    // checkpointing instead of refusing
    val ckptEvery = checkpointInterval
    val lock = writeLocks.computeIfAbsent(table, _ => new Object)
    lock.synchronized {
      val f = rawFs(table)
      val ld = logDir(table)
      f.mkdirs(ld)
      // last-moment existence check on everything this commit is about to
      // reference: a concurrent vacuumUnreferenced that raced the
      // maintenance window (or an operator deleting files by hand) must
      // fail the commit LOUDLY here — committing references to deleted
      // files would silently lose rows at the very next read
      StrawIO.mapParallel(adds.map(_.meta.path) ++ dvs.map(_.dv.path)) { p =>
        try f.getFileStatus(new Path(p))
        catch {
          case _: java.io.FileNotFoundException => throw new IllegalStateException(
            s"strawboat: commit on $table references missing file $p " +
              "(concurrent vacuum or manual deletion?) — aborting before the " +
              "log records it")
        }
      }
      val qdir = StrawIO.fs(table).makeQualified(new Path(table)).toString
      var attempt = 0
      while (true) {
        val cur = snapshot(table)
        if (cur.isEmpty) {
          // distinguish "no log" (bootstrap) from "log present but
          // unreadable" (corrupt/vacuumed tail, concurrent cleanup):
          // bootstrapping over an EXISTING log would claim a low version
          // number the latest snapshot never replays — a silent fork that
          // loses the commit (and, with removes, deletes files the live
          // snapshot still references). Refuse instead.
          val (commits, _) = listVersions(f, ld)
          if (commits.nonEmpty) throw new IllegalStateException(
            s"strawboat: transaction log of $table exists (versions " +
              s"${commits.firstKey}..${commits.lastKey}) but cannot be " +
              "resolved — refusing to commit over an unreadable log; repair " +
              "or delete _straw_log to fall back to directory listing")
        }
        txn.foreach { case (app, v) =>
          if (cur.exists(_.txns.getOrElse(app, Long.MinValue) >= v))
            return cur.get.version // replayed epoch: already committed
        }
        if (removes.nonEmpty) cur.foreach { s =>
          val gone = removes.filterNot(s.pathSet)
          if (gone.nonEmpty) throw new ConflictException(
            s"strawboat: log commit removes ${gone.size} file(s) no longer in " +
              s"version ${s.version} of $table (concurrent truncate/compaction?): " +
              gone.take(3).mkString(", "))
        }
        cur.foreach { s =>
          val byPath = s.entries.map(e => e.meta.path -> e).toMap
          expectDvOnRemove.foreach { case (p, expected) =>
            byPath.get(p).foreach { e =>
              val curDv = Option(e.dv).map(_.path)
              if (curDv != expected) throw new ConflictException(
                s"strawboat: remove of $p expected sidecar " +
                  s"${expected.getOrElse("none")} but version ${s.version} holds " +
                  s"${curDv.getOrElse("none")} — a concurrent row delete landed " +
                  "after this op read the file; rerun it over the new snapshot")
            }
          }
          dvs.foreach { d =>
            // a DV riding an ADD (restore re-attachment) answers to the add,
            // not to the current snapshot — the path may well be absent
            if (!adds.exists(_.meta.path == d.dataPath))
              byPath.get(d.dataPath) match {
                case None => throw new ConflictException(
                  s"strawboat: DV commit targets ${d.dataPath}, no longer in " +
                    s"version ${s.version} of $table (concurrent rewrite?)")
                case Some(e) =>
                  val curDv = Option(e.dv).map(_.path)
                  if (curDv != d.expectedOld) throw new ConflictException(
                    s"strawboat: DV commit on ${d.dataPath} expected sidecar " +
                      s"${d.expectedOld.getOrElse("none")} but version ${s.version} " +
                      s"holds ${curDv.getOrElse("none")} (concurrent delete?)")
              }
          }
        }
        // constraint set/drop races on the NAME: a concurrent add of the
        // same name (different expression) or a drop of a name a racing
        // commit already dropped must conflict, not silently last-write-win
        constraintOps.foreach {
          case (name, Some(expr)) =>
            val existing = cur.map(_.constraints).getOrElse(Map.empty).get(name)
            if (existing.exists(_ != expr)) throw new ConflictException(
              s"strawboat: constraint '$name' already exists on $table with a " +
                s"different expression (concurrent ADD CONSTRAINT?)")
          case (name, None) =>
            if (!cur.exists(_.constraints.contains(name)))
              throw new ConflictException(
                s"strawboat: constraint '$name' not present in " +
                  s"version ${cur.map(_.version).getOrElse(0L)} of $table " +
                  "(concurrent drop?)")
        }
        // a DDL commit pins the exact snapshot version its schema checks
        // ran against: ANY commit in between — mapping or plain data —
        // conflicts. The mapping-state check below alone cannot catch a
        // rename racing a concurrent ADD COLUMN of the new name (a data
        // commit carrying only a schema marker), which would yield two
        // sources of one logical column.
        expectVersion.foreach { v0 =>
          val live = cur.map(_.version).getOrElse(0L)
          if (live != v0) throw new ConflictException(
            s"strawboat: DDL commit on $table derived from version $v0 but " +
              s"the log is now at $live (concurrent commit) — re-check and " +
              "rerun the statement")
        }
        // a mapping update carries the state it was derived FROM: a racing
        // metadata commit in between must conflict, not silently lose the
        // earlier ALTER on replay (full-state lines are last-writer-wins)
        mappingUpdate.foreach { case (expected, _) =>
          val live = cur.map(_.mapping).getOrElse(ColumnMappingState.Empty)
          if (live != expected) throw new ConflictException(
            s"strawboat: column-mapping commit on $table derived from a stale " +
              s"state (concurrent ALTER TABLE?) — rerun against version " +
              s"${cur.map(_.version).getOrElse(0L)}")
        }
        val next = cur.map(_.version + 1).getOrElse(1L)
        val addPaths = adds.map(_.meta.path).toSet
        val bootstrap: Seq[Entry] =
          if (cur.isDefined) Seq.empty
          else {
            // fold the pre-log table state into version 1 (one walk)
            StrawIO.walkFilesMeta(table)
              .filterNot(m => addPaths(m.path) || removes(m.path))
              .map(Entry(_, null, null))
          }
        if (cur.isEmpty) {
          // bootstrap: DV targets must exist in the folded state, and no
          // prior sidecar can exist (the pre-log world had no row deletes)
          val known = bootstrap.map(_.meta.path).toSet ++ addPaths
          dvs.foreach { d =>
            require(known(d.dataPath) && d.expectedOld.isEmpty,
              s"strawboat: bootstrap DV commit targets unknown file ${d.dataPath}")
          }
        }
        // a bootstrap needs no R lines: files subtracted from the folded
        // prior state are simply never listed
        val removeLines = if (cur.isEmpty) Seq.empty else removes.toSeq
        val opLine = if (cur.isEmpty && op.nonEmpty) s"$op (bootstrap)" else op
        val body = serialize(bootstrap ++ adds, removeLines,
          txn.map { case (app, v) => Map(app -> v) }.getOrElse(Map.empty), qdir,
          opLine, dvs.map(d => (d.dataPath, d.dv)), constraintOps,
          mappingUpdate.map(_._2))
        val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
        val os = f.create(tmp, true)
        var ok = false
        try { os.write(body.getBytes("UTF-8")); ok = true }
        finally { os.close(); if (!ok) f.delete(tmp, false): Unit }
        if (claim(f, tmp, commitPath(ld, next), body.takeWhile(_ != '\n'))) {
          afterCommit(table, f, ld, qdir, next, cur, body, ckptEvery)
          return next
        }
        attempt += 1
        require(attempt < 50,
          s"strawboat: log commit on $table lost ${attempt} version races — aborting")
        // lost the race: a foreign committer holds `next`. Drop the latest
        // hint so the retry's snapshot() takes the listing path and SEES
        // the foreign version — the fast path alone would keep serving the
        // stale snapshot and spin all 50 attempts on the same claim.
        latestHint.remove(f.makeQualified(ld).toString): Unit
        // (cache stays: it is version-keyed, nothing in it is wrong)
      }
      -1L // unreachable
    }
  }

  /** Post-commit maintenance: materialize the new snapshot into the cache
    * and write a checkpoint every [[CheckpointInterval]] versions. Failures
    * here never fail the commit — the version file IS the commit.
    *
    * The snapshot is derived INCREMENTALLY: the just-written body (the
    * exact bytes replay will read) is parsed and applied on top of the
    * previous snapshot — O(this commit), not an O(table) checkpoint
    * replay per commit. Unchanged [[Entry]] objects (stats strings,
    * memoized synthetic footers included) are shared with the
    * previous version, so a long run of small commits costs O(deltas) of
    * cache memory, not versions x table-size. Replay-from-disk stays the
    * canonical path for cold resolves; the induction base is a replayed
    * snapshot, and the body roundtrips through the same parse/apply code,
    * so the derived state is exactly what a cold replay of `version`
    * produces. Any surprise (gap, unparseable body, DV on an unknown path)
    * falls back to that full replay. */
  // single daemon thread for post-commit maintenance: the every-Nth
  // checkpoint serializes O(table entries) — the ONE remaining per-commit
  // cost term that grows with table size (the cadence drill measured it at
  // ~5 ms/commit amortized at 7k entries; ~70 at 100k). Writing it here
  // takes it off the commit LATENCY path entirely: the committer returns
  // after the O(commit) incremental snapshot, and the checkpoint lands
  // moments later. Safe because a checkpoint is only a replay ANCHOR — any
  // version's checkpoint is valid whenever it appears, `claim`
  // (create-if-absent) already dedups racing writers, and a JVM exit with
  // a pending write merely leaves the older anchor (longer replay tail,
  // never wrong). In-JVM readers of checkpoint FILES synchronize through
  // [[awaitLogMaintenance]] (vacuumLog's anchor choice, invalidate's
  // delete — a pending write must not resurrect a deleted log).
  private val maintenancePool =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "straw-log-maintenance")
      t.setDaemon(true)
      t
    })

  /** Barrier: wait for every queued post-commit maintenance task (async
    * checkpoint writes) to complete. Cheap when the queue is empty. */
  def awaitLogMaintenance(): Unit =
    maintenancePool.submit(new Runnable { def run(): Unit = () }).get(): Unit

  private def afterCommit(table: String, f: FileSystem, ld: Path, qdir: String,
      version: Long, prev: Option[Snapshot], body: String,
      ckptEvery: Int = CheckpointInterval): Unit = {
    try {
      val snap = incrementalSnapshot(f, ld, qdir, version, prev, body)
        .orElse(snapshot(table)).getOrElse(return)
      if (snap.version == version && version % ckptEvery == 0) {
        maintenancePool.submit(new Runnable {
          def run(): Unit = try {
            // A lines never carry DVs — the checkpoint re-attaches them as
            // D lines after the adds, same replay order as a commit
            val body = serialize(snap.entries, Seq.empty, snap.txns, qdir,
              "checkpoint",
              snap.entries.collect { case e if e.dv != null => (e.meta.path, e.dv) },
              snap.constraints.toSeq.sortBy(_._1).map { case (n, e) => (n, Some(e)) },
              if (snap.mapping.isEmpty) None else Some(snap.mapping))
            val tmp = new Path(ld, s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
            val os = f.create(tmp, true)
            var ok = false
            try { os.write(body.getBytes("UTF-8")); ok = true }
            finally { os.close(); if (!ok) f.delete(tmp, false): Unit }
            if (ok) claim(f, tmp, checkpointPath(ld, version), body.takeWhile(_ != '\n')): Unit
          } catch { case scala.util.control.NonFatal(_) => } // maintenance contract
        }): Unit
      }
    } catch { case scala.util.control.NonFatal(_) => }
  }

  /** Apply one just-committed body to the previous snapshot and cache the
    * result (see [[afterCommit]]). None on any shape the fast path cannot
    * prove equivalent to replay — the caller falls back to a full resolve. */
  private def incrementalSnapshot(f: FileSystem, ld: Path, qdir: String,
      version: Long, prev: Option[Snapshot], body: String): Option[Snapshot] = {
    if (prev.map(_.version + 1).getOrElse(1L) != version) return None
    val acts = parseActions(body.split('\n'), qdir).getOrElse(return None)
    val entries = scala.collection.mutable.LinkedHashMap.empty[String, Entry]
    prev.foreach(_.entries.foreach(e => entries(e.meta.path) = e))
    var txns = prev.map(_.txns).getOrElse(Map.empty[String, Long])
    var constraints = prev.map(_.constraints).getOrElse(Map.empty[String, String])
    var mapping = prev.map(_.mapping).getOrElse(ColumnMappingState.Empty)
    var consistent = true
    acts.actions.foreach {
      case AddAction(e) => entries(e.meta.path) = e
      case RemoveAction(removed) => entries.remove(removed): Unit
      case DvAction(dataPath, dv) => entries.get(dataPath) match {
        case Some(e) => entries(dataPath) = e.copy(dv = dv)
        case None => consistent = false // replay would refuse; let it decide
      }
    }
    if (!consistent) return None
    txns ++= acts.txns
    acts.constraintOps.foreach {
      case (name, Some(expr)) => constraints += (name -> expr)
      case (name, None) => constraints -= name
    }
    acts.mapping.foreach(mapping = _)
    // the cache key carries the commit FILE's identity, same as resolve
    val st =
      try f.getFileStatus(commitPath(ld, version))
      catch { case _: java.io.FileNotFoundException => return None }
    val key = (f.makeQualified(ld).toString, version,
      st.getModificationTime, st.getLen)
    val snap = Snapshot(version,
      entries.values.toVector.sortBy(_.meta.path), txns, constraints, mapping)
    cachePut(key, snap)
    Some(snap)
  }

  // parsed per-version add lists for incremental (streaming) consumers,
  // keyed by the commit file's identity — commit files are write-once, the
  // (mtime, len) guards a delete-and-recreate log incarnation
  private val addsCache =
    new java.util.LinkedHashMap[(String, Long, Long), (String, Seq[Entry])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), (String, Seq[Entry])]): Boolean =
        size() > 1024
    }

  /** The operation and add-entries of ONE committed version — the streaming
    * source's O(delta) incremental feed (adds come back path-sorted, the
    * order [[serialize]] wrote them). None when the version's commit file
    * is not retained (vacuumed past the consumer's position) — callers
    * fail loudly rather than silently skip data. Throws when the file
    * exists but does not parse. */
  def commitAdds(table: String, v: Long): Option[(String, Seq[Entry])] = {
    val f = rawFs(table)
    val p = commitPath(logDir(table), v)
    val st =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val key = (f.makeQualified(p).toString, st.getModificationTime, st.getLen)
    val hit = addsCache.synchronized(addsCache.get(key))
    if (hit != null) return Some(hit)
    val qdir = StrawIO.fs(table).makeQualified(new Path(table)).toString
    val a = parseActions(readLines(f, p), qdir).getOrElse(
      throw new java.io.IOException(
        s"strawboat: log of $table: commit $v does not parse"))
    val res = (a.op, a.actions.collect { case AddAction(e) => e })
    addsCache.synchronized(addsCache.put(key, res))
    Some(res)
  }

  /** Everything ONE committed version did, for consumers that must see
    * removes and DV swaps too (the change-data-feed reader; [[commitAdds]]
    * stays the lean streaming feed). None when the commit file is no
    * longer retained. */
  final case class CommitDelta(op: String, adds: Seq[Entry],
      removes: Seq[String], dvs: Seq[(String, DeletionVector.DvInfo)])
  def commitDelta(table: String, v: Long): Option[CommitDelta] = {
    val f = rawFs(table)
    val p = commitPath(logDir(table), v)
    try f.getFileStatus(p)
    catch { case _: java.io.FileNotFoundException => return None }
    val qdir = StrawIO.fs(table).makeQualified(new Path(table)).toString
    val a = parseActions(readLines(f, p), qdir).getOrElse(
      throw new java.io.IOException(
        s"strawboat: log of $table: commit $v does not parse"))
    Some(CommitDelta(a.op,
      a.actions.collect { case AddAction(e) => e },
      a.actions.collect { case RemoveAction(p) => p },
      a.actions.collect { case DvAction(dp, dv) => (dp, dv) }))
  }

  /** One table-history row ([[history]]): the version, the commit file's
    * timestamp, the writer-recorded operation, and the commit's action
    * counts. `addedFiles` of a bootstrap commit includes the folded pre-log
    * state. */
  final case class HistoryRow(version: Long, timestampMs: Long, operation: String,
      addedFiles: Int, removedFiles: Int, txn: Option[(String, Long)],
      dvFiles: Int = 0)

  /** The table's commit history, newest first — a DESCRIBE-HISTORY-style
    * audit of every retained log version (vacuumed versions are absent).
    * Unreadable version files yield a row with operation
    * `"(unreadable)"` rather than hiding the version. */
  def history(table: String): Seq[HistoryRow] = {
    val f = rawFs(table)
    val ld = logDir(table)
    val (commits, _) = listVersions(f, ld)
    val qdir = StrawIO.fs(table).makeQualified(new Path(table)).toString
    // parallel small reads: the audit is O(retained versions) commit files,
    // bounded by vacuumLog — fan the IO out rather than serialize a long
    // streaming-sink history on the driver
    StrawIO.mapParallel(commits.toSeq.sortBy(-_._1)) { case (v, (mtime, _)) =>
      (try parseActions(readLines(f, commitPath(ld, v)), qdir)
      catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(a) =>
          HistoryRow(v, mtime, a.op,
            addedFiles = a.actions.count(_.isInstanceOf[AddAction]),
            removedFiles = a.actions.count(_.isInstanceOf[RemoveAction]),
            txn = a.txns.headOption,
            dvFiles = a.actions.count(_.isInstanceOf[DvAction]))
        case None => HistoryRow(v, mtime, "(unreadable)", 0, 0, None)
      }
    }
  }

  /** Reclaim data files that are VISIBLE on disk (`*.strb`, no stage
    * suffix) but absent from the latest snapshot — crash debris from a
    * rename fan-out whose log commit never happened, or a remove whose
    * physical delete crashed. Only files older than `olderThanMs` go (a
    * concurrent commit's just-renamed files are younger — but compaction
    * stamps outputs with their max INPUT mtime, so do not run this while a
    * compaction is in flight). Reclaiming a file breaks time travel to the
    * versions that referenced it.
    * @return deleted file count */
  def vacuumUnreferenced(table: String, olderThanMs: Long = 24 * 3600 * 1000L): Int = {
    val snap = snapshot(table).getOrElse(return 0)
    val liveDvs: Set[String] =
      snap.entries.collect { case e if e.dv != null => e.dv.path }.toSet
    val f = StrawIO.fs(table)
    val cutoff = System.currentTimeMillis() - olderThanMs
    // a maintenance op between its rename fan-out and its log commit has
    // VISIBLE outputs stamped with old input mtimes that the sweep below
    // would eat — refuse while any fresh in-flight marker exists (stale
    // markers are crashed ops: reclaimed here, their debris swept below).
    // Marker freshness uses its own floor: an aggressive olderThanMs must
    // not reclassify a live op's marker as stale mid-run.
    val markerCutoff =
      System.currentTimeMillis() - math.max(olderThanMs, InflightTtlMs)
    val inflight = freshInflight(rawFs(table), logDir(table), markerCutoff)
    if (inflight.nonEmpty) return 0
    var n = 0
    StrawIO.walkFiles(f, new Path(table)) { st =>
      val p = f.makeQualified(st.getPath).toString
      val deadData =
        p.endsWith(graft.format.StrawFormat.Extension) && !snap.pathSet(p)
      // DV sidecars superseded (or orphaned by a crashed delete) are debris
      // the same way — only the snapshot's referenced sidecars are live
      val deadDv = p.endsWith(DeletionVector.Extension) && !liveDvs(p)
      // staged leftovers of uncleanly-died tasks (the hot commit paths no
      // longer sweep per commit; invisible to readers — no .strb suffix).
      // Staged files reclaim on their OWN floor — never younger than
      // InflightTtlMs regardless of olderThanMs: a live write job owns its
      // .stage files until commit, and an aggressive horizon must not eat
      // them mid-flight (finalizeFiles' rename would fail). A job running
      // LONGER than InflightTtlMs must not overlap a concurrent vacuum.
      val deadStage = p.endsWith(".stage") && st.getModificationTime < markerCutoff
      if ((deadData || deadDv) && st.getModificationTime < cutoff || deadStage) {
        if (f.delete(st.getPath, false)) n += 1
      }
    }
    n
  }

  /** Drop log versions older than the checkpoint preceding `keepVersions`
    * back from the latest — bounds log-directory growth for long-lived
    * streaming sinks at the cost of time travel past the horizon. Never
    * removes the basis of the CURRENT snapshot. */
  def vacuumLog(table: String, keepVersions: Int = 100): Int = {
    // the anchor choice below reads checkpoint FILES — drain any async
    // checkpoint writes first so a just-committed anchor is visible
    awaitLogMaintenance()
    val f = rawFs(table)
    val ld = logDir(table)
    val (commits, checkpoints) = listVersions(f, ld)
    if (commits.isEmpty) return 0
    val horizon = commits.lastKey - math.max(0, keepVersions)
    // newest checkpoint at or below the horizon becomes the replay base for
    // every retained version; STRICTLY older files are droppable (the base
    // version's own commit file stays, so snapshotAt(base) and the
    // commits-nonEmpty invariant survive even keepVersions = 0)
    val base = checkpoints.filter(_ <= horizon).lastOption.getOrElse(return 0)
    var n = 0
    commits.keysIterator.filter(_ < base).foreach { v =>
      if (f.delete(commitPath(ld, v), false)) n += 1
    }
    checkpoints.filter(_ < base).foreach { v =>
      if (f.delete(checkpointPath(ld, v), false)) n += 1
    }
    n
  }

  /** External-writer escape hatch: delete the whole log (readers fall back
    * to directory walking). Also drops the table's
    * pinned timestampAsOf resolutions — first-resolution-wins stability is
    * only sound within one log incarnation. NOTE: on a STREAMING SINK this
    * forfeits epoch idempotence — the log's txn actions are the replay
    * guard, so a replayed epoch arriving after invalidate() re-commits its
    * rows (legacy epoch markers, where still present, are a best-effort
    * secondary guard). */
  def invalidate(table: String): Unit = {
    // a pending async checkpoint write racing the delete below would
    // recreate the log directory with an orphan checkpoint from the OLD
    // incarnation — drain first (in-JVM; cross-process committers racing
    // invalidate were always the escape hatch's documented hazard)
    awaitLogMaintenance()
    val f = rawFs(table)
    val ld = logDir(table)
    try { f.delete(ld, true): Unit }
    catch { case scala.util.control.NonFatal(_) => }
    // drop the probe hint too: a recreated log restarts version numbering,
    // and cachePut's newest-version-wins merge would otherwise pin the OLD
    // incarnation's higher version — correctness survives (identity probes
    // fail, resolution lists) but every resolution pays two dead probes
    // until the new log passes the old version number
    latestHint.remove(f.makeQualified(ld).toString): Unit
    TimeTravel.invalidate(table)
    StrawChanges.invalidate(table)
  }

  def clearCache(): Unit = {
    awaitLogMaintenance() // tests clear-then-assert: make file state settled
    cache.synchronized(cache.clear())
    latestHint.clear()
    TimeTravel.clearAll()
    StrawChanges.clearCache()
  }
}
