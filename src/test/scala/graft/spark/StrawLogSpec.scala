package graft.spark

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Transaction-log semantics ([[StrawLog]]): atomic commits, snapshot
  * isolation across truncate/compaction, crash recovery (uncommitted debris
  * stays invisible and is vacuumable), streaming-epoch idempotence, time
  * travel, checkpoint replay, and the fallback ladder. */
class StrawLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawlog-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawlog").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def write(out: String, from: Long, n: Long, mode: String = "append"): Unit = {
    val sp = spark; import sp.implicits._
    (from until from + n).map(i => (i, s"row-$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode(mode).save(out)
  }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  private def logFiles(out: String): Seq[String] = {
    val d = new java.io.File(out, StrawLog.DirName)
    if (!d.exists()) Seq.empty
    else d.listFiles.map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
  }

  // ---------------------------------------------------------------------
  // Core commit / snapshot semantics
  // ---------------------------------------------------------------------

  test("every batch commit is one log version; snapshot matches the data") {
    val out = s"$dir/basic"
    write(out, 0, 100)
    write(out, 100, 100)
    write(out, 200, 100)
    assert(StrawLog.latestVersion(out).contains(3L))
    val snap = StrawLog.snapshot(out).get
    assert(snap.version == 3L)
    assert(snap.entries.size == 3)
    assert(read(out).count() == 300)
    // entries carry schemas + stats (file-level pruning stays armed)
    assert(snap.entries.forall(_.schemaParsed != null))
    assert(snap.entries.forall(_.synthetic.isDefined))
  }

  test("truncate is one atomic version: removes and adds switch together") {
    val out = s"$dir/trunc"
    write(out, 0, 100)
    write(out, 100, 100)
    val v2 = StrawLog.snapshot(out).get
    assert(v2.entries.size == 2)
    write(out, 500, 50, mode = "overwrite")
    val v3 = StrawLog.snapshot(out).get
    assert(v3.version == 3L)
    assert(v3.entries.size == 1, "old generation must leave the snapshot")
    val got = read(out).agg(min(col("id")), max(col("id")), count(lit(1))).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((500L, 549L, 50L)))
    // physical files of the old generation are gone (deletes after commit)
    val disk = new java.io.File(out).listFiles.count(_.getName.endsWith(".strb"))
    assert(disk == 1, s"expected 1 data file on disk, got $disk")
  }

  test("log bootstrap folds a pre-log (legacy manifest) table's state in") {
    val out = s"$dir/boot"
    // simulate a pre-log table: data files, no log
    write(out, 0, 100)
    write(out, 100, 100)
    StrawLog.invalidate(out)
    assert(StrawLog.snapshot(out).isEmpty)
    val walks0 = StrawIO.listings.get()
    assert(read(out).count() == 200)
    assert(StrawIO.listings.get() > walks0) // served by a directory walk
    // next commit bootstraps: version 1 holds the walked files + the new one
    write(out, 200, 100)
    val snap = StrawLog.snapshot(out).get
    assert(snap.version == 1L)
    assert(snap.entries.size == 3)
    assert(read(out).count() == 300)
    // walked files fold in stats-less; only the new file carries stats
    assert(snap.entries.count(_.statsB64 != null) == 1)
  }

  test("crash before the log commit leaves renamed files INVISIBLE (and vacuumable)") {
    val out = s"$dir/crash"
    write(out, 0, 100)
    write(out, 100, 100)
    assert(read(out).count() == 200)
    // simulate the crash window: a data file appears on disk (rename
    // fan-out happened) but its log commit never did
    val orphan = new java.io.File(out, "part-orphan-00000000.strb")
    val src = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    FooterCache.clear()
    assert(read(out).count() == 200, "uncommitted file must not be read")
    // walk-based readers WOULD see it — that's the degraded fallback mode
    assert(StrawIO.walkFilesMeta(out).size == 3)
    // vacuum reclaims it (old enough)
    orphan.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    val n = StrawLog.vacuumUnreferenced(out, olderThanMs = 24L * 3600 * 1000)
    assert(n == 1)
    assert(!orphan.exists())
    assert(read(out).count() == 200)
    // a YOUNG unreferenced file survives the vacuum (in-flight commit safety)
    val young = new java.io.File(out, "part-young-00000000.strb")
    java.nio.file.Files.copy(src.toPath, young.toPath)
    assert(StrawLog.vacuumUnreferenced(out) == 0)
    assert(young.exists())
    young.delete()
  }

  test("snapshot isolation across compaction: a pinned version still resolves") {
    val out = s"$dir/compact"
    (0 until 5).foreach(g => write(out, g * 100L, 100))
    val preVersion = StrawLog.latestVersion(out).get
    val pre = StrawIO.listFilesMeta(out, Some(preVersion))
    assert(pre.size == 5)
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    assert(res.inputFiles == 5 && res.outputFiles == 1)
    // latest: one file; pinned pre-compaction version: five entries (their
    // files are vacuumed, so only the METADATA is promised to resolve)
    assert(StrawLog.snapshot(out).get.entries.size == 1)
    assert(StrawIO.listFilesMeta(out, Some(preVersion)).size == 5)
    assert(read(out).count() == 500)
    // compaction = exactly one more version
    assert(StrawLog.latestVersion(out).contains(preVersion + 1))
  }

  test("conflicting removes fail cleanly (ConflictException), nothing changes") {
    val out = s"$dir/conflict"
    write(out, 0, 100)
    val victim = StrawLog.snapshot(out).get.entries.head
    // someone else removes the file first
    StrawLog.commit(out, Seq.empty, removes = Set(victim.meta.path))
    val before = StrawLog.latestVersion(out)
    intercept[StrawLog.ConflictException] {
      StrawLog.commit(out, Seq.empty, removes = Set(victim.meta.path))
    }
    assert(StrawLog.latestVersion(out) == before)
  }

  test("txn actions make commits idempotent per app id") {
    val out = s"$dir/txn"
    write(out, 0, 10)
    val v1 = StrawLog.latestVersion(out).get
    val e = StrawLog.snapshot(out).get.entries.head
    val fake = e.copy(meta = e.meta.copy(path = e.meta.path + ".dup.strb"))
    // the commit re-stats its adds (vacuum-race guard) — the file must exist
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(e.meta.path)),
      java.nio.file.Paths.get(new java.net.URI(fake.meta.path)))
    // first commit with the txn wins
    val v2 = StrawLog.commit(out, Seq(fake), txn = Some(("appA", 7L)))
    assert(v2 == v1 + 1)
    // replay of the same epoch is a no-op (returns current version)
    val v3 = StrawLog.commit(out, Seq(fake), txn = Some(("appA", 7L)))
    assert(v3 == v2)
    // an older epoch of the same app is also a no-op
    assert(StrawLog.commit(out, Seq(fake), txn = Some(("appA", 3L))) == v2)
    // a NEWER epoch commits
    assert(StrawLog.commit(out, Seq.empty, txn = Some(("appA", 8L))) == v2 + 1)
    // a different app is independent
    assert(StrawLog.commit(out, Seq.empty, txn = Some(("appB", 1L))) == v2 + 2)
    assert(StrawLog.snapshot(out).get.txns == Map("appA" -> 8L, "appB" -> 1L))
  }

  // ---------------------------------------------------------------------
  // Checkpoints and replay
  // ---------------------------------------------------------------------

  test("checkpoints bound replay and survive log vacuum") {
    val out = s"$dir/ckpt"
    (0 until 23).foreach(g => write(out, g * 10L, 10))
    assert(StrawLog.latestVersion(out).contains(23L))
    StrawLog.awaitLogMaintenance() // checkpoints write async
    val names = logFiles(out)
    assert(names.count(_.endsWith(".checkpoint")) == 2, s"got $names") // v10, v20
    assert(read(out).count() == 230)
    // replay from checkpoint: drop pre-checkpoint commits, snapshot intact
    val removed = StrawLog.vacuumLog(out, keepVersions = 3)
    assert(removed > 0)
    StrawLog.clearCache()
    assert(StrawLog.snapshot(out).get.entries.size == 23)
    assert(read(out).count() == 230)
    // time travel to a vacuumed version now fails loudly
    intercept[IllegalArgumentException] {
      StrawIO.listFilesMeta(out, Some(5L))
    }
    // but versions at/after the retained checkpoint still resolve
    assert(StrawIO.listFilesMeta(out, Some(21L)).size == 21)
  }

  test("incrementally maintained snapshots equal a cold replay and share entries") {
    val out = s"$dir/incr"
    // a mixed workload: appends, a DV-attaching delete, a constraint, and
    // enough commits to cross a checkpoint boundary
    (0 until 12).foreach(g => write(out, g * 10L, 10))
    StrawDelete.delete(spark, out,
      Seq(org.apache.spark.sql.sources.LessThan("id", 3L)))
    StrawConstraints.add(spark, out, "id_nonneg", "id >= 0")
    write(out, 200, 10)

    // each commit cached its snapshot INCREMENTALLY (afterCommit applies
    // the just-written body to the previous snapshot): consecutive
    // versions share the untouched Entry objects — a replay-built pair
    // would hold two fresh copies
    val sA = StrawLog.snapshot(out).get
    write(out, 300, 10)
    val sB = StrawLog.snapshot(out).get
    assert(sB.version == sA.version + 1)
    val common = sA.entries.head.meta.path
    val eA = sA.entries.find(_.meta.path == common).get
    val eB = sB.entries.find(_.meta.path == common).get
    assert(eA eq eB,
      "consecutive snapshots re-allocated an untouched entry — the " +
        "incremental fast path fell back to full replay")

    // ...and the derived state is EXACTLY what replay-from-disk produces
    StrawLog.clearCache()
    val cold = StrawLog.snapshot(out).get
    assert(cold.version == sB.version)
    assert(cold.entries == sB.entries)
    assert(cold.txns == sB.txns)
    assert(cold.constraints == sB.constraints)
    assert(cold.mapping == sB.mapping)
    assert(read(out).count() == 137) // 140 written - 3 deleted (id < 3)
  }

  test("repeat latest-snapshot resolution probes instead of re-listing the log") {
    val out = s"$dir/probe"
    (0 until 5).foreach(g => write(out, g * 10L, 10))
    assert(read(out).count() == 50) // prime the hint
    val before = StrawLog.listings.get()
    (0 until 3).foreach(_ => assert(read(out).count() == 50))
    assert(StrawLog.snapshot(out).get.version == 5L)
    assert(StrawLog.listings.get() == before,
      s"steady-state planning re-listed the log dir " +
        s"${StrawLog.listings.get() - before} time(s); expected successor " +
        "probes only")
    // a new commit is still discovered: the probe sees the successor file
    // and falls back to the listing
    write(out, 100, 10)
    assert(read(out).count() == 60)
    assert(StrawLog.snapshot(out).get.version == 6L)
  }

  test("checkpoint cadence is a session conf; malformed values refuse at commit") {
    val out = s"$dir/ckptconf"
    spark.conf.set(StrawLog.CheckpointIntervalConf, "3")
    try {
      (0 until 7).foreach(g => write(out, g * 10L, 10))
      StrawLog.awaitLogMaintenance() // checkpoints write async
      val ckpts = logFiles(out).count(_.endsWith(".checkpoint"))
      assert(ckpts == 2, s"expected checkpoints at v3 and v6, got $ckpts")
    } finally spark.conf.unset(StrawLog.CheckpointIntervalConf)
    // a malformed cadence refuses LOUDLY before any side effect — a value
    // evaluated inside post-commit maintenance would be swallowed and
    // silently stop checkpointing instead
    for (bad <- Seq("ten", "0", "-5")) {
      spark.conf.set(StrawLog.CheckpointIntervalConf, bad)
      try {
        val e = intercept[Exception](write(out, 100, 10))
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        assert(msgs(e).exists(_.contains(StrawLog.CheckpointIntervalConf)),
          s"for '$bad' got: $e")
      } finally spark.conf.unset(StrawLog.CheckpointIntervalConf)
    }
    assert(read(out).count() == 70) // the refused writes committed nothing
  }

  test("commit over an unreadable log refuses instead of forking version 1") {
    val out = s"$dir/nofork"
    write(out, 0, 100)
    write(out, 100, 100)
    // corrupt the whole log tail: snapshot unresolvable, but versions exist
    val lf = new java.io.File(s"$out/${StrawLog.DirName}").listFiles
      .filter(_.getName.endsWith(".commit"))
    lf.foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      try { raf.seek(0); raf.write("xx".getBytes) } finally raf.close()
    }
    StrawLog.clearCache()
    val e = intercept[Exception] {
      write(out, 200, 100)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("unreadable")), msgs(e).mkString("; "))
    // nothing was committed over the broken log, and the failed write
    // rolled its renamed outputs back — walkers still see exactly the old
    // two files
    assert(StrawIO.walkFilesMeta(out).size == 2)
  }

  test("vacuumLog at keepVersions=0 keeps the checkpoint's own commit (no brick)") {
    val out = s"$dir/keep0"
    (0 until 12).foreach(g => write(out, g * 10L, 10))
    assert(StrawLog.latestVersion(out).contains(12L))
    StrawLog.vacuumLog(out, keepVersions = 0)
    StrawLog.clearCache()
    // checkpoint 10 + commits 10..12 remain; the log still resolves
    assert(StrawLog.snapshot(out).get.version == 12L)
    assert(StrawIO.listFilesMeta(out, Some(10L)).size == 10) // the base itself
    assert(read(out).count() == 120)
  }

  test("a corrupt commit file fails reads LOUDLY; deleting the log restores the walk") {
    val out = s"$dir/corrupt"
    write(out, 0, 100)
    write(out, 100, 100)
    val last = new java.io.File(s"$out/${StrawLog.DirName}").listFiles
      .filter(_.getName.endsWith(".commit")).sortBy(_.getName).last
    val raf = new java.io.RandomAccessFile(last, "rw")
    try { raf.seek(0); raf.write("garbage".getBytes) } finally raf.close()
    StrawLog.clearCache(); FooterCache.clear()
    // an EXISTING but unreadable log refuses — a silent directory-walk
    // fallback could expose uncommitted files or resurrect DV-deleted rows
    val e = intercept[IllegalStateException] { StrawLog.snapshot(out) }
    assert(e.getMessage.contains("unreadable"), e.getMessage)
    intercept[Exception] { read(out).count() }
    // the explicit escape hatch: drop the log, fall back to listing
    StrawLog.invalidate(out)
    assert(read(out).count() == 200)
  }

  test("vacuumUnreferenced refuses while a maintenance op is in flight") {
    val out = s"$dir/inflight"
    write(out, 0, 100)
    val src = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    def plantOrphan(name: String): java.io.File = {
      val orphan = new java.io.File(out, name)
      java.nio.file.Files.copy(src.toPath, orphan.toPath)
      orphan.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
      orphan
    }
    // debris that WOULD be reclaimed — a maintenance op between its rename
    // fan-out and its commit looks exactly like this
    val o1 = plantOrphan("part-orphan1-00000000.strb")
    StrawLog.markInflight(out, "job42")
    assert(StrawLog.vacuumUnreferenced(out, olderThanMs = 3600 * 1000L) == 0,
      "vacuum must refuse while an op is in flight")
    assert(o1.exists())
    StrawLog.clearInflight(out, "job42")
    assert(StrawLog.vacuumUnreferenced(out, olderThanMs = 3600 * 1000L) == 1)
    assert(!o1.exists())
    // a STALE marker (crashed op) does not wedge vacuum forever: it is
    // reclaimed and the sweep proceeds
    val o2 = plantOrphan("part-orphan2-00000000.strb")
    StrawLog.markInflight(out, "jobDead")
    val mk = new java.io.File(s"$out/${StrawLog.DirName}/.inflight.jobDead")
    assert(mk.exists())
    mk.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000): Unit
    assert(StrawLog.vacuumUnreferenced(out, olderThanMs = 3600 * 1000L) == 1)
    assert(!o2.exists() && !mk.exists())
    assert(read(out).count() == 100)
  }

  test("a commit referencing a vanished file fails loudly (vacuum race guard)") {
    val out = s"$dir/restat"
    write(out, 0, 100)
    val e = StrawLog.snapshot(out).get.entries.head
    val fake = e.copy(meta = e.meta.copy(path = e.meta.path + ".gone.strb"))
    val ex = intercept[IllegalStateException] {
      StrawLog.commit(out, Seq(fake), op = "append")
    }
    assert(ex.getMessage.contains("missing file"), ex.getMessage)
    // nothing was committed
    assert(StrawLog.snapshot(out).get.version == 1L)
  }

  test("history records versions, operations, and action counts newest-first") {
    val out = s"$dir/history"
    write(out, 0, 100, mode = "overwrite")
    write(out, 100, 100)
    StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    write(out, 0, 10, mode = "overwrite")
    val h = StrawLog.history(out)
    assert(h.map(_.version) == Seq(4L, 3L, 2L, 1L))
    assert(h.map(_.operation) ==
      Seq("truncate", "compact", "append", "truncate (bootstrap)"))
    val compact = h.find(_.operation == "compact").get
    assert(compact.addedFiles == 1 && compact.removedFiles == 2)
    assert(h.last.removedFiles == 0) // bootstrap lists no removes
    // a streaming txn surfaces in its row
    val e = StrawLog.snapshot(out).get.entries.head
    val fake = e.copy(meta = e.meta.copy(path = e.meta.path + ".x.strb"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(e.meta.path)),
      java.nio.file.Paths.get(new java.net.URI(fake.meta.path)))
    StrawLog.commit(out, Seq(fake), txn = Some(("qA", 5L)), op = "streaming epoch 5")
    val h2 = StrawLog.history(out).head
    assert(h2.operation == "streaming epoch 5" && h2.txn.contains(("qA", 5L)))
  }

  test("a foreign committer's version file is discovered and appended after") {
    val out = s"$dir/race"
    write(out, 0, 100)
    write(out, 100, 100)
    // simulate a CROSS-PROCESS committer (the in-process lock serializes
    // same-driver commits, so a true mid-commit claim race can't be staged
    // here; the claim primitive's loser path has its own test): version 3
    // appears from outside, as a copy of version 2's commit file —
    // replaying it is idempotent (same adds, same paths)
    val ld = new java.io.File(s"$out/${StrawLog.DirName}")
    val v2 = ld.listFiles.filter(_.getName == "00000000000000000002.commit").head
    java.nio.file.Files.copy(v2.toPath,
      new java.io.File(ld, "00000000000000000003.commit").toPath)
    StrawLog.clearCache()
    // the next connector append must integrate the foreign version and
    // land on 4, not fork or overwrite 3
    write(out, 200, 100)
    val snap = StrawLog.snapshot(out).get
    assert(snap.version == 4L, s"expected version 4 after the foreign 3, got ${snap.version}")
    assert(read(out).count() == 300)
    assert(StrawLog.history(out).map(_.version) == Seq(4L, 3L, 2L, 1L))
  }

  test("a second JVM's commit is discovered by a first JVM holding a hint") {
    val out = s"$dir/xjvm"
    (0 until 3).foreach(g => write(out, g * 10L, 10))
    // prime the latest-hint fast path and PROVE it is active: steady-state
    // resolution must not list the log directory
    assert(read(out).count() == 30)
    val before = StrawLog.listings.get()
    assert(StrawLog.snapshot(out).get.version == 3L)
    assert(StrawLog.listings.get() == before, "hint not primed — probe inactive")

    // a real second JVM commits version 4 (re-adds v2's files — replay
    // idempotent), using the same classpath and JDK as this fork
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.spark.CrossJvmCommitter", out, "2")
    val sbuf = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(
      scala.sys.process.ProcessLogger(l => sbuf.append(l).append('\n'), _ => ()))
    assert(code == 0, s"foreign committer failed:\n$sbuf")
    assert(sbuf.toString.contains("COMMITTED 4"), sbuf.toString)

    // this JVM still holds the v3 hint and cached snapshot — the successor
    // probe must see the foreign 00000000000000000004.commit and fall back
    // to the listing, with NO cache clearing
    val snap = StrawLog.snapshot(out).get
    assert(snap.version == 4L,
      s"hinted JVM failed to discover the foreign commit, saw v${snap.version}")
    assert(read(out).count() == 30) // same paths re-added: entry set stable
    // and this JVM's next commit serializes AFTER the foreign version
    write(out, 100, 10)
    assert(StrawLog.snapshot(out).get.version == 5L)
    assert(read(out).count() == 40)
  }

  test("claim is create-if-absent: the loser's content never lands") {
    val out = s"$dir/claim"
    val f = StrawIO.fs(out) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    f.mkdirs(new Path(out))
    def mkTmp(content: String): Path = {
      val p = new Path(out, s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val os = f.create(p, true)
      try os.write(content.getBytes("UTF-8")) finally os.close()
      p
    }
    val dst = new Path(out, "00000000000000000007.commit")
    val a = mkTmp("winner")
    val b = mkTmp("loser")
    assert(StrawLog.claim(f, a, dst, "winner"))
    assert(!StrawLog.claim(f, b, dst, "loser"), "second claim of the same version must lose")
    val in = f.open(dst)
    val buf = new Array[Byte](6)
    try in.readFully(0, buf) finally in.close()
    assert(new String(buf, "UTF-8") == "winner")
    // both tmps are gone regardless of outcome
    assert(!f.exists(a) && !f.exists(b))
  }

  // ---------------------------------------------------------------------
  // Time travel
  // ---------------------------------------------------------------------

  test("versionAsOf reads the pinned append-history snapshot") {
    val out = s"$dir/tt"
    write(out, 0, 100)
    write(out, 100, 100)
    write(out, 200, 100)
    def at(v: Long) = spark.read.format("strawboat")
      .option("versionAsOf", v.toString).load(out)
    assert(at(1).count() == 100)
    assert(at(2).count() == 200)
    assert(at(3).count() == 300)
    assert(at(1).agg(max(col("id"))).collect()(0).getLong(0) == 99L)
    // aggregate pushdown over a pinned version answers from ITS footers
    assert(at(2).count() == 200)
    intercept[Exception] { at(99).count() }
  }

  test("timestampAsOf resolves to the newest version committed by then") {
    val out = s"$dir/ts"
    write(out, 0, 100)
    val t1 = new java.io.File(s"$out/${StrawLog.DirName}").listFiles
      .filter(_.getName.endsWith(".commit")).map(_.lastModified).max
    Thread.sleep(1100) // commit-file mtimes have second granularity on some FS
    write(out, 100, 100)
    def at(ts: String) = spark.read.format("strawboat")
      .option("timestampAsOf", ts).load(out)
    assert(at(t1.toString).count() == 100)
    val t2 = new java.io.File(s"$out/${StrawLog.DirName}").listFiles
      .filter(_.getName.endsWith(".commit")).map(_.lastModified).max
    assert(at(t2.toString).count() == 200)
    // ISO form parses too
    assert(at(java.time.Instant.ofEpochMilli(t1).toString).count() == 100)
    // before the first commit: loud error, not an empty table
    intercept[Exception] { at("1000").count() }
    // AFTER the latest commit: rejected — the resolution would silently
    // move as new commits land
    intercept[Exception] { at((t2 + 60000).toString).count() }
    // both pins together are rejected
    intercept[Exception] {
      spark.read.format("strawboat").option("timestampAsOf", t1.toString)
        .option("versionAsOf", "1").load(out).count()
    }
  }

  test("concurrent appends through the connector serialize into distinct versions") {
    val out = s"$dir/concwrite"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 6).map { g =>
      Future { write(out, g * 1000L, 1000) }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val snap = StrawLog.snapshot(out).get
    assert(snap.version == 6L, s"expected 6 serialized versions, got ${snap.version}")
    assert(read(out).count() == 6000)
    assert(read(out).agg(org.apache.spark.sql.functions.countDistinct(
      org.apache.spark.sql.functions.col("id"))).collect()(0).getLong(0) == 6000)
  }

  test("versionAsOf is rejected for streaming reads") {
    val out = s"$dir/ttstream"
    write(out, 0, 10)
    val e = intercept[Exception] {
      spark.readStream.format("strawboat").option("versionAsOf", "1")
        .schema(read(out).schema)
        .load(out)
        .writeStream.format("memory").queryName("tt_no").start()
        .processAllAvailable()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("versionAsOf")))
  }

  // ---------------------------------------------------------------------
  // Streaming epochs
  // ---------------------------------------------------------------------

  test("streaming sink epochs are log versions with txn idempotence") {
    val sp = spark; import sp.implicits._
    val src = s"$dir/stream_src"
    val out = s"$dir/stream_out"
    val ckpt = s"$dir/stream_ckpt"
    write(src, 0, 50)
    val q = spark.readStream.format("strawboat")
      .schema(read(src).schema)
      .option("maxFilesPerTrigger", "1")
      .load(src)
      .writeStream.format("strawboat")
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(read(out).count() == 50)
    val snap = StrawLog.snapshot(out).get
    assert(snap.txns.nonEmpty, "epoch commits must record txn actions")
    // append more source rows; a restarted query continues epoch numbering
    write(src, 50, 50)
    val q2 = spark.readStream.format("strawboat")
      .schema(read(src).schema)
      .load(src)
      .writeStream.format("strawboat")
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(60000)
    assert(read(out).count() == 100)
  }

  // ---------------------------------------------------------------------
  // Planning cost: log-served listings, zero walks
  // ---------------------------------------------------------------------

  test("repeat planning over an unchanged log table performs zero walks") {
    val out = s"$dir/zerowalk"
    write(out, 0, 1000)
    write(out, 1000, 1000)
    // warm every cache with one full query
    assert(read(out).filter(col("id") >= 500).count() == 1500)
    val walksBefore = StrawIO.listings.get()
    val df = read(out).filter(col("id") >= 500 && col("id") < 1500).select("id")
    assert(df.count() == 1000)
    assert(StrawIO.listings.get() == walksBefore,
      "a repeat query over an unchanged log table must not walk directories")
  }

  test("append commits and streaming epochs perform zero table-directory walks") {
    val out = s"$dir/zerowalkcommit"
    write(out, 0, 100)
    write(out, 100, 100)
    val walksBefore = StrawIO.listings.get()
    val logListBefore = StrawLog.listings.get()
    // batch appends: the success path must not pay an O(table files) walk
    // (the staged sweep used to — the dominant per-commit growth term at
    // scale) nor an O(log files) listing (the probe serves resolution)
    write(out, 200, 100)
    write(out, 300, 100)
    assert(StrawIO.listings.get() == walksBefore,
      s"append commits walked the table ${StrawIO.listings.get() - walksBefore} time(s)")
    assert(StrawLog.listings.get() == logListBefore,
      "append commits re-listed the log directory")

    // streaming epochs: same property per micro-batch
    val src = s"$dir/zerowalkstream_src"
    val ckpt = s"$dir/zerowalkstream_ckpt"
    val sink = s"$dir/zerowalkstream_sink"
    write(src, 0, 50, mode = "overwrite")
    // prime the sink (epoch 0 bootstraps the log — walks allowed there)
    val q0 = spark.readStream.format("strawboat").load(src)
      .writeStream.format("strawboat").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(sink)
    q0.awaitTermination()
    val walksStream = StrawIO.listings.get()
    write(src, 50, 50)
    val q1 = spark.readStream.format("strawboat").load(src)
      .writeStream.format("strawboat").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(sink)
    q1.awaitTermination()
    assert(read(sink).count() == 100)
    assert(StrawIO.listings.get() == walksStream,
      s"epoch commit walked the table ${StrawIO.listings.get() - walksStream} time(s)")
  }
}
