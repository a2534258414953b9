package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Merge-on-read DELETE/UPDATE via deletion vectors ([[DeletionVector]]):
  * a selective delete writes NO data file (the headline 100 TB property),
  * vectors union across deletes with lost-update protection, footer-only
  * COUNT nets dead rows, updates append only the matched rows, and
  * compaction materializes vectors away. */
class DeletionVectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("dv-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawdv").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def read(out: String) = spark.read.format("strawboat").load(out)

  private def dataFiles(out: String): Map[String, (Long, Long)] =
    StrawIO.listFilesMeta(out).map(m => m.path -> (m.mtime, m.len)).toMap

  private def dvSidecars(out: String): Seq[java.io.File] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(out)).filter(_.getName.endsWith(".dv"))
  }

  test("selective delete writes no data file — only a sidecar and a commit") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/noRewrite"
    val src = (0L until 4000L).map(i => (i, s"u${i % 7}", i % 100)).toDF("id", "user", "bucket")
    src.repartition(2).write.format("strawboat").mode("overwrite").save(out)
    val before = dataFiles(out)
    val res = StrawDelete.delete(spark, out, Seq(EqualTo("user", "u3"): Filter))
    assert(res.deletedRows == src.filter(col("user") === "u3").count(), res.toString)
    assert(res.rewrittenFiles == 0 && res.removedFiles == 0, res.toString)
    assert(res.dvFiles > 0, res.toString)
    // the data files are byte-identical — same paths, mtimes, lengths
    assert(dataFiles(out) == before, "delete must not touch data files")
    assert(dvSidecars(out).nonEmpty, "expected a deletion-vector sidecar")
    // read back: multiset equality with the surviving rows
    val expect = src.filter(col("user") =!= "u3" || col("user").isNull)
    val back = read(out)
    assert(back.count() == expect.count())
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    assert(StrawLog.history(out).head.operation == "delete")
    assert(StrawLog.history(out).head.dvFiles == res.dvFiles)
  }

  test("footer-only COUNT nets out DV'd rows; MIN/MAX bail to the real scan") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/aggNet"
    (0L until 3000L).map(i => (i, i * 2)).toDF("id", "v")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 500L): Filter)): Unit
    val cnt = read(out).agg(count(lit(1)).as("cnt"))
    // complete aggregate pushdown: the plan carries the footer-only scan
    assert(cnt.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      "COUNT over a DV'd table must stay footer-only (netting the cardinality)")
    assert(cnt.collect().head.getLong(0) == 2500L)
    // MIN would need to know WHICH rows died — must fall back, stay correct
    val mn = read(out).agg(min(col("id")).as("mn"))
    assert(!mn.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      "MIN over a DV'd table must not be answered from footers")
    assert(mn.collect().head.getLong(0) == 500L)
  }

  test("repeated deletes union into one replacement sidecar") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/union"
    (0L until 2000L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val r1 = StrawDelete.delete(spark, out, Seq(LessThan("id", 100L): Filter))
    val r2 = StrawDelete.delete(spark, out, Seq(LessThan("id", 300L): Filter))
    assert(r1.deletedRows == 100 && r2.deletedRows == 200, s"$r1 / $r2")
    assert(read(out).count() == 1700)
    // both sidecars remain ON DISK (the superseded one is retained for the
    // change feed / restore within the vacuum window) but the LOG references
    // exactly one — the union — and an aggressive vacuum reclaims the other
    assert(dvSidecars(out).size == 2, dvSidecars(out).toString)
    val live = StrawLog.snapshot(out).get.entries.flatMap(e => Option(e.dv)).map(_.path)
    assert(live.size == 1, s"log must reference exactly the union sidecar: $live")
    assert(StrawLog.vacuumUnreferenced(out, olderThanMs = 0L) == 1,
      "the superseded sidecar is exactly what the age-based vacuum reclaims")
    assert(dvSidecars(out).size == 1)
    assert(read(out).count() == 1700, "reclaim must not disturb the live sidecar")
    // a delete of already-dead rows is a no-op (no new version)
    val v = StrawLog.latestVersion(out)
    val r3 = StrawDelete.delete(spark, out, Seq(LessThan("id", 250L): Filter))
    assert(r3.deletedRows == 0 && StrawLog.latestVersion(out) == v, r3.toString)
  }

  test("update appends only the matched rows; originals die via the vector") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/updMor"
    val src = (0L until 3000L).map(i => (i, s"lang${i % 5}", i % 50)).toDF("id", "lang", "n")
    src.coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val before = dataFiles(out)
    val res = StrawUpdate.update(spark, out,
      Seq(EqualTo("lang", "lang2"): Filter), Map("lang" -> "redacted"))
    assert(res.updatedRows == 600, res.toString)
    assert(res.dvFiles == 1 && res.rewrittenFiles >= 1, res.toString)
    // the ORIGINAL file is untouched; the new file holds only matched rows
    before.keys.foreach { p =>
      assert(dataFiles(out).get(p) == before.get(p), s"original changed: $p")
    }
    val newFiles = dataFiles(out).keySet -- before.keySet
    assert(newFiles.nonEmpty)
    val newRows = newFiles.toSeq.map(p =>
      spark.read.format("strawboat").load(p).count()).sum
    assert(newRows == 600, s"appended files must hold exactly the matched rows, got $newRows")
    // read back equals the SQL-updated multiset
    val expect = src.withColumn("lang",
      when(col("lang") === "lang2", "redacted").otherwise(col("lang")))
    val back = read(out)
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
  }

  test("a fully-dead file is removed outright; full table delete leaves a marker") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/fullDead"
    // two files with disjoint ranges
    (0L until 1000L).map(i => (i, s"a$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("append").save(out)
    (1000L until 2000L).map(i => (i, s"b$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("append").save(out)
    val res = StrawDelete.delete(spark, out, Seq(LessThan("id", 1000L): Filter))
    assert(res.removedFiles == 1 && res.dvFiles == 0, res.toString)
    assert(dvSidecars(out).isEmpty, "a fully-dead file must not carry a sidecar")
    assert(read(out).count() == 1000)
    // now delete everything: table must stay readable and empty
    val all = StrawDelete.delete(spark, out, Seq(IsNotNull("id"): Filter))
    assert(all.deletedRows == 1000, all.toString)
    val back = read(out)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(dvSidecars(out).isEmpty)
  }

  test("compaction materializes deletion vectors away") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/materialize"
    (0L until 5000L).map(i => (i, s"val-$i")).toDF("id", "s")
      .repartition(3).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(EqualTo("id", 17L): Filter)): Unit
    assert(dvSidecars(out).nonEmpty)
    val res = StrawCompaction.compact(spark, out)
    assert(res.inputFiles > 0, res.toString)
    assert(dvSidecars(out).isEmpty, "compaction must reclaim materialized sidecars")
    val entries = StrawLog.snapshot(out).get.entries
    assert(entries.forall(_.dv == null), "post-compaction snapshot must carry no DV")
    assert(read(out).count() == 4999)
    assert(read(out).filter(col("id") === 17L).count() == 0)
  }

  test("deletes apply through both reader paths and compose with pushdowns") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/paths"
    (0L until 8000L).map(i => (i, i % 97, s"s$i")).toDF("id", "k", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "512").save(out)
    StrawDelete.delete(spark, out,
      Seq(And(GreaterThanOrEqual("id", 1000L), LessThan("id", 1512L)): Filter)): Unit
    // columnar scan (flat projection): zone-map page pruning + DV
    assert(read(out).filter(col("id") < 2000L).count() == 1488)
    // fully-dead page range + selective range query with consumed filters
    assert(read(out).filter(col("id").between(900L, 1600L)).count() == 189)
    // Top-N pushdown must not surface dead candidates
    val top = read(out).orderBy(col("id").asc).limit(5).select("id").as[Long].collect()
    assert(top.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val topIn = read(out).filter(col("id") >= 998L).orderBy(col("id").asc)
      .limit(5).select("id").as[Long].collect()
    assert(topIn.toSeq == Seq(998L, 999L, 1512L, 1513L, 1514L))
    // whole-table count sees only the live rows
    assert(read(out).count() == 7488)
  }

  test("time travel to the pre-delete version reads the full table") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/tt"
    (0L until 500L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val v0 = StrawLog.latestVersion(out).get
    StrawDelete.delete(spark, out, Seq(LessThan("id", 200L): Filter)): Unit
    assert(read(out).count() == 300)
    val pinned = spark.read.format("strawboat")
      .option("versionAsOf", v0.toString).load(out)
    assert(pinned.count() == 500, "pre-delete version must read fully live")
  }

  test("vacuumUnreferenced reclaims orphaned sidecars, never live ones") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/vacuum"
    (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 10L): Filter)): Unit
    val live = dvSidecars(out)
    assert(live.size == 1)
    // plant an orphan (as a crashed delete would leave)
    val orphan = new java.io.File(out, "part-x.strb.deadbeef.dv")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    orphan.setLastModified(System.currentTimeMillis() - 48 * 3600 * 1000L): Unit
    val n = StrawLog.vacuumUnreferenced(out, olderThanMs = 3600 * 1000L)
    assert(n == 1, s"expected exactly the orphan reclaimed, got $n")
    assert(!orphan.exists)
    assert(dvSidecars(out).map(_.getName).toSet == live.map(_.getName).toSet)
    assert(read(out).count() == 990)
  }

  test("a stream started after a merge-on-read delete does not deliver dead rows") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/streamDv"
    (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 100L): Filter)): Unit
    val q = spark.readStream.format("strawboat")
      .schema(read(out).schema).load(out)
      .writeStream.format("memory").queryName("dvstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dvstream")
    assert(got.count() == 900, "stream delivered dead rows")
    assert(got.filter(col("id") < 100L).count() == 0)
  }

  test("a remove expecting a stale sidecar conflicts (rewrite-vs-delete race)") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/removeRace"
    (0L until 500L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val target = StrawLog.snapshot(out).get.entries.head
    // a rewriting op (compaction) reads the file while it
    // has NO sidecar...
    val replacement = target.copy(meta =
      target.meta.copy(path = target.meta.path + ".rw.strb"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(new java.net.URI(target.meta.path)),
      java.nio.file.Paths.get(new java.net.URI(replacement.meta.path)))
    // ...then a merge-on-read DELETE lands first
    StrawDelete.delete(spark, out, Seq(EqualTo("id", 7L): Filter)): Unit
    // the rewrite's remove-commit must conflict: its replacement was built
    // from the pre-delete read and would resurrect row 7
    intercept[StrawLog.ConflictException] {
      StrawLog.commit(out, Seq(replacement), removes = Set(target.meta.path),
        op = "compact",
        expectDvOnRemove = Map(target.meta.path -> None))
    }
    // the delete survived
    assert(read(out).filter(col("id") === 7L).count() == 0)
    assert(read(out).count() == 499)
  }

  test("a DV commit with a stale expected sidecar conflicts instead of losing deletes") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/conflict"
    (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 5L): Filter)): Unit
    val entry = StrawLog.snapshot(out).get.entries.find(_.dv != null).get
    // simulate a committer that unioned from the PRE-delete state
    val bmp = new org.roaringbitmap.RoaringBitmap()
    bmp.add(50)
    val stale = DeletionVector.write(StrawIO.fs(out),
      new org.apache.hadoop.fs.Path(entry.meta.path), bmp)
    intercept[StrawLog.ConflictException] {
      StrawLog.commit(out, Seq.empty, op = "delete",
        dvs = Seq(StrawLog.DvUpdate(entry.meta.path, stale, expectedOld = None)))
    }
    // and the winning vector is intact
    assert(read(out).count() == 95)
  }

  test("local-path files keep .crc sidecars, checksum verification and default permissions") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/localFs"
    (0L until 2000L).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    StrawDelete.delete(spark, out, Seq(LessThan("id", 10L): Filter)): Unit
    val data = new java.io.File(new Path(StrawIO.listFiles(out).head).toUri.getPath)
    val dv = dvSidecars(out).head
    // the permission bits are set in-process, not by a forked chmod
    assert(StrawIO.fs(out).asInstanceOf[InProcessPermsLocalFs].getRaw
      .isInstanceOf[InProcessPermsRawFs], StrawIO.fs(out).getClass)
    val expected = FsPermission.getFileDefault.applyUMask(
      FsPermission.getUMask(StrawIO.conf))
    for (f <- Seq(data, dv)) {
      assert(new java.io.File(f.getParentFile, s".${f.getName}.crc").isFile,
        s"no .crc beside $f")
      val perms = java.nio.file.Files.getPosixFilePermissions(f.toPath)
      assert(FsPermission.valueOf("-" + PosixFilePermissions.toString(perms)) == expected,
        s"$f: $perms")
    }
    // the log is written through the raw file system: no sidecars
    val logFiles = new java.io.File(out, StrawLog.DirName).listFiles.map(_.getName)
    assert(logFiles.nonEmpty && !logFiles.exists(_.endsWith(".crc")),
      logFiles.mkString(","))
    // flip one byte inside the first data page, keeping the .crc: the read
    // fails on the checksum instead of decoding corrupt bytes
    val footer = {
      val in = new graft.format.LocalFileInput(data.getPath)
      try graft.format.StrawFileReader.readFooter(in) finally in.close()
    }
    val mtime = data.lastModified()
    val raf = new java.io.RandomAccessFile(data, "rw")
    try {
      val at = footer.columns(0).pageOffsets(0) + 1
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()
    data.setLastModified(mtime): Unit
    var rows: Array[org.apache.spark.sql.Row] = null
    val e = intercept[Exception] { rows = read(out).collect() }
    assert(rows == null)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[org.apache.hadoop.fs.ChecksumException]), e)
  }

  test("StrawIO.fs returns a LocalFileSystem subclass it does not wrap unchanged") {
    // a deployment's own class for `file:` keeps all of its overrides
    val s2 = spark.newSession()
    s2.conf.set("fs.file.impl", classOf[SubclassedLocalFs].getName)
    s2.conf.set("fs.file.impl.disable.cache", "true")
    SparkSession.setActiveSession(s2)
    try assert(StrawIO.fs(dir).getClass == classOf[SubclassedLocalFs])
    finally SparkSession.setActiveSession(spark)
    assert(StrawIO.fs(dir).isInstanceOf[InProcessPermsLocalFs])
  }
}

/** A [[org.apache.hadoop.fs.LocalFileSystem]] subclass standing for one a
  * deployment configures through `fs.file.impl`. */
class SubclassedLocalFs extends org.apache.hadoop.fs.LocalFileSystem
