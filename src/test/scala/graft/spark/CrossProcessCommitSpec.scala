package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** TRUE cross-process concurrency on the log's version claim: two separate
  * JVMs ([[RaceCommitter]]) hammer appends at the same table — the
  * in-process write lock serializes nothing between them, so every
  * same-version race exercises the create-if-absent claim itself. No
  * commit may be lost (every process's files visible), none forked (dense
  * version sequence, one commit file per version). */
class CrossProcessCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("xproc-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("xproc").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  test("two JVMs committing concurrently lose and fork nothing") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/race"
    (0L until 10L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val seed = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".strb")).head.getAbsolutePath
    val perProc = 25

    def launch(tag: String): Process = {
      val java = System.getProperty("java.home") + "/bin/java"
      new ProcessBuilder(
        java, "-cp", System.getProperty("java.class.path"),
        "graft.spark.RaceCommitter", out, tag, perProc.toString, seed)
        .redirectErrorStream(true)
        .start()
    }
    val pa = launch("a")
    val pb = launch("b")
    def drain(p: Process, tag: String): Unit = {
      val outStr = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"committer $tag did not finish")
      assert(p.exitValue() == 0, s"committer $tag failed:\n$outStr")
      assert(outStr.contains(s"RACE-DONE $tag"), outStr)
    }
    drain(pa, "a")
    drain(pb, "b")

    StrawLog.clearCache(); FooterCache.clear()
    // dense version sequence, exactly one commit per version, none forked
    val expectVersions = 1L + 2 * perProc
    assert(StrawLog.latestVersion(out).contains(expectVersions))
    val h = StrawLog.history(out)
    assert(h.map(_.version).sorted == (1L to expectVersions),
      s"version holes/forks: ${h.map(_.version).sorted.mkString(",")}")
    assert(h.forall(_.operation != "(unreadable)"))
    // no commit lost: every process's adds are in the live snapshot
    val snap = StrawLog.snapshot(out).get
    for (tag <- Seq("a", "b"); i <- 0 until perProc)
      assert(snap.pathSet.exists(_.endsWith(s"part-race-$tag-$i.strb")),
        s"lost commit $tag-$i")
    assert(snap.entries.size == 1 + 2 * perProc)
    // and the table reads coherently (each seed copy has 10 rows)
    assert(spark.read.format("strawboat").load(out).count() ==
      10L * (1 + 2 * perProc))
  }

  test("a custom claim store plugs in and sees every claim") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/plug"
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val inner = new StrawLog.DefaultClaimStore
    StrawLog.setClaimStore(new StrawLog.ClaimStore {
      override def claim(f: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
          headerLine: String): Boolean = {
        calls.incrementAndGet()
        inner.claim(f, tmp, dst, headerLine)
      }
    })
    try {
      (0L until 5L).map(i => (i, s"r$i")).toDF("id", "s")
        .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
      assert(calls.get() >= 1, "custom claim store was not consulted")
      assert(spark.read.format("strawboat").load(out).count() == 5)
    } finally StrawLog.setClaimStore(null)
  }
}
