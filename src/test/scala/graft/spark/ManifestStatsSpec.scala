package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** File-level statistics on log add entries ([[ManifestStats]]): planning
  * prunes WHOLE FILES from synthetic one-page footers before any real
  * footer IO — observable through [[FooterCache.loads]]. */
class ManifestStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("manifest-stats-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("manifeststats").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  /** Four files with DISJOINT id ranges (range partition + in-file sort).
    * Names are "u-NNNNNN" — 8 bytes, so the string PREFIX stats differ
    * across files too (a longer shared stem would blind them; that case is
    * the page blooms', PageBloomSpec). */
  private def writeRanged(out: String): Unit =
    spark.range(0, 40000).toDF("id")
      .withColumn("name", concat(lit("u-"), format_string("%06d", col("id"))))
      .repartitionByRange(4, col("id"))
      .sortWithinPartitions("id")
      .write.format("strawboat").mode("overwrite").save(out)

  test("commit writes per-file stats; every live entry carries them") {
    val out = s"$dir/stats"
    writeRanged(out)
    val entries = StrawLog.snapshot(out).get.entries
    assert(entries.size == 4)
    assert(entries.forall(_.synthetic.isDefined), "fresh commit must carry stats")
    // merged leaf stats reflect the file's actual bounds
    val synths = entries.flatMap(_.synthetic)
    val idPages = synths.map(_.columns(0).pages(0))
    assert(idPages.map(_.min).sorted == idPages.map(_.min))
    assert(idPages.forall(p => p.statsKind == graft.format.StrawFormat.StatsSigned))
    // ranges are disjoint across files
    val sorted = idPages.sortBy(_.min)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min)
      case _ =>
    }
  }

  test("selective filter reads only the matching files' footers") {
    val out = s"$dir/prune"
    writeRanged(out)
    // resolve the snapshot (cache warm for the query below), then count loads
    assert(StrawLog.snapshot(out).isDefined)
    FooterCache.clear()
    val loads0 = FooterCache.loads.get()
    val got = spark.read.format("strawboat").load(out)
      .filter(col("id") === 25000L).select("name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("u-025000"))
    val loads = FooterCache.loads.get() - loads0
    // schema came from the log's schema dictionary, file pruning from its
    // stats: only the one matching file's real footer is ever read
    assert(loads <= 2, s"expected <=2 footer loads, saw $loads")
  }

  test("unfiltered scan PLANS with zero footer IO (task side loads instead)") {
    val out = s"$dir/planfast"
    writeRanged(out)
    FooterCache.clear()
    val loads0 = FooterCache.loads.get()
    val df = spark.read.format("strawboat").load(out)
    val parts = df.queryExecution.toRdd.getNumPartitions
    assert(parts >= 1)
    val planLoads = FooterCache.loads.get() - loads0
    assert(planLoads == 0,
      s"unfiltered planning over a stats-carrying snapshot read $planLoads footers")
    // execution parses footers where the data IO happens — and is exact
    // (count()/sum() would answer from the log stats; force a data read)
    assert(df.select("id", "name").collect().length == 40000)
    assert(FooterCache.loads.get() - loads0 > 0)
    // a filter brings planning-side footer reads back (page zone pruning
    // is worth the IO and read-time skipping doesn't evaluate filters)
    FooterCache.clear()
    val loads1 = FooterCache.loads.get()
    val filtered = spark.read.format("strawboat").load(out)
      .filter(col("id") === 123L)
    filtered.queryExecution.toRdd.getNumPartitions
    assert(FooterCache.loads.get() - loads1 > 0)
    assert(filtered.count() == 1)
  }

  test("full scan still reads everything (stats must not over-prune)") {
    val out = s"$dir/full"
    writeRanged(out)
    assert(spark.read.format("strawboat").load(out).count() == 40000)
    assert(spark.read.format("strawboat").load(out)
      .filter(col("id") >= 0L).count() == 40000)
  }

  test("string prefix stats merge at file level and prune") {
    val out = s"$dir/strings"
    writeRanged(out)
    val entries = StrawLog.snapshot(out).get.entries
    val synth = entries.flatMap(_.synthetic)
    // name leaf: prefix kind, all values share "user-" stem but differ later
    assert(synth.forall(_.columns(1).pages(0).statsKind ==
      graft.format.StrawFormat.StatsPrefix))
    // a name from the LAST range is excluded by the first file's stats...
    val first = synth.minBy(_.columns(0).pages(0).min)
    val keep = ZoneMapFilter.keptPages(first, Array(EqualTo("name", "u-039999")))
    assert(!keep(0), "disjoint prefix range must prune the file")
    // ...but its own range keeps it
    val last = synth.maxBy(_.columns(0).pages(0).max)
    assert(ZoneMapFilter.keptPages(last, Array(EqualTo("name", "u-039999")))(0))
  }

  test("stats survive append untouched (carry-over, no recompute)") {
    val out = s"$dir/carry"
    writeRanged(out)
    val before = StrawLog.snapshot(out).get.entries
      .map(e => e.meta.path -> e.statsB64).toMap
    spark.range(100000, 100100).toDF("id")
      .withColumn("name", concat(lit("user-"), format_string("%09d", col("id"))))
      .coalesce(1)
      .write.format("strawboat").mode("append").save(out)
    val after = StrawLog.snapshot(out).get.entries
    assert(after.size == 5)
    assert(after.forall(_.synthetic.isDefined), "appended file must gain stats too")
    // surviving entries kept their original blobs byte-for-byte
    before.foreach { case (p, b) =>
      after.find(_.meta.path == p).foreach(e => assert(e.statsB64 == b))
    }
  }

  test("stats-less manifest entries never prune (v2 compatibility)") {
    val out = s"$dir/v2compat"
    writeRanged(out)
    // drop the log: the next commit's walk bootstrap folds the four
    // existing files in as stats-less entries
    StrawLog.invalidate(out)
    spark.range(40000, 40100).toDF("id")
      .withColumn("name", concat(lit("u-"), format_string("%06d", col("id"))))
      .coalesce(1).write.format("strawboat").mode("append").save(out)
    val entries = StrawLog.snapshot(out).get.entries
    assert(entries.size == 5)
    assert(entries.count(_.synthetic.isEmpty) == 4)
    // queries fall back to real footers and stay correct
    assert(spark.read.format("strawboat").load(out)
      .filter(col("id") === 39999L).count() == 1)
  }

  test("footer-only aggregates answer from manifest stats with zero footer IO") {
    val out = s"$dir/agg"
    writeRanged(out)
    assert(StrawLog.snapshot(out).isDefined) // warm snapshot cache
    FooterCache.clear()
    val loads0 = FooterCache.loads.get()
    // SUM included: the `name` column (string, no sums) must not block the
    // log-stats path — only the SUMMED field's leaf needs one
    val row = spark.read.format("strawboat").load(out)
      .agg(count(lit(1)).as("cnt"), min(col("id")).as("mn"), max(col("id")).as("mx"),
        sum(col("id")).as("s"))
      .collect()(0)
    assert(row.getLong(0) == 40000L && row.getLong(1) == 0L && row.getLong(2) == 39999L)
    assert(row.getLong(3) == (0L until 40000L).sum)
    val loads = FooterCache.loads.get() - loads0
    assert(loads == 0, s"metadata-only aggregate read $loads footers")
  }

  test("wide-decimal file stats stay exact through the merge") {
    val out = s"$dir/dec"
    val sp = spark; import sp.implicits._
    val base = new java.math.BigInteger("12345678901234567890")
    Seq(0, 1).foreach { i =>
      Seq(Tuple1(scala.math.BigDecimal(new java.math.BigDecimal(
        base.add(java.math.BigInteger.valueOf(i.toLong)), 4))))
        .toDF("p").select(col("p").cast("decimal(25,4)").as("p"))
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    }
    val entries = StrawLog.snapshot(out).get.entries
    assert(entries.size == 2 && entries.forall(_.synthetic.isDefined))
    // an adjacent-unit probe above each file's max is excluded EXACTLY
    val probe = new java.math.BigDecimal(
      base.add(java.math.BigInteger.valueOf(2L)), 4)
    entries.flatMap(_.synthetic).foreach { synth =>
      assert(!ZoneMapFilter.keptPages(synth, Array(EqualTo("p", probe)))(0))
      assert(ZoneMapFilter.keptPages(synth, Array(GreaterThan("p",
        new java.math.BigDecimal(base.subtract(java.math.BigInteger.ONE), 4))))(0))
    }
  }

  test("nested struct leaves carry file stats and prune") {
    val out = s"$dir/nested"
    val sp = spark; import sp.implicits._
    (0 until 2).foreach { g =>
      (0 until 100).map(i => (g * 100L + i, (s"lang$g", g * 1000L + i)))
        .toDF("id", "raw")
        .select(col("id"), struct(col("raw._1").as("lang"),
          col("raw._2").as("n")).as("meta"))
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    }
    val entries = StrawLog.snapshot(out).get.entries
    assert(entries.size == 2 && entries.forall(_.synthetic.isDefined))
    // leaf numbering: id, meta.lang, meta.n — struct-path filters prune files
    val keeps = entries.flatMap(_.synthetic).map(s =>
      ZoneMapFilter.keptPages(s, Array(EqualTo("meta.lang", "lang1")))(0))
    assert(keeps.count(identity) == 1, s"expected exactly one file kept: $keeps")
  }
}
