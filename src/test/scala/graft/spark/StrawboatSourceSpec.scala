package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end DSv2 connector tests: write parquet testdata through the
  * strawboat format, read back via spark.read.format("strawboat"), and
  * check pushdown/pruning behavior. */
class StrawboatSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("strawboat-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("strawtest").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  /** Corrupt the data bytes of every page except the first in the dir's one
    * data file (footer intact, Hadoop .crc sidecar dropped so only
    * actually-decoded pages can fail) — the shared proof that page pruning
    * skips IO: a pruned query still succeeds, a full decode throws. */
  private def corruptAllPagesExceptFirst(out: String): Unit = {
    import graft.format._
    val file = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    val footer = {
      val in = new LocalFileInput(file.getPath)
      try StrawFileReader.readFooter(in) finally in.close()
    }
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      for (c <- footer.columns.indices) {
        val offs = footer.columns(c).pageOffsets
        for (p <- 1 until footer.columns(c).pages.length) {
          raf.seek(offs(p))
          raf.write(Array.fill(math.min(16, footer.columns(c).pages(p).compLen.toInt))(0x5A.toByte))
        }
      }
    } finally raf.close()
    new java.io.File(file.getParentFile, s".${file.getName}.crc").delete(): Unit
  }

  private def lineitem: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

  test("commit protocol: no staged leftovers after commit; orphans stay invisible") {
    val out = s"$dir/commitproto"
    spark.range(100).write.format("strawboat").mode("append").save(out)
    val names = new java.io.File(out).listFiles.map(_.getName)
    assert(names.exists(_.endsWith(".strb")))
    assert(!names.exists(_.contains(".stage")), names.mkString(","))
    // an orphaned staged file (task died after rolling, never committed):
    // readers list only *.strb, so it can never surface as duplicate rows
    val orphan = new java.io.File(out, "part-99999-0-dead-0000.strb.deadbeef.stage")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    assert(spark.read.format("strawboat").load(out).count() == 100)
    // next overwrite: old generation replaced, still no staged leftovers of
    // the new job, orphan of the foreign job untouched but still invisible
    spark.range(50).write.format("strawboat").mode("overwrite").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 50)
    val after = new java.io.File(out).listFiles.map(_.getName)
    assert(!after.exists(n => n.contains(".stage") && !n.contains("deadbeef")))
    // vacuum reclaims the foreign-job orphan once it ages past the cutoff —
    // and NEVER before the in-flight TTL, however aggressive the horizon:
    // a live job's staged files must survive a concurrent short-horizon run
    assert(StrawCommitProtocol.vacuumStaged(out, olderThanMs = 365L * 24 * 3600 * 1000) == 0)
    assert(StrawCommitProtocol.vacuumStaged(out, olderThanMs = -1000) == 0,
      "fresh .stage file must survive vacuum inside the in-flight TTL")
    assert(orphan.setLastModified(
      System.currentTimeMillis() - StrawLog.InflightTtlMs - 60000))
    assert(StrawCommitProtocol.vacuumStaged(out, olderThanMs = -1000) == 1)
    assert(!new java.io.File(out).listFiles.map(_.getName).exists(_.contains(".stage")))
    assert(spark.read.format("strawboat").load(out).count() == 50)
  }

  test("wide-decimal footer-only min/max (exact i128 page stats)") {
    val out = s"$dir/decagg"
    val src = lineitem.select(
      (col("l_extendedprice").cast("decimal(25,4)") * -1).as("p"))
    src.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val q = back.agg(min(col("p")).as("mn"), max(col("p")).as("mx"),
      count(col("p")).as("c"))
    assert(q.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      q.queryExecution.executedPlan.toString.take(400))
    val r = q.collect()(0)
    val e = src.agg(min(col("p")), max(col("p")), count(col("p"))).collect()(0)
    assert(r.toSeq == e.toSeq)
  }

  test("wide-decimal page skipping is EXACT: adjacent unscaled units distinguish pages") {
    import graft.format._
    val out = s"$dir/decexact"
    val ss = spark
    import ss.implicits._
    // values 20 orders of magnitude up, ±1 unscaled unit apart — these
    // collapse to one double, so the legacy lossy stats could never prune
    // an equality probe between them; exact i128 stats must
    val base = new java.math.BigDecimal(new java.math.BigInteger("12345678901234567890"), 4)
    val plus1 = new java.math.BigDecimal(new java.math.BigInteger("12345678901234567891"), 4)
    val probe = new java.math.BigDecimal(new java.math.BigInteger("12345678901234567892"), 4)
    Seq(base, plus1).map(d => Tuple1(scala.math.BigDecimal(d)))
      .toDF("p").select(col("p").cast("decimal(25,4)").as("p"))
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val file = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    val footer = {
      val in = new LocalFileInput(file.getPath)
      try StrawFileReader.readFooter(in) finally in.close()
    }
    val pm = footer.columns(0).pages(0)
    assert(pm.statsKind == StrawFormat.StatsDecimal128)
    // equality one unit above the max: provably excluded ONLY with exact stats
    val keep = ZoneMapFilter.keptPages(footer,
      Array(org.apache.spark.sql.sources.EqualTo("p", probe)))
    assert(!keep(0), "exact i128 stats must exclude an adjacent-unit probe")
    // equality at the max: kept
    val keepHit = ZoneMapFilter.keptPages(footer,
      Array(org.apache.spark.sql.sources.EqualTo("p", plus1)))
    assert(keepHit(0))
  }

  test("wide-decimal range filter through the connector (exact stats path)") {
    val out = s"$dir/dec25"
    val src = lineitem.select(col("l_orderkey"),
      col("l_extendedprice").cast("decimal(25,4)").as("p"))
    src.write.format("strawboat").mode("overwrite").save(out)
    val cut = new java.math.BigDecimal("50000.0000")
    val back = spark.read.format("strawboat").load(out).filter(col("p") > cut)
    val expect = src.filter(col("p") > cut)
    assert(back.count() == expect.count())
    assert(back.exceptAll(expect).isEmpty)
    // the filter reaches the scan (page skipping can engage)
    val desc = back.queryExecution.executedPlan.toString
    assert(desc.contains("skipFilters=[") && desc.contains("p"), desc.take(500))
  }

  test("partition layout prune semantics (typed equality, null dir, conservative keep)") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    val files = Seq("/t/k=a/f1.strb", "/t/k=b+c/f2.strb", "/t/k=__null__/f3.strb", "/t/plain.strb")
    def p(fs: Filter*) = PartitionLayout.prune(files, schema, fs.toArray)
    assert(p(EqualTo("k", "a")) == Seq("/t/k=a/f1.strb", "/t/plain.strb"))
    assert(p(EqualTo("k", "b c")) == Seq("/t/k=b+c/f2.strb", "/t/plain.strb"))
    assert(p(IsNull("k")) == Seq("/t/k=__null__/f3.strb", "/t/plain.strb"))
    assert(p(IsNotNull("k")) == files.filterNot(_.contains("__null__")))
    assert(p(In("k", Array[Any]("a", "zzz"))) == Seq("/t/k=a/f1.strb", "/t/plain.strb"))
    assert(p(EqualTo("v", Long.box(5L))) == files) // non-partition column: keep all
    assert(p(GreaterThan("k", "a")) == files) // unsupported shape: keep all
    assert(p(And(EqualTo("k", "a"), EqualTo("v", Long.box(5L)))) ==
      Seq("/t/k=a/f1.strb", "/t/plain.strb"))
  }

  test("hive-partitioned write: layout, round trip, pruning before footer IO") {
    val out = s"$dir/li_byflag"
    val src = lineitem.select(col("l_orderkey"), col("l_linenumber"),
      col("l_returnflag"), col("l_quantity"))
    src.write.format("strawboat").option("partitionBy", "l_returnflag")
      .mode("overwrite").save(out)
    val subdirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
    assert(subdirs.toSeq == Seq("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty) // partition column present in the data
    val got = back.filter(col("l_returnflag") === "A")
    val expect = src.filter(col("l_returnflag") === "A")
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // pruning precedes footer reads: corrupt every file of the OTHER
    // partitions — the filtered query must still succeed because those
    // directories are eliminated before any IO touches them
    for (sd <- Seq("l_returnflag=N", "l_returnflag=R");
         f <- new java.io.File(s"$out/$sd").listFiles if f.getName.endsWith(".strb"))
      java.nio.file.Files.write(f.toPath, Array[Byte](9, 9, 9))
    assert(got.count() == expect.count())
    // and the corruption is real: after dropping the transaction log
    // (in-place modification is outside the commit protocol — the
    // documented external-writer escape hatch), a fresh load lists the
    // directory, sees the new (mtime, len) keys, re-reads footers, fails
    StrawLog.invalidate(out)
    intercept[Exception] {
      spark.read.format("strawboat").load(out).count()
    }
  }

  test("key-grouped scan: aggregation on the partition column runs without a shuffle") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val out = s"$dir/li_keyed"
      val src = lineitem.select(col("l_returnflag"), col("l_quantity"))
      src.write.format("strawboat").option("partitionBy", "l_returnflag")
        .mode("overwrite").save(out)

      val keyed = spark.read.format("strawboat").option("keyGrouped", "true").load(out)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("s"), count(lit(1)).as("c"))
      val expect = src.groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 2).as("s"), count(lit(1)).as("c"))
      assert(keyed.exceptAll(expect).isEmpty && expect.exceptAll(keyed).isEmpty)
      val plan = keyed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"keyed aggregation should not shuffle:\n$plan")

      // storage-partitioned join: two tables co-partitioned on the same
      // column join on it with no Exchange on either side
      val out2 = s"$dir/li_keyed2"
      src.groupBy(col("l_returnflag")).agg(avg(col("l_quantity")).as("aq"))
        .write.format("strawboat").option("partitionBy", "l_returnflag")
        .mode("overwrite").save(out2)
      // disable broadcast so the planner must co-locate: the storage
      // partitioning should satisfy the join's distribution with NO shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = spark.read.format("strawboat").option("keyGrouped", "true").load(out)
      val b = spark.read.format("strawboat").option("keyGrouped", "true").load(out2)
      val joined = a.join(b, "l_returnflag")
      assert(joined.count() == src.count())
      val jplan = joined.queryExecution.executedPlan.toString
      assert(!jplan.contains("Exchange"),
        s"co-partitioned join should not shuffle:\n$jplan")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("runtime filter narrows planned partitions (SupportsRuntimeFiltering)") {
    import org.apache.spark.sql.sources.EqualTo
    val out = s"$dir/li_dpp"
    lineitem.select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      .write.format("strawboat").option("partitionBy", "l_returnflag")
      .mode("overwrite").save(out)
    val schema = spark.read.format("strawboat").load(out).schema
    val sb = new StrawScanBuilder(out, schema)
    val scan = sb.build().asInstanceOf[StrawScan]
    // count underlying file slices — small files bin-pack into shared
    // tasks, so the TASK count alone can't show the pruning
    def slices(ps: Array[org.apache.spark.sql.connector.read.InputPartition]): Int =
      ps.map {
        case p: StrawPackedPartition => p.slices.size
        case _ => 1
      }.sum
    val before = slices(scan.planInputPartitions())
    assert(before >= 3) // at least one split per partition value
    // simulate the DPP-injected filter from a selective build side
    scan.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("l_returnflag", "A")))
    val after = slices(scan.planInputPartitions())
    assert(after < before, s"runtime filter should drop partitions: $before -> $after")
    // and a real join on the partition column still returns exact results
    val ss = spark
    import ss.implicits._
    val dim = Seq(("A", "keep")).toDF("flag", "tag")
    val fact = spark.read.format("strawboat").load(out)
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
    assert(joined.count() == lineitem.filter(col("l_returnflag") === "A").count())
  }

  test("scan equality and hashCode do not change when runtime filters arrive") {
    import org.apache.spark.sql.sources.{EqualTo, Filter}
    val out = s"$dir/scan_eq"
    lineitem.select(col("l_orderkey"), col("l_returnflag"))
      .write.format("strawboat").option("partitionBy", "l_returnflag")
      .mode("overwrite").save(out)
    val schema = spark.read.format("strawboat").load(out).schema
    val scan = new StrawScanBuilder(out, schema).build()
    val twin = new StrawScanBuilder(out, schema).build()
    val hash = scan.hashCode
    assert(scan == twin && hash == twin.hashCode)
    // Spark may hold the scan in an exchange-reuse map while DPP injects
    scan.asInstanceOf[StrawScan].filter(Array[Filter](EqualTo("l_returnflag", "A")))
    assert(scan.hashCode == hash)
    assert(scan == twin)
  }

  test("overwrite of a partitioned table truncates the previous generation") {
    val out = s"$dir/li_part_overwrite"
    val src = lineitem.select(col("l_returnflag"), col("l_quantity"))
    src.write.format("strawboat").option("partitionBy", "l_returnflag")
      .mode("overwrite").save(out)
    val firstCount = spark.read.format("strawboat").load(out).count()
    assert(firstCount == src.count())
    // second generation: only one flag's rows — old subdir files must go
    val gen2 = src.filter(col("l_returnflag") === "A")
    gen2.write.format("strawboat").option("partitionBy", "l_returnflag")
      .mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == gen2.count())
    assert(back.exceptAll(gen2).isEmpty)
  }

  test("top-n pushdown: results equal full sort, pages that can't beat k-th are never read") {
    import graft.format._
    val out = s"$dir/topn"
    val ss = spark
    import ss.implicits._
    // descending data: after page 0 the candidate buffer dominates every
    // later page for a DESC top-k
    val rows = (0 until 1000).map(i => (1000L - i, s"row$i"))
    rows.toDF("v", "tag").coalesce(1).write.format("strawboat")
      .option("maxPageSize", "100").mode("overwrite").save(out)

    def topk(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("v").desc, col("tag")).limit(7).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = topk(rows.toDF("v", "tag"))
    assert(topk(spark.read.format("strawboat").load(out)) == expect)

    // proof pruning happens: a DESC top-k must succeed because corrupted
    // later pages are skipped, while a full scan must fail
    corruptAllPagesExceptFirst(out)
    assert(topk(spark.read.format("strawboat").load(out)) == expect) // pruned => no IO on corrupt pages
    // the scan reports the pages the Top-N bound skipped
    val q = spark.read.format("strawboat").load(out).orderBy(col("v").desc, col("tag")).limit(7)
    q.collect(): Unit
    assert(ColumnarScanSpec.scanMetric(q, "pagesPruned") > 0)
    intercept[Exception] { // a full decode hits them (sum over an EXPRESSION
      // cannot push — plain count/min/max/sum are all footer-only now)
      spark.read.format("strawboat").load(out).agg(sum(col("v") + 1)).collect()
    }
  }

  test("top-n pushdown: ascending, nulls, and unsorted data still exact") {
    val out = s"$dir/topn2"
    val ss = spark
    import ss.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0 until 2000).map { i =>
      (i.toLong, if (i % 97 == 0) None else Some(rnd.nextDouble() * 1000), s"t$i")
    }
    data.toDF("id", "score", "tag").coalesce(2).write.format("strawboat")
      .option("maxPageSize", "128").mode("overwrite").save(out)
    val df = spark.read.format("strawboat").load(out)
    val src = data.toDF("id", "score", "tag")
    def run(d: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.Column*) =
      d.orderBy(o: _*).limit(11).collect().map(_.toSeq).toSeq
    assert(run(df, col("score").desc, col("id")) == run(src, col("score").desc, col("id")))
    assert(run(df, col("score").asc, col("id")) == run(src, col("score").asc, col("id")))
    assert(run(df, col("score").desc_nulls_first, col("id")) ==
      run(src, col("score").desc_nulls_first, col("id")))
    assert(run(df, col("tag").desc, col("id")) == run(src, col("tag").desc, col("id")))
  }

  test("top-n pushdown composes with pushed filters: exact results, eviction-safe") {
    val out = s"$dir/topn_filter"
    val ss = spark
    import ss.implicits._
    // pin the consume decision: this test exercises the composition, not
    // the selectivity heuristic
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try {
    // adversarial layout: the GLOBAL top values all FAIL the filter — a
    // candidate buffer that saw pre-filter rows would fill with them and
    // evict every true survivor
    val data = (0 until 2000).map { i =>
      (i.toLong, if (i % 5 == 0) "keep" else "drop",
        if (i % 131 == 0) None else Some(i.toDouble / 3))
    }
    data.toDF("v", "tag", "score").coalesce(2).write.format("strawboat")
      .option("maxPageSize", "128").mode("overwrite").save(out)
    val df = spark.read.format("strawboat").load(out)
    val src = data.toDF("v", "tag", "score")
    def run(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("tag") === "keep").orderBy(col("v").desc).limit(9)
        .collect().map(_.getLong(0)).toSeq
    assert(run(df) == run(src))
    // more shapes: range filter, null test, conjunction
    def run2(d: org.apache.spark.sql.DataFrame) =
      d.filter(col("score") < 200.0 && col("score").isNotNull)
        .orderBy(col("score").desc, col("v")).limit(13)
        .collect().map(_.toSeq).toSeq
    assert(run2(df) == run2(src))
    } finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("filtered top-n still prunes pages that cannot beat the k-th candidate") {
    import graft.format._
    val out = s"$dir/topn_filter_prune"
    val ss = spark
    import ss.implicits._
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try {
    // v strictly descending (page 0 dominates); u spreads filter survivors
    // over every page so the filter alone prunes nothing
    val rows = (0 until 1000).map(i => (1000L - i, (i % 10).toLong, s"r$i"))
    rows.toDF("v", "u", "tag").coalesce(1).write.format("strawboat")
      .option("maxPageSize", "100").mode("overwrite").save(out)
    def topk(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("u") < 5).orderBy(col("v").desc).limit(7).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val expect = topk(rows.toDF("v", "u", "tag"))
    assert(topk(spark.read.format("strawboat").load(out)) == expect)
    // the filtered top-k must still succeed after corruption: later pages
    // are pruned by the Top-N bound, not merely dropped by the filter
    // (u<5 matches rows on EVERY page)
    corruptAllPagesExceptFirst(out)
    assert(topk(spark.read.format("strawboat").load(out)) == expect)
    } finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("consumed filters stay columnar: mixed pages compact, results exact") {
    val out = s"$dir/colfilter"
    val ss = spark
    import ss.implicits._
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try {
      val data = (0 until 5000).map { i =>
        (i.toLong, if (i % 400 == 0) None else Some(i.toDouble / 7), s"s$i")
      }
      data.toDF("id", "score", "tag").coalesce(2).write.format("strawboat")
        .option("maxPageSize", "256").mode("overwrite").save(out)
      val df = spark.read.format("strawboat").load(out)
      val src = data.toDF("id", "score", "tag")
      // selective filter over a pruned projection (filter col leaves the
      // output) — the consumed-filter columnar path with trailing filter col
      val q = df.filter(col("score") < 100.0).select(col("id"), col("tag"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("exactFilters=[") && plan.contains("LessThan(score"), plan.take(400))
      assert(!plan.contains("Filter ("), s"filter should be consumed:\n${plan.take(400)}")
      assert(plan.contains("ColumnarToRow"), s"should stay columnar:\n${plan.take(600)}")
      val expect = src.filter(col("score") < 100.0).select(col("id"), col("tag"))
      assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty)
      // null semantics through the consumed path: IS NULL keeps the gaps
      val qn = df.filter(col("score").isNull).select(col("id"))
      assert(qn.count() == data.count(_._2.isEmpty))
    } finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("small-precision decimals ride the INT-backed columnar vectors (plain + compacted)") {
    val out = s"$dir/dec8"
    val ss = spark
    import ss.implicits._
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try {
      // precision <= 9 => Spark allocates int-backed decimal vectors; a
      // putLong there NPEs. Cover plain columnar scan, the consumed-filter
      // compaction path, and nulls.
      val data = (0 until 3000).map(i =>
        (i.toLong, if (i % 97 == 0) None else Some(BigDecimal(i).setScale(2) / 7)))
      val src = data.toDF("id", "d")
        .select(col("id"), col("d").cast("decimal(8,2)").as("d"))
      src.coalesce(1).write.format("strawboat")
        .option("maxPageSize", "256").mode("overwrite").save(out)
      val back = spark.read.format("strawboat").load(out)
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      val cut = new java.math.BigDecimal("100.00")
      val q = back.filter(col("d") < cut)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("exactFilters=[") && plan.contains("ColumnarToRow"),
        plan.take(400))
      val expect = src.filter(col("d") < cut)
      assert(q.exceptAll(expect).isEmpty && expect.exceptAll(q).isEmpty)
    } finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("concurrent appends: both jobs' rows land, no staged leftovers, no duplicates") {
    val out = s"$dir/concurrent"
    val ss = spark
    import ss.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // two appenders race into the same table directory; job-scoped staged
    // suffixes keep their in-flight files invisible to each other, and each
    // driver renames only its own winners at commit
    val jobs = (0 until 4).map { j =>
      Future {
        (0 until 2000).map(i => (j.toLong * 10000 + i, s"job$j"))
          .toDF("id", "tag").repartition(3)
          .write.format("strawboat").mode("append").save(out)
      }
    }
    Await.result(Future.sequence(jobs), 2.minutes)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 8000)
    assert(back.select(countDistinct(col("id"))).collect()(0).getLong(0) == 8000)
    assert(back.groupBy(col("tag")).count().collect()
      .forall(_.getLong(1) == 2000))
    val names = new java.io.File(out).listFiles.map(_.getName)
    assert(!names.exists(_.contains(".stage")), names.mkString(","))
  }

  test("filtered statistics unlock broadcast joins a raw-size report would miss") {
    val ss = spark
    import ss.implicits._
    val dimOut = s"$dir/statdim"
    val factOut = s"$dir/statfact"
    // dim: wide rows so the RAW size clearly exceeds the broadcast
    // threshold; the selective filter passes a sliver
    (0 until 40000).map(i => (i.toLong, "x" * 200, i % 100))
      .toDF("k", "pad", "grp").coalesce(2)
      .write.format("strawboat").mode("overwrite").save(dimOut)
    // fact must ALSO exceed the threshold, or Spark would just broadcast it
    (0 until 40000).map(i => (i.toLong % 40000, "y" * 200))
      .toDF("k", "v").coalesce(2)
      .write.format("strawboat").mode("overwrite").save(factOut)
    val rawBytes = math.min(
      StrawIO.listFilesMeta(dimOut).map(_.len).sum,
      StrawIO.listFilesMeta(factOut).map(_.len).sum)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan only
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (rawBytes / 2).toString)
    try {
      val dim = spark.read.format("strawboat").load(dimOut)
        .filter(col("k") < 100) // ~0.25% pass: scaled size is tiny
      val fact = spark.read.format("strawboat").load(factOut)
      val q = fact.join(dim, "k").groupBy(col("grp")).agg(count(lit(1)).as("c"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"filtered dim should broadcast:\n${plan.take(800)}")
      // unfiltered dim at the same threshold must NOT broadcast (raw size
      // is over it) — proving the scaling, not the threshold, decided
      val q2 = fact.join(spark.read.format("strawboat").load(dimOut), "k")
        .groupBy(col("grp")).agg(count(lit(1)).as("c"))
      assert(!q2.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      // and the result is right
      assert(q.collect().map(_.getLong(1)).sum ==
        spark.read.format("strawboat").load(factOut).filter(col("k") < 100).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("partition filters already applied by pruning do not double-scale statistics") {
    val ss = spark
    import ss.implicits._
    val dimOut = s"$dir/statpartdim"
    val factOut = s"$dir/statpartfact"
    // dim partitioned by p: `p = 'a'` is FULLY applied by directory pruning,
    // so the post-prune estimate must stay ~the surviving partition's size —
    // a double-counted flat equality (×0.05) would wrongly green-light
    // broadcasting the whole partition
    (0 until 30000).map(i => (i.toLong, "x" * 200, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "pad", "p").coalesce(2)
      .write.format("strawboat").option("partitionBy", "p")
      .mode("overwrite").save(dimOut)
    (0 until 30000).map(i => (i.toLong, "y" * 200))
      .toDF("k", "v").coalesce(2)
      .write.format("strawboat").mode("overwrite").save(factOut)
    val partABytes = StrawIO.listFilesMeta(s"$dimOut/p=a").map(_.len).sum
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // threshold well under the surviving partition: broadcast is only legal
    // if the estimate is (wrongly) scaled below it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (partABytes / 4).toString)
    try {
      val dim = spark.read.format("strawboat").load(dimOut).filter(col("p") === "a")
      val fact = spark.read.format("strawboat").load(factOut)
      val plan = fact.join(dim, "k").groupBy(col("p")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"partition-applied filter must not scale stats:\n${plan.take(800)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("pass-most filters stay residual by selectivity estimate; selective ones consume") {
    val out = s"$dir/selest"
    val ss = spark
    import ss.implicits._
    (0 until 20000).map(i => (i.toLong, s"t$i")).toDF("v", "tag")
      .coalesce(1).write.format("strawboat")
      .option("maxPageSize", "1024").mode("overwrite").save(out)
    val df = spark.read.format("strawboat").load(out)
    // ~95% pass: residual (Spark's codegen filter over the vectorized scan)
    val wide = df.filter(col("v") >= 1000)
    assert(wide.queryExecution.executedPlan.toString.contains("Filter "),
      "pass-most filter must stay residual")
    assert(wide.count() == 19000)
    // ~5% pass: consumed
    val narrow = df.filter(col("v") < 1000)
    val nplan = narrow.queryExecution.executedPlan.toString
    assert(nplan.contains("exactFilters=[LessThan"), nplan.take(300))
    assert(narrow.count() == 1000)
  }

  test("type widening across schema evolution: int->long and float->double merge and read") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/widen"
    spark.conf.set("spark.strawboat.exactFilterMaxPass", "1.0")
    try {
      // generation 1: int ids, float scores; generation 2: long ids, double
      // scores (the common lossless evolution of a long-lived table)
      Seq((1, 1.5f), (2, 2.5f), (3, -3.5f)).toDF("id", "score")
        .write.format("strawboat").mode("append").save(out)
      Seq((4000000000L, 4.5), (5L, Double.NaN)).toDF("id", "score")
        .write.format("strawboat").option("mergeSchema", "true")
        .mode("append").save(out)
      val back = spark.read.format("strawboat").load(out)
      assert(back.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(back.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
      val rows = back.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows.map(_._1) == Seq(1L, 2L, 3L, 5L, 4000000000L))
      assert(math.abs(rows.head._2 - 1.5) < 1e-9)
      // filters against the WIDENED type hit both generations (consumed
      // path: the old file's rows convert before predicate evaluation)
      assert(back.filter(col("id") > 2L).count() == 3)
      assert(back.filter(col("id") === 4000000000L).count() == 1)
      assert(back.filter(col("score") < 0.0).count() == 1)
      // top-n over the widened column, both generations contribute
      val top = back.orderBy(col("id").desc).limit(2).collect().map(_.getLong(0)).toSeq
      assert(top == Seq(4000000000L, 5L))
      // aggregate pushdown across mixed stats stays exact
      val mm = back.agg(min(col("id")), max(col("id"))).collect()(0)
      assert(mm.getLong(0) == 1L && mm.getLong(1) == 4000000000L)
      // incompatible evolution fails loudly AT WRITE TIME (append
      // validation), mergeSchema or not — never lands a poisoned file
      Seq(("x", 1.0)).toDF("id", "score")
        .write.format("strawboat").mode("append").save(s"$dir/widenbad")
      intercept[Exception] {
        Seq((1L, 1.0)).toDF("id", "score")
          .write.format("strawboat").option("mergeSchema", "true")
          .mode("append").save(s"$dir/widenbad")
      }
      assert(spark.read.format("strawboat").load(s"$dir/widenbad")
        .collect().length == 1, "rejected append must not land")
    } finally spark.conf.unset("spark.strawboat.exactFilterMaxPass")
  }

  test("schema evolution inside a partitioned table: new column null-fills, pruning intact") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/part_evolve"
    Seq((1L, "A"), (2L, "B")).toDF("id", "k")
      .write.format("strawboat").option("partitionBy", "k").mode("append").save(out)
    // evolved append: extra column, new partition value
    Seq((3L, "C", 30.5)).toDF("id", "k", "score")
      .write.format("strawboat").option("partitionBy", "k")
      .option("mergeSchema", "true").mode("append").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.schema.fieldNames.sorted.toSeq == Seq("id", "k", "score"))
    val rows = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq((1L, "A", None), (2L, "B", None), (3L, "C", Some(30.5))))
    // pruning still applies across generations
    assert(back.filter(col("k") === "C").count() == 1)
    assert(back.filter(col("k") === "A").select("id").head.getLong(0) == 1L)
  }

  test("write + read round trip equals parquet content") {
    val out = s"$dir/lineitem"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.schema == lineitem.schema)
    assert(back.count() == lineitem.count())
    // exact multiset equality both directions
    assert(back.exceptAll(lineitem).isEmpty)
    assert(lineitem.exceptAll(back).isEmpty)
  }

  test("column pruning reaches the scan") {
    val out = s"$dir/lineitem2"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out).select("l_orderkey", "l_quantity")
    assert(back.schema.fieldNames.toSeq == Seq("l_orderkey", "l_quantity"))
    val sum = back.agg(sum_distinct(col("l_orderkey"))).collect()(0)
    assert(sum.getLong(0) > 0)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("strawboat"), plan)
  }

  test("filter returns same rows as parquet source") {
    val out = s"$dir/lineitem3"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val a = back.filter(col("l_quantity") > 40).groupBy("l_returnflag")
      .agg(count("*").as("c"), sum("l_extendedprice").as("s"))
      .orderBy("l_returnflag").collect().toSeq
    val e = lineitem.filter(col("l_quantity") > 40).groupBy("l_returnflag")
      .agg(count("*").as("c"), sum("l_extendedprice").as("s"))
      .orderBy("l_returnflag").collect().toSeq
    assert(a == e)
  }

  test("limit and count(*) paths") {
    val out = s"$dir/lineitem4"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.limit(17).collect().length == 17)
    assert(back.groupBy().count().collect()(0).getLong(0) == lineitem.count())
  }

  test("zone map page skipping preserves correctness on selective filter") {
    val out = s"$dir/sorted"
    // sorted column -> tight zone maps -> selective predicate skips pages
    spark.range(0, 100000).select(col("id"), (col("id") % 7).as("m"))
      .orderBy("id")
      .write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val rows = back.filter(col("id") === 54321L).collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 54321L)
    val none = back.filter(col("id") === -5L).collect()
    assert(none.isEmpty)
    val range = back.filter(col("id") >= 99990L).agg(count("*")).collect()(0).getLong(0)
    assert(range == 10L)
  }

  test("nested types round trip through connector (row reader fallback)") {
    // (the name predates the single reader: arrays, structs and maps all
    // read through the columnar reader now)
    val out = s"$dir/nested"
    val df = spark.range(0, 1000).select(
      col("id"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), concat(lit("s"), col("id")).as("b")).as("st"),
      map(col("id") % 5, concat(lit("v"), col("id"))).as("m"))
    df.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 1000)
    // Spark refuses set ops on MapType: compare maps exploded, rest directly
    def comparable(d: DataFrame): DataFrame =
      d.select(col("id"), col("arr"), col("st"), explode(col("m")).as(Seq("mk", "mv")))
    assert(comparable(back).exceptAll(comparable(df)).isEmpty)
    assert(comparable(df).exceptAll(comparable(back)).isEmpty)
  }

  test("overwrite replaces previous data") {
    val out = s"$dir/ow"
    spark.range(0, 100).write.format("strawboat").mode("overwrite").save(out)
    spark.range(100, 150).write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 50)
    assert(back.agg(min("id")).collect()(0).getLong(0) == 100L)
  }

  test("append adds data") {
    val out = s"$dir/app"
    spark.range(0, 100).write.format("strawboat").mode("overwrite").save(out)
    spark.range(100, 150).write.format("strawboat").mode("append").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 150)
  }

  test("count/min/max answered from footers (aggregate pushdown)") {
    val out = s"$dir/aggpush"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val q = back.agg(count(lit(1)).as("c"), min(col("l_quantity")).as("mn"),
      max(col("l_extendedprice")).as("mx"))
    assert(q.queryExecution.executedPlan.toString.contains("footer-only aggregate"))
    val r = q.collect()(0)
    val e = lineitem.agg(count(lit(1)), min(col("l_quantity")),
      max(col("l_extendedprice"))).collect()(0)
    assert(r.toSeq == e.toSeq)
    // filters and strings and group-bys must NOT push down (and stay correct)
    val qf = back.filter(col("l_quantity") > 10).agg(min(col("l_quantity")))
    assert(!qf.queryExecution.executedPlan.toString.contains("footer-only"))
    assert(qf.collect()(0).getDouble(0) == 11.0)
    val qs = back.agg(min(col("l_returnflag")))
    assert(!qs.queryExecution.executedPlan.toString.contains("footer-only"))
  }

  test("SUM answered from footers (exact i128 page sums)") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/sumpush"
    val src = (0 until 7000).map { i =>
      (i.toLong, i - 3500, if (i % 5 == 0) null else java.lang.Long.valueOf(i.toLong * 7),
        BigDecimal(i).*(BigDecimal("0.01")))
    }.toDF("id", "neg", "sparse", "dec")
      .select(col("id"), col("neg"), col("sparse"),
        col("dec").cast("decimal(12,2)").as("dec"))
    src.repartition(3).write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "500").save(out)
    // force the REAL multi-page footer path: every save also commits a log
    // snapshot whose one-page synthetic file stats would otherwise answer
    // and shadow the per-page sum accumulation under test
    StrawLog.invalidate(out)
    StrawLog.clearCache()
    val back = spark.read.format("strawboat").load(out)
    val q = back.agg(sum(col("id")).as("s1"), sum(col("neg")).as("s2"),
      sum(col("sparse")).as("s3"), sum(col("dec")).as("s4"),
      count(lit(1)).as("c"))
    assert(q.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      q.queryExecution.executedPlan.toString.take(400))
    val r = q.collect()(0)
    val e = src.agg(sum(col("id")), sum(col("neg")), sum(col("sparse")),
      sum(col("dec")), count(lit(1))).collect()(0)
    assert(r.toSeq == e.toSeq, s"${r.toSeq} vs ${e.toSeq}")
    // SUM over an all-null column is NULL, not 0
    val nulls = s"$dir/sumnull"
    Seq[Option[Long]](None, None, None).toDF("v")
      .write.format("strawboat").mode("overwrite").save(nulls)
    val qn = spark.read.format("strawboat").load(nulls).agg(sum(col("v")))
    assert(qn.queryExecution.executedPlan.toString.contains("footer-only aggregate"))
    assert(qn.collect()(0).isNullAt(0))
    // float/double sums are order-dependent: never pushed, still correct
    val qd = spark.read.format("strawboat").load(
      { val p = s"$dir/sumdouble"
        src.select(col("id").cast("double").as("d"))
          .write.format("strawboat").mode("overwrite").save(p); p })
      .agg(sum(col("d")))
    assert(!qd.queryExecution.executedPlan.toString.contains("footer-only"))
    assert(math.abs(qd.collect()(0).getDouble(0) - (0 until 7000).map(_.toDouble).sum) < 1e-6)
  }

  test("AVG answers footer-only via Spark's sum/count rewrite (no data pages)") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/avgpush"
    val src = (0 until 5000).map(i =>
      (i.toLong, i - 2500, if (i % 4 == 0) null else java.lang.Long.valueOf(i.toLong)))
      .toDF("id", "neg", "sparse")
    src.repartition(2).write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "500").save(out)
    val back = spark.read.format("strawboat").load(out)
    // Spark rewrites avg into SUM + COUNT at the V2 pushdown boundary; both
    // answer from footers and Spark itself performs the division — the
    // result is the engine's own avg semantics over our exact sums, with
    // zero reimplementation and zero data-page IO
    val q = back.agg(avg(col("id")).as("a1"), avg(col("neg")).as("a2"),
      avg(col("sparse")).as("a3"))
    assert(q.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      q.queryExecution.executedPlan.toString.take(400))
    val r = q.collect()(0)
    val e = src.agg(avg(col("id")), avg(col("neg")), avg(col("sparse"))).collect()(0)
    assert(r.toSeq == e.toSeq, s"${r.toSeq} vs ${e.toSeq}")
    // corruption proof: clobber the head of EVERY data page — the footer
    // answer must survive, a forced data read must not
    for (f <- new java.io.File(out).listFiles if f.getName.endsWith(".strb")) {
      val in = new graft.format.LocalFileInput(f.getPath)
      val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
      val raf = new java.io.RandomAccessFile(f, "rw")
      try {
        for (c <- footer.columns.indices) {
          val offs = footer.columns(c).pageOffsets
          for (p <- footer.columns(c).pages.indices)
            if (footer.columns(c).pages(p).compLen > 0) {
              raf.seek(offs(p))
              raf.write(Array.fill(
                math.min(16, footer.columns(c).pages(p).compLen.toInt))(0x5A.toByte))
            }
        }
      } finally raf.close()
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete(): Unit
    }
    val back2 = spark.read.format("strawboat").load(out)
    val q2 = back2.agg(avg(col("id")).as("a1"), avg(col("neg")).as("a2"),
      avg(col("sparse")).as("a3"))
    assert(q2.queryExecution.executedPlan.toString.contains("footer-only aggregate"))
    assert(q2.collect()(0).toSeq == e.toSeq, "footer-only avg must not read pages")
    intercept[Throwable] { back2.agg(sum(col("id") + 1)).collect() }
  }

  test("SUM pushdown declines on 64-bit overflow (normal scan answers)") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/sumovf"
    // two near-max longs: the exact i128 sum exceeds i64, Spark's own
    // non-ansi sum wraps — pushdown must bail and let the scan do it
    Seq(Long.MaxValue - 1, Long.MaxValue - 2).toDF("v")
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val q = spark.read.format("strawboat").load(out).agg(sum(col("v")))
    assert(!q.queryExecution.executedPlan.toString.contains("footer-only"),
      "overflowing sum must not push")
    // under ANSI (the default) Spark's own sum THROWS on overflow — the
    // declined pushdown must surface the same behavior, not a wrapped value
    intercept[Exception] { q.collect() }
    intercept[Exception] {
      Seq(Long.MaxValue - 1, Long.MaxValue - 2).toDF("v").agg(sum(col("v"))).collect()
    }
  }

  test("GROUP BY the partition column answered from footers only") {
    val ss = spark
    import ss.implicits._
    val out = s"$dir/aggpart"
    (0 until 9000).map(i => (i.toLong, i.toDouble / 3, Seq("a", "b", "c")(i % 3)))
      .toDF("id", "v", "cat")
      .write.format("strawboat").option("partitionBy", "cat")
      .mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val q = back.groupBy(col("cat"))
      .agg(count(lit(1)).as("c"), min(col("v")).as("mn"), max(col("id")).as("mx"))
    assert(q.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
      q.queryExecution.executedPlan.toString.take(400))
    val got = q.orderBy("cat").collect().map(_.toSeq).toSeq
    val src = (0 until 9000).map(i => (i.toLong, i.toDouble / 3, Seq("a", "b", "c")(i % 3)))
      .toDF("id", "v", "cat")
    val expect = src.groupBy(col("cat"))
      .agg(count(lit(1)).as("c"), min(col("v")).as("mn"), max(col("id")).as("mx"))
      .orderBy("cat").collect().map(_.toSeq).toSeq
    assert(got == expect)
    // unpartitioned table: grouped pushdown must decline (and stay correct)
    val flat = s"$dir/aggflat"
    src.write.format("strawboat").mode("overwrite").save(flat)
    val q2 = spark.read.format("strawboat").load(flat)
      .groupBy(col("cat")).agg(count(lit(1)).as("c"))
    assert(!q2.queryExecution.executedPlan.toString.contains("footer-only"))
    assert(q2.collect().map(_.getLong(1)).sorted.toSeq == Seq(3000L, 3000L, 3000L))
    // grouping by a NON-partition column of a partitioned table: decline
    val q3 = back.groupBy(col("id") % 2).agg(count(lit(1)))
    assert(!q3.queryExecution.executedPlan.toString.contains("footer-only"))
    assert(q3.collect().map(_.getLong(1)).sum == 9000L)
  }

  test("SQL DDL: CREATE TABLE USING strawboat + pure-SQL query") {
    val out = s"$dir/sqlddl"
    lineitem.write.format("strawboat").mode("overwrite").save(out)
    spark.sql(s"CREATE TABLE straw_li USING strawboat OPTIONS (path '$out')")
    try {
      val r = spark.sql(
        """SELECT l_returnflag, count(*) AS c, round(sum(l_quantity), 2) AS q
          |FROM straw_li GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      val e = lineitem.groupBy("l_returnflag")
        .agg(count(lit(1)).as("c"), round(sum("l_quantity"), 2).as("q"))
        .orderBy("l_returnflag").collect()
      assert(r.toSeq.map(_.toSeq) == e.toSeq.map(_.toSeq))
    } finally spark.sql("DROP TABLE straw_li")
  }

  test("salted join equals plain join on skewed data") {
    import graft.ops.SkewJoin
    val out = s"$dir/skew"
    // 90% of rows share one hot key
    spark.range(0, 50000).select(
      col("id"), when(col("id") % 10 < 9, 7L).otherwise(col("id") % 100).as("k"))
      .write.format("strawboat").mode("overwrite").save(out)
    val big = spark.read.format("strawboat").load(out)
    val small = spark.range(0, 100).select(col("id").as("k2"),
      concat(lit("v"), col("id")).as("v"))
    val plain = big.join(small, big("k") === small("k2"))
      .groupBy("k").agg(count(lit(1)).as("c")).orderBy("k").collect()
    val salted = SkewJoin.saltedInnerJoin(big, "k", "id", small, "k2", salts = 8)
      .groupBy("k").agg(count(lit(1)).as("c")).orderBy("k").collect()
    assert(salted.toSeq.map(_.toSeq) == plain.toSeq.map(_.toSeq))
  }

  test("empty DataFrame writes a self-describing dir; empty overwrite truncates") {
    val out = s"$dir/empty"
    spark.range(0, 0).write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    assert(back.schema.fieldNames.toSeq == Seq("id"))
    assert(back.count() == 0)
    // overwrite real data with an empty frame → empty table, not an error
    spark.range(0, 10).write.format("strawboat").mode("overwrite").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 10)
    spark.range(0, 0).write.format("strawboat").mode("overwrite").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 0)
    // empty append onto real data must NOT add a marker file
    spark.range(0, 10).write.format("strawboat").mode("overwrite").save(out)
    val before = new java.io.File(out).listFiles().count(_.getName.endsWith(".strb"))
    spark.range(0, 0).write.format("strawboat").mode("append").save(out)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".strb"))
    assert(before == after)
    assert(spark.read.format("strawboat").load(out).count() == 10)
  }

  test("writer options: compression codec, page size, adaptive toggle") {
    def write(out: String, opts: (String, String)*): Long = {
      var w = lineitem.write.format("strawboat").mode("overwrite")
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.save(out)
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".strb"))
        .map(_.length).sum
    }
    val zstd = write(s"$dir/optzstd", "compression" -> "zstd", "zstdLevel" -> "9")
    val none = write(s"$dir/optnone", "compression" -> "none", "adaptive" -> "false")
    assert(zstd < none) // zstd+adaptive strictly smaller than raw
    // small pages -> more pages in the footer
    write(s"$dir/optpage", "maxPageSize" -> "512")
    val in = new graft.format.LocalFileInput(
      new java.io.File(s"$dir/optpage").listFiles().filter(_.getName.endsWith(".strb")).head.getPath)
    try assert(graft.format.StrawFileReader.readFooter(in).columns(0).pages.length >= 10)
    finally in.close()
    // all variants read back identically
    for (d <- Seq("optzstd", "optnone", "optpage")) {
      assert(spark.read.format("strawboat").load(s"$dir/$d").exceptAll(lineitem).isEmpty)
    }
    // bad option value fails loudly
    intercept[Exception] {
      spark.range(5).write.format("strawboat").mode("overwrite")
        .option("compression", "brotli").save(s"$dir/optbad")
    }
  }

  test("statistics reported for broadcast decisions") {
    val out = s"$dir/stats"
    spark.range(0, 1000).write.format("strawboat").mode("overwrite").save(out)
    val back = spark.read.format("strawboat").load(out)
    val stats = back.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0)
  }

  /** The one data file's footer under `out`. */
  private def footerOf(out: String): graft.format.StrawFooter = {
    val file = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    val in = new graft.format.LocalFileInput(file.getPath)
    try graft.format.StrawFileReader.readFooter(in) finally in.close()
  }

  test("nested schema pruning reaches the scan and reads only the requested leaves") {
    val out = s"$dir/nestedprune"
    val df = spark.range(0, 2000).selectExpr(
      "id",
      "named_struct('lang', concat('l', cast(id % 5 as string)), " +
        "'source', repeat('s', 50), 'n_chars', cast(id as int), 'mime', 'text') as meta",
      "repeat('p', 100) as payload")
    df.write.format("strawboat").mode("overwrite").save(out)

    // Catalyst hands the scan a struct-pruned read schema
    val q = spark.read.format("strawboat").load(out).select(col("meta.lang"))
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.nonEmpty)
    assert(scans.head.readSchema().catalogString == "struct<meta:struct<lang:string>>",
      scans.head.readSchema().catalogString)
    assert(q.distinct().count() == 5)

    // leaf isolation through the CONNECTOR: corrupt every leaf page except
    // id (leaf 0) and meta.lang (leaf 1); the pruned query still answers,
    // the full-struct query fails on a corrupted sibling leaf
    val footer = footerOf(out)
    assert(footer.columns.length == 6) // id + 4 meta leaves + payload
    val file = new java.io.File(out).listFiles.filter(_.getName.endsWith(".strb")).head
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      for (l <- 2 until footer.columns.length) {
        val offs = footer.columns(l).pageOffsets
        for (p <- footer.columns(l).pages.indices) {
          raf.seek(offs(p))
          raf.write(Array.fill(math.min(16, footer.columns(l).pages(p).compLen.toInt))(0x5a.toByte))
        }
      }
    } finally raf.close()
    new java.io.File(file.getParentFile, s".${file.getName}.crc").delete(): Unit
    graft.spark.FooterCache.clear()
    assert(spark.read.format("strawboat").load(out)
      .select(col("id"), col("meta.lang")).count() == 2000)
    intercept[Exception] {
      spark.read.format("strawboat").load(out).select(col("meta")).collect()
    }
  }

  test("filters on struct fields push down and prune pages by nested zone maps") {
    val out = s"$dir/nestedzm"
    spark.range(0, 4000).selectExpr(
      "id",
      "named_struct('lang', if(id < 2000, 'en', 'de'), 'n_chars', cast(id as int)) as meta")
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "500").save(out)

    val q = spark.read.format("strawboat").load(out)
      .filter(col("meta.n_chars") >= 3500).select(col("id"))
    val descs = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description()
    }
    assert(descs.exists(_.contains("meta.n_chars")), descs.mkString)
    assert(q.count() == 500)

    // pruning proof at page granularity (8 pages of 500, only the last may match)
    val footer = footerOf(out)
    import org.apache.spark.sql.sources._
    val keep = graft.spark.ZoneMapFilter.keptPages(footer,
      Array(GreaterThanOrEqual("meta.n_chars", 3500)))
    assert((0 until footer.columns(0).pages.length).count(keep) == 1)
    val keepLang = graft.spark.ZoneMapFilter.keptPages(footer,
      Array(EqualTo("meta.lang", "en")))
    assert((0 until footer.columns(0).pages.length).count(keepLang) == 4)
    // exactness: nested-filter results equal the unfiltered-scan filter
    val all = spark.read.format("strawboat").load(out).collect()
    assert(all.length == 4000)
  }
  test("many small files bin-pack into shared tasks") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/packed"
    // 200 tiny files (a streaming-epoch / wide-cluster-append shape): the
    // scan must not plan one task per file
    spark.range(100000).select(col("id"), (col("id") % 97).as("k"),
      concat(lit("v"), col("id") % 1000).as("s"))
      .repartition(200)
      .write.format("strawboat").mode("overwrite").save(out)
    assert(StrawIO.listFiles(out).size >= 200)
    val df = spark.read.format("strawboat").load(out)
    val parts = df.rdd.getNumPartitions
    assert(parts < 40, s"200 small files planned $parts tasks (no packing?)")
    // packed reads stay columnar and exact
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.supportsColumnar), plan.treeString)
    assert(df.count() == 100000)
    assert(df.agg(sum("id")).as[Long].head() == 100000L * 99999 / 2)
    // filters still evaluate exactly through chained packed readers
    assert(df.filter(col("k") === 13).count() ==
      (0L until 100000L).count(_ % 97 == 13))
    // and a merge-on-read delete's DVs thread through packed slices
    val res = StrawDelete.delete(spark, out,
      Seq(org.apache.spark.sql.sources.LessThan("id", 500L)))
    assert(res.deletedRows == 500 && res.rewrittenFiles == 0)
    val after = spark.read.format("strawboat").load(out)
    assert(after.count() == 99500)
    assert(after.filter(col("id") < 500).count() == 0)
  }

  test("scan splits scale to parallelism: small tables still fan out") {
    val sp = spark; import sp.implicits._
    val out = s"$dir/fanout"
    // ~12 MB of INCOMPRESSIBLE rows in one file: far under cores x 32 MiB,
    // so the fixed cap would plan ONE partition and a join probe would run
    // single-threaded; the bytes-per-core floor must split it
    spark.range(400000)
      .selectExpr("id", "concat(md5(cast(id as string)), md5(cast(id+1 as string))) AS s")
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "16384").save(out)
    val bytes = StrawIO.listFilesMeta(out).map(_.len).sum
    assert(bytes > (8L << 20), s"fixture too small/compressible: $bytes B")
    val parts = spark.read.format("strawboat").load(out).rdd.getNumPartitions
    assert(parts >= 2, s"small-table scan planned $parts partition(s)")

    // the floor is Spark's own openCostInBytes conf — lowering it splits a
    // compression-dense table toward page granularity (this format packs
    // 3-7x tighter than parquet, so the same conf value means more decode
    // work per task; the knob restores parity). The fixture must be small
    // enough that the FLOOR binds (bytes/cores under 4 MiB), so use a ~6 MB
    // slice where default plans bytes/4MiB tasks and 256k plans bytes/core.
    val small = s"$dir/fanout_small"
    spark.range(200000)
      .selectExpr("id", "concat(md5(cast(id as string)), md5(cast(id+1 as string))) AS s")
      .coalesce(1)
      .write.format("strawboat").mode("overwrite")
      .option("maxPageSize", "16384").save(small)
    val coarse = spark.read.format("strawboat").load(small).rdd.getNumPartitions
    spark.conf.set("spark.sql.files.openCostInBytes", (256 * 1024).toString)
    try {
      val fine = spark.read.format("strawboat").load(small).rdd.getNumPartitions
      assert(fine > coarse, s"openCostInBytes=256k planned $fine <= $coarse partitions")
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

}
