package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[StrawCompaction]]: small-file rewrite with a manifest-atomic swap.
  * The contract under test: file count drops, data is multiset-identical,
  * big files and partition layout are untouched, the manifest switches in
  * one step, and a streaming SINK keeps committing epochs afterwards. */
class CompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("compaction-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("compacttest").toString
  }

  override def afterAll(): Unit = { if (spark != null) spark.stop() }

  private def strbFiles(out: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".strb")) Seq(f) else Seq.empty
    walk(new java.io.File(out))
  }

  /** Write `df` as MANY small files: tiny target bytes + per-row pages. */
  private def writeFragmented(df: DataFrame, out: String): Unit =
    df.write.format("strawboat").mode("overwrite")
      .option("targetFileBytes", "2048")
      .option("maxPageSize", "64")
      .save(out)

  test("compaction drops file count, keeps the data multiset") {
    val out = s"$dir/basic"
    val df = spark.range(0, 5000)
      .select(col("id"), (col("id") % 97).as("m"), concat(lit("v"), col("id")).as("s"))
    writeFragmented(df.repartition(8), out)
    val before = strbFiles(out).size
    assert(before >= 8, s"fragmentation premise failed: $before files")
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    val after = strbFiles(out).size
    assert(res.inputFiles == before, s"expected all $before inputs, got ${res.inputFiles}")
    assert(res.outputFiles < before && after == res.outputFiles,
      s"before=$before after=$after result=$res")
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 5000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("duplicate rows survive compaction (multiset, not set, semantics)") {
    val out = s"$dir/dups"
    val sp = spark; import sp.implicits._
    val df = (0 until 500).map(i => (i % 10L, "dup")).toDF("k", "tag")
    writeFragmented(df.repartition(6), out)
    StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 500)
    assert(back.groupBy("k").count().filter(col("count") =!= 50L).count() == 0)
  }

  test("files at or above the small-file threshold are left untouched") {
    val out = s"$dir/bigsmall"
    val sp = spark; import sp.implicits._
    // one BIG file
    spark.range(0, 20000).select(col("id"), lit("x").as("pad"))
      .coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val big = strbFiles(out).head
    val bigName = big.getName
    val bigMtime = big.lastModified
    // plus several small appended files
    (0 until 4).foreach { i =>
      Seq((100000L + i, "small")).toDF("id", "pad")
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    }
    assert(strbFiles(out).size == 5)
    val res = StrawCompaction.compact(spark, out,
      targetFileBytes = 64L << 20, smallFileBytes = Some(big.length))
    assert(res.inputFiles == 4 && res.outputFiles == 1)
    val after = strbFiles(out)
    assert(after.size == 2)
    val bigAfter = after.find(_.getName == bigName).get
    assert(bigAfter.lastModified == bigMtime, "big file must not be rewritten")
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 20004)
  }

  test("hive-partitioned table compacts per partition; pruning intact") {
    val out = s"$dir/part"
    spark.range(0, 3000)
      .select(col("id"), (col("id") % 3).cast("string").as("bucket"))
      .repartition(6)
      .write.format("strawboat").mode("overwrite")
      .option("partitionBy", "bucket")
      .option("targetFileBytes", "2048")
      .option("maxPageSize", "64")
      .save(out)
    val before = strbFiles(out).size
    assert(before > 3)
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    assert(res.outputFiles < res.inputFiles)
    // outputs stayed inside their partition directories
    val byDir = strbFiles(out).groupBy(_.getParentFile.getName)
    assert(byDir.keySet == Set("bucket=0", "bucket=1", "bucket=2"))
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 3000)
    assert(back.filter(col("bucket") === "1").count() == 1000)
  }

  test("schema-evolved generations compact within their own schema group") {
    val out = s"$dir/evolve"
    val sp = spark; import sp.implicits._
    // generation 1: (id, a) — several small files
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"a$i")).toDF("id", "a")
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    }
    // generation 2: (id, a, b) — several small files
    (0 until 3).foreach { i =>
      Seq((100L + i, s"a${100 + i}", s"b$i")).toDF("id", "a", "b")
        .coalesce(1).write.format("strawboat").option("mergeSchema", "true")
        .mode("append").save(out)
    }
    assert(strbFiles(out).size == 6)
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    assert(res.inputFiles == 6 && res.outputFiles == 2, res.toString)
    val back = spark.read.format("strawboat").load(out).orderBy("id")
    assert(back.columns.toSeq == Seq("id", "a", "b"))
    assert(back.count() == 6)
    // old generation null-fills b, new generation keeps it
    assert(back.filter(col("id") < 100 && col("b").isNotNull).count() == 0)
    assert(back.filter(col("id") >= 100 && col("b").isNull).count() == 0)
  }

  test("manifest swaps atomically: post-compaction reads pay zero walks") {
    val out = s"$dir/manifest"
    writeFragmented(spark.range(0, 2000).toDF("id").repartition(5), out)
    StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    // warm the manifest cache, then prove a repeat query never walks
    assert(spark.read.format("strawboat").load(out).count() == 2000)
    val walks0 = StrawIO.listings.get()
    assert(spark.read.format("strawboat").load(out).count() == 2000)
    assert(StrawIO.listings.get() == walks0,
      "repeat query over a compacted table must not walk the directory")
    // and the snapshot names exactly the surviving files
    val snapshot = StrawLog.snapshot(out).get.pathSet
    val onDisk = strbFiles(out).map(f =>
      StrawIO.fs(out).makeQualified(new org.apache.hadoop.fs.Path(f.getPath)).toString).toSet
    assert(snapshot == onDisk)
  }

  test("outputs carry the max input mtime, not commit time") {
    val out = s"$dir/mtime"
    writeFragmented(spark.range(0, 1000).toDF("id").repartition(4), out)
    val maxIn = strbFiles(out).map(_.lastModified).max
    Thread.sleep(1500) // ensure wall clock has moved past the inputs
    StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    val outs = strbFiles(out)
    assert(outs.nonEmpty)
    outs.foreach(f => assert(f.lastModified <= maxIn,
      s"${f.getName} mtime ${f.lastModified} is newer than max input $maxIn"))
  }

  test("page bloom filters survive the rewrite") {
    val out = s"$dir/blooms"
    val sp = spark; import sp.implicits._
    def digest(i: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"k$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    (0L until 4000L).map(i => (i, digest(i))).toDF("id", "key")
      .repartition(4)
      .write.format("strawboat").mode("overwrite")
      .option("targetFileBytes", "2048")
      .option("maxPageSize", "256")
      .option("bloomColumns", "key")
      .save(out)
    val before = strbFiles(out).size
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    assert(res.outputFiles < before)
    // every compacted file still carries blooms on the key leaf only
    strbFiles(out).foreach { file =>
      val in = new graft.format.LocalFileInput(file.getPath)
      val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
      assert(footer.columns(1).pages.forall(_.bloom != null),
        s"${file.getName} lost its blooms")
      assert(footer.columns(0).pages.forall(_.bloom == null))
    }
    // and the data still answers point lookups
    assert(spark.read.format("strawboat").load(out)
      .filter(col("key") === digest(1234L)).count() == 1)
  }

  test("clusterBy compaction makes zone maps disjoint; unsorted does not") {
    val sp = spark; import sp.implicits._
    def footerOf(out: String) = {
      val file = strbFiles(out).maxBy(_.length)
      val in = new graft.format.LocalFileInput(file.getPath)
      try graft.format.StrawFileReader.readFooter(in) finally in.close()
    }
    // scattered key: arrival order has every page spanning ~the full range
    def writeScattered(out: String): Unit =
      (0L until 8000L).map(i => (i, (i * 2654435761L) % 1000000007L))
        .toDF("id", "k")
        .repartition(4)
        .write.format("strawboat").mode("overwrite")
        .option("targetFileBytes", "4096")
        .option("maxPageSize", "500")
        .save(out)

    val plain = s"$dir/clusterPlain"
    writeScattered(plain)
    StrawCompaction.compact(spark, plain, targetFileBytes = 64L << 20,
      opts = graft.format.WriteOptions(maxPageSize = 500))
    val plainPages = footerOf(plain).columns(1).pages
    // premise: an unsorted rewrite keeps overlapping page ranges
    assert(plainPages.length >= 4)
    assert(plainPages.toSeq.sliding(2).exists {
      case Seq(a, b) => b.min <= a.max
      case _ => false
    }, "unsorted pages unexpectedly disjoint — test premise broken")

    val clustered = s"$dir/clusterSorted"
    writeScattered(clustered)
    val res = StrawCompaction.compact(spark, clustered,
      targetFileBytes = 64L << 20,
      opts = graft.format.WriteOptions(maxPageSize = 500), clusterBy = Seq("k"))
    assert(res.outputFiles < res.inputFiles)
    val pages = footerOf(clustered).columns(1).pages
    assert(pages.length >= 4)
    pages.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min, "clustered pages must be disjoint")
      case _ =>
    }
    // data survived the sort byte-for-byte (multiset)
    val back = spark.read.format("strawboat").load(clustered)
    assert(back.count() == 8000)
    assert(back.agg(sum(col("id"))).collect()(0).getLong(0) == (0L until 8000L).sum)
    // and a range probe now prunes pages (disjoint bounds)
    val probe = (4321L * 2654435761L) % 1000000007L
    assert(back.filter(col("k") === probe).count() == 1)
  }

  test("zOrder narrows zone maps on EVERY clustered column; lex sort only the first") {
    val sp = spark; import sp.implicits._
    // scattered 2-D points: both coordinates full-range in arrival order
    def writeScattered(out: String): Unit =
      (0L until 8000L)
        .map(i => (i, (i * 2654435761L) % 1009L, (i * 40503L) % 1013L))
        .toDF("id", "x", "y")
        .repartition(4)
        .write.format("strawboat").mode("overwrite")
        .option("targetFileBytes", "4096")
        .option("maxPageSize", "250")
        .save(out)
    // pages of one column across every live file
    def pagesOf(out: String, col: Int): Seq[graft.format.PageMeta] =
      strbFiles(out).flatMap { file =>
        val in = new graft.format.LocalFileInput(file.getPath)
        val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
        footer.columns(col).pages.toSeq
      }
    def hits(pages: Seq[graft.format.PageMeta], v: Long): Int =
      pages.count(p => p.min <= v && v <= p.max)

    val lex = s"$dir/zorderLex"
    writeScattered(lex)
    StrawCompaction.compact(spark, lex, targetFileBytes = 64L << 20,
      opts = graft.format.WriteOptions(maxPageSize = 250),
      clusterBy = Seq("x", "y"))
    // premise: lexicographic (x, y) leaves y's pages spanning ~everything
    val lexY = pagesOf(lex, 2)
    assert(lexY.size >= 16)
    assert(hits(lexY, 500L) >= lexY.size * 3 / 4,
      s"lex-sorted y pages unexpectedly narrow — test premise broken")

    val zed = s"$dir/zorderZ"
    writeScattered(zed)
    val res = StrawCompaction.compact(spark, zed, targetFileBytes = 64L << 20,
      opts = graft.format.WriteOptions(maxPageSize = 250),
      clusterBy = Seq("x", "y"), zOrder = true)
    assert(res.outputFiles < res.inputFiles)
    val (zX, zY) = (pagesOf(zed, 1), pagesOf(zed, 2))
    assert(zY.size >= 16)
    // a point probe on EITHER clustered column prunes most pages
    assert(hits(zX, 500L) <= zX.size / 2,
      s"x probe hit ${hits(zX, 500L)} of ${zX.size} z-ordered pages")
    assert(hits(zY, 500L) <= zY.size / 2,
      s"y probe hit ${hits(zY, 500L)} of ${zY.size} z-ordered pages")
    // and the curve beats lex on the trailing column by construction
    assert(hits(zY, 500L) < hits(lexY, 500L))
    // multiset preserved through the interleave sort
    val back = spark.read.format("strawboat").load(zed)
    assert(back.count() == 8000)
    assert(back.agg(sum(col("id")), sum(col("x")), sum(col("y"))).collect()(0)
      == spark.read.format("strawboat").load(lex)
           .agg(sum(col("id")), sum(col("x")), sum(col("y"))).collect()(0))
    // the filter machinery exploits it: ZoneMapFilter keeps few pages for a
    // point probe on EITHER clustered column
    import org.apache.spark.sql.sources.EqualTo
    val (keptX, keptY, total) = strbFiles(zed).map { file =>
      val in = new graft.format.LocalFileInput(file.getPath)
      val footer = try graft.format.StrawFileReader.readFooter(in) finally in.close()
      val n = footer.columns(0).pages.length
      val kx = ZoneMapFilter.keptPages(footer, Array(EqualTo("x", 500L)))
      val ky = ZoneMapFilter.keptPages(footer, Array(EqualTo("y", 500L)))
      ((0 until n).count(kx), (0 until n).count(ky), n)
    }.foldLeft((0, 0, 0)) { case ((a, b, c), (x, y, n)) => (a + x, b + y, c + n) }
    assert(keptX <= total / 2 && keptY <= total / 2,
      s"point probes kept $keptX/$keptY of $total pages")
    // and the query still answers right through the pruned scan
    assert(back.filter(col("y") === 500L).count() ==
      (0L until 8000L).count(i => (i * 40503L) % 1013L == 500L))
  }

  test("zOrder with fewer than two clusterBy columns fails fast") {
    val out = s"$dir/zorderValidate"
    writeFragmented(spark.range(0, 500).toDF("id").repartition(2), out)
    val e = intercept[IllegalArgumentException] {
      StrawCompaction.compact(spark, out, clusterBy = Seq("id"), zOrder = true)
    }
    assert(e.getMessage.contains("zOrder"))
  }

  test("clusterBy falls back to unsorted for schema generations lacking the column") {
    val out = s"$dir/clusterEvolve"
    val sp = spark; import sp.implicits._
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"a$i")).toDF("id", "a")
        .coalesce(1).write.format("strawboat").mode("append").save(out)
    }
    (0 until 3).foreach { i =>
      Seq((100L + i, s"a${100 + i}", (i * 37L) % 7L)).toDF("id", "a", "k")
        .coalesce(1).write.format("strawboat").option("mergeSchema", "true")
        .mode("append").save(out)
    }
    val res = StrawCompaction.compact(spark, out,
      targetFileBytes = 64L << 20, clusterBy = Seq("k"))
    assert(res.inputFiles == 6 && res.outputFiles == 2)
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 6)
    assert(back.filter(col("id") < 100 && col("k").isNotNull).count() == 0)
  }

  test("clusterBy names no generation has fail fast; row cap splits bins") {
    val out = s"$dir/clusterValidate"
    writeFragmented(spark.range(0, 2000).toDF("id").repartition(4), out)
    val e = intercept[IllegalArgumentException] {
      StrawCompaction.compact(spark, out, clusterBy = Seq("Id")) // wrong case
    }
    assert(e.getMessage.contains("Id") && e.getMessage.contains("id"))
    // tiny row cap: clustered bins split instead of buffering everything
    val res = StrawCompaction.compact(spark, out,
      targetFileBytes = 64L << 20, clusterBy = Seq("id"), maxClusterRows = 1200)
    assert(res.outputFiles > 1, s"row cap must split the rewrite: $res")
    assert(spark.read.format("strawboat").load(out).count() == 2000)
  }

  test("nothing to do is a clean no-op") {
    val out = s"$dir/noop"
    spark.range(0, 100).coalesce(1).write.format("strawboat").mode("overwrite").save(out)
    val before = strbFiles(out).map(f => (f.getName, f.lastModified, f.length)).toSet
    val res = StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20)
    assert(res.inputFiles == 0 && res.outputFiles == 0)
    assert(strbFiles(out).map(f => (f.getName, f.lastModified, f.length)).toSet == before)
  }

  test("streaming sink keeps committing epochs after a mid-stream compaction") {
    val outDir = s"$dir/streamsink"
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select(col("value"), (col("value") % 7).as("m"))
    val q = src.writeStream.format("strawboat")
      .option("path", outDir)
      .option("checkpointLocation", s"$dir/ckptCompact")
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      // let epochs accumulate files, compact the SINK mid-stream, continue
      Thread.sleep(4000)
      val res = StrawCompaction.compact(spark, outDir, targetFileBytes = 64L << 20)
      assert(res.inputFiles > res.outputFiles, res.toString)
      Thread.sleep(3000)
    } finally { q.stop(); q.awaitTermination(30000) }
    val back = spark.read.format("strawboat").load(outDir)
    val cnt = back.count()
    assert(cnt > 0)
    // exactly-once survived the rewrite: rate values are unique
    assert(back.distinct().count() == cnt, "duplicate or lost rows after compaction")
    // a FRESH downstream stream over the compacted dir drains the full set
    val drained = spark.readStream.format("strawboat").load(outDir)
      .writeStream.format("memory").queryName("compactDrain")
      .trigger(Trigger.AvailableNow()).start()
    drained.awaitTermination(60000)
    assert(spark.table("compactDrain").count() == cnt)
  }

  test("compaction upgrades old pages to codecs that did not exist at write time") {
    // the storage-upgrade path: data written before a codec existed (here
    // simulated with the chooser disabled) re-enters the adaptive chooser
    // on rewrite, so an OPTIMIZE pass rolls ALP/ALP_RD out to old tables
    // without a migration tool
    val out = s"$dir/upgrade"
    val df = spark.range(0, 4000).select(col("id"),
      (round(col("id") % 90000, 0) / 100.0).as("price"),
      // deterministic full-mantissa uniforms in [0,1): RD's shape
      (pmod(xxhash64(col("id")), lit(1000000007L)) / 1000000007.0).as("real"))
    df.repartition(4).write.format("strawboat").mode("overwrite")
      .option("targetFileBytes", "2048")
      .option("adaptive", "false")
      .save(out)
    def codecs(col: String): Set[String] = strbFiles(out)
      .flatMap(f => graft.format.StrawStats.fileStats(f.getPath))
      .filter(_.column == col).map(_.codec).toSet
    assert(codecs("price") == Set("lz4"), codecs("price"))
    StrawCompaction.compact(spark, out, targetFileBytes = 64L << 20): Unit
    assert(codecs("price") == Set("alp"), codecs("price"))
    assert(codecs("real") == Set("alp_rd"), codecs("real"))
    val back = spark.read.format("strawboat").load(out)
    assert(back.count() == 4000)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
