package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Planning-metadata scalability: the version-keyed footer cache must make
  * a repeated query over an unchanged table cost ZERO footer reads (the
  * listing alone supplies the version keys), while any rewrite is picked up
  * through the changed (path, mtime, len) key. */
class FooterCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("footer-cache-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    dir = Files.createTempDirectory("footercache").toString
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
  }

  test("second query over an unchanged table performs zero footer IO") {
    val out = s"$dir/t1"
    spark.range(0, 30000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(3).write.format("strawboat").mode("overwrite").save(out)
    assert(StrawIO.listFiles(out).size >= 2) // multi-file table

    FooterCache.clear()
    val before = FooterCache.loads.get()
    val r1 = spark.read.format("strawboat").load(out)
      .filter(col("k") === 3).agg(sum(col("id"))).collect()(0).getLong(0)
    val afterFirst = FooterCache.loads.get()
    assert(afterFirst > before, "first query must load footers")

    // a different query over the same (unchanged) table: schema inference,
    // scan planning, AND task readers all resolve from the cache
    val r2 = spark.read.format("strawboat").load(out)
      .groupBy(col("k")).agg(count(lit(1))).collect()
    assert(r2.length == 7)
    assert(FooterCache.loads.get() == afterFirst,
      s"second query must perform zero footer loads " +
        s"(${FooterCache.loads.get() - afterFirst} observed)")

    // and once more with the SAME query shape, for good measure
    val r1b = spark.read.format("strawboat").load(out)
      .filter(col("k") === 3).agg(sum(col("id"))).collect()(0).getLong(0)
    assert(r1b == r1)
    assert(FooterCache.loads.get() == afterFirst)
  }

  test("a rewritten table misses the cache by version key and reads fresh data") {
    val out = s"$dir/t2"
    spark.range(0, 100).write.format("strawboat").mode("overwrite").save(out)
    FooterCache.clear()
    assert(spark.read.format("strawboat").load(out).count() == 100)
    val loaded = FooterCache.loads.get()
    spark.range(0, 250).write.format("strawboat").mode("overwrite").save(out)
    assert(spark.read.format("strawboat").load(out).count() == 250)
    assert(FooterCache.loads.get() > loaded, "rewrite must invalidate by key")
  }

  test("mergeSchema=false resolves the table schema from at most one footer") {
    val out = s"$dir/t3"
    spark.range(0, 12000).select(col("id"), (col("id") * 2).as("v"))
      .repartition(4).write.format("strawboat").mode("overwrite").save(out)
    assert(StrawIO.listFiles(out).size >= 3)
    // logged table: the schema comes from the log's schema dictionary —
    // ZERO footer IO
    FooterCache.clear()
    val before = FooterCache.loads.get()
    val schema = spark.read.format("strawboat").option("mergeSchema", "false")
      .load(out).schema
    assert(schema.fieldNames.toSet == Set("id", "v"))
    assert(FooterCache.loads.get() == before,
      s"log fast path must read no footer, got ${FooterCache.loads.get() - before}")
    // no log: the fast path reads exactly one footer
    StrawLog.invalidate(out)
    FooterCache.clear()
    val before2 = FooterCache.loads.get()
    val schema2 = spark.read.format("strawboat").option("mergeSchema", "false")
      .load(out).schema
    assert(schema2.fieldNames.toSet == Set("id", "v"))
    assert(FooterCache.loads.get() == before2 + 1,
      s"fallback fast path must read one footer, got ${FooterCache.loads.get() - before2}")
  }

  test("cache stays LRU-bounded under more file versions than maxEntries") {
    val out = s"$dir/t4"
    spark.range(0, 20000).repartition(6)
      .write.format("strawboat").mode("overwrite").save(out)
    val saved = FooterCache.maxEntries
    try {
      FooterCache.maxEntries = 2
      FooterCache.clear()
      assert(spark.read.format("strawboat").load(out).count() == 20000)
      assert(FooterCache.size <= 2, s"size=${FooterCache.size}")
    } finally FooterCache.maxEntries = saved
  }
}
