package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Access to the benchmark tables *through the strawboat format*: the
  * parquet testdata is converted once per (sfDir, table) into
  * `target/strawdata`, then every query reads via the DSv2 connector — so
  * each query exercises write + scan + pushdowns of our format, not
  * parquet. Conversion is cached across JVMs with a marker file.
  */
object Tables {
  // bump when the on-disk format OR the commit metadata it produces changes
  // (v4: transaction-log commits with operation lines)
  private val FormatVersion = "v7" // v7: ALP (decimal reals) + ALP_RD (true reals) live for float/double pages

  // under the working directory's target/, so each checkout keeps its own
  // cache; the resolved root is absolute, as every path handed to Spark is
  private def strawRoot =
    Paths.get("target", "strawdata", FormatVersion).toAbsolutePath.toString

  // per-destination locks so distinct tables convert CONCURRENTLY (Spark
  // schedules jobs from multiple threads fine); the lock only prevents a
  // double conversion of the same (sf, table)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val invalidateLock = new Object

  def strawDir(spark: SparkSession, sfDir: String, table: String): String = {
    val sfName = Paths.get(sfDir).getFileName.toString
    val dst = s"$strawRoot/$sfName/$table"
    val marker = Paths.get(dst, "_OK")
    if (!Files.exists(marker)) locks.computeIfAbsent(dst, _ => new Object).synchronized {
      if (!Files.exists(marker)) {
        // 1:1 partition mapping — no forced shuffle. At real scale the
        // input already has many row-groups so the write parallelizes
        // naturally; fragmenting small benchmarks into per-core files only
        // adds task overhead (measured: 32-file lineitem made shuffle joins
        // 5× slower at sf0.1 than the single-file layout; an 8-way
        // order-preserving range split converted faster in isolation but
        // regressed the whole bench under the 10-table concurrent
        // conversion, so 1:1 stands). Columnar ingest: parquet batches feed
        // the page builders directly — no ColumnarToRow, no UnsafeRow.
        graft.spark.StrawBulkLoad.save(
          spark.read.parquet(s"$sfDir/$table.parquet"), dst)
        Files.createFile(marker)
      }
    }
    dst
  }

  /** Drop the cached conversion for `sfDir` (including derived `_dec`/`_mm`
    * tables) so the next [[strawDir]] re-writes it. Bench calls this first so
    * `convert_write` times a real conversion instead of hitting a marker file
    * left by a previous JVM. */
  def invalidate(sfDir: String): Unit = invalidateLock.synchronized {
    val sfName = Paths.get(sfDir).getFileName.toString
    val root = Paths.get(strawRoot, sfName)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach((p: java.nio.file.Path) => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** The table, read through the strawboat connector. */
  def straw(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.format("strawboat").load(strawDir(spark, sfDir, table))
}
