package graftbench

import java.io.File

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `query_mix`: `SparkEntry.queries` entries that have a DuckDB oracle, over
  * tables generated from the seed and converted to strawboat by `Tables`.
  * Planning, job scheduling and the `graft.ops` operators dominate; the
  * scan is a small share. Outputs are checked against
  * `SparkEntry.oracleSql` over the same parquet, outside the JVM. */
final class QueryMix(spark: SparkSession, conf: Main.Conf, work: File)
    extends Workload(spark, conf, work) {

  // the faster oracle-checked entries (0.2-0.7 s each), so that a run holds
  // several rounds: join, window and TPC-H plans plus the dedup, BM25,
  // decontamination and PII operators. q_ann_ivf_full is not among them:
  // its oracle computes cosines in float32, which for some seeds rounds a
  // value a few 1e-9 below a 4-decimal boundary up, so the check would fail
  // a correct output
  val entries: Seq[String] = Seq("q_tpch_q3", "q_join_shuffle", "q_window_rank",
    "q_dedup_minhash", "q_bm25", "q_decontaminate", "q_pii_redact")
  /** The tables those entries (and their oracles) read. */
  val tables: Seq[String] = Seq("customer", "orders", "lineitem", "documents")

  private val sf = if (conf.smoke) 0.001 else 0.01
  private val gen = new DataGen(spark, conf.seed, sf)
  // Tables keys its conversions by the last path component
  private val sfDir = new File(work, s"query_mix/data/qmix_sf$sf").getPath
  private val checkDir = new File(work, "query_mix/outputs").getPath
  private val rounds = new Rounds(entries)
  // strawboat write throughput of each set-up; the run reports the median
  private val writeRates = scala.collection.mutable.ArrayBuffer[Double]()
  private var tableBytesAtSetup = 0L

  private def tableDirs: Seq[String] = tables.map(Tables.strawDir(spark, sfDir, _))
  private def tableBytes: Long = tableDirs.map(d => Probes.bytes(Probes.files(d))).sum

  def setup(): Map[String, Any] = {
    rm(new File(work, "query_mix"))
    Tables.invalidate(sfDir)
    graft.spark.FooterCache.clear()
    implicit val ec: ExecutionContext = ExecutionContext.global
    // independent tables are generated, then converted, concurrently (as
    // graft.Bench converts them)
    def each[T](f: String => T): Seq[T] =
      Await.result(Future.sequence(tables.map(t => Future(f(t)))), 10.minutes)
    val (_, genS) = time(each(t => DataGen.write(gen, t, sfDir)))
    val (dirs, convertS) = time(each(Tables.strawDir(spark, sfDir, _)))
    // the harness runs from the checkout root, and must write nothing outside it
    val checkout = new File(".").getCanonicalPath + File.separator
    dirs.foreach(d => require(new File(d).getCanonicalPath.startsWith(checkout),
      s"conversion landed outside the checkout: $d"))
    val rows = gen.rowCounts
    writeRates += rows.values.sum / convertS
    tableBytesAtSetup = tableBytes
    Map("sf" -> sf, "rows" -> rows, "generate_s" -> genS, "convert_s" -> convertS,
      "straw_bytes" -> dirs.map(d => Probes.bytes(Probes.strawFiles(d))).sum,
      "parquet_bytes" -> Probes.bytes(Probes.parquetFiles(sfDir)))
  }

  private def execute(entry: String): Unit =
    SparkEntry.queries(entry)(spark, sfDir).write.format("noop").mode("overwrite").save()

  private val wrong = scala.collection.mutable.LinkedHashMap[String, String]()

  /** First run of each entry (it builds the entry's derived fixtures, such
    * as indexes), writing its output once for the DuckDB comparison; an
    * entry that cannot produce it is wrong here already. */
  def warmup(): Unit = entries.foreach { e =>
    try SparkEntry.queries(e)(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$checkDir/$e")
    catch { case t: Throwable => wrong(e) = Main.describe(t) }
  }

  def nextOp(rng: java.util.Random): Op = {
    val e = rounds.next(rng)
    Op(e, () => execute(e))
  }

  def atStepBoundary: Boolean = rounds.atRoundStart

  def checkOutputs(): Map[String, String] = wrong.toMap

  override def oracleChecks: Map[String, Any] = Map(
    "data_dir" -> sfDir, "output_dir" -> checkDir,
    "tables" -> tables,
    "sql" -> entries.map(e => e -> SparkEntry.oracleSql(e)).toMap)

  def endMetrics(recs: Seq[Main.OpRecord]): Map[String, Double] = Map(
    "write_rows_per_s" -> Stats.median(writeRates.toSeq),
    "stored_bytes_ratio" -> tableDirs.map(d => Probes.bytes(Probes.strawFiles(d))).sum.toDouble /
      Probes.bytes(Probes.parquetFiles(sfDir)),
    "live_space_ratio" -> tableBytes.toDouble / tableBytesAtSetup)

  def probes(): ProbeResult = {
    val files = tableDirs.flatMap(Probes.strawFiles)
    probeFiles(files, Tables.straw(spark, sfDir, "lineitem"))
  }

  override def traceExtras(recs: Seq[Main.OpRecord]): Map[String, Any] =
    recs.filter(_.error == null).groupBy(_.kind).map { case (e, rs) =>
      s"ops.$e.p50_s" -> Map("value" -> Stats.median(rs.map(_.seconds)), "unit" -> "s")
    }
}
