package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One op of the closed loop: its kind (the name its latency is reported
  * under) and the work, timed by the harness. */
final case class Op(kind: String, run: () => Unit)

final case class ProbeResult(decodeMbS: Double, encodeMbS: Double, footerParseUs: Double,
    codecPages: Map[String, Long])

/** A workload: cold set-up, warm-up, a seeded op stream, output checks and
  * the metrics only it can give. */
abstract class Workload(val spark: SparkSession, val conf: Main.Conf, val work: File) {
  /** Cold set-up from the seed; returns row counts and bytes for the report. */
  def setup(): Map[String, Any]
  def warmup(): Unit
  def nextOp(rng: java.util.Random): Op
  /** False while the loop is inside a step or round that must complete, so
    * every run holds whole rounds of the op mix. */
  def atStepBoundary: Boolean
  def afterOp(id: String, ok: Boolean): Unit = ()
  /** Kind → reason, for kinds whose output check (once per run) failed. */
  def checkOutputs(): Map[String, String]
  /** Op id → reason, for ops failed by per-step model checks. */
  def failedOps: Map[String, String] = Map.empty
  /** `write_rows_per_s`, `stored_bytes_ratio` and `live_space_ratio`. */
  def endMetrics(recs: Seq[Main.OpRecord]): Map[String, Double]
  /** The format-layer probes over this workload's files. */
  def probes(): ProbeResult
  /** Per-layer numbers only this workload has (traced run). */
  def traceExtras(recs: Seq[Main.OpRecord]): Map[String, Any] = Map.empty
  /** Outputs to be checked outside the JVM (query_mix's DuckDB oracle). */
  def oracleChecks: Map[String, Any] = Map.empty

  protected def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  protected def probeFiles(files: Seq[File], sample: DataFrame): ProbeResult = {
    val budget = if (conf.smoke) 0.05 else 0.5
    ProbeResult(
      Probes.decodeMbPerSec(files, budget),
      Probes.encodeMbPerSec(sample.schema, Probes.unsafeRows(sample, 100000), budget),
      Probes.footerParseMicros(files, 5),
      Probes.codecPages(files))
  }

  protected def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Seeded kinds in balanced rounds: every kind once per round, in a fresh
  * shuffled order, so a run's op mix does not depend on its length. */
final class Rounds(kinds: Seq[String]) {
  private val queue = mutable.Queue[String]()
  def atRoundStart: Boolean = queue.isEmpty
  def next(rng: java.util.Random): String = {
    if (queue.isEmpty) {
      val a = kinds.toArray
      var i = a.length - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      queue ++= a
    }
    queue.dequeue()
  }
}
