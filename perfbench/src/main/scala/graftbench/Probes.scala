package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types._

import graft.format.{BatchRead, ByteIO, Codec, LocalFileInput, StrawFileReader,
  StrawFileWriter, ValidityReader, WriteOptions}

/** File sizes and single-thread probes of the format layer, run from the
  * benchmark over the files a workload wrote. */
object Probes {

  def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new File(dir))
  }

  def strawFiles(dir: String): Seq[File] = files(dir).filter(_.getName.endsWith(".strb"))
  def parquetFiles(dir: String): Seq[File] = files(dir).filter(_.getName.endsWith(".parquet"))
  def bytes(fs: Seq[File]): Long = fs.map(_.length).sum

  /** Runs `body` until `minSeconds` have passed; returns the units of work
    * it reported in total and the seconds taken. */
  private def rate(minSeconds: Double)(body: => Long): (Long, Double) = {
    var units = 0L
    val t0 = System.nanoTime()
    var dt = 0.0
    while (dt < minSeconds || units == 0L) {
      units += body
      dt = (System.nanoTime() - t0) / 1e9
    }
    (units, dt)
  }

  /** `BatchRead.readFile` of every page of `fs`, in file MB per second. */
  def decodeMbPerSec(fs: Seq[File], minSeconds: Double): Double = {
    fs.foreach(f => BatchRead.readFile(f.getPath)) // warm
    val (b, dt) = rate(minSeconds) {
      fs.foreach(f => BatchRead.readFile(f.getPath))
      bytes(fs)
    }
    b / 1e6 / dt
  }

  /** Median microseconds of `StrawFileReader.readFooter` per file. */
  def footerParseMicros(fs: Seq[File], reps: Int): Double = {
    val samples = for (_ <- 0 until reps; f <- fs) yield {
      val in = new LocalFileInput(f.getPath)
      try {
        val t0 = System.nanoTime()
        StrawFileReader.readFooter(in)
        (System.nanoTime() - t0) / 1e3
      } finally in.close()
    }
    Stats.median(samples.drop(fs.size)) // first pass warms
  }

  /** Rows of `df` as UnsafeRows on the driver, for the encode probe. */
  def unsafeRows(df: DataFrame, limit: Int): Array[InternalRow] =
    df.limit(limit).queryExecution.toRdd.map(_.copy()).collect()

  /** `StrawFileWriter` over `rows`, in input (UnsafeRow) MB per second. */
  def encodeMbPerSec(schema: StructType, rows: Array[InternalRow], minSeconds: Double): Double = {
    val inBytes = rows.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => 0L
    }.sum
    def once(): Long = {
      val w = new StrawFileWriter(schema, WriteOptions())
      rows.foreach(w.write)
      w.finish()
      inBytes
    }
    once() // warm
    val (b, dt) = rate(minSeconds)(once())
    b / 1e6 / dt
  }

  /** Pages per chosen codec over the flat numeric columns of `fs`, read
    * from each page's codec tag. */
  def codecPages(fs: Seq[File]): Map[String, Long] = {
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    fs.foreach { f =>
      val in = new LocalFileInput(f.getPath)
      try {
        val footer = StrawFileReader.readFooter(in)
        footer.schema.fields.zipWithIndex.foreach { case (fld, i) =>
          val numeric = fld.dataType match {
            case _: NumericType | DateType | TimestampType | TimestampNTZType => true
            case _ => false
          }
          val leaf = footer.leafStarts(i)
          if (numeric && footer.leafStarts(i + 1) == leaf + 1) {
            val col = footer.columns(leaf)
            col.pageOffsets.zip(col.pages).foreach { case (off, pm) =>
              val buf = ByteIO.reader(in.readFully(off, pm.compLen.toInt))
              ValidityReader.read(buf)
              counts(Codec.name(buf.get() & 0xff)) += 1
            }
          }
        }
      } finally in.close()
    }
    counts.toMap
  }

  val codecNames: Seq[String] = Seq(0, 1, 2, 3, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19).map(Codec.name)
}
