package graft.format

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Eager whole-file batch read — the reference's batch tier
  * (reference: src/read/batch_read.rs:27-209 loops every page of a column
  * into one values buffer; the nested variant reassembles per page and
  * concatenates) re-expressed over the same page decoders the streaming
  * reader uses.
  *
  * Scans stream instead: the connector's columnar reader
  * (`graft.spark.ColumnarSupport.StrawColumnarReader`) holds one page group
  * per column at a time, the bounded-memory shape 100 TB requires, and
  * [[StrawFileReader.rows]] is the row-at-a-time reference over the same
  * decoders. This tier is the deliberate
  * opposite trade for callers that want one (small) file materialized at
  * once — sidecar-scale lookups, tooling, tests — mirroring how the
  * reference itself uses `batch_read_array` (its tests and examples, not
  * its scan loop). Every page of each projected column decodes UP FRONT;
  * each column then presents as a single [[ConcatPage]] view spanning the
  * whole file, so the result is directly indexable like the reference's
  * concatenated array without re-copying the decoded pages.
  */
object BatchRead {

  /** One eagerly-decoded file: `columns(c).value(i)` is row `i` of
    * projected column `c`, for any `i` in `[0, numRows)`. */
  final case class ColumnBatch(
      schema: StructType,
      columns: Array[DecodedPage],
      numRows: Int) {

    /** Materialize as rows (convenience for tests/tooling; the streaming
      * reader is the path for row-at-a-time consumption at scale). */
    def toRows: Iterator[InternalRow] =
      Iterator.range(0, numRows).map { i =>
        val row = new GenericInternalRow(columns.length)
        var c = 0
        while (c < columns.length) {
          row.update(c, columns(c).valueOrNull(i))
          c += 1
        }
        row
      }
  }

  /** Read whole columns of one file eagerly. `fields` are indexes into
    * `footer.schema` (empty = every column, the reference's default).
    * All pages decode before this returns — the caller opts into holding
    * the full file in memory. */
  def readColumns(
      input: RandomInput,
      footer: StrawFooter,
      fields: Array[Int] = Array.empty): ColumnBatch = {
    val proj = if (fields.isEmpty) footer.schema.fields.indices.toArray else fields
    val schema = StructType(proj.map(footer.schema.fields(_)))
    if (footer.columns.isEmpty)
      return ColumnBatch(schema, Array.empty,
        math.min(footer.numRows, Int.MaxValue.toLong).toInt)
    val numPages = footer.columns(0).pages.length
    val cols = proj.map { fi =>
      val pc = ProjCol.plan(footer, fi, footer.schema.fields(fi).dataType)
      val leafOffsets = pc.globalLeaves.map(li => footer.columns(li).pageOffsets)
      val pages = Array.tabulate(numPages)(p =>
        StrawFileReader.decodeColumnPage(input, footer, pc, leafOffsets, p))
      new ConcatPage(pages): DecodedPage
    }
    val n = if (numPages == 0) 0 else footer.columns(0).pages.map(_.numValues).sum
    ColumnBatch(schema, cols, n)
  }

  /** Convenience entry: open, parse the footer, read eagerly, close. */
  def readFile(path: String, projection: Seq[String] = Nil): ColumnBatch = {
    val in = new LocalFileInput(path)
    try {
      val footer = StrawFileReader.readFooter(in)
      val fields =
        if (projection.isEmpty) Array.empty[Int]
        else projection.toArray.map(footer.schema.fieldIndex)
      readColumns(in, footer, fields)
    } finally in.close()
  }
}
