package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the `customer`, `orders`, `lineitem` and
  * `documents` tables that the benchmark's `SparkEntry.queries` read,
  * with the column names, types and value ranges of the repository's
  * testdata. Every value is a hash of (seed, row id, column), so a table is
  * the same for a seed whatever the partitioning, and a different seed
  * gives different rows of the same shape.
  */
final class DataGen(spark: SparkSession, seed: Long, sf: Double) {

  private def rows(perSf: Double, min: Long = 1L): Long =
    math.max(min, math.round(perSf * sf))

  val nCustomer: Long = rows(150000)
  val nSupplier: Long = rows(10000)
  val nPart: Long = rows(200000)
  val nOrders: Long = rows(1500000)
  val nLineitem: Long = rows(6000000)
  val nDocuments: Long = rows(50000)

  def rowCounts: Map[String, Long] = Map("customer" -> nCustomer, "orders" -> nOrders,
    "lineitem" -> nLineitem, "documents" -> nDocuments)

  /** Uniform in [0, 1) from (seed, `id`, salt `k`). */
  private def u(id: Column, k: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(k)), lit(1000003L)).cast(DoubleType) / 1000003.0

  private def pick(id: Column, k: Int, n: Long): Column =
    floor(u(id, k) * n).cast(LongType)

  private def oneOf(id: Column, k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pick(id, k, values.size.toLong) + 1).cast(IntegerType))

  private def money(id: Column, k: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, k) * (hi - lo), 2)

  private def tsBetween(id: Column, k: Int, from: String, days: Int): Column =
    date_add(lit(java.time.LocalDate.parse(from)), pick(id, k, days.toLong).cast(IntegerType))
      .cast(TimestampNTZType)

  private def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()
  private val id = col("id")

  def customer: DataFrame = range(nCustomer).select(
    id.as("c_custkey"),
    format_string("Customer#%09d", id).as("c_name"),
    pick(id, 1, 25).cast(IntegerType).as("c_nationkey"),
    money(id, 2, -999.99, 9999.99).as("c_acctbal"),
    oneOf(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
      .as("c_mktsegment"))

  def orders: DataFrame = range(nOrders).select(
    id.as("o_orderkey"),
    pick(id, 1, nCustomer).as("o_custkey"),
    oneOf(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
    money(id, 3, 1000.0, 500000.0).as("o_totalprice"),
    tsBetween(id, 4, "1995-01-01", 2404).as("o_orderdate"),
    oneOf(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .as("o_orderpriority"))

  def lineitemCols(id: Column): Seq[Column] = Seq(
    pick(id, 1, nOrders).as("l_orderkey"),
    pick(id, 2, nPart).as("l_partkey"),
    pick(id, 3, nSupplier).as("l_suppkey"),
    (pick(id, 4, 7) + 1).cast(IntegerType).as("l_linenumber"),
    (pick(id, 5, 50) + 1).cast(DoubleType).as("l_quantity"),
    money(id, 6, 900.0, 105000.0).as("l_extendedprice"),
    (pick(id, 7, 11).cast(DoubleType) / 100.0).as("l_discount"),
    (pick(id, 8, 9).cast(DoubleType) / 100.0).as("l_tax"),
    oneOf(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
    oneOf(id, 10, Seq("F", "O")).as("l_linestatus"),
    tsBetween(id, 11, "1995-01-02", 2498).as("l_shipdate"))

  def lineitem: DataFrame = range(nLineitem).select(lineitemCols(id): _*)

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** 10..100 words drawn from the vocabulary for document `d`. */
  private def words(d: Column): Column = {
    val n = pick(d, 20, 91) + 10
    array_join(transform(sequence(lit(1L), n), k =>
      element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), d, k, lit(21)), lit(vocab.size.toLong)) + 1).cast(IntegerType))),
      " ")
  }

  /** One document in twenty is an earlier document's text plus " dup".
    * Values are a function of `id`; `doc_id` is the key column passed in. */
  def documentsCols(docId: Column, id: Column): Seq[Column] = {
    val isDup = id > 0 && u(id, 1) < 0.05
    val text = when(isDup, concat(words(floor(u(id, 2) * id).cast(LongType)), lit(" dup")))
      .otherwise(words(id))
    val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh", "de", "es", "fr", "zh")
    Seq(docId.as("doc_id"), text.as("text"), oneOf(id, 3, langs).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast(StringType)).as("source"),
      length(text).cast(LongType).as("n_chars"))
  }

  def documents: DataFrame = range(nDocuments).select(documentsCols(id, id): _*)

  def table(name: String): DataFrame = name match {
    case "customer" => customer
    case "orders" => orders
    case "lineitem" => lineitem
    case "documents" => documents
  }
}

object DataGen {
  /** Write table `name` as one parquet file under `<dir>/<name>.parquet`,
    * the layout `SparkEntry` reads. */
  def write(gen: DataGen, name: String, dir: String): Unit =
    gen.table(name).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
