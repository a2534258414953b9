package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types.StructType

import graft.spark.{StrawBulkLoad, StrawCompaction, StrawDelete, StrawMerge, StrawUpdate}

/** `ingest_mutate`: two fresh tables from the seed, lineitem rows and
  * documents rows, each with a unique key. Each step, on one table in
  * turn, appends a batch, DELETEs a seeded key range, UPDATEs another,
  * and MERGEs a batch of half existing and half new keys; every other step
  * of each table also compacts and reads the table back. After every step
  * the table is compared with a model of the rows it must hold. */
final class IngestMutate(spark: SparkSession, conf: Main.Conf, work: File)
    extends Workload(spark, conf, work) {
  import IngestMutate._

  private val sf = if (conf.smoke) 0.001 else 0.01
  private val gen = new DataGen(spark, conf.seed, sf)

  /** One mutated table: its generator, key, the column UPDATE sets, and the
    * model of its live rows by key. */
  private final class Target(val name: String, val key: String, val baseRows: Long,
      cols: (Column, Column) => Seq[Column], val setCol: String, val setValue: Any) {
    val dir: String = new File(work, s"ingest_mutate/$name").getPath
    val model = mutable.Map[Long, RowState]()
    var nextKey = 0L

    /** The rows that the states `(id, v, u)` of `states` stand for. */
    def expected(states: DataFrame): DataFrame =
      states.select(col("u") +: cols(col("id"), col("id") + col("v") * 1000000000000L): _*)
        .withColumn(setCol, when(col("u"), lit(setValue)).otherwise(col(setCol)))
        .drop("u")
    lazy val schema: StructType = expected(statesDf(Seq((0L, 0L, false)))).schema
    def rowHash: Column = xxhash64(schema.fieldNames.toSeq.map(col): _*)
    def statesDf(ks: Seq[(Long, Long, Boolean)]): DataFrame =
      spark.createDataFrame(ks).toDF("id", "v", "u")

    /** Rows for new versions of `ids`, collected so that writing them times
      * only the write, with each row's state for the model. */
    def batch(ids: Seq[Long], version: Long): (DataFrame, Seq[(Long, RowState)]) = {
      val got = expected(statesDf(ids.map(i => (i, version, false))))
        .withColumn("_hash", rowHash).collect()
      val rows = got.map(r => Row.fromSeq(r.toSeq.dropRight(1)))
      (spark.createDataFrame(rows.toSeq.asJava, schema),
        got.map(r => r.getLong(0) -> RowState(version, updated = false, r.getLong(r.length - 1))).toSeq)
    }

    /** The model's states for `keys` once UPDATE has set their column. */
    def updatedStates(keys: Seq[Long]): Seq[(Long, RowState)] =
      if (keys.isEmpty) Nil
      else expected(statesDf(keys.map(k => (k, model(k).version, true))))
        .select(col(key), rowHash).collect().toSeq
        .map(r => r.getLong(0) -> model(r.getLong(0)).copy(updated = true, hash = r.getLong(1)))

    def load: DataFrame = spark.read.format("strawboat").load(dir)

    /** Key → row hash of the table as stored. */
    def stored: Map[Long, Long] =
      load.select(col(key), rowHash).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    /** Row count and sum of the low 32 bits of the row hashes, stored and
      * as the model says: equal unless the table differs from the model. */
    def digest: (Long, Long) = {
      val r = load.agg(count(lit(1)), coalesce(sum(rowHash.bitwiseAND(0xffffffffL)), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    def modelDigest: (Long, Long) =
      (model.size.toLong, model.valuesIterator.map(_.hash & 0xffffffffL).sum)

    /** Rewrite the table as the model says it should be. */
    def restore(): Unit = StrawBulkLoad.save(expected(statesDf(
      model.toSeq.map { case (k, s) => (k, s.version, s.updated) })), dir)
  }

  private val li = new Target("lineitem", "row_id", gen.nLineitem,
    (k, v) => k.as("row_id") +: gen.lineitemCols(v), "l_tax", 0.5)
  private val docs = new Target("documents", "doc_id", gen.nDocuments * 10,
    (k, v) => gen.documentsCols(k, v), "source", "updated")
  private val targets = Seq(li, docs)

  private var step = 0
  private var version = 1L
  private val pending = mutable.Queue[Planned]()
  private var lastAfter: String => Unit = _ => ()
  private var checkTarget: Target = _
  private val stepOps = mutable.ArrayBuffer[String]()
  private val failed = mutable.LinkedHashMap[String, String]()
  /** Rows written (appended or merged), files rewritten and rows marked
    * dead by deletion vectors, per op id. */
  private val written = mutable.Map[String, Long]()
  private val filesRewritten = mutable.Map[String, Long]()
  private val dvRows = mutable.Map[String, Long]()

  def setup(): Map[String, Any] = {
    rm(new File(work, "ingest_mutate"))
    graft.spark.FooterCache.clear()
    step = 0
    version = 1L
    pending.clear()
    targets.foreach { t =>
      val df = t.expected(spark.range(0, t.baseRows, 1, 4).toDF()
        .select(col("id"), lit(0L).as("v"), lit(false).as("u")))
      StrawBulkLoad.save(df, t.dir)
      t.model.clear()
      df.select(col(t.key), t.rowHash).collect().foreach { r =>
        t.model(r.getLong(0)) = RowState(0L, updated = false, r.getLong(1))
      }
      t.nextKey = t.baseRows
    }
    Map("rows" -> targets.map(t => t.name -> t.baseRows).toMap,
      "straw_bytes" -> targets.map(t => Probes.bytes(Probes.strawFiles(t.dir))).sum)
  }

  // two steps (every op kind, both tables); the loop goes on from there
  def warmup(): Unit = {
    val rng = new java.util.Random(conf.seed ^ 0x5eed)
    while (step < 2 || pending.nonEmpty) {
      val op = nextOp(rng)
      op.run()
      afterOp("warmup", ok = true)
    }
  }

  private def fraction(t: Target, f: Double): Int = math.max(1, (t.baseRows * f).toInt)

  private def planStep(rng: java.util.Random): Unit = {
    val t = if (step % 2 == 0) li else docs
    val s = step
    step += 1
    checkTarget = t
    def range(width: Long): (Long, Long) = {
      val lo = (rng.nextDouble() * math.max(1L, t.nextKey - width)).toLong
      (lo, lo + width)
    }
    def inRange(k: Long, r: (Long, Long)) = k >= r._1 && k < r._2
    def between(r: (Long, Long)) = Seq(GreaterThanOrEqual(t.key, r._1), LessThan(t.key, r._2))

    val appendKeys = t.nextKey until t.nextKey + fraction(t, 0.02)
    t.nextKey += appendKeys.size
    val (appendDf, appendRows) = t.batch(appendKeys, version)
    version += 1
    val del = range(fraction(t, 0.01))
    val upd = range(fraction(t, 0.01))
    val half = fraction(t, 0.01)
    val live = t.model.keys.toArray.sorted
    val matched = Seq.fill(half)(live(rng.nextInt(live.length))).distinct
    val fresh = t.nextKey until t.nextKey + half
    t.nextKey += half
    val (mergeDf, mergeRows) = t.batch(matched ++ fresh, version)
    version += 1

    pending += Planned("append",
      () => appendDf.write.format("strawboat").mode("append").save(t.dir),
      id => { written(id) = appendRows.size; t.model ++= appendRows })
    var deleted: StrawDelete.DeleteResult = null
    pending += Planned("delete",
      () => deleted = StrawDelete.delete(spark, t.dir, between(del)),
      id => {
        filesRewritten(id) = deleted.rewrittenFiles
        dvRows(id) = if (deleted.dvFiles > 0) deleted.deletedRows else 0L
        t.model.filterInPlace { case (k, _) => !inRange(k, del) }
      })
    var updated: StrawUpdate.UpdateResult = null
    pending += Planned("update",
      () => updated = StrawUpdate.update(spark, t.dir, between(upd), Map(t.setCol -> t.setValue)),
      id => {
        filesRewritten(id) = updated.rewrittenFiles
        dvRows(id) = if (updated.dvFiles > 0) updated.updatedRows else 0L
        t.model ++= t.updatedStates(t.model.keys.filter(inRange(_, upd)).toSeq)
      })
    var merged: StrawMerge.MergeResult = null
    pending += Planned("merge",
      () => merged = StrawMerge.merge(spark, t.dir, mergeDf, Seq(t.key)),
      id => {
        written(id) = mergeRows.size
        filesRewritten(id) = merged.removedFiles
        dvRows(id) = if (merged.dvFiles > 0) merged.matchedRows else 0L
        t.model ++= mergeRows
      })
    if (s % 4 < 2) {
      var compacted: StrawCompaction.CompactionResult = null
      pending += Planned("compact",
        () => compacted = StrawCompaction.compact(spark, t.dir),
        id => filesRewritten(id) = compacted.inputFiles)
      pending += Planned("read_back",
        () => t.load.write.format("noop").mode("overwrite").save(), _ => ())
    }
  }

  def nextOp(rng: java.util.Random): Op = {
    if (pending.isEmpty) planStep(rng)
    val p = pending.dequeue()
    lastAfter = p.after
    Op(p.kind, p.body)
  }

  // a cycle is four steps: two per table, the first of them compacted, so
  // every run ends in the same phase of the compaction cycle, with one
  // uncompacted step on each table
  def atStepBoundary: Boolean = pending.isEmpty && step % 4 == 0

  override def afterOp(id: String, ok: Boolean): Unit = {
    if (ok) lastAfter(id)
    stepOps += id
    if (pending.isEmpty) {
      checkStep().foreach { why =>
        stepOps.foreach(failed(_) = why)
        // put the table back in the model's state, so one wrong step does
        // not fail every later one
        checkTarget.restore()
      }
      stepOps.clear()
    }
  }

  /** None when the table matches the model; else the first difference,
    * found by comparing row by row once the digests differ. */
  private def checkStep(): Option[String] = {
    val t = checkTarget
    if (t.digest == t.modelDigest) return None
    val got = t.stored
    val want = t.model.view.mapValues(_.hash).toMap
    val where = s"${t.name} after step ${step - 1}"
    if (got == want) None
    else (got.keySet -- want.keySet).headOption.map(k => s"$where: unexpected key $k")
      .orElse((want.keySet -- got.keySet).headOption.map(k => s"$where: missing key $k"))
      .orElse(want.find { case (k, h) => got(k) != h }.map { case (k, _) => s"$where: row $k differs" })
  }

  override def failedOps: Map[String, String] = failed.toMap

  def checkOutputs(): Map[String, String] = Map.empty // checked after every step

  def endMetrics(recs: Seq[Main.OpRecord]): Map[String, Double] = {
    val writes = recs.filter(r => r.error == null && written.contains(r.id))
    // the live rows written fresh, as strawboat and as parquet
    val fresh = targets.map { t =>
      val d = new File(work, s"ingest_mutate/fresh/${t.name}")
      rm(d)
      StrawBulkLoad.save(t.load, d.getPath + "/straw")
      t.load.write.parquet(d.getPath + "/parquet")
      d.getPath
    }
    Map(
      "write_rows_per_s" -> writes.map(r => written(r.id)).sum / writes.map(_.seconds).sum,
      "stored_bytes_ratio" -> fresh.map(d => Probes.bytes(Probes.strawFiles(d + "/straw"))).sum
        .toDouble / fresh.map(d => Probes.bytes(Probes.parquetFiles(d + "/parquet"))).sum,
      "live_space_ratio" -> targets.map(t => Probes.bytes(Probes.files(t.dir))).sum.toDouble /
        fresh.map(d => Probes.bytes(Probes.files(d + "/straw"))).sum)
  }

  def probes(): ProbeResult =
    probeFiles(targets.flatMap(t => Probes.strawFiles(t.dir)), li.load)

  override def traceExtras(recs: Seq[Main.OpRecord]): Map[String, Any] = {
    val ok = recs.filter(_.error == null)
    val byKind = ok.groupBy(_.kind)
    val times = Seq("append", "delete", "update", "merge", "compact").map { k =>
      s"dml.${k}_s" -> Map("value" -> byKind.get(k).map(rs => Stats.median(rs.map(_.seconds)))
        .getOrElse(Double.NaN), "unit" -> "s")
    }
    times.toMap ++ Map(
      "dml.files_rewritten" -> Map("value" -> ok.map(r => filesRewritten.getOrElse(r.id, 0L)).sum,
        "unit" -> "count"),
      "dml.dv_rows" -> Map("value" -> ok.map(r => dvRows.getOrElse(r.id, 0L)).sum,
        "unit" -> "count"))
  }
}

object IngestMutate {
  /** What the model knows of one live row: the generator version its
    * values come from, whether UPDATE has set its column, and the hash of
    * the whole row. */
  private final case class RowState(version: Long, updated: Boolean, hash: Long)

  /** A planned op: the timed library call, then, untimed, its effect on
    * the model and its counters (given the op id). */
  private final case class Planned(kind: String, body: () => Unit, after: String => Unit)
}
