package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Decontaminate, Dedup, Multimodal, Privacy, Search,
  Sessionize, TextOps}

/** Driver contract: every operator surfaced as a named query over
  * strawboat-format data (converted once from the parquet testdata by
  * [[Tables]]), with a DuckDB-runnable oracle over the same parquet where
  * the semantics are SQL-expressible.
  *
  * Conventions for oracle parity:
  *  - every query ends in a deterministic ORDER BY (both sides);
  *  - aggregated doubles are round()ed so accumulation-order noise can't
  *    flip the hash compare;
  *  - aliases match between the DataFrame and the SQL exactly.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.straw(s, dir, name)

  /** The two-commit time-travel fixture (q_timetravel / q_history): even
    * doc_ids as log version 1 (truncate of a fresh dir), odd as version 2
    * (append). Built once per sf, marker-cached like the conversions. */
  private def ttTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "documents") + "_tt", "_OK") { ttDir =>
      val docs = t(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("strawboat").mode("overwrite").save(ttDir)
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.format("strawboat").mode("append").save(ttDir)
      require(graft.spark.StrawLog.latestVersion(ttDir).exists(_ >= 2L),
        "timetravel fixture: expected at least two log versions")
    }

  /** Marker-cached fixture: `build(dir)` runs once per (dir, marker) —
    * the sf-scoped one-time table derivations (indexes, streamed sinks)
    * all cache this way, like the conversions. */
  private def cachedFixture(dir: String, markerName: String,
      cleanDirs: Seq[String] = Nil)(build: String => Unit): String = {
    val marker = new java.io.File(dir, markerName)
    if (!marker.exists()) {
      // fixtures that APPEND during the build (streamed indexes) list
      // their dirs here so a crashed partial build can't leak rows or
      // stream offsets into the rebuild; overwrite-mode builders need no
      // cleanup and pass nothing
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val c = f.listFiles; if (c != null) c.foreach(rm) }
        f.delete(): Unit
      }
      cleanDirs.foreach(p => rm(new java.io.File(p)))
      build(dir)
      marker.createNewFile()
    }
    dir
  }

  /** The persisted lexical index fixtures (q_bm25_indexed /
    * q_bm25_appended / q_phrase_search): documents inverted into a
    * term-bucketed postings table + one-row meta through
    * [[graft.ops.Search.buildLexicalIndex]]. Built once per sf. */
  private def lexIndex(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "documents") + "_lexidx", "_INDEXED") {
      dir => Search.buildLexicalIndex(t(s, d, "documents"), "doc_id", "text",
        dir, buckets = 16)
    }

  /** The persisted IVF index fixture (q_ann_ivf_indexed /
    * q_hybrid_indexed): embeddings assigned to 16 cells, written
    * hive-partitioned by cent_id with the centroid sidecar. Built once per
    * sf; a full probe (nProbe = 16) makes probes exactly brute-force, so
    * oracle SQL can replay them. */
  private def ivfIndex(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_ivfidx", "_OK") {
      dir => Ann.buildIvfIndex(s, t(s, d, "embeddings"), dir, 64,
        nCentroids = 16, seed = 7): Unit
    }

  /** The synthetic PNG table fixture (q_multimodal_images / _decode /
    * _resize): one valid PNG per document, dimensions derived from doc_id
    * (the formula the oracles replay), stored through strawboat binary
    * pages. Built once per sf. */
  private def imgTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "documents") + "_img", "_OK") { dir =>
      Multimodal.asImages(t(s, d, "documents"))
        .write.format("strawboat").mode("overwrite").save(dir)
    }

  /** `k` one-hot centroids over `dim` dims (centroid c = e_c): the fixed
    * SemDeDup quantizer whose L2-nearest assignment reduces to an argmax
    * over the first `k` embedding dims — exactly replayable in the SQL
    * oracle (q_dedup_semantic / _clean). */
  private def oneHotCents(k: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(k, dim)((c, i) => if (i == c) 1f else 0f)

  /** The persisted PQ index fixture (q_ann_pq / _pq_recall): embeddings
    * encoded once as (vec_id, pqcode, embedding) sorted by vec_id, with
    * the codebook sidecar — the build lands here, the queries time the
    * ADC probe + point-read rerank. */
  private def pqTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_pqidx", "_OK") { dir =>
      graft.ops.Ann.buildPqIndex(s, t(s, d, "embeddings"), dir, 64): Unit
    }

  /** The persisted IVF-PQ index fixture (q_ann_ivfpq / _ivfpq_recall):
    * hive-partitioned by coarse cell, PQ codes per vector, both sidecars. */
  private def ivfPqTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_ivfpqidx", "_OK") { dir =>
      graft.ops.Ann.buildIvfPqIndex(s, t(s, d, "embeddings"), dir, 64,
        nCentroids = 16)
    }

  /** The persisted BQ index fixture (q_ann_bq / _bq_recall): sign-bit
    * codes + floats sorted by vec_id, `_bq_meta` sidecar. */
  private def bqTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_bqidx", "_OK") { dir =>
      graft.ops.Ann.buildBqIndex(s, t(s, d, "embeddings"), dir, 64)
    }

  /** The persisted IVF-BQ index fixture (q_ann_ivfbq / _ivfbq_gate):
    * hive-partitioned by coarse cell, sign-bit codes, both sidecars. */
  private def ivfBqTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_ivfbqidx", "_OK") { dir =>
      graft.ops.Ann.buildIvfBqIndex(s, t(s, d, "embeddings"), dir, 64,
        nCentroids = 16)
    }

  /** The OPQ-rotated PQ index fixture (q_ann_opq / _opq_recall): same as
    * the flat PQ index plus the learned orthogonal pre-rotation (Ge et
    * al.) — the `_opq_rotation` sidecar, codes in the rotated basis. */
  private def opqTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "embeddings") + "_opqidx", "_OK") { dir =>
      graft.ops.Ann.buildPqIndex(s, t(s, d, "embeddings"), dir, 64,
        opq = true): Unit
    }

  /** The synthetic WAV table fixture (q_multimodal_audio / _audio_decode /
    * _audio_gate): one valid 16-bit PCM WAV per document, parameters
    * derived from doc_id (the formula the oracles replay), samples from a
    * doc_id-seeded uniform generator (deterministic, so the RMS band gate
    * is exact, not statistical-flaky). Built once per sf. */
  private def audTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "documents") + "_aud", "_OK") { dir =>
      Multimodal.asAudio(t(s, d, "documents"))
        .write.format("strawboat").mode("overwrite").save(dir)
    }

  /** The synthetic raw-video table fixture (q_multimodal_video /
    * _video_frames): one GRV1 container per document, parameters derived
    * from doc_id (the formula the oracles replay), frame bytes from a
    * doc_id-seeded generator. Built once per sf. */
  private def vidTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "documents") + "_vid", "_OK") { dir =>
      Multimodal.asVideo(t(s, d, "documents"))
        .write.format("strawboat").mode("overwrite").save(dir)
    }

  /** Shared streaming-fixture scaffold (q_stream_windowed / _sessions /
    * _dedup): wipes (source, sink, checkpoint), writes the source
    * RANGE-PARTITIONED by `orderCol` into 4 files so micro-batches arrive
    * in event order — files admit in (mtime, path) order and part file
    * names follow partition ids; a time-arbitrary split would let batch 1
    * advance the watermark past the whole history and every later batch
    * would drop as late data, the standard replayed-backlog pitfall —
    * then appends the `extras` frames (sentinels, duplicate replays) as
    * LATER batches, drains `transform` of the one-file-per-trigger stream
    * into a strawboat sink with AvailableNow, and marker-caches the sink.
    * @return the sink directory */
  private def streamedSink(s: SparkSession, base: String, suffix: String,
      queryName: String, source: => DataFrame, orderCol: String,
      extras: DataFrame => Seq[DataFrame])(
      transform: DataFrame => DataFrame): String =
    cachedFixture(base + s"_${suffix}sink", "_STREAMED") { outDir =>
      val augDir = base + s"_${suffix}src"
      val ckpt = base + s"_${suffix}ckpt"
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val c = f.listFiles; if (c != null) c.foreach(rm) }
        f.delete(): Unit
      }
      rm(new java.io.File(augDir)); rm(new java.io.File(outDir)); rm(new java.io.File(ckpt))
      val src = source
      src.repartitionByRange(4, col(orderCol))
        .write.format("strawboat").mode("overwrite").save(augDir)
      extras(src).foreach(
        _.write.format("strawboat").mode("append").save(augDir))
      val q = transform(s.readStream.format("strawboat")
          .option("maxFilesPerTrigger", 1).load(augDir))
        .writeStream.format("strawboat")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000),
        s"$queryName: AvailableNow drain timed out — not marking the sink complete")
    }

  /** A far-future sentinel row in the events schema: advances the
    * watermark so every real window/session closes before the
    * AvailableNow drain terminates; its own (never-closed) state stays in
    * the store and its ids are excluded on both sides. */
  private def eventsSentinel(s: SparkSession, events: DataFrame): DataFrame = {
    val maxMicros = events
      .agg(max(unix_micros(col("ts").cast("timestamp"))))
      .collect()(0).getLong(0)
    val sentinelMicros = maxMicros + 40L * 86400L * 1000000L
    s.range(1).select(
      lit(-1L).as("event_id"),
      expr(s"cast(timestamp_micros(${sentinelMicros}L) as timestamp_ntz)").as("ts"),
      lit(-1L).as("user_id"), lit("__sentinel__").as("event_type"),
      lit(0.0).as("value"), lit("").as("props"))
  }

  /** events.ts is TIMESTAMP(µs); calendar fields come straight off the
    * column (DuckDB's day()/hour() on the same parquet column agree by
    * construction). */
  private def tsNs(): Column = col("ts")

  /** The hive-partitioned events fixture (q_scan_partitioned /
    * q_agg_partition_meta): events re-written under `event_type=X/`
    * directories THROUGH the partitioned columnar bulk loader
    * (run-dispatched batch ingest) so the driver's oracles gate that path.
    * Built once per sf, marker-cached. */
  private def byTypeTable(s: SparkSession, d: String): String =
    cachedFixture(Tables.strawDir(s, d, "events") + "_bytype", "_PARTITIONED") {
      pdir => graft.spark.StrawBulkLoad.save(t(s, d, "events"), pdir,
        partitionCols = Seq("event_type"))
    }

  /** The deleted-documents fixture (q_delete / q_delete_count): a copy of
    * documents with short docs (n_chars < 200) removed via the
    * merge-on-read DELETE — the data files stay, deletion-vector sidecars
    * carry the dead ordinals. Built once per sf, marker-cached. */
  private def delTable(s: SparkSession, d: String): String = {
    val delDir = Tables.strawDir(s, d, "documents") + "_del"
    val marker = new java.io.File(delDir, "_OK")
    if (!marker.exists()) {
      t(s, d, "documents").write.format("strawboat").mode("overwrite").save(delDir)
      val nCharsLit: Any = t(s, d, "documents").schema("n_chars").dataType match {
        case org.apache.spark.sql.types.LongType => 200L
        case _ => 200
      }
      val res = graft.spark.StrawDelete.delete(s, delDir,
        Seq(org.apache.spark.sql.sources.LessThan("n_chars", nCharsLit)))
      require(res.deletedRows > 0, s"q_delete: nothing deleted ($res)")
      require(res.rewrittenFiles == 0,
        s"q_delete: merge-on-read must not rewrite data files ($res)")
      marker.createNewFile()
    }
    delDir
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_groupby")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Queries (all read strawboat files via the DSv2 connector)
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scans, projection, filters, limits (§2.2-2.3) -------------------
    "q_scan_filter_project" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_scan_strings" -> ((s, d) => {
      t(s, d, "part").filter(col("p_size").between(10, 20))
        .select(col("p_partkey"), col("p_brand"), col("p_type"))
        .orderBy(col("p_partkey"))
    }),
    "q_point_lookup" -> ((s, d) => {
      t(s, d, "lineitem").filter(col("l_orderkey") === 1000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_linenumber"))
    }),
    "q_bloom_lookup" -> ((s, d) => {
      // per-page bloom equality filters (write option bloomColumns): a
      // digest-style key is high-cardinality with no exploitable byte
      // order, so the 8-byte prefix zone maps keep every page — the
      // page blooms pinpoint the one page holding the probed key. The
      // md5 derivation is reproducible in DuckDB, so the oracle matches.
      val gDir = Tables.strawDir(s, d, "lineitem") + "_guid"
      val marker = new java.io.File(gDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "lineitem")
          .select(md5(concat(col("l_orderkey").cast("string"), lit(":"),
              col("l_linenumber").cast("string"))).as("l_guid"),
            col("l_quantity"))
          .write.format("strawboat").mode("overwrite")
          .option("bloomColumns", "l_guid")
          .option("maxPageSize", "8192")
          .save(gDir)
        marker.createNewFile()
      }
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest("1000:1".getBytes("UTF-8")).map("%02x".format(_)).mkString
      s.read.format("strawboat").load(gDir)
        .filter(col("l_guid") === key)
        .select(col("l_guid"), col("l_quantity"))
        .orderBy(col("l_guid"))
    }),
    "q_topk_orders" -> ((s, d) => {
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("price").desc, col("o_orderkey")).limit(10)
    }),
    "q_topk_filtered" -> ((s, d) => {
      // filtered ORDER BY/LIMIT: the selective equality is consumed by the
      // scan, so the partial Top-N pushdown (per-partition k-best + page
      // bounds) composes with it — the round-4 plan shape
      t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("price"), col("o_orderpriority"))
        .orderBy(col("price").desc, col("o_orderkey")).limit(10)
    }),
    "q_scan_dates" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderdate") >= lit(java.time.LocalDateTime.of(2000, 1, 1, 0, 0)))
        .select(col("o_orderkey"), year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .orderBy(col("o_orderkey"))
    }),
    // --- codec-trigger scans (§2.4: delta-bp sorted keys, dict/rle strings)
    "q_codec_sorted" -> ((s, d) => {
      t(s, d, "lineitem").agg(
        count(lit(1)).as("cnt"), sum(col("l_orderkey")).as("s"),
        min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"))
    }),
    "q_codec_lowcard" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // --- aggregations (§2.9) ---------------------------------------------
    "q_agg_groupby" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit(java.time.LocalDateTime.of(1998, 9, 2, 0, 0)))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q_agg_distinct" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"))
        .orderBy(col("l_returnflag"))
    }),
    "q_agg_rollup" -> ((s, d) => {
      t(s, d, "orders").rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),
    "q_agg_cube" -> ((s, d) => {
      t(s, d, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),
    "q_agg_groupingsets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |  round(sum(l_quantity), 2) AS qty
          |FROM li_gs GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),
    "q_agg_approx_distinct" -> ((s, d) => {
      // HLL sketch values differ across engines, so the oracle-checkable
      // surface is a sanity bound: the sketch must land within 10% of the
      // exact count (HLL standard error is ~2%, so this is deterministic
      // headroom, not flakiness), plus the exact count itself
      t(s, d, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact_parts")) <= col("exact_parts") * 0.1)
            .as("approx_ok"),
          col("exact_parts"))
        .orderBy(col("l_returnflag"))
    }),
    "q_agg_minmax" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_linestatus"))
        .agg(round(min(col("l_quantity")), 2).as("min_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy(col("l_linestatus"))
    }),
    // --- joins (§2.9: broadcast, shuffle, semi, anti, outer) --------------
    "q_join_broadcast" -> ((s, d) => {
      t(s, d, "customer").as("c")
        .join(broadcast(t(s, d, "nation").as("n")), col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(t(s, d, "region").as("r")), col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("r.r_name"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("c.c_acctbal")), 2).as("acctbal"))
        .orderBy(col("r_name"))
    }),
    "q_join_shuffle" -> ((s, d) => {
      t(s, d, "lineitem").as("l")
        .join(t(s, d, "orders").as("o"), col("l.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("o.o_orderstatus"))
        .agg(round(sum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))), 2).as("revenue"),
          count(lit(1)).as("cnt"))
        .orderBy(col("o_orderstatus"))
    }),
    "q_join_semi" -> ((s, d) => {
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").as("o"), col("c.c_custkey") === col("o.o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_join_anti" -> ((s, d) => {
      // customers that never placed an urgent order (non-empty anti join)
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT").as("o"),
          col("c.c_custkey") === col("o.o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    "q_join_outer_count" -> ((s, d) => {
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").as("o"), col("c.c_custkey") === col("o.o_custkey"), "left_outer")
        .groupBy(col("c.c_custkey"))
        .agg(count(col("o.o_orderkey")).as("order_cnt"))
        .orderBy(col("c_custkey"))
    }),
    "q_tpch_q3" -> ((s, d) => {
      t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING").as("c")
        .join(t(s, d, "orders").as("o"), col("c.c_custkey") === col("o.o_custkey"))
        .join(t(s, d, "lineitem").as("l"), col("o.o_orderkey") === col("l.l_orderkey"))
        .groupBy(col("o.o_orderkey"))
        .agg(round(sum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }),
    "q_tpch_q6" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
    }),
    "q_tpch_q5" -> ((s, d) => {
      // declared in the classic naive FROM order (fact tables first, the
      // selective region filter LAST) with no broadcast hints — the plan
      // quality rides entirely on the footer statistics (decoded-size BHJ
      // steering + CBO NDV join reorder); Q5's c_nationkey = s_nationkey
      // side condition makes the join graph reorder-sensitive
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").as("o"), col("c.c_custkey") === col("o.o_custkey"))
        .join(t(s, d, "lineitem").as("l"), col("l.l_orderkey") === col("o.o_orderkey"))
        .join(t(s, d, "supplier").as("su"),
          col("l.l_suppkey") === col("su.s_suppkey") &&
            col("c.c_nationkey") === col("su.s_nationkey"))
        .join(t(s, d, "nation").as("n"), col("su.s_nationkey") === col("n.n_nationkey"))
        .join(t(s, d, "region").as("r"), col("n.n_regionkey") === col("r.r_regionkey"))
        .filter(col("r.r_name") === "ASIA" &&
          col("o.o_orderdate") >= lit(java.time.LocalDateTime.of(1996, 1, 1, 0, 0)) &&
          col("o.o_orderdate") < lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
        .groupBy(col("n.n_name"))
        .agg(round(sum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "q_join_multi" -> ((s, d) => {
      t(s, d, "customer").as("c")
        .join(t(s, d, "orders").as("o"), col("c.c_custkey") === col("o.o_custkey"))
        .join(t(s, d, "lineitem").as("l"), col("o.o_orderkey") === col("l.l_orderkey"))
        .join(broadcast(t(s, d, "nation").as("n")), col("c.c_nationkey") === col("n.n_nationkey"))
        .groupBy(col("n.n_name"))
        .agg(round(sum(col("l.l_extendedprice") * (lit(1) - col("l.l_discount"))), 2).as("revenue"))
        .orderBy(col("n_name"))
    }),
    // --- temporal joins: as-of + interval (join-free rewrites) ------------
    // attribution: each purchase joined to the user's latest prior click —
    // pandas merge_asof / DuckDB ASOF JOIN semantics, planned as one
    // key-shuffle + window sweep (no inequality join, no row blow-up)
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"), col("value").as("c_value"))
      graft.ops.TemporalJoin.asofJoin(purchases, clicks,
          leftKey = "user_id", rightKey = "c_user",
          leftTime = "ts", rightTime = "c_ts",
          rightValues = Seq("click_id", "c_value"), rightTieBreak = "click_id")
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          round(col("c_value"), 2).as("click_value"))
        .orderBy(col("purchase_id"))
    }),
    // conversion: each click joined to the user's NEXT purchase within 3
    // days (forward direction + tolerance)
    "q_asof_forward" -> ((s, d) => {
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value").as("p_value"))
      graft.ops.TemporalJoin.asofJoin(clicks, purchases,
          leftKey = "user_id", rightKey = "p_user",
          leftTime = "ts", rightTime = "p_ts",
          rightValues = Seq("purchase_id", "p_value"),
          rightTieBreak = "purchase_id", direction = "forward",
          tolerance = Some(expr("INTERVAL '3' DAY")))
        .select(col("click_id"), col("user_id"), col("purchase_id"),
          round(col("p_value"), 2).as("purchase_value"))
        .orderBy(col("click_id"))
    }),
    // both-neighbor as-of + linear interpolation: each purchase gets the
    // click VALUE lerped at the purchase instant between the surrounding
    // clicks — the time-series resample/interpolate shape, one shuffle
    "q_asof_lerp" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"), col("event_id").as("c_id"))
      val both = graft.ops.TemporalJoin.asofBothJoin(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts", Seq("c_value", "c_id"),
        rightTieBreak = "c_id")
      val tq = unix_micros(col("ts").cast("timestamp"))
      val tb = unix_micros(col("bwd_c_ts").cast("timestamp"))
      val tf = unix_micros(col("fwd_c_ts").cast("timestamp"))
      val frac = (tq - tb).cast("double") / (tf - tb).cast("double")
      both.select(col("purchase_id"), col("user_id"),
          round(when(tf === tb, col("bwd_c_value"))
            .otherwise(col("bwd_c_value") +
              (col("fwd_c_value") - col("bwd_c_value")) * frac), 4)
            .as("lerped"))
        .orderBy(col("purchase_id"))
    }),
    // incident blast-radius: events within ±90min of each high-value error,
    // joined WITHOUT an equality key via time-bin bucketing (equi-join on
    // the bin id — no cartesian / broadcast-nested-loop)
    "q_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val incidents = ev
        .filter(col("event_type") === "error" && col("value") > 200)
        .select(col("event_id").as("incident_id"),
          (col("ts") - expr("INTERVAL '90' MINUTE")).as("lo"),
          (col("ts") + expr("INTERVAL '90' MINUTE")).as("hi"))
      val pts = ev.select(col("event_id").as("e_id"), col("ts").as("e_ts"),
        col("value").as("e_value"))
      graft.ops.TemporalJoin.rangeJoin(incidents, "lo", "hi", pts, "e_ts",
          binWidth = 90L * 60 * 1000000)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("e_value")), 2).as("sum_value"))
        .orderBy(col("incident_id"))
    }),
    // interval-overlap join (no key): error windows × purchase windows
    // that overlap — both sides bin-replicated, each pair emitted exactly
    // once via the overlap-start-bin rule
    "q_overlap_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      def win(kind: String, idName: String) = ev
        .filter(col("event_type") === kind && col("value") > 150)
        .select(col("event_id").as(idName),
          (col("ts") - expr("INTERVAL '3' HOUR")).as(idName + "_lo"),
          (col("ts") + expr("INTERVAL '3' HOUR")).as(idName + "_hi"))
      graft.ops.TemporalJoin.rangeOverlapJoin(
          win("error", "aid"), "aid_lo", "aid_hi",
          win("purchase", "bid"), "bid_lo", "bid_hi",
          binWidth = 6L * 3600 * 1000000)
        .select(col("aid"), col("bid"))
        .orderBy(col("aid"), col("bid"))
    }),
    // --- window functions (§2.9) -----------------------------------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderstatus"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderstatus"), col("rn"))
    }),
    "q_window_running" -> ((s, d) => {
      // (ts, event_id) is a total order on both sides, so the running sum
      // accumulates in the same row order as the DuckDB oracle
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("run_sum", round(sum(col("value")).over(w), 2))
        .select(col("event_id"), col("user_id"), col("run_sum"))
        .orderBy(col("event_id"))
    }),
    "q_window_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_orderkey"),
          round(col("o_totalprice") - col("prev_price"), 2).as("price_delta"))
        .orderBy(col("o_orderkey"))
    }),
    "q_window_frame" -> ((s, d) => {
      // sliding 3-row frame per customer (rowsBetween); max is an exact
      // order statistic — immune to accumulation-order float noise
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      t(s, d, "orders")
        .withColumn("mmax", round(max(col("o_totalprice")).over(w), 2))
        .select(col("o_orderkey"), col("mmax"))
        .orderBy(col("o_orderkey"))
    }),
    "q_events_sessions" -> ((s, d) => {
      // 30-minute-gap sessionization; gap measured in epoch micros so the
      // comparison stays integral whether ts surfaces as TIMESTAMP or long
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull ||
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(col("prev").cast("timestamp")) > lit(30L * 60 * 1000000L), 1)
            .otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),
    // --- sort / set ops / scalar functions (§2.9) -------------------------
    "q_sort_limit" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("price").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    }),
    "q_set_union" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .distinct().orderBy(col("nk"))
    }),
    "q_set_intersect" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy(col("nk"))
    }),
    "q_set_except" -> ((s, d) => {
      // negative-balance customers that have no finished order (non-empty)
      t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("ck")).distinct()
        .except(t(s, d, "orders").filter(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("ck")))
        .orderBy(col("ck"))
    }),
    "q_scalar_string" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("ub"),
        substring(col("p_type"), 1, 6).as("t6"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("bt"))
        .orderBy(col("p_partkey"))
    }),
    "q_scalar_math" -> ((s, d) => {
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 4).as("sq"),
        round(log(col("l_extendedprice") + 1), 4).as("lg"),
        floor(col("l_quantity")).as("fq"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "q_scalar_case" -> ((s, d) => {
      t(s, d, "lineitem")
        .withColumn("bucket",
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid").otherwise("high"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_extendedprice")), 2).as("total"))
        .orderBy(col("bucket"))
    }),
    "q_scalar_datemath" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        quarter(col("o_orderdate")).as("q"),
        dayofmonth(col("o_orderdate")).as("dom"))
        .orderBy(col("o_orderkey"))
    }),
    // --- nested/array data through the format ----------------------------
    "q_array_ops" -> ((s, d) => {
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("emb_len"),
        // + 0.0 canonicalizes IEEE negative zero (round of a tiny
        // negative yields -0.0 in DuckDB, +0.0 in Spark — same value,
        // different hash text)
        (round(element_at(col("embedding"), 1).cast("double"), 4) + lit(0.0)).as("emb0"),
        round(Ann.l2Norm(col("embedding")), 4).as("l2"),
        col("label"))
        .orderBy(col("vec_id"))
    }),
    // --- events: time-bucketed aggregation --------------------------------
    "q_events_hourly" -> ((s, d) => {
      t(s, d, "events").groupBy(
        col("event_type"),
        dayofmonth(tsNs()).cast("long").as("dom"),
        hour(tsNs()).cast("long").as("h"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total"))
        .orderBy(col("event_type"), col("dom"), col("h"))
    }),
    // --- LLM-pipeline: dedup ----------------------------------------------
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("digest"))
    }),
    "q_dedup_ngram" -> ((s, d) => {
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_minhash" -> ((s, d) => {
      Dedup.minHashNearDup(t(s, d, "documents"), "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_clusters" -> ((s, d) => {
      // pair list → duplicate clusters (connected components): the decision
      // step of a dedup pipeline — doc_id != cluster_id is the drop set
      Dedup.duplicateClusters(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8))
        .orderBy(col("doc_id"))
    }),
    // exact SUBSTRING dedup (Lee et al. 2022): maximal runs of >= 8
    // whitespace tokens appearing in >= 2 documents — the cross-document
    // boilerplate pass doc-level Jaccard can't express. The only shuffled
    // relation carries (md5(gram), doc, start); span merging is a per-DOC
    // gaps-and-islands window. The oracle replays tokens, md5 grams,
    // document frequency, and the island merge in SQL.
    "q_dedup_spans" -> ((s, d) => {
      Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text", 8)
        .orderBy(col("doc_id"), col("span_start"))
    }),
    // the strip half, verified by token arithmetic: merged islands are
    // disjoint, so tokens_after == tokens_before - sum(span lengths) —
    // an identity the oracle computes WITHOUT replaying the rewrite
    "q_dedup_spans_clean" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spans = Dedup.duplicateSpans(docs, "doc_id", "text", 8)
      val cleaned = Dedup.stripSpans(docs, "doc_id", "text", spans)
      cleaned.select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => x =!= lit("")))
            .cast("long").as("n_tokens_after"))
        .join(spans.groupBy(col("doc_id"))
          .agg(sum(col("span_end") - col("span_start")).as("n_removed")),
          Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simHashCandidates(
        Dedup.simHash(t(s, d, "documents"), "doc_id", "text"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_simhash_gate" -> ((s, d) => {
      // candidate-quality gate for the simhash tier: every fingerprint pair
      // within 3 bits MUST appear in the candidate set (with 4 bands of 16
      // bits, ≤3 differing bits can't touch all bands — pigeonhole — so a
      // false here means the banding lost a pair it provably covers).
      // n_docs anchors the corpus in the oracle; covered_ok carries the
      // quality claim. Radius 4 is NOT gated: a 4-bit pair can land one bit
      // per band (measured uncovered on the sf0.01 corpus).
      // the fingerprint frame feeds five sub-plans (band join ×2, coverage
      // join ×2, the doc count) — one lazy localCheckpoint computes the
      // scan+hash pipeline once
      val fps = Dedup.simHash(t(s, d, "documents"), "doc_id", "text")
        .localCheckpoint(false)
      Dedup.simHashCoverageGate(fps, Dedup.simHashCandidates(fps), maxHamming = 3)
    }),
    // --- LLM-pipeline: text analysis --------------------------------------
    "q_text_stats" -> ((s, d) => {
      // quality metrics re-tokenize the text several times per row — fan a
      // narrow input out first (no-op at scale, see Par.fanOut)
      val docs = graft.ops.Par.fanOut(
        t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id")
      val quality = TextOps.qualityColumns(col("text"))
      docs.select(
        (col("doc_id") +: TextOps.tokenCount(col("text")).as("n_tokens") +:
          quality.map { case (n, c) => c.as(n) }): _*)
        .orderBy(col("doc_id"))
    }),
    // heavy hitters, sketch→verify: pass 1 aggregates a fixed-size
    // Misra–Gries summary per task (map-side partial merge — the full
    // token keyspace never shuffles), pass 2 exact-counts only the ≤256
    // candidates. Exact top-k whenever the k-th item's share clears
    // n/(capacity+1) — the sketch's membership guarantee — and that
    // precondition is ASSERTED per returned row (cnt·257 > n, executor
    // -side assert_true): on a flatter distribution the query fails
    // loudly instead of silently returning a maybe-incomplete top-20.
    "q_heavy_hitters" -> ((s, d) => {
      graft.functions.SketchFunctions.register(s)
      import s.implicits._
      val toks = t(s, d, "documents")
        .select(explode(filter(split(lower(col("text")), "\\s+"),
          w => w =!= lit(""))).as("w"))
      // the sketch collects ONCE (≤256 entries — the same bounded-collect
      // contract as the ANN probes), yielding both the candidate list and
      // the processed total n; carrying n through the corpus-scale recount
      // instead (a max() agg column over every matched token row) measures
      // ~10% slower for the same answer
      val entries = toks
        .agg(graft.functions.SketchFunctions.mgTopK(col("w"), 256).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item"), col("e.processed"))
        .collect()
      val nTotal = if (entries.isEmpty) 0L else entries.head.getLong(1)
      val cands = entries.map(_.getString(0)).toSeq.toDF("w")
      val counted = toks.join(broadcast(cands), "w")
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      counted
        // covered = Σ recounted candidate counts — a window over the
        // ≤capacity candidate rows, NOT the corpus. When covered == n the
        // candidates account for every occurrence (fewer-than-capacity
        // distinct tokens, or a tail that never evicted anything the
        // candidates missed) and the recounted top-20 is provably exact
        // even where a count misses the n/257 bound — mirrors
        // straw_topk's topkBuilder exactness layers.
        .withColumn("covered", sum(col("cnt")).over(Window.partitionBy()))
        .orderBy(col("cnt").desc, col("w")).limit(20)
        // every returned count must clear the n/257 membership bound
        // (the 20th row is the binding one), unless the coverage escape
        // proves exactness outright. Filter sits ABOVE the limit (not
        // pushable through it) and passes every row when either holds.
        .filter(assert_true(col("cnt") * lit(257L) > lit(nTotal) ||
            col("covered") === lit(nTotal),
          concat(lit("q_heavy_hitters: top-20 not guaranteed exact - count "),
            col("cnt"), lit(s" <= n/257 of $nTotal and candidates do not " +
              "cover n; raise mgTopK capacity")))
          .isNull)
        .select(col("w"), col("cnt"))
    }),
    // per-group deterministic sampling: bottom-k by md5 digest — a
    // bounded, mergeable aggregate (tasks ship ≤k entries, not rows) whose
    // winners are a pure function of the ids, so the oracle replays them
    "q_sample_per_group" -> ((s, d) => {
      graft.functions.SketchFunctions.register(s)
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(graft.functions.SketchFunctions
          .bottomKSample(col("doc_id").cast("string"), 5).as("ids"))
        .select(col("lang"), explode(col("ids")).as("doc_id"))
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    // weighted variant (Efraimidis–Spirakis A-ES): inclusion ∝ n_chars,
    // winners still a pure function of the values — the oracle replays
    // the -ln(u)/w priorities exactly
    "q_sample_weighted" -> ((s, d) => {
      graft.functions.SketchFunctions.register(s)
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(graft.functions.SketchFunctions
          .weightedBottomK(col("doc_id").cast("string"), col("n_chars"), 5)
          .as("ids"))
        .select(col("lang"), explode(col("ids")).as("doc_id"))
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    "q_lang_profile" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), round(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy(col("lang"))
    }),
    "q_langid_pred" -> ((s, d) => {
      TextOps.langId(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("pred_lang"))
        .orderBy(col("doc_id"))
    }),
    "q_fingerprint" -> ((s, d) => {
      TextOps.fingerprint(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q_quality_repetition" -> ((s, d) => {
      TextOps.repetitionStats(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q_chunk_docs" -> ((s, d) => {
      // RAG-ingestion chunking: 20-token windows every 15 tokens (overlap
      // 5), last window short, windows past n−overlap suppressed — the
      // start/slice algebra replayed exactly by the oracle
      TextOps.chunkDocs(t(s, d, "documents"), "doc_id", "text", 20, 5)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),
    "q_quality_lm" -> ((s, d) => {
      // CCNet-style perplexity filter: bigram LM with Laplace smoothing
      // trained ON the corpus, each doc scored by mean bigram log-prob —
      // the full train-then-score loop replayed relationally by the oracle
      TextOps.lmScore(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    "q_quality_threshold" -> ((s, d) => {
      // keep the top quarter of the corpus by mean token length — the
      // exact (interpolated-percentile) audit tier
      val score = TextOps.qualityColumns(col("text"))
        .find(_._1 == "mean_token_len").get._2
      val scored = t(s, d, "documents").select(col("doc_id"), score.as("score"))
      TextOps.keepAboveQuantile(scored, "score", 0.75, exact = true)
        .orderBy(col("doc_id"))
    }),
    "q_quality_threshold_gate" -> ((s, d) => {
      // sketch-tier gate: the approx_percentile threshold must keep a
      // population within 5% of the corpus of the exact tier's. n_exact is
      // independently computable by the oracle; approx_ok carries the claim.
      // two passes, no session-lifetime cache: pass 1 computes BOTH
      // thresholds in one aggregate (the same percentile/approx_percentile
      // expressions keepAboveQuantile uses — q_quality_threshold exercises
      // the op itself); pass 2 counts all three populations at once
      val score = TextOps.qualityColumns(col("text"))
        .find(_._1 == "mean_token_len").get._2
      val scored = t(s, d, "documents").select(col("doc_id"), score.as("score"))
      val thrs = scored.agg(
        round(expr("percentile(score, 0.75)"), 6).as("_te"),
        round(expr("approx_percentile(score, 0.75, 10000)"), 6).as("_ta"))
      scored.crossJoin(broadcast(thrs)).agg(
          sum((col("score") >= col("_te")).cast("long")).as("n_exact"),
          sum((col("score") >= col("_ta")).cast("long")).as("_n_approx"),
          count(lit(1)).as("_n_total"))
        .select(col("n_exact"),
          (abs(col("_n_approx") - col("n_exact")) <= col("_n_total") * 0.05)
            .as("approx_ok"))
    }),
    "q_pii_redact" -> ((s, d) => {
      // the corpus carries no natural PII, so the query plants deterministic
      // specimens (same expression in the oracle) and then strips them —
      // counts are over the pre-redaction text
      // regex detect+redact is per-row CPU-dense — fan out first (no-op at
      // scale, see Par.fanOut)
      val aug = graft.ops.Par.fanOut(
        t(s, d, "documents").select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 5 === 1, lit(" call 555-123-4567 today"))
          .when(col("doc_id") % 5 === 2,
            concat(lit(" server 192.168.1."), (col("doc_id") % 250).cast("string"),
              lit(" down")))
          .otherwise(lit(""))).as("aug"))
      val counts = Privacy.piiCounts(col("aug"))
      aug.select(
        (col("doc_id") +: Privacy.redact(col("aug")).as("redacted") +:
          counts.map { case (n, c) => c.as(n) }): _*)
        .orderBy(col("doc_id"))
    }),
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Decontaminate.contaminatedIds(docs,
        docs.filter(col("doc_id") % 97 === 0), "doc_id", "text", "text", 4)
        .orderBy(col("doc_id"))
    }),
    // semantic decontamination: the tier n-gram overlap misses —
    // benchmark probes broadcast, corpus streams once through the
    // codegen'd cosine, per-row max with map-side combine
    "q_decontaminate_semantic" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Decontaminate.semanticContaminatedIds(
          emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", "vec_id", "embedding", 0.25)
        .orderBy(col("vec_id"))
    }),
    "q_bm25" -> ((s, d) => {
      // lexical retrieval: rare + mid + common term exercise the idf range
      Search.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        Seq("dup", "vector", "join"), 20)
    }),
    "q_bm25_indexed" -> ((s, d) => {
      // same query against the persisted term-bucketed inverted index —
      // scores provably identical to q_bm25, so it shares that oracle
      Search.bm25TopKIndexed(s, lexIndex(s, d),
        Seq("dup", "vector", "join"), 20)
    }),
    "q_hybrid_search" -> ((s, d) => {
      // reciprocal-rank fusion of the BM25 ranking (documents) and the
      // cosine ranking against doc 0's embedding — both pools top-100
      Search.hybridTopK(t(s, d, "documents"), "doc_id", "text",
        Seq("dup", "vector", "join"),
        t(s, d, "embeddings"),
        t(s, d, "embeddings").filter(col("vec_id") === 0), 20)
    }),
    "q_hybrid_indexed" -> ((s, d) => {
      // hybrid fusion over the PERSISTED tiers, TWO queries in one batch:
      // both lexical pools come out of ONE bucket-pruned probe of the
      // term-bucketed index, both vector pools out of the hive-partitioned
      // IVF index probed in full (nProbe = nCentroids -> exactly brute
      // force) — so the DuckDB oracle replays both sides exactly.
      Search.hybridTopKIndexed(s, lexIndex(s, d), ivfIndex(s, d),
        Seq(0L -> Seq("dup", "vector", "join"),
            1L -> Seq("hash", "merge", "sort")),
        t(s, d, "embeddings").filter(col("vec_id") < 2), 20, nProbe = 16)
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_phrase_search" -> ((s, d) => {
      // positional index: exact 2- and 3-token phrase lookups, no corpus
      // access — the oracle replays them as token-string containment
      val idxDir = cachedFixture(
        Tables.strawDir(s, d, "documents") + "_lexidx_pos", "_INDEXED") {
        dir => Search.buildLexicalIndex(t(s, d, "documents"), "doc_id", "text",
          dir, buckets = 16, positions = true)
      }
      Search.phraseSearch(s, idxDir, Seq("hash", "join"))
        .withColumn("phrase", lit("hash join"))
        .unionAll(
          Search.phraseSearch(s, idxDir, Seq("merge", "sort", "group"))
            .withColumn("phrase", lit("merge sort group")))
        .orderBy(col("phrase"), col("doc_id"))
    }),
    "q_bm25_appended" -> ((s, d) => {
      // incremental maintenance: index built over the even doc_ids, odd
      // half APPENDED — must score identically to the full rebuild, so it
      // shares q_bm25's oracle too
      val idxDir = cachedFixture(
        Tables.strawDir(s, d, "documents") + "_lexidx_app", "_INDEXED") { dir =>
        val docs = t(s, d, "documents")
        Search.buildLexicalIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", dir, buckets = 16)
        Search.appendToLexicalIndex(docs.filter(col("doc_id") % 2 =!= 0),
          "doc_id", "text", dir)
      }
      Search.bm25TopKIndexed(s, idxDir, Seq("dup", "vector", "join"), 20)
    }),
    // --- LLM-pipeline: similarity search ----------------------------------
    "q_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(s, emb, emb.filter(col("vec_id") < 5), 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_dedup_embedding" -> ((s, d) => {
      // exact tier (broadcast self-join) — oracle-checkable
      Ann.exactNearDupPairs(s, t(s, d, "embeddings"), 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_embedding_lsh" -> ((s, d) => {
      // scale tier: bucket-local pairs only (approximate recall)
      Ann.lshNearDupPairs(s, t(s, d, "embeddings"), 64, 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.lshTopK(s, emb, emb.filter(col("vec_id") < 5), 64, 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_pq" -> ((s, d) => {
      // product-quantization tier (16 sub-codebooks × 64 codes: 16 bytes
      // per vector, 16× less than float32), probed from the PERSISTED
      // index: the ADC scan reads only (vec_id, pqcode) — the float column
      // never decodes — then the 4·k shortlist's floats point-read back
      // through a pushed IN filter on the vec_id-sorted table and re-rank
      // exactly. Approximate set membership → rows-only, adjudicated by
      // the paired recall gate below
      val emb = t(s, d, "embeddings")
      Ann.pqTopKIndexed(s, pqTable(s, d), emb.filter(col("vec_id") < 5), 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_pq_recall" -> ((s, d) => {
      // quality gate: the PQ+rerank top-3 recalls >= 0.8 of the exact
      // float top-3 (deterministic codebooks + fixed data; measured
      // 13-15/15 across sf0.001-0.1). n_exact independently computable by
      // the oracle, recall_ok hash-checked
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val pq = Ann.pqTopKIndexed(s, pqTable(s, d), queries, 3)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(pq, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.8).as("recall_ok"))
    }),
    "q_ann_ivfpq" -> ((s, d) => {
      // IVF-PQ — the production 100 TB ANN composition: directory-pruned
      // cell probes (4 of 16), ADC over the probed cells' 16-byte codes
      // (float column pruned), point-read exact rerank. Rows-only like the
      // other pruned tiers, adjudicated by the paired full-probe gate
      val emb = t(s, d, "embeddings")
      Ann.ivfPqTopK(s, ivfPqTable(s, d), emb.filter(col("vec_id") < 5), 3,
          nProbe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivfpq_recall" -> ((s, d) => {
      // gate on the FULL probe (nProbe = nCentroids): the coarse-quantizer
      // error vanishes, leaving the residual-PQ+rerank approximation —
      // deterministic per SF; measured 13/15, 15/15, 12/15 at
      // sf0.001/0.01/0.1 (the near-random driver embeddings are the HARD
      // case for residual coding: weak coarse structure; on clustered
      // corpora it beats raw-vector PQ 0.84 vs ~0.68 — DevPqScale), so the
      // gate sits at 0.75 with margin below the measured floor
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val got = Ann.ivfPqTopK(s, ivfPqTable(s, d), queries, 3, nProbe = 16)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(got, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.75).as("recall_ok"))
    }),
    "q_ann_opq" -> ((s, d) => {
      // OPQ tier: the flat PQ probe through the learned pre-rotation (only
      // the query-side dot table rotates — one matvec per query; corpus
      // cost identical to q_ann_pq). Approximate → rows-only, adjudicated
      // by the paired recall gate below
      val emb = t(s, d, "embeddings")
      Ann.pqTopKIndexed(s, opqTable(s, d), emb.filter(col("vec_id") < 5), 3,
          shortlist = 24)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_opq_recall" -> ((s, d) => {
      // quality gate: OPQ+rerank top-3 recalls >= 0.75 of the exact float
      // top-3 at shortlist 24 (measured 15/15, 15/15, 12/15 at
      // sf0.001/0.01/0.1 — the near-random driver embeddings are PCA's
      // WORST case, no variance structure to learn; on off-axis clustered
      // corpora the dial is 2.2x recall over raw blocks, DevPqScale)
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val got = Ann.pqTopKIndexed(s, opqTable(s, d), queries, 3, shortlist = 24)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(got, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.75).as("recall_ok"))
    }),
    "q_ann_quantized" -> ((s, d) => {
      // int8-quantized tier (integer codegen'd kernel; quarter the vector
      // bytes) — approximate like the LSH tier, adjudicated by the paired
      // recall gate below
      val emb = t(s, d, "embeddings")
      Ann.quantizedTopK(s, emb, emb.filter(col("vec_id") < 5), 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_quantized_recall" -> ((s, d) => {
      // quality gate: int8 cosine ranking recalls >= 0.9 of the exact
      // float top-k (deterministic quantization + fixed data); n_exact is
      // independently computable by the oracle, recall_ok hash-checked
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val quant = Ann.quantizedTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(quant, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.9).as("recall_ok"))
    }),
    "q_ann_bq" -> ((s, d) => {
      // binary-quantization tier (sign-bit codes: dim/8 bytes per vector,
      // 32× less than float32 — the cheapest vector tier: no training, no
      // codebooks, appends freeze nothing): Hamming shortlist over the
      // code column via the codegen'd popcount kernel (floats never
      // decode for scoring), then pushed point-read exact rerank.
      // Rows-only like the other approximate tiers, adjudicated by the
      // paired recall gate below
      val emb = t(s, d, "embeddings")
      Ann.bqTopKIndexed(s, bqTable(s, d), emb.filter(col("vec_id") < 5), 3,
          shortlist = 48)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_bq_recall" -> ((s, d) => {
      // gate: BQ shortlist+rerank recalls >= 0.8 of the exact float top-3
      // at shortlist = max(48, corpus/5). Sign codes of NEAR-RANDOM
      // vectors (the driver embeddings — angles concentrate near 90°) are
      // the WORST case for 1-bit Hamming resolution, so the shortlist must
      // scale with the corpus; measured 13/15, 14/15, 15/15 at
      // sf0.001/0.01/0.1. Real clustered embeddings separate at
      // cluster-sized shortlists (OpsSpec's sign-separable fixture is
      // exact); n_exact independently computable by the oracle,
      // recall_ok hash-checked
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val short = math.max(48L, emb.count() / 5).toInt
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val bq = Ann.bqTopKIndexed(s, bqTable(s, d), queries, 3,
          shortlist = short)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(bq, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.8).as("recall_ok"))
    }),
    "q_ann_ivfbq" -> ((s, d) => {
      // the BQ tier's scale path: directory-pruned cell probes (4 of 16),
      // Hamming over the probed cells' sign codes (floats pruned),
      // cell-restricted point-read exact rerank. Rows-only like the other
      // pruned tiers, adjudicated by the paired gate below
      val emb = t(s, d, "embeddings")
      Ann.ivfBqTopK(s, ivfBqTable(s, d), emb.filter(col("vec_id") < 5), 3,
          nProbe = 4, shortlist = 48)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivfbq_gate" -> ((s, d) => {
      // gate on the FULL probe (nProbe = nCentroids): the coarse pruning
      // error vanishes, leaving exactly the flat-BQ approximation — so
      // (a) recall vs the exact float top-3 clears the same >=0.8 bound
      // as q_ann_bq_recall at the corpus-scaled shortlist, AND (b) the
      // full probe must equal the flat BQ index probe row-for-row (same
      // codes, same floats, same ranking — structural equality, also
      // spec-pinned on clusters). n_exact independently derivable
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val short = math.max(48L, emb.count() / 5).toInt
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val full = Ann.ivfBqTopK(s, ivfBqTable(s, d), queries, 3,
        nProbe = 16, shortlist = short)
      val flat = Ann.bqTopKIndexed(s, bqTable(s, d), queries, 3,
        shortlist = short)
      val sameAsFlat = full.select("query_id", "rank", "neighbor_id")
        .exceptAll(flat.select("query_id", "rank", "neighbor_id"))
        .isEmpty
      val hits = full.select(col("query_id"), col("neighbor_id"))
        .withColumn("hit", lit(1))
      exact.join(hits, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.8).as("recall_ok"),
          lit(sameAsFlat).as("full_equals_flat_ok"))
    }),
    "q_cluster_assign" -> ((s, d) => {
      // full-corpus distributed k-means (Lloyd over every vector, not a
      // sample) + map-only assignment: the clustering hook for
      // per-cluster data mixing/bucketing. Output is the cluster
      // histogram — deterministic because each round's centroids round
      // to 4 decimals (reorder float drift cannot flip an assignment),
      // but not DuckDB-replayable (the oracle cannot run Lloyd), so
      // rows-only, adjudicated by the paired gate below
      val emb = t(s, d, "embeddings")
      val (cents, _) = Ann.kmeansFit(s, emb, 64, 8, iters = 3)
      Ann.kmeansAssign(s, emb, cents)
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .orderBy(col("cluster"))
    }),
    "q_cluster_gate" -> ((s, d) => {
      // gate: Lloyd's SSE sequence is non-increasing (the algorithm's
      // defining invariant — a wrong assignment or mean recompute breaks
      // it) and the assignment covers every vector exactly once.
      // n_vectors independently computable by the oracle; both booleans
      // hash-checked
      val emb = t(s, d, "embeddings")
      val (cents, sses) = Ann.kmeansFit(s, emb, 64, 8, iters = 3)
      // relative slack: kmeansFit rounds centroids to 4 decimals while SSE
      // is measured against the unrounded means, so near convergence the
      // rounding inflation scales with n·dim — an absolute 1e-6 would go
      // flaky at larger SFs. Rounding error per point is ≤ dim·(5e-5)²
      // ≈ 1.6e-7 vs a per-point SSE of O(1), so 1e-6 relative covers it
      // with two orders of margin at any n.
      val monotone = sses.toSeq.sliding(2)
        .forall(w => w(1) <= w(0) * (1 + 1e-6) + 1e-9)
      Ann.kmeansAssign(s, emb, cents)
        .agg(count(lit(1)).as("n_vectors"),
          lit(monotone).as("sse_monotone_ok"),
          (count(lit(1)) === countDistinct(col("vec_id"))).as("cover_ok"))
    }),
    "q_ann_lsh_recall" -> ((s, d) => {
      // oracle-checkable LSH quality gate: recall of the banded LSH tier
      // against exact brute force must be >= 0.9 (seeded planes + fixed
      // data => deterministic). n_exact is independently computable by the
      // oracle; recall_ok makes the quality claim hash-checked.
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val exact = Ann.bruteForceTopK(s, emb, queries, 3)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Ann.lshTopK(s, emb, queries, 64, 3, nPlanes = 4, nBands = 16)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.9).as("recall_ok"))
    }),
    "q_dedup_embedding_lsh_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val exact = Ann.exactNearDupPairs(s, emb, 0.45).select(col("id_a"), col("id_b"))
      val lsh = Ann.lshNearDupPairs(s, emb, 64, 0.45, nPlanes = 4, nBands = 16)
        .select(col("id_a"), col("id_b")).withColumn("hit", lit(1))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) >= count(lit(1)) * 0.9).as("recall_ok"))
    }),
    "q_dedup_semantic" -> ((s, d) => {
      // SemDeDup over FIXED one-hot centroids (axis c of the first 4
      // dims): the L2-nearest one-hot centroid is the argmax over those
      // dims (d_c = |x|² − 2·x_c + 1, ties to the lowest cell like the
      // kernel), so the oracle replays assignment + cluster-bounded pair
      // + keep-earliest EXACTLY; the fitted-centroid tier is gated by
      // q_dedup_semantic_recall
      Dedup.semanticDupIds(s, t(s, d, "embeddings"), oneHotCents(4, 64), 0.45)
        .orderBy(col("vec_id"))
    }),
    "q_dedup_semantic_clean" -> ((s, d) => {
      // the kept corpus (anti-join on the dup ids)
      Dedup.semanticDedup(s, t(s, d, "embeddings"), oneHotCents(4, 64), 0.45)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),
    "q_dedup_semantic_recall" -> ((s, d) => {
      // gate for the FITTED tier on the premise SemDeDup actually claims
      // — TRUE semantic duplicates (cos ≈ 1) co-locate in k-means cells.
      // One EXACT copy of every corpus row is planted (ids +100000); at
      // tau = 0.95 the droppable set is exactly the copies (the
      // strongest ORIGINAL pair on this near-random corpus sits at
      // ~0.51 — the oracle derives the same set independently), each
      // copy shares its source's cell by assignment determinism, so the
      // fitted tier must recover the set EXACTLY; subset is the
      // construction invariant (cell-bounded pairs ⊆ all pairs). A gate
      // at the 0.45 tier instead would measure noise: those "pairs" are
      // angular coincidences of a near-random corpus (their label pairs
      // cross freely) and carry no cluster signal for ANY k > 1 —
      // SemDeDup's contract is duplicate removal, not low-threshold
      // pair mining (that is lshNearDupPairs / exactNearDupPairs)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = emb.unionAll(emb.select(
        (col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val exact = Ann.exactNearDupPairs(s, corpus, 0.95)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("ex", lit(1))
      val (fitted, _) =
        Dedup.semanticDupIdsFit(s, corpus, 64, 8, 0.95, iters = 2)
      exact.join(fitted.withColumn("hit", lit(1)), Seq("vec_id"), "full")
        .agg(sum(coalesce(col("ex"), lit(0))).cast("long").as("n_exact"),
          (sum(when(col("ex").isNull, 1).otherwise(0)) === 0).as("subset_ok"),
          (sum(when(col("ex") === 1 && col("hit") === 1, 1).otherwise(0)) ===
            sum(coalesce(col("ex"), lit(0)))).as("recall_ok"))
    }),
    "q_dedup_semantic_policy" -> ((s, d) => {
      // the paper's keep policy (farthest-from-centroid survives its
      // neighborhood) over the same fixed one-hot quantizer: the key —
      // round-4 cosine to the row's own centroid — and the
      // smaller-(key, id) pair rule replay exactly in SQL
      Dedup.semanticDupIdsKeepFarthest(s, t(s, d, "embeddings"),
          oneHotCents(4, 64), 0.45)
        .orderBy(col("vec_id"))
    }),
    "q_dedup_semantic_indexed" -> ((s, d) => {
      // SemDeDup over the persisted IVF index: the on-disk cent_id IS the
      // cell assignment (same kernel, frozen quantizer), so the dup scan
      // pays zero assignment cost and the same-cell self-join is
      // storage-partitioned. The gate pins the operator's contract —
      // indexed == the direct path over the sidecar centroids, exactly —
      // plus the corpus size the oracle derives independently
      val idx = ivfIndex(s, d)
      val tau = 0.45
      val direct = Dedup.semanticDupIds(s, t(s, d, "embeddings"),
        Ann.loadIvfCentroids(idx), tau).withColumn("dk", lit(1))
      val indexed = Dedup.semanticDupIdsIndexed(s, idx, tau)
        .withColumn("ik", lit(1))
      direct.join(indexed, Seq("vec_id"), "full")
        .agg((coalesce(sum(when(col("dk").isNull || col("ik").isNull, 1)
            .otherwise(0)), lit(0)) === 0).as("indexed_equals_direct_ok"))
        .join(t(s, d, "embeddings").agg(count(lit(1)).as("n_vectors")))
        .select(col("n_vectors"), col("indexed_equals_direct_ok"))
    }),
    "q_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(s, emb, emb.filter(col("vec_id") < 5), 64, 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivf_full" -> ((s, d) => {
      // nProbe = nCentroids probes every cell, so IVF degenerates to exact
      // brute force — which makes it oracle-checkable against the same
      // DuckDB SQL as q_ann_brute
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(s, emb, emb.filter(col("vec_id") < 5), 64, 3,
          nCentroids = 16, nProbe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivf_indexed" -> ((s, d) => {
      // PERSISTED IVF index (build once, probe many): assigned corpus
      // written hive-partitioned by cent_id + centroid sidecar; probes are
      // directory-pruned scans. Full probe == brute force, so the same
      // DuckDB SQL is the oracle.
      Ann.ivfTopKIndexed(s, ivfIndex(s, d), t(s, d, "embeddings").filter(col("vec_id") < 5),
          3, nProbe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q_ann_ivf_appended" -> ((s, d) => {
      // INCREMENTAL index maintenance: build over the even half, append the
      // odd half against the frozen quantizer (one atomic log commit into
      // the hive layout), then full-probe — must equal brute force over the
      // WHOLE corpus, proving appended vectors are indexed and probed.
      val idxDir = Tables.strawDir(s, d, "embeddings") + "_ivfappend"
      val marker = new java.io.File(idxDir, "_OK")
      if (!marker.exists()) {
        val emb = t(s, d, "embeddings")
        Ann.buildIvfIndex(s, emb.filter(col("vec_id") % 2 === 0), idxDir, 64,
          nCentroids = 16, seed = 7)
        Ann.appendToIvfIndex(s, emb.filter(col("vec_id") % 2 === 1), idxDir)
        marker.createNewFile()
      }
      Ann.ivfTopKIndexed(s, idxDir, t(s, d, "embeddings").filter(col("vec_id") < 5),
          3, nProbe = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // --- Decimal(>18) storage through the format ---------------------------
    "q_decimal_agg" -> ((s, d) => {
      // derive a wide-decimal table, store it in strawboat (two-long i128
      // pages), read back and aggregate
      val decDir = Tables.strawDir(s, d, "lineitem") + "_dec"
      val marker = new java.io.File(decDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            col("l_extendedprice").cast("decimal(25,4)").as("price_dec"))
          .write.format("strawboat").mode("overwrite").save(decDir)
        marker.createNewFile()
      }
      // compare in a representation-stable domain: the decimal sum is exact
      // at scale 4, so value×10^4 as BIGINT is lossless on both engines
      // (DuckDB's HUGEINT-backed decimal vs Spark's Decimal disagree only at
      // the physical-representation level, r2 verdict)
      s.read.format("strawboat").load(decDir)
        .groupBy(col("l_returnflag"))
        .agg((sum(col("price_dec")) * lit(10000)).cast("long").as("total_e4"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"))
    }),
    // --- LLM-pipeline: multimodal column pattern ---------------------------
    "q_multimodal" -> ((s, d) => {
      // payload+metadata written through strawboat, read back, featurized
      val mmDir = Tables.strawDir(s, d, "documents") + "_mm"
      val marker = new java.io.File(mmDir, "_OK")
      if (!marker.exists()) {
        Multimodal.fromDocuments(t(s, d, "documents"))
          .write.format("strawboat").mode("overwrite").save(mmDir)
        marker.createNewFile()
      }
      Multimodal.stubFeatures(s.read.format("strawboat").load(mmDir))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_images" -> ((s, d) => {
      // real binary round trip: VALID PNGs synthesized per doc (pure JDK),
      // stored through strawboat binary pages, read back, and container
      // metadata parsed by the codegen'd image_meta expression — the
      // "decode headers, not pixels" step of a multimodal pipeline. The
      // oracle re-derives the dimensions from doc_id, so a green row proves
      // the synthesize→store→scan→parse loop end-to-end.
      Multimodal.imageMeta(s, s.read.format("strawboat").load(imgTable(s, d)))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_decode" -> ((s, d) => {
      // REAL pixel decode (pure-JDK imageio, mapPartitions over the stored
      // binary pages): width/height come from decoding each payload, so the
      // formula oracle proves the store→scan→decode loop — no stub anywhere
      val imgDir = imgTable(s, d)
      Multimodal.decodeImageFeatures(s.read.format("strawboat").load(imgDir))
        .select(col("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_resize" -> ((s, d) => {
      // decode → aspect-preserving 12-px thumbnail (bilinear) → PNG
      // re-encode → header re-parse by the codegen'd image_meta: the
      // re-parsed dimensions must equal the shared resize rule the oracle
      // replays ([[Multimodal.resizedDims]]), proving the whole
      // decode→resample→re-encode→re-parse loop
      val imgDir = imgTable(s, d)
      Multimodal.imageMeta(s,
          Multimodal.resizeImages(s.read.format("strawboat").load(imgDir), 12))
        .select(col("doc_id"), col("width"), col("height"))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_video" -> ((s, d) => {
      // video metadata over the stored raw containers — PURE built-in
      // column expressions (fixed-offset header: substring + hex→int
      // inside whole-stage codegen, no custom kernel); the oracle
      // re-derives every field from the doc_id formula
      Multimodal.videoMeta(s.read.format("strawboat").load(vidTable(s, d)))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_video_frames" -> ((s, d) => {
      // REAL frame sampling: every 4th frame decodes from the raw
      // container, re-encodes as PNG (JDK imageio — real pixels), and the
      // sampled (doc_id, frame_idx, ts_s, width, height) grid is
      // formula-derived, so the oracle replays it exactly via a lateral
      // generate_series — store→scan→sample→decode with no shortcut.
      // mean_luma/payload are per-frame generator bytes DuckDB cannot
      // replay; the luma band + PNG re-parse are pinned in MultimodalSpec
      Multimodal.sampleFrames(
          s.read.format("strawboat").load(vidTable(s, d)), everyN = 4)
        .select(col("doc_id"), col("frame_idx"), col("ts_s"),
          col("width"), col("height"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    "q_multimodal_audio" -> ((s, d) => {
      // same loop for audio: valid PCM WAVs synthesized per doc, stored as
      // binary pages, header-parsed back by the codegen'd audio_meta
      Multimodal.audioMeta(s, s.read.format("strawboat").load(audTable(s, d)))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_audio_decode" -> ((s, d) => {
      // REAL PCM decode (pure-JDK javax.sound, mapPartitions over the
      // stored binary pages): channels/rate/frames come from decoding each
      // sample stream, so the formula oracle proves store→scan→decode with
      // no header shortcut
      Multimodal.decodeAudioFeatures(
          s.read.format("strawboat").load(audTable(s, d)))
        .select(col("doc_id"), col("channels"), col("sample_rate"),
          col("frames"), col("duration_ms"))
        .orderBy(col("doc_id"))
    }),
    "q_multimodal_audio_gate" -> ((s, d) => {
      // RMS over the decoded samples: uniform int16 noise concentrates at
      // 32768/√3 ≈ 18919, and the generator is doc_id-seeded so the band
      // membership is DETERMINISTIC per doc — the gate (all docs decode,
      // all land in a generous ±4σ-at-minimum-length band) is exact
      val f = Multimodal.decodeAudioFeatures(
        s.read.format("strawboat").load(audTable(s, d)))
      f.agg(count(lit(1)).as("docs"),
        count(col("frames")).as("decoded"),
        count(when(col("rms").between(15500.0, 22300.0), 1)).as("rms_in_band"))
    }),
    // --- hive-style partitioned table: directory pruning -------------------
    "q_scan_partitioned" -> ((s, d) => {
      // events re-written hive-partitioned by event_type; the equality
      // filter eliminates the four other event_type directories before any
      // footer IO (PartitionLayout.prune)
      s.read.format("strawboat").load(byTypeTable(s, d))
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), round(min(col("value")), 2).as("mn"))
        .orderBy(col("user_id"))
    }),
    "q_agg_sum_meta" -> ((s, d) => {
      // SUM answered from the footers' exact i128 page sums (integer-family
      // columns; zero data pages read) — alongside count, the classic
      // "how many rows / how much volume" metadata query at 100 TB
      t(s, d, "lineitem")
        .agg(sum(col("l_orderkey")).as("sum_okey"),
          sum(col("l_linenumber")).as("sum_line"),
          count(lit(1)).as("cnt"))
    }),
    "q_agg_avg_meta" -> ((s, d) => {
      // AVG answered without reading a data page: Spark rewrites avg into
      // SUM + COUNT (V2 aggregate pushdown), both served from the footers'
      // exact i128 page sums and row counts, and performs the division
      // itself above the scan — so the result is bit-identical to the
      // non-pushed plan by construction (no reimplemented semantics). The
      // AggPushdownSpec pins the plan shape (footer-only, zero page IO).
      t(s, d, "lineitem")
        .agg(avg(col("l_linenumber")).as("avg_line"),
          avg(col("l_orderkey")).as("avg_okey"))
        .select(round(col("avg_line"), 6).as("avg_line"),
          round(col("avg_okey"), 6).as("avg_okey"))
    }),
    "q_agg_partition_meta" -> ((s, d) => {
      // GROUP BY the partition column + count/min/max: answered ENTIRELY
      // from footers (one row per partition directory, zero data pages) —
      // the grouped form of aggregate pushdown
      s.read.format("strawboat").load(byTypeTable(s, d))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("mn0"),
          max(col("event_id")).as("mx"))
        .select(col("event_type"), col("cnt"), round(col("mn0"), 2).as("mn"), col("mx"))
        .orderBy(col("event_type"))
    }),
    // --- streaming: micro-batch drain through the connector ----------------
    "q_stream_roundtrip" -> ((s, d) => {
      // drain the strawboat events table via Trigger.AvailableNow micro-
      // batches (capped at 1 file/trigger to force multiple batches) into a
      // strawboat streaming sink, then read the sink back in batch. The
      // oracle is the same aggregation over the original parquet, so a green
      // row proves offset tracking + epoch writes preserve content exactly.
      // min/max/count only: exact order statistics, no accumulation-order
      // float noise across the stream/batch boundary.
      val src = Tables.strawDir(s, d, "events")
      val outDir = src + "_streamsink"
      val ckpt = src + "_streamckpt"
      val marker = new java.io.File(outDir, "_STREAMED")
      if (!marker.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) { val c = f.listFiles; if (c != null) c.foreach(rm) }
          f.delete(): Unit
        }
        rm(new java.io.File(outDir)); rm(new java.io.File(ckpt))
        val q = s.readStream.format("strawboat")
          .option("maxFilesPerTrigger", 1).load(src)
          .writeStream.format("strawboat")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000),
          "q_stream_roundtrip: AvailableNow drain timed out — not marking the sink complete")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(outDir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          round(min(col("value")), 2).as("mn"),
          round(max(col("value")), 2).as("mx"))
        .orderBy(col("user_id"))
    }),
    // streaming appends into a persisted ANN index + probe between drains:
    // the retrieval-family / streaming-family closure. The BQ index seeds
    // from the even vec_ids (batch build), the odd half streams in over
    // TWO AvailableNow drains against ONE checkpoint (first drain = the
    // lower odd ids, probe the half-grown index between drains, second
    // drain appends only the NEW file — offset tracking), each micro-batch
    // appended via Ann.appendToBqIndex (the straw_index_append machinery;
    // maxFilesPerTrigger=1 forces multiple batches per drain). The final
    // gate is EXACT: with the shortlist covering the corpus the BQ rerank
    // degenerates to brute force (same round-4 cosine, same id tie), so
    // equality proves the streamed index holds exactly seeded+streamed
    // vectors — a content invariant, not a recall estimate.
    "q_stream_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val base = Tables.strawDir(s, d, "embeddings")
      val idx = base + "_streamknn_idx"
      val staging = base + "_streamknn_src"
      val ckpt = base + "_streamknn_ckpt"
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      val kNn = 3
      val nTotal = emb.count()
      cachedFixture(idx, "_STREAMED",
          cleanDirs = Seq(idx, staging, ckpt)) { _ =>
        Ann.buildBqIndex(s, emb.filter(col("vec_id") % 2 === 0), idx, 64)
        val odds = emb.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), col("embedding"))
        def drain(): Unit = {
          val q = s.readStream.format("strawboat")
            .option("maxFilesPerTrigger", 1).load(staging)
            .writeStream
            .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
              Ann.appendToBqIndex(s, b.select("vec_id", "embedding"), idx)
            })
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          require(q.awaitTermination(300000), "q_stream_knn: drain timed out")
        }
        odds.filter(col("vec_id") < lit(nTotal / 2))
          .write.format("strawboat").mode("append").save(staging)
        drain()
        // probe BETWEEN drains: the half-grown index must serve k results
        // per query (loud here; the final equality gate is the output)
        val midRows = Ann.bqTopKIndexed(s, idx, queries, kNn,
          shortlist = nTotal.toInt).count()
        require(midRows == queries.count() * kNn,
          s"q_stream_knn: mid-stream probe returned $midRows rows")
        odds.filter(col("vec_id") >= lit(nTotal / 2))
          .write.format("strawboat").mode("append").save(staging)
        drain()
      }
      val exact = Ann.bruteForceTopK(s, emb, queries, kNn)
        .select(col("query_id"), col("neighbor_id"))
      val got = Ann.bqTopKIndexed(s, idx, queries, kNn,
          shortlist = nTotal.toInt)
        .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
      exact.join(got, Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (sum(coalesce(col("hit"), lit(0))) === count(lit(1))).as("exact_ok"))
    }),
    // stream-stream watermarked interval join through the connector: the
    // purchase stream joins the click stream on user within a 24h look-
    // back — Spark's native stateful stream-stream join, watermarks
    // bounding the buffered state on BOTH sides (the 100 TB shape: state
    // holds one day of clicks, not the stream's history). AvailableNow
    // drains both sides fully, so the inner-join output is exactly the
    // batch join and the DuckDB oracle replays it.
    "q_stream_join" -> ((s, d) => {
      val src = Tables.strawDir(s, d, "events")
      val outDir = src + "_ssjoin"
      val ckpt = src + "_ssjoinckpt"
      val marker = new java.io.File(outDir, "_STREAMED")
      if (!marker.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) { val c = f.listFiles; if (c != null) c.foreach(rm) }
          f.delete(): Unit
        }
        rm(new java.io.File(outDir)); rm(new java.io.File(ckpt))
        // watermarks need zoned timestamps; the cast is UTC-pinned in the
        // driver session and both sides cast identically, so the interval
        // arithmetic is unchanged
        val purchases = s.readStream.format("strawboat").load(src)
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").cast("timestamp").as("ts"))
          .withWatermark("ts", "1 hour")
        val clicks = s.readStream.format("strawboat").load(src)
          .filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").cast("timestamp").as("c_ts"))
          .withWatermark("c_ts", "25 hours")
        val joined = purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("ts") - expr("INTERVAL '24' HOUR") &&
            col("c_ts") <= col("ts"))
          .select(col("purchase_id"), col("user_id"), col("click_id"))
        val q = joined.writeStream.format("strawboat")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000),
          "q_stream_join: AvailableNow drain timed out — not marking the sink complete")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(outDir)
        .select(col("purchase_id"), col("user_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),
    // --- table maintenance: small-file compaction --------------------------
    "q_compact_roundtrip" -> ((s, d) => {
      // fragment the documents table into many tiny files (the shape a
      // long-running streaming sink accumulates), compact in place
      // (distributed bin rewrite + atomic log switch + vacuum,
      // StrawCompaction), then aggregate the compacted table. The oracle is
      // the same aggregation over the original parquet — a green row proves
      // the rewrite preserved the data multiset exactly; the require pins
      // the maintenance effect itself (file count strictly drops).
      val cDir = Tables.strawDir(s, d, "documents") + "_compact"
      val marker = new java.io.File(cDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "documents")
          .repartition(4) // several writer tasks even at tiny scale factors
          .write.format("strawboat").mode("overwrite")
          .option("targetFileBytes", "16384")
          .option("maxPageSize", "64")
          .save(cDir)
        val before = graft.spark.StrawIO.listFilesMeta(cDir).size
        val res = graft.spark.StrawCompaction.compact(s, cDir)
        require(before > 1 && res.outputFiles < before,
          s"compaction did not reduce files (before=$before): $res")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(cDir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),
    "q_zorder" -> ((s, d) => {
      // multi-column Z-ORDER clustering (StrawCompaction zOrder): fragment
      // the documents table, compact clustered by (n_chars, doc_id) on the
      // interleaved curve, then range-probe the TRAILING cluster column —
      // the dimension a lexicographic sort leaves unpruned. The oracle is
      // the same probe over the original parquet: a green row proves the
      // interleave sort preserved the data exactly; the spec-level pruning
      // proof lives in CompactionSpec.
      val zDir = Tables.strawDir(s, d, "documents") + "_zorder"
      val marker = new java.io.File(zDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "documents")
          .repartition(4)
          .write.format("strawboat").mode("overwrite")
          .option("targetFileBytes", "16384")
          .option("maxPageSize", "64")
          .save(zDir)
        val before = graft.spark.StrawIO.listFilesMeta(zDir).size
        val res = graft.spark.StrawCompaction.compact(s, zDir,
          opts = graft.format.WriteOptions(maxPageSize = 256),
          clusterBy = Seq("n_chars", "doc_id"), zOrder = true)
        require(before > 1 && res.outputFiles < before,
          s"z-order compaction did not reduce files (before=$before): $res")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(zDir)
        .filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("lang"))
    }),
    // --- transaction log: snapshot isolation / time travel ----------------
    "q_timetravel" -> ((s, d) => {
      // two log commits into a fresh table (even doc_ids, then odd), read
      // back pinned to version 1 via the versionAsOf option — the
      // transaction log's snapshot isolation surfaced as a reader API
      // (StrawLog; every commit is one atomic version file). The oracle is
      // the even-doc_id subset of the original parquet: a green row proves
      // the pinned snapshot is EXACTLY the pre-append table, untouched by
      // the second commit.
      s.read.format("strawboat").option("versionAsOf", "1").load(ttTable(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_delete" -> ((s, d) => {
      // merge-on-read row-level DELETE (StrawDelete, deletion vectors):
      // copy the documents table, delete short docs (n_chars < 200) under
      // SQL 3VL, read the survivors back. Oracle = the original parquet
      // WHERE the condition is not TRUE — a green row proves delete
      // semantics exactly (the takedown/GDPR primitive over an LLM
      // corpus). No data file is rewritten: matched ordinals union into
      // per-file sidecars switched in by one atomic log version; readers
      // subtract them at scan time.
      s.read.format("strawboat").load(delTable(s, d))
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_delete_count" -> ((s, d) => {
      // footer-only COUNT over the deleted table: the DV'd files' footer
      // row counts net out each deletion vector's cardinality, so the
      // whole query stays a metadata pass (AggPushdown) — the merge-on-read
      // delete does not cost COUNT(*) its zero-IO path. Shares q_delete's
      // fixture (and therefore its DV sidecars).
      val df = s.read.format("strawboat").load(delTable(s, d))
        .agg(count(lit(1)).as("cnt"))
      require(df.queryExecution.executedPlan.toString.contains("footer-only aggregate"),
        "q_delete_count: COUNT over the DV'd table must be footer-only")
      df
    }),
    "q_update" -> ((s, d) => {
      // merge-on-read row-level UPDATE (StrawUpdate): the redaction
      // primitive — overwrite the lang of short docs with a sentinel. The
      // oracle applies the same CASE over parquet: a green row proves
      // assignment + 3VL semantics exactly. Non-matching files are pruned
      // by stats before any IO; the switch is one atomic log version.
      val updDir = Tables.strawDir(s, d, "documents") + "_upd"
      val marker = new java.io.File(updDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "documents").write.format("strawboat").mode("overwrite").save(updDir)
        val lit: Any = t(s, d, "documents").schema("n_chars").dataType match {
          case org.apache.spark.sql.types.LongType => 200L
          case _ => 200
        }
        val res = graft.spark.StrawUpdate.update(s, updDir,
          Seq(org.apache.spark.sql.sources.LessThan("n_chars", lit)),
          Map("lang" -> "redacted"))
        require(res.updatedRows > 0, s"q_update: nothing updated ($res)")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(updDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_merge" -> ((s, d) => {
      // MERGE INTO (StrawMerge): keyed upsert over the merge-on-read
      // machinery — every doc_id % 10 == 0 row is replaced by a 'merged'
      // source version, and shifted copies of doc_id % 17 == 0 rows insert
      // as new keys; ONE atomic log commit (matched target rows die via
      // deletion vectors, source rows append). Oracle = the same
      // source-wins union in plain SQL.
      val mDir = Tables.strawDir(s, d, "documents") + "_merge"
      val marker = new java.io.File(mDir, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.write.format("strawboat").mode("overwrite").save(mDir)
        val src = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("lang", lit("merged"))
          .unionByName(docs.filter(col("doc_id") % 17 === 0)
            .withColumn("doc_id", col("doc_id") + 1000000L)
            .withColumn("lang", lit("inserted")))
        val res = graft.spark.StrawMerge.merge(s, mDir, src, keys = Seq("doc_id"))
        require(res.matchedRows > 0 && res.insertedRows > 0 &&
            res.replacedRows == res.matchedRows, // unique-key target
          s"q_merge: expected updates and inserts ($res)")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(mDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_merge_large" -> ((s, d) => {
      // large-source MERGE (StrawMerge distributed path): the gate is
      // forced to 0 so the backfill-shaped source (~26% of the table:
      // doc_id % 5 == 0 updates + doc_id % 17 == 0 shifted inserts) takes
      // the shuffle-join path — the driver NEVER materializes the source
      // key set; per-file DVs are built and written on executors. Oracle =
      // the same source-wins union in plain SQL.
      val mDir = Tables.strawDir(s, d, "documents") + "_mergelg"
      val marker = new java.io.File(mDir, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.write.format("strawboat").mode("overwrite").save(mDir)
        val src = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("lang", lit("merged"))
          .unionByName(docs.filter(col("doc_id") % 17 === 0)
            .withColumn("doc_id", col("doc_id") + 2000000L)
            .withColumn("lang", lit("inserted")))
        s.conf.set(graft.spark.StrawMerge.BroadcastKeyBytesConf, "0")
        val res =
          try graft.spark.StrawMerge.merge(s, mDir, src, keys = Seq("doc_id"))
          finally s.conf.unset(graft.spark.StrawMerge.BroadcastKeyBytesConf)
        require(res.distributedSource,
          s"q_merge_large: expected the distributed match path ($res)")
        require(res.matchedRows > 0 && res.insertedRows > 0 &&
            res.replacedRows == res.matchedRows, // unique-key target
          s"q_merge_large: expected updates and inserts ($res)")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(mDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_merge_sync" -> ((s, d) => {
      // MERGE with WHEN NOT MATCHED BY SOURCE THEN DELETE (the sync
      // shape): whenMatched=Keep preserves the TARGET versions of matched
      // keys (so this is NOT a plain source copy — the oracle can tell),
      // source-only keys insert, and target rows the source no longer
      // carries (n_chars < 250 or NULL here) die via deletion vectors.
      val mDir = Tables.strawDir(s, d, "documents") + "_mergesync"
      val marker = new java.io.File(mDir, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.write.format("strawboat").mode("overwrite").save(mDir)
        val src = docs.filter(col("n_chars") >= 250)
          .withColumn("lang", lit("srcver"))
          .unionByName(docs
            .filter(col("n_chars") >= 250 && col("doc_id") % 13 === 0)
            .withColumn("doc_id", col("doc_id") + 3000000L)
            .withColumn("lang", lit("synced")))
        val res = graft.spark.StrawMerge.merge(s, mDir, src,
          keys = Seq("doc_id"), whenMatched = graft.spark.StrawMerge.Keep,
          insertNotMatched = true, deleteNotMatchedBySource = true)
        require(res.matchedRows > 0 && res.notMatchedBySourceDeleted > 0 &&
          res.insertedRows > 0,
          s"q_merge_sync: expected keeps, deletes, and inserts ($res)")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(mDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_update_expr" -> ((s, d) => {
      // expression-valued UPDATE (StrawUpdate.updateExpressions): the
      // redaction workflow's form — SET lang = upper(lang) over the
      // matching rows, with right-hand sides analyzed by the session and
      // evaluated against the pre-update row. Merge-on-read like q_update.
      // Oracle applies the same CASE over parquet.
      val updDir = Tables.strawDir(s, d, "documents") + "_updx"
      val marker = new java.io.File(updDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "documents").write.format("strawboat").mode("overwrite").save(updDir)
        val lit: Any = t(s, d, "documents").schema("n_chars").dataType match {
          case org.apache.spark.sql.types.LongType => 200L
          case _ => 200
        }
        val res = graft.spark.StrawUpdate.updateExpressions(s, updDir,
          Seq(org.apache.spark.sql.sources.LessThan("n_chars", lit)),
          Map("lang" -> "upper(lang)"))
        require(res.updatedRows > 0, s"q_update_expr: nothing updated ($res)")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(updDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_history" -> ((s, d) => {
      // the table's commit audit in PLAIN SQL: straw_history('path') is a
      // table-valued function (StrawSqlSurface, also injected config-only
      // via GraftExtensions) over the transaction log — DESCRIBE HISTORY
      // without leaving SQL. Timestamps/file-counts are run-dependent, so
      // the oracle pins the deterministic columns.
      graft.spark.StrawSqlSurface.register(s)
      s.sql(s"""SELECT version, operation FROM straw_history('${ttTable(s, d)}')
               |ORDER BY version""".stripMargin)
    }),
    "q_cdf" -> ((s, d) => {
      // change data feed (StrawChanges): the row-level diff of q_delete's
      // DV-delete commit, derived from the log's snapshot diff — no change
      // files are ever written. Version 2 is the delete, so the feed is
      // exactly the short docs with _change_type='delete'; the oracle is
      // the same predicate over the original parquet. The
      // replication/incremental-ETL surface at 100 TB: driver touches only
      // log metadata + bitmap diffs, rows fan out one task per changed
      // file reading only DV-diff ordinals.
      graft.spark.StrawChanges.changes(s, delTable(s, d), 2L, 2L)
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("int").as("n_chars"),
          col(graft.spark.StrawChanges.ChangeTypeCol),
          col(graft.spark.StrawChanges.CommitVersionCol))
        .orderBy(col("doc_id"))
    }),
    "q_stream_cdf" -> ((s, d) => {
      // streaming CDC (ChangeFeedMicroBatchStream): drain the deleted-
      // documents fixture's change feed from version 1 via AvailableNow
      // micro-batches (paced to 1 task/trigger), land the raw change rows
      // in a sink, then reconstruct the table's net state from the FEED
      // ALONE — inserts minus retractions. The oracle is the delete's
      // survivors over the original parquet: a green row proves the
      // streamed feed carries exactly the information a downstream
      // replica needs, retractions included (the append-only table
      // stream cannot express them).
      val src = delTable(s, d)
      val sink = src + "_cdcsink"
      val ckpt = src + "_cdcckpt"
      val marker = new java.io.File(sink, "_STREAMED")
      if (!marker.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) { val c = f.listFiles; if (c != null) c.foreach(rm) }
          f.delete(): Unit
        }
        rm(new java.io.File(sink)); rm(new java.io.File(ckpt))
        val q = s.readStream.format("strawboat")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1")
          .option("maxFilesPerTrigger", "1")
          .load(src)
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000),
          "q_stream_cdf: AvailableNow drain timed out — not marking the sink complete")
        marker.createNewFile()
      }
      val delta = when(col(graft.spark.StrawChanges.ChangeTypeCol)
        .isin("insert", "update_postimage"), 1).otherwise(-1)
      s.read.parquet(sink)
        .groupBy(col("doc_id"), col("lang"), col("n_chars"))
        .agg(sum(delta).as("net"))
        .filter(col("net") > 0)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_schema_evolution" -> ((s, d) => {
      // declared schema evolution on append (mergeSchema=true): generation
      // 1 carries (doc_id, lang) for even doc_ids, generation 2 appends
      // (doc_id, lang, n_chars) for odd — the merged table surfaces the new
      // column and null-fills it for generation-1 rows. An UNDECLARED
      // evolving append is rejected at write time (the anti-typo gate),
      // proven in the fixture before the evolved append lands.
      val evoDir = Tables.strawDir(s, d, "documents") + "_evo"
      val marker = new java.io.File(evoDir, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
          .write.format("strawboat").mode("overwrite").save(evoDir)
        val evolved = docs.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        var gated = false
        try evolved.write.format("strawboat").mode("append").save(evoDir)
        catch { case e: IllegalArgumentException
          if e.getMessage.contains("mergeSchema") => gated = true }
        require(gated, "q_schema_evolution: undeclared evolution must be rejected")
        evolved.write.format("strawboat").option("mergeSchema", "true")
          .mode("append").save(evoDir)
        marker.createNewFile()
      }
      s.read.format("strawboat").load(evoDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_constraints" -> ((s, d) => {
      // CHECK constraints (StrawConstraints, SQL: straw_add_constraint):
      // copy documents, add a log-recorded constraint the data satisfies
      // (lenient spelling — n_chars is nullable and strict semantics
      // reject NULL), prove a violating append fails ATOMICALLY (codegen'd
      // per-row predicate in the writer, nothing lands, no log version),
      // then land a compliant append of long docs with a new doc_id range.
      // Oracle = original documents UNION the compliant rows: a green row
      // proves both the enforcement and the non-destructive failure.
      val cDir = Tables.strawDir(s, d, "documents") + "_constr"
      val marker = new java.io.File(cDir, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.write.format("strawboat").mode("overwrite").save(cDir)
        graft.spark.StrawConstraints.add(s, cDir, "n_chars_nonneg",
          "n_chars IS NULL OR n_chars >= 0")
        val fresh = docs.filter(col("n_chars") >= 500)
          .withColumn("doc_id", col("doc_id") + lit(2000000))
          .withColumn("lang", lit("appended"))
        val before = s.read.format("strawboat").load(cDir).count()
        var enforced = false
        try fresh
          .withColumn("n_chars", lit(-1).cast(docs.schema("n_chars").dataType))
          .write.format("strawboat").mode("append").save(cDir)
        catch { case e: Throwable =>
          var cur = e
          while (cur != null && !enforced) {
            if (Option(cur.getMessage).exists(_.contains("CHECK constraint")))
              enforced = true
            cur = cur.getCause
          }
        }
        require(enforced, "q_constraints: violating append must fail the check")
        require(s.read.format("strawboat").load(cDir).count() == before,
          "q_constraints: failed append must not change the table")
        fresh.write.format("strawboat").mode("append").save(cDir)
        marker.createNewFile()
      }
      s.read.format("strawboat").load(cDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_restore" -> ((s, d) => {
      // RESTORE to an earlier version (StrawRestore, via the straw_restore
      // SQL surface): copy documents (v1), DV-delete the short docs (v2),
      // then restore to v1 — a metadata-only commit that clears the
      // vectors, so the deleted rows come back without moving a byte.
      // Oracle = the ORIGINAL parquet: a green row proves the undo is
      // exact, and that the restore survives as its own auditable version
      // (history gains 'restore to v1' on top, never rewinds).
      val rDir = Tables.strawDir(s, d, "documents") + "_restore"
      val marker = new java.io.File(rDir, "_OK")
      if (!marker.exists()) {
        t(s, d, "documents").write.format("strawboat").mode("overwrite").save(rDir)
        val nCharsLit: Any = t(s, d, "documents").schema("n_chars").dataType match {
          case org.apache.spark.sql.types.LongType => 200L
          case _ => 200
        }
        val del = graft.spark.StrawDelete.delete(s, rDir,
          Seq(org.apache.spark.sql.sources.LessThan("n_chars", nCharsLit)))
        require(del.deletedRows > 0 && del.rewrittenFiles == 0,
          s"q_restore: expected a pure-DV delete ($del)")
        graft.spark.StrawSqlSurface.register(s)
        val m = s.sql(s"SELECT * FROM straw_restore('$rDir', 1)").collect().head
        require(m.getLong(1) == 1L,
          s"q_restore: restore reported $m")
        require(graft.spark.StrawLog.history(rDir).head.operation == "restore to v1",
          "q_restore: restore must be the newest audited version")
        marker.createNewFile()
      }
      s.read.format("strawboat").load(rDir)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // --- nested leaf layout (format v2): pruning + struct-path filters ----
    "q_struct_prune" -> ((s, d) => {
      // projects TWO of the meta struct's four leaves: the v2 per-leaf
      // layout decodes only the meta.lang / meta.n_chars page streams —
      // payload and the sibling meta leaves are never read (Catalyst's
      // nested schema pruning reaches the scan; see StrawScanBuilder
      // .pruneColumns and the LeafLayoutSpec isolation proof)
      val mmDir = Tables.strawDir(s, d, "documents") + "_mm"
      val marker = new java.io.File(mmDir, "_OK")
      if (!marker.exists()) {
        Multimodal.fromDocuments(t(s, d, "documents"))
          .write.format("strawboat").mode("overwrite").save(mmDir)
        marker.createNewFile()
      }
      s.read.format("strawboat").load(mmDir)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_struct_filter" -> ((s, d) => {
      // struct-path predicates push to the scan and prune pages by the
      // NESTED leaves' own zone maps (meta.lang prefix stats, meta.n_chars
      // signed stats) before any data IO
      val mmDir = Tables.strawDir(s, d, "documents") + "_mm"
      val marker = new java.io.File(mmDir, "_OK")
      if (!marker.exists()) {
        Multimodal.fromDocuments(t(s, d, "documents"))
          .write.format("strawboat").mode("overwrite").save(mmDir)
        marker.createNewFile()
      }
      s.read.format("strawboat").load(mmDir)
        .filter(col("meta.lang") === "en" && col("meta.n_chars") >= 200)
        .select(col("doc_id"), col("meta.source").as("source"),
          col("meta.n_chars").as("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "q_schema_evolution_nested" -> ((s, d) => {
      // NESTED schema evolution end-to-end: generation 1 writes
      // meta = struct<lang, n_chars:int>; generation 2 appends (declared
      // via mergeSchema) with n_chars WIDENED to long and a new quality
      // leaf. Old files null-fill meta.quality and decode meta.n_chars
      // native-then-widen on read (missing-leaf synthesis through the
      // leaf planner); the merged table schema carries the union shape.
      // Oracle = the same per-generation values expressed over parquet.
      val dir0 = Tables.strawDir(s, d, "documents") + "_nestev"
      val marker = new java.io.File(dir0, "_OK")
      if (!marker.exists()) {
        val docs = t(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"),
          struct(col("lang"),
            col("n_chars").cast("int").as("n_chars")).as("meta"))
          .write.format("strawboat").mode("overwrite").save(dir0)
        docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"),
          struct(col("lang"), col("n_chars").cast("long").as("n_chars"),
            (col("n_chars").cast("double") / 100).as("quality")).as("meta"))
          .write.format("strawboat").mode("append")
          .option("mergeSchema", "true").save(dir0)
        marker.createNewFile()
      }
      s.read.format("strawboat").load(dir0)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n_chars").cast("long").as("n_chars"),
          col("meta.quality").as("quality"))
        .orderBy(col("doc_id"))
    }),
    // --- streaming: STATEFUL windowed aggregation with watermark ----------
    // --- LLM-pipeline: sequence packing + sampling/mixing -----------------
    "q_pack_sequences" -> ((s, d) => {
      // concat-and-chunk packing into 4096-token sequences, sharded by
      // language (shards pack in parallel; n_chars stands in for the
      // tokenizer count — a stored column both sides read identically)
      graft.ops.Packing.packingSummary(
        t(s, d, "documents"), "lang", "doc_id", "n_chars", 4096L)
        .select(col("lang"), col("bucket"), col("n_docs"),
          col("tokens").cast("long").as("tokens"), col("fill"))
        .orderBy(col("lang"), col("bucket"))
    }),
    "q_mix_weighted" -> ((s, d) => {
      // weighted dataset mixing: short docs thinned to 900‰, long docs to
      // 400‰, deterministic per-row selection (reproducible run-over-run)
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      graft.ops.Packing.mixDatasets(Seq(
        ("short", docs.filter(col("n_chars") < 200), 900),
        ("long", docs.filter(col("n_chars") >= 200), 400)), "doc_id")
        .orderBy(col("source_ds"), col("doc_id"))
    }),
    "q_mix_temperature" -> ((s, d) => {
      // temperature-scaled language balancing (mT5-style): τ=0.5 flattens
      // the skewed lang mix (en 44% of the corpus) toward the rare
      // languages at half the corpus budget; the oracle replays rates and
      // md5 points exactly
      graft.ops.Packing.temperatureSample(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang", tau = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q_shard_shuffle" -> ((s, d) => {
      // deterministic training shards + reproducible within-shard shuffle:
      // md5(doc_id) is the whole randomness source, so the oracle (and any
      // training loader) replays the identical global shuffle bit-for-bit
      graft.ops.Packing.shardForTraining(
        t(s, d, "documents").select(col("doc_id"), col("lang")), "doc_id", 16)
        .select(col("doc_id"), col("lang"), col("shard"), col("shard_pos"))
        .orderBy(col("shard"), col("shard_pos"))
    }),
    "q_split_assign" -> ((s, d) => {
      // deterministic train/val/test split: a pure function of the key, so
      // the held-out set stays held out across engines and re-runs
      graft.ops.Packing.assignSplit(
        t(s, d, "documents").select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id"))
    }),
    // --- SQL catalog + DML: the pure-SQL user lifecycle -------------------
    "q_sql_dml" -> ((s, d) => {
      // CTAS through the TableCatalog, then DELETE / UPDATE / MERGE INTO as
      // plain SQL statements — each one atomic log commit, the delete and
      // update merge-on-read. The final table is read back through the
      // catalog identifier; the oracle replays the same transformations in
      // DuckDB SQL over the source parquet.
      val wh = Tables.strawDir(s, d, "documents") + "_sqlwh"
      s.conf.set("spark.sql.catalog.strawdml", "graft.spark.StrawCatalog")
      s.conf.set("spark.sql.catalog.strawdml.warehouse", wh)
      val marker = new java.io.File(wh, "_SQL_DML_OK")
      if (!marker.exists()) {
        t(s, d, "documents").createOrReplaceTempView("sql_dml_docs_src")
        s.sql("DROP TABLE IF EXISTS strawdml.docs")
        s.sql("""CREATE TABLE strawdml.docs AS
                 SELECT doc_id, lang, n_chars FROM sql_dml_docs_src""")
        s.sql("DELETE FROM strawdml.docs WHERE n_chars < 100")
        s.sql("UPDATE strawdml.docs SET lang = upper(lang) WHERE n_chars >= 400")
        s.sql("""MERGE INTO strawdml.docs AS t
                 USING (SELECT doc_id, 'merged' AS lang, n_chars
                          FROM sql_dml_docs_src WHERE n_chars BETWEEN 150 AND 300
                        UNION ALL
                        SELECT doc_id + 1000000 AS doc_id, 'new' AS lang, n_chars
                          FROM sql_dml_docs_src WHERE n_chars > 500) AS src
                 ON t.doc_id = src.doc_id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
        marker.createNewFile()
      }
      s.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
               FROM strawdml.docs ORDER BY doc_id""")
    }),
    "q_delete_subquery" -> ((s, d) => {
      // scan-based DML fallback (StrawScanDml): DELETE and UPDATE whose
      // conditions hold IN-subqueries — beyond the v1 filter algebra, so
      // the native RowFilterEval paths refuse them. Spark evaluates the
      // full condition through the ordinary scan's (_file, _pos) metadata
      // columns; matched ordinals become per-file deletion vectors built
      // on executors. Oracle replays both statements in DuckDB SQL.
      val wh = Tables.strawDir(s, d, "documents") + "_subqwh"
      s.conf.set("spark.sql.catalog.strawsubq", "graft.spark.StrawCatalog")
      s.conf.set("spark.sql.catalog.strawsubq.warehouse", wh)
      val marker = new java.io.File(wh, "_SUBQ_OK")
      if (!marker.exists()) {
        t(s, d, "documents").createOrReplaceTempView("subq_docs_src")
        s.sql("DROP TABLE IF EXISTS strawsubq.docs")
        s.sql("""CREATE TABLE strawsubq.docs AS
                 SELECT doc_id, lang, n_chars FROM subq_docs_src""")
        s.sql("""DELETE FROM strawsubq.docs WHERE doc_id IN
                 (SELECT doc_id FROM subq_docs_src WHERE n_chars < 120)""")
        s.sql("""UPDATE strawsubq.docs SET lang = 'long' WHERE doc_id IN
                 (SELECT doc_id FROM subq_docs_src WHERE n_chars > 450)""")
        marker.createNewFile()
      }
      s.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
               FROM strawsubq.docs ORDER BY doc_id""")
    }),
    "q_column_mapping" -> ((s, d) => {
      // metadata-only schema evolution: RENAME COLUMN (old files read
      // through the spelling alias), DROP COLUMN (data invisible), re-ADD
      // of the dropped name (fresh physical spelling — no resurrection),
      // then an append under the evolved schema. Zero data rewrites; the
      // oracle replays the surviving projection in DuckDB.
      val wh = Tables.strawDir(s, d, "documents") + "_mapwh2"
      s.conf.set("spark.sql.catalog.strawmap", "graft.spark.StrawCatalog")
      s.conf.set("spark.sql.catalog.strawmap.warehouse", wh)
      val marker = new java.io.File(wh, "_MAP_OK")
      if (!marker.exists()) {
        t(s, d, "documents").createOrReplaceTempView("colmap_docs_src")
        s.sql("DROP TABLE IF EXISTS strawmap.docs")
        s.sql("""CREATE TABLE strawmap.docs AS
                 SELECT doc_id, lang, source, n_chars FROM colmap_docs_src""")
        // nested-field mapping: a subfield rename is metadata-only too —
        // pre-rename files read through the spelling alias (probed here;
        // the flat scenario below is what the oracle replays)
        s.sql("DROP TABLE IF EXISTS strawmap.nested_probe")
        s.sql("""CREATE TABLE strawmap.nested_probe
                 (id BIGINT, meta STRUCT<lang: STRING, n: BIGINT>)""")
        s.sql("""INSERT INTO strawmap.nested_probe
                 VALUES (1, named_struct('lang', 'en', 'n', 5))""")
        s.sql("ALTER TABLE strawmap.nested_probe RENAME COLUMN meta.lang TO language")
        s.sql("""INSERT INTO strawmap.nested_probe
                 VALUES (2, named_struct('language', 'de', 'n', 7))""")
        val probe = s.sql(
          """SELECT meta.language FROM strawmap.nested_probe ORDER BY id""")
          .collect().map(_.getString(0)).toSeq
        require(probe == Seq("en", "de"),
          s"q_column_mapping: nested rename must alias old files, got $probe")
        s.sql("DROP TABLE strawmap.nested_probe")
        s.sql("ALTER TABLE strawmap.docs RENAME COLUMN lang TO language")
        s.sql("ALTER TABLE strawmap.docs DROP COLUMN source")
        s.sql("ALTER TABLE strawmap.docs ADD COLUMN source STRING")
        s.sql("""INSERT INTO strawmap.docs
                 SELECT doc_id + 1000000 AS doc_id, upper(lang) AS language,
                        n_chars, 'fresh' AS source
                 FROM colmap_docs_src WHERE n_chars > 400""")
        marker.createNewFile()
      }
      s.sql("""SELECT doc_id, language, CAST(n_chars AS BIGINT) AS n_chars, source
               FROM strawmap.docs ORDER BY doc_id""")
    }),
    "q_merge_conditional" -> ((s, d) => {
      // the GENERAL MERGE surface (StrawMergeScan): conditional matched
      // clauses with partial assignments (first-match-wins) plus a
      // conditional NOT MATCHED BY SOURCE delete — shapes beyond the
      // fast star-merge machinery, planned as one target⋈source scan
      // with (_file,_pos) riding along. The oracle replays the clause
      // algebra as a CASE expression in DuckDB.
      val wh = Tables.strawDir(s, d, "documents") + "_cmrgwh"
      s.conf.set("spark.sql.catalog.strawcmrg", "graft.spark.StrawCatalog")
      s.conf.set("spark.sql.catalog.strawcmrg.warehouse", wh)
      val marker = new java.io.File(wh, "_CMRG_OK")
      if (!marker.exists()) {
        t(s, d, "documents").createOrReplaceTempView("cmrg_docs_src")
        s.sql("DROP TABLE IF EXISTS strawcmrg.docs")
        s.sql("""CREATE TABLE strawcmrg.docs AS
                 SELECT doc_id, lang, n_chars FROM cmrg_docs_src""")
        s.sql("""MERGE INTO strawcmrg.docs AS t
                 USING (SELECT doc_id, n_chars FROM cmrg_docs_src
                        WHERE n_chars BETWEEN 100 AND 500) AS src
                 ON t.doc_id = src.doc_id
                 WHEN MATCHED AND src.n_chars > 300 THEN UPDATE SET lang = 'long'
                 WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
                 WHEN NOT MATCHED BY SOURCE AND t.n_chars < 50 THEN DELETE""")
        marker.createNewFile()
      }
      s.sql("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
               FROM strawcmrg.docs ORDER BY doc_id""")
    }),
    "q_join_bucketed" -> ((s, d) => {
      // hash-bucketed tables (PARTITIONED BY bucket(n, key)): every data
      // file holds one murmur3 bucket of the key, so two co-bucketed tables
      // join with a storage-partitioned plan — zero shuffle on either side
      // at any scale (see StrawBucket / StrawBucketSpec for the
      // no-Exchange plan proof). Decimal sums keep the oracle hash exact.
      val wh = Tables.strawDir(s, d, "orders") + "_bktwh2"
      s.conf.set("spark.sql.catalog.strawbkt", "graft.spark.StrawCatalog")
      s.conf.set("spark.sql.catalog.strawbkt.warehouse", wh)
      val marker = new java.io.File(wh, "_BKT_OK")
      if (!marker.exists()) {
        t(s, d, "orders").createOrReplaceTempView("bkt_orders_src")
        t(s, d, "customer").createOrReplaceTempView("bkt_customer_src")
        s.sql("DROP TABLE IF EXISTS strawbkt.ord")
        s.sql("DROP TABLE IF EXISTS strawbkt.cust")
        s.sql("""CREATE TABLE strawbkt.ord PARTITIONED BY (bucket(16, o_custkey))
                 AS SELECT o_orderkey, o_custkey, o_totalprice FROM bkt_orders_src""")
        s.sql("""CREATE TABLE strawbkt.cust PARTITIONED BY (bucket(16, c_custkey))
                 AS SELECT c_custkey, c_name, c_mktsegment FROM bkt_customer_src""")
        marker.createNewFile()
      }
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // exact-cents BIGINT keeps the decimal sum associative AND
      // engine-representation-free (the q_decimal_agg convention)
      s.sql("""SELECT c.c_mktsegment, COUNT(*) AS orders,
                      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_c
               FROM strawbkt.ord o JOIN strawbkt.cust c ON o.o_custkey = c.c_custkey
               GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    }),
    "q_stream_windowed" -> ((s, d) => {
      // tumbling 1-day windows per event_type, built up ACROSS micro-batches
      // in the state store (maxFilesPerTrigger=1 forces several batches),
      // emitted in append mode once the event-time watermark closes each
      // window, into a strawboat sink (whose window struct column exercises
      // the v2 nested leaf writer). A sentinel row far past the real data
      // advances the watermark so every real window closes before the
      // AvailableNow drain terminates; the sentinel's own (never-closed)
      // window stays in state and is excluded on both sides.
      // the sentinel is NOT filtered pre-aggregation: a deterministic
      // filter would be pushed below the EventTimeWatermark node and the
      // sentinel would never advance the watermark. It needs no filter —
      // its own window can never close (nothing later advances the mark),
      // so append mode never emits it; the read-back guard is defensive.
      val outDir = streamedSink(s, Tables.strawDir(s, d, "events"), "wm",
        "q_stream_windowed",
        s.read.format("strawboat").load(Tables.strawDir(s, d, "events")),
        "ts", ev => Seq(eventsSentinel(s, ev))) { stream =>
        stream
          .withColumn("ets", col("ts").cast("timestamp"))
          .withWatermark("ets", "1 second")
          .groupBy(window(col("ets"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            round(min(col("value")), 2).as("mn"),
            round(max(col("value")), 2).as("mx"))
      }
      s.read.format("strawboat").load(outDir)
        .filter(col("event_type") =!= "__sentinel__")
        .select(unix_micros(col("window.start")).as("wstart"),
          col("event_type"), col("cnt"), col("mn"), col("mx"))
        .orderBy(col("wstart"), col("event_type"))
    }),
    "q_stream_sessions" -> ((s, d) => {
      // custom-state streaming: 12-hour gap sessionization through
      // flatMapGroupsWithState (one open session per user in the state
      // store, closed by a later-than-gap event or by the watermark via
      // EventTimeTimeout). Same fixture shape as q_stream_windowed: the
      // source is range-partitioned by event time (batches arrive in
      // event-time order) and a far-future sentinel advances the watermark
      // so every real session times out before the AvailableNow drain
      // ends; the sentinel's own session never closes and its user_id is
      // excluded on both sides. The oracle is the batch gaps-and-islands
      // window — identical rule, so the stream replay must match exactly.
      val outDir = streamedSink(s, Tables.strawDir(s, d, "events"), "sess",
        "q_stream_sessions",
        s.read.format("strawboat").load(Tables.strawDir(s, d, "events")),
        "ts", ev => Seq(eventsSentinel(s, ev))) { stream =>
        Sessionize.streamingSessions(stream,
          "ts", "user_id", "event_id", "value", 12L * 3600 * 1000000L).toDF()
      }
      s.read.format("strawboat").load(outDir)
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),
    "q_stream_dedup" -> ((s, d) => {
      // streaming exact dedup, first-writer-wins: originals stream first
      // (range-partitioned by doc_id), then id-shifted COPIES of every
      // text land in later micro-batches — the state store must swallow
      // them all, so every kept id is the original. One emission per
      // digest ever (exactly-once pinned by the oracle's row count).
      val outDir = streamedSink(s, Tables.strawDir(s, d, "documents"), "dd",
        "q_stream_dedup",
        s.read.format("strawboat").load(Tables.strawDir(s, d, "documents"))
          .select(col("doc_id"), col("text")),
        "doc_id", docs => Seq(
          docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
            .coalesce(2))) { stream =>
        Dedup.streamingFirstSeen(stream, "doc_id", "text")
          .toDF("digest", "keep_id")
      }
      s.read.format("strawboat").load(outDir)
        .orderBy(col("digest"))
    }),
    "q_stream_semdedup" -> ((s, d) => {
      // streaming SemDeDup first-writer-wins over the FIXED one-hot
      // quantizer: originals stream in ascending-id range files, then
      // id-shifted exact copies (also range-partitioned — admission must
      // stay ascending: original near-pairs at tau 0.45 replicate among
      // the copies, and a non-ascending copy batch would flip which side
      // of such a pair survives vs the batch rule). Under ascending
      // admission the kept set equals corpus minus semanticDupIds, which
      // over one-hot cells the oracle replays EXACTLY — a streaming
      // stateful query whose full output is hash-checked row-for-row
      val embDir = Tables.strawDir(s, d, "embeddings")
      val emb = s.read.format("strawboat").load(embDir)
        .select(col("vec_id"), col("embedding"))
      val outDir = streamedSink(s, embDir, "sem", "q_stream_semdedup",
        emb, "vec_id", ds => Seq(
          ds.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
            .repartitionByRange(2, col("vec_id")))) { stream =>
        Dedup.streamingSemanticFirstSeen(stream, oneHotCents(4, 64), 0.45)
          .toDF("vec_id")
      }
      s.read.format("strawboat").load(outDir)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),
    "q_stream_neardup" -> ((s, d) => {
      // streaming MinHash near-dup, first-writer-wins: originals stream
      // first (ascending doc_id), then id-shifted EXACT copies of every
      // text land in later micro-batches — each copy's signature agrees
      // 32/32 with its original's, whose LSH buckets the state store
      // already holds, so every copy must drop. The gate asserts (a) the
      // streamed kept set equals nearDupFirstSeenBatch on the same union
      // EXACTLY (the ascending-admission contract — exemplars, estimator
      // verdicts, greedy chain and all), and (b) zero copies survive;
      // n_docs is independently oracle-derivable
      val docsDir = Tables.strawDir(s, d, "documents")
      val docs = s.read.format("strawboat").load(docsDir)
        .select(col("doc_id"), col("text"))
      val outDir = streamedSink(s, docsDir, "nd", "q_stream_neardup",
        docs, "doc_id", ds => Seq(
          ds.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
            .coalesce(2))) { stream =>
        Dedup.streamingNearDupFirstSeen(stream, "doc_id", "text",
          threshold = 0.9).toDF("doc_id")
      }
      val streamKept = s.read.format("strawboat").load(outDir)
        .select(col("doc_id"))
      val union = docs.unionAll(docs.select(
        (col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val batchKept = Dedup.nearDupFirstSeenBatch(union, "doc_id", "text",
        threshold = 0.9).select(col("sid").as("doc_id"))
      val same = streamKept.exceptAll(batchKept).isEmpty &&
        batchKept.exceptAll(streamKept).isEmpty
      val noCopies = streamKept.filter(col("doc_id") >= 1000000L).isEmpty
      docs.agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"), lit(same).as("stream_equals_batch_ok"),
          lit(noCopies).as("copies_dropped_ok"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracles (run by the driver over the same parquet tables)
  // ---------------------------------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, round(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scan_strings" ->
      """SELECT p_partkey, p_brand, p_type FROM part
        |WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey""".stripMargin,
    "q_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 1000 ORDER BY l_linenumber""".stripMargin,
    "q_bloom_lookup" ->
      """SELECT md5(concat(CAST(l_orderkey AS VARCHAR), ':', CAST(l_linenumber AS VARCHAR))) AS l_guid,
        |       l_quantity
        |FROM lineitem
        |WHERE md5(concat(CAST(l_orderkey AS VARCHAR), ':', CAST(l_linenumber AS VARCHAR))) = md5('1000:1')
        |ORDER BY l_guid""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price FROM orders
        |ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_topk_filtered" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price, o_orderpriority
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_scan_dates" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01' ORDER BY o_orderkey""".stripMargin,
    // sum() promotes to HUGEINT in DuckDB; cast back so the result type
    // matches Spark's BIGINT (values were already identical, r2 verdict)
    "q_codec_sorted" ->
      """SELECT count(*) AS cnt, sum(l_orderkey)::BIGINT AS s, min(l_orderkey) AS mn,
        |max(l_orderkey) AS mx FROM lineitem""".stripMargin,
    "q_codec_lowcard" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_groupingsets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_window_frame" ->
      """SELECT o_orderkey,
        |  round(max(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS mmax
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_events_sessions" ->
      """WITH g AS (SELECT user_id, event_id, epoch_ns(ts) AS tns,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id,
        |  sum(CASE WHEN prev IS NULL OR tns - prev > 1800000000000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_approx_distinct" -> // sketch bounded by exact (see query comment)
      """SELECT l_returnflag, true AS approx_ok,
        |  count(DISTINCT l_partkey) AS exact_parts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_minmax" ->
      """SELECT l_linestatus, round(min(l_quantity), 2) AS min_qty,
        |  round(max(l_quantity), 2) AS max_qty,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS cnt, round(sum(c_acctbal), 2) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_shuffle" ->
      """SELECT o_orderstatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS cnt
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_outer_count" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tpch_q3" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q_join_multi" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // as-of backward: latest prior click per purchase; ties at equal ts
    // resolve to the greatest event_id (the operator's tie-break column)
    "q_asof_join" ->
      """SELECT purchase_id, user_id, click_id, click_value FROM (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |    c.event_id AS click_id, round(c.value, 2) AS click_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM events p JOIN events c
        |    ON c.user_id = p.user_id AND c.ts <= p.ts
        |  WHERE p.event_type = 'purchase' AND c.event_type = 'click')
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    // as-of forward + tolerance: next purchase within 3 days of each click
    "q_asof_forward" ->
      """SELECT click_id, user_id, purchase_id, purchase_value FROM (
        |  SELECT c.event_id AS click_id, c.user_id,
        |    p.event_id AS purchase_id, round(p.value, 2) AS purchase_value,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.ts ASC, p.event_id DESC) AS rn
        |  FROM events c JOIN events p
        |    ON p.user_id = c.user_id AND p.ts >= c.ts
        |      AND p.ts <= c.ts + INTERVAL 3 DAY
        |  WHERE c.event_type = 'click' AND p.event_type = 'purchase')
        |WHERE rn = 1 ORDER BY click_id""".stripMargin,
    "q_asof_lerp" -> // both neighbors replayed, same lerp association
      """WITH p AS (SELECT event_id AS pid, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS cu, ts AS cts, value AS cv, event_id AS cid
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT pid, cts, cv FROM (
        |  SELECT p.pid, c.cts, c.cv, row_number() OVER (PARTITION BY p.pid
        |    ORDER BY c.cts DESC, c.cid DESC) AS rn
        |  FROM p JOIN c ON c.cu = p.user_id AND c.cts <= p.ts) WHERE rn = 1),
        |f AS (SELECT pid, cts, cv FROM (
        |  SELECT p.pid, c.cts, c.cv, row_number() OVER (PARTITION BY p.pid
        |    ORDER BY c.cts ASC, c.cid DESC) AS rn
        |  FROM p JOIN c ON c.cu = p.user_id AND c.cts >= p.ts) WHERE rn = 1)
        |SELECT p.pid AS purchase_id, p.user_id,
        |  round(CASE WHEN f.cts = b.cts THEN b.cv
        |    ELSE b.cv + (f.cv - b.cv) *
        |      (CAST(epoch_us(p.ts) - epoch_us(b.cts) AS DOUBLE)
        |        / CAST(epoch_us(f.cts) - epoch_us(b.cts) AS DOUBLE)) END, 4)
        |    AS lerped
        |FROM p JOIN b ON b.pid = p.pid JOIN f ON f.pid = p.pid
        |ORDER BY purchase_id""".stripMargin,
    "q_overlap_join" ->
      """WITH a AS (SELECT event_id AS aid,
        |    ts - INTERVAL 3 HOUR AS lo, ts + INTERVAL 3 HOUR AS hi
        |  FROM events WHERE event_type = 'error' AND value > 150),
        |b AS (SELECT event_id AS bid,
        |    ts - INTERVAL 3 HOUR AS lo, ts + INTERVAL 3 HOUR AS hi
        |  FROM events WHERE event_type = 'purchase' AND value > 150)
        |SELECT aid, bid FROM a, b
        |WHERE a.lo <= b.hi AND b.lo <= a.hi
        |ORDER BY aid, bid""".stripMargin,
    "q_range_join" ->
      """SELECT i.event_id AS incident_id, count(*) AS n_events,
        |  round(sum(e.value), 2) AS sum_value
        |FROM events i JOIN events e
        |  ON e.ts >= i.ts - INTERVAL 90 MINUTE
        |  AND e.ts <= i.ts + INTERVAL 90 MINUTE
        |WHERE i.event_type = 'error' AND i.value > 200
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderstatus, rn, o_orderkey, price FROM (
        |  SELECT o_orderstatus, o_orderkey, round(o_totalprice, 2) AS price,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_orderstatus, rn""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS run_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "q_window_lag" ->
      """SELECT o_orderkey,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS price_delta
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem ORDER BY price DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_set_union" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
        |INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_set_except" ->
      """SELECT DISTINCT c_custkey AS ck FROM customer WHERE c_acctbal < 0
        |EXCEPT SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY ck""".stripMargin,
    "q_scalar_string" ->
      """SELECT p_partkey, upper(p_brand) AS ub, substring(p_type, 1, 6) AS t6,
        |  length(p_name) AS name_len, concat(p_brand, '#', p_type) AS bt
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_extendedprice), 4) AS sq,
        |  round(ln(l_extendedprice + 1), 4) AS lg,
        |  floor(l_quantity)::BIGINT AS fq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_scalar_case" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket,
        |  count(*) AS cnt, round(sum(l_extendedprice), 2) AS total
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_scalar_datemath" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  quarter(o_orderdate) AS q, day(o_orderdate) AS dom
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_array_ops" ->
      """SELECT vec_id, len(embedding) AS emb_len,
        |  round((embedding[1])::DOUBLE, 4) + 0.0 AS emb0,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> (x::DOUBLE) * (x::DOUBLE)))), 4) AS l2,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_events_hourly" ->
      """SELECT event_type, day(ts) AS dom, hour(ts) AS h,
        |  count(*) AS cnt, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    "q_dedup_ngram" ->
      """WITH g AS (SELECT DISTINCT doc_id, substr(text, i::INT, 3) AS gram
        |    FROM documents, range(1, 100001) t(i) WHERE i <= length(text) - 2),
        |  cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |  inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
        |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // substring-span dedup: the full pipeline replayed in SQL — tokens,
    // md5 8-gram keys, document frequency >= 2, and the gaps-and-islands
    // merge (two n-gram spans chain iff the later start is <= earlier + n)
    "q_dedup_spans" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS toks FROM documents),
        |g AS (SELECT doc_id, i - 1 AS span_start,
        |    md5(array_to_string(toks[i:i+7], ' ')) AS gg
        |  FROM t, range(1, 100001) r(i) WHERE i <= len(toks) - 7),
        |dup AS (SELECT gg FROM (SELECT DISTINCT gg, doc_id FROM g)
        |  GROUP BY gg HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, span_start FROM g JOIN dup USING (gg)),
        |marks AS (SELECT doc_id, span_start,
        |  CASE WHEN span_start <= coalesce(lag(span_start) OVER
        |      (PARTITION BY doc_id ORDER BY span_start), -1000000) + 8
        |    THEN 0 ELSE 1 END AS new_isl FROM hits),
        |isl AS (SELECT doc_id, span_start,
        |  sum(new_isl) OVER (PARTITION BY doc_id ORDER BY span_start
        |    ROWS UNBOUNDED PRECEDING) AS island FROM marks)
        |SELECT doc_id, min(span_start)::BIGINT AS span_start,
        |  (max(span_start) + 8)::BIGINT AS span_end
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    // strip arithmetic: merged islands are disjoint, so the oracle derives
    // tokens_after = tokens_before - sum(span lengths) WITHOUT replaying
    // the rewrite — the Spark side recounts the actually-stripped text
    "q_dedup_spans_clean" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> x <> '') AS toks FROM documents),
        |g AS (SELECT doc_id, i - 1 AS span_start,
        |    md5(array_to_string(toks[i:i+7], ' ')) AS gg
        |  FROM t, range(1, 100001) r(i) WHERE i <= len(toks) - 7),
        |dup AS (SELECT gg FROM (SELECT DISTINCT gg, doc_id FROM g)
        |  GROUP BY gg HAVING count(*) >= 2),
        |hits AS (SELECT doc_id, span_start FROM g JOIN dup USING (gg)),
        |marks AS (SELECT doc_id, span_start,
        |  CASE WHEN span_start <= coalesce(lag(span_start) OVER
        |      (PARTITION BY doc_id ORDER BY span_start), -1000000) + 8
        |    THEN 0 ELSE 1 END AS new_isl FROM hits),
        |isl AS (SELECT doc_id, span_start,
        |  sum(new_isl) OVER (PARTITION BY doc_id ORDER BY span_start
        |    ROWS UNBOUNDED PRECEDING) AS island FROM marks),
        |spans AS (SELECT doc_id, min(span_start) AS a,
        |    max(span_start) + 8 AS b FROM isl GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, sum(b - a) AS n_removed FROM spans
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  (len(t.toks) - agg.n_removed)::BIGINT AS n_tokens_after,
        |  agg.n_removed::BIGINT AS n_removed
        |FROM t JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" -> {
      // connected components WITHOUT the recursive-CTE transitive closure:
      // `reach` is O(component²) rows and exhausted DuckDB's temp disk at
      // sf0.1 (documented since r10). Replaced by UNROLLED label
      // propagation + pointer jumping over MATERIALIZED per-round states
      // (one n-row table per round — bounded). Each round takes the min
      // label across direct neighbors, then jumps lab <- lab(lab); the
      // reach radius grows r -> 2r+1 per round, so 4 rounds cover
      // components of diameter <= 15 — far past any 0.8-Jaccard near-dup
      // cluster this corpus produces. The cap is LOUD, not silent: one
      // final PROPAGATE-ONLY level acts as a fixpoint check (propagate-
      // stability implies labels are constant per component, and that
      // constant can only be the component min, so no jump is needed in
      // the check), and any label still moving raises error() instead of
      // emitting a mislabeled row a parity failure would misattribute to
      // the engine. Validated row-identical against the engine at sf0.01
      // AND sf0.1 (round 18). Two DuckDB 1.0 limits are load-bearing:
      // multi-referenced CTEs INLINE (re-evaluating the gram self-join
      // per round) unless AS MATERIALIZED, and the planner blows the temp
      // disk somewhere between 14 and 16 chained CTE levels — keep the
      // unroll short; the loud check is what makes the short unroll safe.
      val rounds = 4
      val prop = (1 to rounds).map { i =>
        val prev = s"l${i - 1}"
        s"""p$i AS MATERIALIZED (
           |  SELECT n.id, least(n.lab, coalesce(min(lb.lab), n.lab)) AS lab
           |  FROM $prev n LEFT JOIN edges e ON e.a = n.id
           |  LEFT JOIN $prev lb ON lb.id = e.b
           |  GROUP BY n.id, n.lab),
           |l$i AS MATERIALIZED (
           |  SELECT x.id, l.lab FROM p$i x JOIN p$i l ON l.id = x.lab)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
        |  WITH g AS MATERIALIZED (
        |      SELECT DISTINCT doc_id, substr(text, i::INT, 3) AS gram
        |      FROM documents, range(1, 100001) t(i) WHERE i <= length(text) - 2),
        |    cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |  SELECT id_a, id_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
        |  WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8),
        |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |l0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes),
        |$prop,
        |chk AS MATERIALIZED (
        |  SELECT n.id, least(n.lab, coalesce(min(lb.lab), n.lab)) AS lab
        |  FROM l$rounds n LEFT JOIN edges e ON e.a = n.id
        |  LEFT JOIN l$rounds lb ON lb.id = e.b
        |  GROUP BY n.id, n.lab)
        |SELECT id AS doc_id,
        |  CASE WHEN (SELECT count(*) FROM l$rounds x
        |      JOIN chk y ON y.id = x.id AND y.lab <> x.lab) > 0
        |    THEN error('q_dedup_clusters oracle: label propagation not ' ||
        |      'converged after $rounds rounds - raise the unroll')
        |    ELSE lab END AS cluster_id
        |FROM l$rounds
        |ORDER BY doc_id""".stripMargin
    },
    // minhash+LSH verified pairs equal the exact k=5 shingle Jaccard pairs
    // on this corpus (LSH only prunes candidates; verification is exact on
    // 64-bit shingle hashes, collision odds ~2^-64) — so the exact SQL IS
    // the oracle
    "q_dedup_minhash" ->
      """WITH g AS (SELECT DISTINCT doc_id, substr(text, i::INT, 5) AS gram
        |    FROM documents, range(1, 100001) t(i) WHERE i <= length(text) - 4),
        |  cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |  inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
        |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
        |WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    "q_ann_lsh_recall" -> // n_exact independently derived; recall gate true
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_ivfpq_recall" -> // same independently-derived n_exact shape
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_pq_recall" -> // same independently-derived n_exact shape as the
      // other recall gates
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_opq_recall" -> // same independently-derived n_exact shape
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_quantized_recall" -> // same independently-derived n_exact shape
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_cluster_gate" ->
      """SELECT count(*)::BIGINT AS n_vectors, true AS sse_monotone_ok,
        |  true AS cover_ok FROM embeddings""".stripMargin,
    "q_ann_ivfbq_gate" -> // n_exact shape + both gate booleans
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok,
        |  true AS full_equals_flat_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_stream_knn" -> // n_exact independently derived; the equality gate
      // bit is the claim (streamed index == full corpus content)
      """SELECT count(*)::BIGINT AS n_exact, true AS exact_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_ann_bq_recall" -> // same independently-derived n_exact shape
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok FROM (
        |  SELECT q.vec_id, c.vec_id AS n_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3""".stripMargin,
    "q_dedup_embedding_lsh_recall" ->
      """SELECT count(*)::BIGINT AS n_exact, true AS recall_ok
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.45""".stripMargin,
    // SemDeDup over one-hot centroids: L2-nearest one-hot == argmax over
    // the first 4 dims (ties to the lowest cell, matching the kernel)
    "q_dedup_semantic" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |              AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM embeddings)
        |SELECT DISTINCT b.vec_id AS vec_id
        |FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(x.embedding, b.embedding), 4) >= 0.45
        |ORDER BY vec_id""".stripMargin,
    "q_dedup_semantic_clean" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |              AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM embeddings),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(x.embedding, b.embedding), 4) >= 0.45)
        |SELECT e.vec_id, e.label FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
        |ORDER BY vec_id""".stripMargin,
    // fitted-tier gate: n_exact independently derivable (the droppable
    // set over the copy-planted union); subset + exact-recovery bits
    // pinned true
    // keep-farthest: same one-hot cells; the key is the round-4 cosine
    // to the row's own centroid (a one-hot list built in place), the
    // rule is strictly-smaller (key, id)
    "q_dedup_semantic_policy" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |              AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM embeddings),
        |k AS (
        |  SELECT vec_id, embedding, cell,
        |    round(list_cosine_similarity(embedding,
        |      list_transform(range(1, 65),
        |        i -> CASE WHEN i = cell + 1 THEN 1.0 ELSE 0.0 END)), 4) AS ckey
        |  FROM a)
        |SELECT DISTINCT b.vec_id AS vec_id
        |FROM k x JOIN k b ON x.cell = b.cell
        |  AND (x.ckey < b.ckey OR (x.ckey = b.ckey AND x.vec_id < b.vec_id))
        |WHERE round(list_cosine_similarity(x.embedding, b.embedding), 4) >= 0.45
        |ORDER BY vec_id""".stripMargin,
    // indexed tier: the fitted quantizer isn't SQL-derivable, but
    // indexed == direct is the operator's structural contract (the
    // stored cent_id was written by the same kernel) — the oracle pins
    // the corpus size and the expected-true gate bit
    "q_dedup_semantic_indexed" ->
      """SELECT count(*)::BIGINT AS n_vectors,
        |  true AS indexed_equals_direct_ok
        |FROM embeddings""".stripMargin,
    "q_dedup_semantic_recall" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings)
        |SELECT count(DISTINCT b.vec_id)::BIGINT AS n_exact,
        |  true AS subset_ok, true AS recall_ok
        |FROM u a, u b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.95""".stripMargin,
    // the seeded fingerprints aren't SQL-derivable, but the COVERAGE claim
    // is a construction invariant (pigeonhole over 4 bands) — the oracle
    // pins the corpus size and the expected-true gate bit
    "q_dedup_simhash_gate" ->
      """SELECT count(*)::BIGINT AS n_docs, true AS covered_ok
        |FROM documents""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
        |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        |    / greatest(length(text), 1), 4) AS alpha_ratio,
        |  round((length(text) - length(regexp_replace(text, '\s', '', 'g'))) * 1.0
        |    / greatest(length(text), 1), 4) AS space_ratio,
        |  round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
        |    / greatest(length(text), 1), 4) AS punct_ratio,
        |  round(length(regexp_replace(text, '\s', '', 'g')) * 1.0
        |    / greatest(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')), 1),
        |    4) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT w, cnt FROM (
        |  SELECT w, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS w
        |    FROM documents) GROUP BY w)
        |ORDER BY cnt DESC, w LIMIT 20""".stripMargin,
    "q_sample_per_group" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        |  FROM documents) WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    "q_sample_weighted" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY
        |    -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) + 0.5) / 4294967296.0) / n_chars ASC,
        |    doc_id) AS rn
        |  FROM documents) WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    "q_lang_profile" ->
      """SELECT lang, count(*) AS cnt, round(avg(n_chars), 2) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_repetition" ->
      """WITH words AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS w FROM words),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |wstats AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
        |    max(c)::BIGINT AS top_word_count FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id, array_to_string(ws[i.i:i.i+1], ' ') AS g
        |  FROM words, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i),
        |bstats AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |    count(DISTINCT g)::BIGINT AS n_distinct FROM bg GROUP BY 1)
        |SELECT ws.doc_id, n_words,
        |  round(top_word_count * 1.0 / n_words, 4) AS top_word_frac,
        |  coalesce(round(1.0 - n_distinct * 1.0 / greatest(n_bigrams, 1), 4),
        |    0.0) AS dup_bigram_frac
        |FROM wstats ws LEFT JOIN bstats b ON ws.doc_id = b.doc_id
        |ORDER BY ws.doc_id""".stripMargin,
    "q_chunk_docs" -> // the window starts and slices replayed
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |s AS (SELECT doc_id, l,
        |    unnest(range(0, greatest(len(l) - 5 - 1, 0) + 1, 15)) AS st
        |  FROM d WHERE len(l) > 0)
        |SELECT doc_id, (st // 15)::BIGINT AS chunk_id,
        |  array_to_string(l[st + 1 : st + 20], ' ') AS chunk_text,
        |  least(len(l) - st, 20)::BIGINT AS n_tokens
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "q_quality_lm" -> // the bigram LM trained and scored in SQL
      """WITH toks AS (SELECT doc_id, unnest(l) AS tok,
        |    unnest(range(1, len(l) + 1)) AS pos
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
        |    FROM documents)),
        |bg AS (SELECT a.doc_id, a.tok AS prev, b.tok
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |c1 AS (SELECT tok AS prev, count(*)::DOUBLE AS c1 FROM toks GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok)::DOUBLE AS v FROM toks),
        |c2 AS (SELECT prev, tok, count(*)::DOUBLE AS c2 FROM bg GROUP BY 1, 2)
        |SELECT bg.doc_id,
        |  round(avg(ln((c2.c2 + 1.0::DOUBLE) / (c1.c1 + 1.0::DOUBLE * v.v))), 4)
        |    AS lm_score,
        |  count(*)::BIGINT AS n_bigrams
        |FROM bg JOIN c2 USING (prev, tok) JOIN c1 USING (prev), v
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_quality_threshold" ->
      """WITH scored AS (SELECT doc_id,
        |    round(length(regexp_replace(text, '\s', '', 'g')) * 1.0
        |      / greatest(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x <> '')), 1), 4) AS score
        |  FROM documents),
        |thr AS (SELECT round(quantile_cont(score, 0.75), 6) AS t FROM scored)
        |SELECT doc_id, score FROM scored, thr WHERE score >= t
        |ORDER BY doc_id""".stripMargin,
    "q_quality_threshold_gate" -> // n_exact independently derived; gate true
      """WITH scored AS (SELECT doc_id,
        |    round(length(regexp_replace(text, '\s', '', 'g')) * 1.0
        |      / greatest(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x <> '')), 1), 4) AS score
        |  FROM documents),
        |thr AS (SELECT round(quantile_cont(score, 0.75), 6) AS t FROM scored)
        |SELECT (SELECT count(*) FROM scored, thr WHERE score >= t)::BIGINT AS n_exact,
        |  true AS approx_ok""".stripMargin,
    "q_pii_redact" ->
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE doc_id % 5
        |      WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
        |      WHEN 1 THEN ' call 555-123-4567 today'
        |      WHEN 2 THEN ' server 192.168.1.' || (doc_id % 250) || ' down'
        |      ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_email,
        |  len(regexp_extract_all(aug,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ip,
        |  len(regexp_extract_all(aug,
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))::INT AS n_phone
        |FROM aug ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH words AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |pg AS (SELECT DISTINCT array_to_string(ws[i.i:i.i+3], ' ') AS gram
        |  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - 2)) AS i) i
        |  WHERE doc_id % 97 = 0),
        |dg AS (SELECT DISTINCT doc_id, array_to_string(ws[i.i:i.i+3], ' ') AS gram
        |  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - 2)) AS i) i)
        |SELECT DISTINCT doc_id FROM dg JOIN pg USING (gram)
        |ORDER BY doc_id""".stripMargin,
    "q_decontaminate_semantic" ->
      """SELECT vec_id, probe_id, sim FROM (
        |  SELECT c.vec_id, q.vec_id AS probe_id,
        |    round(list_cosine_similarity(c.embedding, q.embedding), 4) AS sim,
        |    row_number() OVER (PARTITION BY c.vec_id ORDER BY
        |      round(list_cosine_similarity(c.embedding, q.embedding), 4) DESC,
        |      q.vec_id DESC) AS rn
        |  FROM embeddings c, embeddings q
        |  WHERE c.vec_id >= 8 AND q.vec_id < 8
        |    AND round(list_cosine_similarity(c.embedding, q.embedding), 4) >= 0.25)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q_bm25" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'dup'))::BIGINT AS tf0,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'join'))::BIGINT AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_hybrid_search" -> // RRF over the replayed BM25 pool and the
      // cosine ranking vs doc 0's embedding (same poolSize/rrfK/tiebreaks)
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'dup'))::BIGINT AS tf0,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'join'))::BIGINT AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM base),
        |lexscored AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats),
        |lexpool AS (
        |  SELECT doc_id, score FROM lexscored WHERE score > 0
        |  ORDER BY score DESC, doc_id LIMIT 100),
        |lex AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        |  FROM lexpool),
        |vec AS (
        |  SELECT id, vec_rank FROM (
        |    SELECT c.vec_id AS id, row_number() OVER (
        |        ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |          c.vec_id) AS vec_rank
        |    FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |    WHERE c.vec_id <> 0)
        |  WHERE vec_rank <= 100)
        |SELECT coalesce(l.id, v.id) AS id,
        |  round(coalesce(1.0 / (60 + lex_rank), 0.0)
        |      + coalesce(1.0 / (60 + vec_rank), 0.0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN vec v ON l.id = v.id
        |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,
    "q_phrase_search" -> // phrase = consecutive tokens, replayed as
      // containment in the space-joined token string
      """WITH s AS (SELECT doc_id,
        |    ' ' || array_to_string(list_filter(
        |      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''), ' ') || ' ' AS t
        |  FROM documents)
        |SELECT doc_id, 'hash join' AS phrase FROM s
        |WHERE t LIKE '% hash join %'
        |UNION ALL
        |SELECT doc_id, 'merge sort group' AS phrase FROM s
        |WHERE t LIKE '% merge sort group %'
        |ORDER BY phrase, doc_id""".stripMargin,
    // identical semantics to q_bm25 (the indexed and append-maintained
    // paths are provably score-identical), so the oracle is the same SQL
    "q_bm25_appended" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'dup'))::BIGINT AS tf0,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'join'))::BIGINT AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // both tiers replay exactly: batch indexed BM25 == per-query BM25
    // (pivot zeros add exactly; spec-pinned), and the nProbe=16 full probe
    // of the 16-cell IVF index == brute force — so the fusion is plain SQL
    "q_hybrid_indexed" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'dup'))::BIGINT AS tf0,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'join'))::BIGINT AS tf2,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'hash'))::BIGINT AS tf3,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'merge'))::BIGINT AS tf4,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'sort'))::BIGINT AS tf5
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)::BIGINT AS df3,
        |    sum(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END)::BIGINT AS df4,
        |    sum(CASE WHEN tf5 > 0 THEN 1 ELSE 0 END)::BIGINT AS df5
        |  FROM base),
        |lexscored AS (
        |  SELECT 0::BIGINT AS query_id, doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats
        |  UNION ALL
        |  SELECT 1::BIGINT AS query_id, doc_id, round(
        |      ln((n - df3 + 0.5) / (df3 + 0.5) + 1.0) * tf3 * 2.2
        |        / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df4 + 0.5) / (df4 + 0.5) + 1.0) * tf4 * 2.2
        |        / (tf4 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df5 + 0.5) / (df5 + 0.5) + 1.0) * tf5 * 2.2
        |        / (tf5 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats),
        |lex AS (
        |  SELECT query_id, doc_id AS id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS lex_rank
        |  FROM lexscored WHERE score > 0
        |  QUALIFY lex_rank <= 100),
        |vec AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS vec_rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 2 AND c.vec_id <> q.vec_id
        |  QUALIFY vec_rank <= 100)
        |SELECT query_id, id, rrf, rank FROM (
        |  SELECT coalesce(l.query_id, v.query_id) AS query_id,
        |    coalesce(l.id, v.id) AS id,
        |    round(coalesce(1.0 / (60 + lex_rank), 0.0)
        |        + coalesce(1.0 / (60 + vec_rank), 0.0), 6) AS rrf,
        |    row_number() OVER (
        |      PARTITION BY coalesce(l.query_id, v.query_id)
        |      ORDER BY round(coalesce(1.0 / (60 + lex_rank), 0.0)
        |          + coalesce(1.0 / (60 + vec_rank), 0.0), 6) DESC,
        |        coalesce(l.id, v.id)) AS rank
        |  FROM lex l FULL OUTER JOIN vec v
        |    ON l.query_id = v.query_id AND l.id = v.id)
        |WHERE rank <= 20 ORDER BY query_id, rank""".stripMargin,
    "q_bm25_indexed" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> ''))::BIGINT AS dl,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'dup'))::BIGINT AS tf0,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'vector'))::BIGINT AS tf1,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x = 'join'))::BIGINT AS tf2
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::BIGINT AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::BIGINT AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::BIGINT AS df2
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, round(
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n)))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl * 1.0 / n))), 6) AS score
        |  FROM base, stats)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  sum(ascii(substr(text, i::INT, 1)) * ((i - 1) % 64 + 1))::BIGINT AS fingerprint
        |FROM documents, range(1, 100001) t(i) WHERE i <= length(text)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_langid_pred" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS tk
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    len(list_intersect(tk, ['der','die','das','und','ist','nicht','mit','ein','zu','auf'])) AS de,
        |    len(list_intersect(tk, ['the','and','of','to','in','is','that','for','with','as'])) AS en,
        |    len(list_intersect(tk, ['el','la','los','que','es','no','por','con','una','para'])) AS es,
        |    len(list_intersect(tk, ['le','la','les','et','est','pas','pour','que','une','dans'])) AS fr,
        |    len(list_intersect(tk, ['的','是','不','了','在','人','有','我','他','这'])) AS zh
        |  FROM toks)
        |SELECT doc_id, CASE
        |  WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |  WHEN zh >= greatest(de, en, es, fr) THEN 'zh'
        |  WHEN fr >= greatest(de, en, es) THEN 'fr'
        |  WHEN es >= greatest(de, en) THEN 'es'
        |  WHEN en >= de THEN 'en'
        |  ELSE 'de' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_ann_ivf_indexed" -> // full-probe over the persisted index == brute force
      """SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf_appended" -> // built on half, appended half, full probe ==
      // brute force over the whole corpus
      """SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf_full" -> // full-probe IVF == brute force (same oracle)
      """SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_ann_brute" ->
      """SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 4) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_decimal_agg" ->
      """SELECT l_returnflag,
        |  (sum(l_extendedprice::DECIMAL(25,4)) * 10000)::BIGINT AS total_e4,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,
    "q_multimodal" ->
      """SELECT doc_id, strlen(text) AS byte_len, md5(text) AS digest, lang,
        |  'text/plain' AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_stream_join" -> // batch replay of the stream-stream interval join
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
        |FROM events p JOIN events c ON c.user_id = p.user_id
        |  AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q_stream_roundtrip" -> // batch equivalent of the streamed drain
      """SELECT user_id, count(*) AS cnt, round(min(value), 2) AS mn,
        |  round(max(value), 2) AS mx
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_compact_roundtrip" -> // aggregation over the compacted rewrite
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_zorder" -> // range probe over the z-order clustered rewrite
      """SELECT lang, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id >= 100 AND doc_id < 200
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_timetravel" -> // version 1 = the even-doc_id first commit only
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,
    "q_delete" -> // survivors of DELETE WHERE n_chars < 200 (3VL: nulls kept)
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents WHERE n_chars >= 200 OR n_chars IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q_delete_count" -> // footer-only COUNT nets the deletion vectors
      """SELECT count(*) AS cnt FROM documents
        |WHERE n_chars >= 200 OR n_chars IS NULL""".stripMargin,
    "q_update" -> // UPDATE SET lang='redacted' WHERE n_chars < 200 (3VL)
      """SELECT doc_id,
        |  CASE WHEN n_chars < 200 THEN 'redacted' ELSE lang END AS lang,
        |  CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_merge" -> // source-wins upsert: replaced, inserted, and untouched rows
      """WITH src AS (
        |  SELECT doc_id, 'merged' AS lang, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'inserted', n_chars
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM src
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM src))
        |ORDER BY doc_id""".stripMargin,
    "q_merge_large" -> // large-source upsert via the distributed match path
      """WITH src AS (
        |  SELECT doc_id, 'merged' AS lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'inserted', n_chars
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM src
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM src))
        |ORDER BY doc_id""".stripMargin,
    "q_merge_sync" -> // Keep-matched sync: target versions survive, rest die
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 250
        |  UNION ALL
        |  SELECT doc_id + 3000000, 'synced', n_chars FROM documents
        |  WHERE n_chars >= 250 AND doc_id % 13 = 0)
        |ORDER BY doc_id""".stripMargin,
    "q_update_expr" -> // UPDATE SET lang=upper(lang) WHERE n_chars < 200 (3VL)
      """SELECT doc_id,
        |  CASE WHEN n_chars < 200 THEN upper(lang) ELSE lang END AS lang,
        |  CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_history" -> // the fixture's commit audit: deterministic columns only
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'truncate (bootstrap)'),
        |  (CAST(2 AS BIGINT), 'append')) AS t(version, operation)
        |ORDER BY version""".stripMargin,
    "q_restore" -> // delete then RESTORE to v1: the original table, exactly
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_cdf" -> // the delete commit's change feed: dead rows, labeled
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars,
        |  'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM documents WHERE n_chars < 200 ORDER BY doc_id""".stripMargin,
    "q_stream_cdf" -> // net state reconstructed from the streamed feed
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents WHERE n_chars >= 200 OR n_chars IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q_schema_evolution" -> // gen-1 rows null-fill the column gen-2 added
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 <> 0 THEN CAST(n_chars AS INTEGER) END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_constraints" -> // originals + the compliant append; the violating one died
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars FROM (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, 'appended', n_chars
        |  FROM documents WHERE n_chars >= 500)
        |ORDER BY doc_id""".stripMargin,
    "q_struct_prune" ->
      """SELECT doc_id, lang, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_struct_filter" ->
      """SELECT doc_id, source, CAST(n_chars AS INTEGER) AS n_chars
        |FROM documents WHERE lang = 'en' AND n_chars >= 200
        |ORDER BY doc_id""".stripMargin,
    "q_schema_evolution_nested" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(n_chars AS DOUBLE) / 100 END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH seq AS (
        |    SELECT lang, doc_id, n_chars AS tokens,
        |      sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM documents),
        |  b AS (SELECT lang,
        |    CAST((cum - tokens) // 4096 AS BIGINT) AS bucket, tokens FROM seq)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS tokens,
        |  round(sum(tokens) / 4096.0, 4) AS fill
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_mix_weighted" ->
      """SELECT doc_id, lang, n_chars, 'short' AS source_ds FROM documents
        |  WHERE n_chars < 200 AND doc_id % 1000 < 900
        |UNION ALL
        |SELECT doc_id, lang, n_chars, 'long' AS source_ds FROM documents
        |  WHERE n_chars >= 200 AND doc_id % 1000 < 400
        |ORDER BY source_ds, doc_id""".stripMargin,
    "q_mix_temperature" -> // the τ-scaled rates and md5 points replayed
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
        |t AS (SELECT sum(pow(n, 0.5)) AS z, sum(n) AS total FROM c),
        |r AS (SELECT lang,
        |    round(least(1.0::DOUBLE, pow(n, 0.5) / t.z * t.total * 0.5 / n), 6)
        |      AS rate
        |  FROM c, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) / 4294967296.0 < r.rate
        |ORDER BY d.doc_id""".stripMargin,
    "q_delete_subquery" -> // subquery-conditioned DELETE + UPDATE replay
      """SELECT doc_id,
        |  CASE WHEN n_chars > 450 THEN 'long' ELSE lang END AS lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT doc_id FROM documents WHERE n_chars < 120)
        |ORDER BY doc_id""".stripMargin,
    "q_sql_dml" -> // replay of the SQL DML lifecycle: delete<100, upper()
      // for >=400, 'merged' overlay on 150..300, inserts for >500
      """WITH kept AS (
        |    SELECT doc_id, lang, n_chars FROM documents WHERE n_chars >= 100),
        |  upd AS (
        |    SELECT doc_id,
        |      CASE WHEN n_chars >= 400 THEN upper(lang) ELSE lang END AS lang,
        |      n_chars FROM kept),
        |  final AS (
        |    SELECT doc_id,
        |      CASE WHEN n_chars BETWEEN 150 AND 300 THEN 'merged' ELSE lang END AS lang,
        |      n_chars FROM upd
        |    UNION ALL
        |    SELECT doc_id + 1000000, 'new', n_chars FROM documents WHERE n_chars > 500)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM final ORDER BY doc_id""".stripMargin,
    "q_column_mapping" -> // rename lang->language (alias over old files),
      // drop+re-add source (original values dead, re-add reads null),
      // one post-evolution append
      """SELECT doc_id, lang AS language, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(NULL AS VARCHAR) AS source
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, upper(lang), CAST(n_chars AS BIGINT), 'fresh'
        |FROM documents WHERE n_chars > 400
        |ORDER BY doc_id""".stripMargin,
    "q_shard_shuffle" -> // the same md5-keyed shard + order, replayed
      """WITH h AS (SELECT doc_id, lang,
        |    md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
        |SELECT doc_id, lang,
        |  CAST(CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % 16 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % 16
        |    ORDER BY hx, doc_id) AS BIGINT) AS shard_pos
        |FROM h ORDER BY shard, shard_pos""".stripMargin,
    "q_split_assign" -> // the same md5-point intervals, replayed
      """SELECT doc_id,
        |  CASE WHEN pt < 0.8 THEN 'train'
        |       WHEN pt < 0.9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      / 4294967296.0 AS pt
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_merge_conditional" -> // clause algebra replayed: matched = n_chars in
      // [100,500]; >300 -> lang='long', else n_chars+1; unmatched-by-source
      // rows with n_chars<50 die
      """SELECT doc_id,
        |  CASE WHEN n_chars BETWEEN 100 AND 500 AND n_chars > 300
        |       THEN 'long' ELSE lang END AS lang,
        |  CAST(CASE WHEN n_chars BETWEEN 100 AND 500 AND n_chars <= 300
        |       THEN n_chars + 1 ELSE n_chars END AS BIGINT) AS n_chars
        |FROM documents
        |WHERE n_chars BETWEEN 100 AND 500 OR n_chars >= 50
        |ORDER BY doc_id""".stripMargin,
    "q_join_bucketed" -> // same join/agg over the source parquet — bucketing
      // changes the physical plan (storage-partitioned join), never results
      """SELECT c.c_mktsegment, COUNT(*) AS orders,
        |  (SUM(o.o_totalprice::DECIMAL(18,2)) * 100)::BIGINT AS total_c
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "q_stream_windowed" -> // batch equivalent of the windowed stateful drain
      // (both sides see the parquet ts at µs precision; window start floors
      // to the UTC day in µs)
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS wstart,
        |  event_type, count(*) AS cnt, round(min(value), 2) AS mn,
        |  round(max(value), 2) AS mx
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_sessions" -> // batch gaps-and-islands replay of the
      // flatMapGroupsWithState drain (12-hour gap, ties broken by event_id)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, value
        |  FROM events),
        |x AS (SELECT *, CASE WHEN lag(tu) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id) IS NULL
        |    OR tu - lag(tu) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id) > 43200000000
        |    THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY tu, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, min(tu) AS session_start, max(tu) AS session_end,
        |  count(*)::BIGINT AS n_events, round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_dedup" -> // the streamed union is originals + id-shifted
      // copies admitted in ascending-id order, so min(doc_id) per digest
      // over the originals IS the kept id (duplicate texts WITHIN the
      // originals — sf0.1 has 8 pairs — resolve to the smaller id on both
      // sides); the row count pins exactly-once emission
      """SELECT md5(text) AS digest, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY digest""".stripMargin,
    // the seeded minhash state isn't SQL-derivable, but stream == batch
    // replay and copies-all-drop are structural claims — the oracle pins
    // the corpus size and the expected-true gate bits
    "q_stream_neardup" ->
      """SELECT count(*)::BIGINT AS n_docs, true AS stream_equals_batch_ok,
        |  true AS copies_dropped_ok
        |FROM documents""".stripMargin,
    // the streaming kept set replayed in FULL: ascending admission makes
    // it the batch complement, and the one-hot quantizer makes THAT pure
    // SQL (argmax cells, round-4 cosine, keep-earliest) — every row of a
    // stateful streaming query's output hash-checked
    "q_stream_semdedup" ->
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
        |a AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN embedding[1] >= embedding[2] AND embedding[1] >= embedding[3]
        |              AND embedding[1] >= embedding[4] THEN 0
        |         WHEN embedding[2] >= embedding[3] AND embedding[2] >= embedding[4] THEN 1
        |         WHEN embedding[3] >= embedding[4] THEN 2 ELSE 3 END AS cell
        |  FROM u),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(x.embedding, b.embedding), 4) >= 0.45)
        |SELECT vec_id FROM u
        |WHERE vec_id NOT IN (SELECT vec_id FROM dups)
        |ORDER BY vec_id""".stripMargin,
    "q_scan_partitioned" ->
      """SELECT user_id, count(*) AS cnt, round(min(value), 2) AS mn
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_sum_meta" ->
      """SELECT CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_line, count(*) AS cnt
        |FROM lineitem""".stripMargin,
    "q_agg_avg_meta" -> // avg = pushed exact SUM / COUNT, divided by Spark
      """SELECT round(avg(l_linenumber), 6) AS avg_line,
        |  round(avg(l_orderkey), 6) AS avg_okey
        |FROM lineitem""".stripMargin,
    "q_agg_partition_meta" ->
      """SELECT event_type, count(*) AS cnt, round(min(value), 2) AS mn,
        |  max(event_id) AS mx
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_multimodal_images" -> // dims re-derived from doc_id (see query comment)
      """SELECT doc_id, 'png' AS format, (16 + doc_id % 32)::INT AS width,
        |  (8 + doc_id % 16)::INT AS height, 8 AS bit_depth
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_decode" -> // dims from REAL pixel decode == generator formula
      """SELECT doc_id, (16 + doc_id % 32)::INT AS width,
        |  (8 + doc_id % 16)::INT AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_resize" -> // Multimodal.resizedDims replayed in SQL; the
      // generator guarantees w >= h, so the long side is always width and
      // lands exactly on maxDim = 12 (no halfway roundings in the dim space
      // — enumerated)
      """SELECT doc_id, 12 AS width,
        |  greatest(1, round((8 + doc_id % 16) * 12.0 /
        |                    (16 + doc_id % 32))::INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_video" -> // params re-derived from doc_id
      """SELECT doc_id, 'grv1' AS format,
        |  (8 + (doc_id % 3) * 4)::INT AS width,
        |  (8 + (doc_id % 2) * 4)::INT AS height,
        |  (4 + doc_id % 4)::INT AS fps,
        |  (6 + doc_id % 10)::INT AS n_frames,
        |  round((6 + doc_id % 10)::DOUBLE / (4 + doc_id % 4), 4) AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_video_frames" -> // the sampled grid replays laterally
      """SELECT d.doc_id, u.idx::INT AS frame_idx,
        |  round(u.idx::DOUBLE / (4 + d.doc_id % 4), 4) AS ts_s,
        |  (8 + (d.doc_id % 3) * 4)::INT AS width,
        |  (8 + (d.doc_id % 2) * 4)::INT AS height
        |FROM documents d, LATERAL (SELECT unnest(generate_series(0,
        |  (6 + d.doc_id % 10 - 1)::BIGINT, 4)) AS idx) u
        |ORDER BY d.doc_id, frame_idx""".stripMargin,
    "q_multimodal_audio" -> // params re-derived from doc_id
      """SELECT doc_id, 'wav' AS format, (1 + doc_id % 2)::INT AS channels,
        |  (CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 44100 END)::INT AS sample_rate,
        |  16 AS bits, (100 + doc_id % 400)::BIGINT AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_audio_decode" -> // params from REAL sample decode ==
      // generator formula; duration = frames·1000/rate in the same IEEE
      // double op order both sides
      """SELECT doc_id, (1 + doc_id % 2)::INT AS channels,
        |  (CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 44100 END)::INT AS sample_rate,
        |  (100 + doc_id % 400)::BIGINT AS frames,
        |  ((100 + doc_id % 400)::BIGINT * 1000.0::DOUBLE) /
        |    (CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 44100 END) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_audio_gate" -> // every doc decodes and its RMS lands in
      // the band (deterministic: seeded samples)
      """SELECT count(*)::BIGINT AS docs, count(*)::BIGINT AS decoded,
        |  count(*)::BIGINT AS rms_in_band FROM documents""".stripMargin
    // Rows-only (no SQL-expressible oracle): q_dedup_simhash (seeded token
    // hashing, not reproducible in SQL — gated by the oracle-checked
    // q_dedup_simhash_gate above plus OpsSpec), q_ann_lsh / q_ann_ivf /
    // q_ann_pq / q_ann_opq / q_ann_ivfpq / q_dedup_embedding_lsh
    // (approximate tiers; their quality is oracle-checked via the paired
    // *_recall / _full queries above).
  )
}
