package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: converts the SF tables to strawboat once (timed as
  * "convert_write"), then runs the headline query suite with a noop sink so
  * every operator actually materializes (count() alone would let Catalyst
  * prune the work away).
  *
  * Output contract (round 19 measurement fix — the numbers themselves are
  * produced exactly as before): the LAST stdout line is the driver's JSON
  * report `{"metric":"total","value":…,"unit":"sec","queries":{min per
  * entry},"calib":[…],"sf":…}` and is kept COMPACT — the driver captures
  * only a ~2000-char stdout tail, and from round 14 to 18 the single line
  * carrying queries+medians+spreads (~4.5 KB at 56 entries) overflowed it,
  * leaving `parsed: null` in every BENCH_r*.json. The medians/spreads/ab
  * detail still exists, unchanged: it prints on an EARLIER stdout line
  * (`"metric":"detail"`) and lands in `target/bench_detail.json`. Nothing
  * was dropped or renamed; the per-entry numbers in "queries" are the same
  * min-of-3-after-warm-up as every previous round. */
object Bench {
  /** Fixed-work steal sentinel: one deterministic single-thread spin
    * (multiply-xor over 2e8 iterations, no allocation, no Spark). On an
    * unloaded core it takes a machine-constant time, so run-over-run drift
    * in this number measures scheduler/steal pollution, not code — the
    * bench samples it at session start, after conversion, and at the end,
    * and reports all three so a polluted run is mechanically discountable
    * (r18's 32-core run had spreads exceeding medians on plan-identical
    * queries; nothing in the JSON could prove it was the box). */
  private def calibSpin(): Double = {
    var h = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000000) { h = h * 0x100000001B3L; h ^= (h >>> 33); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) print("") // defeat dead-code elimination
    dt
  }
  // representative slice: scan+filter, agg, joins (broadcast/shuffle/multi),
  // window, top-k, codec-heavy scan, and the LLM-pipeline operators
  private val headline = Seq(
    "q_scan_filter_project", "q_scan_partitioned", "q_codec_sorted", "q_agg_groupby",
    "q_agg_distinct", "q_join_broadcast", "q_join_shuffle", "q_join_multi",
    "q_tpch_q3", "q_tpch_q6",
    // round-12: the reorder-sensitive 6-table Q5 shape — declared naive
    // (fact-first, region filter last), no hints; plan quality rides on the
    // footer stats + CBO NDV join reorder (a cbo-off A/B rides in "ab").
    // NOTE for round-over-round totals: this entry is NEW in round 12
    // (~1.2 s at sf0.1) — compare totals net of it against earlier rounds.
    "q_tpch_q5",
    "q_window_rank", "q_window_running",
    "q_events_sessions", "q_topk_orders", "q_topk_filtered",
    // bloom point lookup + read-after-compaction (their one-time table
    // derivations land in run 1 and are absorbed by the min-of-2)
    "q_bloom_lookup", "q_compact_roundtrip",
    // the mutation surface: reads through deletion vectors (q_delete),
    // the merged table (q_merge), a pinned historical snapshot
    // (q_timetravel), and the log-derived change feed (q_cdf) —
    // regressions in the round-7/8 mutation machinery must show up in
    // the driver bench, not only in correctness
    "q_delete", "q_merge", "q_timetravel", "q_cdf",
    // round-10 mutation surface: the distributed (shuffle-join) merge path
    // and the scan-based subquery DML fallback — their one-time table
    // mutations land in the warm-up run; steady state times the reads
    // through the resulting DVs
    "q_merge_large", "q_delete_subquery",
    // round-10: storage-partitioned join over hash-bucketed tables (the
    // one-time bucketed CTAS lands in the warm-up; steady state times the
    // shuffle-free join itself)
    "q_join_bucketed",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_embedding_lsh",
    "q_ann_brute", "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq", "q_text_stats",
    // nested-leaf scan through the vectorized struct reader (round 9)
    "q_struct_filter",
    // round-9 pipeline ops: broadcast n-gram decontamination join and the
    // map-only regex redaction pass
    "q_decontaminate", "q_pii_redact",
    // round-12: BM25 lexical retrieval — the corpus-scan scorer and the
    // term-bucketed inverted-index path (index build lands in the warm-up
    // via the fixture marker; steady state times the bucket-pruned probe).
    // NOTE for round-over-round totals: both entries are NEW in round 12 —
    // compare totals net of them against earlier rounds.
    // NOTE on q_bm25's r12→r13 step (~1.85×): r12's number was an ARTIFACT —
    // the per-doc frame was never unpersisted, so Spark's CacheManager let
    // timed runs 2-3 reuse it and skip the corpus scan. r13 fixed the leak
    // (bm25TopK releases its cache before returning); the higher number is
    // the honest per-query cost. Do NOT "fix" it back by re-introducing a
    // leaked persist.
    "q_bm25", "q_bm25_indexed",
    // round-14: the rest of the retrieval surface — append-maintained index
    // probe, positional phrase lookup, and both hybrid fusion tiers (brute
    // and persisted-index batch). Index builds land in the warm-up via the
    // fixture markers; steady state times the probes + fusion.
    // NOTE for round-over-round totals: these four entries are NEW in
    // round 14 — compare totals net of them against earlier rounds.
    "q_bm25_appended", "q_phrase_search", "q_hybrid_search", "q_hybrid_indexed",
    // round 15: LM perplexity quality filter (corpus-trained bigram model:
    // tokenize→window→aggs→joins) and the real-pixel multimodal decode
    // (mapPartitions imageio over stored binary pages)
    "q_quality_lm", "q_multimodal_decode",
    // round 16: temporal joins — the join-free as-of sweep (one key
    // shuffle + window) and the bin-bucketed interval join (equi-join on
    // bin ids, no cartesian); the sketch aggregates (mg_topk
    // sketch→verify heavy hitters) and the broadcast semantic
    // decontamination pass. NOTE for round-over-round totals: all four
    // entries are NEW in round 16.
    "q_asof_join", "q_range_join", "q_overlap_join", "q_heavy_hitters",
    "q_decontaminate_semantic",
    // round 17: the second sketch-family perf anchor — bounded-mergeable
    // per-group bottom-k sampling (tasks ship <=k entries per group, not
    // rows) — and the binary-quantization ANN tier (sign-bit codes,
    // codegen'd popcount Hamming shortlist, point-read exact rerank).
    // NOTE for round-over-round totals: both NEW in round 17.
    "q_sample_per_group", "q_ann_bq",
    // round 17: full-corpus distributed k-means (3 Lloyd passes + assign
    // per run — the honest per-invocation cost of the clustering op) and
    // the cell-pruned IVF-BQ probe. NOTE: both NEW in round 17.
    "q_cluster_assign", "q_ann_ivfbq",
    // round 18: exact substring (span) dedup — md5 n-gram document
    // frequency + per-doc gaps-and-islands merge (Lee et al. 2022) — and
    // SemDeDup's cluster-bounded pair scan (fixed quantizer — the
    // operator's own cost shape; the fit is benched by q_cluster_assign).
    // NOTE for round-over-round totals: BOTH NEW in round 18.
    "q_dedup_spans", "q_dedup_semantic")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      // cost-based join ordering from the footer-derived column statistics
      // (ndv sketches + min/max + null counts) — multi-join entries measure
      // the stats-steered plans
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    // one discarded pass JIT-compiles the very loop that is sampled
    calibSpin()
    val calib = scala.collection.mutable.ArrayBuffer[Double](r3(calibSpin()))

    // conversion (write path) timed as its own entry; invalidate the cache
    // first so a marker file from a previous JVM can't zero out the timing.
    // Tables convert concurrently (independent Spark jobs) — wall clock is
    // the largest table, not the sum of ten small jobs.
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // Warm the write+read stack once (classloading, whole-stage codegen,
    // JIT) on the smallest table before timing — the same steady-state
    // policy the queries get from min-of-2. What convert_write should
    // measure is conversion throughput, not one-time JVM class-init of the
    // whole connector, which a long-lived session pays exactly once.
    Tables.invalidate(sfDir)
    Tables.strawDir(spark, sfDir, "region")
    spark.read.format("strawboat").load(Tables.strawDir(spark, sfDir, "region"))
      .write.format("noop").mode("overwrite").save()
    Tables.invalidate(sfDir)
    var convertError: Option[String] = None
    val convertSec = time {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      try Await.result(
        Future.sequence(tables.map(t => Future(Tables.strawDir(spark, sfDir, t)))),
        10.minutes): Unit
      catch {
        case e: Throwable =>
          convertError = Some((e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
            .take(200).replaceAll("[\"\\\\]", "'"))
          e.printStackTrace()
      }
    }

    calib += r3(calibSpin()) // post-conversion sample
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val medians = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spreads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    convertError.foreach(errors("convert_write") = _)
    results("convert_write") = r3(convertSec)
    headline.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = time {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // steady-state: one warm-up (whole-stage codegen compilation + JIT,
      // which a session pays once, not per query), then THREE timed runs.
      // "queries" carries the min (best steady-state), "medians" the
      // median, "spreads" max − min — so a round-over-round delta is
      // self-adjudicating: a real regression moves min AND median together
      // well beyond the spread; machine drift moves the median while min
      // holds, and scheduler jitter shows up as spread alone.
      // A single failing query must not sink the whole suite: record it and
      // keep going so the driver still gets its JSON line.
      try {
        once() // warm-up: codegen + JIT, excluded from the stats
        val warm = Seq(once(), once(), once()).sorted
        results(name) = r3(warm.head)
        medians(name) = r3(warm(1))
        spreads(name) = r3(warm.last - warm.head)
      } catch {
        case e: Throwable =>
          errors(name) = (e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
            .take(200).replaceAll("[\"\\\\]", "'")
          e.printStackTrace()
      }
    }
    // config A/B rider (outside "queries"/total so round-over-round totals
    // stay comparable): the reorder-sensitive Q5 under the two CBO knobs,
    // same machine, same JVM. cbo_off = no footer stats at all; reorder_off
    // = footer stats steer broadcasts/filter cardinality but the DP join
    // reorder stays out. The in-suite q_tpch_q5 number runs both on (the
    // r11 harness config). At sf0.1 the stats pay (reorder_off < cbo_off)
    // while the DP's bushy reorder — region-filtered dims semi-reduce
    // lineitem 5× BEFORE the fact-fact shuffle, the scale-correct shape —
    // carries fixed overheads this scale can't amortize.
    val ab = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (results.contains("q_tpch_q5")) {
      def q5(): Double = time {
        SparkEntry.queries("q_tpch_q5")(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      def variant(label: String, conf: Map[String, String]): Unit = {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        try {
          q5()
          ab(label) = r3(Seq(q5(), q5(), q5()).min)
        } catch { case e: Throwable => e.printStackTrace() }
        finally conf.keys.foreach { k =>
          spark.conf.set(k, "true") // bench session default: both on
        }
      }
      variant("q_tpch_q5_cbo_off", Map("spark.sql.cbo.enabled" -> "false"))
      variant("q_tpch_q5_reorder_off",
        Map("spark.sql.cbo.joinReorder.enabled" -> "false"))
    }
    calib += r3(calibSpin()) // end-of-suite sample
    def obj(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results)
    val md = obj(medians)
    val sp = obj(spreads)
    val abJson = if (ab.isEmpty) "" else ",\"ab\":" + obj(ab)
    val total = r3(results.values.sum)
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val calibJson = calib.mkString("[", ",", "]")
    // full detail: an EARLIER stdout line plus target/bench_detail.json —
    // everything the pre-r19 single line carried (queries, medians, spreads,
    // ab, errors), with the calibration samples added
    val detail = s"""{"metric":"detail","value":$total,"unit":"sec","queries":$qs,"medians":$md,"spreads":$sp$abJson$errJson,"calib":$calibJson,"sf":"$sfDir"}"""
    println(detail)
    try {
      val p = java.nio.file.Paths.get("target/bench_detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, detail + "\n")
    } catch { case e: Exception =>
      System.err.println(s"bench: could not write target/bench_detail.json: $e")
    }
    // the driver's line LAST, compact (≤ ~1.8 KB so the ~2000-char stdout
    // tail the driver keeps always contains it whole). 56 entries ≈ 1.5 KB;
    // if future entries push it past 1900 chars, move "calib"/"errors" to
    // the detail line before touching "queries" — those keys are the
    // contract and may only ever gain entries.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$errJson,"calib":$calibJson,"sf":"$sfDir"}"""
    if (compact.length > 1900)
      System.err.println(s"bench: WARNING compact report line is ${compact.length} chars " +
        "(driver tail budget ~2000) — trim non-contract fields")
    // exit 0 even when a query failed: the JSON line (with its "errors"
    // field) is the report, and a non-zero exit status would get it
    // discarded. Printed after stop() so no shutdown log line follows it.
    spark.stop()
    println(compact)
  }
}
