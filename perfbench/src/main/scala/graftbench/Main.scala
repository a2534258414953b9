package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM run: start a session, set the workload up
  * cold several times, warm up, then a closed loop with one client thread
  * for `--seconds` of op time, checking every distinct op's output. Writes
  * the run's report (metrics with units, quartiles and sample counts,
  * failures, calibration windows, and in a traced run the spans) as JSON
  * to `--out`.
  *
  * {{{
  * Main --workload query_mix|ingest_mutate --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE [--smoke 1]
  * }}}
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, smoke: Boolean, setups: Int, cores: Int)

  private def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val smoke = m.get("smoke").contains("1")
    Conf(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("work"), get("out"), smoke,
      if (smoke) 1 else 3,
      // one core fewer than the machine has (at most 3 task threads): the
      // driver thread, the JIT compilers (busy all through the measured
      // loop: Spark generates code for every query) and the collector need
      // one, and sharing it with the tasks makes op times follow host load
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1))
  }

  /** Fixed-work single-thread spin (the steal sentinel): on an idle core it
    * takes a machine-constant time, so drift in it measures CPU stolen from
    * the benchmark, not the code under test. */
  def spin(): Double = {
    var h = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2000000) { h = h * 0x100000001B3L; h ^= (h >>> 33); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 42L) print("")
    dt
  }

  /** Heap occupancy right after a full collection; the peak is the largest
    * sample. Samples are taken outside the measured loops only, before and
    * after each of them, so each measured loop starts on a just-collected
    * heap and collects nothing forced while it runs. Young collections are
    * not sampled: when they happen is not up to the code under test. A
    * sample repeats the collection, 500 ms apart, until two readings agree
    * within 1 MB (at most four times): Spark's cleaner (which polls every
    * 100 ms) releases cached and broadcast blocks and shuffle state only
    * after a collection has found them unreachable. */
  final class HeapWatch {
    var peakBytes = 0L
    val samplesMb = mutable.ArrayBuffer[Double]()
    def sample(): Unit = {
      def collect(): Long = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      var prev = collect()
      var used = prev
      var tries = 0
      do {
        Thread.sleep(500)
        prev = used
        used = collect()
        tries += 1
      } while (math.abs(prev - used) > 1000000L && tries < 4)
      samplesMb += used / 1e6
      peakBytes = math.max(peakBytes, used)
    }
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** One completed (or failed) op of the measured loop. */
  final case class OpRecord(id: String, kind: String, seconds: Double, atSeconds: Double,
      error: String)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val conf = parse(argv)
    val work = new File(conf.work).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep little job and query history, so the heap holds the op
      // stream's working set rather than a record that grows with op count
      .config("spark.ui.retainedJobs", "5")
      .config("spark.ui.retainedStages", "5")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val report = try run(spark, conf, work, sessionStartS) finally spark.stop()
    Files.createDirectories(Paths.get(conf.out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(conf.out), Stats.json(report) + "\n")
  }

  private def run(spark: SparkSession, conf: Conf, work: File,
      sessionStartS: Double): Map[String, Any] = {
    val wl: Workload = conf.workload match {
      case "query_mix" => new QueryMix(spark, conf, work)
      case "ingest_mutate" => new IngestMutate(spark, conf, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    spin() // the sentinel's first call compiles it; keep that out of the samples
    val calibStart = spin()

    // cold set-up, repeated: the median hides the one-time class loading and
    // JIT of the first pass, which a long-lived session pays once
    val setups = (0 until conf.setups).map { _ =>
      val s0 = System.nanoTime()
      val info = wl.setup()
      ((System.nanoTime() - s0) / 1e9, info)
    }
    val setupInfo = setups.last._2
    val setupMedianS = Stats.median(setups.map(_._1))
    // wall time of each phase of the run, for sizing runs
    val phases = mutable.LinkedHashMap[String, Double]("setups" -> setups.map(_._1).sum)
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")(wl.warmup())

    val heap = new HeapWatch
    val spins = mutable.ArrayBuffer[(Double, Double)]()
    val rng = new java.util.Random(conf.seed * 1000003L + 17L)

    def loop(tracer: Option[Tracer], budget: Double, tag: String): Seq[OpRecord] = {
      val recs = mutable.ArrayBuffer[OpRecord]()
      var busy = 0.0
      val start = System.nanoTime()
      var n = 0
      while (busy < budget || !wl.atStepBoundary) {
        val op = wl.nextOp(rng)
        val id = s"$tag-$n"
        n += 1
        val o0 = System.nanoTime()
        val err = try {
          tracer match {
            case Some(t) => t.op(id, op.kind)(op.run())
            case None => op.run()
          }
          null
        } catch { case e: Throwable => Main.describe(e) }
        val dt = (System.nanoTime() - o0) / 1e9
        busy += dt
        recs += OpRecord(id, op.kind, dt, (o0 - start) / 1e9, err)
        wl.afterOp(id, err == null)
        spins += (((System.nanoTime() - start) / 1e9, spin()))
      }
      recs.toSeq
    }

    // the first runs of each op path are slowed most by JIT compilation:
    // before the measured loop, finish the warm-up's round or step cycle and
    // run at least 0.75 of the measured time unmeasured. With less (0.1),
    // op times still fell by a quarter from the first to the last cycle of
    // the measured loop, so a run's figures depended on how far its JIT had
    // got. Spark generates and compiles code for every query, so
    // compilation goes on through the measured loop too; the report gives
    // its JIT time
    phase("warm_loop")(loop(None, conf.seconds * 0.75, "warm"))
    spins.clear()
    heap.sample()
    val (jit0, gc0) = (jitMs(), gcMs())
    val recs = phase("measured_loop")(loop(None, conf.seconds, "op"))
    val (jitLoopMs, gcLoopMs) = (jitMs() - jit0, gcMs() - gc0)
    heap.sample()
    // step failures found by the per-step model checks, then the per-kind
    // output checks, which fail every op of a kind whose output is wrong
    val wrongKinds = phase("checks")(wl.checkOutputs())
    val stepFailures = wl.failedOps
    val failedIds = recs.filter(r => r.error != null || wrongKinds.contains(r.kind) ||
      stepFailures.contains(r.id)).map(_.id).toSet
    val okRecs = recs.filterNot(r => failedIds(r.id))
    val lat = okRecs.map(_.seconds)
    val busy = recs.map(_.seconds).sum
    val endInfo = phase("end_metrics")(wl.endMetrics(recs))

    def metric(v: Double, unit: String, samples: Seq[Double] = Nil): Map[String, Any] =
      Map("value" -> v, "unit" -> unit) ++
        (if (samples.nonEmpty) Map("summary" -> Stats.summary(samples)) else Map.empty)
    val opsPerS = okRecs.size / busy
    val endToEnd = Map(
      "setup_s" -> metric(sessionStartS + setupMedianS, "s", setups.map(_._1 + sessionStartS)),
      "ops_per_s" -> metric(opsPerS, "1/s"),
      "latency_p50_s" -> metric(if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.5), "s", lat),
      "latency_p90_s" -> metric(if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.9), "s", lat),
      "write_rows_per_s" -> metric(endInfo("write_rows_per_s"), "rows/s"),
      "stored_bytes_ratio" -> metric(endInfo("stored_bytes_ratio"), "ratio"),
      "live_space_ratio" -> metric(endInfo("live_space_ratio"), "ratio"),
      "heap_live_peak_mb" -> metric(heap.peakBytes / 1e6, "MB"),
      "fail_ratio" -> metric(failedIds.size.toDouble / recs.size, "ratio"))

    val perKind = recs.groupBy(_.kind).map { case (k, rs) =>
      k -> Map("n" -> rs.size, "latency_s" -> Stats.summary(rs.map(_.seconds)),
        "failed" -> rs.count(r => failedIds(r.id)))
    }
    val failures = recs.filter(r => failedIds(r.id)).groupBy(_.kind).map { case (k, rs) =>
      k -> Option(rs.head.error).orElse(wrongKinds.get(k))
        .getOrElse(stepFailures(rs.head.id))
    }
    // steal sentinel in one-second windows, so a burst can be matched to
    // the ops it covered (op start times are in "ops")
    val calibWindows = spins.groupBy(s => s._1.toInt).toSeq.sortBy(_._1).map { case (w, xs) =>
      Map("window_s" -> w, "n" -> xs.size, "spin_s" -> Stats.median(xs.map(_._2).toSeq))
    }

    val traced: Map[String, Any] = if (!conf.trace) Map.empty else {
      heap.sample()
      phase("traced")(traceRun(spark, conf, wl, opsPerS, loop, spins.map(_._2).toSeq :+ calibStart))
    }

    Map(
      "workload" -> conf.workload, "seed" -> conf.seed, "seconds" -> conf.seconds,
      "trace" -> conf.trace, "cores" -> conf.cores, "smoke" -> conf.smoke,
      "attempted" -> recs.size, "failed" -> failedIds.size,
      "failures" -> failures,
      "end_to_end" -> endToEnd,
      "setup" -> Map("session_start_s" -> sessionStartS,
        "cold_setup_s" -> setups.map(_._1), "info" -> setupInfo),
      "phase_wall_s" -> phases,
      // JIT compilation and collection time spent during the measured loop
      "measured_loop_jit_ms" -> jitLoopMs, "measured_loop_gc_ms" -> gcLoopMs,
      "heap_samples_mb" -> heap.samplesMb,
      "per_kind" -> perKind,
      "calib_windows" -> calibWindows,
      "ops" -> recs.map(r => Map("id" -> r.id, "kind" -> r.kind, "s" -> r.seconds,
        "at_s" -> r.atSeconds, "ok" -> !failedIds(r.id))),
      "oracle" -> wl.oracleChecks,
      "traced" -> traced)
  }

  /** The traced phase: the same closed loop again with the op → job →
    * stage recorder on, then the per-layer probes. */
  private def traceRun(spark: SparkSession, conf: Conf, wl: Workload, untracedOpsPerS: Double,
      loop: (Option[Tracer], Double, String) => Seq[OpRecord],
      spinSamples: Seq[Double]): Map[String, Any] = {
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val footerLoads0 = graft.spark.FooterCache.loads.get()
    val recs = try loop(Some(tracer), conf.seconds, "traced")
    finally {
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    val footerLoads = graft.spark.FooterCache.loads.get() - footerLoads0
    val ok = recs.filter(_.error == null)
    val tracedOpsPerS = ok.size / recs.map(_.seconds).sum
    val cs = recs.map(r => tracer.opCounters(r.id))
    def per(f: OpCounters => Double): Double = Stats.mean(cs.map(f))
    val read = cs.map(_.pagesRead).sum
    val pruned = cs.map(_.pagesPruned).sum
    val selfMs = recs.map(r => r.kind -> tracer.driverSelfMs(r.id))
    val probe = wl.probes()
    val layers = mutable.LinkedHashMap[String, (Double, String)](
      "engine.plan_ms" -> (per(_.planMs.toDouble), "ms"),
      "engine.driver_self_ms" -> (Stats.mean(selfMs.map(_._2.toDouble)), "ms"),
      "engine.jobs_per_op" -> (per(_.jobs.toDouble), "count"),
      "engine.stages_per_op" -> (per(_.stages.toDouble), "count"),
      "engine.tasks_per_op" -> (per(_.tasks.toDouble), "count"),
      "engine.scheduler_delay_ms" -> (per(_.schedulerDelayMs.toDouble), "ms"),
      "engine.executor_run_ms" -> (per(_.executorRunMs.toDouble), "ms"),
      "engine.executor_cpu_ms" -> (per(_.executorCpuMs), "ms"),
      "engine.gc_ms" -> (per(_.gcMs.toDouble), "ms"),
      "engine.shuffle_write_bytes" -> (per(_.shuffleWriteBytes.toDouble), "bytes"),
      "engine.shuffle_read_bytes" -> (per(_.shuffleReadBytes.toDouble), "bytes"),
      "engine.spill_bytes" -> (per(_.spillBytes.toDouble), "bytes"),
      "scan.pages_read" -> (read.toDouble / recs.size, "count"),
      "scan.pages_pruned" -> (pruned.toDouble / recs.size, "count"),
      "scan.prune_ratio" -> (if (read + pruned == 0) 0.0 else pruned.toDouble / (read + pruned), "ratio"),
      "scan.footer_loads" -> (footerLoads.toDouble / recs.size, "count"),
      "format.decode_mb_s" -> (probe.decodeMbS, "MB/s"),
      "format.encode_mb_s" -> (probe.encodeMbS, "MB/s"),
      "format.footer_parse_us" -> (probe.footerParseUs, "us"),
      "calib.spin_s" -> (Stats.median(spinSamples), "s"),
      "trace.overhead_ops_per_s" -> (untracedOpsPerS - tracedOpsPerS, "1/s"))
    Probes.codecNames.foreach { c =>
      layers("format.pages." + c) = (probe.codecPages.getOrElse(c, 0L).toDouble, "count")
    }
    val selfByKind = selfMs.groupBy(_._1).map { case (k, xs) => k -> Stats.mean(xs.map(_._2.toDouble)) }
    Map(
      "per_layer" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_layer" -> wl.traceExtras(recs),
      "untraced_ops_per_s" -> untracedOpsPerS,
      "traced_ops_per_s" -> tracedOpsPerS,
      "driver_self_ms_by_kind" -> selfByKind,
      "spans" -> tracer.spans)
  }

  def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")
      .linesIterator.take(1).mkString).take(300)
}
