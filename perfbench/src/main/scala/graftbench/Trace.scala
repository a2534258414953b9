package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: op → job → stage. Times are epoch milliseconds. */
final case class Span(id: String, name: String, parent: String, start: Long, end: Long)

/** Engine and connector counters summed over one op. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuMs = 0.0
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  var pagesRead = 0L
  var pagesPruned = 0L
}

/** The traced run's recorder. Each op runs under its own Spark job group;
  * a SparkListener maps jobs, stages and tasks back to the op, and a
  * QueryExecutionListener adds planning time and the strawboat scan's
  * `pagesRead` / `pagesPruned` custom metrics. Spans stay in memory until
  * [[spans]] is read at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val opSpans = mutable.ArrayBuffer[Span]()
  private val jobSpans = mutable.ArrayBuffer[Span]()
  private val stageSpans = mutable.ArrayBuffer[Span]()
  private val jobOp = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val counters = mutable.Map[String, OpCounters]()
  @volatile private var currentOp: String = null

  private def countersOf(op: String): OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  /** Run `body` as op `id` (kind `name`) and record its span. */
  def op[T](id: String, name: String)(body: => T): T = {
    sc.setJobGroup(id, name, interruptOnCancel = false)
    currentOp = id
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      // every listener event the op caused is delivered before the next op
      org.apache.spark.BenchBus.drain(sc)
      currentOp = null
      sc.clearJobGroup()
      lock.synchronized { opSpans += Span(id, name, null, t0, t1) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    op.foreach { o =>
      jobOp(e.jobId) = o
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
      countersOf(o).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobOp.get(e.jobId).foreach { o =>
      jobSpans += Span(s"job-${e.jobId}", "job", o, jobStart(e.jobId), e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); o <- jobOp.get(job)) {
      countersOf(o).stages += 1
      stageSpans += Span(s"stage-${info.stageId}.${info.attemptNumber()}", "stage",
        s"job-$job", info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (job <- stageJob.get(e.stageId); o <- jobOp.get(job); m <- Option(e.taskMetrics)) {
      val c = countersOf(o)
      c.tasks += 1
      c.executorRunMs += m.executorRunTime
      c.executorCpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = currentOp
    if (op != null) lock.synchronized {
      val c = countersOf(op)
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      Tracer.plans(qe.executedPlan).foreach { p =>
        p.metrics.get("pagesRead").foreach(c.pagesRead += _.value)
        p.metrics.get("pagesPruned").foreach(c.pagesPruned += _.value)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def spans: Seq[Span] = lock.synchronized((opSpans ++ jobSpans ++ stageSpans).toSeq)
  def opCounters(id: String): OpCounters = lock.synchronized(countersOf(id))

  /** Op span minus the part of it its job spans cover, in ms. */
  def driverSelfMs(id: String): Long = lock.synchronized {
    opSpans.find(_.id == id).map { op =>
      val covered = jobSpans.filter(_.parent == id)
        .map(j => (math.max(j.start, op.start), math.min(j.end, op.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L
      var reach = op.start
      covered.foreach { case (a, b) =>
        if (b > reach) { busy += b - math.max(a, reach); reach = b }
      }
      (op.end - op.start) - busy
    }.getOrElse(0L)
  }
}

object Tracer {
  /** Every physical node of an executed plan, through adaptive stages and
    * subqueries (a reused exchange is counted once, where it ran). */
  def plans(root: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }
}
