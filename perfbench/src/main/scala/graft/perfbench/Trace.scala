package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. Spans of one query execution (or one stream run) share the
  * root's id as `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, kind: String,
    name: String, startUs: Long, endUs: Long, attrs: Map[String, Any])

/** Counters summed over the work attributed to one scope: one batch query
  * execution, or one phase of the stream workload. */
final class Acc {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleRead, shuffleWrite, fetchWaitMs, spill, input = 0L
  var analysisMs, optimizationMs, planningMs, scanTimeMs = 0L
  /** Catalyst time spent after the sink write began (inside `save()`). */
  var writePlanMs = 0L

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_run_s" -> taskRunMs / 1e3, "task_cpu_s" -> taskCpuNs / 1e9,
    "task_gc_s" -> taskGcMs / 1e3,
    "shuffle_read_bytes" -> shuffleRead.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spill.toDouble,
    "input_bytes" -> input.toDouble,
    "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
    "planning_s" -> planningMs / 1e3, "scan_time_s" -> scanTimeMs / 1e3)
}

/** Outside-in tracing: spans recorded around the calls the benchmark makes
  * into each layer, plus the engine's own scheduler and Catalyst events
  * delivered to a [[SparkListener]] and a [[QueryExecutionListener]].
  *
  * Nothing is recorded while `on` is false, so one run can alternate traced
  * and untraced work and measure what tracing costs. Spans stay in memory
  * and are written once, when the run ends.
  */
final class Tracer {
  @volatile var on = false
  /** Scope that scheduler and Catalyst events are charged to. */
  @volatile var acc = new Acc
  /** Span that new job spans hang under (a query execution), if any. */
  @volatile var parent = 0L
  @volatile var trace = 0L
  /** Epoch µs at which the current execution called the sink. */
  @volatile var writeStartUs = Long.MaxValue
  /** Stream micro-batches whose jobs were traced. */
  val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()
  private val jobSpan = mutable.Map[Int, (Long, Long, Long, Long)]() // job -> (span, parent, trace, startUs)
  private val stageJob = mutable.Map[Int, Int]()

  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = buf.synchronized { buf += s }
  def spans: Seq[Span] = buf.synchronized { buf.toList }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val a = acc
      a.jobs += 1
      val batch = Option(e.properties)
        .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      batch.foreach(b => batches.add(b))
      val (p, t) = batch.map(b => (Tracer.batchSpan(b), trace)).getOrElse((parent, trace))
      jobSpan.synchronized {
        jobSpan(e.jobId) = (nextId(), p, t, e.time * 1000)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      jobSpan.synchronized(jobSpan.remove(e.jobId)).foreach { case (id, p, t, s) =>
        add(Span(id, p, t, "job", s"job ${e.jobId}", s, e.time * 1000,
          Map("ok" -> (e.jobResult == JobSucceeded))))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      acc.stages += 1
      val i = e.stageInfo
      val job = jobSpan.synchronized(stageJob.remove(i.stageId).flatMap(jobSpan.get))
      for (s <- i.submissionTime; c <- i.completionTime; (jid, _, t, _) <- job)
        add(Span(nextId(), jid, t, "stage", i.name.linesIterator.nextOption().getOrElse("").take(80),
          s * 1000, c * 1000, Map("stage" -> i.stageId, "tasks" -> i.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val a = acc
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.taskGcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val a = acc
        qe.tracker.phases.foreach { case (phase, p) =>
          phase match {
            case "analysis" => a.analysisMs += p.durationMs
            case "optimization" => a.optimizationMs += p.durationMs
            case "planning" => a.planningMs += p.durationMs
            case _ =>
          }
          if (p.startTimeMs * 1000 >= writeStartUs) a.writePlanMs += p.durationMs
          add(Span(nextId(), parent, trace, "catalyst", phase,
            p.startTimeMs * 1000, p.endTimeMs * 1000, Map("call" -> funcName)))
        }
        a.scanTimeMs += scanTimeMs(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Sum of the `scanTime` SQL metric over every scan node of a finished
    * plan, looking through adaptive wrappers and query stages. */
  private def scanTimeMs(p: SparkPlan): Long = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    p.metrics.get("scanTime").map(_.value).getOrElse(0L) + inner.map(scanTimeMs).sum
  }
}

object Tracer {
  /** Span id of stream micro-batch `b`: fixed, because the batch's jobs
    * start before its progress event arrives. */
  def batchSpan(b: Long): Long = (1L << 40) + b
}
