package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced op, filled from listener events. */
final class OpCounters {
  /** jobId -> (start epoch ms, end epoch ms; -1 while running). */
  val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)]
  var stages, tasks = 0L
  var taskMs, cpuNs, spillBytes, peakMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var inputBytes, inputRows, outputBytes = 0L
  var exchanges, reused = 0
}

/** The traced run's view of Spark, measured from outside graft: a
  * SparkListener (jobs, stages, task metrics) and a query-execution
  * listener that inspects the final executed plan of each op's action.
  *
  * Attribution: the benchmark sets the local property [[OpKey]] to the op
  * id before an op; Spark copies local properties into every job the
  * op starts (broadcast and subquery threads included), and every
  * stage and task is mapped back through its job. An op's action plan
  * is recognised by the observation it carries, named [[metricName]].
  * Events arrive on the listener bus; read [[take]] only after the bus
  * is drained. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val stageOp = new ConcurrentHashMap[Int, String]
  private val jobOp = new ConcurrentHashMap[Int, String]
  private val byOp = new ConcurrentHashMap[String, OpCounters]

  private def counters(op: String): OpCounters =
    byOp.computeIfAbsent(op, _ => new OpCounters)

  /** Removes and returns the counters of `op`. */
  def take(op: String): OpCounters = {
    val c = byOp.remove(op)
    if (c == null) new OpCounters else c
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
    if (op != null) {
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(stageOp.put(_, op))
      val c = counters(op)
      c.synchronized { c.jobs(e.jobId) = (e.time, -1L) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = jobOp.remove(e.jobId)
    if (op != null) {
      val c = counters(op)
      c.synchronized {
        c.jobs.get(e.jobId).foreach { case (s, _) => c.jobs(e.jobId) = (s, e.time) }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.get(e.stageInfo.stageId)
    if (op != null) {
      val c = counters(op)
      c.synchronized { c.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) {
      val c = counters(op)
      c.synchronized {
        c.tasks += 1
        c.taskMs += e.taskInfo.duration
        c.cpuNs += m.executorCpuTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    var op: String = null
    var ex, reused = 0
    walk(qe.executedPlan) {
      case m: CollectMetricsExec if m.name.startsWith(MetricPrefix) =>
        op = m.name.stripPrefix(MetricPrefix)
      case _: ReusedExchangeExec => reused += 1
      case _: Exchange => ex += 1
      case _ => ()
    }
    if (op != null) {
      val c = counters(op)
      c.synchronized { c.exchanges += ex; c.reused += reused }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Probe {
  val OpKey = "perfbench.op"
  private val MetricPrefix = "perfbench_"

  /** Name of the observation that carries op `id`'s output check. */
  def metricName(id: String): String = MetricPrefix + id

  /** Visits every node of a physical plan: through adaptive plans to
    * their final form, into query stages, and into subqueries. A
    * reused exchange is a leaf: the exchange it points at is counted
    * where it first appears. */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ => ()
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }
}
