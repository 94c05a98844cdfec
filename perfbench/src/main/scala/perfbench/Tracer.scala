package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it (epoch milliseconds). */
final case class JobRecord(id: Int, startMs: Long, endMs: Long, site: String, stages: Int)

/** Executor-side counters summed over every finished task and stage,
  * plus the planning phases and file-scan bytes of every query
  * execution the session reported. Snapshots are subtracted to
  * attribute work to one query.
  */
final case class Counters(
    stages: Long, tasks: Long, taskRunMs: Long, taskCpuNs: Long, taskGcMs: Long,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, inputB: Long, outputB: Long,
    executions: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long) {
  def -(o: Counters): Counters = Counters(
    stages - o.stages, tasks - o.tasks, taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs,
    taskGcMs - o.taskGcMs, shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, inputB - o.inputB, outputB - o.outputB, executions - o.executions,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs, planningMs - o.planningMs)
}

/** Listens from outside the program: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for the planning phases of
  * the Dataset actions a query runs while it is being built. The
  * materializing action itself runs through `toRdd`, which reports no
  * query execution, so its phases are read from its own tracker
  * ([[addPhases]]).
  */
final class Tracer(spark: SparkSession) {
  private val c = Array.fill(14)(new AtomicLong())
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRecord]()
  private val done = ArrayBuffer.empty[JobRecord]

  private def add(i: Int, v: Long): Unit = { c(i).addAndGet(v); () }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // the result stage's name is the action's call site
      val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
      jobStarts.put(e.jobId, JobRecord(e.jobId, e.time, -1L, site, e.stageInfos.size))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { j =>
        done.synchronized { done += j.copy(endMs = e.time) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(0, 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add(1, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(2, m.executorRunTime)
        add(3, m.executorCpuTime)
        add(4, m.jvmGCTime)
        add(5, m.shuffleReadMetrics.totalBytesRead)
        add(6, m.shuffleWriteMetrics.bytesWritten)
        add(7, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(9, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPhases(qe)
  }

  /** Count one query execution and add its planning phase times and
    * the bytes of the files its scans read.
    */
  def addPhases(qe: QueryExecution): Unit = {
    add(10, 1)
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    add(11, ms("analysis"))
    add(12, ms("optimization"))
    add(13, ms("planning"))
    // a failed execution may have no physical plan
    try add(8, Tracer.filesReadBytes(qe.executedPlan)) catch { case _: Exception => () }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def counters: Counters = {
    val v = c.map(_.get())
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11), v(12), v(13))
  }

  /** Finished jobs that started at or after `fromMs`, by job id. */
  def jobsSince(fromMs: Long): Seq[JobRecord] =
    done.synchronized { done.filter(_.startMs >= fromMs).sortBy(_.id).toList }

  def forgetJobs(): Unit = done.synchronized { done.clear() }
}

object Tracer {

  /** Sum of the file scans' "size of files read" metric over a physical
    * plan, its adaptive query stages and its subqueries. Task input
    * metrics are no substitute: on a local file system Spark's parquet
    * reader reports only a small part of the bytes it reads. Reused
    * exchanges and cached relations are leaves here, so no scan is
    * counted twice.
    */
  def filesReadBytes(plan: SparkPlan): Long = {
    val here = plan.metrics.get("filesSize").map(_.value).getOrElse(0L)
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case p => p.children ++ p.subqueries
    }
    here + inner.map(filesReadBytes).sum
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def busyMs(jobs: Seq[JobRecord], fromMs: Long, toMs: Long): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    busy + (curE - curS)
  }
}
