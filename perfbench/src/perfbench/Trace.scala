package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What one traced window of wall time contained. Times in seconds
  * unless the name says otherwise. `recordsRead` is the tasks' input
  * records; `scanBytes` the size of the files the window's file scans
  * read, from the scans' own SQL metrics (the task input metrics miss
  * the parquet reader's vectored reads). */
final case class Window(
    wallS: Double,
    jobs: Int,
    stages: Int,
    tasks: Int,
    failedTasks: Int,
    taskBusyS: Double,
    jobUnionS: Double,
    shuffleBytes: Long,
    spillBytes: Long,
    recordsRead: Long,
    scanBytes: Long,
    analysisMs: Double,
    optimizationMs: Double,
    planningMs: Double,
    executionSpansS: Seq[Double]) {

  /** Wall time in which no Spark job was running. */
  def driverGapS: Double = math.max(0.0, wallS - jobUnionS)

  /** Every count and time multiplied by `f`, e.g. to average over runs. */
  def times(f: Double): Window = Window(wallS * f, (jobs * f).round.toInt,
    (stages * f).round.toInt, (tasks * f).round.toInt,
    (failedTasks * f).round.toInt, taskBusyS * f, jobUnionS * f,
    (shuffleBytes * f).round, (spillBytes * f).round,
    (recordsRead * f).round, (scanBytes * f).round, analysisMs * f,
    optimizationMs * f, planningMs * f, executionSpansS)

  def +(o: Window): Window = Window(wallS + o.wallS, jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, failedTasks + o.failedTasks,
    taskBusyS + o.taskBusyS, jobUnionS + o.jobUnionS,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead, scanBytes + o.scanBytes,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, executionSpansS ++ o.executionSpansS)
}

object Window {
  val empty: Window =
    Window(0, 0, 0, 0, 0, 0, 0, 0L, 0L, 0L, 0L, 0, 0, 0, Nil)
}

/** Records Spark jobs, stages and tasks (a [[SparkListener]]) and SQL
  * executions with their Catalyst phase times (a
  * [[QueryExecutionListener]]), both registered by the benchmark, and
  * folds them into [[Window]]s of wall time the caller marks with
  * [[span]]. Events are kept in memory and read after the listener
  * bus drains. */
final class Trace(spark: SparkSession) {
  private final case class Job(start: Long, stageIds: Seq[Int],
      var end: Long = -1L)
  private final class StageAcc {
    var tasks = 0; var failed = 0; var busyMs = 0L
    var shuffle = 0L; var spill = 0L; var records = 0L
  }
  private final case class Execution(endMs: Long, durationNs: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      scanBytes: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stagesDone = mutable.Set.empty[Int]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val executions = mutable.ArrayBuffer.empty[Execution]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized { jobs(e.jobId) = Job(e.time, e.stageIds) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { stagesDone += e.stageInfo.stageId }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        Option(e.taskMetrics).foreach { m =>
          a.busyMs += m.executorRunTime
          a.shuffle += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.records += m.inputMetrics.recordsRead
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val end = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.endTimeMs).max
      val scanned = Trace.Plans.collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value)
      }.flatten.sum
      Trace.this.synchronized {
        executions += Execution(end, durationNs, ms("analysis"),
          ms("optimization"), ms("planning"), scanned)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `f` and returns its value with the window it took. */
  def span[T](f: => T): (T, Window) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val v = f
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    PerfbenchBus.drain(spark.sparkContext)
    (v, window(t0, t1, wall))
  }

  private def window(t0: Long, t1: Long, wallS: Double): Window =
    synchronized {
      val inJobs = jobs.filter { case (_, j) => j.start >= t0 && j.start <= t1 }
      val stageIds = inJobs.keySet.flatMap(id => jobs(id).stageIds)
      val accs = stageIds.toSeq.flatMap(stageAcc.get)
      // Union of the job intervals, clipped to the window.
      val intervals = inJobs.values.toSeq
        .map(j => (j.start, if (j.end < 0) t1 else math.min(j.end, t1)))
        .sortBy(_._1)
      var union = 0L; var curS = -1L; var curE = -1L
      intervals.foreach { case (s, e) =>
        if (s > curE) { union += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      union += curE - curS
      val execs = executions.filter(x => x.endMs >= t0 && x.endMs <= t1)
      Window(wallS, inJobs.size, stageIds.count(stagesDone.contains),
        accs.map(_.tasks).sum, accs.map(_.failed).sum,
        accs.map(_.busyMs).sum / 1e3, union / 1e3,
        accs.map(_.shuffle).sum, accs.map(_.spill).sum,
        accs.map(_.records).sum, execs.map(_.scanBytes).sum,
        execs.map(_.analysisMs).sum.toDouble,
        execs.map(_.optimizationMs).sum.toDouble,
        execs.map(_.planningMs).sum.toDouble,
        execs.map(_.durationNs / 1e9).toSeq)
    }
}

object Trace {
  /** Plan traversal that also walks adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper
}
