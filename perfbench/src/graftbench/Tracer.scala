package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters and job intervals read at layer boundaries. All sizes are
  * bytes, times milliseconds unless the name says otherwise. */
final case class Snap(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0, spillBytes: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0,
    inputBytes: Long = 0, inputRows: Long = 0, scanTasks: Long = 0,
    resultBytes: Long = 0, outputBytes: Long = 0,
    analysisMs: Long = 0, optimizerMs: Long = 0, planningMs: Long = 0) {

  def -(o: Snap): Snap = Snap(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
    spillBytes - o.spillBytes, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, inputBytes - o.inputBytes,
    inputRows - o.inputRows, scanTasks - o.scanTasks,
    resultBytes - o.resultBytes, outputBytes - o.outputBytes,
    analysisMs - o.analysisMs, optimizerMs - o.optimizerMs,
    planningMs - o.planningMs)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "spill_bytes" -> spillBytes, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows, "scan_tasks" -> scanTasks,
    "result_bytes" -> resultBytes, "output_bytes" -> outputBytes,
    "analysis_ms" -> analysisMs, "optimizer_ms" -> optimizerMs,
    "planning_ms" -> planningMs)
}

/** The traced run's listener pair: a `SparkListener` for jobs, stages and
  * task metrics, and a `QueryExecutionListener` for the Catalyst phase
  * times each finished query recorded in its `QueryPlanningTracker`. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var s = Snap()
  private val jobStart = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    s = s.copy(jobs = s.jobs + 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    intervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    s = s.copy(stages = s.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      s = s.copy(
        tasks = s.tasks + 1,
        taskRunMs = s.taskRunMs + m.executorRunTime,
        taskCpuNs = s.taskCpuNs + m.executorCpuTime,
        gcMs = s.gcMs + m.jvmGCTime,
        spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = s.shuffleRead + sr.remoteBytesRead + sr.localBytesRead,
        inputBytes = s.inputBytes + in.bytesRead,
        inputRows = s.inputRows + in.recordsRead,
        scanTasks = s.scanTasks + (if (in.bytesRead > 0 || in.recordsRead > 0) 1 else 0),
        resultBytes = s.resultBytes + m.resultSize,
        outputBytes = s.outputBytes + m.outputMetrics.bytesWritten)
    } else s = s.copy(tasks = s.tasks + 1)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    s = s.copy(
      analysisMs = s.analysisMs + ms("analysis"),
      optimizerMs = s.optimizerMs + ms("optimization"),
      planningMs = s.planningMs + ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Waits until every event posted so far is counted, then reads. */
  def snap(): Snap = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    synchronized(s)
  }

  /** Milliseconds of [from, to] during which no Spark job was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    (to - from) - busy
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
