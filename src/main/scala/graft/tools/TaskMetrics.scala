package graft.tools

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The one task-metrics listener of the bench mains (`graft.Bench`,
  * `BenchSf10`). Between two [[reset]]s it counts:
  *
  *   - the WORK digest `graft.Bench` records per query: input rows/bytes,
  *     shuffle read/write bytes, task count, jobs started, peak task
  *     execution memory.
  *     Wall time on a shared VM varies up to 2x run-to-run with zero code
  *     change; these numbers are properties of the PLAN, not the host — a
  *     query whose shuffle bytes or task count grows changed its plan (the
  *     q_funnel CTE-inlining incident, SURVEY §4, is the class of
  *     regression this catches). tools/bench_compare.py gates on them and
  *     treats wall time as advisory;
  *   - stages completed;
  *   - per-stage task input (scan + shuffle read bytes) and failed tasks,
  *     for the scale runs' "no task 10× the median" skew check.
  *
  * Events arrive on Spark's async listener bus: drain it
  * (`org.apache.spark.GraftListenerDrain`) before reading a window.
  */
final class TaskMetrics extends SparkListener {
  private var inRows = 0L
  private var inBytes = 0L
  private var shRead = 0L
  private var shWrite = 0L
  private var tasks = 0L
  private var peakMem = 0L
  private var failed = 0L
  private var jobs = 0L
  private var stages = 0L
  private val inputByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failed += 1
    val m = e.taskMetrics
    if (m != null) {
      val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      tasks += 1
      inRows += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
      shRead += read
      shWrite += m.shuffleWriteMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      inputByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        m.inputMetrics.bytesRead + read
    }
  }

  def reset(): Unit = synchronized {
    inRows = 0; inBytes = 0; shRead = 0; shWrite = 0; tasks = 0; peakMem = 0
    failed = 0; jobs = 0; stages = 0
    inputByStage.clear()
  }

  /** The work digest as one compact JSON object (stable key order). */
  def snapshotJson(): String = synchronized {
    s"""{"in_rows":$inRows,"in_bytes":$inBytes,"sh_read":$shRead,""" +
      s""""sh_write":$shWrite,"tasks":$tasks,"jobs":$jobs,"peak_mem":$peakMem}"""
  }
  def tasksNow(): Long = synchronized { tasks }
  def shWriteNow(): Long = synchronized { shWrite }
  def peakExecMem(): Long = synchronized { peakMem }
  def failedTasks(): Long = synchronized { failed }
  def jobsNow(): Long = synchronized { jobs }
  def stagesNow(): Long = synchronized { stages }

  /** (max task input bytes, worst max/median task input over stages of at
    * least 4 tasks with a median above 1 MB, stages with task metrics,
    * tasks with metrics).
    */
  def skewSummary(): (Long, Double, Int, Long) = synchronized {
    val maxIn = inputByStage.values.flatten.foldLeft(0L)(math.max)
    var worst = 0.0
    for (ins <- inputByStage.values if ins.length >= 4) {
      val s = ins.sorted
      val med = s(s.length / 2)
      if (med > (1L << 20)) worst = math.max(worst, s.last.toDouble / med)
    }
    (maxIn, math.round(worst * 100) / 100.0, inputByStage.size, tasks)
  }
}
