package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's work, summed per tag. A job's tag is the micro-batch id for
  * jobs a streaming query runs (`stream/<id>`), otherwise the job group
  * the benchmark set around the call that started it.
  */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val work = mutable.HashMap.empty[String, Work]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageInputs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobs = mutable.ArrayBuffer.empty[Interval]
  private val stages = mutable.ArrayBuffer.empty[Interval]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map("stream/" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))).getOrElse("untagged")

  private def of(tag: String) = work.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    of(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    jobs += Interval(tag, s"job ${e.jobId}", e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.name == s"job ${e.jobId}")
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val tag = stageTag.getOrElse(info.stageId, "untagged")
    val w = of(tag)
    w.stages += 1
    stageInputs.remove(info.stageId).foreach { in =>
      val sorted = in.sorted
      val median = sorted(sorted.size / 2)
      if (sorted.size >= 2 && median > 0) w.skew = math.max(w.skew, sorted.last.toDouble / median)
    }
    for (s <- info.submissionTime; c <- info.completionTime)
      stages += Interval(tag, s"stage ${info.stageId} (${info.numTasks} tasks)", s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageTag.getOrElse(e.stageId, "untagged"))
    w.tasks += 1
    if (!e.taskInfo.successful) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val busy = m.executorRunTime
      w.busyMs += busy
      w.schedulerDelayMs += math.max(0L, e.taskInfo.duration - busy -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      val in = m.inputMetrics.recordsRead
      w.inputRows += in
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.peakTaskMemBytes = math.max(w.peakTaskMemBytes, m.peakExecutionMemory)
      stageInputs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        in + m.shuffleReadMetrics.recordsRead
    }
  }

  /** Removes and returns the work of every tag accepted by `p`. */
  def take(p: String => Boolean): Work = synchronized {
    val keys = work.keys.filter(p).toSeq
    val total = new Work
    keys.foreach(k => total.add(work.remove(k).get))
    total
  }

  /** Removes and returns the job and stage intervals of tags accepted by `p`. */
  def takeIntervals(p: String => Boolean): Seq[Interval] = synchronized {
    val (j, jr) = jobs.partition(i => p(i.tag) && i.endMs >= 0)
    val (s, sr) = stages.partition(i => p(i.tag))
    jobs.clear(); jobs ++= jr
    stages.clear(); stages ++= sr
    (j ++ s).toSeq
  }
}

object ExecListener {
  final case class Interval(tag: String, name: String, startMs: Long, endMs: Long)

  final class Work {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var busyMs = 0L
    var schedulerDelayMs = 0L
    var inputRows = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var peakTaskMemBytes = 0L
    /** Largest max/median task input over the stages. */
    var skew = 1.0

    def add(o: Work): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      busyMs += o.busyMs; schedulerDelayMs += o.schedulerDelayMs; inputRows += o.inputRows
      shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
      spillBytes += o.spillBytes
      peakTaskMemBytes = math.max(peakTaskMemBytes, o.peakTaskMemBytes)
      skew = math.max(skew, o.skew)
    }

    def metrics: Map[String, Double] = Map[String, Long](
      "exec.jobs" -> jobs, "exec.stages" -> stages, "exec.tasks" -> tasks,
      "exec.failed_tasks" -> failedTasks, "exec.task_busy_ms" -> busyMs,
      "exec.scheduler_delay_ms" -> schedulerDelayMs, "exec.input_rows" -> inputRows,
      "exec.shuffle_write_bytes" -> shuffleWriteBytes,
      "exec.shuffle_read_bytes" -> shuffleReadBytes, "exec.spill_bytes" -> spillBytes,
      "exec.peak_task_mem_bytes" -> peakTaskMemBytes)
      .map { case (k, v) => k -> v.toDouble } + ("exec.task_input_skew" -> skew)
  }
}

/** Catalyst phase intervals of every query execution that finishes. */
final class PhaseListener extends QueryExecutionListener {
  /** (phase, start ms, end ms) per finished execution. */
  val done = new ConcurrentLinkedQueue[Seq[(String, Long, Long)]]()

  private def record(qe: QueryExecution): Unit =
    done.add(qe.tracker.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Removes every recorded execution. */
  def drainAll(): Seq[Seq[(String, Long, Long)]] =
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
}

/** Progress of every micro-batch that read input. */
final class StreamListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.add(e.progress)

  def drainAll(): Seq[StreamingQueryProgress] =
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq.sortBy(_.batchId)

  def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
