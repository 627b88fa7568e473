package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Span recorder of a traced run. Each operation gets one span; its
  * children are the benchmark's calls into each layer, the Catalyst
  * phases of the executions it finished, and the Spark jobs and stages
  * tagged with its job group. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  val exec = new ExecListener
  val phases = new PhaseListener
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var seq = 0
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(phases)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(phases)
  }

  /** A fresh job group for the next operation. */
  def nextTag(): String = { seq += 1; s"op$seq" }

  private def relNs(ns: Long): Double = (ns - baseNs) / 1e6
  private def relMs(ms: Long): Double = (ms - baseMs).toDouble
  private def wallMs(ns: Long): Long = baseMs + (ns - baseNs) / 1000000L

  private def span(id: String, parent: String, name: String, layer: String,
                   start: Double, end: Double): Unit =
    spans += Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
      "start_ms" -> start, "dur_ms" -> (end - start))

  /** Closes an operation: drains the listener bus, records the spans of
    * operation `tag` (which ran from `t0` to `t1`, with `children` as its
    * layer calls) and returns the Catalyst phases of the executions that
    * finished after `from`, and the Spark work tagged `tag`.
    */
  def collect(tag: String, t0: Long, t1: Long, children: Seq[(String, (Long, Long))],
              from: Long = -1L): (Seq[Seq[(String, Long, Long)]], Map[String, Double]) = {
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
    val fromMs = if (from < 0) wallMs(t0) else wallMs(from)
    val done = phases.drainAll().filter(p => p.nonEmpty && p.map(_._3).max >= fromMs)
    val intervals = exec.takeIntervals(t => t == tag || t.startsWith(tag + "/"))
    span(tag, "", tag, "op", relNs(t0), relNs(t1))
    children.foreach { case (layer, (a, b)) => span(s"$tag/$layer", tag, layer, layer, relNs(a), relNs(b)) }
    done.flatten.foreach { case (p, a, b) => span(s"$tag/catalyst.$p", tag, p, "catalyst", relMs(a), relMs(b)) }
    intervals.foreach { i =>
      span(s"$tag/${i.name}", s"$tag/${if (i.tag == tag) "exec" else "operators"}", i.name, "spark",
        relMs(i.startMs), relMs(i.endMs))
    }
    val jobs = intervals.filter(i => i.tag == tag && i.name.startsWith("job"))
    (done, exec.take(_ == tag).metrics + ("exec.job_ms" -> Tracer.unionMs(jobs)))
  }

  /** Records one stream round: a span per micro-batch with its
    * `durationMs` parts, plus the Spark jobs and stages of the round. */
  def recordStream(batches: Seq[(Long, Long, Map[String, Long])], t0: Long, t1: Long,
                   intervals: Seq[ExecListener.Interval]): Unit = {
    seq += 1
    val round = s"round$seq"
    span(round, "", round, "op", relNs(t0), relNs(t1))
    batches.foreach { case (id, startMs, d) =>
      val b = s"$round/batch$id"
      val s0 = relMs(startMs)
      span(b, round, s"micro-batch $id", "streaming", s0, s0 + d.getOrElse("triggerExecution", 0L))
      // durationMs gives each part's length, not its start
      d.foreach { case (k, v) => if (k != "triggerExecution") span(s"$b/$k", b, k, "streaming", s0, s0 + v) }
    }
    intervals.foreach(i => span(s"$round/${i.name}", s"$round/${i.tag.replace("stream/", "batch")}",
      i.name, "spark", relMs(i.startMs), relMs(i.endMs)))
  }

  def write(path: String, summary: Map[String, Any]): Unit =
    Json.writeFile(path, Map("summary" -> summary, "spans" -> spans.toSeq))
}

object Tracer {
  /** Time covered by at least one of the intervals. */
  def unionMs(is: Seq[ExecListener.Interval]): Double = {
    var covered = 0L
    var end = Long.MinValue
    is.sortBy(_.startMs).foreach { i =>
      if (i.endMs > end) {
        covered += i.endMs - math.max(i.startMs, end)
        end = i.endMs
      }
    }
    covered.toDouble
  }

  /** Runs `body` under job group `tag`, when there is one. */
  def grouped[A](spark: SparkSession, tag: Option[String])(body: => A): A = tag match {
    case None => body
    case Some(t) =>
      spark.sparkContext.setJobGroup(t, t)
      try body finally spark.sparkContext.clearJobGroup()
  }
}
