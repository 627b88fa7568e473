package perfbench

/** The per-layer metrics of a traced run. Times and counts are means per
  * timed operation (per query, or per micro-batch); the peak and skew
  * figures are maxima over the run. A layer a workload does not use
  * reports 0.
  */
object Layers {
  val Kernels = Seq("gopher_counts", "repetition_counts", "oov_count", "hash60", "rolling_hash", "dot")

  /** Every per-layer metric, with its unit. */
  val Names: Seq[(String, String)] = Seq(
    "plans.sql_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count") ++
    Kernels.map(k => s"functions.ns_per_row.$k" -> "ns") ++ Seq(
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_ms" -> "ms", "exec.scheduler_delay_ms" -> "ms", "exec.core_busy_ratio" -> "ratio",
    "exec.input_rows" -> "count", "exec.rows_read_per_row_out" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.peak_task_mem_bytes" -> "bytes",
    "exec.task_input_skew" -> "ratio", "exec.failed_tasks" -> "count",
    "sources.register_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.batch_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.kept_ratio" -> "ratio",
    "streaming.state_bytes" -> "bytes", "streaming.bytes_written_per_doc" -> "bytes",
    "self.plans_ms" -> "ms", "self.catalyst_ms" -> "ms", "self.operators_ms" -> "ms",
    "self.exec_ms" -> "ms", "self.streaming_ms" -> "ms", "self.unattributed_ms" -> "ms",
    "trace.overhead_latency_p50_ms" -> "ms", "trace.overhead_cpu_ms_per_op" -> "ms",
    "trace.overhead_ops_per_s" -> "1/s")

  private val units = Names.toMap
  def unit(name: String): String = units(name)

  private val maxima = Set("exec.peak_task_mem_bytes", "exec.task_input_skew")

  /** Counts that should repeat exactly when the same operation runs
    * again on the same data; [[repeatability]] checks them. */
  val Counts = Seq("operators.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.input_rows", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.failed_tasks", "streaming.batches", "streaming.kept_ratio", "streaming.state_bytes",
    "streaming.bytes_written_per_doc")

  /** Ratios over the whole run: ratio of the summed parts. */
  private val ratios = Set("exec.core_busy_ratio", "exec.rows_read_per_row_out")

  /** Means (or maxima, or run-wide ratios) over the traced samples of
    * every metric that is measured per operation. */
  def summarize(samples: Seq[Sample], cores: Int): Map[String, Double] = {
    val rows = samples.filter(_.layers.nonEmpty).map { s =>
      val self = s.layers.collect { case (k, v) if k.startsWith("self.") => v }.sum
      s.layers + ("self.unattributed_ms" -> math.max(0.0, s.ms - self))
    }
    def total(n: String) = rows.map(_.getOrElse(n, 0.0)).sum
    Names.map(_._1).filterNot(n => n.startsWith("functions.") || n.startsWith("trace.") ||
      n == "sources.register_ms" || ratios(n)).map { n =>
      val vs = rows.map(_.getOrElse(n, 0.0))
      n -> (if (vs.isEmpty) 0.0 else if (maxima(n)) vs.max else vs.sum / vs.size)
    }.toMap ++ Map(
      "exec.core_busy_ratio" -> total("exec.task_busy_ms") / math.max(1e-9, total("exec.ms") * cores),
      "exec.rows_read_per_row_out" -> total("exec.input_rows") / math.max(1.0, total("exec.rows_out")))
  }

  /** For each count, whether every operation that ran more than once
    * gave the same value each time, or the widest range it gave. */
  def repeatability(samples: Seq[Sample]): Map[String, String] = {
    val byOp = samples.filter(_.layers.nonEmpty).groupBy(_.op).values.filter(_.size > 1)
    Counts.map { c =>
      val ranges = byOp.map(ss => ss.map(_.layers.getOrElse(c, 0.0))).map(v => (v.min, v.max))
      val wide = ranges.filter { case (a, b) => a != b }
      c -> (if (!samples.exists(_.layers.contains(c))) "not measured by this workload"
        else if (byOp.isEmpty) "not checked: no operation ran twice"
        else if (wide.isEmpty) "exact"
        else {
          val (a, b) = wide.maxBy { case (a, b) => (b - a) / math.max(1.0, math.abs(a)) }
          s"varies: $a..$b within one operation"
        })
    }.toMap
  }
}
