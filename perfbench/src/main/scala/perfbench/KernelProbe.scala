package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-row cost of the engine's native kernels, measured on the
  * workload's own `documents` and `embeddings` columns. Each column is
  * repeated to a fixed row count and cached: [[TokenRows]] rows for the
  * kernels that take a token array (microseconds per row), [[CheapRows]]
  * for the rest (tens of nanoseconds). A kernel's cost is the fastest of
  * [[Repeats]] projections of it to a `noop` sink, minus the fastest of
  * the same projection without the kernel (the tokenization a token
  * kernel consumes stays in the baseline), divided by the row count.
  */
object KernelProbe {
  val TokenRows = 50000L
  val CheapRows = 400000L
  private val Repeats = 3

  private val tokens = "split(lower(trim(text)), '\\\\s+')"
  private val vocab = Seq("a", "batch", "cache", "column", "data", "disk", "fast", "filter",
    "group", "hash", "join", "key", "plan", "query", "row", "scan").sorted
    .map(w => s"'$w'").mkString("array(", ",", ")")

  /** (kernel, input column, rows, kernel projection, baseline projection) */
  private val probes: Seq[(String, String, Long, String, String)] = Seq(
    ("gopher_counts", "text", TokenRows, s"graft_gopher_counts($tokens)", s"size($tokens)"),
    ("repetition_counts", "text", TokenRows, s"graft_repetition_counts($tokens)", s"size($tokens)"),
    ("oov_count", "text", TokenRows, s"graft_oov_count($tokens, $vocab)", s"size($tokens) + size($vocab)"),
    ("hash60", "text", CheapRows, "graft_hash60(text)", "octet_length(text)"),
    ("rolling_hash", "text", CheapRows, "graft_rolling_hash(text)", "octet_length(text)"),
    ("dot", "embedding", CheapRows, "graft_dot(embedding, embedding)", "size(embedding)"))

  private def repeated(spark: SparkSession, df: DataFrame, rows: Long, cores: Int): DataFrame = {
    val n = math.max(1L, df.count())
    val reps = math.max(1L, (rows + n - 1) / n)
    val out = df.crossJoin(spark.range(reps).toDF("_r")).drop("_r").limit(rows.toInt)
      .repartition(cores).cache()
    out.count()
    out
  }

  private def fastestMs(df: DataFrame): Double = {
    df.write.format("noop").mode("overwrite").save()
    (1 to Repeats).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  def run(spark: SparkSession, env: Env, sf: String): Map[String, Double] = {
    val dir = env.dataDir(sf)
    val source = Map(
      "text" -> graft.sources.Tables(spark, dir, "documents").select("text"),
      "embedding" -> graft.sources.Tables(spark, dir, "embeddings").select("embedding"))
    probes.groupBy(p => (p._2, p._3)).toSeq.flatMap { case ((col, rows), ps) =>
      val df = repeated(spark, source(col), rows, env.cores)
      // kernels that share a baseline projection share its timing
      val baseMs = scala.collection.mutable.Map.empty[String, Double]
      try ps.map { case (k, _, _, kernel, base) =>
        s"functions.ns_per_row.$k" -> (fastestMs(df.selectExpr(kernel)) -
          baseMs.getOrElseUpdate(base, fastestMs(df.selectExpr(base)))) * 1e6 / rows
      } finally df.unpersist()
    }.toMap
  }
}
