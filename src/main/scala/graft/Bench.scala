package graft

import graft.tools.TaskMetrics

/** The benchmark sweep: every `SparkEntry.queries` entry (or the names
  * given as arguments), one warm run and three timed steady runs each to
  * a noop sink, with the work digest of the first steady run.
  *
  * Usage: `runMain graft.Bench [q_a q_b ...]`. With no arguments the
  * sweep covers the whole registry and writes BENCH_SUMMARY.json and
  * BENCH_FULL.json; a named subset prints the same lines but leaves
  * those files, which describe the full sweep, untouched.
  * Env: `SPARK_GRAFT_SF_DIR` (default: the sf0.1 test data); cores as
  * in [[GraftSession.localCores]].
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val unknown = args.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else args.toSeq.map(n => n -> SparkEntry.queries(n))
    val spark = GraftSession.get("bench")
    // untimed warmup: JVM/codegen/session init and parquet footer reads
    // otherwise land on whichever query happens to run first
    spark.range(1000).selectExpr("sum(id)").collect()
    try SparkEntry.queries("q_scan_project")(spark, sfDir).count()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    val work = new TaskMetrics
    spark.sparkContext.addSparkListener(work)
    val workJson = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val steadyRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    var tasksTotal = 0L
    var shWriteTotal = 0L
    // a failed query is REPORTED and excluded, never silently timed as a
    // near-zero success
    val results = selected.map { case (name, fn) =>
      // noop sink forces FULL query execution — count() would let Catalyst
      // prune the very projections being measured. First run warms
      // (planning, codegen, file index); the steady-state figure is the
      // MEDIAN of three timed runs (r17, measurement fix per guide §1:
      // this host shows transient 5-40x single-query stalls — three
      // rounds of verdicts litigated wall noise — and a single steady
      // pass lands any stall straight in the committed number, e.g.
      // q_dedup_sliced 50.8 s in BENCH_r16 vs 4.9 s in the same night's
      // 8-core run). All three raw passes are kept in BENCH_FULL.json
      // ("steady_runs") so the old single-steady figure (the first
      // element) remains available for cross-round comparison.
      def run(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            None
        }
      }
      val warm = run()
      // work metrics cover the FIRST steady run only (drain the async
      // listener queue on both sides of the window so the warm run's
      // stragglers and the steady run's tail both land correctly).
      // They are deterministic properties of the plan, identical across
      // the three steady passes — one window keeps them comparable with
      // the r12-r16 single-steady work numbers.
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      work.reset()
      val s1 = run()
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      if (s1.isDefined) {
        workJson(name) = work.snapshotJson()
        tasksTotal += work.tasksNow()
        shWriteTotal += work.shWriteNow()
      }
      System.err.println(f"[bench] $name%-28s warm=${warm.getOrElse(-1.0)}%8.3f " +
        f"steady=${s1.getOrElse(-1.0)}%8.3f jobs=${work.jobsNow()}%3d " +
        f"stages=${work.stagesNow()}%3d work=${work.snapshotJson()}")
      val passes = (Seq(s1) ++ (if (s1.isDefined) Seq(run(), run()) else Nil)).flatten
      // median of 3; if a later pass fails (first succeeded), fall back
      // to the first pass rather than dropping a query that does run —
      // and record it in partial_steady, so a single-sample figure is
      // told apart from a median
      val steady =
        if (passes.size == 3) Some(passes.sorted.apply(1))
        else passes.headOption
      if (passes.nonEmpty) steadyRuns(name) = passes
      // release operator-internal caches BETWEEN queries (not between a
      // query's warm and timed runs — those share cache entries by
      // canonicalized plan): a sweep otherwise accumulates every
      // operator's tracked persists (band tables, candidate pairs) and
      // later queries run against a shrunken storage/execution pool
      graft.operators.Caches.unpersistAll()
      name -> steady
    }
    val failed = results.collect { case (n, None) => n }
    val partial = steadyRuns.collect { case (n, ps) if ps.size < 3 => n }.toSeq
    // The driver captures only the LAST 2000 chars of output. BENCH_r09's
    // tail ended MID-WAY through the old ~6KB full-map line, so nothing
    // parsed. Fix: the full map goes to a FILE (BENCH_FULL.json), the
    // compact summary goes to a FILE (BENCH_SUMMARY.json), and stdout
    // ends with the ~400-char compact line repeated 4× — any 2000-char
    // tail window then contains at least one complete JSON object even
    // if a build-tool footer follows or the last copy is truncated.
    val timed = results.collect { case (k, Some(v)) => (k, math.round(v * 1000) / 1000.0) }
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(timed.sortBy { case (k, v) => (v, k) })
    val top10 = jmap(timed.sortBy { case (k, v) => (-v, k) }.take(10))
    val total = math.round(results.flatMap(_._2).sum * 1000) / 1000.0
    def jlist(names: Seq[String]): String = names.map("\"" + _ + "\"").mkString("[", ",", "]")
    val steadyNote =
      if (partial.isEmpty) "median of 3 steady runs"
      else "steady figure is the first run for partial_steady, else the median of three"
    // r17: the compact line carries the DETERMINISTIC work digest
    // (total steady-run tasks + shuffle write bytes — properties of the
    // plan, immune to host stalls) so the driver's 2000-char stdout tail
    // has a noise-free round-over-round signal even when wall is stalled.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","ok":${results.count(_._2.isDefined)},"failed":${jlist(failed)},"partial_steady":${jlist(partial)},"sf":"$sfDir","tasks_total":$tasksTotal,"shuffle_write_bytes":$shWriteTotal,"queries":$top10,"note":"top10 heaviest; $steadyNote; full map in BENCH_FULL.json"}"""
    val workMap = workJson.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val runsMap = steadyRuns.map { case (k, vs) =>
      s"\"$k\":" + vs.map(v => math.round(v * 1000) / 1000.0).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries_full":$qs,"steady_runs":$runsMap,"partial_steady":${jlist(partial)},"work":$workMap}"""
    def writeFile(path: String, body: String): Unit =
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(body) finally w.close()
      } catch { case e: Throwable => System.err.println(s"[bench] write $path failed: $e") }
    if (args.isEmpty) {
      writeFile("BENCH_SUMMARY.json", compact)
      writeFile("BENCH_FULL.json", full)
    }
    // Stop Spark BEFORE the summary lines and drop to ERROR so neither
    // stop() nor the exit-time shutdown hooks can log after them — if
    // the driver merges stderr into stdout, a stray "Shutdown hook
    // called" INFO line after the JSON would null the last-line parse.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(compact)
    println(compact)
    println(compact)
    println(compact)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
