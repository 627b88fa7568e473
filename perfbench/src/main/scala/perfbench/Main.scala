package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; see perfbench/README.md.
  *
  * Usage: `Main <work dir> <benchmark dir> <workload> <seed> <seconds> <trace 0|1>`.
  *
  * A run sets up [[SetUps]] times (session, table registration, the
  * workload's own state) and reports the median as `setup_s`. It then
  * runs the untimed warm-up round, which runs every distinct operation
  * cold once and checks every output, and then the timed rounds
  * `seconds` buys (at least the workload's minimum). A traced run
  * pairs each traced round with an untraced one, the baseline for the
  * tracing overhead, and ends with the workload's probe and the per-row
  * kernel probe.
  */
object Main {
  val SetUps = 3
  /** The end-to-end metrics BENCHMARK.json bounds; the report line has
    * them all. */
  val Bounded = Set("setup_s", "cpu_ms_per_op")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Harrell–Davis estimate of the `p`th percentile: a weighted mean of
    * all order statistics, weighted by a Beta((n+1)p, (n+1)(1-p))
    * density. A round mixes operations of different cost, so the sorted
    * latencies have gaps; the plain percentile jumps across a gap when
    * noise swaps two neighbours, this estimate moves smoothly.
    */
  def harrellDavis(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      (n + 1) * p / 100.0, (n + 1) * (1 - p / 100.0))
    s.indices.map { i =>
      (beta.cumulativeProbability((i + 1).toDouble / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)
    }.sum
  }

  /** The fastest round's time, for the wall-time throughputs. Rounds
    * still get faster while the JIT compiles, and other work on the host
    * only ever adds time: the fastest round moves least, where the median
    * sits on the slope. Wall time still follows the host too far for a
    * bound; the bounded figure is CPU time (see `steady`).
    */
  private def fastestS(rounds: Seq[Round]): Double = rounds.map(_.ms).min / 1000.0

  /** A round with the CPU time the process spent on it, less the JIT's. */
  private def withCpu(round: => Round): Round = {
    val c0 = Cpu.workNs()
    val r = round
    r.copy(cpuMs = (Cpu.workNs() - c0) / 1e6)
  }

  /** Figures of timed rounds: the CPU time per operation over all of
    * them (the bounded figure: other work on the host adds wall time, not
    * CPU time), a round's operations over the fastest round's time, and each
    * latency percentile with at least ten samples beyond it (p50 from 20
    * samples, p75 from 40, p90 from 100).
    */
  private def steady(rounds: Seq[Round]): Map[String, Double] = {
    val ms = rounds.flatMap(_.samples).filter(_.ok).map(_.ms)
    Map("cpu_ms_per_op" -> rounds.map(_.cpuMs).sum / rounds.map(_.samples.size).sum,
      "ops_per_s" -> rounds.head.samples.size / fastestS(rounds)) ++
      Seq(50 -> 20, 75 -> 40, 90 -> 100).collect {
        case (p, n) if ms.size >= n => s"latency_p${p}_ms" -> harrellDavis(ms, p)
      }
  }

  def main(args: Array[String]): Unit = {
    val Array(work, benchDir, workload, seedArg, secondsArg, traceArg) = args
    val (seed, seconds, traced) = (seedArg.toInt, secondsArg.toInt, traceArg == "1")
    val env = Env(work, Runtime.getRuntime.availableProcessors())
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = Workload(workload, benchDir, seed)

    var spark: SparkSession = null
    val setupS = ArrayBuffer.empty[Double]
    val registerMs = ArrayBuffer.empty[Double]
    val firstSetUp = System.currentTimeMillis()
    (1 to SetUps).foreach { _ =>
      if (spark != null) {
        graft.operators.Caches.unpersistAll()
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = env.session()
      val r0 = System.nanoTime()
      graft.sources.Tables.registerAll(spark, env.dataDir(wl.sf))
      registerMs += Workload.ms(r0, System.nanoTime())
      wl.prepare(spark, env)
      setupS += Workload.ms(t0, System.nanoTime()) / 1000.0
    }

    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.1f s  $what")
    log(s"set-ups done: ${setupS.map(s => f"$s%.2f").mkString(" ")} s")

    val rng = new Random(seed)
    val w0 = System.nanoTime()
    val warm = wl.round(spark, env, rng, None, warmUp = true)
    val warmS = Workload.ms(w0, System.nanoTime()) / 1000.0
    log("warm-up done")

    // A traced run makes an even number of pairs (one, if a round is all
    // the run affords) of an untraced and a traced round, ordered
    // untraced-traced, traced-untraced, ...: rounds keep getting faster
    // while the JIT compiles, and this way neither kind runs later in the
    // run on average, so the tracing overhead is measured against rounds
    // equally far into it.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val baseline = ArrayBuffer.empty[Round]
    val rounds = ArrayBuffer.empty[Round]
    val n = wl.rounds(seconds)
    val timedRounds = if (traced && n > 1) 2 * (n / 2) else n
    while (rounds.size < timedRounds) {
      val untracedFirst = rounds.size % 2 == 0
      def baselineRound(): Unit = baseline += withCpu(wl.round(spark, env, rng, None, warmUp = false))
      if (traced && untracedFirst) baselineRound()
      tracer.foreach(_.attach())
      rounds += withCpu(wl.round(spark, env, rng, tracer, warmUp = false))
      tracer.foreach(_.detach())
      if (traced && !untracedFirst) baselineRound()
      log(f"round ${rounds.size}: ${rounds.last.ms / 1000}%.2f s, CPU ${rounds.last.cpuMs / 1000}%.2f s")
    }
    val (probed, probeOps, probeFailures) = tracer.fold((Map.empty[String, Double], 0, Seq.empty[String])) {
      tr =>
        tr.attach()
        try wl.probe(spark, env, tr) finally tr.detach()
    }
    if (traced) log("workload probe done")

    val samples = rounds.flatMap(_.samples).toSeq
    val checkFailures = wl.finish(spark) ++ probeFailures
    val all = warm.samples ++ baseline.toSeq.flatMap(_.samples) ++ samples
    val attempted = all.size + probeOps
    val failed = all.count(!_.ok) + checkFailures.size
    checkFailures.foreach(f => System.err.println(s"[perfbench] $f"))

    // End-to-end figures are measured with tracing off: in a traced run,
    // from the untraced rounds.
    val untraced = if (traced) baseline.toSeq else rounds.toSeq
    val figures = steady(untraced)
    val lat = figures.filter(_._1.startsWith("latency_"))
    val e2e: Map[String, (Double, String)] = figures.map { case (k, v) =>
      k -> (v, if (k == "ops_per_s") "1/s" else "ms")
    } ++ Map(
      "setup_s" -> (median(setupS.toSeq), "s"),
      "error_rate" -> (failed.toDouble / attempted, "ratio"), "peak_rss_mb" -> (peakRssMb(), "MB")) ++
      wl.docsPerRound.map(d => "docs_per_s" -> (d / fastestS(untraced), "1/s"))

    val perLayer = tracer.map { tr =>
      def okMs(rs: Seq[Round]) = rs.flatMap(_.samples).filter(_.ok).map(_.ms)
      val m = Layers.summarize(samples, env.cores) ++ probed ++
        KernelProbe.run(spark, env, wl.sf) ++ Map(
          "sources.register_ms" -> median(registerMs.toSeq),
          "trace.overhead_latency_p50_ms" -> (median(okMs(rounds.toSeq)) - median(okMs(baseline.toSeq))),
          "trace.overhead_cpu_ms_per_op" -> (steady(rounds.toSeq)("cpu_ms_per_op") - figures("cpu_ms_per_op")),
          "trace.overhead_ops_per_s" -> (steady(rounds.toSeq)("ops_per_s") - figures("ops_per_s")))
      log("kernel probe done")
      val repeat = Layers.repeatability(samples)
      tr.write(s"$work/traces/$workload-seed$seed.json",
        Map("workload" -> workload, "seed" -> seed, "per_layer" -> m, "repeatability" -> repeat))
      println("perfbench-repeatability " + Json.write(repeat))
      m
    }

    def valued(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val untracedSamples = untraced.flatMap(_.samples)
    println("perfbench-report " + Json.write(Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "metrics" -> valued(e2e),
      "latency_samples" -> untracedSamples.size, "setup_runs_s" -> setupS.toSeq,
      "jvm_to_first_setup_s" -> (firstSetUp - jvmStartMs) / 1000.0, "warm_up_s" -> warmS,
      "operations_per_round" -> rounds.head.samples.size, "timed_rounds" -> untraced.size,
      "timed_s" -> untraced.map(_.ms).sum / 1000.0, "timed_cpu_s" -> untraced.map(_.cpuMs).sum / 1000.0) ++
      // too few samples for any percentile: show them all
      (if (lat.isEmpty) Map("latencies_ms" -> untracedSamples.map(_.ms)) else Map.empty)))

    graft.operators.Caches.unpersistAll()
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // the result line holds the metrics BENCHMARK.json names
    val metrics = perLayer match {
      case Some(m) => valued(m.map { case (k, v) => k -> (v, Layers.unit(k)) })
      case None => valued(e2e.filter { case (k, _) => Bounded(k) })
    }
    println(Json.write(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    System.out.flush()
  }
}
