package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: a query, or one micro-batch of the stream. */
final case class Sample(op: String, ms: Double, ok: Boolean, layers: Map[String, Double])

/** One round's samples, its timed wall time and the CPU time the
  * process spent on it, JIT compilation left out ([[Cpu.workNs]]). */
final case class Round(samples: Seq[Sample], ms: Double, cpuMs: Double = 0.0)

/** A workload is a fixed set of operations. Every round runs all of
  * them once, in an order drawn from the seed, one at a time: each
  * operation starts when the previous one returns.
  */
trait Workload {
  def name: String
  /** Tables this workload registers and reads. */
  def sf: String
  /** Per-set-up state, built after the tables are registered. */
  def prepare(spark: SparkSession, env: Env): Unit = ()
  /** Runs one round. The warm-up round runs each distinct operation
    * once and checks every output against the frozen reference. */
  def round(spark: SparkSession, env: Env, rng: Random, tracer: Option[Tracer],
            warmUp: Boolean): Round
  /** Documents per round of a workload that streams them, for `docs_per_s`. */
  def docsPerRound: Option[Int] = None
  /** Checks that must hold after all rounds; returns the failures. */
  def finish(spark: SparkSession): Seq[String] = Nil
  /** About how long one timed round takes on 4 cores. */
  def nominalRoundS: Double
  /** Fewest timed rounds a run makes, whatever `--seconds` says. The
    * operations keep getting faster through the first timed rounds, while
    * the JIT compiles them; `ops_per_s` takes the fastest round. */
  def minRounds: Int = 3
  /** Timed rounds of a run of `seconds`. The count depends on the budget
    * only, not on how fast this host is, so every run does the same work. */
  def rounds(seconds: Int): Int = math.max(minRounds, math.round(seconds / nominalRoundS).toInt)
  /** Per-layer figures a traced run measures after its timed rounds:
    * the figures, the operations attempted and the failed checks. */
  def probe(spark: SparkSession, env: Env, tracer: Tracer): (Map[String, Double], Int, Seq[String]) =
    (Map.empty, 0, Nil)
}

object Workload {
  def apply(name: String, benchDir: String, seed: Int): Workload = name match {
    case "sql_interactive" => new SqlInteractive(s"$benchDir/frozen")
    case "batch_sf01" => new BatchSf01(s"$benchDir/frozen", seed)
    case "stream_ingest" => new StreamIngest(seed, Env.Large, files = 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** The operations of one round of `workload`, from frozen/rounds.json. */
  private[perfbench] def frozenRound(frozenDir: String, workload: String): Seq[Any] =
    Json.readFile(s"$frozenDir/rounds.json")(workload).asInstanceOf[Seq[Any]]

  /** A closed loop's time is the sum of its operations' latencies. */
  private[perfbench] def closedLoop(samples: Seq[Sample]): Round = Round(samples, samples.map(_.ms).sum)

  /** Execution's self time: the time its Spark jobs ran, within the
    * action's time less Catalyst's. The rest of the action is driver work
    * no layer claims, and lands in `self.unattributed_ms`. */
  private[perfbench] def execSelf(work: Map[String, Double], actionMs: Double,
                                  catalystMs: Double): Double =
    math.min(work("exec.job_ms"), math.max(0.0, actionMs - catalystMs))

  /** Catalyst phase time of the executions recorded by a PhaseListener. */
  private[perfbench] def phaseMs(events: Seq[Seq[(String, Long, Long)]]): Map[String, Double] = {
    val by = events.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(p => (p._3 - p._2).toDouble).sum }
    Map("catalyst.analysis_ms" -> by.getOrElse("analysis", 0.0),
      "catalyst.optimization_ms" -> by.getOrElse("optimization", 0.0),
      "catalyst.planning_ms" -> by.getOrElse("planning", 0.0))
  }
}

/** SQL text in, collected rows out, on the sf0.01 tables. The texts are
  * the frozen set of registry oracle texts that `GraftSql.sql` accepts
  * (frozen/sql_texts.json). A round runs each text frozen in
  * frozen/rounds.json once, in an order drawn from the seed. Each
  * submission is typed afresh: its text starts with a run of blanks no
  * other submission of the run has, so `GraftSql`'s rewrite memo, keyed
  * on the text, never answers it and every timed call runs the rewrite
  * passes. Every result is checked.
  */
final class SqlInteractive(frozenDir: String) extends Workload {
  val name = "sql_interactive"
  val sf: String = Env.Small
  val nominalRoundS = 4.0
  // A round is short, and whole runs went by on a busy host where a
  // round in four was a clean one: six give the fastest round more
  // chances, and 48 samples.
  override val minRounds = 6

  private val texts: Map[String, (String, String)] =
    Json.readList(s"$frozenDir/sql_texts.json")
      .map(m => m("name").toString -> (m("sql").toString, m("digest").toString)).toMap

  private val names: IndexedSeq[String] =
    Workload.frozenRound(frozenDir, name).map(_.toString).toIndexedSeq
  private var submitted = 0

  def round(spark: SparkSession, env: Env, rng: Random, tracer: Option[Tracer],
            warmUp: Boolean): Round = Workload.closedLoop(
    rng.shuffle(names).map { qname =>
      val (typed, want) = texts(qname)
      submitted += 1
      val text = " " * submitted + typed
      val tag = tracer.map(_.nextTag())
      val t0 = System.nanoTime()
      try {
        val df = Tracer.grouped(spark, tag)(graft.plans.GraftSql.sql(spark, text))
        val t1 = System.nanoTime()
        val rows = Tracer.grouped(spark, tag)(df.collect())
        val t2 = System.nanoTime()
        val ok = Digest.of(rows) == want
        val layers = tracer.fold(Map.empty[String, Double]) { tr =>
          val (phases, work) = tr.collect(tag.get, t0, t2, Seq("plans" -> (t0, t1), "exec" -> (t1, t2)))
          val p = Workload.phaseMs(phases)
          p ++ work ++ Map(
            "plans.sql_ms" -> Workload.ms(t0, t1), "exec.ms" -> Workload.ms(t1, t2),
            "exec.rows_out" -> rows.length.toDouble,
            "self.plans_ms" -> math.max(0.0, Workload.ms(t0, t1) - p("catalyst.analysis_ms")),
            "self.catalyst_ms" -> p.values.sum,
            "self.exec_ms" -> Workload.execSelf(work, Workload.ms(t1, t2),
              p("catalyst.optimization_ms") + p("catalyst.planning_ms")))
        }
        Sample(qname, Workload.ms(t0, t2), ok, layers)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $qname failed: ${Freeze.errorClass(e)}")
          Sample(qname, Workload.ms(t0, System.nanoTime()), ok = false, Map.empty)
      }
    })
}

/** Corpus and analytics operators at sf0.1, each built through its
  * `SparkEntry.queries` function and run to a `noop` sink. The set is
  * frozen in frozen/rounds.json. Outputs are checked in the untimed
  * warm-up round, which collects each result instead of writing it.
  */
final class BatchSf01(frozenDir: String, seed: Int) extends Workload {
  val name = "batch_sf01"
  val sf: String = Env.Large
  val nominalRoundS = 7.0

  private val ops: IndexedSeq[(String, String)] = {
    val digests = Json.readList(s"$frozenDir/batch_ops.json")
      .map(m => m("name").toString -> m("digest").toString).toMap
    Workload.frozenRound(frozenDir, name).map(n => n.toString -> digests(n.toString)).toIndexedSeq
  }

  def round(spark: SparkSession, env: Env, rng: Random, tracer: Option[Tracer],
            warmUp: Boolean): Round = {
    val dir = env.dataDir(sf)
    Workload.closedLoop(rng.shuffle(ops).map { case (qname, want) =>
      val tag = tracer.map(_.nextTag())
      val t0 = System.nanoTime()
      val sample = try {
        val df = Tracer.grouped(spark, tag.map(_ + "/build"))(graft.SparkEntry.queries(qname)(spark, dir))
        val t1 = System.nanoTime()
        // a checked run collects the rows instead of writing them to `noop`
        val ok = Tracer.grouped(spark, tag) {
          if (warmUp) Digest.of(df.collect()) == want
          else { df.write.format("noop").mode("overwrite").save(); true }
        }
        val t2 = System.nanoTime()
        val layers = tracer.fold(Map.empty[String, Double]) { tr =>
          val (phases, work) = tr.collect(tag.get, t0, t2,
            Seq("operators" -> (t0, t1), "exec" -> (t1, t2)), from = t1)
          val buildJobs = tr.exec.take(_ == tag.get + "/build").jobs
          val p = Workload.phaseMs(phases)
          p ++ work ++ Map(
            "operators.build_ms" -> Workload.ms(t0, t1), "operators.build_jobs" -> buildJobs.toDouble,
            "exec.ms" -> Workload.ms(t1, t2), "exec.rows_out" -> want.takeWhile(_ != ':').toDouble,
            "self.operators_ms" -> Workload.ms(t0, t1), "self.catalyst_ms" -> p.values.sum,
            "self.exec_ms" -> Workload.execSelf(work, Workload.ms(t1, t2), p.values.sum))
        }
        Sample(qname, Workload.ms(t0, t2), ok, layers)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $qname failed: ${Freeze.errorClass(e)}")
          Sample(qname, Workload.ms(t0, System.nanoTime()), ok = false, Map.empty)
      }
      graft.operators.Caches.unpersistAll()
      sample
    })
  }

  /** The streaming layer: one ingest round of two micro-batches over the
    * same sf0.1 documents, split by the run's seed. */
  override def probe(spark: SparkSession, env: Env,
                     tracer: Tracer): (Map[String, Double], Int, Seq[String]) = {
    val stream = new StreamIngest(seed, Env.Small, files = 2)
    stream.prepare(spark, env)
    val r = stream.round(spark, env, new Random(seed), Some(tracer), warmUp = false)
    val failures = r.samples.filterNot(_.ok).map(s => s"stream probe: ${s.op} failed") ++
      stream.finish(spark)
    val m = r.samples.head.layers.filter(_._1.startsWith("streaming."))
    (m, r.samples.size, failures)
  }
}

/** Streaming ingest of `documents` through `EventPipeline.corpusIngest`.
  * The seed splits the documents into a frozen corpus (90%) and a
  * streamed part (10%). Set-up builds the LSH band index and the
  * dup-gram table from the corpus and writes the streamed part as `files`
  * source files. A round streams all of them from a fresh sink, state and
  * checkpoint, one file per micro-batch; each micro-batch is one timed
  * operation.
  */
final class StreamIngest(seed: Int, val sf: String, files: Int) extends Workload {
  val name = "stream_ingest"
  // a micro-batch takes seconds: one timed round is all a run can afford
  val nominalRoundS = 30.0
  override val minRounds = 1

  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var streamedIds = Set.empty[Long]
  private var srcDir = ""
  private var rounds = 0
  private val keptDigests = ArrayBuffer.empty[String]
  private val failures = ArrayBuffer.empty[String]
  private val listener = new StreamListener

  override def docsPerRound: Option[Int] = Some(streamedIds.size)

  override def prepare(spark: SparkSession, env: Env): Unit = {
    val docs = graft.sources.Tables(spark, env.dataDir(sf), "documents")
    val inStream = pmod(xxhash64(col("doc_id"), lit(seed)), lit(10)) === 0
    corpus = docs.filter(!inStream)
    val stream = docs.filter(inStream).select("doc_id", "text", "source", "n_chars")
    graft.sources.Warehouse.resetTable(spark, "perfbench_bands")
    graft.sources.Warehouse.resetTable(spark, "perfbench_grams")
    graft.operators.Dedup.saveBandTable(corpus, "doc_id", "text", "perfbench_bands")
    graft.operators.TextOps.saveDupGramTable(corpus, "doc_id", "text", "perfbench_grams", k = 6)
    bench = corpus.filter(pmod(col("doc_id"), lit(997)) === 1).select("doc_id", "text")

    // one parquet file per micro-batch, with increasing modification
    // times so the file source reads them in the same order every round
    srcDir = env.scratch("stream_src")
    Env.rmTree(new java.io.File(srcDir))
    val staged = env.scratch("stream_staged")
    Env.rmTree(new java.io.File(staged))
    stream.withColumn("_f", pmod(col("doc_id"), lit(files)))
      .repartition(files, col("_f")).sortWithinPartitions("doc_id")
      .write.partitionBy("_f").parquet(staged)
    new java.io.File(srcDir).mkdirs()
    (0 until files).foreach { f =>
      val parts = Option(new java.io.File(s"$staged/_f=$f").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      parts.zipWithIndex.foreach { case (p, j) =>
        val dst = new java.io.File(f"$srcDir/part-$f%03d-$j%03d.parquet")
        java.nio.file.Files.move(p.toPath, dst.toPath)
        dst.setLastModified(1700000000000L + f * 1000L)
      }
    }
    Env.rmTree(new java.io.File(staged))
    streamedIds = spark.read.parquet(srcDir).select("doc_id").collect().map(_.getLong(0)).toSet
    spark.streams.addListener(listener)
  }

  def round(spark: SparkSession, env: Env, rng: Random, tracer: Option[Tracer],
            warmUp: Boolean): Round = {
    rounds += 1
    val dir = env.scratch(s"stream_round$rounds")
    Env.rmTree(new java.io.File(dir))
    val (sink, state, ckpt) = (s"$dir/sink", s"$dir/state", s"$dir/ckpt")
    val schema = spark.read.parquet(srcDir).schema
    listener.drainAll()
    tracer.foreach(_.phases.drainAll())
    val t0 = System.nanoTime()
    val q = graft.streaming.EventPipeline.corpusIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcDir),
      "doc_id", "text", "source", "n_chars",
      corpus, spark.table("perfbench_bands"), spark.table("perfbench_grams"),
      bench, "text", sink, state, spanK = 6, maxSpanTokens = 12, decontamN = 8,
      checkpoint = Some(ckpt))
    val ok = try { q.processAllAvailable(); true } catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"round $rounds: ${Freeze.errorClass(e)}"
        false
    } finally q.stop()
    val t1 = System.nanoTime()
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)
    val batches = listener.drainAll()

    // invariants that hold for any seed: kept ids were streamed, kept
    // texts are distinct, and every replay keeps the same set
    val kept = graft.streaming.EventPipeline.annIndex(spark, sink)
      .select(col("doc_id"), md5(col("text")).as("d")).collect()
    val keptIds = kept.map(_.getLong(0))
    val keptOk = ok && keptIds.nonEmpty && keptIds.forall(streamedIds.contains) &&
      kept.map(_.getString(1)).distinct.length == kept.length
    if (!keptOk) failures += s"round $rounds: kept set breaks an invariant"
    keptDigests += Digest.of(kept)

    val layers = tracer.fold(Map.empty[String, Double]) { tr =>
      val d = batches.map(listener.durations)
      val n = math.max(1, batches.size).toDouble
      def mean(k: String) = d.map(_.getOrElse(k, 0L)).sum / n
      val p = Workload.phaseMs(tr.phases.drainAll()).map { case (k, v) => k -> v / n }
      val work = tr.exec.take(_.startsWith("stream/"))
      tr.recordStream(batches.map(b => (b.batchId,
        java.time.Instant.parse(b.timestamp).toEpochMilli, listener.durations(b))), t0, t1,
        tr.exec.takeIntervals(_.startsWith("stream/")))
      val stateBytes = Env.dirBytes(new java.io.File(state)).toDouble
      val written = Env.dirBytes(new java.io.File(sink)) + stateBytes
      val docs = math.max(1, streamedIds.size).toDouble
      // per micro-batch means, like every other per-layer figure; the
      // peak and skew figures stay maxima
      p ++ work.metrics.map { case (k, v) =>
        k -> (if (k == "exec.peak_task_mem_bytes" || k == "exec.task_input_skew") v else v / n)
      } ++ Map(
        "exec.ms" -> mean("addBatch"),
        "exec.rows_out" -> keptIds.length / n,
        "streaming.batches" -> batches.size.toDouble,
        "streaming.batch_ms" -> mean("triggerExecution"),
        "streaming.add_batch_ms" -> mean("addBatch"),
        "streaming.query_planning_ms" -> mean("queryPlanning"),
        "streaming.get_batch_ms" -> mean("getBatch"),
        "streaming.wal_commit_ms" -> (mean("walCommit") + mean("commitOffsets")),
        "streaming.kept_ratio" -> keptIds.length / docs,
        "streaming.state_bytes" -> stateBytes,
        "streaming.bytes_written_per_doc" -> written / docs,
        "self.catalyst_ms" -> p.values.sum,
        "self.exec_ms" -> math.max(0.0, mean("addBatch") - p.values.sum),
        "self.streaming_ms" -> math.max(0.0, mean("triggerExecution") - mean("addBatch")))
    }
    Env.rmTree(new java.io.File(dir))
    val samples =
      if (batches.isEmpty) Seq(Sample("micro-batch", Workload.ms(t0, t1), ok = false, Map.empty))
      else batches.map(b => Sample(s"micro-batch ${b.batchId}",
        listener.durations(b).getOrElse("triggerExecution", 0L).toDouble, keptOk, layers))
    Round(samples, Workload.ms(t0, t1))
  }

  /** Each round replays the same seed, so every round keeps the same set. */
  override def finish(spark: SparkSession): Seq[String] = {
    if (keptDigests.distinct.size > 1) failures += s"kept sets differ across replays: ${keptDigests.distinct}"
    failures.toSeq
  }
}
