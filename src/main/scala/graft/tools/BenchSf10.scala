package graft.tools

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

/** Scale run: executes the headline engine paths at a generated sfN
  * (default sf10 = 100× the sf0.1 bench rows) and records EVIDENCE that
  * the 100 TB design claims hold when actually run, not just
  * plan-asserted:
  *
  *   - wall time per query/phase, at the base sf AND the target sf, so
  *     time-vs-rows scaling is measured inside one harness;
  *   - per-stage task-input balance from the task-metrics listener
  *     ([[TaskMetrics]]: max task input bytes, worst max/median ratio
  *     over stages with meaningful input) — the "no task 10× the median"
  *     skew check;
  *   - AQE skew-split activations (final executed plans swept for
  *     `skew=true`) and peak task execution memory — the no-OOM check.
  *
  * Phases: (a) all 22 TPC-H queries, (b) the dedup battery
  * (minhashLsh → dropNearDuplicates → duplicateClusters), (c) the
  * IVF-PQ ANN read path (trained coarse cells + PQ codebook, nprobe
  * pruning, broadcast-LUT ADC scoring, TopK.perKey merge). Off by
  * default: (d) `ingest`, the streaming ingest door, and (e)
  * `components`, label propagation on a hot-label graph — run alone
  * (`SPARK_GRAFT_PHASES=components`) its sweep-level skew figures are
  * the connected-components skew probe.
  */
object BenchSf10 {

  /** Counts AQE skew-split activations in final executed plans. */
  final class SkewCounter extends QueryExecutionListener {
    @volatile var skewSplits = 0
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val p = qe.executedPlan.toString
      skewSplits += "skew=true".r.findAllIn(p).size
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    /** Per-phase attribution: snapshot-and-zero between phases. */
    def reset(): Int = { val n = skewSplits; skewSplits = 0; n }
  }

  private def resetTable(spark: SparkSession, table: String): Unit =
    graft.sources.Warehouse.resetTable(spark, table)

  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }
  private def r3(d: Double): Double = math.round(d * 1000) / 1000.0

  /** Which sweep sections run — env `SPARK_GRAFT_PHASES` (comma list of
    * tpch,dedup,dedup_incr,dedup_recall,stream,ingest,spans,bpe,pipeline,
    * ann,components; default all but ingest and components). Lets an
    * sf100-scale run skip the training-dominated ANN phase (already measured at sf10 —
    * its cost is kmeans+PQ training, which the frozen-codebook
    * streaming design amortizes anyway) without forking the tool.
    */
  private val phases: Set[String] =
    sys.env.getOrElse("SPARK_GRAFT_PHASES",
        "tpch,dedup,dedup_incr,dedup_recall,stream,spans,bpe,pipeline,ann")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** Release the PREVIOUS query's shuffle files. Spark's ContextCleaner
    * deletes a shuffle's disk blocks only after its Dataset is
    * garbage-collected; a scale sweep on a large heap may go a whole
    * phase without a full GC, so finished queries' spill accumulates —
    * measured at sf100: 22 TPC-H queries piled up >42 GB of dead
    * blockmgr files and killed the run with ENOSPC while total LIVE
    * usage never exceeded one query's working set. An explicit GC after
    * each timed query (outside the timer) caps disk at ~one query's
    * shuffle. The short sleep gives the async cleaner a beat to
    * unlink before the next query starts writing.
    */
  private def reclaimShuffle(): Unit = {
    System.gc()
    Thread.sleep(300)
  }

  /** True once any FATAL error (OOM, ENOSPC-as-Error, linkage) has been
    * caught: the sweep continues to publish an artifact, but every timing
    * recorded after that point ran in a possibly-corrupted JVM, so the
    * artifact marks them (`degraded_after_failure`) and trend comparisons
    * can discount them instead of trusting them blind.
    */
  @volatile private var sawFatal = false
  private def noteFailure(e: Throwable): Unit =
    if (!scala.util.control.NonFatal(e)) sawFatal = true

  /** A phase that dies (ENOSPC on a single query's shuffle peak, OOM)
    * is reported and skipped; the sweep still publishes an artifact
    * with every phase that DID complete.
    */
  private def phaseFailed(phase: String, e: Throwable): Unit = {
    System.err.println(s"[sf10] phase $phase FAILED: ${e.getMessage}")
    noteFailure(e)
    // a failed phase must not pin its persisted frames for the rest of
    // the sweep (it likely failed UNDER memory/disk pressure)
    graft.operators.Caches.unpersistAll()
    reclaimShuffle()
  }

  /** One full phase sweep against `dir`; returns (name -> seconds).
    * A failed query records -1 and the sweep continues — a scale
    * artifact with one honest hole beats no artifact.
    */
  private def sweep(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    import graft.operators.{Dedup, TopK, Vectors}
    val out = mutable.ArrayBuffer[(String, Double)]()
    if (phases("tpch")) for (i <- 1 to 22) {
      val name = s"q_tpch_q$i"
      try {
        val (secs, _) = time {
          graft.SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
        }
        out += name -> r3(secs)
      } catch {
        case e: Throwable => // incl. OutOfMemoryError: artifact > purity
          System.err.println(s"[sf10] $name FAILED: ${e.getMessage}")
          noteFailure(e)
          out += name -> -1.0
      }
      reclaimShuffle()
    }
    // lazy: schema resolution reads the parquet footer eagerly, and a
    // phase-restricted sweep must not require tables its phases never use
    lazy val docs = graft.sources.Tables(spark, dir, "documents")
    if (phases("dedup")) try {
      val pairs = graft.operators.Caches.track(
        Dedup.minhashLsh(docs, "doc_id", "text"))
      val (tPairs, nPairs) = time(pairs.count())
      out += "dedup_minhash_pairs" -> r3(tPairs)
      val (tDrop, nKept) = time(
        Dedup.dropNearDuplicates(docs, "doc_id", "text").count())
      out += "dedup_drop" -> r3(tDrop)
      val (tClust, nClust) = time(
        Dedup.duplicateClusters(pairs.select("a_id", "b_id")).count())
      out += "dedup_clusters" -> r3(tClust)
      graft.operators.Caches.unpersistAll()
      reclaimShuffle()
      println(s"[sf10] $dir dedup: pairs=$nPairs kept=$nKept clustered=$nClust")
    } catch { case e: Throwable => phaseFailed("dedup", e) }

    // full-corpus dedup through the INCREMENTAL path: saveBandTable once,
    // then sequential slice-vs-corpus passes (Dedup.minhashLshSliced).
    // This is the shape that completes at sf100 on one node — the
    // one-shot self-join's single-job shuffle peak exceeds this VM's
    // scratch at 1000× rows — and the shape a 1000-executor ingest
    // pipeline runs anyway. Each slice materializes separately, with
    // caches + shuffle files released between slices, so peak scratch
    // is ~1/slices of the one-shot.
    if (phases("dedup_incr")) try {
      resetTable(spark, "bench_band_index")
      val sliceFrames = {
        val (tBuild, fs) = time(Dedup.minhashLshSliced(
          docs, "doc_id", "text", table = "bench_band_index", slices = 8))
        out += "dedup_incr_index_build" -> r3(tBuild)
        fs
      }
      var nPairsIncr = 0L
      val (tSlices, _) = time {
        sliceFrames.zipWithIndex.foreach { case (mkSlice, i) =>
          // construct INSIDE the scope: the slice's candidate cache
          // registers at construction time, so building here routes it
          // to this scope and it is released before the next slice —
          // the whole point of the bounded-scratch shape
          graft.operators.Caches.scoped { nPairsIncr += mkSlice().count() }
          reclaimShuffle()
          println(s"[sf10] $dir dedup_incr slice $i done (pairs so far: $nPairsIncr)")
        }
      }
      out += "dedup_incr_slices" -> r3(tSlices)
      println(s"[sf10] $dir dedup_incr: pairs=$nPairsIncr")
    } catch { case e: Throwable => phaseFailed("dedup_incr", e) }

    // LSH recall audited against EXACT ground truth at scale — the
    // q_dedup_eval check (150 docs at sf0.1) re-run where it matters.
    // A full exact pass is O(n²); the generator plants every duplicate
    // from a seed at most 1 + hash%50 ids back (GenData's `cand`), so
    // ground truth restricted to the window 0 < b - a <= 51 contains
    // every PLANTED pair and the exact pass is O(n·51). LSH pairs are
    // scored against that window (pairs outside it are reported
    // separately, not counted against recall — across-window hits are
    // true near-dups the window oracle simply cannot see).
    if (phases("dedup_recall")) try {
      val win = 51
      val slices = 8
      // Scratch-bounded at ANY sf (the one-shot exploded-pair shuffle
      // hit ENOSPC at sf100): shingles hash to 8-byte longs ON DISK
      // once (identical jaccard modulo ~2^-60 collisions — both sides
      // of the audit read the same representation), the exact window
      // pass runs in `slices` sequential id-slices, and the LSH side is
      // the production minhashLshSliced path — every pass materializes
      // to parquet with caches + shuffle reclaimed between, so peak
      // scratch is ~1/slices of the one-shot on BOTH sides.
      val tmp = java.nio.file.Files.createTempDirectory("graft_recall").toString
      val (tRecall, metrics) = try {
        time {
          Dedup.shingleTable(docs, "doc_id", "text")
            .selectExpr("doc_id", "transform(sh, g -> graft_hash60(g)) AS sh")
            .write.mode("overwrite").parquet(s"$tmp/sh")
          val sh = spark.read.parquet(s"$tmp/sh")
          for (s <- 0 until slices) {
            graft.operators.Caches.scoped {
              // window candidates as an equi-join: explode the offsets
              // on the slim id side, join back per side — never a
              // theta/nested-loop join
              val a = sh.filter(pmod(col("doc_id"), lit(slices)) === s)
                .select(col("doc_id").as("a_id"), col("sh").as("sha"))
              a.withColumn("b_id", explode(expr(
                  s"transform(sequence(1, $win), o -> a_id + o)")))
                .join(sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), Seq("b_id"))
                .filter(expr(
                  "CAST(size(array_intersect(sha, shb)) AS DOUBLE) / size(array_union(sha, shb)) >= 0.5"))
                .select("a_id", "b_id")
                .write.mode("overwrite").parquet(s"$tmp/true_$s")
            }
            reclaimShuffle()
          }
          resetTable(spark, "recall_band_index")
          Dedup.minhashLshSliced(docs, "doc_id", "text",
              table = "recall_band_index", slices = slices)
            .zipWithIndex.foreach { case (mk, i) =>
              graft.operators.Caches.scoped {
                mk().select("a_id", "b_id")
                  .write.mode("overwrite").parquet(s"$tmp/lsh_$i")
              }
              reclaimShuffle()
            }
          val tp = spark.read.parquet((0 until slices).map(s => s"$tmp/true_$s"): _*)
          val lsh = spark.read.parquet((0 until slices).map(s => s"$tmp/lsh_$s"): _*)
          val nTrue = tp.count()
          val nLshInWin = lsh.filter(col("b_id") - col("a_id") <= win).count()
          val nLshOutWin = lsh.filter(col("b_id") - col("a_id") > win).count()
          val nMissed = tp.join(lsh, Seq("a_id", "b_id"), "left_anti").count()
          (nTrue, nLshInWin, nLshOutWin, nMissed)
        }
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(tmp))
      }
      val (nTrue, nLshInWin, nLshOutWin, nMissed) = metrics
      val recallPpm =
        if (nTrue > 0) (1000000L * (nTrue - nMissed)) / nTrue else -1L
      out += "dedup_recall" -> r3(tRecall)
      out += "dedup_recall_true_pairs" -> nTrue.toDouble
      out += "dedup_recall_missed" -> nMissed.toDouble
      out += "dedup_recall_ppm" -> recallPpm.toDouble
      // pairs the window oracle cannot see; when this dwarfs
      // true_pairs the dir was NOT generated by tools/GenData (the
      // driver's testdata plants sparse far-apart dups) and the ppm
      // above audits only the in-window slice
      out += "dedup_recall_lsh_outside_window" -> nLshOutWin.toDouble
      graft.operators.Caches.unpersistAll()
      reclaimShuffle()
      println(s"[sf10] $dir dedup_recall: true=$nTrue lsh_in_win=$nLshInWin " +
        s"lsh_out_win=$nLshOutWin missed=$nMissed recall_ppm=$recallPpm")
    } catch { case e: Throwable => phaseFailed("dedup_recall", e) }

    // connected components where one label is hot: a 20M-vertex graph
    // from orders (the shape q_components declares at mod 60). At sf100
    // it has ~150M edges and forms a single component, so every
    // propagation round's persisted label frame is GBs and the label-keyed
    // join concentrates on one key — the skew the worst/median task-input
    // ratio of this phase measures.
    if (phases("components")) try {
      val (tCc, (nVertices, nClusters)) = time {
        val edges = graft.sources.Tables(spark, dir, "orders")
          .selectExpr("o_custkey % 20000000 AS src",
            "(o_custkey + o_orderkey) % 20000000 AS dst")
        val pairs = graft.operators.Graph.canonicalEdges(edges)
          .selectExpr("a AS a_id", "b AS b_id")
        val clusters = Dedup.duplicateClusters(pairs)
        (clusters.count(), clusters.agg(count_distinct(col("cluster"))).head().getLong(0))
      }
      out += "components_label_propagation" -> r3(tCc)
      out += "components_vertices" -> nVertices.toDouble
      out += "components_clusters" -> nClusters.toDouble
      graft.operators.Caches.unpersistAll()
      reclaimShuffle()
      println(s"[sf10] $dir components: vertices=$nVertices clusters=$nClusters")
    } catch { case e: Throwable => phaseFailed("components", e) }

    // round-8 operators at scale: exact maximal dup spans (the planted
    // ~10% document duplicates give every sf real span work) and the
    // dictionary-encoded BPE token counting
    if (phases("spans")) try {
      val (tSpans, nSpans) = time(
        graft.operators.TextOps.duplicateSpans(docs, "doc_id", "text",
          k = 6, minTokens = 8).count())
      out += "text_dup_spans" -> r3(tSpans)
      graft.operators.Caches.unpersistAll()
      reclaimShuffle()
      println(s"[sf10] $dir spans=$nSpans")
    } catch { case e: Throwable => phaseFailed("spans", e) }
    // streaming throughput at scale: the events table replayed THROUGH
    // the Structured Streaming engine (file source in bounded micro-
    // batches, state store, checkpoint) — windowed aggregation and
    // watermark dedup, the two stateful shapes every ingest pipeline
    // runs. Evidence the streaming path scales, not just that its
    // semantics hold (StreamingSpec).
    if (phases("stream")) try {
      import org.apache.spark.sql.streaming.Trigger
      // the streaming file source requires a DIRECTORY; the testdata
      // ships events as a single parquet file — hardlink it into a temp
      // dir (fall back to copy across filesystems)
      val eventsFile = java.nio.file.Paths.get(s"$dir/events.parquet")
      // temp dirs (events hardlink copy + one checkpoint per stream) are
      // deleted as soon as each stream finishes — repeated sweeps on this
      // scratch-constrained VM must not accumulate parquet copies and
      // state-store files in /tmp
      def rmTree(p: java.nio.file.Path): Unit = {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(); ()
        }
        rm(p.toFile)
      }
      val linkedEventsDir: Option[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(eventsFile)) None
        else {
          val d = java.nio.file.Files.createTempDirectory("graft-bench-events")
          val tgt = d.resolve("events.parquet")
          try java.nio.file.Files.createLink(tgt, eventsFile)
          catch { case _: Exception =>
            java.nio.file.Files.copy(eventsFile, tgt); () }
          Some(d)
        }
      try {
        val eventsPath = linkedEventsDir.map(_.toString).getOrElse(eventsFile.toString)
        val schema = spark.read.parquet(eventsPath).schema
        def runStream(name: String,
                      graph: DataFrame => DataFrame): Unit = {
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft-bench-$name")
          try {
            var rows = 0L
            val (t, _) = time {
              // the parquet ts column reads as TIMESTAMP_NTZ; watermarks
              // require session-tz TIMESTAMP (session is pinned UTC)
              val src = spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "8").parquet(eventsPath)
                .withColumn("ts", col("ts").cast("timestamp"))
              val q = graph(src).writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt.toString)
                .trigger(Trigger.AvailableNow()).start()
              q.awaitTermination()
              rows = q.recentProgress.map(_.numInputRows).sum
            }
            out += s"stream_$name" -> r3(t)
            println(s"[sf10] $dir stream_$name: events=$rows " +
              s"eps=${if (t > 0) math.round(rows / t) else 0}")
            reclaimShuffle()
          } finally rmTree(ckpt)
        }
        runStream("windowed_counts",
          src => graft.streaming.EventPipeline.windowedCounts(src))
        runStream("dedup",
          src => graft.streaming.EventPipeline.dedupStream(src, Seq("event_id")))
      } finally linkedEventsDir.foreach(rmTree)
    } catch { case e: Throwable => phaseFailed("stream", e) }

    // the WHOLE streaming ingest door at scale: 90% of the documents
    // table is the frozen corpus (band index + dup-gram table + a tiny
    // benchmark slice), the remaining 10% streams through
    // EventPipeline.corpusIngest — quality gate, exact dedup with
    // cross-batch digest state, saved-LSH near-dup, frozen-gram span
    // gate, quota, decontamination — in micro-batches through the real
    // Structured Streaming engine. The docs/sec figure is the number a
    // production door is sized by.
    if (phases("ingest")) try {
      import org.apache.spark.sql.streaming.Trigger
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val streamDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      resetTable(spark, "ingest_bands")
      resetTable(spark, "ingest_grams")
      val (tIdx, _) = time {
        graft.operators.Dedup.saveBandTable(corpus, "doc_id", "text", "ingest_bands")
        graft.operators.TextOps.saveDupGramTable(corpus, "doc_id", "text",
          "ingest_grams", k = 6)
      }
      out += "ingest_index_build" -> r3(tIdx)
      val bench = corpus.filter(pmod(col("doc_id"), lit(997)) === 1)
        .select("doc_id", "text")
      val root = java.nio.file.Files.createTempDirectory("graft_ingest")
      try {
        val (srcDir, sink, state, ckpt) = (s"$root/src", s"$root/sink", s"$root/state", s"$root/ckpt")
        // micro-batch sizing: a batch's working set (all six gates in
        // one job tree) must fit ONE node's scratch here — at sf100
        // that means many small batches (SPARK_GRAFT_INGEST_FILES=32,
        // MAXFILES=1); a 1000-executor deployment divides the same
        // working set by E instead
        val srcFiles = sys.env.getOrElse("SPARK_GRAFT_INGEST_FILES", "8").toInt
        val maxFiles = sys.env.getOrElse("SPARK_GRAFT_INGEST_MAXFILES", "3")
        streamDocs.select("doc_id", "text", "source", "n_chars")
          .repartition(srcFiles).write.parquet(srcDir)
        val nStream = streamDocs.count()
        val schema = spark.read.parquet(srcDir).schema
        val (tIngest, kept) = time {
          val q = graft.streaming.EventPipeline.corpusIngest(
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", maxFiles).parquet(srcDir),
            "doc_id", "text", "source", "n_chars",
            corpus, spark.table("ingest_bands"), spark.table("ingest_grams"),
            bench, "text", sink, state,
            spanK = 6, maxSpanTokens = 12, decontamN = 8,
            checkpoint = Some(ckpt))
          // AvailableNow is unsupported with foreachBatch's default
          // trigger handling on some paths — drive to completion instead
          q.processAllAvailable()
          q.stop()
          graft.streaming.EventPipeline.annIndex(spark, sink).count()
        }
        out += "ingest_stream" -> r3(tIngest)
        out += "ingest_docs_per_sec" ->
          (if (tIngest > 0) math.round(nStream / tIngest).toDouble else -1.0)
        println(s"[sf10] $dir ingest: docs=$nStream kept=$kept " +
          s"sec=${r3(tIngest)} dps=${math.round(nStream / math.max(0.001, tIngest))}")
      } finally {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
          f.delete(); ()
        }
        rm(root.toFile)
      }
      graft.operators.Caches.unpersistAll()
      reclaimShuffle()
    } catch { case e: Throwable => phaseFailed("ingest", e) }

    if (phases("bpe")) try {
      val (tBpe, nBpe) = time(
        graft.operators.Bpe.bpeTokenCounts(docs, "doc_id", "text").count())
      out += "bpe_token_counts" -> r3(tBpe)
      reclaimShuffle()
      println(s"[sf10] $dir bpe_docs=$nBpe")
    } catch { case e: Throwable => phaseFailed("bpe", e) }

    // end-to-end corpus prep: Gopher quality gate (narrow signals joined
    // back on id) → exact dedup → token chunking — the standard
    // pre-training front half, timed as ONE pipeline so the phase cost
    // includes the joins a real run pays, not just each operator alone
    if (phases("pipeline")) try {
      val (tPipe, nChunks) = time {
        val sig = graft.operators.TextOps.gopherSignals(docs, "doc_id", "text")
          .filter(col("dup_5gram_frac") < 0.5 && col("alpha_frac") >= 0.5)
          .select("doc_id")
        val gated = docs.join(sig, "doc_id")
        val deduped = Dedup.dropExact(gated, Seq("text"), "doc_id")
        graft.operators.TextOps.chunkByTokens(deduped, "text",
          size = 64, overlap = 8).count()
      }
      out += "pipeline_prep" -> r3(tPipe)
      reclaimShuffle()
      println(s"[sf10] $dir pipeline chunks=$nChunks")
    } catch { case e: Throwable => phaseFailed("pipeline", e) }

    // IVF-PQ via the ON-DISK index: the production read path. Training
    // (kmeans cells + PQ codebook over a deterministic sample), index
    // build (assign + cell-partitioned atomic publish), and search
    // (probe + pruned ADC + TopK merge) are timed SEPARATELY — the
    // amortization argument ("training is paid once, searches are
    // cheap") is a measured number here, not a claim.
    lazy val emb = graft.sources.Tables(spark, dir, "embeddings")
    if (phases("ann")) try {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val sample = emb.filter(pmod(col("vec_id"), lit(37)) === 0)
      val (tTrain, cbPair) = time {
        val c = graft.operators.Caches.track(
          Vectors.kmeans(sample, "vec_id", "embedding", k = 16, iters = 2)
            .centroids.select("cid", "ce"), lvl)
        val cb = graft.operators.Caches.track(
          Vectors.pqTrain(sample, "vec_id", "embedding", m = 4, k = 16,
            iters = 2), lvl)
        c.count(); cb.count()
        (c, cb)
      }
      val (cells, codebook) = cbPair
      out += "ann_train" -> r3(tTrain)
      val idxPath = s"${sys.props("java.io.tmpdir")}/graft_annidx_" +
        new java.io.File(dir).getName
      val (tBuild, _) = time {
        Vectors.buildIvfPqIndex(
          emb.filter(col("vec_id") >= 100).select("vec_id", "embedding"),
          "vec_id", "embedding", cells, codebook, idxPath, m = 4, dims = 64)
      }
      out += "ann_index_build" -> r3(tBuild)
      val queries = emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding"))
      val (tSearch, nAnn) = time {
        Vectors.searchIvfPqIndex(spark, idxPath, queries, "qid", "embedding",
          k = 10, nprobe = 4, m = 4, dims = 64).count()
      }
      out += "ann_index_search" -> r3(tSearch)
      graft.operators.Caches.unpersistAll()
      println(s"[sf10] $dir ann: train=${r3(tTrain)} build=${r3(tBuild)} " +
        s"search=${r3(tSearch)} rows=$nAnn")
    } catch { case e: Throwable => phaseFailed("ann", e) }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "data/sf10")
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SF10_OUT", "BENCH_SF10.json")
    // Both scale knobs (reduce parallelism from the TARGET dir's size,
    // periodic cleaner GC) are DERIVED in GraftSession.scaleBuilder —
    // r8 and r10 each had to rediscover them as run-specific flags;
    // now a scale run cannot forget them.
    val spark = {
      val s = graft.GraftSession.scaleBuilder("graft-sf10", Seq(sfDir))
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val stats = new TaskMetrics
    val skews = new SkewCounter
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(skews)
    spark.range(1000).selectExpr("sum(id)").collect() // JVM/codegen warmup

    def phase(dir: String): String = {
      stats.reset()
      skews.reset() // drop warmup / previous-phase attributions
      val t0 = System.nanoTime()
      val times = sweep(spark, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      // listener queue drains asynchronously; give it a beat before reading
      Thread.sleep(2000)
      val (maxIn, worstRatio, stages, tasks) = stats.skewSummary()
      val qs = times.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      s"""{"dir":"$dir","wall_sec":${r3(wall)},"queries":$qs,""" +
        s""""max_task_input_bytes":$maxIn,"worst_task_over_median":$worstRatio,""" +
        s""""stages":$stages,"tasks":$tasks,"failed_tasks":${stats.failedTasks()},""" +
        s""""peak_task_exec_mem_bytes":${stats.peakExecMem()},""" +
        s""""degraded_after_failure":$sawFatal,""" +
        s""""aqe_skew_splits":${skews.reset()}}"""
    }

    // measured, not assumed: the artifact's scale ratio comes from the
    // actual lineitem row counts of the two (env-overridable) dirs
    def liRows(dir: String): Long =
      spark.read.parquet(s"$dir/lineitem.parquet").count()
    val (baseRows, targetRows) = (liRows(baseDir), liRows(sfDir))
    val ratio = math.round(targetRows.toDouble / math.max(1L, baseRows) * 10) / 10.0

    // the artifact carries the reduce parallelism it ran under and how it
    // was chosen, so the knob derivation is auditable from the JSON alone
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val knobSource =
      if (sys.env.contains("SPARK_GRAFT_SHUFFLE")) "env_override" else "derived_from_input_bytes"

    val baseJson = phase(baseDir)
    val sfJson = phase(sfDir)
    val json =
      s"""{"metric":"sf10_scale_run","unit":"sec","rows_ratio":$ratio,""" +
        s""""base_lineitem_rows":$baseRows,"target_lineitem_rows":$targetRows,""" +
        s""""shuffle_partitions":$shufflePartitions,"shuffle_partitions_source":"$knobSource",""" +
        s""""completed":true,"base":$baseJson,"target":$sfJson}"""
    println(json)
    val w = new java.io.PrintWriter(outPath)
    try w.println(json) finally w.close()
    spark.stop()
  }
}
