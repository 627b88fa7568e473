package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analog of the reference's streaming execution
  * model (reference: src/execute — async row streams with incremental
  * aggregation; here: incremental state in Spark's streaming engine).
  *
  * The graphs are source-agnostic: they take any streaming Dataset with
  * the `events` schema (ts TIMESTAMP, user_id BIGINT, event_type STRING,
  * value DOUBLE), whether from files, Kafka, or MemoryStream in tests.
  *
  * Scale notes: windowed aggregation state is partitioned by
  * (event_type, window) — bounded by the watermark horizon; session state
  * by user_id with an idle-timeout eviction, so state size tracks active
  * users, not history.
  */
object EventPipeline {

  /** The exactly-once contract of the index-building sinks is keyed on
    * DURABLE epoch ids: without a checkpoint a restarted query restarts
    * at epoch 0 and overwrites committed batch dirs with different rows.
    * The default stays None so tests and throwaway pipelines run without
    * ceremony, but any restartable deployment must pass one — warn loudly
    * rather than fail silently months later on the first restart.
    */
  private def warnIfNoCheckpoint(op: String, checkpoint: Option[String]): Unit =
    if (checkpoint.isEmpty)
      System.err.println(
        s"[graft] WARNING: EventPipeline.$op started WITHOUT a checkpoint — " +
          "a restarted query will replay from epoch 0 and overwrite committed " +
          "batch dirs. Pass checkpoint=Some(path) for any restartable deployment.")

  /** Tumbling-window counts per event type with a watermark — the
    * streaming analog of the reference's incremental aggregate fast path
    * (reference: src/execute/streamingAggregate.js).
    */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     window: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))

  /** Gap-based session aggregation via Spark's NATIVE session_window —
    * the declarative twin of [[sessionize]] (which demonstrates the
    * custom-state route through flatMapGroupsWithState). Prefer this
    * form when the per-session result is an aggregate Catalyst can
    * express: state is managed by the engine, merges are codegen'd, and
    * the watermark closes sessions exactly once.
    */
  def sessionWindows(events: DataFrame,
                     watermark: String = "10 minutes",
                     gap: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("total"))

  /** Sliding (hopping) windowed aggregation — the streaming twin of the
    * batch `q_window_hop` query: each event contributes to width/slide
    * overlapping windows, watermark finalizes each window exactly once.
    * State per key is width/slide concurrent windows, bounded by the
    * watermark horizon.
    */
  def slidingCounts(events: DataFrame,
                    watermark: String = "10 minutes",
                    width: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("win_start"), col("n"), col("total"))

  /** Streaming exact dedup — the streaming twin of `Dedup.exact`/
    * `dropExact` for ingest pipelines (the same capability a batch corpus
    * dedup provides, applied at the door). State is bounded by the
    * watermark horizon: a key is remembered only until the watermark
    * passes it, so state tracks the in-flight window, not history.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  tsCol: String = "ts", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join: pair every `a` event with
    * the `b` events of the same user arriving within `withinMinutes`
    * after it. Both sides are watermarked and the join condition bounds
    * `b_ts` relative to `a_ts`, so each side's buffered state is evicted
    * once the watermark passes the interval — bounded state, no
    * unbounded buffering (the capability the reference's single-stream
    * model has no analog for).
    */
  def correlated(a: DataFrame, b: DataFrame, withinMinutes: Int = 10,
                 joinType: String = "inner"): DataFrame = {
    val w = s"$withinMinutes minutes"
    val l = a.withWatermark("ts", w)
      .select(col("user_id"), col("ts").as("a_ts"),
        col("event_type").as("a_type"), col("value").as("a_value"))
    val r = b.withWatermark("ts", w)
      .select(col("user_id").as("r_uid"), col("ts").as("b_ts"),
        col("event_type").as("b_type"), col("value").as("b_value"))
    // joinType "left_outer": an `a` event with no `b` inside its interval
    // still emits (with NULL b columns) — but only once the watermark has
    // passed the interval's end, because only then is "no match" final.
    // The same time bound that evicts state is what makes outer rows
    // emittable at all: unbounded outer stream joins cannot exist.
    l.join(r, expr(
        s"user_id = r_uid AND b_ts BETWEEN a_ts AND a_ts + INTERVAL $withinMinutes MINUTES"),
        joinType)
      .drop("r_uid")
  }

  /** Stream-static enrichment: join a stream against a (small) static
    * dimension. The static side is broadcast to every micro-batch — no
    * stream state, no watermark needed, and the dim can be swapped by
    * re-reading it per batch (foreachBatch) when it changes. Left join
    * keeps events whose key has no dim row yet.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Incremental distinct-count rollup: per-key HLL sketches maintained
    * across micro-batches under foreachBatch. Each batch aggregates its
    * OWN rows into per-key sketches (O(batch) work), unions them with
    * the persisted sketch state, and publishes the new state via
    * [[graft.sources.AtomicSwap]] (rename-aside, crash-safe at every
    * intermediate point — a naive delete-then-rename would lose the
    * whole accumulated state to a crash inside the swap) — answering
    * "distinct ids per key so far" without ever re-reading history.
    * This is the streaming face of the mergeable-sketch property
    * `q_agg_hll` verifies in batch: state per key is one fixed-size
    * sketch, regardless of how many ids or batches flowed through. Read
    * the answer with [[sketchEstimates]].
    */
  def sketchRollup(events: DataFrame, keyCol: String, idCol: String,
                   statePath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val batchSk = batch.groupBy(col(keyCol))
          .agg(expr(s"hll_sketch_agg($idCol)").as("sk"))
        val hPath = new org.apache.hadoop.fs.Path(statePath)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.sources.AtomicSwap.recover(fs, hPath)
        val merged =
          if (fs.exists(hPath))
            graft.sources.Tables.parquet(spark, statePath).unionByName(batchSk)
              .groupBy(col(keyCol)).agg(expr("hll_union_agg(sk)").as("sk"))
          else batchSk
        val staging = graft.sources.AtomicSwap.stagingOf(hPath)
        merged.write.mode("overwrite").parquet(staging.toString)
        graft.sources.AtomicSwap.commit(fs, hPath)
        ()
      }
      .start()
  }

  /** Current per-key approximate distinct counts from a [[sketchRollup]]
    * state directory. Runs [[graft.sources.AtomicSwap.recover]] first so
    * a read issued right after a crashed swap still sees a complete
    * snapshot instead of a missing directory. */
  def sketchEstimates(spark: org.apache.spark.sql.SparkSession, statePath: String,
                      keyCol: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(statePath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicSwap.recover(fs, hPath)
    graft.sources.Tables.parquet(spark, statePath)
      .selectExpr(keyCol, "hll_sketch_estimate(sk) AS approx_distinct")
  }

  /** Streaming decontamination gate: drop stream documents sharing any
    * word-`n`-gram with a static benchmark — the batch
    * `TextOps.decontaminate` check applied at the ingest door.
    * `benchGramHashes` is a one-column static frame of benchmark gram
    * hashes (`TextOps.ngramHashes(bench, ...).select("gram_hash")`),
    * collapsed to ONE broadcast array row; each stream row computes its
    * own gram-hash array locally and passes iff none lands in the set.
    * Fully STATELESS (no explode→aggregate round trip, no watermark, no
    * state store): benchmark suites are bounded, so the per-row membership
    * scan is against a fixed small array.
    */
  def decontaminateStream(docs: DataFrame, textCol: String,
                          benchGramHashes: DataFrame, n: Int = 13): DataFrame = {
    val benchArr = benchGramHashes.toDF("_g")
      .agg(sort_array(collect_set(col("_g"))).as("_bench"))
    docs.join(broadcast(benchArr))
      .withColumn("_grams",
        expr(graft.operators.TextOps.ngramHashArrayExpr(textCol, n)))
      .filter(expr("size(filter(_grams, g -> array_contains(_bench, g))) = 0"))
      .drop("_grams", "_bench")
  }

  /** Streaming MERGE: maintain a continuously-upserted corpus snapshot
    * from an update stream — `Merge.upsert` applied per micro-batch via
    * foreachBatch with the same [[graft.sources.AtomicSwap]] rename-aside
    * publication as [[sketchRollup]] (readers that recover() first always
    * see a complete snapshot; a crash anywhere — including inside the
    * swap — leaves a recoverable copy and the checkpoint replays the
    * batch). Within a batch the row with the
    * highest `orderCol` wins per key (`max_by`) — a DETERMINISTIC pick,
    * so a replayed micro-batch produces the identical snapshot
    * (idempotent recovery); `last` without an ordering would not. The
    * per-batch cost is ONE key equi-join of snapshot × batch: the batch
    * side broadcasts, the snapshot is scanned once and rewritten — at
    * cluster scale partition the snapshot by a key hash and rewrite only
    * the partitions the batch touches.
    */
  def streamingUpsert(updates: DataFrame, keys: Seq[String], orderCol: String,
                      snapshotPath: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = updates.sparkSession
    updates.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val payload = batch.columns.filterNot(keys.contains)
        val dedupedBatch = batch
          .groupBy(keys.map(col): _*)
          .agg(max_by(struct(payload.map(col): _*), col(orderCol)).as("_p"))
          .select(keys.map(col) ++ payload.map(c => col(s"_p.$c").as(c)): _*)
        val hPath = new org.apache.hadoop.fs.Path(snapshotPath)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.sources.AtomicSwap.recover(fs, hPath)
        val merged =
          if (fs.exists(hPath))
            graft.operators.Merge.upsert(
              graft.sources.Tables.parquet(spark, snapshotPath).select(dedupedBatch.columns.map(col): _*),
              dedupedBatch, keys)
          else dedupedBatch
        val staging = graft.sources.AtomicSwap.stagingOf(hPath)
        merged.write.mode("overwrite").parquet(staging.toString)
        graft.sources.AtomicSwap.commit(fs, hPath)
        ()
      }
      .start()
  }

  /** Streaming embedding-index maintenance: PQ-encode arriving vectors
    * against a FROZEN codebook and append them to an on-disk codes index
    * — the embedding twin of the text side's incremental band table
    * ([[graft.operators.Dedup.saveBandTable]] → minhashLshAgainstSaved).
    * Queries read the index with [[annIndex]] and score via
    * [[graft.operators.Vectors.pqAdcTopK]]; new vectors are visible as
    * soon as their batch commits, with NO full-corpus rebuild — each
    * micro-batch writes only its own rows.
    *
    * Freezing: the codebook is materialized ONCE at construction (m·k
    * rows — bounded) and re-localized per batch from driver memory, the
    * [[driftGate]] one-time-reference contract: codes stay comparable
    * across batches because every batch encodes against the identical
    * codebook (retraining per batch would silently shift the code space
    * under the readers).
    *
    * Exactly-once: each batch publishes `indexPath/batch_<epochId>` via
    * [[graft.sources.AtomicSwap]] — a replayed epoch overwrites its own
    * staging and re-commits the same dir, so recovery is idempotent and
    * readers never observe a half-written batch. That idempotence is
    * keyed on DURABLE epoch ids: pass `checkpoint` (required for any
    * restartable deployment) so a restarted query resumes its epoch
    * sequence instead of starting over at 0 and overwriting committed
    * batch dirs with different rows. Rows within a batch are
    * range-laid-out and sorted by id, so parquet min/max stats prune
    * id-targeted reads; at cluster scale the batch dirs roll up into a
    * bucketed catalog table the same way the band table does.
    */
  def annIngest(vectors: DataFrame, idCol: String, embCol: String,
                codebook: DataFrame, indexPath: String,
                m: Int = 4, dims: Int = 64, buckets: Int = 8,
                checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    warnIfNoCheckpoint("annIngest", checkpoint)
    // freeze: bounded collect at construction, never per batch. The bound
    // is structural — a codebook is m subspaces × k centroids (k ≤ 256
    // for byte codes), so ≤ m·256 rows ever cross the driver. The LIMIT
    // bounds the fetch itself: a mistakenly-passed full-corpus frame
    // brings at most m·256+1 rows over and fails loudly, instead of
    // OOMing the driver before any size check could run.
    val cbRows = codebook.select("sub", "cid", "ce").limit(m * 256 + 1).collect().toSeq
    require(cbRows.size <= m * 256,
      s"annIngest: codebook has > m*256 = ${m * 256} rows " +
        "(m subspaces x <=256 centroids) — was a non-codebook frame passed?")
    val cbSchema = codebook.select("sub", "cid", "ce").schema
    val writer = checkpoint.foldLeft(vectors.writeStream)(
      (w, cp) => w.option("checkpointLocation", cp))
    writer
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val frozen = spark.createDataFrame(
          spark.sparkContext.parallelize(cbRows, 1), cbSchema)
        val codes = graft.operators.Vectors
          .pqAssign(batch, idCol, embCol, frozen, m, dims)
          .select(col(idCol), col("pq_codes"))
        val batchDir = new org.apache.hadoop.fs.Path(s"$indexPath/batch_$epochId")
        val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.sources.AtomicSwap.recover(fs, batchDir)
        val staging = graft.sources.AtomicSwap.stagingOf(batchDir)
        codes.repartitionByRange(buckets, col(idCol))
          .sortWithinPartitions(idCol)
          .write.mode("overwrite").parquet(staging.toString)
        graft.sources.AtomicSwap.commit(fs, batchDir)
        ()
      }
      .start()
  }

  /** Streaming span-dedup gate: drop arriving documents that contain a
    * duplicated span of >= `maxSpanTokens` tokens AGAINST A FROZEN
    * corpus gram index ([[graft.operators.TextOps.saveDupGramTable]]) —
    * the Lee-et-al. span dedup applied at the ingest door, the way
    * near-dup ingest composes with the saved band table. Survivors
    * append to `sinkPath` (parquet); per batch the cost is one
    * occurrence explode semi-joined against the bucketed gram table
    * plus a batch-local island window — the corpus index is never
    * re-counted, and the frozen reference keeps verdicts stable across
    * batch boundaries (a doc admitted in batch 3 would have been
    * admitted in batch 1). foreachBatch because span extraction needs
    * a per-doc window — legal on the bounded batch, not on the
    * unbounded stream.
    *
    * Exactly-once: survivors publish per-epoch `sinkPath/batch_<n>`
    * dirs via [[graft.sources.AtomicSwap]] (the [[annIngest]] layout —
    * a replayed epoch re-commits its OWN dir instead of appending
    * duplicates to a shared sink; with a durable `checkpoint` the
    * sink is replay-idempotent). Read the union with a `batch_*`
    * glob. Operator-internal caches are [[graft.operators.Caches
    * .scoped]] per batch — released on batch exit without clobbering
    * concurrent queries' caches.
    */
  def spanIngest(docs: DataFrame, dupGrams: DataFrame,
                 idCol: String, textCol: String, sinkPath: String,
                 k: Int = 6, maxSpanTokens: Int = 20,
                 checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxSpanTokens >= k, "maxSpanTokens must be at least the gram width")
    val spark = docs.sparkSession
    warnIfNoCheckpoint("spanIngest", checkpoint)
    val writer = checkpoint.foldLeft(docs.writeStream)(
      (w, cp) => w.option("checkpointLocation", cp))
    writer
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.operators.Caches.scoped {
          val hot = graft.operators.TextOps
            .duplicateSpansAgainst(batch, dupGrams, idCol, textCol, k,
              minTokens = maxSpanTokens)
            .select(col(idCol)).distinct()
          val batchDir = new org.apache.hadoop.fs.Path(s"$sinkPath/batch_$epochId")
          val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          graft.sources.AtomicSwap.recover(fs, batchDir)
          val staging = graft.sources.AtomicSwap.stagingOf(batchDir)
          batch.join(hot, Seq(idCol), "left_anti")
            .write.mode("overwrite").parquet(staging.toString)
          graft.sources.AtomicSwap.commit(fs, batchDir)
        }
        ()
      }
      .start()
  }

  /** Read the committed codes index an [[annIngest]] query maintains:
    * the union of all published `batch_<n>` dirs. Only dirs matching the
    * committed name shape qualify — staging/rollback leftovers are never
    * read, and (deliberately) never REPAIRED here: a committed dir with
    * a `_staging` sibling may be a restarted writer mid-replay of that
    * epoch, and a reader that "helpfully" ran recover would delete the
    * writer's in-flight staging under it. Swap repair belongs to the
    * writer, which runs recover on each batch dir before staging; a dir
    * caught mid-swap (live missing) simply stays invisible to readers
    * until the writer replays it — uncommitted batches are unreadable by
    * definition.
    */
  def annIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = "batch_\\d+".r
    val dirs = if (fs.exists(root)) {
      fs.listStatus(root).map(_.getPath)
        .filter(p => committed.matches(p.getName))
        .map(_.toString).sorted.toSeq
    } else Seq.empty
    require(dirs.nonEmpty, s"annIndex: no committed batches under $indexPath")
    graft.sources.Tables.parquet(spark, dirs: _*)
  }

  final case class DocEvent(ts: Timestamp, doc_id: Long, text: String)

  /** Streaming training-data ingest: quality-gate, language-ID, and
    * exact-dedup a document stream at the door — the streaming
    * composition of the batch TextOps/Dedup operators. Scoring and
    * language ID are stateless narrow expressions; the only stateful
    * operator is the watermark-bounded dedup keyed on the text digest,
    * so state is one 32-byte key per in-flight document and is evicted
    * as the watermark advances — never a full-history dedup set.
    */
  def documentIngest(docs: DataFrame, minQuality: Double = 0.2,
                     watermark: String = "10 minutes"): DataFrame = {
    val scored = graft.operators.TextOps.qualityScore(docs, "text")
    val withLang = graft.operators.TextOps.languageId(scored, "text")
    // dedup on the digest of the ORIGINAL text (two docs differing only
    // in their PII are still near-identical training text — but exact
    // dedup must not conflate them, so scrub after keying), then ship
    // ONLY the scrubbed form: the raw `text` column is dropped here so a
    // sink writing this stream cannot persist unscrubbed PII by default
    // (the digest already preserves the dedup key)
    graft.operators.TextOps.redact(
        withLang
          .filter(col("quality") >= minQuality)
          .withColumn("digest", md5(col("text")))
          .withWatermark("ts", watermark)
          .dropDuplicatesWithinWatermark("digest"),
        "text")
      .select("ts", "doc_id", "redacted", "predicted", "quality", "digest")
  }

  /** End-to-end streaming corpus ingest — the WHOLE batch pre-training
    * front half composed in ONE foreachBatch, every gate in the order
    * the batch pipeline applies them:
    *
    *   quality gate → exact dedup (batch-first-copy + cross-batch
    *   digest state) → near-dup gate against a SAVED LSH band index →
    *   span gate against a FROZEN dup-gram table → per-source token
    *   quota (cross-batch totals) → benchmark decontamination
    *
    * Exactly-once contract: every cross-batch side effect is keyed by
    * the DURABLE epoch id and atomically swapped — kept rows land in
    * `sinkPath/batch_<epoch>`, the digests that suppress future exact
    * duplicates in `statePath/digests/epoch_<n>`, per-source admitted
    * token counts in `statePath/quota/epoch_<n>`. A replayed
    * micro-batch reads only state with epoch < its own, so it sees the
    * exact pre-crash inputs and republishes identical output
    * (idempotent recovery); readers union committed `batch_*` dirs via
    * [[annIndex]]'s reader contract.
    *
    * Batch parity: with each source confined to one micro-batch and
    * first arrivals carrying the smallest ids, the kept set equals the
    * batch composition (qualityScore filter → dropExact → LSH/span
    * anti-joins → Sampling.tokenBudget → decontaminate) over the same
    * rows — pinned by StreamingSpec's restart test. The quota walk uses
    * tokenBudget's exact ordering (hash60(id), id) so the per-key
    * prefix matches.
    *
    * Scale shape: all gates are the batch operators' own shapes (the
    * band index is read exchange-free, the benchmark grams broadcast,
    * the quota is one windowed sum per batch); per-epoch state dirs are
    * tiny (digests + one row per source) — a long-running deployment
    * compacts them like any log-structured table.
    */
  def corpusIngest(docs: DataFrame, idCol: String, textCol: String,
                   sourceCol: String, tokensCol: String,
                   corpus: DataFrame, corpusBands: DataFrame,
                   dupGrams: DataFrame,
                   bench: DataFrame, benchTextCol: String,
                   sinkPath: String, statePath: String,
                   minQuality: Double = 0.2,
                   jaccard: Double = 0.5, k: Int = 8, bands: Int = 4,
                   spanK: Int = 6, maxSpanTokens: Int = 20,
                   budgetPerSource: Long = Long.MaxValue,
                   decontamN: Int = 13,
                   checkpoint: Option[String] = None,
                   onStep: (String, Long) => Unit = (_, _) => ()):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    warnIfNoCheckpoint("corpusIngest", checkpoint)
    val epochRe = "epoch_(\\d+)".r

    def committedBefore(fs: org.apache.hadoop.fs.FileSystem,
                        root: org.apache.hadoop.fs.Path, epoch: Long): Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).map(_.getPath).toSeq.collect {
        case p if epochRe.findFirstMatchIn(p.getName)
          .exists(m => p.getName == s"epoch_${m.group(1)}" && m.group(1).toLong < epoch) => p.toString
      }.sorted

    def readOrEmpty(paths: Seq[String], schemaDdl: String): DataFrame =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
      else graft.sources.Tables.parquet(spark, paths: _*)

    // `onStep` is a crash-injection seam for the restart-matrix spec:
    // it fires between the staging write and the commit ("<step>-staged")
    // and after the commit ("<step>") of each publication; a throw
    // simulates a crash at exactly that boundary. Production callers
    // leave it a no-op — the recovery contract it exercises (strictly
    // earlier epochs read back, staging recovered, epoch replayed
    // idempotently) is the same one a real crash relies on.
    def atomicWrite(fs: org.apache.hadoop.fs.FileSystem,
                    dir: org.apache.hadoop.fs.Path, df: DataFrame,
                    step: String, epochId: Long): Unit = {
      graft.sources.AtomicSwap.recover(fs, dir)
      val staging = graft.sources.AtomicSwap.stagingOf(dir)
      df.write.mode("overwrite").parquet(staging.toString)
      onStep(s"$step-staged", epochId)
      graft.sources.AtomicSwap.commit(fs, dir)
      onStep(step, epochId)
    }

    val writer = checkpoint.foldLeft(docs.writeStream)(
      (w, cp) => w.option("checkpointLocation", cp))
    writer
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.operators.Caches.scoped {
          val conf = spark.sparkContext.hadoopConfiguration
          val digestsRoot = new org.apache.hadoop.fs.Path(s"$statePath/digests")
          val quotaRoot = new org.apache.hadoop.fs.Path(s"$statePath/quota")
          val fs = digestsRoot.getFileSystem(conf)

          // ---- prior state: strictly earlier epochs only (replay-safe)
          val priorDigests = readOrEmpty(
            committedBefore(fs, digestsRoot, epochId), "digest STRING")
          val priorQuota = readOrEmpty(
            committedBefore(fs, quotaRoot, epochId), s"$sourceCol STRING, admitted BIGINT")
            .groupBy(sourceCol).agg(sum("admitted").as("_prior"))

          // ---- 1. quality gate (row-local)
          val cols = batch.columns.toSeq
          val gated = graft.operators.TextOps.qualityScore(batch, textCol)
            .filter(col("quality") >= minQuality)
            .select(cols.map(col): _*)

          // ---- 2. exact dedup: first copy per digest in-batch (min id,
          // matching Dedup.dropExact's keeper), then the cross-batch set
          val keyed = gated.withColumn("_digest", md5(col(textCol)))
          val firstCopy = keyed
            .withColumn("_rn", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("_digest").orderBy(col(idCol).asc)))
            .filter(col("_rn") === 1).drop("_rn")
          val deduped = graft.operators.Caches.track(
            firstCopy.join(priorDigests,
              firstCopy("_digest") === priorDigests("digest"), "left_anti"))

          // ---- 3. near-dup gate vs the saved band index
          val nearHits = graft.operators.Dedup.minhashLshAgainstSaved(
              deduped, corpus, corpusBands, idCol, textCol, k, bands, jaccard)
            .select(col("new_id").as(idCol)).distinct()
          val nearOk = deduped.join(nearHits, Seq(idCol), "left_anti")

          // ---- 4. span gate vs the frozen dup-gram table
          val spanHot = graft.operators.TextOps.duplicateSpansAgainst(
              nearOk, dupGrams, idCol, textCol, spanK, minTokens = maxSpanTokens)
            .select(idCol).distinct()
          val spanOk = nearOk.join(spanHot, Seq(idCol), "left_anti")

          // ---- 5. per-source token quota, cumulative across batches;
          // same walk order as Sampling.tokenBudget so a single-batch
          // source admits the identical prefix
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(sourceCol)
            .orderBy(expr(s"graft_hash60(CAST($idCol AS STRING))").asc, col(idCol).asc)
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
          val quotaOk = spanOk
            .join(broadcast(priorQuota), Seq(sourceCol), "left")
            .na.fill(0L, Seq("_prior"))
            .withColumn("_cum", sum(col(tokensCol).cast("long")).over(w))
            .filter(col("_prior") + col("_cum") <= budgetPerSource)

          // ---- 6. benchmark decontamination (exact broadcast gate)
          val cleanIds = graft.operators.TextOps.decontaminate(
              quotaOk, idCol, textCol, bench, benchTextCol, decontamN)
            .filter(!col("contaminated")).select(idCol)
          val kept = graft.operators.Caches.track(
            quotaOk.join(cleanIds, Seq(idCol), "left_semi"))

          // ---- epoch-keyed publication: sink rows, digest state, quota state
          atomicWrite(fs, new org.apache.hadoop.fs.Path(s"$sinkPath/batch_$epochId"),
            kept.select(cols.map(col): _*), "sink", epochId)
          atomicWrite(fs, new org.apache.hadoop.fs.Path(s"$digestsRoot/epoch_$epochId"),
            deduped.select(col("_digest").as("digest")).distinct(), "digests", epochId)
          atomicWrite(fs, new org.apache.hadoop.fs.Path(s"$quotaRoot/epoch_$epochId"),
            kept.groupBy(sourceCol)
              .agg(sum(col(tokensCol).cast("long")).as("admitted")), "quota", epochId)
        }
        ()
      }
      .start()
  }

  /** Streaming distribution-drift gate: per finalized tumbling window,
    * the PSI (population stability index) of the window's `value`
    * distribution against a STATIC reference sample — the streaming twin
    * of the batch `q_psi` drift check, watching a live ingest instead of
    * two snapshots. Bins are the same fixed equi-width 7 buckets, so the
    * whole histogram pivots inside ONE stateful aggregate (7 conditional
    * counts per window — no chained streaming aggregations, state per
    * window is 8 longs). The reference histogram is aggregated ONCE at
    * operator construction and inlined as literals (a stream-static
    * join would re-scan the reference table every micro-batch for the
    * stream's lifetime). Values are clamped into the edge bins at BOTH
    * ends (the batch check's GROUP BY gives an out-of-range value its
    * own bin; a fixed-width pivot can't, so bin 0/6 absorb the tails)
    * and NULL values are excluded from bins AND totals, so proportions
    * always sum to 1. +1 smoothing keeps empty bins finite; `drifted`
    * flags windows whose PSI exceeds the threshold (0.25 is the
    * conventional "significant shift" line). The PSI fold itself is
    * [[graft.operators.Profile.psiFoldExpr]], shared with `q_psi`.
    */
  def driftGate(events: DataFrame, reference: DataFrame,
                watermark: String = "10 minutes",
                window: String = "5 minutes",
                threshold: Double = 0.25): DataFrame = {
    def bucketOf(c: Column): Column =
      greatest(lit(0), least(lit(6), floor(c / 50).cast("int")))
    // 7 conditional sums pivot the histogram inside the ONE aggregate
    // (an aggregate can't run inside a transform lambda); coalesce keeps
    // a never-hit bin at 0, which the +1 smoothing then handles
    def bins(c: Column): Seq[Column] =
      (0 to 6).map(i => coalesce(sum(when(bucketOf(c) === i, 1L)), lit(0L)))
    // one-time driver materialization of the (immutable) reference: a
    // deliberate 1-row head(), same contract as Layout.zorderWrite's
    // bounds row — never inside the per-batch plan
    val r = reference
      .agg(array(bins(col("value")): _*), count(col("value")).cast("bigint"))
      .head()
    val refNs = r.getSeq[Long](0)
    val refTotal = r.getLong(1)
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(array(bins(col("value")): _*).as("cur_ns"),
        count(col("value")).cast("bigint").as("n_events"))
      .withColumn("psi", expr(graft.operators.Profile.psiFoldExpr(
        refNs = s"array(${refNs.mkString(", ")})", curNs = "cur_ns",
        refTot = refTotal.toString, curTot = "n_events", k = "7")))
      .select(col("window.start").as("win_start"), col("n_events"),
        col("psi"), (col("psi") > threshold).as("drifted"))
  }

  final case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int, total: Double)

  final case class EwmaState(n: Long, ewmaMicro: Long, ewvarC2: Long)
  final case class EwmaFlag(user_id: Long, ts_ms: Long, cents: Long,
      ewma_cents: Long, dev_cents: Long, flagged: Boolean)

  /** Streaming EWMA anomaly monitor — the streaming twin of the batch
    * `q_ts_ewma` smoothing + `q_ts_anomaly` z-gate: per key, an
    * exponentially weighted mean and deviation variance (α = 1/4)
    * maintained as INTEGER fixed-point state (mean in micro-cents,
    * variance in cents²; every update is a multiply-add-divide on
    * BIGINTs, so replays and rescheduling reproduce bit-identical
    * state), flagging events whose squared deviation exceeds k²·var
    * after a warmup. State is O(1) per key — three longs — and evicts
    * via EVENT-TIME timeout once a key has been idle past `idleEvictMs`
    * (the watermark drives eviction, so a churning key space can't
    * accumulate dead state; a re-appearing key just re-warms). Within a
    * micro-batch, a key's events process in event-time order; cross-
    * batch ordering is arrival order — the documented contract of every
    * EWMA monitor (a late event updates the smoother late, it does not
    * rewrite history).
    *
    * Reference analog: the incremental per-row state machines the
    * reference's streaming executor runs (src/backend/execute.js
    * row-at-a-time operators), expressed as Spark typed state.
    */
  def ewmaMonitor(events: Dataset[Event], k: Int = 3, warmup: Int = 3,
                  idleEvictMs: Long = 24L * 3600 * 1000): Dataset[EwmaFlag] = {
    import events.sparkSession.implicits._
    require(k >= 1 && warmup >= 1, "need k >= 1 and warmup >= 1")
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaFlag](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle key: drop the three-long state, emit nothing
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var st = state.getOption.getOrElse(EwmaState(0L, 0L, 0L))
            val out = Seq.newBuilder[EwmaFlag]
            sorted.foreach { e =>
              val cents = math.round(e.value * 100)
              if (st.n == 0L) {
                st = EwmaState(1L, cents * 1000000L, 0L)
                out += EwmaFlag(uid, e.ts.getTime, cents, cents, 0L, flagged = false)
              } else {
                val dev = cents - st.ewmaMicro / 1000000L
                // z² > k² in pure integers; the max(var, 1) floor keeps a
                // perfectly-constant history from flagging on noise of a
                // single cent — only a > k-cent jump breaks a flat line
                val flagged = st.n >= warmup &&
                  dev * dev > k.toLong * k * math.max(st.ewvarC2, 1L)
                val ewma2 = (cents * 1000000L + 3L * st.ewmaMicro) / 4L
                val evar2 = (dev * dev + 3L * st.ewvarC2) / 4L
                st = EwmaState(st.n + 1, ewma2, evar2)
                out += EwmaFlag(uid, e.ts.getTime, cents, ewma2 / 1000000L, dev, flagged)
              }
            }
            state.update(st)
            sorted.lastOption.foreach { e =>
              state.setTimeoutTimestamp(e.ts.getTime + idleEvictMs)
            }
            out.result().iterator
          }
      }
  }

  final case class QuotaEvent(ts: Timestamp, key: String, id: Long, tokens: Long)
  final case class QuotaVerdict(key: String, id: Long, ts_ms: Long,
      tokens: Long, cum_tokens: Long, admitted: Boolean)

  /** Streaming per-key token-budget admission — the streaming twin of
    * `Sampling.tokenBudget`: each key (source/domain) may contribute at
    * most `budget` cumulative tokens; every arriving document is emitted
    * with an `admitted` verdict (admit iff the running total INCLUDING
    * this row stays within budget), so the drop volume is observable
    * downstream rather than silent. The total counts every seen row,
    * admitted or not — the same prefix rule as the batch operator, so a
    * small document arriving after an overflowing large one is still
    * rejected (a quota, not a best-fit packer: admission is
    * arrival-prefix, deterministic given arrival order).
    *
    * State is ONE long per key and deliberately never evicted: an idle
    * timeout would silently refill a spent quota. Keys are sources /
    * domains — bounded in the thousands, so worst-case state is a few
    * KB per executor; if a deployment keys by something unbounded it
    * should wrap the key coarser upstream, not loosen the gate. Within a
    * micro-batch a key's rows process in (event-time, id) order;
    * cross-batch ordering is arrival order (the ewmaMonitor contract).
    */
  def quotaGate(events: Dataset[QuotaEvent], budget: Long): Dataset[QuotaVerdict] = {
    import events.sparkSession.implicits._
    require(budget >= 0, "budget must be >= 0")
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, QuotaVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[QuotaEvent], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.id)).map { e =>
            cum += e.tokens
            QuotaVerdict(key, e.id, e.ts.getTime, e.tokens, cum, cum <= budget)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Gap-based sessionization with typed state + event-time timeout —
    * the custom-stateful-operator surface (KeyValueGroupedDataset +
    * flatMapGroupsWithState) the reference's hand-rolled state machines
    * map to. Event-time (not processing-time) timeouts: they fire off the
    * watermark, so an idle stream doesn't spin empty micro-batches and
    * state eviction is deterministic w.r.t. data, not wall clock.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"${gapMs / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, s.start, s.last, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += Session(uid, s.start, s.last, s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close once the watermark passes the session's gap horizon
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
