package graft.tools

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SimpleMode}

/** Dumps physical plans, in two forms:
  *
  *   - no arguments: the headline queries' plans to PLANS.md — the
  *     artifact backing the scale-design claims (pushdown, broadcast,
  *     TakeOrdered, narrow pipelines). Regenerate:
  *     `sbt "runMain graft.tools.PlanDump"`;
  *   - `<outDir> <suffix> q...`: `.explain("formatted")` of each named
  *     query to `<outDir>/<q>_<suffix>.txt` — before/after plan evidence
  *     for an optimization. Env: `SPARK_GRAFT_SF_DIR` (default: the sf0.1
  *     test data).
  */
object PlanDump {
  private val headline = Seq(
    "q_agg" -> "TPC-H Q1-style aggregation: partial+final HashAggregate, pushed filter",
    "q_join_3way" -> "3-way join: dimensions broadcast, fact never shuffles for the join",
    "q_topk" -> "top-k: TakeOrderedAndProject (per-partition top-k + driver merge)",
    "q_dedup_minhash" -> "minhash signatures: one narrow codegen pipeline over the scan",
    "q_dedup_minhash_pairs" -> "LSH banding: shuffle keys are (band, 2 longs), candidates verified per bucket",
    "q_ann_brute" -> "brute-force ANN: tiny query side broadcast, corpus scanned once; TopK.perKey merge — native WindowGroupLimit partial top-k below the key exchange (r16), window only over the survivors",
    "q_window_range" -> "bounded RANGE frame as a PARTITIONED bucket window (boundary rows spilled into the next bucket) — no single-partition Window",
    "q_sessionize" -> "sessionization: single hash-partition by user, two window passes",
    "q_salted_agg" -> "salted aggregation: partial per (key, salt) then combine per key",
    "q_text_chunk" -> "document chunking: one narrow Generate (explode) inside codegen — zero shuffles",
    "q_asof_join" -> "as-of join via union-merge: ONE shuffle on the key, running last() window — no range probe",
    "q_range_join" -> "range join as bucketed equi-join + residual BETWEEN — no BroadcastNestedLoop",
    "q_text_pack" -> "sequence packing: per-shard running-sum window — parallel across shards, sequential only within one",
    "q_interval_overlap" -> "interval overlap join: both sides explode to spanned buckets, equi-join + residual, pair kept only in its overlap-start bucket (no DISTINCT)",
    "q_text_repetition" -> "repetition signals: sorted-run-length HOFs over the token array — one narrow codegen pipeline; the one exchange is the ordered output's",
    "q_ts_resample" -> "time-series resample: tiny per-key bounds agg, narrow grid explode, then the as-of union-merge (one shuffle + sort)",
    "q_fuzzy_join" -> "fuzzy join: char-2gram LSH band equi-join for candidates, thresholded levenshtein verify — no cross join",
    "q_sample_per_key" -> "per-key sample: TopK.perKey — WindowGroupLimit partial k-smallest pass (r16), window only over survivors",
    "q_text_decontam" -> "decontamination: corpus grams hashed map-side, matched against the BROADCAST benchmark gram set — only hits reach the counting shuffle",
    "q_dedup_containment" -> "containment: inverted gram index (equi-join on gram_hash) with a document-frequency cap — never all-pairs",
    "q_merge_upsert" -> "MERGE: one anti-join on the key (small updates side broadcasts) + union — no window, no collect",
    "q_feature_winsorize" -> "winsorize: per-group percentile agg broadcast back onto the rows — never a per-group window",
    "q_sample_shuffle" -> "deterministic corpus shuffle: hash(seed||id) order, LIMIT head plans as distributed TakeOrdered",
    "q_agg_corr" -> "correlation/regression: ONE partial+final aggregate carries the exact decimal moment sums; the closed forms run on the tiny grouped result",
    "q_tpch_q5" -> "TPC-H Q5: ASIA dim pre-prunes BOTH fact inputs via broadcast joins before the one fact-fact orderkey shuffle (r15 scratch diet)",
    "q_funnel" -> "ordered-step funnel: one LINEAR chain (per-user agg, two left joins, one count row) — each pushed-filter scan referenced exactly once, no CTE re-inlining",
    "q_pagerank" -> "integer PageRank round: ranks equi-join onto edges + partial+final sum by dst — the Pregel message shape, BIGINT-exact",
    "q_ts_rolling" -> "trailing window metrics: key-partitioned RANGE frame over numeric epochs — per-key streaming pass, no self-join range probe",
    "q_scd2" -> "SCD2 history: key-partitioned windows (lag collapse + lead close) — dimension history streams per key",
    "q_hybrid_search" -> "hybrid RRF: two top-20 TakeOrdered heads (lexical + vector), tiny broadcast rank self-joins, full-outer fuse",
    "q_kmeans" -> "integer k-means round: corpus × BROADCAST ≤k centroids for assignment, centroidSums partial-agg shape for the update — corpus never shuffles",
    "q_sketch_overlap" -> "KMV sketches: distinct-hash shuffle then TakeOrderedAndProject bottom-k per side (the per-partition-then-merge IS the sketch merge); estimates on one-row arrays",
    "q_lm_surprisal" -> "LM surprisal: narrow bigram explode, equi-join onto the model keyed (w1,w2), partial+final per-doc agg — integer bin() bits, no window",
    "q_ts_interpolate" -> "linear interpolation: grid + observations union-merge through ONE key-partitioned sort; preceding last() finds t0, strictly-following first() finds t1 — two frames, one Exchange",
    "q_tpch_q3" -> "TPC-H Q3: pushed segment/date filters, fact-fact shuffle once, TakeOrderedAndProject head",
    "q_pipeline_e2e" -> "end-to-end pipeline: persisted stage frames (quality/exact/LSH/decontam) so per-stage reports never re-run upstream lineage; broadcast benchmark grams",
    "q_weighted_median" -> "weighted median: one key-partitioned cumulative window + broadcast per-key totals — no global sort, no self-join",
    "q_inverted_index" -> "bounded inverted index: TopK.perKey rank-caps posting lists BEFORE collect_list (WindowGroupLimit partial + rank filter), count branch partial-combines — no df-sized aggregation buffer",
    "q_custom_source" -> "custom DataSourceV2 scan: id predicates narrow the generated range before partition planning, columns prune to the projection",
    "q_custom_source_agg" -> "aggregate pushdown into the custom scan: COUNT/MIN/MAX answered in closed form by a one-row scan — no row generation at any scale",
    "q_async_score" -> "async batched scoring: mapPartitions pipeline (batch + bounded in-flight + FIFO drain), then partial+final per-source aggregate",
    "q_ann_pq" -> "PQ ADC search: per-query LUT broadcast onto corpus codes (narrow HOF), TopK.perKey merge — the brute-force plan shape at 1/16th per-row arithmetic",
    "q_ann_ivfpq" -> "IVF+PQ: cell argmin over one-row broadcast seeds, probe-cell equi-join prunes the corpus, ADC over the broadcast LUT, TopK.perKey merge",
    "q_text_substring_dup" -> "repeated windows: narrow window explode, partial-combining count, hot-set semi-join BEFORE the TopK example cap — both buffers bounded",
    "q_split_group" -> "group-aware split: narrow hash on the group key; leak audit is a per-group distinct count + one-row broadcast",
    "q_cdc_diff" -> "snapshot diff: ONE full-outer equi-join on the key — both snapshots shuffle once, classification is a narrow CASE",
    "q_tpch_q18" -> "TPC-H Q18: big-order HAVING pre-reduces map-side then BROADCASTS onto orders — the fact table never shuffles for the join",
    "q_tpch_q15" -> "TPC-H Q15: the revenue aggregate feeds the join probe AND the scalar max through ONE exchange (explicit pre-groupBy null filter keeps both subtrees canonical-equal for AQE reuse)",
    "q_tpch_q17" -> "TPC-H Q17: correlated per-part average as ONE partitioned window over the broadcast-joined scan — no lineitem re-scan; threshold cross-multiplied to an integer compare",
    "q_tpch_q21" -> "TPC-H Q21: EXISTS → LeftSemi and NOT EXISTS → LeftAnti hash joins on the order key with the supplier inequality as residual — never row-by-row",
    "q_tpch_q2" -> "TPC-H Q2: broadcast part filter prunes lineitem BEFORE the pair-dedup shuffle; correlated min-cost-per-part is a window over the partition the pairs already have",
    "q_embed_drift" -> "embedding drift: ONE scan + posexplode with per-snapshot conditional sums (a filtered-twice join would scan twice and drop one-parity labels)",
    "q_psi" -> "population stability index: one grouped count aggregate + a 7-row fold — only bin counts cross the wire",
    "q_text_dup_spans" -> "maximal dup spans: exact-gram count partial-combines, occurrences LEFT SEMI the hot duplicated set, per-doc island window, ONE join back for span text — no cartesian, no suffix array",
    "q_text_bpe_exact" -> "tokenizer-exact BPE: the nested-replace encoder runs once per DISTINCT word, occurrences take a BROADCAST dictionary join, corpus moves only into the per-doc partial+final sum",
    "q_sample_dsir" -> "DSIR importance weights: bucket stats aggregate to 128 rows + a 1-row total, log-ratios BROADCAST back onto the corpus explode — only the per-id sum shuffles",
    "q_text_gopher" -> "Gopher rule battery: sorted-run-length + distinct-count HOFs per row — one narrow codegen pipeline; the one exchange is the ordered output's",
    "q_ann_indexed" -> "on-disk IVF-PQ search: probe cells from a 1-row broadcast seed set, codes scan equi-joins the partition column (file pruning), broadcast LUT ADC, TopK.perKey merge",
    "q_dedup_representative" -> "cluster representatives: clusters join members once, max_by(score, ties lowest id) partial+final — no per-cluster window, no collect",
    "q_multimodal_audio" -> "audio features: typed-Dataset map through the REAL javax.sound decode — narrow, payloads never shuffle, one Exchange for the ordered output",
    "q_dedup_sliced" -> "sliced full-corpus dedup: each slice equi-joins the BUCKETED saved band index (corpus side exchange-free), corpus_id < new_id keeps every pair exactly once — the bounded-scratch shape that completes at 1000x rows")

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3, "usage: PlanDump [<outDir> <suffix> q...]")
    val spark = GraftSession.get("plandump")
    if (args.isEmpty) headlinePlans(spark)
    else namedPlans(spark, args(0), args(1), args.toSeq.drop(2))
    spark.stop()
  }

  private def headlinePlans(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append(s"# PLANS — headline physical plans (sf0.001, local[${GraftSession.localCores}])\n\n")
    sb.append("Generated by `graft.tools.PlanDump`; the properties asserted in\n")
    sb.append("PlanQualitySpec/BucketingSpec are visible below. `*(n)` marks a\n")
    sb.append("WholeStageCodegen stage.\n")
    headline.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(SimpleMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("wrote PLANS.md")
  }

  private def namedPlans(spark: SparkSession, outDir: String, suffix: String,
                         names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val out = s"$outDir/${name}_$suffix.txt"
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        Files.writeString(Paths.get(out), df.queryExecution.explainString(FormattedMode))
        println(s"PLANDUMP wrote $out")
      } catch {
        case e: Throwable => System.err.println(s"PLANDUMP $name failed: $e")
      }
      graft.operators.Caches.unpersistAll()
    }
  }
}
