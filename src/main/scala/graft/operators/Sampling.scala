package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampling surfaces for training-data pipelines.
  *
  * The split everyone actually ships is the HASH split: assignment is a
  * pure function of a stable id (never of partitioning, row order, or a
  * RNG stream), so it is reproducible across runs, engines, and
  * re-shards, and any late-arriving row lands in the same fold it would
  * have landed in last month. Narrow, codegen'd, no shuffle.
  */
object Sampling {

  /** Deterministic n-way fold assignment: `graft_hash60(id) % folds`. */
  def fold(df: DataFrame, idCol: String, folds: Int = 10,
           out: String = "fold"): DataFrame =
    df.withColumn(out,
      expr(s"CAST(graft_hash60(CAST($idCol AS STRING)) % $folds AS INT)"))

  /** Train/test split: rows whose fold lands below `testFolds` (of
    * `folds`) are tagged 'test', the rest 'train' — e.g. folds=10,
    * testFolds=1 is the standard 90/10 split.
    */
  def hashSplit(df: DataFrame, idCol: String,
                folds: Int = 10, testFolds: Int = 1,
                out: String = "split"): DataFrame =
    fold(df, idCol, folds, "_fold")
      .withColumn(out,
        expr(s"CASE WHEN _fold < $testFolds THEN 'test' ELSE 'train' END"))
      .drop("_fold")

  /** `graft_hash60` is uniform on [0, 2^60): a row passes rate `r` iff
    * its hash lands below `r * 2^60`. Thresholds are exact BIGINTs so
    * the same literal can drive any engine's filter.
    */
  private val HashSpace = BigDecimal(1152921504606846976L) // 2^60
  def rateThreshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    (BigDecimal(rate) * HashSpace).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
  }

  /** Stratified deterministic sampling: per-stratum keep rates (e.g.
    * up-weight low-resource languages, down-weight a crawler source),
    * with membership still a pure function of the id — the same row is
    * kept or dropped regardless of partitioning, run, or engine, and a
    * re-run over a grown corpus keeps every previously-kept row.
    * `rates` maps stratum value → keep fraction; strata not listed use
    * `defaultRate`. Narrow, codegen'd, no shuffle — this is the sampler
    * that reshapes a 100 TB corpus's domain mix in one scan.
    */
  /** SQL string literal from a stratum key — doubles embedded quotes so
    * a key like `O'Brien` can't break (or inject into) the CASE text.
    */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def stratified(df: DataFrame, strataCol: String, idCol: String,
                 rates: Map[String, Double],
                 defaultRate: Double = 1.0): DataFrame = {
    val cases = rates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN ${sqlLit(k)} THEN CAST(${rateThreshold(r)} AS BIGINT)"
    }.mkString(" ")
    // empty rates = default rate everywhere (a zero-arm CASE won't parse)
    val threshold =
      if (rates.isEmpty) s"CAST(${rateThreshold(defaultRate)} AS BIGINT)"
      else s"CASE $strataCol $cases ELSE CAST(${rateThreshold(defaultRate)} AS BIGINT) END"
    df.filter(expr(s"graft_hash60(CAST($idCol AS STRING)) < $threshold"))
  }

  /** Per-row weighted deterministic sampling: row `i` with weight
    * `w_i ∈ [0,1]` is kept iff `hash(id) < w_i * 2^60` — the
    * quality-weighted corpus downsampler (keep probability proportional
    * to a quality score), still a pure function of the id: reproducible
    * across runs/engines, monotone in the weight (raising a row's score
    * never drops a previously-kept row). Weights outside [0,1] clamp.
    * Narrow, codegen'd, no shuffle.
    */
  def weighted(df: DataFrame, idCol: String, weightCol: String): DataFrame =
    df.filter(expr(
      s"CAST(graft_hash60(CAST($idCol AS STRING)) AS DOUBLE) < " +
        s"least(greatest(CAST($weightCol AS DOUBLE), 0D), 1D) * 1152921504606846976D"))

  /** Deterministic corpus shuffle: a stable pseudo-random global order
    * from `hash(seed || id)` — the training-order shuffle every epoch
    * needs, reproducible given the seed and independent of input
    * partitioning; different seeds give independent orders. The sort is
    * a range-partitioned exchange (Spark's distributed sort), never a
    * single task; at write time pair with `Layout.partitionedWrite` or
    * a sharded sink to keep the order materialized.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
                           keepKeyAs: Option[String] = None): DataFrame = {
    val k = keepKeyAs.getOrElse("_shuf")
    val sorted = df.withColumn(k,
        expr(s"graft_hash60(concat(${sqlLit(seed + ":")}, CAST($idCol AS STRING)))"))
      .orderBy(col(k), col(idCol))
    if (keepKeyAs.isEmpty) sorted.drop(k) else sorted
  }

  /** Deterministic negative sampling for contrastive training pairs:
    * every row draws `k` pseudo-random partner ids from the corpus id
    * domain via the shared hash — `neg = hash60(seed:id:j) mod n`, with
    * a self-draw shifted to the next id — so the pairing is
    * reproducible across runs/engines/partitionings, and different
    * seeds give independent negative sets (fresh negatives per epoch).
    * Adds `j` (0-based draw index) and `neg_id`.
    *
    * PRECONDITION: `idCol` is dense on [0, n) (the post-split/packing
    * corpus shape; densify with [[graft.operators.PositionalJoin]]'s
    * zipWithIndex pass otherwise) — a sparse domain would silently bias
    * draws toward gaps' neighbors. `n` comes from a ONE-ROW broadcast
    * count, so the draw itself is a narrow codegen'd explode: no
    * shuffle until the caller joins payloads onto `neg_id` (one
    * equi-join, the shape every contrastive-batch builder needs
    * anyway). A 1-row corpus fails loudly at runtime (its only "next
    * id" under the self-draw shift is itself, so the non-self contract
    * is unsatisfiable); an empty corpus yields empty output.
    */
  def negatives(df: DataFrame, idCol: String, k: Int,
                seed: String): DataFrame = {
    require(k >= 1 && k <= 1000, "need k in [1,1000]")
    // data-dependent precondition ⇒ raise_error-in-IF, not require():
    // with n=1 the shift (c+1)%n returns the row's own id, silently
    // violating the non-self contract. n=0 passes — no rows draw.
    val n1 = df.agg(count(lit(1)).cast("bigint").as("_n"))
      .select(expr(
        "IF(_n <> 1, _n, raise_error('negatives: 1-row corpus has no non-self partner'))")
        .as("_n"))
    val h = s"graft_hash60(concat(${sqlLit(seed + ":")}, " +
      s"CAST($idCol AS STRING), ':', CAST(j AS STRING)))"
    df.crossJoin(broadcast(n1))
      .select(col("*"), explode(expr(
        s"transform(transform(sequence(0, ${k - 1}), j -> named_struct('j', CAST(j AS BIGINT), 'c', $h % _n)), " +
          s"s -> named_struct('j', s.j, 'neg_id', IF(s.c = $idCol, (s.c + 1) % _n, s.c)))")).as("_neg"))
      .select(col("*"), col("_neg.j").as("j"), col("_neg.neg_id").as("neg_id"))
      .drop("_neg", "_n")
  }

  /** Dataset-mixture sampling WITH oversampling: per-stratum rates may
    * exceed 1 (epoch-style up-weighting of scarce domains — rate 2.3
    * replicates every row twice and a deterministic 30% of rows a third
    * time). Each output row carries a 0-based `copy` index. Rates are
    * held as exact parts-per-million so the fractional draw is an
    * integer compare on the shared hash — reproducible across
    * runs/engines/partitionings, and monotone: raising a stratum's rate
    * never removes an existing (row, copy).
    *
    * Narrow: one codegen'd explode whose fan-out is the rate itself —
    * no shuffle, no join; downstream shuffles see the post-mix size,
    * which is exactly what the mixture weights promised.
    */
  def mixture(df: DataFrame, strataCol: String, idCol: String,
              rates: Map[String, Double], defaultRate: Double = 1.0,
              seed: String = "mix", out: String = "copy"): DataFrame = {
    def ppm(r: Double): Long = {
      require(r >= 0.0, s"rate must be >= 0, got $r")
      math.round(r * 1e6)
    }
    val cases = rates.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN ${sqlLit(k)} THEN CAST(${ppm(r)} AS BIGINT)"
    }.mkString(" ")
    // an empty rates map means "default everywhere" — a CASE with no
    // WHEN arms does not parse
    val rppm =
      if (rates.isEmpty) s"CAST(${ppm(defaultRate)} AS BIGINT)"
      else s"(CASE $strataCol $cases ELSE CAST(${ppm(defaultRate)} AS BIGINT) END)"
    val h = s"(graft_hash60(concat(${sqlLit(seed + ":")}, CAST($idCol AS STRING))) % 1000000)"
    val copies = s"(($rppm div 1000000) + IF($h < ($rppm % 1000000), 1, 0))"
    df.withColumn(out, explode(expr(
      s"IF($copies <= 0, array(), sequence(CAST(0 AS BIGINT), CAST($copies - 1 AS BIGINT)))")))
  }

  /** Class-balanced downsampling: every stratum keeps exactly
    * min-stratum-count rows — the smallest class survives whole, larger
    * classes keep their lowest-hash members (deterministic, and a grown
    * majority class never evicts previously-kept rows of other strata).
    * The balanced-classification prep step.
    *
    * Physically: a per-stratum rank window (key-partitioned) and a
    * 1-row broadcast min-count — one shuffle on the stratum, the same
    * shape as any per-group rank statistic.
    */
  def balanced(df: DataFrame, strataCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(expr(s"graft_hash60(CAST($idCol AS STRING))"), col(idCol))
    val minc = df.groupBy(col(strataCol)).agg(count(lit(1)).as("_c"))
      .agg(min("_c").as("_minc"))
    df.withColumn("_rnk", row_number().over(w))
      .crossJoin(broadcast(minc))
      .filter(col("_rnk") <= col("_minc"))
      .drop("_rnk", "_minc")
  }

  /** Deterministic k-per-key sample: the k rows with the SMALLEST id
    * hashes in each key group — a reproducible stand-in for per-key
    * reservoir sampling (same sample every run/engine; adding rows to a
    * group only ever swaps the largest-hash member out). The merge is
    * [[TopK.perKey]], so the scored input is never hash-partitioned
    * into one reducer per key. Adds `rnk` (1-based within key).
    */
  /** Per-source token-budget cap: within each `keyCol` group, walk the
    * rows in deterministic hash-of-id order and keep the prefix whose
    * cumulative `tokensCol` stays within `budget` — the corpus-mixing
    * step that caps how many training tokens any one source/domain may
    * contribute (the over-represented-domain guard), while hash order
    * makes the kept prefix an unbiased, reproducible sample of the
    * group. Rows are kept while `cum_tokens <= budget`, where the sum
    * includes the row itself: a row that would overflow the budget is
    * dropped, as is everything after it in hash order. Adds `cum_tokens`.
    *
    * Scale shape: ONE window aggregate partitioned by the group key
    * (never unpartitioned), running-sum frame — a single shuffle of
    * `(key, hash, tokens)`-sized rows; the hash tiebreak on id makes the
    * order total, so the kept set is identical under any partitioning.
    * Skewed groups are a window over one key's rows — bounded by the
    * largest group, the same bound any per-group pass has.
    */
  def tokenBudget(df: DataFrame, keyCol: String, idCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(expr(s"graft_hash60(CAST($idCol AS STRING))").asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  def perKeySample(df: DataFrame, keyCols: Seq[String], idCol: String,
                   k: Int): DataFrame =
    TopK.perKey(
        df.withColumn("_skh", expr(s"graft_hash60(CAST($idCol AS STRING))")),
        keyCols, Seq(org.apache.spark.sql.functions.col("_skh").asc), k)
      .drop("_skh")

  /** WEIGHTED reservoir (Efraimidis–Spirakis A-ES): exactly `k` rows per
    * stratum, inclusion probability proportional to `weightCol`, WITHOUT
    * replacement — the subset-selection rule for "keep the k best-quality
    * docs per source, proportionally to quality" that plain Bernoulli
    * weighting ([[weighted]]) cannot express (it fixes the RATE, not the
    * COUNT). Deterministic in (seed, id): u = (hash60(seed:id)+1)/2^60 ∈
    * (0,1], rank key = -ln(u)/w — the k SMALLEST keys win (equivalent to
    * the paper's largest-u^(1/w) formulation). Determinism contract:
    * -ln(u) alone is rounded ONCE to integer micro-nats (killing the
    * engine-varying last ulp of ln), and only THEN divided by the weight
    * as an IEEE double — correctly-rounded division of identical inputs
    * is bit-identical in every engine, and the precision is RELATIVE to
    * the weight scale (quantizing the quotient to absolute micro-nats
    * would collapse all keys to 0 for weights ≳ 1e6, silently degrading
    * selection to smallest-id-first). Ties break by id. Rows with
    * NULL or non-positive weight are excluded (zero weight = never
    * sampled, the A-ES limit). Output `res_key` is the quotient rounded
    * to 6 decimals for display; ordering uses the unrounded quotient.
    *
    * Scale shape: the key is a narrow per-row expression; the per-stratum
    * k-smallest merge is [[TopK.perKey]] — a partial pass per partition,
    * never one reducer per stratum. Adds `rnk` (1..k within stratum).
    */
  def weightedReservoir(df: DataFrame, strataCol: String, idCol: String,
                        weightCol: String, k: Int,
                        seed: String = "res1"): DataFrame = {
    require(k >= 1, "k must be positive")
    val twoPow60 = "1152921504606846976"
    val keyed = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("_res_key", expr(
        s"CAST(round(-ln((graft_hash60(concat('$seed:', CAST($idCol AS STRING))) + 1) " +
          s"/ $twoPow60.0) * 1000000) AS BIGINT) / CAST($weightCol AS DOUBLE)"))
    TopK.perKey(keyed, Seq(strataCol),
        Seq(col("_res_key").asc, col(idCol).asc), k)
      .withColumn("res_key", round(col("_res_key"), 6))
      .drop("_res_key")
  }

  /** Temperature-scaled source mixture (the multilingual/multi-corpus
    * sampling rule of mBERT/XLM-R/PaLM: p_i ∝ n_i^α flattens the source
    * distribution so head corpora stop drowning the tail). α is fixed at
    * 0.5 — the exponent becomes `sqrt`, the ONE power both engines
    * round identically (IEEE-correctly), keeping the weights
    * oracle-checkable bit-for-bit. Per stratum:
    *  - `n_tokens`  — the stratum's token mass,
    *  - `weight`    — sqrt(n_i) / Σ sqrt(n_j), rounded 1e-6,
    *  - `expected_tokens` — the stratum's share of `budget`,
    *  - `epochs`    — expected_tokens / n_tokens (>1 ⇒ the tail corpus
    *    repeats; the number a data-mixture plan is sanity-checked on).
    *
    * Scale shape: one partial-aggregated groupBy to |strata| rows, then
    * a broadcast of the single normalization scalar — the 100 TB corpus
    * is touched exactly once, map-side combined.
    */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its hashed-bigram features are under a TARGET
    * distribution (e.g. a trusted high-quality source) than under the raw
    * corpus — the standard recipe for tilting a web-scale crawl toward a
    * quality domain without training a classifier. `targetExpr` is a
    * boolean SQL expression naming the target rows; features are word
    * bigrams hashed into `buckets` buckets (feature hashing, the paper's
    * construction).
    *
    * The weight is Σ_g [ln p_target(bucket(g)) - ln p_raw(bucket(g))]
    * over the document's bigram OCCURRENCES, with add-one smoothing.
    * Determinism: each bucket's log-ratio is rounded ONCE to integer
    * micro-nats; per-document weights are then exact BIGINT sums of those
    * integers — independent of partial-agg order and bit-equal across
    * engines (the [[graft.operators.Vectors.kmeans]] integer contract
    * applied to importance weighting). Documents with no bigram (< 2
    * tokens) have no features and are omitted.
    *
    * Scale shape: one explode scan builds (id, bucket) pairs; bucket
    * statistics are `buckets` rows (map-side combined, then a one-row
    * total) and come BACK as a broadcast join — the corpus shuffles only
    * into the final per-id sum. No pairwise work, no model training.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetExpr: String, buckets: Int = 128): DataFrame = {
    require(buckets >= 2, "need at least 2 feature buckets")
    val tk = TextOps.wordsExpr(textCol)
    // tk bound as a lambda variable (the TextOps.gopherSignals rule):
    // as a column alias the per-element element_at references re-ran
    // the whole split after project collapse — quadratic in doc length
    val bi = s"element_at(transform(array($tk), tk -> " +
      "IF(size(tk) < 2, CAST(array() AS ARRAY<STRING>), " +
      "transform(sequence(1, size(tk) - 1), " +
      "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1))))), 1)"
    // tracked persist: both the bucket-stats aggregate and the final
    // scoring join consume this frame, so without it the tokenize+
    // explode+hash corpus scan runs twice (Caches.unpersistAll /
    // a Caches.scoped caller releases it)
    val ex = Caches.track(df
      .select(col(idCol), expr(targetExpr).cast("boolean").as("_tgt"),
        explode(expr(bi)).as("_g"))
      .withColumn("_b", expr(s"graft_hash60(_g) % $buckets")))
    val stats = ex.groupBy("_b").agg(
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_t"),
      count(lit(1)).as("_r"))
    val totals = stats.groupBy()
      .agg(sum("_t").as("_tt"), sum("_r").as("_rr"))
    val lr = stats.crossJoin(broadcast(totals))
      .select(col("_b"), expr(
        s"CAST(round((ln(_t + 1) - ln(_tt + $buckets) " +
          s"- ln(_r + 1) + ln(_rr + $buckets)) * 1000000) AS BIGINT)").as("_lr"))
    ex.select(col(idCol), col("_b"))
      .join(broadcast(lr), "_b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum("_lr").as("dsir_w_micro"))
  }

  def temperatureWeights(df: DataFrame, strataCol: String, tokensCol: String,
                         budget: Long): DataFrame = {
    require(budget >= 0, "budget must be >= 0")
    val per = df.groupBy(col(strataCol))
      .agg(sum(col(tokensCol).cast("long")).as("n_tokens"))
    val z = per.groupBy().agg(sum(expr("sqrt(n_tokens)")).as("_z"))
    per.crossJoin(broadcast(z))
      .select(col(strataCol),
        col("n_tokens"),
        expr("round(sqrt(n_tokens) / _z, 6)").as("weight"),
        expr(s"CAST(round($budget * (sqrt(n_tokens) / _z)) AS BIGINT)")
          .as("expected_tokens"),
        expr(s"round(CAST(round($budget * (sqrt(n_tokens) / _z)) AS BIGINT) " +
          "/ CAST(n_tokens AS DOUBLE), 6)").as("epochs"))
  }
}
