package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-column operators beyond similarity search: per-group
  * centroids — the building block for IVF coarse quantizer training,
  * cluster summaries, and drift monitoring.
  */
object Vectors {

  /** Uniquifier for per-call observation names (see [[semanticDedup]]). */
  private val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shared micro-unit quantization with the dims guard — ONE text for
    * every PQ entry point, because these strings are load-bearing for
    * cross-engine integer determinism: a rounding/offset edit in one
    * copy but not another would diverge silently.
    */
  private[graft] def microQuantExpr(embCol: String, dims: Int,
                                    scale: Long, offset: Long,
                                    op: String): String =
    s"IF(size($embCol) = $dims, " +
      s"transform($embCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT) + $offset), " +
      s"raise_error(concat('$op: expected $dims dims, got ', CAST(size($embCol) AS STRING))))"

  /** Codebook collapsed to ONE broadcastable row of (sub, cid, ce). */
  private[graft] def collapsedCodebook(codebook: DataFrame): DataFrame =
    codebook.groupBy().agg(
      sort_array(collect_list(struct(col("sub"), col("cid"), col("ce"))))
        .as("_cb"))

  /** Per-query ADC lookup table: (_qid, _lut) with one integer distance
    * per codebook entry. Small (queries × m·k) — broadcast it.
    */
  private[graft] def pqLut(queries: DataFrame, qidCol: String, embCol: String,
                           codebook: DataFrame, m: Int, dims: Int,
                           scale: Long, offset: Long, op: String): DataFrame = {
    val sd = dims / m
    queries
      .select(col(qidCol).as("_qid"), col(embCol).as("_qemb"))
      .crossJoin(broadcast(collapsedCodebook(codebook)))
      // the quantized query is bound as a lambda VARIABLE (SURVEY §6):
      // as a withColumn alias, CollapseProject inlined the quantization
      // into the per-entry lambda and re-ran it once per m*k LUT cells.
      // graft_sqdist raises on a ragged slice-vs-entry pair (an m/dims
      // mismatch against the codebook's true geometry) — the zip_with it
      // replaces padded with NULLs, which an asc argmin would rank first
      .withColumn("_lut", expr(
        s"element_at(transform(array(${microQuantExpr("_qemb", dims, scale, offset, op)}), qe -> " +
          s"transform(_cb, c -> named_struct('sub', c.sub, 'cid', c.cid, " +
          s"'d', graft_sqdist(slice(qe, c.sub * $sd + 1, $sd), c.ce)))), 1)"))
      .select("_qid", "_lut")
  }

  /** ADC sum over a codes column against the broadcast `_lut`. A code
    * with no codebook entry (NULL from [[pqAssign]] on a missing
    * subspace, or a foreign codebook) fails LOUDLY with a named error —
    * under asc ordering a silent NULL distance would take rank 1.
    */
  private[graft] def adcExpr(codesCol: String, m: Int): String =
    // native one-pass LUT scan (IntVec.scala AdcSum) — same sum, same
    // loud failure on a missing/NULL code, replacing a per-row
    // double-filter over the LUT that dominated indexed-search time
    s"graft_adc($codesCol, _lut)"

  /** Element-wise mean embedding per `labelCol` group.
    *
    * Sums run over scaled int64 ("micro-units"), not floats: integer
    * addition is associative, so the result is independent of partial-
    * aggregation order — the property that makes the answer stable
    * across partitionings, engines, and reruns (float sums are not).
    *
    * Scale shape: posexplode → partial-combining hash aggregate on
    * (label, pos). The shuffle carries one row per (label, pos) PER MAP
    * PARTITION — map-side combine collapses the n×dim explode — then a
    * tiny per-label reassembly. No collect, no all-pairs.
    */
  def centroids(df: DataFrame, labelCol: String, embCol: String,
                scale: Long = 1000000L): DataFrame =
    centroidSums(df, labelCol, embCol, scale)
      .withColumn("centroid",
        expr(s"transform(sums, s -> CAST(s AS DOUBLE) / $scale / n_vecs)"))
      .drop("sums")

  /** SemDeDup-style semantic deduplication: within each cluster, a
    * vector is dropped iff a SMALLER-id cluster-mate sits at cosine ≥
    * `tau` — the same greedy keep-first policy as
    * [[Dedup.dropNearDuplicates]], here over embedding geometry instead
    * of text shingles. `clusterCol` is the coarse partition (a corpus
    * label, or nearest-centroid cell from [[centroids]] — the IVF
    * assignment shape); `vecCol` must be DOUBLE[] (cast float embeddings
    * first). Cosines are rounded at 6dp BEFORE the threshold compare so
    * the kept set is engine-portable.
    *
    * Scale shape: the pair join is an EQUI-join on the cluster id —
    * in-cluster quadratic, cross-cluster zero, the SemDeDup contract
    * (clusters bound the candidate sets). `maxCluster` enforces that
    * contract the same way [[Dedup.minhashLsh]]'s `maxBucket` does:
    * clusters larger than the cap are EXCLUDED from the pair join (their
    * rows pass through un-deduped), so a degenerate clustering (k-means
    * collapse, a constant cluster column) can never go silently O(n²).
    * The number of bypassed rows is observable at runtime via the
    * `graft_semantic_dedup` observation (metric `oversized_rows`); route
    * oversized clusters through [[Dedup.cosinePairs]] if they must still
    * be deduped.
    */
  def semanticDedup(df: DataFrame, clusterCol: String, idCol: String,
                    vecCol: String, tau: Double,
                    maxCluster: Int = 10000): DataFrame = {
    require(maxCluster >= 1, "maxCluster must be positive")
    // one row per cluster — tiny next to the corpus; joined back
    // NULL-SAFELY (`<=>`) so the NULL-cluster group (unassigned rows)
    // is size-tagged like any other instead of silently dropped
    val sizes = df.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("_csz"))
      .withColumnRenamed(clusterCol, "_szk")
    // plain (non-forced-broadcast) join: the sizes side is one row per
    // cluster — usually tiny, but cluster count is data-dependent, so
    // let AQE pick broadcast vs shuffle
    val tagged = df
      .join(sizes, col(clusterCol) <=> col("_szk"))
      .drop("_szk")
      // per-call unique metric name: observed metrics must be named
      // uniquely within a query, and one query may compose this
      // operator more than once
      .observe(s"graft_semantic_dedup_${Vectors.obsId.incrementAndGet()}",
        sum(when(col("_csz") > maxCluster, 1L).otherwise(0L))
          .as("oversized_rows"))
    val eligible = tagged.filter(col("_csz") <= maxCluster)
    val a = eligible.select(col(clusterCol).as("_c"), col(idCol).as("_ida"),
      col(vecCol).as("_va"))
    val b = eligible.select(col(clusterCol).as("_cb"), col(idCol).as("_idb"),
      col(vecCol).as("_vb"))
    // null-safe pair join: the NULL cluster is a group like any other
    // (it was size-tagged and capped above) — a plain equi-join would
    // exempt its members from dedup entirely
    val drops = a.join(b, col("_c") <=> col("_cb"))
      .filter(col("_ida") < col("_idb"))
      .filter(expr(
        s"round(graft_dot(_va, _vb) / (sqrt(graft_dot(_va, _va)) * sqrt(graft_dot(_vb, _vb))), 6) >= $tau"))
      .select(col("_idb").as(idCol)).distinct()
    tagged.drop("_csz").join(drops, Seq(idCol), "left_anti")
  }

  /** Symmetric per-vector int8 quantization: `q[i] = round(v[i] * 127 /
    * max|v|)`, carried with the per-vector scale `q_scale = max|v|`.
    * This is the standard 4× memory/IO lever for embedding columns at
    * corpus scale — a 100 TB float32 embedding table becomes 25 TB, and
    * ANN scoring on int8 dot products reconstructs approximate cosine
    * via `dot(qa, qb) · (sa/127) · (sb/127)`. Rounding is the explicit
    * `floor(x + 0.5)` form so any engine computing the same expression
    * produces bit-identical codes (library `round` half-even vs
    * half-away choices would diverge). Dequantization error per element
    * is ≤ q_scale/254 + float eps. Adds `q_scale` (DOUBLE) and `q8`
    * (ARRAY<INT> in [-127, 127]). Narrow, codegen'd, no shuffle.
    */
  def quantizeInt8(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("q_scale",
        expr(s"array_max(transform($embCol, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("q8", expr(
        s"IF(q_scale = 0D, transform($embCol, x -> 0), " +
          s"transform($embCol, x -> CAST(floor(CAST(x AS DOUBLE) * CAST(127 AS DOUBLE) / q_scale + CAST(0.5 AS DOUBLE)) AS INT)))"))

  /** Inverse of [[quantizeInt8]]: approximate float reconstruction. */
  def dequantizeInt8(df: DataFrame, q8Col: String = "q8",
                     scaleCol: String = "q_scale", out: String = "emb_approx"): DataFrame =
    df.withColumn(out,
      expr(s"transform($q8Col, q -> CAST(q AS DOUBLE) * $scaleCol / CAST(127 AS DOUBLE))"))

  /** Deterministic ±1 signs for random-projection row `j` over `dims`
    * input dimensions: bit 0 of the md5 of `"rp:<j>:<d>"` — the same
    * shared-md5 derivation as the ANN hyperplanes (VectorQueries
    * .planeSigns), under a distinct seed namespace so projection rows
    * never alias LSH planes. Computed once per PLAN and inlined as an
    * array literal, never per row.
    */
  def projectSigns(j: Int, dims: Int = 64): Seq[Long] =
    (1 to dims).map { d =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$j:$d".getBytes("UTF-8"))
      if ((digest(0) & 1) == 1) 1L else -1L
    }

  /** Random ±1 (Achlioptas/JL-style) projection of an embedding column
    * to `outDims` dimensions, in EXACT integer arithmetic: coordinates
    * quantize to micro-unit BIGINTs (the [[kmeans]] scheme, sans
    * offset — signs make negatives unavoidable and no division ever
    * happens), each output dimension is a BIGINT sum of signed
    * micro-coordinates, so the projection is bit-identical on any
    * engine/partitioning — no float fold-order question at all. Output
    * column `proj` is ARRAY<BIGINT> in micro-units (divide by `scale`
    * for the real-valued projection; E‖proj‖² = outDims·‖v‖²·scale²).
    *
    * This is the 4-8× dimensionality lever in front of ANN / clustering
    * at corpus scale: project once (narrow, codegen'd, zero shuffle),
    * then every downstream distance costs outDims multiplies instead
    * of dims.
    */
  def randomProject(df: DataFrame, embCol: String, outDims: Int = 8,
                    dims: Int = 64, scale: Long = 1000000L): DataFrame = {
    require(outDims >= 1 && outDims <= dims, "need 1 <= outDims <= dims")
    val rows = (0 until outDims).map { j =>
      val arr = projectSigns(j, dims).mkString("array(", "L, ", "L)")
      s"aggregate(zip_with(_rpq, $arr, (x, s) -> x * s), CAST(0 AS BIGINT), (a, v) -> a + v)"
    }
    // a length mismatch would zip_with-pad with NULLs and fold whole
    // output dimensions to NULL — poisoning downstream distances
    // silently, so reject the row loudly instead
    df.withColumn("_rpq", expr(
        s"IF(size($embCol) = $dims, " +
          s"transform($embCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT)), " +
          s"raise_error(concat('randomProject: expected $dims dims, got ', CAST(size($embCol) AS STRING))))"))
      .withColumn("proj", expr(rows.mkString("array(", ", ", ")")))
      .drop("_rpq")
  }

  /** Product-quantization codebook: per-subspace k-means over the `m`
    * contiguous `dims/m`-wide slices of the embedding. Returns
    * (sub, cid, ce) — `m·k` rows, a model artifact. Training is `m`
    * independent integer-exact [[kmeans]] runs (same micro-unit
    * quantization ⇒ same cross-engine determinism); `m` is small (4-16)
    * so the extra driver-side loop is m job DAGs, not m data passes of
    * different shape.
    *
    * PQ is the classic ANN memory lever past int8: a 64-dim float32
    * embedding (256 B) becomes m codes (m bytes at k ≤ 256) — 32× at
    * m=8 — and distance evaluation against a query becomes m table
    * lookups. [[quantizeInt8]] compresses 4×; this is the next rung.
    */
  def pqTrain(df: DataFrame, idCol: String, embCol: String,
              m: Int = 4, k: Int = 16, iters: Int = 2, dims: Int = 64,
              scale: Long = 1000000L, offset: Long = 1000000L): DataFrame = {
    require(m >= 1 && dims % m == 0, s"need dims ($dims) divisible by m ($m)")
    val sd = dims / m
    (0 until m).map { s =>
      val sliced = df.select(col(idCol), expr(
        s"IF(size($embCol) = $dims, slice($embCol, ${s * sd + 1}, $sd), " +
          s"raise_error(concat('pqTrain: expected $dims dims, got ', CAST(size($embCol) AS STRING))))")
        .as("_sv"))
      kmeans(sliced, idCol, "_sv", k, iters, scale, offset)
        .centroids.selectExpr(s"CAST($s AS INT) AS sub", "cid", "ce")
    }.reduce(_ unionAll _)
  }

  /** Assign PQ codes: for each vector and each subspace, the codebook
    * entry with minimal integer squared distance (ties → lowest cid).
    * Adds `pq_codes` (ARRAY<BIGINT>, one cid per subspace in subspace
    * order) and `pq_dists` (the per-subspace distances in micro-units²
    * — their sum is the reconstruction error driving codebook quality).
    *
    * Scale shape: the codebook collapses to ONE broadcast row of m·k
    * entries; assignment is then a pure higher-order-function argmin
    * per row — narrow, zero shuffle, the corpus never moves (same
    * contract as [[randomProject]]). `array_min` over (d, cid) structs
    * is the lexicographic argmin, deterministic regardless of
    * collect_list order. A subspace missing from the codebook yields
    * NULL codes — loud downstream, never silently wrong.
    */
  def pqAssign(df: DataFrame, idCol: String, embCol: String,
               codebook: DataFrame, m: Int = 4, dims: Int = 64,
               scale: Long = 1000000L, offset: Long = 1000000L): DataFrame = {
    require(m >= 1 && dims % m == 0, s"need dims ($dims) divisible by m ($m)")
    // graft_pq_encode is the native kernel for the per-subspace argmin —
    // bit-equal to the HOF formulation it replaces (transform/filter/
    // array_min over zip_with distances), but a tight JVM loop instead of
    // ~m·k·sd interpreted lambda nodes PER ROW (the sf10 index build was
    // 447 s interpreted; see IntVec.scala)
    df.crossJoin(broadcast(collapsedCodebook(codebook)))
      .withColumn("_qe", expr(microQuantExpr(embCol, dims, scale, offset, "pqAssign")))
      .withColumn("_pq", expr("graft_pq_encode(_qe, _cb)"))
      // the kernel derives the subspace count from the CODEBOOK's
      // geometry; if that disagrees with the caller's m, downstream
      // consumers sized for m-wide codes would silently read short
      // arrays — surface the mismatch loudly instead
      .withColumn("_pq", expr(
        s"IF(size(_pq) = $m, _pq, raise_error(concat(" +
          s"'pqAssign: codebook implies ', CAST(size(_pq) AS STRING), " +
          s"' subspaces, caller passed $m')))"))
      .withColumn("pq_codes", expr("transform(_pq, x -> x.cid)"))
      .withColumn("pq_dists", expr("transform(_pq, x -> x.d)"))
      .drop("_cb", "_qe", "_pq")
  }

  /** PQ asymmetric-distance (ADC) top-k search: each query's exact
    * subvectors score against the CODES of the corpus — the classic
    * IVF-ADC read path. Per query, a lookup table of m·k integer
    * distances (query slice ↔ codebook entry) is computed ONCE; each
    * corpus row then costs m table lookups instead of a `dims`-wide
    * distance. Corpus rows must already carry `codesCol` (ARRAY<BIGINT>
    * from [[pqAssign]]).
    *
    * Scale shape: queries (with their LUTs) broadcast — the corpus is
    * never shuffled, scoring is a narrow HOF, and the merge is
    * [[TopK.perKey]] (partial per-partition top-k, then a tiny per-qid
    * merge — never |Q| reducer partitions). ADC distances are exact
    * integers, so ranking (tie-broken by id) is engine-portable.
    * Returns (qid, rnk, id, adc).
    */
  def pqAdcTopK(corpus: DataFrame, idCol: String, codesCol: String,
                queries: DataFrame, qidCol: String, embCol: String,
                codebook: DataFrame, k: Int,
                m: Int = 4, dims: Int = 64,
                scale: Long = 1000000L, offset: Long = 1000000L): DataFrame = {
    require(m >= 1 && dims % m == 0, s"need dims ($dims) divisible by m ($m)")
    require(k >= 1, "k must be positive")
    val qlut = pqLut(queries, qidCol, embCol, codebook, m, dims, scale,
      offset, "pqAdcTopK")
    val scored = corpus.crossJoin(broadcast(qlut))
      .withColumn("adc", expr(adcExpr(codesCol, m)))
      .select(col("_qid").as("qid"), col(idCol), col("adc"))
    TopK.perKey(scored, Seq("qid"), Seq(col("adc").asc, col(idCol).asc), k)
      .select(col("qid"), col("rnk"), col(idCol), col("adc"))
  }

  /** Assignments + centroids from [[Vectors.kmeans]]. Both frames are
    * lazy plans; `centroids` is always ≤ k rows.
    */
  final case class KMeans(assignments: DataFrame, centroids: DataFrame)

  /** Lloyd's k-means over an embedding column with EXACT integer
    * arithmetic — the clustering primitive between [[centroids]] (means
    * of GIVEN labels) and [[semanticDedup]] (dedup within GIVEN
    * clusters): here the labels themselves are learned. This is the
    * coarse-quantizer trainer for IVF ANN and the partitioner SemDeDup
    * assumes exists.
    *
    * Determinism contract (the pagerank trick applied to clustering —
    * see [[Graph.pageRank]]): embeddings are quantized to micro-units
    * (`round(v·scale) + offset`; Spark's `div` and DuckDB's `//` both
    * truncate toward zero — verified, `-7 // 2 = -3` — so negatives
    * are already portable between THESE engines, and the offset is
    * defense-in-depth for floor-division engines plus a guard that
    * keeps every coordinate in the embeddings' verified range
    * non-negative), distances are BIGINT sums of squared diffs, centroid
    * updates are BIGINT floor-means (`sum div n`), and assignment
    * tie-breaks on (distance, cid). Every intermediate is an integer,
    * so the clustering is bit-identical under ANY partitioning,
    * partial-agg order, or engine. Seeds are the `k` lowest-id vectors;
    * cluster ids are the seed ids (arbitrary stable labels, no
    * rank-relabeling pass). Clusters that lose all members disappear —
    * standard Lloyd, documented rather than patched.
    *
    * Scale shape, per iteration: assignment is corpus × BROADCAST
    * centroid set (≤ k rows — the corpus never shuffles for it), update
    * is the [[centroidSums]] shape (posexplode → partial-combining agg
    * on (cid, pos): the shuffle carries one row per (cid, pos) per map
    * partition, never the vectors). `iters` is fixed and small; lineage
    * stays linear, no checkpoint needed at these depths.
    */
  def kmeans(df: DataFrame, idCol: String, embCol: String,
             k: Int = 4, iters: Int = 2,
             scale: Long = 1000000L, offset: Long = 1000000L): KMeans = {
    require(k >= 1 && iters >= 1 && iters <= 10, "need k >= 1, iters in [1,10]")
    val q = df.select(col(idCol).as("vid"),
      expr(s"transform($embCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT) + $offset)")
        .as("qe"))
    var cents = q.orderBy("vid").limit(k)
      .select(col("vid").as("cid"), col("qe").as("ce"))
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      // min(struct) carries the vector through the argmin so no second
      // join back onto the corpus is needed; (d, cid) is unique per vid
      // so qe is never reached by the lexicographic compare.
      // graft_sqdist raises loudly on ragged embeddings (a silent NULL
      // pad would corrupt assignments; IntVec.scala error contract)
      assigned = q.crossJoin(broadcast(cents))
        .withColumn("d", expr("graft_sqdist(qe, ce)"))
        .groupBy("vid")
        .agg(min(struct(col("d"), col("cid"), col("qe"))).as("m"))
        .select(col("vid"), col("m.cid").as("cid"), col("m.qe").as("qe"))
      cents = assigned
        .select(col("cid"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .groupBy("cid")
        .agg(max("n").as("n"),
          collect_list(struct(col("pos"), col("sv"))).as("ps"))
        .select(col("cid"),
          expr("transform(array_sort(ps), x -> x.sv div n)").as("ce"))
    }
    KMeans(assigned.select("vid", "cid"), cents)
  }

  /** The exact-arithmetic core of [[centroids]]: per-(label, position)
    * scaled-int64 sums, reassembled into one `sums` array per label
    * (plus `n_vecs`). Exposed separately because the integer sums are
    * reproducible bit-for-bit across engines and partitionings — the
    * form the cross-engine oracle checks — while the division into a
    * mean is left to the caller's precision policy.
    */
  def centroidSums(df: DataFrame, labelCol: String, embCol: String,
                   scale: Long = 1000000L): DataFrame = {
    val ex = df
      .select(col(labelCol), posexplode(col(embCol)).as(Seq("pos", "v")))
      // the DOUBLE cast is load-bearing: FLOAT * INT would multiply in
      // float precision and round a different micro-unit than an engine
      // that promotes to double
      .withColumn("sv", expr(s"CAST(round(CAST(v AS DOUBLE) * $scale) AS BIGINT)"))
    ex.groupBy(col(labelCol), col("pos"))
      .agg(count(lit(1)).as("n"), sum("sv").as("ssum"))
      .groupBy(col(labelCol))
      .agg(max("n").as("n_vecs"),
        expr("transform(array_sort(collect_list(struct(pos, ssum))), x -> x.ssum)")
          .as("sums"))
  }

  /** Coarse-cell assignment against a `(cid, ce)` centroid table: adds
    * `cell` = the centroid with minimal integer squared distance (ties →
    * lowest cid). The centroid set collapses to ONE broadcast row, so
    * assignment is a narrow per-row argmin — the corpus never shuffles.
    */
  def assignCells(df: DataFrame, embCol: String, cells: DataFrame,
                  dims: Int, scale: Long = 1000000L,
                  offset: Long = 1000000L, op: String = "assignCells"): DataFrame = {
    val seedRow = cells.groupBy().agg(
      sort_array(collect_list(struct(col("cid"), col("ce")))).as("_seeds"))
    // graft_cell = the native (d, cid)-lexicographic argmin (IntVec.scala)
    df.crossJoin(broadcast(seedRow))
      .withColumn("_qe", expr(microQuantExpr(embCol, dims, scale, offset, op)))
      .withColumn("cell", expr("graft_cell(_qe, _seeds)"))
      .drop("_seeds", "_qe")
  }

  /** Probe list: for each query, its `nprobe` nearest cells (rank order,
    * ties → lowest cid). Returns (qid, cell) — tiny, broadcast it.
    */
  private def probeCells(queries: DataFrame, qidCol: String, embCol: String,
                         cells: DataFrame, nprobe: Int, dims: Int,
                         scale: Long, offset: Long, op: String): DataFrame = {
    val seedRow = cells.groupBy().agg(
      sort_array(collect_list(struct(col("cid"), col("ce")))).as("_seeds"))
    // graft_sqdist raises on a query-vs-centroid dims mismatch — the
    // zip_with fold it replaces produced NULL distances that sort FIRST
    // in the asc probe ranking (silently arbitrary probe lists)
    val fdist = "graft_sqdist(qe, s.ce)"
    queries.select(col(qidCol).as("qid"), col(embCol).as("_qemb"))
      .crossJoin(broadcast(seedRow))
      // quantized query bound as a lambda VARIABLE (SURVEY §6): a
      // withColumn alias re-quantized the query once per seed
      .withColumn("cell", explode(expr(
        s"element_at(transform(array(${microQuantExpr("_qemb", dims, scale, offset, op)}), qe -> " +
          s"transform(slice(array_sort(transform(_seeds, " +
          s"s -> named_struct('d', $fdist, 'cid', s.cid))), 1, $nprobe), p -> p.cid)), 1)")))
      .select("qid", "cell")
  }

  /** Materialize an IVF-PQ index on disk — the production read path
    * where training cost is paid ONCE and amortized over every later
    * search (the batch twin of the streaming
    * [[graft.streaming.EventPipeline.annIngest]]). Layout under `path`:
    *  - `cells/`    — the coarse centroids (cid, ce),
    *  - `codebook/` — the PQ codebook (sub, cid, ce),
    *  - `codes/`    — (id, pq_codes) PARTITIONED BY cell, so a search
    *    probing nprobe of k cells prunes the scan to nprobe/k of the
    *    corpus at the FILE level (partition pruning — at 100 TB the
    *    difference between touching 2 directories and all of them).
    * The whole index commits atomically ([[graft.sources.AtomicSwap]]):
    * readers see the old index or the new one, never a mix.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, embCol: String,
                      cells: DataFrame, codebook: DataFrame, path: String,
                      m: Int = 4, dims: Int = 64,
                      scale: Long = 1000000L, offset: Long = 1000000L): Unit = {
    val spark = corpus.sparkSession
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.AtomicSwap.recover(fs, live)
    val staging = graft.sources.AtomicSwap.stagingOf(live)
    cells.select("cid", "ce")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/cells")
    codebook.select("sub", "cid", "ce")
      .coalesce(1).write.mode("overwrite").parquet(s"$staging/codebook")
    val assigned = assignCells(corpus.select(col(idCol), col(embCol)),
      embCol, cells, dims, scale, offset, "buildIvfPqIndex")
    pqAssign(assigned, idCol, embCol, codebook, m, dims, scale, offset)
      .select(col(idCol), col("cell"), col("pq_codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$staging/codes")
    graft.sources.AtomicSwap.commit(fs, live)
  }

  /** Search a [[buildIvfPqIndex]] index: probe each query's `nprobe`
    * nearest cells, ADC-score only the code partitions of those cells,
    * merge with [[TopK.perKey]]. Returns (qid, rnk, id, adc) with the
    * same integer-exact ranking as [[pqAdcTopK]] restricted to the
    * probed cells.
    *
    * Scale shape: the (qid, cell) probe table and the per-query LUTs
    * broadcast; the codes scan joins on the PARTITION column `cell`, so
    * dynamic partition pruning limits file reads to the probed cells;
    * scoring is a narrow HOF over m lookups; the merge is partial
    * per-partition top-k. The corpus codes never shuffle.
    */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, qidCol: String, embCol: String,
                       k: Int, nprobe: Int = 2, m: Int = 4, dims: Int = 64,
                       scale: Long = 1000000L, offset: Long = 1000000L): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be positive")
    val cells = graft.sources.Tables.parquet(spark, s"$path/cells")
    val codebook = graft.sources.Tables.parquet(spark, s"$path/codebook")
    val codes = graft.sources.Tables.parquet(spark, s"$path/codes")
    val idCol = codes.columns.filterNot(Set("cell", "pq_codes")).head
    val probed = probeCells(queries, qidCol, embCol, cells, nprobe, dims,
      scale, offset, "searchIvfPqIndex")
    val qlut = pqLut(queries, qidCol, embCol, codebook, m, dims,
      scale, offset, "searchIvfPqIndex")
    val scored = codes.join(broadcast(probed), "cell")
      .join(broadcast(qlut), col("qid") === col("_qid"))
      .withColumn("adc", expr(adcExpr("pq_codes", m)))
      .select(col("qid"), col(idCol), col("adc"))
    TopK.perKey(scored, Seq("qid"), Seq(col("adc").asc, col(idCol).asc), k)
  }
}
