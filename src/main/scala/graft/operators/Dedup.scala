package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Deduplication operators as a public DataFrame API — the composable
  * counterparts of the oracle-checked queries in
  * `graft.queries.PipelineQueries`.
  *
  * All hashing is the deterministic md5-derived 60-bit hash (top 15 hex
  * digits), all token work is Spark SQL higher-order functions: fully
  * Catalyst-planned, no UDFs, codegen-friendly.
  *
  * Scale notes (100 TB):
  *  - `exact` shuffles a 32-byte digest per row, never the document body.
  *  - `minhashLsh` computes signatures map-side; the candidate join key is
  *    (band, band-signature), shuffling O(docs x bands) small rows. The
  *    Jaccard verify joins shingle arrays back only for candidate pairs.
  *  - `simhash64` is one narrow pass; grouping by a hamming prefix (the
  *    top `prefixBits`) buckets likely-duplicates without an O(n^2) join.
  */
object Dedup {

  // native codegen'd 60-bit md5 hash (functions/text/Hash60); requires
  // GraftExtensions (installed by GraftSession)
  private def h60(x: String) = s"graft_hash60($x)"

  /** Tokens column expression for a text column. */
  def tokens(textCol: String): Column = expr(TextOps.tokensExpr(textCol))

  /** `n`-word shingles of a token array column. */
  def shingles(tokensCol: String, n: Int = 3): Column = {
    val parts = (0 until n).map(j => s"element_at($tokensCol, i + $j)").mkString(", ")
    expr(s"transform(sequence(1, size($tokensCol) - ${n - 1}), i -> concat_ws(' ', $parts))")
  }

  /** Exact duplicate groups: one surviving `keepCol` id per distinct value
    * of `cols`, with the duplicate count.
    */
  def exact(df: DataFrame, keyCols: Seq[String], keepCol: String): DataFrame = {
    // null-preserving, position-preserving key encoding: struct-to-JSON
    // keeps ('a', NULL) and (NULL, 'a') distinct (a separator-joined
    // concat would collapse them -- concat_ws skips NULLs)
    val digest = md5(to_json(struct(keyCols.map(col): _*)))
    df.groupBy(digest.as("dup_key"))
      .agg(min(keepCol).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Drop exact duplicates, keeping the row with the smallest `keepCol`
    * per key — distributed keep-first via min-id join-back.
    */
  def dropExact(df: DataFrame, keyCols: Seq[String], keepCol: String): DataFrame = {
    val keep = exact(df, keyCols, keepCol).select(col("keep_id").as(keepCol))
    df.join(keep, Seq(keepCol), "left_semi")
  }

  private val MinhashP = 2147483647L
  private val MinhashA = Seq(1000003L, 1000033L, 1000037L, 1000039L,
    1000081L, 1000099L, 1000117L, 1000121L)

  /** MinHash signature columns s0..s{k-1} from a shingle array column.
    * One md5 per shingle (reduced mod 2^31-1), then k cheap affine
    * rehashes — identical statistics, 1/k the hashing cost.
    */
  def minhashSignature(df: DataFrame, shinglesCol: String, k: Int): DataFrame = {
    require(k <= MinhashA.length, s"at most ${MinhashA.length} hash functions")
    df.withColumn("_hs", expr(s"transform($shinglesCol, g -> ${h60("g")} % $MinhashP)"))
      .selectExpr(df.columns ++ (0 until k).map(s =>
        s"array_min(transform(_hs, h -> (${MinhashA(s)} * h + ${s * 7919 + 1}) % $MinhashP)) AS s$s"): _*)
  }

  /** Keep only band-bucket rows whose bucket holds at most `maxBucket`
    * ids. A degenerate hot bucket (mass-duplicated boilerplate, all-zero
    * embeddings) would otherwise go quadratic in the in-bucket self-join;
    * capped buckets are DROPPED from candidate generation — the overflow
    * path is to dedup those texts exactly first (they are near-identical
    * by construction), which `dropNearDuplicates` does.
    */
  private def capBuckets(bandsDf: DataFrame, maxBucket: Int): DataFrame = {
    val sizes = bandsDf.groupBy("band", "bkey")
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(col("_bucket_n") <= maxBucket)
    bandsDf.join(sizes, Seq("band", "bkey")).drop("_bucket_n")
  }

  /** Word-shingle table `(idCol, sh)` — the exact-verify input. Widened
    * to the package so the scale harness (BenchSf10's recall audit) can
    * run the exact pass with the SAME shingle definition the LSH path
    * verifies with — a recall number against a different tokenization
    * would audit nothing.
    */
  private[graft] def shingleTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("tk", tokens(textCol))
      .filter(expr("size(tk) >= 3"))
      .withColumn("sh", shingles("tk"))
      .select(idCol, "sh")

  private[operators] def sigBands(shingled: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sig = minhashSignature(shingled, "sh", k)
    val bandExprs = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"s${b * rows + r}").mkString("concat_ws(':', ", ", ", ")")
      s"$b, $key"
    }.mkString(", ")
    sig.selectExpr(idCol, s"stack($bands, $bandExprs) AS (band, bkey)")
  }

  /** The persistent LSH index of a corpus: one `(idCol, band, bkey)` row
    * per document per band. Write it out once per corpus snapshot
    * (ideally bucketed by (band, bkey)); every incoming batch then dedups
    * against it via [[minhashLshAgainst]] without recomputing corpus
    * signatures or joining the corpus to itself.
    */
  def bandTable(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, bands: Int = 4): DataFrame =
    sigBands(shingleTable(df, idCol, textCol), idCol, k, bands)

  /** Bucket count for a corpus band-table index, derived from the
    * corpus's optimizer size estimate (~32 MiB of source text per
    * bucket, floored at 8, capped at 4096). Every scan of a bucketed
    * table costs exactly `buckets` tasks — a constant 64 was 8× too many
    * tasks for an sf0.1 corpus (the r15 bench paid 64-task scans of a
    * KB-sized index, 4 slices × 2 reads each) and would be 8× too FEW
    * for a 100 TB one. Same derivation policy as
    * [[graft.GraftSession.derivedShufflePartitions]] (r16, guide §2/§6).
    */
  private[graft] def adaptiveBuckets(corpus: DataFrame): Int = {
    val target = corpus.queryExecution.optimizedPlan.stats.sizeInBytes / (32L << 20)
    if (target > 4096) 4096 else math.max(8, target.toInt)
  }

  /** Write the [[bandTable]] of a corpus as a bucketed + sorted catalog
    * table — the persistent LSH index layout for repeated ingest. A
    * bucketed scan exposes `hashpartitioning(band, bkey, buckets)`, so
    * every future batch-vs-corpus candidate join plans with an Exchange
    * on the BATCH side only: the corpus index is read in place, never
    * re-hashed and never shuffled, no matter how many batches arrive.
    * (BucketingSpec pins the shuffle-free corpus side.)
    * `buckets <= 0` (the default) derives the count from the corpus size
    * via [[adaptiveBuckets]].
    */
  def saveBandTable(corpus: DataFrame, idCol: String, textCol: String,
                    table: String, buckets: Int = 0,
                    k: Int = 8, bands: Int = 4): Unit = {
    val b =
      if (buckets > 0) buckets
      else {
        val derived = adaptiveBuckets(corpus)
        // r17 (VERDICT r16 #3): the derivation rides a driver-side size
        // ESTIMATE that can be badly wrong without CBO stats — make every
        // scale run's derived value auditable against the corpus it saw
        System.err.println(s"[graft] saveBandTable($table): derived " +
          s"$derived buckets from corpus size estimate " +
          s"${corpus.queryExecution.optimizedPlan.stats.sizeInBytes} bytes")
        derived
      }
    bandTable(corpus, idCol, textCol, k, bands)
      .write.mode("overwrite")
      .bucketBy(b, "band", "bkey")
      .sortBy("band", "bkey")
      .saveAsTable(table)
  }

  /** LSH candidate pairs of a new batch against a saved corpus band table
    * (usually `spark.table(...)` over a [[saveBandTable]] output).
    * Returns distinct `(new_id, corpus_id)`. Only the batch is shingled
    * and hashed; the corpus-side bucket cap (groupBy + join-back on the
    * bucket keys) rides the bucketed partitioning shuffle-free too.
    */
  def candidatesAgainstBands(newDf: DataFrame, corpusBands: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8, bands: Int = 4,
                             maxBucket: Int = 100000): DataFrame = {
    val newBands = sigBands(shingleTable(newDf, idCol, textCol), idCol, k, bands)
    newBands.as("n")
      .join(capBuckets(corpusBands, maxBucket).as("c"),
        expr("n.band = c.band AND n.bkey = c.bkey"))
      .selectExpr(s"n.$idCol AS new_id", s"c.$idCol AS corpus_id")
      .distinct()
  }

  /** Incremental near-dup pairs vs a corpus whose band table was saved
    * with [[saveBandTable]]: candidates come from the bucketed index
    * (no corpus re-hash), and corpus TEXT is shingled only for the docs
    * that actually appear as candidates — a semi-join-first lookup, not
    * a corpus scan-and-shingle. Returns (new_id, corpus_id, jaccard).
    */
  def minhashLshAgainstSaved(newDf: DataFrame, corpusDf: DataFrame,
                             corpusBands: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                             maxBucket: Int = 100000,
                             candFilter: Column = lit(true)): DataFrame = {
    // candFilter prunes candidate PAIRS before the (expensive) shingle
    // verification — [[minhashLshSliced]] passes corpus_id < new_id so a
    // pair is verified only in the one slice that keeps it
    val cand = Caches.track(candidatesAgainstBands(newDf, corpusBands,
      idCol, textCol, k, bands, maxBucket).filter(candFilter))
    val newSh = shingleTable(newDf, idCol, textCol)
    val hitIds = cand.select(col("corpus_id").as(idCol)).distinct()
    val corpusSh = shingleTable(
      corpusDf.join(hitIds, Seq(idCol), "left_semi"), idCol, textCol)
    cand.as("p")
      .join(newSh.selectExpr(s"$idCol AS n_key", "sh AS shn"), expr("n_key = new_id"))
      .join(corpusSh.selectExpr(s"$idCol AS c_key", "sh AS shc"), expr("c_key = corpus_id"))
      .selectExpr("new_id", "corpus_id",
        "CAST(size(array_intersect(shn, shc)) AS DOUBLE) / size(array_union(shn, shc)) AS jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Full-corpus near-dup pairs with BOUNDED scratch: the one-shot
    * [[minhashLsh]] self-join peaks at O(corpus) shuffle + verify spill
    * in one job — measured to exceed a single node's scratch at 1000×
    * rows. This runs the SAME pair computation as `slices` sequential
    * batch-vs-corpus passes against a [[saveBandTable]] index, the
    * production ingest shape: each slice (docs with hash(id)%slices == i)
    * plays "today's batch" against the full bucketed corpus index, and
    * the `corpus_id < new_id` candidate filter makes every unordered
    * pair appear exactly once (in the slice that owns its larger id) —
    * so the union over slices equals the one-shot pair set, while peak
    * scratch is ~1/slices of it.
    *
    * Returns one THUNK per slice (construction deferred, not just
    * execution): the caller MUST build+materialize them one at a time —
    * each `mk()` inside its own [[Caches.scoped]] block, releasing
    * shuffle files between (see BenchSf10's dedup_incr phase) — or the
    * scratch bound is lost. Deferral matters because the slice's
    * internal candidate cache registers at CONSTRUCTION time: built
    * eagerly up front, all slices' caches would accumulate globally
    * for the whole pass. A correctness-gate consumer that wants the
    * union in one job just forces them all (`.map(_())`).
    */
  def minhashLshSliced(df: DataFrame, idCol: String, textCol: String,
                       table: String, slices: Int = 8, buckets: Int = 0,
                       k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                       maxBucket: Int = 100000): Seq[() => DataFrame] = {
    require(slices >= 1, "slices must be positive")
    saveBandTable(df, idCol, textCol, table, buckets, k, bands)
    val corpusBands = df.sparkSession.table(table)
    (0 until slices).map { i => () =>
      val slice = df.filter(pmod(hash(col(idCol)), lit(slices)) === i)
      minhashLshAgainstSaved(slice, df, corpusBands, idCol, textCol,
          k, bands, threshold, maxBucket,
          candFilter = col("corpus_id") < col("new_id"))
        .selectExpr("corpus_id AS a_id", "new_id AS b_id", "jaccard")
    }
  }

  /** MinHash + LSH near-duplicate pairs: `k` hashes in `bands` bands,
    * candidates from band-bucket equality, verified with exact shingle
    * Jaccard >= `threshold`. Input needs an id column and a text column.
    * Buckets larger than `maxBucket` are dropped (see [[capBuckets]]) so
    * adversarial skew cannot make a single bucket quadratic.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                 maxBucket: Int = 100000): DataFrame = {
    val shingled = shingleTable(df, idCol, textCol)
    // persist the PRE-cap band table: capBuckets reads it twice (sizes +
    // join-back) and the self-join twice more — without the cache each
    // read would recompute the minhash signature scan over every document.
    // Not unpersisted here (the rows are tiny and the plan is still lazy);
    // note the disk tier of MEMORY_AND_DISK outlives memory pressure, so
    // a long-lived session running repeated batches should unpersist /
    // spark.catalog.clearCache() between them — or save bandTable() to
    // storage and skip recomputation entirely.
    val rawBands = sigBands(shingled, idCol, k, bands)
    Caches.track(rawBands)
    val bandsDf = capBuckets(rawBands, maxBucket)
    val cand = bandsDf.as("a").hint("shuffle_merge")
      .join(bandsDf.as("b"),
        expr(s"a.band = b.band AND a.bkey = b.bkey AND a.$idCol < b.$idCol"))
      .selectExpr(s"a.$idCol AS a_id", s"b.$idCol AS b_id")
      .distinct()
    cand.as("c")
      .join(shingled.selectExpr(s"$idCol AS a_key", "sh AS sha"), expr(s"a_key = a_id"))
      .join(shingled.selectExpr(s"$idCol AS b_key", "sh AS shb"), expr(s"b_key = b_id"))
      .selectExpr("a_id", "b_id",
        "CAST(size(array_intersect(sha, shb)) AS DOUBLE) / size(array_union(sha, shb)) AS jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup pairs: NEW batch vs an EXISTING corpus — the
    * production ingest shape (dedup today's crawl against the 100 TB
    * corpus). Candidates come from newBands ⋈ corpusBands on (band, bkey):
    * the corpus is never self-joined and, when `corpusBands` is a saved
    * [[bandTable]], never re-hashed. Verification joins shingles back for
    * candidate ids only (at scale: random access to corpus text by id).
    * Corpus-side buckets over `maxBucket` are dropped (see [[capBuckets]]).
    * Returns (new_id, corpus_id, jaccard).
    */
  def minhashLshAgainst(newDf: DataFrame, corpusDf: DataFrame,
                        idCol: String, textCol: String,
                        k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                        maxBucket: Int = 100000): DataFrame = {
    val newSh = shingleTable(newDf, idCol, textCol)
    val corpusSh = shingleTable(corpusDf, idCol, textCol)
    val newBands = sigBands(newSh, idCol, k, bands)
    val corpusBands = capBuckets(
      Caches.track(sigBands(corpusSh, idCol, k, bands)), maxBucket)
    val cand = newBands.as("n")
      .join(corpusBands.as("c"), expr("n.band = c.band AND n.bkey = c.bkey"))
      .selectExpr(s"n.$idCol AS new_id", s"c.$idCol AS corpus_id")
      .distinct()
    cand.as("p")
      .join(newSh.selectExpr(s"$idCol AS n_key", "sh AS shn"), expr("n_key = new_id"))
      .join(corpusSh.selectExpr(s"$idCol AS c_key", "sh AS shc"), expr("c_key = corpus_id"))
      .selectExpr("new_id", "corpus_id",
        "CAST(size(array_intersect(shn, shc)) AS DOUBLE) / size(array_union(shn, shc)) AS jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Ingest filter: drop every new document that exactly or nearly
    * duplicates the EXISTING corpus. Does NOT dedup the new batch against
    * itself — compose with [[dropNearDuplicates]] for that.
    */
  def dropNearDuplicatesAgainst(newDf: DataFrame, corpusDf: DataFrame,
                                idCol: String, textCol: String,
                                k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                                maxBucket: Int = 100000): DataFrame = {
    val corpusHashes = corpusDf.select(md5(col(textCol)).as("_h")).distinct()
    val fresh = newDf.withColumn("_h", md5(col(textCol)))
      .join(corpusHashes, Seq("_h"), "left_anti").drop("_h")
    val losers = minhashLshAgainst(fresh, corpusDf, idCol, textCol,
        k, bands, threshold, maxBucket)
      .select(col("new_id").as(idCol)).distinct()
    fresh.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end near-dedup: drop every document that near-duplicates a
    * lower-id survivor (greedy keep-first over the LSH candidate pairs —
    * the standard corpus-dedup policy; exact duplicates are removed first
    * so near-dup pairs only arbitrate genuinely distinct texts).
    *
    * `assumeExactDeduped = true` skips the internal exact pass AND its
    * cache when the caller has already exact-deduped (and, if staged,
    * persisted) the input — a pipeline that reports the exact stage
    * separately would otherwise pay the md5-groupBy + semi-join twice
    * and hold two identical cached frames.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, bands: Int = 4, threshold: Double = 0.5,
                         assumeExactDeduped: Boolean = false): DataFrame = {
    // the exact-dedup survivor set feeds the LSH signature pass, the
    // Jaccard verify join-backs, and the final anti-join — persist it so
    // the groupBy+semi-join runs once (at corpus scale: checkpoint)
    val exactKept =
      if (assumeExactDeduped) df
      else Caches.track(dropExact(df, Seq(textCol), idCol))
    val losers = minhashLsh(exactKept, idCol, textCol, k, bands, threshold)
      .select(col("b_id").as(idCol)).distinct()
    exactKept.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicate-cluster identification: connected components over a
    * near-dup pair graph, labeling every member with the MINIMUM doc id
    * of its component (the canonical representative).
    *
    * Two paths, one labelling:
    *  - Driver finish. The pairs are persisted, and one job over them
    *    both counts them and, while they fit, ships the two id columns
    *    to the driver ([[pairsWithin]]). `maxEdges` is the session's
    *    `spark.sql.autoBroadcastJoinThreshold` over 24 bytes (the
    *    UnsafeRow size of a two-long row: ~437k edges at the 10 MB
    *    default); a threshold ≤ 0 turns this path off. When the edges
    *    fit and the ids are integral, union-find with union-by-min-root
    *    runs on the driver (every root is its set's minimum id) and the
    *    result is a local frame the caller's joins can broadcast. The
    *    operator then runs one job of its own (two if one partition
    *    holds more than its share of the budget), where the rounds run
    *    one or two per round.
    *  - Rounds, for larger graphs and non-integral ids: min-label
    *    propagation — each round every vertex takes the smallest label
    *    among itself and its neighbors — with pointer jumping from round
    *    3, so a round is one shuffle of (vertex, label) pairs and long
    *    chains collapse in O(log diameter) rounds. A transitive-closure
    *    join (the tempting one-shot formulation) would materialize O(n²)
    *    reachability pairs per component instead. The per-round aggregate
    *    is the convergence check; a loop that reaches `maxIter` without a
    *    fixpoint throws `IllegalStateException` rather than return
    *    unconverged labels.
    *
    * Input: pairs with columns `a_id`, `b_id` (e.g. [[minhashLsh]]
    * output). Output: `(id, cluster)` for every id in some pair, both of
    * the ids' (widened) type. A NULL id joins no component: its own row
    * takes the least label among the ids it is paired with (NULL if
    * none), and the ids paired with it keep their own components.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the pair source ONCE: on the rounds path it fans into
    // both union branches, and an unpersisted `pairs` would re-run its
    // (LSH) lineage per branch, doubling the most expensive stage of the
    // whole operator
    val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    val idType = symmetric(p).schema("src").dataType
    val maxEdges = math.min(
      p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold / 24,
      Int.MaxValue - 1L).toInt
    val fetched =
      if (maxEdges <= 0 || !integralIds(idType)) None
      else pairsWithin(p, maxEdges)
    fetched match {
      case Some(rows) =>
        p.unpersist()
        val schema = StructType(Seq(
          StructField("id", idType), StructField("cluster", idType)))
        p.sparkSession.createDataFrame(
          java.util.Arrays.asList(minIdLabels(rows, idType): _*), schema)
      case _ => labelRounds(p, maxIter)
    }
  }

  private def symmetric(p: DataFrame): DataFrame =
    p.selectExpr("a_id AS src", "b_id AS dst")
      .union(p.selectExpr("b_id AS src", "a_id AS dst"))

  /** The `(a_id, b_id)` rows of `p` if it holds at most `maxEdges` of
    * them, else None. One job over every partition counts each one and
    * ships its rows while it holds at most its share of the budget; a
    * second job fetches the partitions over their share, only when the
    * total fits. The driver never holds much more than twice the budget,
    * and every partition of `p` is cached for the rounds either way.
    * (`limit(maxEdges + 1).collect()` would scan 1, then 4, 16, ...
    * partitions: one job more per factor of 4.)
    */
  private def pairsWithin(p: DataFrame, maxEdges: Int): Option[Array[Row]] = {
    val rdd = p.select("a_id", "b_id").rdd
    val share = maxEdges / math.max(rdd.getNumPartitions, 1) + 1
    val sc = p.sparkSession.sparkContext
    val parts = sc.runJob(rdd, (it: Iterator[Row]) => {
      val head = Array.newBuilder[Row]
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < share) head += r
        n += 1
      }
      (n, if (n <= share) head.result() else Array.empty[Row])
    })
    if (parts.map(_._1).sum > maxEdges) None
    else {
      val over = parts.indices.filter(i => parts(i)._1 > share)
      val rest =
        if (over.isEmpty) Array.empty[Array[Row]]
        else sc.runJob(rdd, (it: Iterator[Row]) => it.toArray, over)
      Some(parts.flatMap(_._2) ++ rest.flatten)
    }
  }

  private def integralIds(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The driver finish of [[duplicateClusters]]: `(id, cluster)` rows of
    * `idType` for collected `(a_id, b_id)` rows, sorted by id (a NULL id
    * last), labelled exactly as the rounds label them.
    */
  private def minIdLabels(pairs: Array[Row], idType: DataType): Array[Row] = {
    def id(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue
    val src = Array.newBuilder[Long]
    val dst = Array.newBuilder[Long]
    val nullPartners = Array.newBuilder[Long]
    var nullId = false
    for (r <- pairs) (r.isNullAt(0), r.isNullAt(1)) match {
      case (false, false) => src += id(r, 0); dst += id(r, 1)
      case (true, false) => nullId = true; nullPartners += id(r, 1)
      case (false, true) => nullId = true; nullPartners += id(r, 0)
      case (true, true) => nullId = true
    }
    val (as, bs, loose) = (src.result(), dst.result(), nullPartners.result())
    val ids = (as ++ bs ++ loose).sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def index(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    // ids are indexed in ascending order, so linking the larger root under
    // the smaller keeps every root its set's minimum id
    for (e <- as.indices) {
      val ra = find(index(as(e)))
      val rb = find(index(bs(e)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    def label(v: Long): Long = ids(find(index(v)))
    val toType: Long => Any = idType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => v => v
    }
    val rows = ids.map(v => Row(toType(v), toType(label(v))))
    // a NULL id receives the labels of its partners but sends them none
    if (!nullId) rows
    else rows :+ Row(null, if (loose.isEmpty) null else toType(loose.map(label).min))
  }

  /** The distributed path of [[duplicateClusters]]: label propagation
    * rounds over the persisted pairs `p`, which it releases.
    */
  private def labelRounds(p: DataFrame, maxIter: Int): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val edges = symmetric(p).distinct().persist(lvl)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .persist(lvl)
    // convergence check: a label only ever DECREASES (min of neighbors),
    // or, for a NULL id, goes from NULL to a value — so an unchanged
    // (label sum, labelled count) means a fixpoint: one cheap aggregate
    // per round instead of a join-and-count against the previous labels.
    // The count is what catches a NULL id's first label cancelling out a
    // drop elsewhere in the sum. DECIMAL sum: id sums at corpus scale
    // overflow int64.
    def labelState(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(sum(col("cluster").cast("decimal(38,0)")), count(col("cluster"))).head
      (r.getDecimal(0), r.getLong(1))
    }
    var prev = labelState(labels)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster"))
      val propagated = labels.select("id", "cluster").union(prop)
        .groupBy("id").agg(min("cluster").as("cluster"))
      // Pointer jumping (path shortcutting): also adopt my LABEL's label —
      // a label is always a vertex id in the same component, so the hop
      // composes the label graph with itself and propagation distance
      // DOUBLES per round: long chains converge in O(log diameter)
      // rounds instead of O(diameter). The extra equi-join is not free,
      // so it stays off while the graph is behaving like the common case
      // (near-dup clusters converge in 2 rounds flat) and engages only
      // once round 3 proves there are long chains — adaptive: typical
      // corpora never pay for it, adversarial chain graphs get the
      // logarithmic collapse that matters when every round is a full
      // shuffle barrier on a 1000-executor cluster.
      val hopped =
        if (i < 2) propagated
        else {
          val byId = propagated.selectExpr("id AS pid", "cluster AS pcluster")
          propagated.join(byId, propagated("cluster") === byId("pid"), "left")
            .select(propagated("id"),
              least(propagated("cluster"),
                coalesce(col("pcluster"), propagated("cluster"))).as("cluster"))
        }
      // localCheckpoint, not persist: the loop stacks joins on top of the
      // previous round's plan (and the jump references `propagated` twice),
      // so without lineage truncation the analyzed plan DOUBLES per round
      // and the driver OOMs just rendering/optimizing it by round ~12.
      // Checkpointing cuts each round to a LogicalRDD of the materialized
      // labels — driver-side plan work stays O(1) per round. r16: the
      // checkpoint is LAZY so the convergence aggregate is the round's ONE
      // action — it materializes (and saves) the checkpoint partitions it
      // scans; eager + sum was two jobs per round for the same work.
      val next = hopped.localCheckpoint(eager = false)
      val s = labelState(next)
      converged = s == prev
      prev = s
      labels.unpersist()
      labels = next
      i += 1
    }
    edges.unpersist()
    p.unpersist()
    if (!converged) {
      labels.unpersist()
      throw new IllegalStateException(
        s"duplicateClusters: no fixpoint after $i label-propagation rounds (maxIter = $maxIter)")
    }
    labels
  }

  /** Asymmetric containment pairs: `C(A -> B) = |grams(A) ∩ grams(B)| /
    * |grams(A)|` over distinct word-`n`-grams — the sub-document overlap
    * signal Jaccard misses (a short doc embedded verbatim inside a long
    * one has low Jaccard but containment ~1). Returns
    * `(a_id, b_id, shared, containment)` for ordered pairs with
    * `containment >= threshold`.
    *
    * Scale shape: an inverted gram index, never all-pairs. Each doc's
    * distinct gram hashes are computed map-side (TextOps.ngramHashes);
    * the candidate join is a self-equi-join on `gram_hash`, so a gram in
    * d docs contributes d^2 pair rows — bounded by dropping grams with
    * document frequency above `maxDf` (boilerplate grams carry no
    * containment signal; same reasoning as the LSH bucket cap). The
    * denominator |grams(A)| stays the PRE-cap count, so the cap can only
    * underestimate containment, never inflate it.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 1000): DataFrame = {
    val g = Caches.track(TextOps.ngramHashes(df, idCol, textCol, n))
    val sizes = g.groupBy(idCol).agg(count(lit(1)).as("_a_grams"))
    val rareGrams = g.groupBy("gram_hash").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("gram_hash")
    val gf = g.join(rareGrams, "gram_hash")
    val shared = gf.select(col(idCol).as("a_id"), col("gram_hash"))
      .join(gf.select(col(idCol).as("b_id"), col("gram_hash")), "gram_hash")
      .filter(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    shared.join(sizes.withColumnRenamed(idCol, "a_id"), "a_id")
      .withColumn("containment",
        expr("round(CAST(shared AS DOUBLE) / _a_grams, 6)"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "shared", "containment")
  }

  /** 64-bit SimHash over distinct tokens of `textCol`. The distinct-token
    * array is bound as a lambda VARIABLE (the SURVEY §6 HOF rule): as a
    * withColumn alias, CollapseProject inlined the tokenize into the
    * 64-bit aggregate's lambda and re-ran it once per bit.
    */
  def simhash64(df: DataFrame, textCol: String, out: String = "simhash"): DataFrame =
    df.withColumn(out, expr(
        s"""element_at(transform(array(array_distinct(${TextOps.tokensExpr(textCol)})), dt ->
           |  aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, b) ->
           |    acc + CASE WHEN aggregate(dt, 0, (a2, w) ->
           |        a2 + CASE WHEN shiftright(${h60("w")}, b % 60) & 1 = 1 THEN 1 ELSE -1 END) >= 0
           |      THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)), 1)""".stripMargin))

  /** Hamming distance between two simhash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-duplicate pairs via banded random-hyperplane
    * LSH (the minhashLsh shape applied to sign bits): `planes` hyperplane
    * signs split into `bands` bands; a pair is a candidate when ANY band's
    * sign-slice matches, and candidates are verified with the exact
    * cosine >= `threshold`.
    *
    * Scale shape: with planes/bands sign bits per band the corpus spreads
    * over 2^(planes/bands) buckets per band, so the in-bucket self-join is
    * O(n²/2^bits) per band instead of one global O(n²) — and banding keeps
    * recall high (a near-dup pair only needs one agreeing band). The
    * candidate table carries (id, band, bkey) only — embeddings join back
    * just for verification. Buckets larger than `maxBucket` are dropped
    * (see [[capBuckets]]).
    */
  def cosinePairs(df: DataFrame, idCol: String, embCol: String,
                  threshold: Double, planes: Int = 16, bands: Int = 4,
                  dims: Int = 64, maxBucket: Int = 100000): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val bits = planes / bands
    val e = s"transform($embCol, x -> CAST(x AS DOUBLE))"
    def signBit(p: Int): String = {
      val signs = graft.queries.VectorQueries.planeSigns(p, dims)
        .map(v => s"${v}D").mkString("array(", ", ", ")")
      s"(CASE WHEN graft_dot(ev, $signs) >= 0D THEN 1 ELSE 0 END)"
    }
    val bandExprs = (0 until bands).map { b =>
      val key = (0 until bits).map(r => s"(${signBit(b * bits + r)} * ${1 << r})").mkString(" + ")
      s"$b, CAST($key AS INT)"
    }.mkString(", ")
    val hashed = df.selectExpr(s"$idCol", s"$e AS ev")
      .selectExpr(idCol, "ev", "sqrt(graft_dot(ev, ev)) AS nrm")
    // persist the PRE-cap band table (see minhashLsh for the read count
    // and the cache-lifetime caveat)
    val rawBands = hashed.selectExpr(idCol, s"stack($bands, $bandExprs) AS (band, bkey)")
    Caches.track(rawBands)
    val banded = capBuckets(rawBands, maxBucket)
    val cand = banded.as("a")
      .join(banded.as("b"),
        expr(s"a.band = b.band AND a.bkey = b.bkey AND a.$idCol < b.$idCol"))
      .selectExpr(s"a.$idCol AS a_id", s"b.$idCol AS b_id")
      .distinct()
    cand
      .join(hashed.selectExpr(s"$idCol AS a_id", "ev AS ea", "nrm AS na"), Seq("a_id"))
      .join(hashed.selectExpr(s"$idCol AS b_id", "ev AS eb", "nrm AS nb"), Seq("b_id"))
      .selectExpr("a_id", "b_id", "graft_dot(ea, eb) / (na * nb) AS cosine")
      .filter(col("cosine") >= threshold)
  }

  /** Canonical-document selection per duplicate cluster: given
    * [[duplicateClusters]] output `(id, cluster)` and per-document
    * metadata, keep the member with the highest `scoreCol` (ties → the
    * lowest id) as the cluster's representative — the "keep the best
    * copy" policy real corpus dedup applies instead of keep-lowest-id.
    * Returns one row per cluster: (cluster, n_members, rep_id,
    * rep_score).
    *
    * Scale shape: one equi-join on id, then a partial-aggregated groupBy
    * per cluster whose state is a single (score, id) struct — the argmax
    * rides map-side combine, so a pathological million-member cluster
    * costs one struct per map task, never a buffered member list.
    */
  def representatives(clusters: DataFrame, meta: DataFrame,
                      idCol: String, scoreCol: String): DataFrame =
    clusters.join(meta.select(col(idCol).as("id"), col(scoreCol).as("_sc")), Seq("id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("_sc")).as("ns"), col("id").as("rid"))).as("_m"))
      .select(col("cluster"), col("n_members"),
        col("_m.rid").as("rep_id"), (-col("_m.ns")).as("rep_score"))
}
