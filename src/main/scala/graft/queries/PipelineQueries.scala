package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Training-data pipeline operators over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard) and text
  * analysis (language-ID, quality scoring, token counting, fingerprints).
  *
  * Every query has an exact DuckDB oracle. The cross-engine contract is a
  * shared deterministic 60-bit hash — the top 15 hex digits of md5 — which
  * both engines compute identically, so signatures (not just aggregate
  * shapes) are verified bit-for-bit.
  *
  * Scale notes (100 TB):
  *  - Exact dedup groups on md5(text): the shuffle carries a 32-byte key,
  *    never the document body.
  *  - MinHash signatures are computed map-side per document (one pass,
  *    no shuffle); the LSH band join shuffles only (band, 2 longs) keys,
  *    O(docs x bands) small rows, never O(docs^2). Candidate verification
  *    is per-bucket.
  *  - All token/shingle work is Spark SQL higher-order functions — fully
  *    Catalyst-planned, no UDFs, stays inside WholeStageCodegen.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Shared deterministic 60-bit positive hash: top 15 hex digits of md5.
    * Spark side uses the native codegen'd expression (functions/text/Hash60)
    * — same value, no hex-string round-trip.
    */
  private def h60s(x: String) = s"graft_hash60($x)"
  private def h60d(x: String) = s"(('0x' || substr(md5($x), 1, 15))::BIGINT)"

  /** Word tokens (lowercased, whitespace split). */
  private val toksS = """split(lower(trim(text)), '\\s+')"""
  private val toksD = """regexp_split_to_array(lower(trim(text)), '\s+')"""

  /** Deterministic synthetic URL from doc_id (mixed case, www, default
    * ports, doubled slashes, tracking params, a no-query slice, fragment).
    * ONE expression string that parses identically in Spark SQL and
    * DuckDB (`||`, CASE, CAST AS STRING, `%`).
    */
  val urlExpr: String =
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example' ELSE 'http://example' END || " +
    "CAST(doc_id % 7 AS STRING) || " +
    "CASE WHEN doc_id % 2 = 0 THEN '.COM:443' ELSE '.com:80' END || " +
    "'//Path' || CAST(doc_id % 13 AS STRING) || " +
    "CASE WHEN doc_id % 3 = 0 THEN '//' WHEN doc_id % 3 = 1 THEN '/' ELSE '' END || " +
    "CASE WHEN doc_id % 11 = 0 THEN '' ELSE " +
    "'?utm_source=x&b=' || CAST(doc_id % 4 AS STRING) || '&a=' || CAST(doc_id % 5 AS STRING) END " +
    "|| '#s'"

  /** 3-word shingles from a token array named `tk` (both engines 1-based
    * via element_at / list index).
    */
  private val shS =
    "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))"
  private val shD =
    "list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])"

  /** MinHash via affine rehash: the md5-derived base hash is computed ONCE
    * per shingle (column `hs`, reduced mod p = 2^31-1), then each of the k
    * "hash functions" is a cheap exact-integer affine map (A_s*h + B_s) mod
    * p — 8x fewer md5 evaluations than hashing per seed, identical
    * minhash statistics, and still bit-exact across engines.
    */
  private val MinhashP = 2147483647L
  private val MinhashA = Seq(1000003L, 1000033L, 1000037L, 1000039L,
    1000081L, 1000099L, 1000117L, 1000121L)
  private def minhashS(seed: Int) =
    s"array_min(transform(hs, h -> (${MinhashA(seed)} * h + ${seed * 7919 + 1}) % $MinhashP))"
  private def minhashD(seed: Int) =
    s"list_min(list_transform(hs, h -> (${MinhashA(seed)} * h + ${seed * 7919 + 1}) % $MinhashP))"
  private val hsS = s"transform(sh, g -> ${h60s("g")} % $MinhashP)"
  private val hsD = s"list_transform(sh, g -> ${h60d("g")} % $MinhashP)"

  /** The full LSH candidate-pair + Jaccard-verify replay in DuckDB SQL:
    * shared by `q_dedup_minhash_pairs` (one-shot self-join) and
    * `q_dedup_sliced` (slice-vs-saved-index passes) — the two execution
    * shapes compute the identical pair set by construction, so they
    * share one oracle.
    */
  private lazy val minhashPairsOracle: String = {
    val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
    val bandSel = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH t AS (
       |  SELECT doc_id, $toksD AS tk FROM documents
       |), shl AS (
       |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
       |), sig AS (
       |  SELECT doc_id, sh, $sigs FROM (SELECT doc_id, sh, $hsD AS hs FROM shl)
       |), bands AS (
       |  $bandSel
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |)
       |SELECT c.a_id, c.b_id,
       |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
       |FROM cand c
       |JOIN shl sa ON sa.doc_id = c.a_id
       |JOIN shl sb ON sb.doc_id = c.b_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // ---- Exact dedup: hash-groupBy keep-first ---------------------------
    QueryDef("q_dedup_exact",
      """SELECT md5(text) AS h, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir)
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("keep_id"),
               count(lit(1)).cast("bigint").as("n_copies"))
          .select("h", "keep_id", "n_copies")
          .orderBy("keep_id")
    },

    // ---- MinHash signatures (8 seeds), verified bit-for-bit -------------
    QueryDef("q_dedup_minhash", {
      val sigs = (0 until 8).map(k => s"  ${minhashD(k)} AS s$k").mkString(",\n")
      s"""WITH t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 40
         |), sh AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), hsl AS (
         |  SELECT doc_id, $hsD AS hs FROM sh
         |)
         |SELECT doc_id,
         |$sigs
         |FROM hsl ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      docs(s, dir).filter(col("doc_id") < 40)
        .selectExpr("doc_id", s"$toksS AS tk")
        .filter(expr("size(tk) >= 3"))
        .selectExpr("doc_id", s"$shS AS sh")
        .selectExpr("doc_id", s"$hsS AS hs")
        .selectExpr("doc_id" +: (0 until 8).map(k => s"${minhashS(k)} AS s$k"): _*)
        .orderBy("doc_id")
    },

    // ---- MinHash + LSH banding: candidate pairs + Jaccard verify --------
    // 8 seeds, 4 bands of 2 rows. Shuffle key is (band, s_lo, s_hi) only.
    QueryDef("q_dedup_minhash_pairs", minhashPairsOracle) { (s, dir) =>
      val shingled = docs(s, dir)
        .selectExpr("doc_id", s"$toksS AS tk")
        .filter(expr("size(tk) >= 3"))
        .selectExpr("doc_id", s"$shS AS sh")
      val sig = shingled
        .selectExpr("doc_id", "sh", s"$hsS AS hs")
        .selectExpr(Seq("doc_id", "sh") ++ (0 until 8).map(k => s"${minhashS(k)} AS s$k"): _*)
      val bands = sig.selectExpr("doc_id",
        "stack(4, " + (0 until 4).map(b => s"$b, concat(s${2 * b}, ':', s${2 * b + 1})").mkString(", ") +
          ") AS (band, bkey)")
      // materialize the (tiny: doc_id, band, 2-long key) band table so
      // the md5 signature pass runs ONCE — a tree-shaped self-join would
      // recompute it per side; at corpus scale the same role is played by
      // checkpointing the signature table before the pair join
      bands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = bands.as("a").hint("shuffle_merge")
        .join(bands.as("b"),
          expr("a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id"))
        .selectExpr("a.doc_id AS a_id", "b.doc_id AS b_id")
        .distinct()
      cand.as("c")
        .join(shingled.selectExpr("doc_id", "sh AS sha").as("sa"), expr("sa.doc_id = c.a_id"))
        .join(shingled.selectExpr("doc_id", "sh AS shb").as("sb"), expr("sb.doc_id = c.b_id"))
        .selectExpr("a_id", "b_id",
          "round(CAST(size(array_intersect(sha, shb)) AS DOUBLE) / size(array_union(sha, shb)), 6) AS jaccard")
        .orderBy("a_id", "b_id")
    },

    // ---- Sliced full-corpus dedup (operator Dedup.minhashLshSliced) -----
    // the bounded-scratch execution shape: saveBandTable once, then
    // slice-vs-index passes whose corpus_id < new_id filter yields each
    // unordered pair exactly once. SAME oracle as q_dedup_minhash_pairs
    // — the two shapes compute the identical pair set by construction,
    // and the shared oracle proves it cross-engine. (The union here is
    // for the correctness gate; a scale run materializes slice by slice
    // — see BenchSf10's dedup_incr phase.)
    QueryDef("q_dedup_sliced", minhashPairsOracle) { (s, dir) =>
      graft.sources.Warehouse.resetTable(s, "graft_sliced_bands")
      graft.operators.Dedup.minhashLshSliced(docs(s, dir), "doc_id", "text",
          table = "graft_sliced_bands", slices = 4, threshold = 0.0)
        .map(_()) // gate consumer: force all slices, union in one job
        .reduce(_ unionAll _)
        .selectExpr("a_id", "b_id", "round(jaccard, 6) AS jaccard")
        .orderBy("a_id", "b_id")
    },

    // ---- Duplicate clusters: connected components over the LSH pair
    // graph (operator Dedup.duplicateClusters — union-find on the driver
    // while the pairs fit the broadcast threshold, min-label propagation
    // rounds of (vertex, label) shuffles above it; the oracle takes the
    // recursive-CTE transitive closure DuckDB can afford at sf0.01)
    QueryDef("q_dedup_clusters", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents
         |), shl AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), sig AS (
         |  SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)
         |), bands AS (
         |  $bandSel
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), pairs AS (
         |  SELECT c.a_id, c.b_id
         |  FROM cand c
         |  JOIN shl sa ON sa.doc_id = c.a_id
         |  JOIN shl sb ON sb.doc_id = c.b_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) >= 0.5
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |), reach(src, dst) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS id, min(dst) AS cluster
         |FROM reach GROUP BY src ORDER BY id""".stripMargin
    }) { (s, dir) =>
      val pairs = graft.operators.Dedup.minhashLsh(
        docs(s, dir), "doc_id", "text", k = 8, bands = 4, threshold = 0.5)
      graft.operators.Dedup.duplicateClusters(pairs.select("a_id", "b_id"))
        .select("id", "cluster")
        .orderBy("id")
    },

    // ---- Incremental dedup: new batch vs existing corpus (the ingest
    // shape — candidates from newBands ⋈ corpusBands, NO corpus self-join;
    // operator Dedup.minhashLshAgainst / dropNearDuplicatesAgainst).
    QueryDef("q_dedup_incremental", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      def bandSel(src: String) = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM $src")
        .mkString("\n  UNION ALL ")
      s"""WITH t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents
         |), shl AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), sig AS (
         |  SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)
         |), sig_new AS (SELECT * FROM sig WHERE doc_id >= 250),
         |sig_corpus AS (SELECT * FROM sig WHERE doc_id < 250),
         |bands_new AS (
         |  ${bandSel("sig_new")}
         |), bands_corpus AS (
         |  ${bandSel("sig_corpus")}
         |), cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM bands_new n JOIN bands_corpus c
         |    ON n.band = c.band AND n.bkey = c.bkey
         |)
         |SELECT p.new_id, p.corpus_id,
         |  round(CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
         |        / len(list_distinct(sn.sh || sc.sh)), 6) AS jaccard
         |FROM cand p
         |JOIN shl sn ON sn.doc_id = p.new_id
         |JOIN shl sc ON sc.doc_id = p.corpus_id
         |WHERE CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
         |      / len(list_distinct(sn.sh || sc.sh)) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      graft.operators.Dedup.minhashLshAgainst(
          d.filter(col("doc_id") >= 250), d.filter(col("doc_id") < 250),
          "doc_id", "text", k = 8, bands = 4, threshold = 0.5)
        .selectExpr("new_id", "corpus_id", "round(jaccard, 6) AS jaccard")
        .orderBy("new_id", "corpus_id")
    },

    // ---- End-to-end near-dedup policy: exact dedup, then drop every
    // doc that near-duplicates a lower-id survivor (Dedup.dropNearDuplicates
    // — the standard corpus-dedup pipeline, oracle-checked end to end).
    QueryDef("q_dedup_drop", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), d AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc_id FROM keep)
         |), t AS (
         |  SELECT doc_id, $toksD AS tk FROM d
         |), shl AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), sig AS (
         |  SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)
         |), bands AS (
         |  $bandSel
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), losers AS (
         |  SELECT DISTINCT c.b_id AS doc_id
         |  FROM cand c
         |  JOIN shl sa ON sa.doc_id = c.a_id
         |  JOIN shl sb ON sb.doc_id = c.b_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) >= 0.5
         |)
         |SELECT doc_id FROM d WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.Dedup.dropNearDuplicates(docs(s, dir), "doc_id", "text",
          k = 8, bands = 4, threshold = 0.5)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // ---- SimHash (16-bit, distinct-token votes) -------------------------
    QueryDef("q_dedup_simhash",
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct($toksD) AS dt
         |  FROM documents WHERE doc_id < 60
         |)
         |SELECT doc_id,
         |  list_sum(list_transform(range(0, 16), b ->
         |    CASE WHEN list_sum(list_transform(dt, w ->
         |           CASE WHEN (${h60d("w")} >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
         |         THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS simhash16
         |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // dt bound as a lambda variable (SURVEY §6): a column alias gets
        // inlined by CollapseProject into the 16-bit lambda, re-running
        // the distinct-tokenize once per bit
        docs(s, dir).filter(col("doc_id") < 60)
          .selectExpr("doc_id",
            s"""CAST(element_at(transform(array(array_distinct($toksS)), dt ->
               |  aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, b) ->
               |    acc + CASE WHEN aggregate(dt, 0, (a2, w) ->
               |        a2 + CASE WHEN shiftright(${h60s("w")}, b) & 1 = 1 THEN 1 ELSE -1 END) >= 0
               |      THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END)), 1) AS BIGINT) AS simhash16""".stripMargin)
          .orderBy("doc_id")
    },

    // ---- n-gram Jaccard, all pairs in a small window --------------------
    QueryDef("q_dedup_jaccard",
      s"""WITH t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 25
         |), g AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
         |FROM g a JOIN g b ON a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin) {
      (s, dir) =>
        val g = docs(s, dir).filter(col("doc_id") < 25)
          .selectExpr("doc_id", s"$toksS AS tk")
          .filter(expr("size(tk) >= 3"))
          .selectExpr("doc_id", s"$shS AS sh")
        g.as("a").join(g.as("b"), expr("a.doc_id < b.doc_id"))
          .selectExpr("a.doc_id AS a_id", "b.doc_id AS b_id",
            "round(CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE) / size(array_union(a.sh, b.sh)), 6) AS jaccard")
          .orderBy("a_id", "b_id")
    },

    // ---- Language ID: stopword-list voting ------------------------------
    QueryDef("q_text_langid", {
      val lists = Map(
        "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
        "es" -> Seq("el", "la", "los", "y", "es", "en", "por", "con"),
        "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "une"),
        "zh" -> Seq("的", "是", "不", "了", "在", "我", "有", "和"))
      def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      val scoresD = lists.toSeq.sortBy(_._1).map { case (l, ws) =>
        s"CAST(len(list_filter(tk, w -> list_contains(${arr(ws)}, w))) AS BIGINT) AS s_$l"
      }.mkString(",\n  ")
      s"""WITH t AS (SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 120),
         |s AS (SELECT doc_id,
         |  $scoresD
         |FROM t)
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted
         |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val lists = Map(
        "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with"),
        "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
        "es" -> Seq("el", "la", "los", "y", "es", "en", "por", "con"),
        "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "une"),
        "zh" -> Seq("的", "是", "不", "了", "在", "我", "有", "和"))
      def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("array(", ", ", ")")
      val scoreCols = lists.toSeq.sortBy(_._1).map { case (l, ws) =>
        s"CAST(size(filter(tk, w -> array_contains(${arr(ws)}, w))) AS BIGINT) AS s_$l"
      }
      docs(s, dir).filter(col("doc_id") < 120)
        .selectExpr("doc_id", s"$toksS AS tk")
        .selectExpr("doc_id" +: scoreCols: _*)
        .selectExpr("doc_id", "s_de", "s_en", "s_es", "s_fr", "s_zh",
          """CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            |     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            |     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            |     WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted""".stripMargin)
        .orderBy("doc_id")
    },

    // ---- Quality scoring: length / punct / stopword ratios --------------
    QueryDef("q_text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksD AS tk FROM documents WHERE doc_id < 150
         |)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         |        / length(text), 6) AS alpha_ratio,
         |  round(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
         |        / length(text), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(tk, w -> list_contains(['the','a','and','of','to','in','is','for'], w))) AS DOUBLE)
         |        / len(tk), 6) AS stop_ratio,
         |  round(0.4 * (CAST(len(list_filter(tk, w -> list_contains(['the','a','and','of','to','in','is','for'], w))) AS DOUBLE) / len(tk))
         |      + 0.3 * (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text))
         |      + 0.3 * least(1.0, CAST(len(tk) AS DOUBLE) / 100.0), 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).filter(col("doc_id") < 150)
          .selectExpr("doc_id", "text", s"$toksS AS tk")
          .selectExpr("doc_id",
            "CAST(length(text) AS BIGINT) AS n_chars",
            "CAST(size(tk) AS BIGINT) AS n_tokens",
            "round(CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE) / length(text), 6) AS alpha_ratio",
            "round(CAST(length(regexp_replace(text, '[^.,!?;:]', '')) AS DOUBLE) / length(text), 6) AS punct_ratio",
            "round(CAST(size(filter(tk, w -> array_contains(array('the','a','and','of','to','in','is','for'), w))) AS DOUBLE) / size(tk), 6) AS stop_ratio",
            """round(0.4 * (CAST(size(filter(tk, w -> array_contains(array('the','a','and','of','to','in','is','for'), w))) AS DOUBLE) / size(tk))
              |    + 0.3 * (CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE) / length(text))
              |    + 0.3 * least(1.0D, CAST(size(tk) AS DOUBLE) / 100.0D), 6) AS quality""".stripMargin)
          .orderBy("doc_id")
    },

    // ---- Token counting: whitespace + regex tokenizers ------------------
    QueryDef("q_text_tokens",
      s"""WITH t AS (
         |  SELECT doc_id, text, $toksD AS tk FROM documents WHERE doc_id < 150
         |)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_re,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS ttr,
         |  round(CAST(length(text) AS DOUBLE) / len(tk), 6) AS chars_per_tok
         |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).filter(col("doc_id") < 150)
          .selectExpr("doc_id", "text", s"$toksS AS tk")
          .selectExpr("doc_id",
            "CAST(size(tk) AS BIGINT) AS n_ws",
            "CAST(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS BIGINT) AS n_re",
            "CAST(size(array_distinct(tk)) AS BIGINT) AS n_distinct",
            "round(CAST(size(array_distinct(tk)) AS DOUBLE) / size(tk), 6) AS ttr",
            "round(CAST(length(text) AS DOUBLE) / size(tk), 6) AS chars_per_tok")
          .orderBy("doc_id")
    },

    // ---- Document chunking: fixed-size windows with overlap -------------
    // (operator TextOps.chunk — context-window prep for embedding /
    // training pipelines; one narrow explode per doc, no shuffle)
    QueryDef("q_text_chunk",
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 120)
        |SELECT doc_id, i AS chunk_id,
        |  substr(text, CAST(1 + i * 100 AS INT), 120) AS chunk,
        |  CAST(length(substr(text, CAST(1 + i * 100 AS INT), 120)) AS BIGINT) AS n_chars
        |FROM t, unnest(range(0, greatest(length(text) - 1, 0) // 100 + 1)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.chunk(
            docs(s, dir).filter(col("doc_id") < 120).select("doc_id", "text"),
            "text", size = 120, overlap = 20)
          .selectExpr("doc_id", "chunk_id", "chunk",
            "CAST(length(chunk) AS BIGINT) AS n_chars")
          .orderBy("doc_id", "chunk_id")
    },

    // ---- Token-bounded chunking (TextOps.chunkByTokens) -----------------
    QueryDef("q_text_chunk_tokens",
      s"""WITH t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 120
         |)
         |SELECT doc_id, i AS chunk_id,
         |  array_to_string(list_slice(tk, CAST(1 + i * 24 AS INT), CAST(i * 24 + 32 AS INT)), ' ') AS chunk,
         |  CAST(len(list_slice(tk, CAST(1 + i * 24 AS INT), CAST(i * 24 + 32 AS INT))) AS BIGINT) AS n_tok
         |FROM t, unnest(range(0, greatest(len(tk) - 1, 0) // 24 + 1)) AS u(i)
         |ORDER BY doc_id, chunk_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.chunkByTokens(
            docs(s, dir).filter(col("doc_id") < 120).select("doc_id", "text"),
            "text", size = 32, overlap = 8)
          .select("doc_id", "chunk_id", "chunk", "n_tok")
          .orderBy("doc_id", "chunk_id")
    },

    // ---- TF-IDF: top-3 characteristic terms per document ----------------
    // (operator TextOps.tfidf — tf per (doc, token), df per token,
    // tf * ln(n_docs / df); ranked per doc with a token tiebreak)
    QueryDef("q_text_tfidf",
      s"""WITH t AS (
         |  SELECT doc_id, unnest($toksD) AS token
         |  FROM documents WHERE doc_id < 50
         |), tf AS (
         |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
         |), dfq AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (
         |  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf
         |), scored AS (
         |  SELECT doc_id, token, tf,
         |    round(tf * ln(n_docs / df), 6) AS tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf * ln(n_docs / df) DESC, token) AS rn
         |  FROM tf JOIN dfq USING (token), n
         |)
         |SELECT doc_id, token, tf, tfidf FROM scored WHERE rn <= 3
         |ORDER BY doc_id, token""".stripMargin) {
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val scored = graft.operators.TextOps.tfidf(
          docs(s, dir).filter(col("doc_id") < 50), "doc_id", "text")
        scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id")
              .orderBy(expr("tf * ln(CAST(n_docs AS DOUBLE) / df)").desc, col("token"))))
          .filter(col("rn") <= 3)
          .selectExpr("doc_id", "token", "tf", "round(tfidf, 6) AS tfidf")
          .orderBy("doc_id", "token")
      }
    },

    // ---- Char-entropy quality signal (native graft_entropy) -------------
    // Shannon entropy over codepoints, folded in ascending-codepoint
    // order with p * (ln p / ln 2) per term on BOTH engines — the native
    // expression and DuckDB's sorted-distinct list fold produce the same
    // double bit-for-bit before rounding
    QueryDef("q_text_entropy",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, '') AS cs
        |  FROM documents WHERE doc_id < 150
        |), d AS (
        |  SELECT doc_id, cs, list_sort(list_distinct(cs)) AS ds FROM t
        |)
        |SELECT doc_id,
        |  round(-(list_reduce(list_prepend(0.0::DOUBLE, list_transform(ds, c ->
        |    (CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs)) *
        |    (ln(CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / len(cs)) / ln(2)))),
        |    (a, b) -> a + b)), 6) AS h_chars,
        |  CAST(len(ds) AS BIGINT) AS n_chars_distinct
        |FROM d ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).filter(col("doc_id") < 150)
          .selectExpr("doc_id",
            "round(graft_entropy(text), 6) AS h_chars",
            "CAST(size(array_distinct(split(text, ''))) AS BIGINT) AS n_chars_distinct")
          .orderBy("doc_id")
    },

    // ---- PII scrubbing (TextOps.redact) ---------------------------------
    // the synthetic corpus carries no PII, so the query PLANTS
    // deterministic PII built from columns and checks the scrub: emails,
    // phone-shaped numbers, long digit runs → type tokens. Patterns stay
    // inside the Java-regex ∩ RE2 subset so both engines agree.
    QueryDef("q_text_redact",
      """WITH t AS (
        |  SELECT doc_id,
        |    concat('reach user', doc_id, ' at u', doc_id, '@mail-', source, '.com ',
        |           'or +1 555 02', doc_id % 100, ' id ', 900000000 + doc_id * 17, ' ',
        |           substr(text, 1, 40)) AS msg
        |  FROM documents WHERE doc_id < 150
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(msg, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
        |      '\+?[0-9][0-9]*[ ()-][0-9 ()-]{4,}[0-9]', '<phone>', 'g'),
        |    '[0-9]{9,}', '<digits>', 'g') AS redacted
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.redact(
            docs(s, dir).filter(col("doc_id") < 150)
              .selectExpr("doc_id",
                """concat('reach user', doc_id, ' at u', doc_id, '@mail-', source, '.com ',
                  |'or +1 555 02', doc_id % 100, ' id ', 900000000 + doc_id * 17, ' ',
                  |substr(text, 1, 40)) AS msg""".stripMargin),
            "msg")
          .select("doc_id", "redacted")
          .orderBy("doc_id")
    },

    // ---- Sequence packing into token-budget bins (TextOps.packBins) -----
    // running-sum window partitioned by shard: deterministic greedy
    // packing, one sequential walk per shard (the scale knob)
    QueryDef("q_text_pack",
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 8 AS shard, CAST(len($toksD) AS BIGINT) AS n_tok
         |  FROM documents WHERE doc_id < 400
         |), c AS (
         |  SELECT doc_id, shard, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
         |  FROM t
         |)
         |SELECT doc_id, shard, n_tok,
         |  CAST(floor((cum - n_tok) / 200) AS BIGINT) AS bin
         |FROM c ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.packBins(
            docs(s, dir).filter(col("doc_id") < 400)
              .selectExpr("doc_id", "doc_id % 8 AS shard",
                s"CAST(size($toksS) AS BIGINT) AS n_tok"),
            "n_tok", "doc_id", "shard", budget = 200)
          .select("doc_id", "shard", "n_tok", "bin")
          .orderBy("doc_id")
    },

    // ---- Deterministic train/test hash split (Sampling.hashSplit) -------
    // assignment is a pure function of the id (shared graft_hash60), so
    // the fold is reproducible across engines, runs, and re-shards —
    // verified row-for-row, not just by fold sizes
    QueryDef("q_split",
      s"""SELECT doc_id,
         |  CASE WHEN ${h60d("CAST(doc_id AS VARCHAR)")} % 10 < 1
         |       THEN 'test' ELSE 'train' END AS split
         |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.hashSplit(
            docs(s, dir).filter(col("doc_id") < 200).select("doc_id"),
            "doc_id", folds = 10, testFolds = 1)
          .orderBy("doc_id")
    },

    // ---- Group-aware (leakage-safe) split -------------------------------
    // splitting on the DOC id leaks: two copies of the same text land in
    // different folds and the test set overlaps training. Splitting on a
    // GROUP key (here the exact-dup group md5(text); at scale the
    // near-dup cluster id from Dedup.duplicateClusters) sends every
    // member of a group to the SAME fold by construction. The output
    // carries the proof: leaked_groups counts groups spanning both
    // splits and must be 0.
    QueryDef("q_split_group",
      s"""WITH g AS (SELECT doc_id, md5(text) AS grp FROM documents),
         |s AS (SELECT doc_id, grp,
         |    CASE WHEN ${h60d("grp")} % 10 < 2 THEN 'test' ELSE 'train' END AS split
         |  FROM g),
         |leak AS (SELECT CAST(count(*) AS BIGINT) AS leaked_groups FROM (
         |  SELECT grp FROM s GROUP BY grp HAVING count(DISTINCT split) > 1))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
         |  (SELECT leaked_groups FROM leak) AS leaked_groups
         |FROM s GROUP BY split ORDER BY split""".stripMargin) {
      (s, dir) => {
        val tagged = graft.operators.Sampling.hashSplit(
          docs(s, dir).selectExpr("doc_id", "md5(text) AS grp"),
          "grp", folds = 10, testFolds = 2)
        tagged.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val leak = tagged.groupBy("grp")
          .agg(countDistinct("split").as("_ns"))
          .filter(col("_ns") > 1)
          .agg(count(lit(1)).cast("bigint").as("leaked_groups"))
        tagged.groupBy("split")
          .agg(count(lit(1)).cast("bigint").as("n_docs"),
            expr("CAST(count(DISTINCT grp) AS BIGINT)").as("n_groups"))
          .crossJoin(broadcast(leak))
          .select("split", "n_docs", "n_groups", "leaked_groups")
          .orderBy("split")
      }
    },

    // ---- Fuzzy join (FuzzyJoin.byEditDistance): record linkage ----------
    // char-2gram MinHash LSH candidates + thresholded levenshtein verify,
    // never the cross join. The oracle mirrors the same signature math
    // (shared graft_hash60 contract) and the same band keys, so the
    // CANDIDATE SET — not just the verified pairs — agrees cross-engine.
    QueryDef("q_fuzzy_join", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      def bandSel(tbl: String, id: String) = (0 until 4).map(b =>
        s"SELECT $id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM $tbl")
        .mkString(" UNION ALL ")
      s"""WITH l AS (
         |  SELECT p_partkey AS a_key, p_name AS a_name FROM part WHERE p_partkey < 300
         |), r AS (
         |  SELECT p_partkey AS b_key, p_name AS b_name FROM part
         |  WHERE p_partkey >= 300 AND p_partkey < 600
         |), lsh AS (
         |  SELECT a_key, list_transform(range(1, greatest(len(lower(trim(a_name))) - 1, 1) + 1),
         |    i -> substr(lower(trim(a_name)), i, 2)) AS sh FROM l
         |), rsh AS (
         |  SELECT b_key, list_transform(range(1, greatest(len(lower(trim(b_name))) - 1, 1) + 1),
         |    i -> substr(lower(trim(b_name)), i, 2)) AS sh FROM r
         |), l_sig AS (
         |  SELECT a_key, $sigs FROM (SELECT a_key, $hsD AS hs FROM lsh)
         |), r_sig AS (
         |  SELECT b_key, $sigs FROM (SELECT b_key, $hsD AS hs FROM rsh)
         |), l_bands AS (${bandSel("l_sig", "a_key")}),
         |r_bands AS (${bandSel("r_sig", "b_key")}),
         |cand AS (
         |  SELECT DISTINCT a_key, b_key
         |  FROM l_bands a JOIN r_bands b ON a.band = b.band AND a.bkey = b.bkey
         |)
         |SELECT c.a_key AS a_key, c.b_key AS b_key,
         |  CAST(levenshtein(l.a_name, r.b_name) AS INT) AS dist
         |FROM cand c JOIN l ON l.a_key = c.a_key JOIN r ON r.b_key = c.b_key
         |WHERE levenshtein(l.a_name, r.b_name) <= 4
         |ORDER BY c.a_key, c.b_key""".stripMargin
    }) { (s, dir) => {
      val p = Tables(s, dir, "part")
      val l = p.filter(col("p_partkey") < 300)
        .selectExpr("p_partkey AS a_key", "p_name AS a_name")
      val r = p.filter(col("p_partkey") >= 300 && col("p_partkey") < 600)
        .selectExpr("p_partkey AS b_key", "p_name AS b_name")
      graft.operators.FuzzyJoin.byEditDistance(l, r,
          "a_key", "a_name", "b_key", "b_name", maxDist = 4)
        .orderBy("a_key", "b_key")
    }},

    // ---- KWIC snippets (TextOps.snippets) -------------------------------
    // one row per occurrence of the term with its +/-3-token context —
    // the concordance view for corpus QA. Narrow posexplode + filter;
    // fan-out bounded by occurrence count, zero shuffle
    QueryDef("q_text_snippets",
      s"""WITH t AS (SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 100),
        |p AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS pos FROM t),
        |m AS (SELECT doc_id, tk, pos FROM p WHERE tk[pos] = 'data')
        |SELECT doc_id, CAST(pos - 1 AS BIGINT) AS pos,
        |  array_to_string(tk[greatest(pos - 3, 1):least(pos + 3, len(tk))], ' ') AS snippet
        |FROM m ORDER BY doc_id, pos""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.snippets(
            docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text",
            term = "data", window = 3)
          .orderBy("doc_id", "pos")
    },

    // ---- Entity resolution (FuzzyJoin.resolveEntities) ------------------
    // fuzzy self-pairs (char-2gram LSH + levenshtein<=2 verify) →
    // connected components → min-id canonical per entity. Two typo
    // variants are planted per part name (leading char dropped; char
    // appended) so real 3-row entities exist, including the transitive
    // dist-2 edge between the two variants. The oracle mirrors the
    // candidate signature math AND closes over the pair graph with a
    // recursive CTE — two independent algorithms, one canonical map
    QueryDef("q_entity_resolve", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT pid, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE base AS (
         |  SELECT p_partkey AS pid, p_name AS name FROM part WHERE p_partkey < 120
         |), corpus AS (
         |  SELECT pid, name FROM base
         |  UNION ALL SELECT pid + 100000, substr(name, 2) FROM base
         |  UNION ALL SELECT pid + 200000, name || 'x' FROM base
         |), shl AS (
         |  SELECT pid, list_transform(range(1, greatest(len(lower(trim(name))) - 1, 1) + 1),
         |    i -> substr(lower(trim(name)), i, 2)) AS sh FROM corpus
         |), sig AS (
         |  SELECT pid, $sigs FROM (SELECT pid, $hsD AS hs FROM shl)
         |), bands AS (
         |  $bandSel
         |), cand AS (
         |  SELECT DISTINCT a.pid AS a_id, b.pid AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.pid < b.pid
         |), pairs AS (
         |  SELECT c.a_id, c.b_id FROM cand c
         |  JOIN corpus ca ON ca.pid = c.a_id
         |  JOIN corpus cb ON cb.pid = c.b_id
         |  WHERE levenshtein(ca.name, cb.name) <= 2
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |), reach(src, dst) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), lab AS (
         |  SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src
         |)
         |SELECT c.pid, coalesce(l.cluster, c.pid) AS canonical_id
         |FROM corpus c LEFT JOIN lab l ON c.pid = l.id
         |ORDER BY c.pid""".stripMargin
    }) { (s, dir) => {
      val base = Tables(s, dir, "part").filter(col("p_partkey") < 120)
        .selectExpr("p_partkey AS pid", "p_name AS name")
      val corpus = base
        .unionByName(base.selectExpr("pid + 100000 AS pid", "substr(name, 2) AS name"))
        .unionByName(base.selectExpr("pid + 200000 AS pid", "name || 'x' AS name"))
      graft.operators.FuzzyJoin.resolveEntities(corpus, "pid", "name", maxDist = 2)
        .select("pid", "canonical_id")
        .orderBy("pid")
    }},

    // ---- Stratified deterministic sampling (Sampling.stratified) --------
    // per-stratum keep rates with membership a pure function of the id:
    // the exact BIGINT thresholds (rate * 2^60) drive both engines, so
    // the sampled row SET matches row-for-row, not just by size
    QueryDef("q_sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60d("CAST(doc_id AS VARCHAR)")} <
         |  CASE lang WHEN 'en' THEN CAST(576460752303423488 AS BIGINT)
         |            WHEN 'zh' THEN CAST(288230376151711744 AS BIGINT)
         |            ELSE CAST(144115188075855872 AS BIGINT) END
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.stratified(
            docs(s, dir).select("doc_id", "lang"),
            "lang", "doc_id",
            Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.125)
          .orderBy("doc_id")
    },

    // ---- Weighted deterministic sampling (Sampling.weighted) ------------
    // keep probability proportional to a per-row quality weight, still a
    // pure function of the id: the kept SET matches row-for-row across
    // engines, and raising a weight never drops a previously-kept row
    QueryDef("q_sample_weighted",
      s"""SELECT doc_id, round(CAST(doc_id % 10 AS DOUBLE) / 10.0, 6) AS w
         |FROM documents
         |WHERE CAST(${h60d("CAST(doc_id AS VARCHAR)")} AS DOUBLE) <
         |  least(greatest(CAST(doc_id % 10 AS DOUBLE) / 10.0, CAST(0 AS DOUBLE)),
         |    CAST(1 AS DOUBLE)) * CAST(1152921504606846976 AS DOUBLE)
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.weighted(
            docs(s, dir).selectExpr("doc_id",
              "round(CAST(doc_id % 10 AS DOUBLE) / 10.0, 6) AS w"),
            "doc_id", "w")
          .orderBy("doc_id")
    },

    // ---- Deterministic corpus shuffle (Sampling.deterministicShuffle) ---
    // stable pseudo-random training order from hash(seed || id):
    // reproducible given the seed, independent of partitioning, a
    // different order per seed. LIMIT makes the order hash-visible (the
    // selected set IS the order's head); the plan is a distributed
    // TakeOrdered, never a single-task sort
    QueryDef("q_sample_shuffle",
      s"""SELECT doc_id, ${h60d("'ep1:' || CAST(doc_id AS VARCHAR)")} AS sk
         |FROM documents
         |ORDER BY sk, doc_id LIMIT 25""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.deterministicShuffle(
            docs(s, dir).select("doc_id"), "doc_id", "ep1",
            keepKeyAs = Some("sk"))
          .limit(25)
    },

    // ---- Deterministic k-per-key sample (Sampling.perKeySample) ---------
    // the k smallest id-hashes per group: reproducible "reservoir"
    // sampling whose merge is TopK.perKey — the scored input is never
    // hash-partitioned into one reducer per key (the |keys| ceiling a
    // row_number window merge would impose at cluster scale)
    QueryDef("q_sample_per_key",
      s"""WITH h AS (SELECT doc_id, lang,
         |    ${h60d("CAST(doc_id AS VARCHAR)")} AS hk
         |  FROM documents),
         |r AS (SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hk) AS INT) AS rnk
         |  FROM h)
         |SELECT doc_id, lang, rnk FROM r WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.perKeySample(
            docs(s, dir).select("doc_id", "lang"), Seq("lang"), "doc_id", k = 5)
          .select("doc_id", "lang", "rnk")
          .orderBy("lang", "rnk")
    },

    // ---- Weighted reservoir (Sampling.weightedReservoir) ----------------
    // Efraimidis–Spirakis A-ES: exactly k docs per lang, inclusion
    // probability ∝ n_chars, without replacement. Determinism: -ln(u)
    // is rounded ONCE to integer micro-nats, THEN divided by the weight
    // as an IEEE double (correctly-rounded, so bit-identical in DuckDB)
    // — precision stays RELATIVE to the weight scale instead of
    // collapsing to 0 for weights ≳ 1e6. Id tiebreak; an exact oracle
    // for a weighted random sample.
    QueryDef("q_sample_reservoir",
      s"""WITH h AS (SELECT doc_id, lang, n_chars,
         |    CAST(round(-ln((${h60d("'res1:' || CAST(doc_id AS VARCHAR)")} + 1)
         |        / 1152921504606846976.0) * 1000000) AS BIGINT)
         |      / CAST(n_chars AS DOUBLE) AS rk
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT doc_id, lang, rk,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS INT) AS rnk
         |  FROM h)
         |SELECT doc_id, lang, round(rk, 6) AS res_key, rnk FROM r WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin) {
      (s, dir) =>
        graft.operators.Sampling.weightedReservoir(
            docs(s, dir).select("doc_id", "lang", "n_chars"),
            "lang", "doc_id", "n_chars", k = 5)
          .select("doc_id", "lang", "res_key", "rnk")
          .orderBy("lang", "rnk")
    },

    // ---- Repetition signals (TextOps.repetitionSignals) -----------------
    // Gopher-style repetitiousness filters. The Spark side is pure
    // higher-order functions over the token array (sorted-run-length,
    // ZERO shuffle); the oracle proves the same numbers via the explode
    // + groupBy formulation — two independent algorithms, one answer
    QueryDef("q_text_repetition",
      """WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id < 200),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
        |  FROM t),
        |c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
        |    CAST(sum(n) AS BIGINT) AS nb FROM c GROUP BY 1)
        |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |  round(1.0::DOUBLE - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS dup_token_frac,
        |  g.top_bigram_n,
        |  round(CAST(g.top_bigram_n AS DOUBLE) / nb, 6) AS top_bigram_frac
        |FROM t JOIN g USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.repetitionSignals(
            docs(s, dir).filter(col("doc_id") < 200), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- BPE-ish pre-tokenization (TextOps.bpeTokens) -------------------
    // the GPT-2 pre-tokenizer pattern in the Java-regex ∩ RE2 subset, so
    // both engines split identically; counts AND the first tokens are
    // compared (to_json), not just aggregate sizes
    QueryDef("q_text_bpe",
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
        |    t -> trim(t) != '')) AS BIGINT) AS n_bpe,
        |  to_json(list_filter(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
        |    t -> trim(t) != '')[1:8])::VARCHAR AS head_json
        |FROM documents WHERE doc_id < 150 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.bpeTokens(
            docs(s, dir).filter(col("doc_id") < 150), "text")
          .selectExpr("doc_id", "n_bpe", "to_json(slice(bpe, 1, 8)) AS head_json")
          .orderBy("doc_id")
    },

    // ---- Keyed pseudonymization (TextOps.pseudonymize) ------------------
    // salted SHA-256 tokenization: joins/groupBys keep working on the
    // token while the raw id never leaves; equal inputs ⇒ equal tokens is
    // exactly what the cross-engine hash match verifies
    QueryDef("q_text_pseudonym",
      """SELECT doc_id, sha256('pepper-2026:' || CAST(doc_id AS VARCHAR)) AS pseudo_id
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.pseudonymize(
            docs(s, dir).filter(col("doc_id") < 100).select("doc_id"),
            "doc_id", salt = "pepper-2026:")
          .orderBy("doc_id")
    },

    // ---- Rolling-hash fingerprint (31-polynomial mod 1e9+7) -------------
    QueryDef("q_text_fingerprint",
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 150)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(text, ''), c -> ord(c)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp_full,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(string_split(substr(text, 1, 64), ''), c -> ord(c)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp_prefix
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // native codegen'd expression (functions/text/RollingHash) — same
        // value as the SQL fold, no per-char array materialization
        docs(s, dir).filter(col("doc_id") < 150)
          .selectExpr("doc_id",
            "graft_rolling_hash(text) AS fp_full",
            "graft_rolling_hash(substr(text, 1, 64)) AS fp_prefix")
          .orderBy("doc_id")
    },

    // ---- LSH recall audit (approximation quality, measured) -------------
    // the self-audit every approximate dedup deployment needs: on a
    // bounded window where exact all-pairs Jaccard is affordable, count
    // the true near-dup pairs the banded LSH candidate set recovers.
    // LSH verifies candidates with the exact Jaccard, so FP = 0 by
    // construction and the one number that can degrade is RECALL —
    // reported in exact integer ppm. The bounded all-pairs side is the
    // DEMO scale; the LSH side is the production path under audit.
    QueryDef("q_dedup_eval", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 150
         |), shl AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), exact AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |        / len(list_distinct(a.sh || b.sh)) >= 0.5
         |), sig AS (
         |  SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)
         |), bands AS (
         |  $bandSel
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), lsh AS (
         |  SELECT c.a_id, c.b_id FROM cand c
         |  JOIN shl sa ON sa.doc_id = c.a_id
         |  JOIN shl sb ON sb.doc_id = c.b_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) >= 0.5
         |)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_true_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_lsh_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM exact) -
         |    (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_missed,
         |  CASE WHEN (SELECT count(*) FROM exact) > 0 THEN
         |    (1000000 * (SELECT CAST(count(*) AS BIGINT) FROM lsh))
         |      // (SELECT CAST(count(*) AS BIGINT) FROM exact)
         |  ELSE CAST(NULL AS BIGINT) END AS recall_ppm""".stripMargin
    }) { (s, dir) => {
      val sub = docs(s, dir).filter(col("doc_id") < 150)
      val shingled = sub
        .selectExpr("doc_id", s"$toksS AS tk")
        .filter(expr("size(tk) >= 3"))
        .selectExpr("doc_id", s"$shS AS sh")
      shingled.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = shingled.as("a").join(shingled.as("b"), expr("a.doc_id < b.doc_id"))
        .filter(expr(
          "CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE) / size(array_union(a.sh, b.sh)) >= 0.5"))
        .selectExpr("a.doc_id AS a_id", "b.doc_id AS b_id")
        .agg(count(lit(1)).cast("bigint").as("n_true_pairs"))
      val lsh = graft.operators.Dedup.minhashLsh(sub, "doc_id", "text",
          k = 8, bands = 4, threshold = 0.5)
        .agg(count(lit(1)).cast("bigint").as("n_lsh_pairs"))
      exact.crossJoin(lsh)
        .selectExpr("n_true_pairs", "n_lsh_pairs",
          "n_true_pairs - n_lsh_pairs AS n_missed",
          "CASE WHEN n_true_pairs > 0 THEN (1000000 * n_lsh_pairs) div n_true_pairs ELSE CAST(NULL AS BIGINT) END AS recall_ppm")
    }},

    // ---- Corpus diversity (type-token ratios per source) ----------------
    // the mixture-health stat a training-data pipeline watches per
    // domain: low distinct-n ratios flag templated/boilerplate sources
    // BEFORE they dilute a mixture. Ratios are single IEEE divisions of
    // exact counts (engine-portable unrounded); the token frame is
    // persisted once and feeds all three aggregates (Spark re-inlines
    // multi-referenced CTEs — the q_funnel lesson; not unpersisted:
    // the plan is lazy at return, clearCache() between batch runs)
    QueryDef("q_text_diversity",
      """WITH tk AS (SELECT source,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(l)) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN len(l) > 1 THEN len(l) - 1 ELSE 0 END) AS BIGINT) AS n_bigrams
        |  FROM tk GROUP BY source),
        |u1 AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS u1
        |  FROM (SELECT source, unnest(l) AS tok FROM tk) GROUP BY source),
        |u2 AS (SELECT source, CAST(count(DISTINCT bg) AS BIGINT) AS u2
        |  FROM (SELECT source,
        |      unnest(list_transform(range(1, len(l)), i -> array_to_string(l[i:i+1], ' '))) AS bg
        |    FROM tk WHERE len(l) >= 2) GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  coalesce(u1, 0) AS u1, coalesce(u2, 0) AS u2,
        |  CASE WHEN n_tokens > 0 THEN CAST(coalesce(u1, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS ttr,
        |  CASE WHEN n_bigrams > 0 THEN CAST(coalesce(u2, 0) AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS bigram_ttr
        |FROM tot LEFT JOIN u1 USING (source) LEFT JOIN u2 USING (source)
        |ORDER BY source""".stripMargin) {
      (s, dir) => {
        val tk = docs(s, dir)
          .selectExpr("source",
            s"filter($toksS, x -> x <> '') AS l")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tot = tk.groupBy("source").agg(
          count(lit(1)).cast("bigint").as("n_docs"),
          expr("CAST(sum(size(l)) AS BIGINT)").as("n_tokens"),
          expr("CAST(sum(IF(size(l) > 1, size(l) - 1, 0)) AS BIGINT)").as("n_bigrams"))
        val u1 = tk.select(col("source"), explode(col("l")).as("tok"))
          .groupBy("source")
          .agg(expr("CAST(count(DISTINCT tok) AS BIGINT)").as("u1"))
        val u2 = tk.filter(expr("size(l) >= 2"))
          .select(col("source"), explode(expr(
            "transform(sequence(1, size(l) - 1), i -> array_join(slice(l, i, 2), ' '))")).as("bg"))
          .groupBy("source")
          .agg(expr("CAST(count(DISTINCT bg) AS BIGINT)").as("u2"))
        // LEFT joins + coalesce: a source of empty/one-word docs has no
        // u1/u2 row — the exact degenerate source a mixture-health stat
        // exists to flag must SURFACE (0s, NULL ratios), not vanish.
        // CASE guards the ANSI-raising zero divisions.
        tot.join(u1, Seq("source"), "left").join(u2, Seq("source"), "left")
          .selectExpr("source", "n_docs", "n_tokens",
            "coalesce(u1, CAST(0 AS BIGINT)) AS u1",
            "coalesce(u2, CAST(0 AS BIGINT)) AS u2",
            "CASE WHEN n_tokens > 0 THEN CAST(coalesce(u1, CAST(0 AS BIGINT)) AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS ttr",
            "CASE WHEN n_bigrams > 0 THEN CAST(coalesce(u2, CAST(0 AS BIGINT)) AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS bigram_ttr")
          .orderBy("source")
      }
    },

    // ---- Cross-document repeated windows (TextOps.repeatedWindows) ------
    // substring-level dedup signal: boilerplate/license/template spans
    // repeat ACROSS docs even when whole-doc dedup passes. Both
    // aggregation buffers bounded: count partial-combines, example ids
    // TopK-capped BEFORE collect (the q_inverted_index lesson)
    QueryDef("q_text_substring_dup",
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(l) - 5), i -> array_to_string(l[i:i+6], ' '))) AS win
        |  FROM tk WHERE len(l) >= 7),
        |d AS (SELECT DISTINCT doc_id, win FROM w),
        |g AS (SELECT win, CAST(count(*) AS BIGINT) AS n_docs,
        |    to_json(list_sort(list(doc_id))[1:3])::VARCHAR AS example_ids
        |  FROM d GROUP BY win HAVING count(*) >= 2)
        |SELECT win, n_docs, example_ids FROM g
        |ORDER BY n_docs DESC, win LIMIT 40""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.repeatedWindows(
            docs(s, dir), "doc_id", "text", w = 7, minDocs = 2, exampleK = 3)
          .orderBy(col("n_docs").desc, col("win"))
          .limit(40)
    },

    // ---- Tokenizer-exact BPE token counts (Bpe.bpeTokenCounts) ----------
    // a REAL merge-table BPE (trained deterministically from a fixed
    // seed corpus at object init, 60 integer ranks) counted identically
    // in both engines: the merge table is replicated into the oracle as
    // the same generated nested-replace SQL the Spark side runs. Spark
    // pays the encoder once per DISTINCT word (broadcast dictionary);
    // the oracle encodes per occurrence — same function, same counts
    QueryDef("q_text_bpe_exact", {
      import graft.operators.Bpe
      s"""WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS l
        |  FROM documents),
        |w AS (SELECT doc_id, unnest(l) AS w FROM tk),
        |c AS (SELECT doc_id, ${Bpe.countSql(Bpe.delimitDuckSql("w"))} AS n FROM w)
        |SELECT t.doc_id, CAST(coalesce(sum(c.n), 0) AS BIGINT) AS n_bpe_exact
        |FROM tk t LEFT JOIN c ON t.doc_id = c.doc_id
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    }) {
      (s, dir) =>
        graft.operators.Bpe.bpeTokenCounts(docs(s, dir), "doc_id", "text")
          .orderBy("doc_id")
    },

    // ---- Exact maximal duplicated spans (TextOps.duplicateSpans) --------
    // Lee et al. span dedup: every k-gram occurring >= 2 times seeds a
    // position; consecutive duplicated positions chain (gaps-and-islands)
    // into the MAXIMAL (doc, start, end) span — the full suffix-array
    // result for spans >= k, as sorted gram runs instead of an array
    QueryDef("q_text_dup_spans",
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |w AS (SELECT doc_id, l, unnest(range(0, len(l) - 5)) AS pos
        |  FROM tk WHERE len(l) >= 6),
        |gr AS (SELECT doc_id, pos, array_to_string(l[pos + 1 : pos + 6], ' ') AS g FROM w),
        |dup AS (SELECT g FROM gr GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM gr WHERE g IN (SELECT g FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM m),
        |sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 6 AS end_tok
        |  FROM isl GROUP BY doc_id, grp),
        |f AS (SELECT doc_id, start_tok, end_tok, end_tok - start_tok AS n_tokens
        |  FROM sp WHERE end_tok - start_tok >= 8)
        |SELECT f.doc_id, f.start_tok, f.end_tok, f.n_tokens,
        |  array_to_string(t.l[f.start_tok + 1 : f.end_tok], ' ') AS span
        |FROM f JOIN tk t USING (doc_id)
        |ORDER BY doc_id, start_tok""".stripMargin) {
      (s, dir) =>
        graft.operators.TextOps.duplicateSpans(
            docs(s, dir), "doc_id", "text", k = 6, minTokens = 8)
          .orderBy("doc_id", "start_tok")
    },

    // ---- Incremental span dedup (TextOps.duplicateSpansAgainst) ---------
    // the frozen-reference face of q_text_dup_spans: spans of NEW docs
    // (every 5th doc_id) whose every 6-gram is duplicated WITHIN THE
    // CORPUS (the other 4/5, occurrence count >= 2) — batch-internal
    // repetition deliberately does not count, so verdicts are stable
    // across batches. The modulo split crosses the generator's planted
    // nearby-id duplicates, so real spans exist on both sides.
    QueryDef("q_text_span_incr",
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |w AS (SELECT doc_id, l, unnest(range(0, len(l) - 5)) AS pos
        |  FROM tk WHERE len(l) >= 6),
        |gr AS (SELECT doc_id, pos, array_to_string(l[pos + 1 : pos + 6], ' ') AS g FROM w),
        |dup AS (SELECT g FROM gr WHERE doc_id % 5 <> 0 GROUP BY g HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM gr
        |  WHERE doc_id % 5 = 0 AND g IN (SELECT g FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM m),
        |sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 6 AS end_tok
        |  FROM isl GROUP BY doc_id, grp),
        |f AS (SELECT doc_id, start_tok, end_tok, end_tok - start_tok AS n_tokens
        |  FROM sp WHERE end_tok - start_tok >= 8)
        |SELECT f.doc_id, f.start_tok, f.end_tok, f.n_tokens,
        |  array_to_string(t.l[f.start_tok + 1 : f.end_tok], ' ') AS span
        |FROM f JOIN tk t USING (doc_id)
        |ORDER BY doc_id, start_tok""".stripMargin) { (s, dir) =>
      val all = docs(s, dir)
      graft.operators.TextOps.duplicateSpansAgainst(
          all.filter(col("doc_id") % 5 === 0),
          graft.operators.TextOps.dupGrams(
            all.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", k = 6),
          "doc_id", "text", k = 6, minTokens = 8)
        .orderBy("doc_id", "start_tok")
    },

    // ---- Benchmark decontamination (TextOps.decontaminate) --------------
    // the GPT-3/PaLM n-gram overlap check: flag corpus docs sharing any
    // word-5-gram with the benchmark slice. Corpus grams are hashed
    // map-side and matched against the BROADCAST benchmark gram set —
    // only actual hits reach a shuffle; clean docs never move
    QueryDef("q_text_decontam",
      s"""WITH tk AS (SELECT doc_id, $toksD AS tk FROM documents),
        |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 3),
        |    i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
        |  FROM tk WHERE doc_id % 97 = 0 AND len(tk) >= 5),
        |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 3),
        |    i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
        |  FROM tk WHERE doc_id % 97 <> 0 AND len(tk) >= 5),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
        |  FROM cg JOIN bg USING (gram_hash) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hit_grams, 0) AS n_hit_grams,
        |  coalesce(h.n_hit_grams, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        graft.operators.TextOps.decontaminate(
            d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
            d.filter(col("doc_id") % 97 === 0), "text", n = 5)
          .orderBy("doc_id")
      }
    },

    // ---- Bloom-filter decontamination (TextOps.bloomDecontaminate) ------
    // the sketch-gated variant for benchmark sets too big to broadcast
    // exactly: Spark's native BloomFilterAggregate builds the filter as
    // ONE scalar subquery; the corpus probes it with might_contain and
    // never joins the benchmark. The oracle verifies the ONE-SIDED
    // contract exactly: per document, the bloom count must dominate the
    // exact count (no false negatives) and every exactly-contaminated
    // doc must be bloom-flagged — both booleans are TRUE rows the DuckDB
    // replay of the exact side can assert bit-for-bit.
    QueryDef("q_bloom_decontam",
      s"""WITH tk AS (SELECT doc_id, $toksD AS tk FROM documents),
        |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 3),
        |    i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
        |  FROM tk WHERE doc_id % 97 = 0 AND len(tk) >= 5),
        |cg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 3),
        |    i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
        |  FROM tk WHERE doc_id % 97 <> 0 AND len(tk) >= 5),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
        |  FROM cg JOIN bg USING (gram_hash) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hit_grams, 0) AS n_hit_grams,
        |  TRUE AS covered_ok, TRUE AS flagged_ok
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") % 97 =!= 0)
        val bench = d.filter(col("doc_id") % 97 === 0)
        val exact = graft.operators.TextOps.decontaminate(
          corpus, "doc_id", "text", bench, "text", n = 5)
        val bloom = graft.operators.TextOps.bloomDecontaminate(
          corpus, "doc_id", "text", bench, "text", n = 5)
        exact.join(bloom, "doc_id")
          .select(col("doc_id"), col("n_hit_grams"),
            (col("bloom_hit_grams") >= col("n_hit_grams")).as("covered_ok"),
            (!col("contaminated") || col("bloom_contaminated")).as("flagged_ok"))
          .orderBy("doc_id")
      }
    },

    // ---- Containment dedup (Dedup.containmentPairs) ---------------------
    // asymmetric sub-document overlap: |grams(A) ∩ grams(B)| / |grams(A)|
    // catches a short doc embedded verbatim in a long one (low Jaccard,
    // containment ~1). Child docs are planted as 15-token prefixes of
    // long parents; the pair join is an inverted gram index with a
    // document-frequency cap, never all-pairs
    QueryDef("q_dedup_containment",
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |kids AS (SELECT doc_id + 10000 AS doc_id,
        |    array_to_string(($toksD)[1:15], ' ') AS text
        |  FROM base WHERE len($toksD) >= 18),
        |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM kids),
        |t AS (SELECT doc_id, $toksD AS tk FROM corpus),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 1),
        |    i -> ${h60d("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")}))) AS gram_hash
        |  FROM t WHERE len(tk) >= 3),
        |sizes AS (SELECT doc_id AS a_id, CAST(count(*) AS BIGINT) AS a_grams
        |  FROM g GROUP BY 1),
        |rare AS (SELECT gram_hash FROM (
        |  SELECT gram_hash, count(*) AS c FROM g GROUP BY 1) WHERE c <= 50),
        |gf AS (SELECT g.* FROM g JOIN rare USING (gram_hash)),
        |sh AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS shared
        |  FROM gf a JOIN gf b USING (gram_hash)
        |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT sh.a_id, sh.b_id, sh.shared,
        |  round(CAST(sh.shared AS DOUBLE) / s.a_grams, 6) AS containment
        |FROM sh JOIN sizes s ON sh.a_id = s.a_id
        |WHERE round(CAST(sh.shared AS DOUBLE) / s.a_grams, 6) >= 0.8
        |ORDER BY sh.a_id, sh.b_id""".stripMargin) {
      (s, dir) => {
        val base = docs(s, dir).filter(col("doc_id") < 200).select("doc_id", "text")
        val kids = base.withColumn("_tk", expr(toksS))
          .filter(expr("size(_tk) >= 18"))
          .selectExpr("doc_id + 10000 AS doc_id",
            "array_join(slice(_tk, 1, 15), ' ') AS text")
        graft.operators.Dedup.containmentPairs(
            base.unionByName(kids), "doc_id", "text",
            n = 3, threshold = 0.8, maxDf = 50)
          .orderBy("a_id", "b_id")
      }
    },

    // ---- URL canonicalization (TextOps.normalizeUrl) --------------------
    // the first dedup key of any web-crawl corpus. URLs are planted
    // deterministically from doc_id (mixed case, www, default ports,
    // doubled slashes, tracking params, fragments, a no-query slice);
    // the oracle re-implements the normalization independently in
    // DuckDB's regex/list dialect (note: DuckDB regexp_replace needs the
    // explicit 'g' flag where Spark replaces all matches by default, and
    // returns NULL where Spark returns '' for a non-participating group)
    QueryDef("q_url_normalize", {
      val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)([?][^#]*)?([#].*)?$"
      s"""WITH u AS (SELECT doc_id, ${PipelineQueries.urlExpr} AS url
        |  FROM documents WHERE doc_id < 150),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '$re', 1)) AS sch,
        |  regexp_replace(lower(regexp_extract(url, '$re', 2)), '^www[.]', '') AS h0,
        |  regexp_replace(regexp_replace(regexp_extract(url, '$re', 3),
        |    '/{2,}', '/', 'g'), '/$$', '') AS p0,
        |  coalesce(regexp_extract(url, '$re', 4), '') AS q
        |FROM u),
        |p2 AS (SELECT doc_id, url, sch,
        |  CASE WHEN sch = 'https' THEN regexp_replace(h0, ':443$$', '')
        |       WHEN sch = 'http'  THEN regexp_replace(h0, ':80$$', '') ELSE h0 END AS host,
        |  p0,
        |  coalesce(array_to_string(list_sort(list_filter(string_split(substr(q, 2), '&'),
        |    pp -> pp != '' AND substr(pp, 1, 4) != 'utm_' AND substr(pp, 1, 7) != 'fbclid=')),
        |    '&'), '') AS qs
        |FROM p)
        |SELECT doc_id, url, sch || '://' || host ||
        |  CASE WHEN p0 = '' THEN '/' ELSE p0 END ||
        |  CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_norm
        |FROM p2 ORDER BY doc_id""".stripMargin
    }) {
      (s, dir) => {
        val u = docs(s, dir).filter(col("doc_id") < 150)
          .selectExpr("doc_id", s"${PipelineQueries.urlExpr} AS url")
        graft.operators.TextOps.normalizeUrl(u, "url")
          .select("doc_id", "url", "url_norm")
          .orderBy("doc_id")
      }
    },

    // ---- OOV-rate quality filter (TextOps.oovRate) ----------------------
    // fraction of tokens outside a closed vocabulary (here: the corpus
    // top-10 by frequency, tie-broken lexically). The vocab collapses to
    // ONE broadcast array row; scoring is a pure HOF filter — zero
    // shuffle over the corpus
    QueryDef("q_text_oov",
      s"""WITH d AS (SELECT doc_id, $toksD AS tk FROM documents WHERE doc_id < 200),
        |w AS (SELECT unnest(tk) AS w FROM d),
        |v AS (SELECT w FROM (SELECT w, count(*) AS c FROM w GROUP BY 1
        |  ORDER BY c DESC, w LIMIT 10)),
        |va AS (SELECT list(w ORDER BY w) AS vb FROM v)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
        |  CAST(len(list_filter(tk, t -> NOT list_contains(vb, t))) AS BIGINT) AS n_oov,
        |  round(CAST(len(list_filter(tk, t -> NOT list_contains(vb, t))) AS DOUBLE)
        |    / greatest(len(tk), 1), 6) AS oov_rate
        |FROM d, va ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir).filter(col("doc_id") < 200)
        val vocab = d.select(explode(expr(toksS)).as("w"))
          .groupBy("w").count()
          .orderBy(col("count").desc, col("w")).limit(10)
          .select("w")
        graft.operators.TextOps.oovRate(d, "text", vocab)
          .select("doc_id", "n_tok", "n_oov", "oov_rate")
          .orderBy("doc_id")
      }
    },

    // ---- END-TO-END training-data pipeline (the flagship composition) ---
    // quality gate → exact dedup → LSH near-dup drop → benchmark
    // decontamination, each stage one of the verified operators, chained
    // over ONE corpus pass per stage. The report row per stage carries
    // the surviving count AND an order-independent membership
    // fingerprint (sum of bounded per-id hashes) — the oracle must agree
    // on the exact SET of survivors at every stage, not just totals.
    QueryDef("q_pipeline_e2e", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      val fp = s"CAST(sum(${h60d("CAST(doc_id AS VARCHAR)")} % 1000000000000) AS BIGINT)"
      s"""WITH tk0 AS (SELECT doc_id, text, $toksD AS tk FROM documents),
         |s1 AS (SELECT doc_id, text, tk FROM tk0
         |  WHERE len(list_filter(tk, x -> x <> '')) >= 8 AND length(text) >= 40),
         |keep AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
         |s2 AS (SELECT doc_id, text, tk FROM s1
         |  WHERE doc_id IN (SELECT doc_id FROM keep)),
         |shl AS (SELECT doc_id, $shD AS sh FROM s2 WHERE len(tk) >= 3),
         |sig AS (SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)),
         |bands AS ($bandSel),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |losers AS (
         |  SELECT DISTINCT c.b_id AS doc_id FROM cand c
         |  JOIN shl sa ON sa.doc_id = c.a_id
         |  JOIN shl sb ON sb.doc_id = c.b_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) >= 0.5),
         |s3 AS (SELECT doc_id, text, tk FROM s2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |    range(1, len(tk) - 3),
         |    i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
         |  FROM tk0 WHERE doc_id % 97 = 0 AND len(tk) >= 5),
         |hits AS (SELECT DISTINCT s.doc_id
         |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(
         |      range(1, len(tk) - 3),
         |      i -> ${h60d("array_to_string(tk[i:i+4], ' ')")}))) AS gram_hash
         |    FROM s3 WHERE len(tk) >= 5) s
         |  JOIN bg USING (gram_hash)),
         |s4 AS (SELECT doc_id FROM s3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM hits))
         |SELECT stage, n, fp FROM (
         |  SELECT 'a_input' AS stage, CAST(count(*) AS BIGINT) AS n, $fp AS fp FROM documents
         |  UNION ALL SELECT 'b_quality', CAST(count(*) AS BIGINT), $fp FROM s1
         |  UNION ALL SELECT 'c_exact', CAST(count(*) AS BIGINT), $fp FROM s2
         |  UNION ALL SELECT 'd_neardup', CAST(count(*) AS BIGINT), $fp FROM s3
         |  UNION ALL SELECT 'e_decontam', CAST(count(*) AS BIGINT), $fp FROM s4
         |) ORDER BY stage""".stripMargin
    }) { (s, dir) => {
      import graft.operators.{Dedup, TextOps}
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // each stage is counted AND feeds the next — persist every frame so
      // the per-stage report aggregates never re-run upstream lineage
      val input = docs(s, dir)
      val s1 = input.filter(expr(
        s"size(filter($toksS, x -> x <> '')) >= 8 AND length(text) >= 40"))
        .persist(lvl)
      val s2 = Dedup.dropExact(s1, Seq("text"), "doc_id").persist(lvl)
      // s2 is already exact-deduped AND persisted — skip the operator's
      // internal exact pass (it would re-run the md5 groupBy and cache a
      // second identical frame)
      val s3 = Dedup.dropNearDuplicates(s2, "doc_id", "text",
        k = 8, bands = 4, threshold = 0.5, assumeExactDeduped = true)
        .persist(lvl)
      val bench = input.filter(col("doc_id") % 97 === 0)
      val s4 = s3.join(
        TextOps.decontaminate(s3, "doc_id", "text", bench, "text", n = 5)
          .filter(col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      def rpt(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("bigint").as("n"),
            expr("CAST(sum(graft_hash60(CAST(doc_id AS STRING)) % 1000000000000) AS BIGINT)").as("fp"))
          .select(lit(stage).as("stage"), col("n"), col("fp"))
      rpt("a_input", input)
        .unionByName(rpt("b_quality", s1))
        .unionByName(rpt("c_exact", s2))
        .unionByName(rpt("d_neardup", s3))
        .unionByName(rpt("e_decontam", s4))
        .orderBy("stage")
    }},

    // ---- Negative sampling (operator Sampling.negatives) ----------------
    // k deterministic contrastive partners per document: neg =
    // hash60(seed:id:j) mod n, self-draws shifted to the next id. The
    // corpus size n is a ONE-ROW broadcast; the draw is a narrow
    // explode; the payload attach is one equi-join on neg_id (verified
    // here by carrying the partner's md5).
    QueryDef("q_sample_negatives",
      s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |cand AS (
         |  SELECT doc_id, CAST(j AS BIGINT) AS j, n,
         |    ${h60d("'ep1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} % n AS c
         |  FROM documents, nn, unnest(range(0, 4)) AS u(j)
         |  WHERE doc_id < 300),
         |neg AS (
         |  SELECT doc_id, j,
         |    CASE WHEN c = doc_id THEN (c + 1) % n ELSE c END AS neg_id
         |  FROM cand)
         |SELECT g.doc_id AS doc_id, g.j AS j, g.neg_id AS neg_id,
         |  md5(t.text) AS neg_md5
         |FROM neg g JOIN documents t ON t.doc_id = g.neg_id
         |ORDER BY doc_id, j""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        graft.operators.Sampling
          .negatives(d.select("doc_id"), "doc_id", k = 4, seed = "ep1")
          .filter(col("doc_id") < 300)
          .join(d.selectExpr("doc_id AS neg_id", "md5(text) AS neg_md5"), "neg_id")
          .select("doc_id", "j", "neg_id", "neg_md5")
          .orderBy("doc_id", "j")
      }
    },

    // ---- KMV sketch corpus overlap (operator Sketches.kmv) --------------
    // bottom-256 distinct-hash sketches of the two corpus halves'
    // 3-shingle sets, merged into union + intersection ESTIMATES. The
    // sketch is a pure function of the input set (k smallest distinct
    // hashes — no RNG), so both engines build identical sketches and
    // identical estimates; the _ok booleans additionally assert the
    // estimates land within ±20% of the exact overlap both engines
    // compute on the side (1/√256 ≈ 6% expected error).
    QueryDef("q_sketch_overlap",
      s"""WITH d AS (SELECT doc_id, $toksD AS tk FROM documents),
         |items AS (
         |  SELECT DISTINCT doc_id % 2 AS side, ${h60d("g")} AS h
         |  FROM (SELECT doc_id, unnest($shD) AS g FROM d WHERE len(tk) >= 3)),
         |ska AS (SELECT list(h ORDER BY h) AS a
         |  FROM (SELECT h FROM items WHERE side = 0 ORDER BY h LIMIT 256)),
         |skb AS (SELECT list(h ORDER BY h) AS b
         |  FROM (SELECT h FROM items WHERE side = 1 ORDER BY h LIMIT 256)),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_union,
         |    CAST(count(*) FILTER (WHERE mn = 0 AND mx = 1) AS BIGINT) AS n_inter
         |  FROM (SELECT h, min(side) AS mn, max(side) AS mx FROM items GROUP BY h)),
         |m1 AS (SELECT a, b, n_union, n_inter,
         |    list_sort(list_distinct(list_concat(a, b)))[1:256] AS m
         |  FROM ska, skb, ex),
         |m2 AS (SELECT n_union, n_inter, m,
         |    CASE WHEN len(m) < 256 THEN CAST(len(m) AS BIGINT)
         |         ELSE CAST(floor(CAST(255 AS DOUBLE) * 1152921504606846976
         |                         / CAST(m[256] AS DOUBLE)) AS BIGINT) END AS est_union,
         |    CAST(len(list_filter(m, v -> list_contains(a, v) AND list_contains(b, v)))
         |      AS BIGINT) AS kmv_common
         |  FROM m1)
         |SELECT est_union, n_union,
         |  5 * abs(est_union - n_union) <= n_union AS union_ok,
         |  kmv_common,
         |  CAST(floor(CAST(kmv_common AS DOUBLE) * est_union / len(m)) AS BIGINT) AS est_inter,
         |  n_inter,
         |  5 * abs(CAST(floor(CAST(kmv_common AS DOUBLE) * est_union / len(m)) AS BIGINT)
         |          - n_inter) <= n_inter AS inter_ok
         |FROM m2""".stripMargin) {
      (s, dir) => {
        import graft.operators.Sketches
        // the tokenize+shingle+hash pass is the expensive stage; three
        // unpersisted consumers (two sketches + the exact side) would
        // re-run it three times (the q_funnel CTE re-inlining trap) —
        // materialize the reduced distinct (side, h) set ONCE
        val items = graft.operators.TextOps
          .ngramHashes(docs(s, dir), "doc_id", "text", 3)
          .select(expr("doc_id % 2").as("side"), col("gram_hash").as("h"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ska = Sketches.kmv(items.filter(col("side") === 0), "h", 256)
          .withColumnRenamed("kmv", "a")
        val skb = Sketches.kmv(items.filter(col("side") === 1), "h", 256)
          .withColumnRenamed("kmv", "b")
        val exact = items
          .groupBy("h").agg(min("side").as("mn"), max("side").as("mx"))
          .agg(expr("CAST(count(*) AS BIGINT)").as("n_union"),
            expr("CAST(count_if(mn = 0 AND mx = 1) AS BIGINT)").as("n_inter"))
        ska.crossJoin(skb).crossJoin(exact)
          .selectExpr("a", "b", "n_union", "n_inter",
            s"${Sketches.mergeExpr("a", "b", 256)} AS m")
          .selectExpr("n_union", "n_inter", "m",
            s"${Sketches.estimateExpr("m", 256)} AS est_union",
            "CAST(size(filter(m, v -> array_contains(a, v) AND array_contains(b, v))) AS BIGINT) AS kmv_common")
          .selectExpr("est_union", "n_union",
            "5 * abs(est_union - n_union) <= n_union AS union_ok",
            "kmv_common",
            "CAST(floor(CAST(kmv_common AS DOUBLE) * est_union / size(m)) AS BIGINT) AS est_inter",
            "n_inter",
            "5 * abs(CAST(floor(CAST(kmv_common AS DOUBLE) * est_union / size(m)) AS BIGINT) - n_inter) <= n_inter AS inter_ok")
      }
    },

    // ---- Boilerplate-line removal (operator TextOps.boilerplate) --------
    // the C4 line-frequency rule: a line occurring in >= minDf distinct
    // docs is boilerplate; rebuild each doc from the surviving lines.
    // Planted structure (source newsletter header df = docs/source,
    // shared footer df = all docs, body lines df ~ 1) exercises both
    // drop paths and the keep path; `clean` verifies the in-order
    // reconstruction bit-for-bit. Line df counts shuffle (hash60, id)
    // pairs only — text moves once, in the per-doc rebuild groupBy.
    QueryDef("q_text_boilerplate",
      s"""WITH c AS (SELECT doc_id,
        |    'subscribe to ' || source || ' newsletter' || chr(10) || text ||
        |    chr(10) || 'all rights reserved' AS t FROM documents),
        |l0 AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM c),
        |l AS (SELECT doc_id, ln, line FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |      i -> {'ln': i, 'line': ls[i]}), recursive := true)
        |    FROM l0) u(doc_id, ln, line)),
        |lx AS (SELECT doc_id, ln, line, ${h60d("line")} AS lh FROM l),
        |ldf AS (SELECT lh, count(DISTINCT doc_id) AS ldf FROM lx GROUP BY 1),
        |f AS (SELECT lx.doc_id, lx.ln, lx.line, d.ldf >= 10 AS b
        |  FROM lx JOIN ldf d USING (lh))
        |SELECT doc_id,
        |  CAST(count(*) FILTER (WHERE NOT b) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE b) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT b THEN line END, chr(10)
        |    ORDER BY ln), '') AS clean
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val c = docs(s, dir).selectExpr("doc_id",
          "concat('subscribe to ', source, ' newsletter', chr(10), text, " +
            "chr(10), 'all rights reserved') AS t")
        graft.operators.TextOps.boilerplate(c, "doc_id", "t", minDf = 10L)
          .orderBy("doc_id")
      }
    },

    // ---- Per-source token budget (operator Sampling.tokenBudget) --------
    // corpus-mixing quota: each source contributes documents in
    // deterministic hash order until its cumulative token count exceeds
    // the budget — the over-represented-domain cap. One PARTITIONED
    // running-sum window; the kept set is a pure function of (id,
    // tokens), identical under any partitioning.
    QueryDef("q_token_budget",
      s"""WITH t AS (SELECT doc_id, source,
        |    CAST(len($toksD) AS BIGINT) AS n_tok FROM documents),
        |w AS (SELECT doc_id, source, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY source
        |    ORDER BY ${h60d("CAST(doc_id AS VARCHAR)")}, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens FROM t)
        |SELECT doc_id, source, n_tok, cum_tokens FROM w
        |WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val t = docs(s, dir).selectExpr("doc_id", "source",
          s"CAST(size($toksS) AS BIGINT) AS n_tok")
        graft.operators.Sampling.tokenBudget(t, "source", "doc_id", "n_tok", 600L)
          .select("doc_id", "source", "n_tok", "cum_tokens")
          .orderBy("doc_id")
      }
    },

    // ---- Gopher repetition/quality rules (operator TextOps.gopherSignals)
    // Rae et al. 2021 §A1.1 token-adapted: top-trigram coverage,
    // duplicated-5-gram coverage, mean word length, alphabetic-token
    // fraction. Narrow per-row HOFs on the Spark side; the oracle
    // recomputes the same counts via unnest + GROUP BY.
    QueryDef("q_text_gopher", {
      def gD(n: Int) = {
        val parts = (0 until n).map(o => s"tk[i + $o]").mkString(" || ' ' || ")
        s"CASE WHEN len(tk) >= $n THEN list_transform(range(1, len(tk) - ${n - 2}), i -> $parts) ELSE [] END"
      }
      s"""WITH t AS (SELECT doc_id, $toksD AS tk FROM documents),
         |base AS (SELECT doc_id, len(tk) AS n_tok,
         |  CAST(list_sum(list_transform(tk, s -> CAST(length(s) AS BIGINT))) AS BIGINT) AS sumlen,
         |  len(list_filter(tk, s -> regexp_full_match(s, '[a-z]+'))) AS n_alpha,
         |  ${gD(3)} AS g3, ${gD(5)} AS g5
         |  FROM t),
         |top3 AS (SELECT doc_id, max(c) AS topc FROM (
         |    SELECT doc_id, g, count(*) AS c FROM (
         |      SELECT doc_id, unnest(g3) AS g FROM base) GROUP BY doc_id, g)
         |  GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tok,
         |  round(coalesce(t3.topc, 0) * 3.0 / b.n_tok, 6) AS top_trigram_frac,
         |  round(least(1.0, (len(g5) - len(list_distinct(g5))) * 5.0 / b.n_tok), 6)
         |    AS dup_5gram_frac,
         |  round(CAST(sumlen AS DOUBLE) / b.n_tok, 6) AS mean_word_len,
         |  round(CAST(n_alpha AS DOUBLE) / b.n_tok, 6) AS alpha_frac
         |FROM base b LEFT JOIN top3 t3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.TextOps.gopherSignals(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- Feature-hashed embedding (operator TextOps.hashEmbed) ---------
    // the hashing-trick bag-of-words vector: integer-exact, stateless,
    // computable inside the scan — verified element-for-element. The
    // vector ships as to_json text on BOTH engines (driver comparator
    // contract: no top-level arrays).
    QueryDef("q_text_hash_embed",
      s"""WITH t AS (SELECT doc_id,
         |    list_transform($toksD, t -> ${h60d("t")}) AS hv
         |  FROM documents WHERE doc_id < 200)
         |SELECT doc_id, to_json(list_transform(range(0, 16), j ->
         |  CAST(coalesce(list_sum(list_transform(list_filter(hv, h -> h % 16 = j),
         |    h -> CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END)), 0) AS BIGINT)))::VARCHAR
         |  AS hemb_json
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.TextOps.hashEmbed(
          docs(s, dir).filter(col("doc_id") < 200), "text", dims = 16)
        .select(col("doc_id"), to_json(col("hemb")).as("hemb_json"))
        .orderBy("doc_id")
    },

    // ---- Cluster representatives (operator Dedup.representatives) ------
    // keep-the-best-copy dedup policy: per duplicate cluster, the member
    // with max n_chars (ties → lowest id). The oracle replays the full
    // LSH → verify → connected-components pipeline in SQL, then picks
    // the same argmax.
    QueryDef("q_dedup_representative", {
      val sigs = (0 until 8).map(k => s"${minhashD(k)} AS s$k").mkString(", ")
      val bandSel = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, concat(s${2 * b}, ':', s${2 * b + 1}) AS bkey FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id, $toksD AS tk FROM documents
         |), shl AS (
         |  SELECT doc_id, $shD AS sh FROM t WHERE len(tk) >= 3
         |), sig AS (
         |  SELECT doc_id, $sigs FROM (SELECT doc_id, $hsD AS hs FROM shl)
         |), bands AS (
         |  $bandSel
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), pairs AS (
         |  SELECT c.a_id, c.b_id
         |  FROM cand c
         |  JOIN shl sa ON sa.doc_id = c.a_id
         |  JOIN shl sb ON sb.doc_id = c.b_id
         |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) >= 0.5
         |), edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs
         |), reach(src, dst) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src
         |), j AS (
         |  SELECT c.cluster, d.doc_id, d.n_chars
         |  FROM comp c JOIN documents d ON d.doc_id = c.id
         |), r AS (
         |  SELECT cluster, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY cluster) AS nm
         |  FROM j)
         |SELECT cluster, CAST(nm AS BIGINT) AS n_members,
         |  doc_id AS rep_id, n_chars AS rep_score
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin
    }) { (s, dir) =>
      val d = docs(s, dir)
      val pairs = graft.operators.Dedup.minhashLsh(
        d, "doc_id", "text", k = 8, bands = 4, threshold = 0.5)
      val clusters = graft.operators.Dedup
        .duplicateClusters(pairs.select("a_id", "b_id"))
        .select("id", "cluster")
      graft.operators.Dedup.representatives(clusters, d, "doc_id", "n_chars")
        .select("cluster", "n_members", "rep_id", "rep_score")
        .orderBy("cluster")
    },

    // ---- Temperature-scaled source mixture (Sampling.temperatureWeights)
    // p_i ∝ sqrt(n_i): the α=0.5 multilingual-sampling rule, with
    // per-source expected tokens and epoch counts under a 100k budget.
    QueryDef("q_sample_dsir",
      s"""WITH tk AS (SELECT doc_id, source,
         |    list_filter($toksD, x -> x <> '') AS tk FROM documents),
         |ex AS (SELECT doc_id, (source = 'src0') AS tgt,
         |    ${h60d("g")} % 128 AS b
         |  FROM tk, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS u(g)
         |  WHERE len(tk) >= 2),
         |stats AS (SELECT b,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS r FROM ex GROUP BY b),
         |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tt,
         |    CAST(sum(r) AS BIGINT) AS rr FROM stats),
         |lr AS (SELECT b, CAST(round((ln(t + 1) - ln(tt + 128)
         |    - ln(r + 1) + ln(rr + 128)) * 1000000) AS BIGINT) AS lrv
         |  FROM stats, tot)
         |SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(lrv) AS BIGINT) AS dsir_w_micro
         |FROM ex JOIN lr ON ex.b = lr.b
         |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.dsirWeights(
          docs(s, dir), "doc_id", "text", "source = 'src0'", buckets = 128)
        .orderBy("doc_id")
    },
    QueryDef("q_sample_temperature",
      s"""WITH t AS (SELECT source, CAST(len($toksD) AS BIGINT) AS n_tok
         |  FROM documents),
         |per AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY source),
         |z AS (SELECT sum(sqrt(n_tokens)) AS _z FROM per)
         |SELECT source, n_tokens,
         |  round(sqrt(n_tokens) / _z, 6) AS weight,
         |  CAST(round(100000 * (sqrt(n_tokens) / _z)) AS BIGINT) AS expected_tokens,
         |  round(CAST(round(100000 * (sqrt(n_tokens) / _z)) AS BIGINT)
         |    / CAST(n_tokens AS DOUBLE), 6) AS epochs
         |FROM per, z ORDER BY source""".stripMargin) { (s, dir) =>
      val t = docs(s, dir).selectExpr("source",
        s"CAST(size($toksS) AS BIGINT) AS n_tok")
      graft.operators.Sampling.temperatureWeights(t, "source", "n_tok", 100000L)
        .orderBy("source")
    }
  )
}
