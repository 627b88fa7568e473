package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy (approximate-string) join for record linkage: match rows of
  * two tables whose string keys are within an edit-distance budget —
  * names, titles, addresses spelled slightly differently across
  * sources. The naive formulation is a cross join with `levenshtein`
  * on every pair; this operator is the scalable two-stage shape:
  *
  *  1. CANDIDATES from character-n-gram MinHash LSH — the same banded
  *     signature machinery document dedup uses ([[Dedup]]), over char
  *     shingles (edit-distance-local features: one edit disturbs at
  *     most n shingles) instead of word shingles. Shuffle is
  *     O(rows × bands) small keys; similar strings collide in a band.
  *  2. VERIFY with thresholded `levenshtein(a, b, maxDist)` — the
  *     early-abandon form costs O(len · maxDist) per candidate, not
  *     O(len²), and only candidates pay it.
  *
  * Like every LSH path this trades recall for scale: a pair must agree
  * on ONE full band to be considered. Raise `bands` (or lower `k`) for
  * higher recall at more candidates; the exact-verify step keeps
  * precision at 1. Recall degrades on VERY short strings — one edit in
  * an m-char string removes up to n of its m−n+1 shingles, so a 1-edit
  * pair of 3-char strings has bigram Jaccard 1/3 and usually no band
  * agreement. Below ~2·maxDist·ngram chars, candidate-generate by exact
  * key instead (the cross join is cheap precisely when keys are short
  * and deduplicated).
  */
object FuzzyJoin {

  /** Character n-gram shingles of a trimmed, lowercased string (strings
    * shorter than `n` yield themselves as a single shingle). */
  private[operators] def charShingles(c: String, n: Int): String =
    s"transform(sequence(1, greatest(length(lower(trim($c))) - ${n - 1}, 1)), " +
      s"i -> substr(lower(trim($c)), i, $n))"

  /** Pairs `(leftId, rightId, dist)` with `levenshtein(leftCol,
    * rightCol) <= maxDist`, candidate-pruned by char-n-gram LSH.
    */
  def byEditDistance(left: DataFrame, right: DataFrame,
                     leftId: String, leftCol: String,
                     rightId: String, rightCol: String,
                     maxDist: Int, k: Int = 8, bands: Int = 4,
                     ngram: Int = 2): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val lsh = Dedup.sigBands(
      left.withColumn("sh", expr(charShingles(leftCol, ngram))).select(leftId, "sh"),
      leftId, k, bands)
    val rsh = Dedup.sigBands(
      right.withColumn("sh", expr(charShingles(rightCol, ngram))).select(rightId, "sh"),
      rightId, k, bands)
    val cand = lsh.join(rsh, Seq("band", "bkey"))
      .select(leftId, rightId).distinct()
    cand
      .join(left.select(leftId, leftCol), Seq(leftId))
      .join(right.select(rightId, rightCol), Seq(rightId))
      .withColumn("dist", expr(s"levenshtein($leftCol, $rightCol, $maxDist)"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col(leftId), col(rightId), col("dist").cast("int").as("dist"))
  }

  /** Entity resolution: cluster rows of ONE table whose `nameCol` values
    * are within `maxDist` edits (transitively — A~B and B~C put A,B,C in
    * one entity even when A and C differ by 2·maxDist) and assign every
    * row its cluster's minimum id as `canonical_id`. Rows in no fuzzy
    * pair are their own canonical. The composition is
    * [[byEditDistance]] self-join (LSH candidates + thresholded verify)
    * → [[Dedup.duplicateClusters]] (union-find on the driver while the
    * pairs fit the broadcast threshold, pointer-jumped min-label
    * propagation above it) → one left join back — no cross join.
    */
  def resolveEntities(df: DataFrame, idCol: String, nameCol: String,
                      maxDist: Int = 2, k: Int = 8, bands: Int = 4,
                      ngram: Int = 2): DataFrame = {
    // self-match via ONE sigBands frame aliased to both join sides (the
    // subplans are identical, so the band-join's two shuffles collapse
    // into one ReusedExchange) — byEditDistance with differently-named
    // left/right projections would shingle+hash the table twice
    val base = df.select(col(idCol).as("_er_key"), col(nameCol).as("_er_name"))
    val sig = Dedup.sigBands(
      base.withColumn("sh", expr(charShingles("_er_name", ngram)))
        .select("_er_key", "sh"),
      "_er_key", k, bands)
    val cand = sig.as("A").join(sig.as("B"),
        expr("A.band = B.band AND A.bkey = B.bkey AND A._er_key < B._er_key"))
      .select(col("A._er_key").as("a_id"), col("B._er_key").as("b_id"))
      .distinct()
    val pairs = cand
      .join(base.select(col("_er_key").as("a_id"), col("_er_name").as("a_name")), "a_id")
      .join(base.select(col("_er_key").as("b_id"), col("_er_name").as("b_name")), "b_id")
      .filter(expr(s"levenshtein(a_name, b_name, $maxDist) BETWEEN 0 AND $maxDist"))
      .select(col("a_id"), col("b_id"))
    // rename before the join-back: the caller's id column may itself be
    // named "id"/"cluster" and must not collide with the label frame
    val labels = Dedup.duplicateClusters(pairs)
      .select(col("id").as("_er_id"), col("cluster").as("_er_cluster"))
    df.join(labels, df(idCol) === col("_er_id"), "left")
      .withColumn("canonical_id", coalesce(col("_er_cluster"), df(idCol)))
      .drop("_er_id", "_er_cluster")
  }
}
