package graft

import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Higher-order-function formulations of the text quality signals whose
  * counting runs in native kernels (GopherCounts, RepetitionCounts,
  * OovCount). No query path uses them: they are the independent
  * references the kernel specs compare against bit-for-bit. The rate and
  * rounding arithmetic is the same Catalyst tree as in [[TextOps]].
  */
object TextOpsHof {

  /** The HOF formulation of [[TextOps.repetitionSignals]] — the
    * reference RepetitionSpec sweeps the native kernel against.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // intermediates bound as lambda variables (single-element transform
    // wrap), NOT withColumn aliases — see [[gopherSignals]] below: interpreted
    // HOFs have no CSE and project collapse substitutes the defining
    // expression into every reference, so `element_at(_s, i)` per filter
    // position re-ran the whole sort (quadratic per row)
    //
    // guard: sequence(1, 0) counts DOWN in Spark, so short docs must
    // short-circuit to an empty bigram list before any element_at
    val bg = "IF(size(tk) < 2, array(), " +
      "transform(sequence(1, size(tk) - 1), " +
      "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1))))"
    // run-length encode the sorted bigrams: starts = positions whose
    // value differs from the previous; run lengths = start-to-start gaps
    val starts = "IF(size(s) = 0, array(), " +
      "filter(sequence(1, size(s)), i -> i = 1 OR element_at(s, i) != element_at(s, i - 1)))"
    val top = "CAST(IF(size(s) = 0, 0, array_max(zip_with(st, " +
      "concat(slice(st, 2, size(st) - 1), array(size(s) + 1)), " +
      "(a, b) -> b - a))) AS BIGINT)"
    val sig =
      s"element_at(transform(array(${TextOps.tokensExpr(textCol)}), tk -> " +
        s"element_at(transform(array(array_sort($bg)), s -> " +
        s"element_at(transform(array($starts), st -> " +
        s"element_at(transform(array($top), tp -> named_struct(" +
        "'n_tok', CAST(size(tk) AS BIGINT), " +
        "'dup_token_frac', round(1D - CAST(size(array_distinct(tk)) AS DOUBLE) / size(tk), 6), " +
        "'top_bigram_n', tp, " +
        "'top_bigram_frac', round(IF(size(s) = 0, 0D, CAST(tp AS DOUBLE) / size(s)), 6)" +
        ")), 1)), 1)), 1)), 1)"
    df.withColumn("_sig", expr(sig))
      .select(col(idCol), col("_sig.n_tok").as("n_tok"),
        col("_sig.dup_token_frac").as("dup_token_frac"),
        col("_sig.top_bigram_n").as("top_bigram_n"),
        col("_sig.top_bigram_frac").as("top_bigram_frac"))
  }

  /** The HOF formulation of [[TextOps.oovRate]] — the reference OovSpec
    * sweeps the native kernel against.
    */
  def oovRate(df: DataFrame, textCol: String, vocab: DataFrame): DataFrame = {
    val vocabArr = vocab.toDF("_w").agg(sort_array(collect_set(col("_w"))).as("_vocab"))
    df.join(broadcast(vocabArr))
      .withColumn("_tk", expr(TextOps.tokensExpr(textCol)))
      .withColumn("n_tok", expr("CAST(size(_tk) AS BIGINT)"))
      .withColumn("n_oov",
        expr("CAST(size(filter(_tk, t -> NOT array_contains(_vocab, t))) AS BIGINT)"))
      .withColumn("oov_rate",
        expr("round(CAST(n_oov AS DOUBLE) / greatest(n_tok, CAST(1 AS BIGINT)), 6)"))
      .drop("_tk", "_vocab")
  }

  /** The HOF formulation of [[TextOps.gopherSignals]] — the reference
    * GopherSpec sweeps the native kernel against (adversarial inputs:
    * empty/1-token docs, non-ASCII, repeated grams).
    */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // EVERY intermediate (tk, s3, st, g5) is bound as a LAMBDA VARIABLE
    // via the single-element transform(array(x), v -> ...) trick, not a
    // withColumn alias: HOF lambdas are interpreted with no common-
    // subexpression elimination, and CollapseProject substitutes a
    // withColumn's defining expression into EVERY reference — so
    // `element_at(_s3, i)` inside a per-position filter re-ran the whole
    // array_sort(grams) PER ELEMENT, turning a linear pass quadratic
    // (measured: 22 s for 5000 x ~54-token docs at sf0.1; 1.5 s after
    // binding — the scale-sweep pipeline phase dropped with it). A
    // lambda variable is evaluated once and read by reference.
    def grams(n: Int) = {
      val parts = (0 until n).map(o => s"element_at(tk, i + $o)").mkString(", ")
      s"IF(size(tk) < $n, array(), " +
        s"transform(sequence(1, size(tk) - ${n - 1}), i -> concat_ws(' ', $parts)))"
    }
    // run-length encode the sorted trigrams: starts = positions whose
    // value differs from the previous; the max start-to-start gap is
    // the top trigram's occurrence count (same trick as
    // repetitionSignals — identical to the oracle's GROUP BY max)
    val starts = "IF(size(s3) = 0, array(), " +
      "filter(sequence(1, size(s3)), i -> i = 1 OR element_at(s3, i) != element_at(s3, i - 1)))"
    val top3 = "IF(size(s3) = 0, CAST(0 AS BIGINT), CAST(array_max(zip_with(st, " +
      "concat(slice(st, 2, size(st) - 1), array(size(s3) + 1)), " +
      "(a, b) -> b - a)) AS BIGINT))"
    val sig =
      s"element_at(transform(array(${TextOps.tokensExpr(textCol)}), tk -> " +
        s"element_at(transform(array(array_sort(${grams(3)})), s3 -> " +
        s"element_at(transform(array($starts), st -> " +
        s"element_at(transform(array(${grams(5)}), g5 -> named_struct(" +
        "'n_tok', CAST(size(tk) AS BIGINT), " +
        s"'top_trigram_frac', round(CAST($top3 * 3 AS DOUBLE) / size(tk), 6), " +
        "'dup_5gram_frac', round(least(CAST(1 AS DOUBLE), " +
        "CAST((size(g5) - size(array_distinct(g5))) * 5 AS DOUBLE) / size(tk)), 6), " +
        "'mean_word_len', round(aggregate(tk, CAST(0 AS BIGINT), (acc, t) -> acc + length(t)) " +
        "/ CAST(size(tk) AS DOUBLE), 6), " +
        "'alpha_frac', round(CAST(size(filter(tk, t -> t rlike '^[a-z]+$')) AS DOUBLE) " +
        "/ size(tk), 6))), 1)), 1)), 1)), 1)"
    df.withColumn("_sig", expr(sig))
      .select(col(idCol), col("_sig.n_tok").as("n_tok"),
        col("_sig.top_trigram_frac").as("top_trigram_frac"),
        col("_sig.dup_5gram_frac").as("dup_5gram_frac"),
        col("_sig.mean_word_len").as("mean_word_len"),
        col("_sig.alpha_frac").as("alpha_frac"))
  }
}
