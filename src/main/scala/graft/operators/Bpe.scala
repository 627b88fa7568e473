package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tokenizer-exact token counting: a small deterministic byte-level BPE
  * trained from a FIXED seed corpus at object init (pure Scala, pure
  * integer merge ranks — no RNG, no Spark), applied as generated inline
  * SQL that parses identically in Spark and DuckDB, so context budgets
  * can be measured in REAL tokenizer tokens instead of whitespace words
  * ([[Sampling.tokenBudget]] / [[TextOps.packBins]] take any counts
  * column; [[bpeTokenCounts]] produces this one).
  *
  * Encode contract (training-order replay, the original subword-nmt
  * application order): merges apply in rank order, one left-to-right
  * pass each, each pass merging every non-overlapping occurrence — the
  * exact sequence training itself performed, so seed-corpus words
  * round-trip to their training-time segmentations. Each symbol is
  * wrapped as `<sym>`, which makes one `replace('<a><b>' → '<ab>')`
  * call per merge EXACTLY that pass: matches can't straddle symbols,
  * consumed delimiters can't break adjacent matches, and both engines'
  * `replace` scan left-to-right over all occurrences. Words containing
  * literal `<`/`>` are escaped to private control-char symbols before
  * delimiting (see `escapeSql`), so markup/code corpora count correctly
  * instead of forging delimiters.
  *
  * Scale shape of [[bpeTokenCounts]]: the nested-replace expression runs
  * once per DISTINCT word (dictionary-encoded — the distinct-word table
  * is tiny next to the corpus), and occurrences get their counts from a
  * BROADCAST join of that dictionary; the corpus itself moves only into
  * the final per-doc partial-combining sum. At 100 TB the distinct-word
  * dictionary is the only thing the encoder ever touches.
  */
object Bpe {

  /** Fixed seed corpus: the documents-table vocabulary (driver-generated
    * synthetic; TESTDATA.md), uniform weights. Deterministic by
    * construction — training never looks at runtime data.
    */
  val seedCorpus: Seq[(String, Long)] = Seq(
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "spark", "a", "part",
    "group", "big", "sort", "query", "fast", "the", "dup").map(_ -> 1L)

  /** Deterministic BPE training over a word-frequency table: `numMerges`
    * rounds of (count adjacent symbol pairs weighted by word frequency,
    * merge the most frequent — ties to the lexicographically smallest
    * pair, so ranks are total-ordered with no RNG). Pure function.
    */
  def train(wordFreq: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] = wordFreq
      .groupMapReduce(_._1.map(_.toString).toVector)(_._2)(_ + _)
    val out = Seq.newBuilder[(String, String)]
    var n = 0
    var done = false
    while (n < numMerges && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += best
        vocab = vocab.groupMapReduce { case (syms, _) => mergePass(syms, best) }(_._2)(_ + _)
        n += 1
      }
    }
    out.result()
  }

  /** One left-to-right merge pass — the train-time twin of the
    * `replace('<a><b>' → '<ab>')` encode pass.
    */
  private def mergePass(syms: Vector[String], m: (String, String)): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        b += (m._1 + m._2); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** The default merge table: 60 ranks over [[seedCorpus]]. */
  lazy val merges: Seq[(String, String)] = train(seedCorpus, 60)

  /** Driver-local reference encoder (same pass order as the SQL form) —
    * the cross-validation twin the specs pit the generated SQL against.
    */
  def encode(word: String, ms: Seq[(String, String)] = merges): Seq[String] =
    ms.foldLeft(word.map(_.toString).toVector)(mergePass)

  /** Inline SQL: encode the single word `wordExpr` to its delimited
    * symbol string — `<sym><sym>…` after all merges. Parses in BOTH
    * Spark and DuckDB (substring/replace/concat-∥ only), so the oracle
    * replicates the merge table verbatim.
    */
  def encodeSql(wordExpr: String, ms: Seq[(String, String)] = merges): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    // seed: every character wrapped as <c> — generated per engine by the
    // caller supplying a char-split; here we build it portably from
    // substring in a bounded unroll-free way is impossible in pure ANSI,
    // so the callers pass a token ARRAY and we wrap per char via HOFs.
    ms.foldLeft(wordExpr) { case (acc, (a, b)) =>
      s"replace($acc, ${lit(s"<$a><$b>")}, ${lit(s"<$a$b>")})"
    }
  }

  /** BIGINT BPE token count of an already-`<c>`-delimited word string. */
  def countSql(delimitedExpr: String, ms: Seq[(String, String)] = merges): String = {
    val enc = encodeSql(delimitedExpr, ms)
    s"(length($enc) - length(replace($enc, '<', '')))"
  }

  /** The `<`/`>` delimiter chars can appear in real corpus words
    * (markup, code), where they would forge delimiters: `a<b` delimited
    * naively is `<a><<><b>` and the `<`-count miscounts it as 4 tokens.
    * Both engines therefore map them to private control-char symbols
    * first (a bijection on symbols the merge table never contains, so
    * each counts as one unknown single-char token — the same
    * segmentation the reference encoder produces for the raw char).
    */
  private def escapeSql(wordExpr: String): String =
    s"replace(replace($wordExpr, '<', ''), '>', '')"

  /** Spark-side `<c><c>…` delimiter wrap of a word expression. */
  def delimitSparkSql(wordExpr: String): String = {
    val w = escapeSql(wordExpr)
    s"concat('<', array_join(transform(sequence(1, length($w)), " +
      s"_i -> substring($w, _i, 1)), '><'), '>')"
  }

  /** DuckDB-side `<c><c>…` delimiter wrap of a word expression. */
  def delimitDuckSql(wordExpr: String): String = {
    val w = escapeSql(wordExpr)
    s"('<' || array_to_string(list_transform(range(1, length($w) + 1), " +
      s"_i -> substring($w, _i, 1)), '><') || '>')"
  }

  /** Exact BPE token counts per row: adds `n_bpe_exact` (BIGINT sum of
    * per-word token counts under [[merges]]). Dictionary-encoded: the
    * encoder expression runs once per distinct word; occurrences take a
    * broadcast join. Rows whose text has no tokens count 0.
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
                     ms: Seq[(String, String)] = merges): DataFrame = {
    val toks = TextOps.wordsExpr(textCol)
    val words = df
      .select(explode(expr(toks)).as("_w"))
      .distinct()
      .withColumn("_n", expr(countSql(delimitSparkSql("_w"), ms)).cast("long"))
    df.withColumn("_w", explode_outer(expr(toks)))
      .join(broadcast(words), Seq("_w"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum("_n"), lit(0L)).as("n_bpe_exact"))
  }

  /** Per-word BPE counts as an ARRAY<BIGINT> aligned with the word
    * array `tokArrayExpr` — the row-local counter shape the budget
    * operators consume ([[TextOps.truncateTokens]]'s `counter`,
    * [[TextOps.chunkByBudget]]). Inline (no dictionary): right for the
    * narrow per-row paths; use [[bpeTokenCounts]] when counting a
    * whole corpus.
    */
  def countsArraySparkSql(tokArrayExpr: String,
                          ms: Seq[(String, String)] = merges): String =
    s"transform($tokArrayExpr, _w0 -> CAST(${countSql(delimitSparkSql("_w0"), ms)} AS BIGINT))"
}
