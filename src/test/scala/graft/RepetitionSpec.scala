package graft

import graft.operators.TextOps

/** r17: the native RepetitionCounts kernel must reproduce the HOF
  * formulation of repetitionSignals BIT-FOR-BIT (the HOF form is
  * kept as TextOpsHof.repetitionSignals purely as this spec's reference).
  * Adversarial inputs: empty and 1-token docs (no bigrams — division
  * edges), heavy token/bigram repetition, non-ASCII tokens, multi-space
  * runs, single repeated token.
  */
class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, ""),
    (1L, "one"),
    (2L, "two words"),
    (3L, "exactly three tokens"),
    (4L, "a a a a a a a a a a"),
    (5L, "the quick brown fox jumps over the lazy dog the quick brown fox jumps"),
    (6L, "naïve café über straße 東京 emoji🎈token"),
    (7L, "MIXED Case TOKENS with UPPER and lower"),
    (8L, "   leading and trailing   spaces   with  runs   "),
    (9L, ("w1 w2 w3 w4 w5 " * 40).trim),
    (10L, "repeat gram here repeat gram here repeat gram here repeat gram here"),
    (11L, "tab\tseparated\tand\nnewline\nseparated tokens"),
    (12L, "z y x w v u t s r q p o n m l k j i h g f e d c b a"),
    (13L, "x y x y x y x y z")
  ).toDF("doc_id", "text")

  test("native kernel reproduces the HOF repetitionSignals bit-for-bit") {
    val native = TextOps.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val hof = TextOpsHof.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(n == h, s"kernel/HOF divergence:\n  native=$n\n  hof=$h")
    }
  }

  test("kernel counts on a known document") {
    val one = TextOps.repetitionSignals(
      Seq((1L, "x y x y x y x y z")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    // tokens: x y x y x y x y z (9); distinct 3; bigrams: 8 slots,
    // "x y" occurs 4x (top)
    assert(one.getAs[Long]("n_tok") == 9L)
    assert(one.getAs[Double]("dup_token_frac") == 0.666667) // round(1 - 3/9, 6)
    assert(one.getAs[Long]("top_bigram_n") == 4L)
    assert(one.getAs[Double]("top_bigram_frac") == 0.5) // 4/8
  }

  test("plan contains the kernel and no interpreted lambda nodes") {
    // a local Seq relation constant-folds to a LocalTableScan; a parquet
    // scan keeps the projection in the plan, as in the declared query
    val parquetDocs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val plan = TextOps.repetitionSignals(parquetDocs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_repetition_counts"))
    assert(!plan.contains("lambdafunction"), s"interpreted HOF in plan:\n$plan")
  }
}
