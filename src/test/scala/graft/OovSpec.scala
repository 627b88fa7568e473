package graft

import graft.operators.TextOps

/** r17: the native OovCount kernel (binary search over the sorted
  * broadcast vocabulary) must reproduce the HOF formulation of oovRate
  * BIT-FOR-BIT (kept as TextOpsHof.oovRate purely as this spec's
  * reference). Adversarial inputs: empty docs, all-OOV and all-in-vocab
  * docs, tokens lexically below/above every vocab entry (binary-search
  * boundary probes), non-ASCII, repeated tokens.
  */
class OovSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, ""),
    (1L, "alpha"),
    (2L, "alpha beta gamma"),
    (3L, "zzz zzz zzz"),
    (4L, "aaa alpha zzz"),
    (5L, "the quick brown fox jumps over the lazy dog"),
    (6L, "naïve café über straße 東京"),
    (7L, "   alpha   beta   "),
    (8L, "alpha alpha alpha beta beta unknown"),
    (9L, "0 1 a z zz aal alphaa alph")
  ).toDF("doc_id", "text")

  private val vocab = Seq("alpha", "beta", "gamma", "the", "fox",
    "café", "aal", "z").toDF("w")

  test("native kernel reproduces the HOF oovRate bit-for-bit") {
    val native = TextOps.oovRate(docs, "text", vocab)
      .orderBy("doc_id").collect()
    val hof = TextOpsHof.oovRate(docs, "text", vocab)
      .orderBy("doc_id").collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(n == h, s"kernel/HOF divergence:\n  native=$n\n  hof=$h")
    }
  }

  test("kernel counts on a known document") {
    val one = TextOps.oovRate(
      Seq((1L, "alpha beta unknown zzz")).toDF("doc_id", "text"), "text", vocab)
      .collect().head
    assert(one.getAs[Long]("n_tok") == 4L)
    assert(one.getAs[Long]("n_oov") == 2L) // unknown, zzz
    assert(one.getAs[Double]("oov_rate") == 0.5)
  }

  test("plan contains the kernel and no interpreted lambda nodes") {
    val plan = TextOps.oovRate(docs, "text", vocab)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_oov_count"))
    assert(!plan.contains("lambdafunction"), s"interpreted HOF in plan:\n$plan")
  }
}
