package graft

import graft.operators.TextOps

/** r16: the native GopherCounts kernel must reproduce the HOF
  * formulation of gopherSignals BIT-FOR-BIT (the HOF form is retained as
  * TextOpsHof.gopherSignals purely as this spec's reference). Adversarial
  * inputs: empty and 1-token docs (division edges), sub-trigram and
  * sub-5-gram lengths, heavy repetition, non-ASCII tokens, mixed
  * alphabetic/non-alphabetic tokens, multi-space runs.
  */
class GopherSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, ""),
    (1L, "one"),
    (2L, "two words"),
    (3L, "exactly three tokens"),
    (4L, "now four whole tokens"),
    (5L, "a a a a a a a a a a"),
    (6L, "the quick brown fox jumps over the lazy dog the quick brown fox jumps"),
    (7L, "naïve café über straße 東京 emoji🎈token"),
    (8L, "MIXED Case TOKENS with UPPER and lower"),
    (9L, "punct. comma, semi; colon: dash-word under_score 123 a1b2"),
    (10L, "   leading and trailing   spaces   with  runs   "),
    (11L, ("w1 w2 w3 w4 w5 " * 40).trim),
    (12L, "repeat gram here repeat gram here repeat gram here repeat gram here"),
    (13L, "tab\tseparated\tand\nnewline\nseparated tokens"),
    (14L, "ألف باء تاء ثاء جيم حاء"),
    (15L, "z y x w v u t s r q p o n m l k j i h g f e d c b a")
  ).toDF("doc_id", "text")

  test("native kernel reproduces the HOF gopherSignals bit-for-bit") {
    val native = TextOps.gopherSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val hof = TextOpsHof.gopherSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) =>
      assert(n == h, s"kernel/HOF divergence:\n  native=$n\n  hof=$h")
    }
  }

  test("kernel counts on a known document") {
    val one = TextOps.gopherSignals(
      Seq((1L, "a b c a b c a b x y z")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    // tokens: a b c a b c a b x y z (11); trigram "a b c" occurs 2x;
    // 5-grams: 7 total, "b c a b c"/"c a b ..."-style dup: exactly one
    // duplicated 5-gram ("a b c a b" at 0 and 3)? positions: g5(0)=a b c a b,
    // g5(3)=a b c a b? tokens 3..7 = a b c a b -> yes, dup5x = 1
    assert(one.getAs[Long]("n_tok") == 11L)
    assert(one.getAs[Double]("top_trigram_frac") == 0.545455) // round(6/11, 6)
    assert(one.getAs[Double]("mean_word_len") == 1.0)
  }
}
