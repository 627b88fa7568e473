package graft

import graft.operators.{Caches, Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Near-dup detection over planted duplicates (mirrors the semantics the
  * oracle-checked queries verify bit-for-bit at sf0.01).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def docs = Seq(
    (0L, base),
    (1L, base),                                          // exact dup of 0
    (2L, base.replace("today", "tomorrow")),             // near dup of 0
    (3L, "completely different words about spark query engines and shuffles here"),
    (4L, "another unrelated document mentioning catalyst optimizer rules only now")
  ).toDF("doc_id", "text")

  test("exact dedup keeps first id per duplicate group") {
    val groups = Dedup.exact(docs, Seq("text"), "doc_id").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
    assert(Dedup.dropExact(docs, Seq("text"), "doc_id").count() == 4)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", k = 8, bands = 4, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 3L || b == 4L || a == 3L || a == 4L })
  }

  test("dropNearDuplicates keeps one survivor per near-dup cluster") {
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 3L, 4L)) // 1 exact-dups 0; 2 near-dups 0
  }

  test("simhash hamming distance separates near-dups from unrelated docs") {
    val sh = Dedup.simhash64(docs, "text").select("doc_id", "simhash")
    val h = sh.as[(Long, Long)].collect().toMap
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(dist(0, 1) == 0)
    assert(dist(0, 2) < dist(0, 3))
    assert(dist(0, 2) < dist(0, 4))
  }

  test("simhash tokenizes on WHITESPACE runs (the regex-escaping pin)") {
    // a broken '\s+' escape splits on the letter s instead of whitespace;
    // relative-distance tests don't notice, so pin the semantics exactly:
    // whitespace runs collapse, token order is irrelevant (distinct-token
    // votes), and different tokens hash differently
    val t = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha   beta \t gamma"), // same tokens, messier whitespace
      (2L, "gamma beta alpha"),      // same tokens, different order
      (3L, "alpha beta delta")       // one token differs
    ).toDF("doc_id", "text")
    val h = Dedup.simhash64(t, "text").select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(h(0L) == h(1L), "whitespace runs must not change the token set")
    assert(h(0L) == h(2L), "distinct-token votes are order-independent")
    assert(h(0L) != h(3L), "a changed token must move the hash")
  }

  test("cosine pairs finds identical embeddings within buckets") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("banded cosine LSH keeps recall for near-identical (not equal) vectors") {
    // small perturbation: sign bits may flip in SOME bands; candidate
    // generation only needs ONE agreeing band (the multi-probe property
    // a single 2^planes bucket key does not have)
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(7) += 0.05f; near(23) -= 0.05f
    val vecs = Seq(
      (0L, base), (1L, near),
      (2L, Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("incremental dedup filters a new batch against the corpus only") {
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base),                                   // exact dup of corpus 0
      (101L, base.replace("today", "tomorrow")),      // near dup of corpus 0
      (102L, "a genuinely fresh document with entirely new content and words inside"),
      // near-dups WITHIN the batch — must both survive (only-vs-corpus)
      (103L, "twin sentences of unusual phrasing appearing twice in one batch now"),
      (104L, "twin sentences of unusual phrasing appearing twice in one batch today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshAgainst(incoming, corpus, "doc_id", "text",
        threshold = 0.4)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 0L)) && pairs.contains((101L, 0L)))
    assert(!pairs.exists { case (n, _) => n >= 102L })
    val kept = Dedup.dropNearDuplicatesAgainst(incoming, corpus, "doc_id", "text",
        threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(102L, 103L, 104L))
  }

  test("saved band-table path finds the same incremental pairs as the direct path") {
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (100L, base),
      (101L, base.replace("today", "tomorrow")),
      (102L, "a genuinely fresh document with entirely new content and words inside")
    ).toDF("doc_id", "text")
    Dedup.saveBandTable(corpus, "doc_id", "text", "dd_saved_bands", buckets = 4)
    try {
      val saved = Dedup.minhashLshAgainstSaved(
          incoming, corpus, spark.table("dd_saved_bands"), "doc_id", "text",
          threshold = 0.4)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      val direct = Dedup.minhashLshAgainst(incoming, corpus, "doc_id", "text",
          threshold = 0.4)
        .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(saved == direct && saved.contains((100L, 0L)) && saved.contains((101L, 0L)),
        s"saved=$saved direct=$direct")
    } finally spark.sql("DROP TABLE IF EXISTS dd_saved_bands")
  }

  test("sliced full-corpus dedup reproduces the one-shot pair set exactly") {
    // enough docs that ids spread over all slices; one near-dup cluster
    // (0, 20, 21) and one exact pair (5, 25) planted among unrelated docs
    val docs = ((0L to 19L).map(i =>
        (i, s"unique document number $i with its own content about topic-$i " +
          s"and filler words alpha beta gamma delta-$i")) ++ Seq(
        (20L, "unique document number 0 with its own content about topic-0 " +
          "and filler words alpha beta gamma delta-0"),
        (21L, "unique document number 0 with its own content about topic-0 " +
          "and filler words alpha beta gamma epsilon-0"),
        (25L, docsText5))).toDF("doc_id", "text")
    TestTables.reset(spark, "dd_sliced_bands")
    try {
      val oneShot = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.4)
        .select("a_id", "b_id").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val sliced = Dedup.minhashLshSliced(docs, "doc_id", "text",
          table = "dd_sliced_bands", slices = 4, buckets = 4, threshold = 0.4)
        .flatMap(mk => Caches.scoped(
          mk().select("a_id", "b_id").as[(Long, Long)].collect().toSeq))
        .toSet
      assert(sliced == oneShot, s"sliced=$sliced oneShot=$oneShot")
      assert(sliced.contains((0L, 20L)) && sliced.contains((5L, 25L)), sliced)
      // each pair appears exactly once across slices (no double count)
      val all = Dedup.minhashLshSliced(docs, "doc_id", "text",
          table = "dd_sliced_bands", slices = 4, buckets = 4, threshold = 0.4)
        .flatMap(mk => Caches.scoped(
          mk().select("a_id", "b_id").as[(Long, Long)].collect().toSeq))
      assert(all.size == all.toSet.size, s"duplicated pairs in $all")
    } finally spark.sql("DROP TABLE IF EXISTS dd_sliced_bands")
  }

  private lazy val docsText5 =
    "unique document number 5 with its own content about topic-5 " +
      "and filler words alpha beta gamma delta-5"

  test("duplicateClusters labels chained components with the minimum id") {
    // a path graph 1-2-3-4 plus an isolated pair (10, 11): label
    // propagation needs multiple rounds to carry 1 down the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)),
      s"got $got")
  }

  test("duplicateClusters collapses a long chain in logarithmic rounds") {
    // a 200-vertex path graph has diameter 199: plain min-label
    // propagation needs ~200 rounds, pointer jumping needs ~log2(200)+2.
    // maxIter = 14 only converges if the shortcutting actually engages.
    // A 199-edge chain fits the driver finish, so a broadcast threshold of
    // -1 keeps it on the rounds path.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val got =
      try Dedup.duplicateClusters(chain, maxIter = 14).as[(Long, Long)].collect()
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(got.length == 200)
    assert(got.forall(_._2 == 0L),
      s"chain not fully collapsed: ${got.filter(_._2 != 0L).take(5).mkString(", ")}")
  }

  test("containmentPairs flags the embedded doc, not the reverse direction") {
    // doc 2 is a verbatim sub-span of doc 1: containment(2 -> 1) = 1.0,
    // containment(1 -> 2) is low; doc 3 is unrelated
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "gamma delta epsilon zeta eta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8)
      .select("a_id", "b_id", "containment")
      .as[(Long, Long, Double)].collect()
    assert(out.map(p => (p._1, p._2)).toSet == Set((2L, 1L)), out.mkString(", "))
    assert(out.head._3 == 1.0)
  }

  test("containmentPairs df-cap drops boilerplate grams but never inflates containment") {
    // one gram shared by every doc (df = 5 > maxDf 3) is excluded from
    // the index: the pair sharing ONLY boilerplate finds no candidates
    val boiler = "all rights reserved"
    val corpus = (1 to 5).map(i => (i.toLong, s"doc number $i unique words here $boiler"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5, maxDf = 3)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.isEmpty, out.mkString(", "))
  }

  test("bucket cap drops degenerate hot buckets instead of going quadratic") {
    // 40 identical boilerplate docs (identical signatures → one hot LSH
    // bucket in EVERY band) + 2 distinct near-dups: with maxBucket=10 the
    // boilerplate bucket (40 > 10) is dropped from candidate generation,
    // the small pair is still found
    val boiler = (0 until 40).map(i =>
      (100L + i, "standard legal boilerplate disclaimer text repeated verbatim everywhere"))
    val docs2 = (boiler ++ Seq(
      (0L, base), (1L, base.replace("today", "tomorrow"))
    )).toDF("doc_id", "text")
    val capped = Dedup.minhashLsh(docs2, "doc_id", "text",
        k = 8, bands = 4, threshold = 0.4, maxBucket = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(capped.contains((0L, 1L)), "small-bucket pair must survive the cap")
    assert(!capped.exists { case (a, b) => a >= 100L || b >= 100L },
      "hot-bucket members must be excluded by the cap")
    // and without the cap the boilerplate pairs ARE found (cap is the only
    // thing standing between the hot bucket and O(n^2))
    val uncapped = Dedup.minhashLsh(docs2, "doc_id", "text",
        k = 8, bands = 4, threshold = 0.4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(uncapped.exists { case (a, b) => a >= 100L && b >= 100L })
  }

  test("language id votes by stopword lists") {
    val df = Seq(
      (0L, "the cat is on the mat and the dog is in the house"),
      (1L, "der hund ist nicht mit der katze und das ist gut"),
      (2L, "le chat est dans la maison et le chien est pour une promenade")
    ).toDF("doc_id", "text")
    val out = TextOps.languageId(df, "text").select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(out(0L) == "en"); assert(out(1L) == "de"); assert(out(2L) == "fr")
  }

  test("quality and token stats produce sane ranges") {
    val out = TextOps.tokenStats(TextOps.qualityScore(docs, "text"), "text")
      .select("doc_id", "quality", "ttr", "n_ws", "n_re").collect()
    out.foreach { r =>
      assert(r.getAs[Double]("quality") > 0.0 && r.getAs[Double]("quality") <= 1.0)
      assert(r.getAs[Double]("ttr") > 0.0 && r.getAs[Double]("ttr") <= 1.0)
      assert(r.getAs[Long]("n_ws") == r.getAs[Long]("n_re"))
    }
  }
}
