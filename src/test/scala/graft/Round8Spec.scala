package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Round-8 additions: exact maximal duplicated spans. */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  private def spans(df: org.apache.spark.sql.DataFrame, k: Int, minTokens: Int = 0) =
    TextOps.duplicateSpans(df, "doc_id", "text", k = k, minTokens = minTokens)
      .select("doc_id", "start_tok", "end_tok", "n_tokens", "span")
      .as[(Long, Long, Long, Long, String)]
      .collect().toSeq.sortBy(r => (r._1, r._2))

  test("duplicateSpans recovers a planted cross-doc span exactly, maximal") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, s"red fish $shared blue fish"),
      (2L, s"one two three four $shared nine ten")
    ).toDF("doc_id", "text")
    val got = spans(docs, k = 3)
    // doc 1: span starts after 2 unique tokens; doc 2: after 4
    assert(got == Seq(
      (1L, 2L, 10L, 8L, shared),
      (2L, 4L, 12L, 8L, shared)))
  }

  test("duplicateSpans is maximal: one-token flanks are not absorbed") {
    // 'x SHARED' in doc 1 vs 'y SHARED' in doc 2 — the differing flank
    // token must stay OUT of the span; the shared run must be whole
    val s8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    val docs = Seq(
      (1L, s"x $s8 p q"),
      (2L, s"y $s8 r t")
    ).toDF("doc_id", "text")
    val got = spans(docs, k = 4)
    assert(got == Seq((1L, 1L, 9L, 8L, s8), (2L, 1L, 9L, 8L, s8)))
  }

  test("duplicateSpans catches a WITHIN-document repeat (occurrences, not docs)") {
    // the 6-token phrase appears twice in one doc, nowhere else
    val ph = "w1 w2 w3 w4 w5 w6"
    val docs = Seq(
      (1L, s"$ph mid1 mid2 mid3 $ph"),
      (2L, "totally different words here nothing shared at all")
    ).toDF("doc_id", "text")
    val got = spans(docs, k = 6)
    assert(got == Seq((1L, 0L, 6L, 6L, ph), (1L, 9L, 15L, 6L, ph)))
  }

  test("duplicateSpans merges overlapping seeds into ONE island per region") {
    // two docs share a 12-token run: every interior k-gram is duplicated,
    // so the island chain must emit a single span, not per-gram fragments
    val run = (1 to 12).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, s"u1 u2 $run"), (2L, s"$run v1 v2")).toDF("doc_id", "text")
    val got = spans(docs, k = 5)
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got.forall(_._5 == run))
    assert(got.forall(_._4 == 12L))
  }

  test("BPE: generated SQL encoder == the driver-local reference encoder") {
    import graft.operators.Bpe
    assert(Bpe.merges.size == 60)
    // every seed word, plus unseen words (novel adjacency) and edge cases
    val words = Bpe.seedCorpus.map(_._1) ++ Seq("sparkle", "unseen", "z", "joinjoin")
    val got = words.toDF("w")
      .withColumn("n", expr(Bpe.countSql(Bpe.delimitSparkSql("w"))).cast("long"))
      .as[(String, Long)].collect().toMap
    words.foreach { w =>
      assert(got(w) == Bpe.encode(w).length.toLong,
        s"$w: sql=${got(w)} local=${Bpe.encode(w)}")
    }
    // training compresses: seed words need fewer tokens than characters
    assert(Bpe.encode("customer").length < "customer".length)
  }

  test("duplicateSpansAgainst: spans come ONLY from the frozen gram set, not batch-internal repeats") {
    import graft.operators.TextOps
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta one two"),
      (2L, "x alpha beta gamma delta epsilon zeta eta theta y z")
    ).toDF("doc_id", "text")
    // frozen reference = the corpus's duplicated 6-grams (the 8-token
    // shared run yields three duplicated 6-gram starts)
    val grams = TextOps.duplicateSpans(corpus, "doc_id", "text", k = 6)
      .limit(0) // (shape check only)
    val dupGrams = {
      // derive the gram set the saved table would hold, via the public API
      val t = "span_gate_grams"
      TestTables.reset(spark, t)
      TextOps.saveDupGramTable(corpus, "doc_id", "text", t, k = 6)
      spark.table(t)
    }
    assert(dupGrams.count() == 3L) // 8-token run -> 3 duplicated 6-grams
    val batch = Seq(
      // contains the full corpus-duplicated run -> one maximal 8-token span
      (10L, "pre alpha beta gamma delta epsilon zeta eta theta post"),
      // batch-internal repeat ONLY (twice in one doc, never in corpus):
      // must produce NO span against the frozen reference
      (11L, "one two three four five six one two three four five six"),
      (12L, "clean words nothing shared with anything at all here")
    ).toDF("doc_id", "text")
    val spans = TextOps.duplicateSpansAgainst(batch, dupGrams,
        "doc_id", "text", k = 6)
      .select("doc_id", "start_tok", "end_tok", "span")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(spans == Seq((10L, 1L, 9L,
      "alpha beta gamma delta epsilon zeta eta theta")), spans.toString)
    assert(grams.columns.toSeq ==
      Seq("doc_id", "start_tok", "end_tok", "n_tokens", "span"))
  }

  test("BPE: words containing the <> delimiter chars count correctly (escaped)") {
    import graft.operators.Bpe
    // 'a<b' naively delimited is '<a><<><b>' — the '<'-count would read 4;
    // the escape maps <,> to private symbols, so each counts as ONE
    // unknown single-char token, same segmentation as the local encoder
    val words = Seq("a<b", "x>y", "<<>>", "a<b>c", "<", "join<table")
    val got = words.toDF("w")
      .withColumn("n", expr(Bpe.countSql(Bpe.delimitSparkSql("w"))).cast("long"))
      .as[(String, Long)].collect().toMap
    words.foreach { w =>
      assert(got(w) == Bpe.encode(w).length.toLong,
        s"$w: sql=${got(w)} local=${Bpe.encode(w)}")
    }
    // end to end through the corpus counter (dictionary + broadcast join)
    val n = Bpe.bpeTokenCounts(Seq((1L, "a<b join")).toDF("doc_id", "text"),
      "doc_id", "text").selectExpr("n_bpe_exact").as[Long].head()
    assert(n == Bpe.encode("a<b").length.toLong + Bpe.encode("join").length.toLong)
  }

  test("BPE counts drive the budget operators (truncate, chunk, tokenBudget)") {
    import graft.operators.{Bpe, Sampling, TextOps}
    val bpe: String => String = tk => Bpe.countsArraySparkSql(tk)
    def cost(ws: String*) = ws.map(w => Bpe.encode(w).length.toLong).sum
    val text = "customer filter window stream batch"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val words = text.split(' ').toSeq
    // truncate: longest word prefix whose BPE cost fits the budget
    val budget = cost(words.take(3): _*)
    val t = TextOps.truncateTokens(docs, "text", budget.toInt, counter = Some(bpe))
      .selectExpr("truncated_text", "n_tokens_kept", "was_truncated")
      .as[(String, Long, Boolean)].head()
    assert(t == ((words.take(3).mkString(" "), budget, true)))
    // chunking: every chunk within budget, words preserved in order
    val ch = TextOps.chunkByBudget(docs, "text", budget, counter = bpe)
      .selectExpr("chunk_id", "chunk", "n_budget_tokens")
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(ch.map(_._2).mkString(" ") == text)
    assert(ch.forall(_._3 <= budget))
    assert(ch.head._2 == words.take(3).mkString(" ")) // greedy fill
    // an oversized single word still emits (visible, not split)
    val big = TextOps.chunkByBudget(Seq((1L, "customer")).toDF("doc_id", "text"),
        "text", budget = 1, counter = bpe)
      .selectExpr("chunk", "n_budget_tokens").as[(String, Long)].collect()
    assert(big.toSeq == Seq(("customer", cost("customer"))))
    // tokenBudget consumes the exact counts column directly
    val perDoc = Bpe.bpeTokenCounts(
        Seq((1L, "customer"), (2L, "filter"), (3L, "window")).toDF("doc_id", "text"),
        "doc_id", "text")
      .withColumn("src", lit("s"))
    val admitted = Sampling.tokenBudget(perDoc, keyCol = "src",
      idCol = "doc_id", tokensCol = "n_bpe_exact", budget = cost("customer", "filter"))
    // exact BPE costs gate admission: the budget fits some but not all
    assert(admitted.count() >= 1 && admitted.count() < 3)
  }

  test("stateful streaming ops run unchanged on the RocksDB state store") {
    // the default HDFS-backed store is memory-resident per key — at
    // 100 TB key spaces RocksDB is the scale path; behavior must be
    // IDENTICAL and the store must actually be RocksDB (custom metrics)
    import graft.streaming.EventPipeline
    import EventPipeline.{Event, QuotaEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1700000000000L
      def ts(min: Int) = new java.sql.Timestamp(base + min * 60000L)
      // sessionize: same plant as the default-provider spec
      val sIn = MemoryStream[Event]
      val sQ = EventPipeline.sessionize(sIn.toDS(), gapMs = 10 * 60000L)
        .writeStream.format("memory").queryName("rocks_sessions")
        .outputMode(OutputMode.Append()).start()
      try {
        sIn.addData(Event(ts(0), 1L, "click", 1.0), Event(ts(5), 1L, "click", 2.0),
          Event(ts(8), 1L, "view", 3.0))
        sQ.processAllAvailable()
        sIn.addData(Event(ts(60), 1L, "click", 4.0))
        sQ.processAllAvailable()
        val sessions = spark.table("rocks_sessions")
          .selectExpr("user_id", "start_ms", "end_ms", "n_events", "total")
          .as[(Long, Long, Long, Int, Double)].collect()
        assert(sessions.toSeq == Seq((1L, base, base + 8 * 60000L, 3, 6.0)))
        // the store really is RocksDB: provider-specific metrics surface
        val metrics = sQ.lastProgress.stateOperators(0).customMetrics
        assert(metrics.keySet().toArray.exists(_.toString.startsWith("rocksdb")),
          metrics.toString)
      } finally sQ.stop()
      // quotaGate: no-refill across batches holds on RocksDB too
      val qIn = MemoryStream[QuotaEvent]
      val qQ = EventPipeline.quotaGate(qIn.toDS(), budget = 50L)
        .writeStream.format("memory").queryName("rocks_quota")
        .outputMode(OutputMode.Append()).start()
      try {
        qIn.addData(QuotaEvent(ts(1), "srcA", 1L, 30L),
          QuotaEvent(ts(2), "srcA", 2L, 10L))
        qQ.processAllAvailable()
        qIn.addData(QuotaEvent(ts(3), "srcA", 3L, 20L))
        qQ.processAllAvailable()
        val rows = spark.table("rocks_quota")
          .selectExpr("id", "cum_tokens", "admitted")
          .as[(Long, Long, Boolean)].collect().sortBy(_._1)
        assert(rows.toSeq == Seq((1L, 30L, true), (2L, 40L, true), (3L, 60L, false)))
      } finally qQ.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("operator-internal caches are tracked and released by Caches.unpersistAll") {
    import graft.operators.{Caches, Dedup, Graph, TextOps}
    Caches.unpersistAll() // other suites may have left tracked caches
    assert(Caches.trackedCount == 0)
    Graph.triangles(Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")).count()
    assert(Caches.trackedCount == 1)
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "k l m n o p q r s t")).toDF("doc_id", "text")
    Dedup.minhashLsh(docs, "doc_id", "text").count()
    TextOps.duplicateSpans(docs, "doc_id", "text", k = 3).count()
    assert(Caches.trackedCount > 0)
    Caches.unpersistAll()
    assert(Caches.trackedCount == 0)
  }

  test("CBO: catalog statistics drive the broadcast decision with AQE OFF") {
    // the plans must survive where AQE's runtime stats are unavailable
    // (first stage of a cold cluster, non-adaptive engines downstream):
    // with ANALYZE'd column stats + CBO, the selective filter shrinks the
    // orders side below the broadcast threshold at PLANNING time; with
    // size-only estimation the same query stays a sort-merge join — the
    // broadcast is provably stats-driven, not file-size luck
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.planStats.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> (256 * 1024).toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      graft.sources.Tables(spark, "/root/testdata/sf0.1", "orders")
        .write.mode("overwrite").saveAsTable("cbo_orders")
      graft.sources.Tables(spark, "/root/testdata/sf0.1", "lineitem")
        .write.mode("overwrite").saveAsTable("cbo_lineitem")
      spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_totalprice")
      spark.sql("ANALYZE TABLE cbo_lineitem COMPUTE STATISTICS FOR COLUMNS l_orderkey")
      val q =
        """SELECT l.l_orderkey, o.o_totalprice
          |FROM cbo_lineitem l JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
          |WHERE o.o_totalprice < 1500""".stripMargin
      val withStats = spark.sql(q).queryExecution.executedPlan.toString
      assert(withStats.contains("BroadcastHashJoin"), withStats.take(2000))
      // control: size-only estimation keeps the full file size above the
      // threshold — no broadcast, so the flip above came from the stats
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "false")
      val sizeOnly = spark.sql(q).queryExecution.executedPlan.toString
      assert(sizeOnly.contains("SortMergeJoin"), sizeOnly.take(2000))
      // results agree regardless of strategy (same rows either way)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
      assert(spark.sql(q).count() > 0)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sql("DROP TABLE IF EXISTS cbo_orders")
      spark.sql("DROP TABLE IF EXISTS cbo_lineitem")
    }
  }

  test("duplicateSpans minTokens filters short spans; below-k docs ignored") {
    val sharedShort = "s1 s2 s3 s4 s5" // 5 tokens, below minTokens = 8
    val docs = Seq(
      (1L, s"a b $sharedShort c d"),
      (2L, s"e f $sharedShort g h"),
      (3L, "tiny")
    ).toDF("doc_id", "text")
    assert(spans(docs, k = 3, minTokens = 8).isEmpty)
    // same plant passes when the threshold drops to the span length
    assert(spans(docs, k = 3, minTokens = 5).map(_._5).distinct == Seq(sharedShort))
  }
}
