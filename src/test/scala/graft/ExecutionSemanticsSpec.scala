package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Execution-model semantics the reference guarantees through its cell
  * scheduler, delivered here by Spark's execution machinery:
  *  - expensive expressions under LIMIT evaluate lazily (reference:
  *    test/execute/expensive.test.js counts evaluations);
  *  - a running query can be aborted (reference: test/execute/abort.test.js
  *    — Spark's native job-group cancellation);
  *  - skew handling keeps per-task input bounded (SURVEY §4 scale claims:
  *    salting for repartition-by-key pipelines, AQE for skewed joins).
  */
object ExecutionSemanticsSpec {
  // static singleton: task closures are serialized even in local mode, so
  // an instance field would be incremented on a deserialized copy
  val udfCalls = new AtomicInteger(0)
  // async-scorer instrumentation (same static-singleton reasoning)
  val scoreCalls = new AtomicInteger(0)
  val maxBatch = new AtomicInteger(0)
  val inFlightNow = new AtomicInteger(0)
  val maxInFlightSeen = new AtomicInteger(0)
}

class ExecutionSemanticsSpec extends SparkSpec {

  test("expensive UDF under LIMIT evaluates at most LIMIT times") {
    ExecutionSemanticsSpec.udfCalls.set(0)
    val expensive = udf { (x: Long) =>
      ExecutionSemanticsSpec.udfCalls.incrementAndGet(); x * 2
    }
    val out = spark.range(0, 10000, 1, 1)
      .select(expensive(col("id")).as("y"))
      .limit(5)
      .collect()
    assert(out.length == 5)
    val calls = ExecutionSemanticsSpec.udfCalls.get()
    assert(calls <= 5, s"UDF evaluated $calls times for LIMIT 5 — limit not pushed")
  }

  test("expensive UDF under LIMIT stays lazy over the pluggable source too") {
    // the reference's expensive.test.js laziness scenario through the
    // DSv2 source (not just parquet): rows stream out of the reader
    // iterator pull-by-pull, so a LIMIT consumes only what it returns
    // and the projection's expensive work runs at most LIMIT times
    ExecutionSemanticsSpec.udfCalls.set(0)
    val expensive = udf { (x: Long) =>
      ExecutionSemanticsSpec.udfCalls.incrementAndGet(); x * 2
    }
    val out = spark.read.format("graft-range")
      .option("rows", "1000000000000").option("partitions", "1")
      .load()
      .select(expensive(col("id")).as("y"))
      .limit(5)
      .collect()
    assert(out.length == 5)
    val calls = ExecutionSemanticsSpec.udfCalls.get()
    assert(calls <= 5,
      s"UDF evaluated $calls times for LIMIT 5 over graft-range — the " +
        "source reader must be pulled lazily, never drained")
  }

  test("a running query can be cancelled mid-flight (abort semantics)") {
    val sc = spark.sparkContext
    implicit val ec: ExecutionContext = ExecutionContext.global
    val slow = udf { (x: Long) => Thread.sleep(20); x }
    val fut = Future {
      // job group is thread-local: set it on the executing thread.
      // sum(y) forces the UDF column (count() would prune it away and
      // finish instantly) — ~10 s of work if never cancelled.
      sc.setJobGroup("graft-abort-test", "cancellable query", interruptOnCancel = true)
      spark.range(0, 2000, 1, 4).select(slow(col("id")).as("y"))
        .agg(sum("y")).collect()
    }
    Thread.sleep(1500) // let the job actually start
    sc.cancelJobGroup("graft-abort-test")
    val res = scala.util.Try(Await.result(fut, Duration(60, "s")))
    assert(res.isFailure, "cancelled query should fail, not run to completion")
    sc.clearJobGroup()
  }

  /** Max records any single task read from a shuffle during `action`.
    * An AQE action runs MULTIPLE jobs (shuffle-map stage, then the reduce
    * job whose tasks do the shuffle read), so the drain waits until the
    * event stream is quiescent — every observed job ended AND no new
    * events for a settle window — not just for the first JobEnd.
    */
  private def maxTaskShuffleRead(action: => Unit): Long = {
    val maxRecords = new AtomicLong(0)
    val events = new AtomicLong(0)
    val jobsStarted = new AtomicInteger(0)
    val jobsEnded = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobsStarted.incrementAndGet(); events.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null)
          maxRecords.updateAndGet(m => math.max(m, t.taskMetrics.shuffleReadMetrics.recordsRead))
        events.incrementAndGet()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        jobsEnded.incrementAndGet(); events.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      val deadline = System.nanoTime() + 15_000_000_000L
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        val before = events.get()
        Thread.sleep(300)
        settled = events.get() == before && jobsStarted.get() > 0 &&
          jobsEnded.get() == jobsStarted.get()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    maxRecords.get()
  }

  test("salting bounds the hot-key task in a repartition-by-key pipeline") {
    // 50k rows, 98% on one key: any repartition(key) downstream — grouped
    // writes, mapGroups — funnels the hot key through ONE task; salting
    // splits it across `salt` subtasks. Assert the measured per-task bound.
    // 32 salts over 16 partitions: even with hash collisions no partition
    // collects more than a few subkeys
    val salt = 32
    val skewed = spark.range(50000)
      .selectExpr("CASE WHEN id % 100 < 98 THEN 'hot' ELSE concat('k', id % 7) END AS k",
        "id AS v")
    // explicit numPartitions: user-specified repartitions are exempt from
    // AQE coalescing, which would otherwise merge everything into one task
    // at this toy size and mask the skew
    val plainMax = maxTaskShuffleRead {
      skewed.repartition(16, col("k")).write.format("noop").mode("overwrite").save()
    }
    val saltedMax = maxTaskShuffleRead {
      skewed.withColumn("_salt", pmod(hash(col("v")), lit(salt)))
        .repartition(16, col("k"), col("_salt"))
        .write.format("noop").mode("overwrite").save()
    }
    assert(plainMax >= 40000L, s"expected a hot task near 49k records, got $plainMax")
    assert(saltedMax <= plainMax / 4,
      s"salting should cut the max task input ~${salt}x: plain=$plainMax salted=$saltedMax")
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      val fact = spark.range(200000)
        .selectExpr("CASE WHEN id % 100 < 95 THEN 0L ELSE id % 50 END AS k",
          "repeat('x', 32) AS pad")
      val dim = spark.range(50).selectExpr("id AS k", "concat('d', id) AS name")
      val joined = fact.join(dim, "k")
      // collect() runs joined's OWN QueryExecution, so its adaptive plan
      // is finalized (a noop write would execute a separate copy)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the hot partition as skew-split:\n${finalPlan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("RangeJoin's bucket key inherits AQE skew splitting on a hot value axis") {
    // value-axis skew (95% of left rows share one value) becomes BUCKET
    // KEY skew in RangeJoin.within — i.e. ordinary join-key skew, which
    // AQE's skew-join splits. This is the claim that a skewed interval
    // join needs no bespoke handling beyond the bucketing rewrite.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000).selectExpr(
        "id AS lid",
        "CASE WHEN id % 100 < 95 THEN 500.0 ELSE CAST(id % 1000 AS DOUBLE) END AS lv",
        "repeat('x', 32) AS pad")
      val right = spark.range(2000).selectExpr("id AS rid", "CAST(id AS DOUBLE) AS rv")
      val agg = graft.operators.RangeJoin.within(left, right, "lv", "rv", -0.5, 0.5)
        .agg(count(lit(1)).as("n"))
      val n = agg.collect().head.getLong(0)
      assert(n > 0)
      val finalPlan = agg.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not skew-split the hot range bucket:\n${finalPlan.take(1500)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("maxBucket bounds the minhash LSH join's max-task input on a Zipfian corpus") {
    import graft.operators.Dedup
    // deliberately Zipfian documents: 1200 byte-identical docs (ONE
    // degenerate LSH bucket per band) + 300 distinct docs. Uncapped, the
    // hot bucket self-joins quadratically (~1200²/2 pairs per band);
    // capped, the whole bucket is dropped before the join.
    val docs = spark.range(1500).selectExpr(
      "id AS doc_id",
      """CASE WHEN id < 1200
        |  THEN 'the same hot document text repeated everywhere forever'
        |  ELSE concat('unique doc ', id, ' with its own words ',
        |              id * 7, ' and ', id * 13) END AS text""".stripMargin)
      .repartition(8)
    docs.persist(); docs.count()
    try {
      val uncappedMax = maxTaskShuffleRead {
        Dedup.minhashLsh(docs, "doc_id", "text", maxBucket = 10000000)
          .write.format("noop").mode("overwrite").save()
      }
      val cappedMax = maxTaskShuffleRead {
        Dedup.minhashLsh(docs, "doc_id", "text", maxBucket = 100)
          .write.format("noop").mode("overwrite").save()
      }
      assert(uncappedMax >= 100000L,
        s"expected a quadratic hot-bucket task uncapped, got $uncappedMax")
      assert(cappedMax <= uncappedMax / 10,
        s"maxBucket should bound the hot task: uncapped=$uncappedMax capped=$cappedMax")
      assert(cappedMax <= 20000L, s"capped max-task input still large: $cappedMax")
    } finally docs.unpersist()
  }

  test("maxDf bounds the containment join's max-task input on a Zipfian corpus") {
    import graft.operators.Dedup
    val docs = spark.range(1200).selectExpr(
      "id AS doc_id",
      """CASE WHEN id < 1000
        |  THEN 'hot grams shared by every single document here'
        |  ELSE concat('cold doc ', id, ' tokens ', id * 3, ' more ', id * 11) END AS text""".stripMargin)
      .repartition(8)
    docs.persist(); docs.count()
    try {
      val uncappedMax = maxTaskShuffleRead {
        Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.99,
          maxDf = 10000000)
          .write.format("noop").mode("overwrite").save()
      }
      val cappedMax = maxTaskShuffleRead {
        Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.99,
          maxDf = 100)
          .write.format("noop").mode("overwrite").save()
      }
      assert(uncappedMax >= 100000L,
        s"expected a quadratic hot-gram task uncapped, got $uncappedMax")
      assert(cappedMax <= uncappedMax / 10,
        s"maxDf should bound the hot task: uncapped=$uncappedMax capped=$cappedMax")
    } finally docs.unpersist()
  }

  test("async batched scoring: batches, bounded concurrency, order == naive sync UDF") {
    import graft.operators.AsyncScore
    import ExecutionSemanticsSpec._
    import spark.implicits._
    scoreCalls.set(0); maxBatch.set(0); inFlightNow.set(0); maxInFlightSeen.set(0)
    val n = 5000
    val df = spark.range(n).selectExpr("id", "concat('t', repeat('x', CAST(id % 37 AS INT))) AS txt")
      .repartition(3)
    val scored = AsyncScore.mapBatchesAsync(df, "txt", "score",
      batchSize = 64, maxInFlight = 4) { texts =>
      val now = inFlightNow.incrementAndGet()
      maxInFlightSeen.accumulateAndGet(now, math.max)
      scoreCalls.incrementAndGet()
      maxBatch.accumulateAndGet(texts.length, math.max)
      Thread.sleep(1) // force overlap so the concurrency bound is exercised
      val r = texts.map(t => t.length.toDouble * 3)
      inFlightNow.decrementAndGet()
      r
    }
    val got = scored.select("id", "score").as[(Long, Double)].collect().toMap
    // identical to the naive per-row sync UDF
    val syncUdf = udf((t: String) => t.length.toDouble * 3)
    val naive = df.withColumn("score", syncUdf(col("txt")))
      .select("id", "score").as[(Long, Double)].collect().toMap
    assert(got == naive)
    // batching actually happened: far fewer calls than rows, none over cap
    assert(maxBatch.get() <= 64 && maxBatch.get() > 1, s"maxBatch=${maxBatch.get()}")
    assert(scoreCalls.get() <= n / 32, s"calls=${scoreCalls.get()} — not batched")
    // concurrency stayed within partitions × maxInFlight (3 × 4), and the
    // pipeline really overlapped calls rather than serializing them
    assert(maxInFlightSeen.get() <= 12, s"maxInFlight=${maxInFlightSeen.get()}")
    assert(maxInFlightSeen.get() >= 2, "no overlap observed — pipeline is serial")
  }

  test("async batched scoring preserves per-partition input order") {
    import graft.operators.AsyncScore
    import spark.implicits._
    val df = spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS txt").coalesce(1)
    val out = AsyncScore.mapBatchesAsync(df, "txt", "score",
      batchSize = 16, maxInFlight = 4)(ts => ts.map(_.toDouble))
      .select("id").as[Long].collect()
    assert(out.toSeq == (0L until 1000L), "row order changed across the async drain")
  }

  test("async batched scoring propagates a scorer failure as a task failure") {
    import graft.operators.AsyncScore
    val df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS txt")
    val e = intercept[Exception] {
      AsyncScore.mapBatchesAsync(df, "txt", "score", batchSize = 8, maxInFlight = 2) {
        ts => if (ts.exists(_ == "42")) throw new RuntimeException("model 500") else ts.map(_ => 1.0)
      }.count()
    }
    assert(e.getMessage != null)
  }

  test("a second round of repeated multi-stage queries compiles no generated class") {
    // each literal pair makes its own generated classes, so one round
    // needs more than Spark's default of 100 cache entries
    def round(): Unit = (0 until 60).foreach { k =>
      spark.range(0, 200, 1, 1)
        .selectExpr(s"id % ${k + 3} AS g", s"id * ${k + 7} AS v")
        .groupBy("g").agg(sum("v").as("total"), max("v").as("top"))
        .orderBy(col("total").desc).collect()
    }
    round()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
