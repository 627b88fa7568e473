package graft.plans

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.util.QueryExecutionListener

/** [[SingleTaskSort]]: a global sort whose child fits
  * `spark.sql.autoBroadcastJoinThreshold` runs as one sort task over a
  * single-partition exchange, so no range-sampling job runs; everything
  * else keeps Spark's planning.
  *
  * Every plan here is one a `noop` write ran, and every row check reads
  * `.rdd`: both plan the sort below the root of the query, where
  * [[SingleTaskSort]] decides. A `collect` of a root sort is
  * [[CollectSort]]'s (see CollectSortSpec).
  */
class SortPlanningSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** 4000 rows over four parquet files: `k` a seeded permutation of
    * 0..3999 (unique), `g` one of ten groups, `v` a seeded long.
    */
  private lazy val tablePath: String = {
    val rnd = new scala.util.Random(42)
    val keys = rnd.shuffle((0 until 4000).toVector)
    val dir = Files.createTempDirectory("sort_planning").resolve("t").toString
    keys.map(k => (k, k % 10, rnd.nextLong())).toDF("k", "g", "v")
      .repartition(4).write.parquet(dir)
    dir
  }
  private def table: DataFrame = spark.read.parquet(tablePath)

  private def tableBytes: Long =
    table.queryExecution.optimizedPlan.stats.sizeInBytes.toLong

  /** Partitionings of every shuffle exchange in `plan`, query stages
    * included.
    */
  private def exchanges(plan: SparkPlan): Seq[Partitioning] =
    collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The plan a `noop` write of `df` ran: the final adaptive plan under
    * AQE.
    */
  private def finalPlan(df: DataFrame): SparkPlan = {
    var plan: Option[SparkPlan] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plan = Some(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write(df)
      GraftListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plan.get
  }

  private def isSingle(p: Partitioning): Boolean = p == SinglePartition
  private def isRange(p: Partitioning): Boolean = p.isInstanceOf[RangePartitioning]

  test("a sort under the budget gathers one partition and runs one job fewer") {
    val single = finalPlan(table.orderBy("k"))
    assert(exchanges(single).map(isSingle) == Seq(true), single)
    val singleJobs = jobsOf(write(table.orderBy("k")))
    val rangeJobs = withThreshold(-1) {
      val range = finalPlan(table.orderBy("k"))
      assert(exchanges(range).map(isRange) == Seq(true), range)
      jobsOf(write(table.orderBy("k")))
    }
    assert(rangeJobs - singleJobs == 1,
      s"range-partitioned $rangeJobs jobs, single-task $singleJobs")
  }

  test("a child over the budget keeps range partitioning") {
    withThreshold(tableBytes / 2) {
      val plan = finalPlan(table.orderBy("k"))
      assert(exchanges(plan).map(isRange) == Seq(true), plan)
    }
  }

  test("a sort over an aggregate decides on the aggregate's runtime size") {
    val bytes = tableBytes
    withThreshold(bytes / 8) {
      val agg = table.groupBy("g").agg(max("v").as("top"))
        .orderBy("g")
      assert(agg.queryExecution.optimizedPlan.children.head.stats.sizeInBytes > bytes / 8,
        "the aggregate's estimate must be over the budget for this test")
      val last = finalPlan(agg)
      val first = last.collectFirst { case a: AdaptiveSparkPlanExec => a.initialPlan }.get
      assert(exchanges(first).exists(isRange), first)
      assert(exchanges(last).exists(isSingle) && !exchanges(last).exists(isRange), last)
      assert(agg.rdd.collect().map(_.getInt(0)).toSeq == (0 until 10))
    }
  }

  test("ORDER BY … LIMIT, sortWithinPartitions and repartitionByRange keep their plans") {
    table.createOrReplaceTempView("sort_planning_t")
    val top = spark.sql("SELECT k, v FROM sort_planning_t ORDER BY k LIMIT 5")
    val topPlan = finalPlan(top)
    assert(collect(topPlan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty, topPlan)
    assert(top.rdd.collect().map(_.getInt(0)).toSeq == (0 until 5))

    val within = table.sortWithinPartitions("k")
    val withinPlan = finalPlan(within)
    assert(exchanges(withinPlan).isEmpty, withinPlan)
    assert(collect(withinPlan) { case s: SortExec => s.global } == Seq(false), withinPlan)

    val ranged = finalPlan(table.repartitionByRange(3, col("k")))
    assert(exchanges(ranged).map(isRange) == Seq(true), ranged)
  }

  test("a sort over a child already in one partition adds no exchange") {
    def shapes(): Seq[Seq[Partitioning]] = Seq(
      table.selectExpr("k", "row_number() OVER (ORDER BY k DESC) AS rn").orderBy("rn"),
      table.limit(10).orderBy("k"),
      table.coalesce(1).orderBy("k")
    ).map(df => exchanges(finalPlan(df)))
    val mine = shapes()
    assert(mine == withThreshold(-1)(shapes()))
    assert(mine.map(_.count(isSingle)) == Seq(1, 1, 0), mine)
  }

  test("both plan shapes give the same ordered rows") {
    def rows(): (Seq[Partitioning], Seq[Row]) = {
      val sorted = table.orderBy(col("k").desc)
      (exchanges(finalPlan(sorted)), sorted.rdd.collect().toSeq)
    }
    val (singlePlan, single) = rows()
    val (rangePlan, range) = withThreshold(-1)(rows())
    assert(singlePlan.map(isSingle) == Seq(true) && rangePlan.map(isRange) == Seq(true))
    assert(single == range)
    assert(single.map(_.getInt(0)) == (0 until 4000).reverse)
  }
}
