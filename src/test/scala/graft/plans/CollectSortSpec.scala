package graft.plans

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{DiffValues, SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** [[CollectSort]]: a root `ORDER BY` is collected as the child's own job
  * plus a sort on the driver, and gives the rows the execute path
  * (`toLocalIterator`, `.rdd`, writes) gives.
  */
class CollectSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** 4000 rows over four parquet files, seeded: `id` a permutation of
    * 0..3999, `a` a small int, `x` a double with NaN and ±Infinity, `d` a
    * decimal(10,2), `s` a short string; all but `id` are sometimes NULL
    * and have many ties.
    */
  private lazy val tablePath: String = {
    val rnd = new scala.util.Random(20261019)
    def sometimes[A](a: => A): Option[A] = if (rnd.nextInt(10) == 0) None else Some(a)
    val ids = rnd.shuffle((0 until 4000).toVector)
    val specials = Vector(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val rows = ids.map { id =>
      (id,
        sometimes(rnd.nextInt(5)),
        sometimes(if (rnd.nextInt(8) == 0) specials(rnd.nextInt(3)) else rnd.nextInt(40) - 20.5),
        sometimes(BigDecimal(rnd.nextInt(2000) - 1000, 2)),
        sometimes(Seq.fill(1 + rnd.nextInt(2))("abc"(rnd.nextInt(3))).mkString))
    }
    val dir = Files.createTempDirectory("collect_sort").resolve("t").toString
    rows.toDF("id", "a", "x", "d", "s")
      .selectExpr("id", "a", "x", "CAST(d AS DECIMAL(10,2)) AS d", "s")
      .repartition(4).write.parquet(dir)
    dir
  }

  private def table: DataFrame = spark.read.parquet(tablePath)

  private def collectSorts(plan: SparkPlan): Seq[CollectSortExec] =
    collect(plan) { case c: CollectSortExec => c }

  /** One sort key, as the Scala-side reference sort reads it. */
  private case class Key(col: String, asc: Boolean, nullsFirst: Boolean) {
    def sql: String =
      s"$col ${if (asc) "ASC" else "DESC"} NULLS ${if (nullsFirst) "FIRST" else "LAST"}"

    def compare(l: Row, r: Row): Int = (l.getAs[Any](col), r.getAs[Any](col)) match {
      case (null, null) => 0
      case (null, _) => if (nullsFirst) -1 else 1
      case (_, null) => if (nullsFirst) 1 else -1
      case (u, v) =>
        val c = (u, v) match {
          case (p: Int, q: Int) => Integer.compare(p, q)
          // NaN above +Infinity, as in Spark's ordering
          case (p: Double, q: Double) => java.lang.Double.compare(p, q)
          case (p: java.math.BigDecimal, q: java.math.BigDecimal) => p.compareTo(q)
          case (p: String, q: String) => p.compareTo(q)
        }
        if (asc) c else -c
    }
  }

  /** Multi-key orders over every column type, each ending in the unique
    * `id` so that the order is total.
    */
  private val orders: Seq[Seq[Key]] = Seq(
    Seq(Key("a", asc = true, nullsFirst = true), Key("x", asc = false, nullsFirst = false),
      Key("id", asc = true, nullsFirst = true)),
    Seq(Key("x", asc = true, nullsFirst = false), Key("d", asc = false, nullsFirst = true),
      Key("id", asc = false, nullsFirst = true)),
    Seq(Key("d", asc = true, nullsFirst = true), Key("s", asc = false, nullsFirst = false),
      Key("a", asc = false, nullsFirst = true), Key("id", asc = true, nullsFirst = true)))

  test("a sort over a broadcast join collects in 2 jobs") {
    table.createOrReplaceTempView("collect_sort_t")
    val q = spark.sql(
      """SELECT t.id, t.x, g.name FROM collect_sort_t t
        |JOIN (SELECT id AS a, concat('g', id) AS name FROM range(5)) g ON t.a = g.a
        |ORDER BY t.x DESC, t.id""".stripMargin)
    assert(jobsOf(q.collect()) == 2)
    val plan = q.queryExecution.executedPlan
    assert(collectSorts(plan).size == 1, plan)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1, plan)
  }

  test("a recursive CTE sorted at the root collects in 1 job") {
    val q = SparkEntry.queries("q_cte_recursive")(spark, sfDir)
    assert(jobsOf(assert(q.collect().map(_.getLong(0)).toSeq == (1L to 10L))) == 1)
  }

  test("collect gives the execute path's rows and the Scala-side sort's, for every order") {
    table.createOrReplaceTempView("collect_sort_t")
    val unsorted = table.collect().toSeq
    for (keys <- orders; projected <- Seq(false, true)) {
      // projected: ORDER BY columns the query does not select (a Project
      // over the Sort), including the tie-breaking `id`
      val cols = if (projected) Seq("s", "d") else Seq("id", "a", "x", "d", "s")
      def q = spark.sql(
        s"SELECT ${cols.mkString(", ")} FROM collect_sort_t ORDER BY ${keys.map(_.sql).mkString(", ")}")
      val clue = s"order ${keys.map(_.sql).mkString(", ")}, output $cols"
      val expected = unsorted
        .sortWith((l, r) => keys.iterator.map(_.compare(l, r)).find(_ != 0).getOrElse(0) < 0)
        .map(r => Row.fromSeq(cols.map(r.getAs[Any])))
      val collected = q
      assert(collected.collect().toSeq == expected, clue)
      assert(collectSorts(collected.queryExecution.executedPlan).map(_.gather) == Seq(true), clue)
      // the execute path, as one sort task and range-partitioned
      for (gather <- Seq(true, false)) withThreshold(if (gather) 10L << 20 else -1L) {
        val iterated = q
        assert(iterated.toLocalIterator().asScala.toSeq == expected, s"$clue, gather $gather")
        assert(collectSorts(iterated.queryExecution.executedPlan).map(_.gather) == Seq(gather),
          s"$clue, gather $gather")
      }
    }
  }

  test("every registry query rooted at a global sort collects its keys in order") {
    def rootSort(plan: LogicalPlan): Option[Sort] = plan match {
      case s @ Sort(_, true, _, _) => Some(s)
      case Project(_, s @ Sort(_, true, _, _)) => Some(s)
      case _ => None
    }
    val checked = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      rootSort(df.queryExecution.optimizedPlan).map { sort =>
        val collected = df.collect().toSeq
        // AQE replaces a plan whose input turned out empty with an empty relation
        if (collected.nonEmpty)
          assert(collectSorts(df.queryExecution.executedPlan).size == 1, name)
        // `.rdd` plans the sort below the root, as a write does
        def canon(rows: Seq[Row]) = rows.map(r => DiffValues.norm(r).toString).sorted
        assert(canon(collected) == canon(df.rdd.collect().toSeq), name)
        val ordering = RowOrdering.create(sort.order, sort.child.output)
        val keyed = GraftPlanBridge.ofRows(spark, sort).queryExecution.executedPlan.executeCollect()
        assert(keyed.length == collected.length, name)
        keyed.sliding(2).foreach {
          case Array(l, r) => assert(ordering.compare(l, r) <= 0, s"$name: $l before $r")
          case _ => ()
        }
        name
      }
    }
    assert(Seq("q_cte_recursive", "q_merge_delta", "q_string_distance").forall(checked.contains),
      checked)
  }
}
