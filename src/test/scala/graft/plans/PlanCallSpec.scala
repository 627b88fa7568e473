package graft.plans

import graft.SparkSpec
import graft.plans.rewrite.{IntervalArith, NotInExists, PlanCalls, SelectAliases}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ILike, Like}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The contract of the plan-side call and operator translation
  * ([[PlanCalls]]): one bottom-up pass over the parsed plan, innermost
  * call first, never translating a builder's output, keeping the
  * parser's DISTINCT / ALL / FILTER readings, and reaching every place a
  * call or operator can sit.
  */
class PlanCallSpec extends SparkSpec {

  private def expr(sql: String): Expression = CatalystSqlParser.parseExpression(sql)
  private def translated(sql: String): Expression = PlanCalls.expression(expr(sql))
  private def calls(e: Expression): Seq[String] =
    e.collect { case f: UnresolvedFunction => f.nameParts.mkString(".") }

  test("a builder's output is never translated again") {
    // charindex renames to position, which is itself a dialect name
    // (2-argument position becomes instr) — the rename must stand
    assert(translated("charindex('a', s)") == expr("position('a', s)"))
    // dayofweek emits dayofweek(x) - 1, once
    assert(translated("dayofweek(d)") == expr("dayofweek(d) - 1"))
    // the computed-delimiter string_split emits concat, which the concat
    // builder would otherwise wrap in graft_js_str
    val split = translated("string_split(s, d)")
    assert(calls(split).count(_ == "concat") == 1)
    assert(split.collectFirst { case f: UnresolvedFunction if f.nameParts == Seq("concat") =>
      calls(f) }.get == Seq("concat"))
    // strlen lands on octet_length with one strictness guard
    assert(calls(translated("strlen(s)")).count(_ == "octet_length") == 1)
    assert(calls(translated("strlen(s)")).count(_ == "typeof") == 1)
  }

  test("nested calls are translated innermost first") {
    assert(translated("upper(trim(lower(x)))") == expr(
      "upper(graft_js_str(graft_js_trim(graft_js_str(lower(graft_js_str(x))))))"))
    // an outer builder sees its argument already translated: the
    // string_split delimiter check reads the literal, the split it
    // emits wraps the translated upper(x)
    assert(translated("string_split(upper(x), '')") ==
      expr("array(graft_js_str(upper(graft_js_str(x))))"))
  }

  test("DISTINCT, ALL and FILTER survive on sum/avg/array_agg/string_agg") {
    val t = translated(
      "sum(DISTINCT x) + sum(ALL x) + avg(x) FILTER (WHERE x > 1)")
    val aggs = t.collect { case f: UnresolvedFunction if Set("sum", "avg")(f.nameParts.head) => f }
    assert(aggs.map(f => (f.nameParts.head, f.isDistinct, f.filter.isDefined)) ==
      Seq(("sum", true, false), ("sum", false, false), ("avg", false, true)))
    assert(aggs.forall(f => calls(f.arguments.head).head == "graft_js_num"))
    import spark.implicits._
    Seq[(Option[Int], Option[String])]((Some(1), Some("a")), (Some(1), Some("a")),
      (Some(2), None), (Some(3), Some("b")), (None, Some("b")))
      .toDF("x", "s").createOrReplaceTempView("pc_agg")
    val r = GraftSql.sql(spark,
      """SELECT sum(DISTINCT x) AS sd, sum(ALL x) AS sa,
        |  avg(DISTINCT x) FILTER (WHERE x > 1) AS af,
        |  array_agg(DISTINCT s) FILTER (WHERE x IS NOT NULL) AS ad,
        |  array_agg(s) FILTER (WHERE x > 1) AS anull,
        |  string_agg(DISTINCT s, ',') FILTER (WHERE x < 3) AS sg
        |FROM pc_agg""".stripMargin).collect().head
    assert(r.getAs[Any]("sd").toString.toDouble == 6.0)
    assert(r.getAs[Any]("sa").toString.toDouble == 7.0)
    assert(r.getAs[Any]("af").toString.toDouble == 2.5)
    // the null-keeping array_agg keeps the null input, once per DISTINCT
    assert(r.getSeq[String](r.fieldIndex("ad")).toSet == Set("a", null, "b"))
    assert(r.getSeq[String](r.fieldIndex("ad")).length == 3)
    assert(r.getSeq[String](r.fieldIndex("anull")).toSet == Set(null, "b"))
    assert(r.getAs[String]("sg") == "a")
  }

  test("calls are translated in CTEs, subqueries, lambda bodies and LATERAL VIEW generators") {
    // 2024-01-07 is a Sunday: the dialect's day 0, Spark's day 1
    val sunday = "dayofweek(DATE '2024-01-07')"
    def one(q: String): Any = GraftSql.sql(spark, q).collect().head.get(0)
    assert(one(s"WITH c AS (SELECT $sunday AS w) SELECT w FROM c") == 0)
    assert(one(s"SELECT (SELECT $sunday) AS w") == 0)
    assert(GraftSql.sql(spark,
      s"SELECT 1 AS one WHERE EXISTS (SELECT 1 WHERE $sunday = 0)").count() == 1)
    assert(GraftSql.sql(spark,
      "SELECT transform(array(DATE '2024-01-07'), d -> dayofweek(d)) AS w")
      .collect().head.getSeq[Int](0) == Seq(0))
    val kv = GraftSql.sql(spark,
      """SELECT k, v FROM (SELECT 1 AS id) LATERAL VIEW json_each('{"a": 1}') t AS k, v""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(kv == Seq(("a", "1")))
    // UNNEST(NULL) expands to nothing, in generator and table positions
    assert(GraftSql.sql(spark,
      "SELECT x FROM (SELECT 1 AS id) LATERAL VIEW unnest(NULL) u AS x").count() == 0)
    assert(GraftSql.sql(spark, "SELECT * FROM unnest(array(1, 2))").count() == 2)
  }

  test("SUM(*) is still rejected") {
    spark.range(3).selectExpr("id AS x", "id AS y").createOrReplaceTempView("pc_star")
    assert(GraftSql.validate(spark, "SELECT SUM(*) FROM pc_star").isLeft)
    assert(GraftSql.validate(spark, "SELECT AVG(*) FROM pc_star").isLeft)
    assert(GraftSql.validate(spark, "SELECT SUM(x) FROM pc_star").isRight)
    spark.range(3).selectExpr("id AS x").createOrReplaceTempView("pc_star1")
    assert(GraftSql.validate(spark, "SELECT SUM(*) FROM pc_star1").isLeft)
    assert(GraftSql.validate(spark, "SELECT avg(*) FROM pc_star1").isLeft)
    assert(GraftSql.validate(spark, "SELECT SUM(x) FROM pc_star1").isRight)
  }

  test("EXTRACT(DOW | EPOCH | SECOND FROM ts) keep their values") {
    val r = GraftSql.sql(spark,
      """SELECT EXTRACT(DOW FROM ts) AS d, EXTRACT(EPOCH FROM ts) AS e,
        |  EXTRACT(SECOND FROM ts) AS s, EXTRACT(SECONDS FROM ts) AS s2,
        |  date_part('dow', ts) AS dp, EXTRACT(MONTH FROM ts) AS m
        |FROM (SELECT TIMESTAMP '2024-01-07 12:34:56.789' AS ts)""".stripMargin)
      .collect().head
    assert(r.getAs[Any]("d").toString == "0")
    assert(r.getAs[Double]("e") == 1704630896.789)
    assert(r.getAs[Any]("s").toString == "56")
    assert(r.getAs[Any]("s2").toString == "56")
    assert(r.getAs[Any]("dp").toString == "0")
    assert(r.getAs[Any]("m").toString == "1")
  }

  test("operators: || and LIKE coerce, divisors are guarded, subscripts and window order") {
    // `||` binds looser than + and - in the dialect; parentheses keep theirs
    assert(translated("a || b + c - d") == expr("graft_js_str(a) || graft_js_str(b + c - d)"))
    assert(translated("a + b || c || d + e") ==
      expr("graft_js_str(graft_js_str(a + b) || graft_js_str(c)) || graft_js_str(d + e)"))
    assert(translated("(a || b) + c") == expr("(graft_js_str(a) || graft_js_str(b)) + c"))
    assert(translated("x NOT LIKE 'A%' ESCAPE '!'") ==
      expr("graft_js_str(x) NOT ILIKE graft_js_str('A%') ESCAPE '!'"))
    assert(translated("x ILIKE y") == expr("graft_js_str(x) ILIKE graft_js_str(y)"))
    // LIKE ANY / ALL over literals keep their one-node form
    for (q <- Seq("ANY", "ALL"); not <- Seq("", "NOT "); op <- Seq("LIKE", "ILIKE"))
      assert(translated(s"x $not$op $q ('A%', 'b')") ==
        expr(s"graft_js_str(x) ${not}ILIKE $q ('A%', 'b')"), s"$not$op $q")
    assert(translated("x / (y - 1) + x % -y") == expr("x / nullif((y - 1), 0) + x % nullif(-y, 0)"))
    assert(translated("a[i + 1][0]['k']") == expr("graft_get(graft_get(a, i + 1), 0)['k']"))
    assert(translated("m['k']") == expr("m['k']"))
    assert(translated("row_number() OVER (PARTITION BY a)") ==
      expr("row_number() OVER (PARTITION BY a ORDER BY monotonically_increasing_id())"))
    // the name after the call's own translation: lag is a builder
    assert(translated("lag(x, '2') OVER ()") == expr("lag(x, 2) OVER (ORDER BY monotonically_increasing_id())"))
    assert(translated("rank() OVER (ORDER BY y)") == expr("rank() OVER (ORDER BY y)"))
    assert(translated("count(x) OVER ()") == expr("count(x) OVER ()"))
  }

  test("a builder's operators are never translated again") {
    // round emits Divide(jsRound(x * mult), mult): the user's division is
    // guarded, round's own is not
    assert(translated("round(x, 2)").collect { case d: Divide => d }.size == 1)
    assert(!calls(translated("round(x, 2)")).contains("nullif"))
    val r = translated("round(x / y, 2)")
    assert(r.asInstanceOf[Divide].right == expr("power(10, coalesce(2, 0))"))
    assert(calls(r).contains("nullif"))
    // JSON_TYPE's OBJECT%/ARRAY% tests stay case-sensitive LIKE
    val jt = translated("json_type(j) LIKE 'obj%'")
    assert(jt.collect { case l: Like => l }.size == 2)
    assert(jt.collect { case l: ILike => l }.size == 1)
  }

  test("operators are translated in CTEs, subqueries, lambda bodies, WINDOW definitions and LATERAL VIEW generators") {
    def one(q: String): Any = GraftSql.sql(spark, q).collect().head.get(0)
    assert(one("WITH c AS (SELECT 'x' || 2.0 AS s) SELECT s FROM c") == "x2")
    assert(one("SELECT (SELECT 5 / 0) AS v") == null)
    assert(GraftSql.sql(spark,
      "SELECT 1 AS one WHERE EXISTS (SELECT 1 WHERE 'A' LIKE 'a')").count() == 1)
    assert(GraftSql.sql(spark, "SELECT transform(array(0, 2), d -> 4 % d) AS w")
      .collect().head.getSeq[Any](0) == Seq(null, 0))
    assert(GraftSql.sql(spark, "SELECT transform(array(array(1, 2)), a -> a[5]) AS w")
      .collect().head.getSeq[Any](0) == Seq(null))
    assert(GraftSql.sql(spark,
      "SELECT sum(x) OVER w AS s FROM (SELECT 1 AS x) WINDOW w AS (PARTITION BY x % 0)")
      .collect().head.get(0).toString.toDouble == 1.0)
    assert(GraftSql.sql(spark,
      "SELECT v FROM (SELECT 1 AS id) LATERAL VIEW explode(array(6 / 0, 6 / 3)) t AS v")
      .collect().map(_.get(0)).toSeq == Seq(null, 2.0))
    assert(GraftSql.sql(spark,
      "SELECT r FROM (SELECT row_number() OVER () AS r FROM range(3)) ORDER BY r")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }
}

object PlanCallSpec {
  /** `sqlText` as the host entry points translate it, without a session:
    * the text passes, Spark's parser, then the select aliases, NOT IN,
    * the interval arithmetic and PlanCalls. */
  def translatedPlan(sqlText: String): LogicalPlan =
    PlanCalls(IntervalArith(NotInExists(SelectAliases(CatalystSqlParser.parsePlan(GraftSql.rewrite(sqlText))))))

  /** A plan's text with its expression ids masked, so two parses compare. */
  def shown(p: LogicalPlan): String = p.toString.replaceAll("#\\d+", "#")

  /** [[translatedPlan]] of `sqlText` and the plain parse of `expected`. */
  def translatedAndExpected(sqlText: String, expected: String): (String, String) =
    (shown(translatedPlan(sqlText)), shown(CatalystSqlParser.parsePlan(expected)))
}
