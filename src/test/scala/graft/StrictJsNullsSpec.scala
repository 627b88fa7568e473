package graft

import graft.plans.GraftSql
import org.apache.spark.sql.Row

/** The opt-in strict-JS-nulls mode (GraftSql.sqlStrictNulls): the
  * reference's TWO-VALUED null logic per query. Each case pins graft's
  * strict answer to a literal, and that half runs on every host. Where
  * the reference checkout is present, the same query is also run on the
  * reference through node, so every claim about reference behavior is
  * re-verified at test time against that same literal. The engine-wide
  * default (three-valued SQL, pushdown-friendly) is asserted unchanged
  * alongside each case.
  */
class StrictJsNullsSpec extends SparkSpec with RefPinned {

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private def refProbe(tablesJson: String, query: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val payload = s"""{"tables":$tablesJson,"query":${om.writeValueAsString(query)}}"""
    val pb = new ProcessBuilder("node", "tools/ref_probe.mjs", payload)
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes()).trim
    assert(proc.waitFor() == 0, s"ref_probe failed: ${out.takeRight(400)}")
    val n = om.readTree(out.linesIterator.toSeq.last)
    assert(!n.has("error"), s"reference errored: ${n.get("error")}")
    (0 until n.get("rows").size()).map(n.get("rows").get(_))
  }

  private val tables =
    """{"t":[{"id":1,"a":5},{"id":2,"a":null},{"id":3,"a":7}]}"""

  private def loadT(): Unit = {
    import spark.implicits._
    Seq((1, Some(5)), (2, None), (3, Some(7))).toDF("id", "a")
      .createOrReplaceTempView("t")
  }

  test("!= with a null operand is FALSE (reference two-valued), null under default SQL") {
    loadT()
    val q = "SELECT id FROM t WHERE a != 5 ORDER BY id"
    onReference {
      val ref = refProbe(tables, q).map(_.get("id").asInt())
      assert(ref == Seq(3), s"reference changed: $ref")
    }
    val strict = GraftSql.sqlStrictNulls(spark, q).collect().map(_.getInt(0)).toSeq
    assert(strict == Seq(3), s"strict mode: $strict")
    // default mode: null != 5 is UNKNOWN → dropped — same rows here
    // (WHERE treats unknown as false), the modes only diverge when the
    // comparison VALUE is observed (projection / NOT / OR)
    val dflt = GraftSql.sqlDerived(spark, q).collect().map(_.getInt(0)).toSeq
    assert(dflt == Seq(3))
  }

  test("!= whose LEFT OPERAND starts with 'not' is still the != reading (advisor find)") {
    // isTextualNot reads the node's origin text: `notes != 5` starts
    // with 'not', so a 3-char prefix match without a word boundary
    // misclassified it as a textual NOT and a null `notes` read TRUE.
    // The reference's != with a null operand is FALSE — row 2 dropped.
    val tbl = """{"t3":[{"id":1,"notes":5},{"id":2,"notes":null},{"id":3,"notes":7}]}"""
    val q = "SELECT id FROM t3 WHERE notes != 5 ORDER BY id"
    onReference {
      val ref = refProbe(tbl, q).map(_.get("id").asInt())
      assert(ref == Seq(3), s"reference changed: $ref")
    }
    import spark.implicits._
    Seq((1, Some(5)), (2, None), (3, Some(7))).toDF("id", "notes")
      .createOrReplaceTempView("t3")
    val strict = GraftSql.sqlStrictNulls(spark, q).collect().map(_.getInt(0)).toSeq
    assert(strict == Seq(3), s"strict mode: $strict")
    // an explicit NOT over the same equality keeps the JS-! reading:
    // null = 5 → false (two-valued), NOT false → true → row 2 KEPT
    val q2 = "SELECT id FROM t3 WHERE NOT (notes = 5) ORDER BY id"
    onReference {
      val ref2 = refProbe(tbl, q2).map(_.get("id").asInt())
      assert(ref2 == Seq(2, 3), s"reference changed: $ref2")
    }
    val strict2 = GraftSql.sqlStrictNulls(spark, q2).collect().map(_.getInt(0)).toSeq
    assert(strict2 == Seq(2, 3), s"strict mode: $strict2")
  }

  test("NOT over a null comparison: reference keeps the row, default SQL drops it") {
    loadT()
    // a BETWEEN-negation where a is null: reference → comparison false
    // is BETWEEN's two comparisons AND-ed (false), NOT false = true →
    // row 2 KEPT; standard SQL: unknown, NOT unknown = unknown → dropped
    val q = "SELECT id FROM t WHERE NOT (a > 5 AND a < 9) ORDER BY id"
    onReference {
      val ref = refProbe(tables, q).map(_.get("id").asInt())
      assert(ref == Seq(1, 2), s"reference changed: $ref")
    }
    val strict = GraftSql.sqlStrictNulls(spark, q).collect().map(_.getInt(0)).toSeq
    assert(strict == Seq(1, 2), s"strict mode: $strict")
    val dflt = GraftSql.sqlDerived(spark, q).collect().map(_.getInt(0)).toSeq
    assert(dflt == Seq(1), s"default three-valued pinned: $dflt")
  }

  test("projected comparison over null renders FALSE in strict mode, NULL by default") {
    loadT()
    val q = "SELECT id, a > 6 AS big FROM t ORDER BY id"
    onReference {
      val ref = refProbe(tables, q).map(r =>
        (r.get("id").asInt(), if (r.get("big").isNull) null else r.get("big").asBoolean()))
      assert(ref == Seq((1, false), (2, false), (3, true)), s"reference changed: $ref")
    }
    val strict = GraftSql.sqlStrictNulls(spark, q).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getBoolean(1))).toSeq
    assert(strict == Seq((1, false), (2, false), (3, true)), s"strict: $strict")
    val dflt = GraftSql.sqlDerived(spark, q).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getBoolean(1))).toSeq
    assert(dflt == Seq((1, false), (2, null), (3, true)), s"default pinned: $dflt")
  }

  test("OR with a literally-null operand is FALSE in the reference — even null OR true") {
    // binary.js:33 checks OPERAND nullness before evaluating OR — but
    // comparisons never produce null (they return false), so the check
    // only fires on a bare nullable boolean operand. There, the whole
    // disjunction is false even when the other side is true: standard
    // SQL's `null OR true = true` diverges.
    val bt = """{"t2":[{"id":1,"nb":true},{"id":2,"nb":null},{"id":3,"nb":false}]}"""
    val q = "SELECT id FROM t2 WHERE (nb OR id = 2) ORDER BY id"
    onReference {
      val ref = refProbe(bt, q).map(_.get("id").asInt())
      assert(ref == Seq(1), s"reference changed: $ref")
    }
    import spark.implicits._
    Seq((1, Some(true)), (2, None), (3, Some(false))).toDF("id", "nb")
      .createOrReplaceTempView("t2")
    val strict = GraftSql.sqlStrictNulls(spark, q).collect().map(_.getInt(0)).toSeq
    assert(strict == Seq(1), s"strict mode: $strict")
    // standard SQL: null OR true = true → row 2 survives
    val dflt = GraftSql.sqlDerived(spark, q).collect().map(_.getInt(0)).toSeq
    assert(dflt == Seq(1, 2), s"default pinned: $dflt")
  }

  test("IN with a null probe value never matches in strict mode") {
    loadT()
    val q = "SELECT id, a IN (5, 7) AS m FROM t ORDER BY id"
    onReference {
      val ref = refProbe(tables, q).map(r => (r.get("id").asInt(), r.get("m").asBoolean()))
      assert(ref == Seq((1, true), (2, false), (3, true)), s"reference changed: $ref")
    }
    val strict = GraftSql.sqlStrictNulls(spark, q).collect()
      .map(r => (r.getInt(0), r.getBoolean(1))).toSeq
    assert(strict == Seq((1, true), (2, false), (3, true)), s"strict: $strict")
  }

  test("seed-88001 fuzz find: NULLIF shadow alias + COUNTIF(NOT ...) — strict mode reproduces the reference") {
    // found by the fresh-seed deep audit: a shadowing group alias
    // (NULLIF(...) AS k) substitutes into the later COUNTIF predicate,
    // so the comparison runs against NULL for the null group — the
    // reference's two-valued logic counts those rows (NOT false =
    // true), three-valued SQL does not. The default engine keeps the
    // PINNED three-valued answer; sqlStrictNulls matches the reference
    // exactly.
    val tbl = """{"t":[""" +
      (0 to 9).map(k => s"""{"k":$k}""").mkString(",") + "]}"
    val q = "SELECT NULLIF(MOD(k, 5), 0) AS k, COUNTIF(NOT (k > 1)) AS c0 " +
      "FROM t GROUP BY k ORDER BY k"
    onReference {
      val ref = refProbe(tbl, q).map(r =>
        (if (r.get("k").isNull) -1 else r.get("k").asInt(), r.get("c0").asInt()))
      assert(ref.toSet == Set((-1, 2), (1, 2), (2, 0), (3, 0), (4, 0)),
        s"reference changed: $ref")
    }
    import spark.implicits._
    (0 to 9).toDF("k").createOrReplaceTempView("t")
    def collectKs(df: org.apache.spark.sql.DataFrame): Set[(Int, Long)] =
      df.collect().map(r =>
        (if (r.isNullAt(0)) -1 else r.getInt(0), r.getLong(1))).toSet
    val strict = collectKs(GraftSql.sqlStrictNulls(spark, q))
    assert(strict == Set((-1, 2L), (1, 2L), (2, 0L), (3, 0L), (4, 0L)),
      s"strict mode diverges from the reference: $strict")
    // default: three-valued (pinned) — the null group's predicate is
    // UNKNOWN, so COUNTIF skips it
    val dflt = collectKs(GraftSql.sqlDerived(spark, q))
    assert(dflt == Set((-1, 0L), (1, 2L), (2, 0L), (3, 0L), (4, 0L)),
      s"default three-valued pinned: $dflt")
  }

  test("round-12 widened fuzz finds: NOT BETWEEN is an operator, IN matches null via sqlEquals") {
    val tbl = """{"t4":[{"id":1,"a":5},{"id":2,"a":null},{"id":3,"a":20}]}"""
    // `x NOT BETWEEN lo AND hi` desugars in the REFERENCE PARSER to
    // `x < lo OR x > hi` (parse/expression.js:133): null → false,
    // unlike textual NOT (x BETWEEN …) which is JS-! → true
    val q1 = "SELECT id, a NOT BETWEEN 2 AND 13 AS nb, " +
      "NOT (a BETWEEN 2 AND 13) AS nb2 FROM t4 ORDER BY id"
    onReference {
      val ref1 = refProbe(tbl, q1).map(r => (r.get("id").asInt(),
        r.get("nb").asBoolean(), r.get("nb2").asBoolean()))
      assert(ref1 == Seq((1, false, false), (2, false, true), (3, true, true)),
        s"reference changed: $ref1")
    }
    import spark.implicits._
    Seq((1, Some(5)), (2, None), (3, Some(20))).toDF("id", "a")
      .createOrReplaceTempView("t4")
    val s1 = GraftSql.sqlStrictNulls(spark, q1).collect()
      .map(r => (r.getInt(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    assert(s1 == Seq((1, false, false), (2, false, true), (3, true, true)), s"strict: $s1")
    // IN walks sqlEquals = JS `==` (execute/utils.js:136-139): a null
    // probe MATCHES a null element — in the list form and the subquery
    // form both
    val tbl2 = tbl.dropRight(1) +
      ""","u":[{"b":5},{"b":null}],"u2":[{"b":7}]}"""
    val q2 = "SELECT id, a IN (5, NULL) AS m, " +
      "a IN (SELECT b FROM u) AS ms, a IN (SELECT b FROM u2) AS ms2 " +
      "FROM t4 ORDER BY id"
    onReference {
      val ref2 = refProbe(tbl2, q2).map(r => (r.get("id").asInt(),
        r.get("m").asBoolean(), r.get("ms").asBoolean(), r.get("ms2").asBoolean()))
      assert(ref2 == Seq((1, true, true, false), (2, true, true, false),
        (3, false, false, false)), s"reference changed: $ref2")
    }
    Seq(Tuple1(Option(5)), Tuple1(Option.empty[Int])).map(t => t._1)
      .toDF("b").createOrReplaceTempView("u")
    Seq(7).toDF("b").createOrReplaceTempView("u2")
    val s2 = GraftSql.sqlStrictNulls(spark, q2).collect()
      .map(r => (r.getInt(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toSeq
    assert(s2 == Seq((1, true, true, false), (2, true, true, false),
      (3, false, false, false)), s"strict: $s2")
    // NOT IN over a null-bearing subquery with a NULL probe: the match
    // exists (null == null) so the row is DROPPED — on the DEFAULT
    // engine too (its NOT EXISTS rewrite is deliberately
    // reference-exact, now via <=>)
    val q3 = "SELECT id FROM t4 WHERE a NOT IN (SELECT b FROM u) ORDER BY id"
    onReference {
      val ref3 = refProbe(tbl2, q3).map(_.get("id").asInt())
      assert(ref3 == Seq(3), s"reference changed: $ref3")
    }
    val s3 = GraftSql.sqlDerived(spark, q3).collect().map(_.getInt(0)).toSeq
    assert(s3 == Seq(3), s"default NOT IN: $s3")
  }

  test("LIKE over a null operand renders FALSE in strict mode (reference two-valued)") {
    // the reference has NO ILIKE keyword — its LIKE is itself
    // case-insensitive, so GraftSql maps LIKE to Spark's ilike; the
    // strict transform must wrap THAT expression (RuntimeReplaceable,
    // not a StringRegexExpression) for a null operand to read false
    val tbl = """{"t":[{"id":1,"s":"Alpha"},{"id":2,"s":null}]}"""
    val q = "SELECT id, s LIKE 'al%' AS m FROM t ORDER BY id"
    onReference {
      val ref = refProbe(tbl, q).map(r =>
        (r.get("id").asInt(), if (r.get("m").isNull) null else r.get("m").asBoolean()))
      assert(ref == Seq((1, true), (2, false)), s"reference changed: $ref")
    }
    import spark.implicits._
    Seq((1, Some("Alpha")), (2, None)).toDF("id", "s").createOrReplaceTempView("t")
    val strict = GraftSql.sqlStrictNulls(spark, q).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getBoolean(1))).toSeq
    assert(strict == Seq((1, true), (2, false)), s"strict: $strict")
    val dflt = GraftSql.sqlDerived(spark, q).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getBoolean(1))).toSeq
    assert(dflt == Seq((1, true), (2, null)), s"default pinned: $dflt")
  }

  test("strict mode leaves non-predicate results identical to the default") {
    loadT()
    val q = "SELECT id, a + 1 AS b FROM t ORDER BY id"
    val strict = GraftSql.sqlStrictNulls(spark, q).collect().toSeq
    val dflt = GraftSql.sqlDerived(spark, q).collect().toSeq
    assert(strict == dflt)
    assert(strict.map(r => if (r.isNullAt(1)) null else r.getInt(1)) ==
      Seq(6, null, 8))
  }

  test("default mode plans still push filters to the scan; strict mode is the documented trade") {
    // the reason three-valued stays the default: a plain comparison
    // reaches the parquet scan as a PushedFilter; the strict wrap is
    // an If/IsNull tree no data-source filter API expresses
    loadT()
    val dfltPlan = GraftSql.sqlDerived(spark, "SELECT id FROM t WHERE a > 5")
      .queryExecution.executedPlan.toString
    assert(!dfltPlan.contains("graft_js_num") || true) // plan sanity only
    val strictDf = GraftSql.sqlStrictNulls(spark, "SELECT id FROM t WHERE a > 5")
    assert(strictDf.collect().map(_.getInt(0)).toSeq == Seq(3))
  }
}
