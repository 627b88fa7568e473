package graft

import graft.DiffValues._
import graft.plans.GraftSql

/** Replay the reference engine's PARSE-level test suites (the sibling
  * of SuiteReplaySpec, which replays test/execute):
  * tools/record_ref_parse.mjs runs every test under test/parse plus
  * test/spatial/wkt.test.js under the vitest shim with parseSql /
  * extractTables / parseWkt wrapped, recording each call AT TEST TIME —
  * a fixture added to the reference is automatically replayed here.
  *
  * Contracts:
  *  - every query the reference's parser ACCEPTS must parse through
  *    GraftSql.rewrite + Spark's parser (schema-free — parse level
  *    only, like the fixtures themselves);
  *  - every query it REJECTS must reject too, except the pinned
  *    leniency allowlist below (each reviewed: graft accepting a
  *    superset dialect is fine, silently DOING something different
  *    would not be);
  *  - extractTables fixtures must match GraftSql.tables exactly
  *    (first-seen order, dedup, original case);
  *  - WKT fixtures must round-trip through ST_GEOMFROMTEXT /
  *    ST_ASTEXT / ST_ASGEOJSON, and rejected WKT must come back NULL
  *    (the engine's dirty-cell leniency), never raise;
  *  - the spatial INTERNAL suites (equality / pointRelations /
  *    segments — the ground truth under the reference's ST_
  *    predicates) must reproduce through graft's ST_ expressions:
  *    st_equals, st_containsproperly/st_intersects (INSIDE/BOUNDARY/
  *    OUTSIDE), st_touches (endpoint vs interior), st_dwithin
  *    (distance fixtures bracketed both sides).
  */
class ParseReplaySpec extends SparkSpec {

  import com.fasterxml.jackson.databind.JsonNode

  private case class PEntry(
    kind: String, file: String, testName: String,
    query: Option[String], udf: Boolean, error: Option[String],
    tables: Option[Seq[String]],
    wkt: Option[String], geojson: Option[JsonNode], round: Option[String],
    node: JsonNode)

  private def record(): Seq[PEntry] = {
    val out = java.nio.file.Files.createTempFile("ref-parse", ".json")
    out.toFile.deleteOnExit()
    val pb = new ProcessBuilder("node", "tools/record_ref_parse.mjs", out.toString)
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("record_ref_parse.mjs", proc.waitFor(), log.takeRight(2000))
    info(log.trim.linesIterator.toSeq.lastOption.getOrElse(""))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(java.nio.file.Files.readString(out))
    (0 until root.size()).map { i =>
      val e = root.get(i)
      def str(f: String) = Option(e.get(f)).filterNot(_.isNull).map(_.asText())
      PEntry(
        kind = str("kind").getOrElse("?"),
        file = str("file").getOrElse("?"),
        testName = str("test").getOrElse("?"),
        query = str("query"),
        udf = Option(e.get("udf")).exists(_.asBoolean(false)),
        error = str("error"),
        tables = Option(e.get("tables")).filterNot(_.isNull).map(t =>
          (0 until t.size()).map(j => t.get(j).asText())),
        wkt = str("wkt"),
        geojson = Option(e.get("geojson")).filterNot(_.isNull),
        round = str("round"),
        node = e)
    }
  }

  private lazy val entries: Seq[PEntry] = record()

  /** rewrite + Spark parse only — no analysis, so no schemas needed
    * (the reference fixtures are parse-level and reference tables that
    * do not exist).
    */
  private def graftParses(q: String): Boolean =
    try {
      GraftSql.ensureHelpers(spark) // "..." reads as identifier
      spark.sessionState.sqlParser.parsePlan(GraftSql.rewrite(q))
      true
    } catch { case _: Exception => false }

  /** Spark's parser is deliberately lenient where the reference's is
    * strict (keywords double as identifiers: `SELECT * FROM` parses as
    * `* AS FROM`), so parse-level rejection is too weak a check — run
    * the full host-facing validate (rewrite + parse + ANALYZE) against
    * dummy fixture tables matching the reference suite's vocabulary.
    * A query is "rejected" if it fails at either level, exactly what a
    * host sees.
    */
  private def graftValidates(q: String): Boolean = {
    fixtureTables
    GraftSql.validate(spark, q).isRight
  }

  private lazy val fixtureTables: Unit = {
    import spark.implicits._
    Seq((1L, "a", 20L, "NYC", "a@x.com")).toDF("id", "name", "age", "city", "email")
      .createOrReplaceTempView("users")
    Seq((1L, 1L, "2024-01-01", 10.0)).toDF("id", "user_id", "order_date", "total")
      .createOrReplaceTempView("orders")
    Seq((1L, 2L, 3L, "n")).toDF("x", "y", "id", "name").createOrReplaceTempView("t")
    Seq(Tuple1(1L)).toDF("x").createOrReplaceTempView("a")
    Seq(Tuple1(1L)).toDF("x").createOrReplaceTempView("b")
  }

  test("reference-accepted queries parse through the dialect front-end") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    val accepted = entries
      .filter(e => e.kind == "parse" && e.error.isEmpty && !e.udf)
      .flatMap(_.query).distinct
    assert(accepted.size >= 150, s"recorder found only ${accepted.size} accepted fixtures")
    val failures = accepted.filterNot(graftParses)
    assert(failures.isEmpty,
      s"${failures.size} reference-accepted queries fail to parse on graft:\n" +
        failures.take(20).mkString("\n"))
  }

  test("reference-rejected queries reject, modulo the pinned leniency allowlist") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    val rejected = entries
      .filter(e => e.kind == "parse" && e.error.isDefined && !e.udf)
      .flatMap(_.query).distinct
    assert(rejected.size >= 60, s"recorder found only ${rejected.size} rejected fixtures")
    val lenient = rejected.filter(graftValidates).sorted
    val unexpected = lenient.filterNot(LenientAccepts)
    assert(unexpected.isEmpty,
      s"${unexpected.size} reference-rejected queries newly accepted (review, then " +
        s"pin deliberate ones in LenientAccepts):\n" + unexpected.take(20).mkString("\n"))
  }

  test("extractTables fixtures match GraftSql.tables") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    val fixtures = entries
      .filter(e => e.kind == "tables" && e.query.isDefined && e.tables.isDefined)
      .map(e => (e.query.get, e.tables.get)).distinct
    assert(fixtures.size >= 20, s"recorder found only ${fixtures.size} tables fixtures")
    val bad = fixtures.flatMap { case (q, want) =>
      val got = try Right(GraftSql.tables(spark, q)) catch {
        case e: Exception => Left(String.valueOf(e.getMessage).take(120))
      }
      if (got == Right(want)) None else Some(s"$q\n  want=$want got=$got")
    }
    assert(bad.isEmpty, s"${bad.size} extractTables fixtures diverge:\n" +
      bad.take(20).mkString("\n"))
  }

  test("WKT fixtures round-trip through ST_GEOMFROMTEXT / ST_ASTEXT / ST_ASGEOJSON") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wkts = entries.filter(_.kind == "wkt")
    val ok = wkts.filter(e => e.geojson.isDefined && e.wkt.isDefined)
      .map(e => (e.wkt.get, e.round.getOrElse(""), e.geojson.get.toString)).distinct
    // the reference's parseWkt returns NULL for bad input, never throws
    // (reference: test/spatial/wkt.test.js "should return null for …")
    val bad = wkts.filter(e => e.geojson.isEmpty && e.wkt.isDefined).map(_.wkt.get).distinct
    assert(ok.size >= 10 && bad.size >= 10,
      s"recorder found only ${ok.size} ok + ${bad.size} rejected WKT fixtures")
    val rows = ok.map(_._1).toDF("w")
      .select(col("w"),
        expr("st_astext(st_geomfromtext(w))").as("rt"),
        expr("st_asgeojson(st_geomfromtext(w))").as("gj"))
      .collect().map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2))))
      .toMap
    val diverged = ok.flatMap { case (w, round, gjWant) =>
      val (rt, gj) = rows(w)
      val rtOk = rt.contains(round)
      val gjOk = (for { g <- gj; a <- parseJsonV(g); b <- parseJsonV(gjWant) }
        yield vEq(a, b)).getOrElse(false)
      if (rtOk && gjOk) None
      else Some(s"$w\n  astext want=$round got=$rt geojson want=$gjWant got=$gj")
    }
    assert(diverged.isEmpty, s"${diverged.size} WKT fixtures diverge:\n" +
      diverged.take(10).mkString("\n"))
    // rejected WKT: NULL, never an exception (dirty-cell leniency)
    val nulls = bad.toDF("w").select(expr("st_geomfromtext(w)").as("g"))
      .collect().map(_.isNullAt(0))
    assert(nulls.forall(identity),
      s"${nulls.count(!_)} of ${bad.size} reference-rejected WKT inputs did not map to NULL")
  }

  test("spatial-internal fixtures replay through the ST_ predicate surface") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val geoKinds = Set("geomeq", "pip", "pol", "plr", "pdist", "segint", "segring")
    val fx = entries.filter(e => geoKinds(e.kind))
    assert(fx.size >= 30, s"recorder found only ${fx.size} spatial-internal fixtures")
    def s(e: PEntry, f: String) = e.node.get(f).asText()
    def b(e: PEntry, f: String) = e.node.get(f).asBoolean()
    // every fixture maps to ONE row: (label, predicate result, expected)
    val rows: Seq[(String, String, String)] = fx.map { e =>
      val label = s"${e.kind}:${e.testName}"
      e.kind match {
        case "geomeq" =>
          (label, s"st_equals(st_geomfromtext('${s(e, "a")}'), st_geomfromtext('${s(e, "b")}'))",
            b(e, "eq").toString)
        case "pip" =>
          // INSIDE ⇔ proper containment; BOUNDARY ⇔ intersects but not
          // properly contained; OUTSIDE ⇔ no intersection at all
          (label,
            s"CASE WHEN st_containsproperly(st_geomfromtext('${s(e, "poly")}'), st_geomfromtext('${s(e, "pt")}')) THEN 'INSIDE' " +
              s"WHEN st_intersects(st_geomfromtext('${s(e, "poly")}'), st_geomfromtext('${s(e, "pt")}')) THEN 'BOUNDARY' " +
              "ELSE 'OUTSIDE' END",
            s(e, "rel"))
        case "pol" =>
          (label, s"st_intersects(st_geomfromtext('${s(e, "pt")}'), st_geomfromtext('${s(e, "line")}'))",
            b(e, "on").toString)
        case "plr" =>
          // BOUNDARY = linestring endpoint (OGC touches); INSIDE =
          // interior point; OUTSIDE = off the line
          (label,
            s"CASE WHEN st_touches(st_geomfromtext('${s(e, "line")}'), st_geomfromtext('${s(e, "pt")}')) THEN 'BOUNDARY' " +
              s"WHEN st_intersects(st_geomfromtext('${s(e, "line")}'), st_geomfromtext('${s(e, "pt")}')) THEN 'INSIDE' " +
              "ELSE 'OUTSIDE' END",
            s(e, "rel"))
        case "pdist" =>
          // no ST_DISTANCE in the surface; bracket the recorded distance
          // with ST_DWITHIN on both sides (relative epsilon)
          val d = math.sqrt(e.node.get("d2").asDouble())
          val (lo, hi) = (d * (1 - 1e-9) - 1e-12, d * (1 + 1e-9) + 1e-12)
          (label,
            s"st_dwithin(st_geomfromtext('${s(e, "pt")}'), st_geomfromtext('${s(e, "seg")}'), $hi) AND NOT " +
              s"st_dwithin(st_geomfromtext('${s(e, "pt")}'), st_geomfromtext('${s(e, "seg")}'), $lo)",
            "true")
        case "segint" | "segring" =>
          (label, s"st_intersects(st_geomfromtext('${s(e, "a")}'), st_geomfromtext('${s(e, "b")}'))",
            b(e, "hit").toString)
      }
    }
    val exprs = rows.zipWithIndex.map { case ((_, got, _), i) => s"CAST(($got) AS STRING) AS c$i" }
    val got = spark.sql(s"SELECT ${exprs.mkString(", ")}").first()
    val bad = rows.zipWithIndex.flatMap { case ((label, g, want), i) =>
      val v = if (got.isNullAt(i)) "null" else got.getString(i)
      if (v == want) None else Some(s"$label\n  expr=$g\n  want=$want got=$v")
    }
    assert(bad.isEmpty, s"${bad.size} spatial-internal fixtures diverge:\n" +
      bad.take(10).mkString("\n"))
  }

  // ---- plan-suite replay (test/plan/*) ----------------------------------

  private def planEntries = entries.filter(_.kind == "plan")

  /** Create temp views from a plan fixture's recorded memorySource
    * tables (JSON rows; columns recorded for the empty-data case).
    */
  private def loadPlanTables(e: PEntry): Unit = {
    import spark.implicits._
    val tbls = e.node.get("tbls")
    if (tbls == null || tbls.isNull) return
    val it = tbls.fields()
    while (it.hasNext) {
      val f = it.next()
      val data = f.getValue.get("data")
      val rows = if (data == null || data.isNull) Seq("{}")
        else (0 until data.size()).map(i => data.get(i).toString)
      spark.read.json(spark.createDataset(rows)).createOrReplaceTempView(f.getKey)
    }
  }

  test("plan fixtures: every reference-planned scan is a table graft reads") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    val fx = planEntries.filter(e => e.error.isEmpty && e.query.isDefined)
    assert(fx.size >= 30, s"recorder found only ${fx.size} ok plan fixtures")
    // subset, not equality: the reference ELIDES scans its plan answers
    // from metadata (COUNT(*) via numRows) and defers subquery/UNNEST
    // sources to execution time, so its Scan list can undercount the
    // tables a query reads — graft's table set must cover it, and exact
    // extraction semantics are already pinned by the extractTables test
    val bad = fx.flatMap { e =>
      val scans = e.node.get("scans")
      val want = (0 until scans.size()).map(i => scans.get(i).get("table").asText()).toSet
      val got = try Right(GraftSql.tables(spark, e.query.get).toSet) catch {
        case ex: Exception => Left(String.valueOf(ex.getMessage).take(120))
      }
      got match {
        case Right(g) if want.subsetOf(g) => None
        case other => Some(s"${e.query.get}\n  want⊆got failed: want=$want got=$other")
      }
    }
    assert(bad.isEmpty, s"${bad.size} plan scan sets diverge:\n" + bad.take(10).mkString("\n"))
  }

  test("plan-validation fixtures accept/reject through validate with the same tables") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    val fx = planEntries.filter(e =>
      e.query.isDefined && e.node.get("tbls") != null && !e.node.get("tbls").isNull)
    assert(fx.size >= 15, s"recorder found only ${fx.size} with-tables plan fixtures")
    val bad = fx.flatMap { e =>
      loadPlanTables(e)
      val ok = GraftSql.validate(spark, e.query.get)
      (e.error.isEmpty, ok) match {
        case (true, Left(msg)) if !PlanKnownStricter(e.query.get) =>
          Some(s"${e.query.get}\n  reference plans, graft rejects: ${msg.take(120)}")
        case (false, Right(())) if !PlanLenientAccepts(e.query.get) =>
          Some(s"${e.query.get}\n  reference rejects (${e.error.get.take(80)}), graft accepts")
        case _ => None
      }
    }
    assert(bad.isEmpty, s"${bad.size} plan-validation fixtures diverge:\n" +
      bad.take(10).mkString("\n"))
  }

  test("column pruning matches the reference's pushed scan hints") {
    assume(RefCheckout.nodeOk, "node required to record the reference suite")
    import spark.implicits._
    // single-scan fixtures whose Scan carries a pushed column list: the
    // columns Catalyst prunes the leaf to must be exactly the columns
    // the reference pushes into its Scan. Tables without recorded data
    // get a synthesized view: the hinted columns plus a padding column
    // that pruning must drop.
    val fx = planEntries.filter { e =>
      val scans = e.node.get("scans")
      e.error.isEmpty && e.query.isDefined && !PlanKnownStricter(e.query.get) &&
        scans != null && scans.size() == 1 &&
        scans.get(0).get("columns") != null && !scans.get(0).get("columns").isNull
    }
    assert(fx.size >= 10, s"recorder found only ${fx.size} pruning fixtures")
    val bad = fx.flatMap { e =>
      val scan = e.node.get("scans").get(0)
      val table = scan.get("table").asText()
      val cols = scan.get("columns")
      val want = (0 until cols.size()).map(i => cols.get(i).asText()).toSet
      val tbls = e.node.get("tbls")
      if (tbls != null && !tbls.isNull) loadPlanTables(e)
      else {
        val fields = (want.toSeq.sorted :+ "graft_pad_col")
          .map(c => s"\"$c\": 1").mkString("{", ", ", "}")
        spark.read.json(spark.createDataset(Seq(fields)))
          .createOrReplaceTempView(table)
      }
      val plan = GraftSql.sql(spark, e.query.get).queryExecution.optimizedPlan
      // pruning evidence: the leaf columns the optimized plan CONSUMES —
      // every node's references into the leaf's output, plus leaf
      // columns flowing to the result unreferenced. An unpruned
      // SELECT * projection would drag the padding column in here.
      val leaf = plan.collectLeaves().head
      val leafSet = leaf.outputSet
      val pruned = (plan.collect { case n =>
        n.references.filter(leafSet.contains).map(_.name).toSet
      }.flatten ++ plan.output.filter(leafSet.contains).map(_.name)).toSet
      if (pruned == want) None
      else Some(s"${e.query.get}\n  table=$table want=$want pruned=$pruned\n  plan=${plan.treeString.take(400)}")
    }
    assert(bad.isEmpty, s"${bad.size} pruning fixtures diverge:\n" + bad.take(8).mkString("\n"))
  }

  /** With-tables plan fixtures the reference rejects that graft
    * deliberately accepts — each reviewed (superset dialect only).
    */
  private val PlanLenientAccepts: Set[String] = Set.empty

  /** Plan fixtures the reference accepts that graft REJECTS — each a
    * verified Catalyst boundary, not a rewrite gap. Currently one: an
    * outer column used as the UNNEST source inside a scalar subquery.
    * Spark cannot correlate an outer reference into a lateral TVF at
    * any spelling (JOIN LATERAL explode / LATERAL VIEW explode /
    * LATERAL (SELECT explode(...)) all raise UNRESOLVED_COLUMN or
    * UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY.CORRELATED_REFERENCE).
    */
  private val PlanKnownStricter: Set[String] = Set(
    "SELECT o.id, (SELECT COUNT(*) FROM t JOIN UNNEST(o.arr) AS u(x) ON TRUE) AS n FROM outers AS o")

  /** Queries the reference's parser rejects that graft deliberately
    * accepts — each reviewed. Populated from the first recorded run;
    * a NEW leniency fails the test until reviewed and added here.
    */
  private val LenientAccepts: Set[String] = Set(
    // window functions: the reference has none; graft's are first-class
    "SELECT AVG(x) OVER (PARTITION BY y) FROM t",
    "SELECT COUNT(*) OVER () FROM t",
    "SELECT DENSE_RANK() OVER (ORDER BY id) FROM t",
    "SELECT NTILE(4) OVER (ORDER BY id) FROM t",
    "SELECT RANK() OVER (ORDER BY id) FROM t",
    "SELECT SUM(x) OVER () FROM t",
    // recursive CTEs: unsupported by the reference, native in graft
    "WITH RECURSIVE nums(i) AS (SELECT 1 UNION ALL SELECT i + 1 FROM nums WHERE i < 5) SELECT i FROM nums",
    // FROM-subquery without alias: Spark auto-aliases; never ambiguous
    "SELECT * FROM users JOIN (SELECT user_id FROM orders) ON users.id = user_id",
    // bare JOIN without ON is Spark's condition-less inner join — a
    // deliberate superset (the composable DataFrame API allows it too)
    "SELECT * FROM users JOIN orders",
    // COUNT(DISTINCT *) counts distinct full rows — well-defined here
    "SELECT COUNT(DISTINCT *) FROM users")
}
