package graft

import graft.DiffValues._
import graft.plans.GraftSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Differential fuzz campaign: seeded grammar-generated dialect SQL
  * (FuzzGen) executed on BOTH the reference engine (node, via
  * tools/fuzz_ref.mjs over JSON rows) and GraftSql-on-Spark over the
  * SAME rows, results diffed cell-by-cell (float tolerance). The
  * curated syntax.md long tail is covered by GraftSqlSpec /
  * ReferenceParitySpec; this finds what no curated list anticipates.
  */
class FuzzSpec extends FuzzHarness {

  // CI default 300; a deep one-off audit raises it via GRAFT_FUZZ_N.
  // GRAFT_FUZZ_SEED re-seeds every battery (offsets keep them distinct)
  // so each deep audit explores FRESH queries instead of replaying the
  // CI corpus at higher n.
  private val nQueries = sys.env.getOrElse("GRAFT_FUZZ_N", "300").toInt
  private val seedBase = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong)
  private def seedOr(default: Long, offset: Long): Long =
    seedBase.map(_ + offset).getOrElse(default)

  test("differential fuzz: seeded dialect queries agree with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    assume(new java.io.File(RefCheckout.index).isFile, "reference missing")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }

    val queries = FuzzGen.queries(seed = seedOr(20260814L, 0), n = nQueries)
    val refResults = runReference(queries)
    var sparkErrs = 0
    var bothRejected = 0
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      val sp = runSpark(q)
      if (sp.isLeft) sparkErrs += 1
      if (sp.isLeft && rf.isLeft) bothRejected += 1
      diff(q, sp, rf).map(d => s"#$i $d\n  SQL: $q\n  refErr: ${rf.left.getOrElse("-")}")
    }
    info(s"queries=$nQueries sparkErrors=$sparkErrs bothRejected=$bothRejected divergences=${divergences.length}")
    // agreement-on-rejection is allowed but must stay a rare corner, not
    // a loophole the generator falls into
    assert(bothRejected <= nQueries / 20, s"too many agreed rejections ($bothRejected) — tighten the grammar")
    assert(divergences.isEmpty,
      s"${divergences.length} divergence(s):\n${divergences.take(12).mkString("\n")}")
  }

  test("strict-nulls differential fuzz: nullable predicates agree with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // the one grammar the MAIN battery must avoid: NULLIF-built nulls
    // reaching comparisons/NOT/IN/LIKE/AND/OR. Under the engine's
    // pinned three-valued default those diverge from the reference by
    // design; sqlStrictNulls implements the reference's two-valued
    // logic (binary.js:32-35) and must agree on every shape.
    val n = sys.env.getOrElse("GRAFT_FUZZ_STRICT_N", "150").toInt
    val queries = FuzzGen.strictNullQueries(seedOr(5150L, 4), n)
    val refResults = runReference(queries)
    var sparkErrs = 0
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      val sp = runSparkStrict(q)
      if (sp.isLeft) sparkErrs += 1
      diff(q, sp, rf).map(d => s"#$i $d\n  SQL: $q\n  refErr: ${rf.left.getOrElse("-")}")
    }
    info(s"strict queries=$n sparkErrors=$sparkErrs divergences=${divergences.length}")
    assert(sparkErrs == 0, s"strict mode rejected $sparkErrs generated queries")
    assert(divergences.isEmpty,
      s"${divergences.length} divergence(s):\n${divergences.take(12).mkString("\n")}")
  }

  test("scalar-function differential fuzz: math/JSON/array/date surface agrees with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // jsonBridge: Spark's JSON path functions return JSON TEXT where the
    // reference returns typed values — equality modulo JSON parse is the
    // contract for THIS battery only
    val nScalar = sys.env.getOrElse("GRAFT_FUZZ_SCALAR_N", "150").toInt
    val queries = FuzzGen.scalarQueries(seed = seedOr(77177L, 1), n = nScalar)
    val refResults = runReference(queries)
    var lenient = 0
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      (runSpark(q), rf) match {
        // DELIBERATE leniency: the reference THROWS when a JSON function
        // receives a non-JSON string (evaluate.js ArgValueError: "invalid
        // JSON string"); graft returns NULL instead — at 100 TB one dirty
        // string must not kill the job. Counted, never flagged.
        case (Right(_), Left(e)) if e.contains("invalid JSON") =>
          lenient += 1; None
        case (sp, _) => diff(q, sp, rf, jsonBridge = true).map(d => s"#$i $d\n  SQL: $q")
      }
    }
    info(s"scalar queries=$nScalar lenientJson=$lenient divergences=${divergences.length}")
    assert(divergences.isEmpty,
      s"${divergences.length} divergence(s):\n${divergences.take(12).mkString("\n")}")
  }

  test("spatial differential fuzz: integer-grid geometries agree with the reference") {
    assume(RefCheckout.nodeOk, "node not available")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // integer grids make shared vertices / collinear edges / touching
    // boundaries the COMMON case — the exact corners where two
    // independent geometry implementations drift apart
    val nSpatial = sys.env.getOrElse("GRAFT_FUZZ_SPATIAL_N", "120").toInt
    val queries = FuzzGen.spatialQueries(seed = seedOr(4242L, 2), n = nSpatial)
    val refResults = runReference(queries)
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      diff(q, runSpark(q), rf).map(d => s"#$i $d\n  SQL: $q")
    }
    info(s"spatial queries=$nSpatial divergences=${divergences.length}")
    assert(divergences.isEmpty,
      s"${divergences.length} divergence(s):\n${divergences.take(8).mkString("\n")}")
  }

  test("spatial JOIN / window-over-spatial differential fuzz: multi-row geometry relations agree") {
    assume(RefCheckout.nodeOk, "node not available")
    import spark.implicits._
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // the round-13 widening: spatial predicates as JOIN conditions,
    // WHERE filters, window PARTITION keys and GROUP keys over a seeded
    // geometry TABLE — the single-row battery never exercises the
    // multi-row planner paths (join residuals, partitioned windows)
    val nJoin = sys.env.getOrElse("GRAFT_FUZZ_SPATIAL_JOIN_N", "60").toInt
    val geo = FuzzGen.geoRows(seedOr(13131L, 6), 12).toDF("id", "w")
    geo.createOrReplaceTempView("f_geo")
    val queries = FuzzGen.spatialJoinQueries(seedOr(13131L, 7), nJoin)
    val refResults = runReference(queries, Map("f_geo" -> geo))
    val divergences = queries.zip(refResults).zipWithIndex.flatMap { case ((q, rf), i) =>
      diff(q, runSpark(q), rf).map(d => s"#$i $d\n  SQL: $q")
    }
    info(s"spatial-join queries=$nJoin divergences=${divergences.length}")
    assert(divergences.isEmpty,
      s"${divergences.length} divergence(s):\n${divergences.take(8).mkString("\n")}")
  }

  test("mutation fuzz: single-edit mutants — agreement on rejection, no reference-only queries") {
    assume(RefCheckout.nodeOk, "node not available")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // both the BASE queries and the EDITS re-seed under GRAFT_FUZZ_SEED
    // (mutants found the only two engine gaps of round 13 — the
    // highest-yield battery, so deep audits can raise its budget too)
    val nMutants = sys.env.getOrElse("GRAFT_FUZZ_MUTANT_N", "150").toInt
    val r = new scala.util.Random(seedOr(99L, 5))
    val bases = FuzzGen.queries(seed = seedOr(31L, 3), n = nMutants)
    val mutants = bases.map(q => FuzzGen.mutate(r, q))
    // identifier-damage detector for the UNRESOLVED_COLUMN excusal: the
    // edit must have CHANGED the query's word-token multiset (truncated,
    // duplicated or replaced an identifier/keyword). A mutant whose
    // words are intact — the edit hit an operator or literal — gets NO
    // excusal, so a rewrite pass that breaks resolution on an
    // otherwise-valid mutant still flags (advisor r13 finding: the
    // unconditional excusal masked exactly that class).
    def wordBag(t: String): Map[String, Int] =
      raw"[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(t)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSeq
        .groupBy(identity).map { case (w, vs) => (w, vs.size) }
    val refResults = runReference(mutants)
    var bothReject = 0
    var sparkOnly = 0 // graft accepts what the reference rejects: superset, allowed
    var ambiguous = 0
    val problems = bases.lazyZip(mutants).lazyZip(refResults).toSeq
        .zipWithIndex.flatMap { case ((base, q, rf), i) =>
      lazy val identifierDamage = wordBag(q) != wordBag(base)
      // sqlDerived, not sql: a mutation can DROP an alias, and the
      // host-facing surface names unaliased projections with the
      // reference's derivedAlias (trim_Customer, not Spark's
      // trim(Customer)) — the name-keyed diff must compare what a host
      // actually sees (seed-88008 find)
      val sp = runSparkDerived(q)
      // a duplicated projection token can duplicate an alias: the
      // reference silently resolves references to it (one occurrence
      // wins); Spark rejects the ambiguity. Rejecting is the BETTER
      // behavior — count it as a deliberate strictness divergence, and
      // skip the lossy name-keyed diff when both engines still accept.
      val aliases = "(?i)\\bAS\\s+(\\w+)".r.findAllMatchIn(q)
        .map(_.group(1).toLowerCase).toSeq
      val dupAlias = aliases.distinct.size != aliases.size
      // deliberate strictness divergences (graft rejects what the
      // reference's JS leniency lets through): a non-boolean WHERE
      // (`WHERE 17` is truthy in JS), and an ungrouped bare column next
      // to an aggregate (the reference evaluates it over the whole
      // table). Rejecting both is the better behavior for a typed
      // engine — counted, not flagged.
      def strictness(e: String): Boolean =
        e.contains("FILTER_NOT_BOOLEAN") || e.contains("MISSING_GROUP_BY") ||
          e.contains("MISSING_AGGREGATION") ||
          // a duplicated token can form an IMPLICIT alias ("part k") the
          // AS-regex above misses — Spark's ambiguity rejection is the
          // same better-behavior class as dupAlias
          e.contains("AMBIGUOUS_LATERAL_COLUMN_ALIAS") ||
          e.contains("AMBIGUOUS_REFERENCE") ||
          // a NON-BOOLEAN operand inside AND/OR (a truncation mutant
          // left `HAVING b OR COUNT(*)`, seed-88003 find): the
          // reference runs it under JS truthiness (Boolean(count)),
          // graft rejects — the FILTER_NOT_BOOLEAN family again, and
          // rejecting a bare aggregate in a boolean slot (almost
          // always a truncated/typo'd query) is the better behavior
          // for a typed engine. Scoped to AND/OR mismatches only so
          // real dialect gaps under DATATYPE_MISMATCH still flag.
          (e.contains("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES") &&
            (e.contains(" OR ") || e.contains(" AND "))) ||
          // the same typed-boolean family on a COMPARISON: a mutant
          // landing `=` between a number and a boolean-returning call
          // (`o_custkey = LIST_CONTAINS(...)`, r14 corpus find) runs
          // under JS loose equality in the reference (number == boolean
          // coerces); the typed engine rejects the mismatch — scoped to
          // errors where one operand really is BOOLEAN
          (e.contains("DATATYPE_MISMATCH.BINARY_OP_DIFF_TYPES") &&
            e.contains("BOOLEAN")) ||
          // ...and on a CASE condition: a mutant landing a NUMBER in
          // the WHEN slot (`CASE WHEN 2 THEN …`, seed-140001 find) runs
          // under JS truthiness in the reference; the typed engine
          // rejects the non-boolean condition — scoped to CASE WHEN
          (e.contains("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE") &&
            e.contains("CASE WHEN")) ||
          // same family, same scope: two NON-BOOLEAN operands of the
          // SAME type inside AND/OR (`ROUND(SUM(x),3) OR ROUND(...)`,
          // seed-134777 find) — WRONG_TYPE, not DIFF_TYPES, but still
          // JS truthiness on numbers vs the typed-boolean rejection.
          // The QUERY is checked for the operator (the 300-char error
          // excerpt may truncate before echoing it)
          (e.contains("DATATYPE_MISMATCH.BINARY_OP_WRONG_TYPE") &&
            raw"(?i)\s(OR|AND)\s".r.findFirstIn(q).isDefined) ||
          // a type-mismatched IN-subquery (`custkey NOT IN (SELECT
          // '%a_')`, seed-134777 find): the analyzer coerces the
          // subquery column to the probe's type with an ANSI cast that
          // throws on garbage, where the reference's JS == reads the
          // mismatch as NaN/false. Row semantics for the NOT IN form
          // cannot match in default mode anyway (the pinned
          // three-valued null contract), and rejecting a query whose
          // list can never match is the loud option — scoped to
          // queries that actually contain an IN (SELECT
          (e.contains("CAST_INVALID_INPUT") &&
            raw"(?i)\bIN\s*\(\s*SELECT\b".r.findFirstIn(q).isDefined) ||
          // a DAMAGED identifier (mutants truncate/duplicate tokens):
          // the reference resolves names per ROW — an unknown column
          // evaluates to undefined and the query "runs" — where graft
          // analyzes up front and rejects (the documented
          // lazy-resolution boundary, same doctrine as the replay
          // classifier's lazyResolution bucket). The main dialect
          // battery uses only valid names, so a REAL resolution gap
          // (a lateral alias form etc.) still surfaces there as a
          // row diff, never through this excusal. Scoped to mutants
          // whose edit DAMAGED a word token — an operator-only edit
          // that leaves names intact gets no excusal, so a rewrite
          // pass producing an unresolved name on a valid mutant flags.
          (e.contains("UNRESOLVED_COLUMN") && identifierDamage) ||
          // a mutation landing unary NOT on a string literal (`NOT ''`,
          // seed-88005 find): JS coerces the literal by truthiness, a
          // typed engine instead coerces the OTHER operand to boolean
          // and rejects the cast — the same typed-boolean family,
          // scoped to queries that actually contain the NOT-literal
          (e.contains("CAST_INVALID_INPUT") &&
            raw"(?i)\bNOT\s+'".r.findFirstIn(q).isDefined) ||
          // the general boolean-coercion shape of the same family: a
          // mutant landing a STRING column in a boolean slot (`NOT c0`
          // over a JSON_EACH key, seed-141337 find) — JS truthiness in
          // the reference, a runtime BOOLEAN cast failure here. Scoped
          // to casts whose TARGET is BOOLEAN; numeric/date cast
          // failures still flag.
          (e.contains("CAST_INVALID_INPUT") &&
            e.contains("cast to \"BOOLEAN\"")) ||
          // a truncated ON clause leaving a bare non-boolean join
          // condition (`ON a.o_custkey`, seed-88007 find): the
          // reference joins on per-pair JS truthiness of the key —
          // rejecting is the typed-boolean family once more
          e.contains("JOIN_CONDITION_IS_NOT_BOOLEAN_TYPE")
      (sp, rf) match {
        case (Left(_), Left(_)) => bothReject += 1; None
        case (Right(_), Left(_)) => sparkOnly += 1; None
        case (Left(_), Right(_)) if dupAlias => ambiguous += 1; None
        case (Left(e), Right(_)) if strictness(e) => ambiguous += 1; None
        case (Left(e), Right(rr)) if e.contains("UNRESOLVED_COLUMN") && {
            // strip paren groups to FIXPOINT (subqueries nest) — a FROM
            // surviving at depth 0 means the outer select has a table
            var t = q; var prev = ""
            while (t != prev) { prev = t; t = t.replaceAll(raw"\([^()]*\)", "") }
            raw"(?i)\bFROM\b".r.findFirstIn(t).isEmpty
          } =>
          // a truncation can drop the outer FROM entirely, leaving a
          // one-row FROM-less SELECT whose ORDER BY names a now-gone
          // column: the reference's single-row sort never evaluates its
          // comparator, so the unresolved name is never touched
          // (seed-88014 find); Spark analyzes up front — the same
          // lazy-resolution boundary as below
          ambiguous += 1; None
        case (Left(e), Right(rr)) if rr.isEmpty && e.contains("UNRESOLVED_COLUMN") =>
          // LAZY-RESOLUTION boundary: the reference resolves columns per
          // ROW at evaluation time ("Column not found (row 1)"), so a
          // mutant whose WHERE filters out every row never evaluates its
          // broken projection and "succeeds" with zero rows. Spark
          // analyzes up front and rejects the query regardless of data —
          // the correct behavior at scale (analysis errors before
          // scanning 100 TB). Only the zero-row case can differ: with
          // any surviving row the reference errors too (probed).
          ambiguous += 1; None
        case (Left(e), Right(_)) =>
          // a query the reference runs but graft refuses is a USER-FACING
          // gap — the direction this battery exists to catch
          Some(s"#$i ref ok, spark ERROR: ${e.take(120)}\n  SQL: $q")
        case (Right(s), Right(rr)) =>
          // LIMIT without ORDER BY (the mutation can drop the anchor):
          // each engine legitimately returns an arbitrary subset — only
          // the row COUNT is comparable
          val unanchoredLimit = "(?i)\\bLIMIT\\b".r.findFirstIn(q).isDefined &&
            "(?i)\\bORDER\\s+BY\\b".r.findFirstIn(q).isEmpty
          if (dupAlias) None
          else if (unanchoredLimit) {
            if (s.length == rr.length) None
            else Some(s"#$i row count ${s.length} vs ${rr.length} (unanchored LIMIT)\n  SQL: $q")
          }
          else {
          // a mutant may have lost its determinism anchor (e.g. a
          // dropped DESC) — compare as multisets, not ordered rows
          def vs(v: V): String = v match {
            case VNum(d) => f"${math.rint(d * 1e6) / 1e6}%.6f" // ulp-tolerant
            // recurse: List vs Vector toString must not break the canon
            case VArr(items) => items.map(vs).mkString("[", ",", "]")
            case VObj(f) =>
              f.toSeq.sortBy(_._1).map { case (k, x) => s"$k:${vs(x)}" }
                .mkString("{", ",", "}")
            case other => other.toString
          }
          def canon(rows: Seq[Map[String, V]]) =
            rows.map(_.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${vs(v)}" }.mkString("|")).sorted
          if (s.length == rr.length && canon(s) == canon(rr)) None
          else runSparkStrictDerived(q) match {
            // a mutation can push a NULL into a comparison (an empty
            // FILTER group under `SUM(x) = SUM(x) FILTER (...)`,
            // seed-88014 find): if the STRICT-JS-NULLS mode — the
            // reference's two-valued logic — reproduces the reference's
            // rows exactly, the mismatch IS the pinned three-valued
            // default, not a defect
            case Right(st) if st.length == rr.length && canon(st) == canon(rr) =>
              ambiguous += 1; None
            case _ =>
              Some(s"#$i results differ (rows ${s.length} vs ${rr.length})\n  SQL: $q")
          }
          }
      }
    }
    info(s"mutants=$nMutants bothReject=$bothReject sparkOnlyAccept=$sparkOnly " +
      s"strictnessRejected=$ambiguous problems=${problems.length}")
    assert(problems.isEmpty, s"${problems.length} problem(s):\n${problems.take(10).mkString("\n")}")
  }

  test("reference registry sweep: every public function has a canonical agreeing call") {
    assume(RefCheckout.nodeOk, "node not available")
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    // the list is read from the reference AT TEST TIME, so a function
    // added there without a canonical call here fails the sweep
    val registry: Seq[String] = {
      val p = java.nio.file.Paths.get("/root/reference/src/validation/functions.js")
      assume(java.nio.file.Files.exists(p), "reference source not available")
      raw"(?m)^  ([A-Z_0-9]+):".r
        .findAllMatchIn(java.nio.file.Files.readString(p)).map(_.group(1)).toSeq.distinct
    }
    def n(expr: String) =
      s"SELECT n_nationkey AS k, $expr AS v FROM f_nation ORDER BY k"
    def o(expr: String) = s"SELECT $expr AS v FROM f_nation WHERE n_nationkey = 3"
    def a(expr: String) = s"SELECT $expr AS v FROM f_nation"
    val arr = "STRING_SPLIT(n_name, 'A')"
    val poly = "ST_GEOMFROMTEXT('POLYGON((0 0,10 0,10 10,0 10,0 0))')"
    val inner = "ST_GEOMFROMTEXT('POLYGON((2 2,8 2,8 8,2 8,2 2))')"
    val pt = "ST_GEOMFROMTEXT('POINT(5 5)')"
    val diffable: Map[String, String] = Map(
      "ABS" -> n("ABS(n_nationkey - 12)"),
      "ACOS" -> n("ACOS(n_regionkey / 4)"),
      "ASIN" -> n("ASIN(n_regionkey / 4)"),
      "ATAN" -> n("ATAN(n_nationkey)"),
      "ATAN2" -> n("ATAN2(n_nationkey - 12, 3)"),
      "COS" -> n("COS(n_nationkey)"),
      "SIN" -> n("SIN(n_nationkey)"),
      "TAN" -> n("TAN(n_nationkey)"),
      "COT" -> n("COT(n_nationkey + 1)"),
      "CEIL" -> n("CEIL(n_nationkey / 4)"),
      "CEILING" -> n("CEILING(n_nationkey / 3)"),
      "FLOOR" -> n("FLOOR(n_nationkey / 4)"),
      "DEGREES" -> n("DEGREES(n_nationkey)"),
      "RADIANS" -> n("RADIANS(n_nationkey * 10)"),
      "EXP" -> n("EXP(n_regionkey)"),
      "LN" -> n("LN(n_nationkey + 1)"),
      "LOG10" -> n("LOG10(n_nationkey + 1)"),
      "MOD" -> n("MOD(n_nationkey, 7)"),
      "PI" -> o("PI()"),
      "POW" -> n("POW(n_nationkey, 2)"),
      "POWER" -> n("POWER(2, n_regionkey)"),
      "ROUND" -> n("ROUND(n_nationkey / 7, 2)"),
      "SIGN" -> n("SIGN(n_nationkey - 12)"),
      "SQRT" -> n("SQRT(n_nationkey)"),
      "GREATEST" -> n("GREATEST(n_nationkey, n_regionkey * 5)"),
      "LEAST" -> n("LEAST(n_nationkey, n_regionkey * 5)"),
      "NULLIF" -> n("NULLIF(MOD(n_nationkey, 5), 0)"),
      "COALESCE" -> n("COALESCE(NULLIF(MOD(n_nationkey, 5), 0), -1)"),
      "CONCAT" -> n("CONCAT(n_name, '-', n_regionkey)"),
      "INSTR" -> n("INSTR(n_name, 'A')"),
      "LEFT" -> n("LEFT(n_name, 3)"),
      "RIGHT" -> n("RIGHT(n_name, 3)"),
      "LOWER" -> n("LOWER(n_name)"),
      "UPPER" -> n("UPPER(n_name)"),
      "LENGTH" -> n("LENGTH(n_name)"),
      // LEN/SIZE/CARDINALITY are ARRAY length with runtime dispatch:
      // NULL on a string in the reference — graft_size mirrors that
      "LEN" -> n(s"LEN($arr) + LEN(n_name)"),
      "SIZE" -> n(s"SIZE($arr)"),
      "CARDINALITY" -> n(s"CARDINALITY($arr)"),
      "OCTET_LENGTH" -> n("OCTET_LENGTH(n_name)"),
      "POSITION" -> n("POSITION(n_name, 'A')"),
      "REPLACE" -> n("REPLACE(n_name, 'A', '_')"),
      "SPLIT_PART" -> n("SPLIT_PART(n_name, ' ', 1)"),
      "STRING_SPLIT" -> n(arr),
      "STRPOS" -> n("STRPOS(n_name, 'N')"),
      "SUBSTR" -> n("SUBSTR(n_name, 2, 3)"),
      "SUBSTRING" -> n("SUBSTRING(n_name, 2, 3)"),
      "TRIM" -> n("TRIM(CONCAT(' ', n_name, ' '))"),
      "REGEXP_EXTRACT" -> n("REGEXP_EXTRACT(n_name, '[A-Z]+')"),
      "REGEXP_MATCHES" -> n("REGEXP_MATCHES(n_name, 'A.')"),
      "REGEXP_REPLACE" -> n("REGEXP_REPLACE(n_name, '[AEIOU]', '.')"),
      "REGEXP_SUBSTR" -> n("REGEXP_SUBSTR(n_name, '[A-Z]{2}')"),
      "DATEDIFF" -> o("DATEDIFF('day', '2024-01-01', '2024-03-05')"),
      "DATE_DIFF" -> o("DATE_DIFF('day', '2024-01-01', '2024-03-05')"),
      "DATE_PART" -> o("DATE_PART('month', '2024-03-05')"),
      "DATE_TRUNC" -> o("DATE_PART('year', DATE_TRUNC('year', '2024-03-05'))"),
      "EPOCH" -> o("EPOCH(CAST('2024-01-05 00:00:00' AS TIMESTAMP))"),
      "EXTRACT" -> o("EXTRACT(YEAR FROM CAST('2024-03-05 00:00:00' AS TIMESTAMP))"),
      "JSON_EXTRACT" -> o("JSON_EXTRACT('{\"a\": 5}', 'a')"),
      "JSON_VALUE" -> o("JSON_VALUE('{\"a\": \"x\"}', 'a')"),
      "JSON_QUERY" -> o("JSON_QUERY('{\"a\": {\"b\": 1}}', 'a')"),
      "JSON_ARRAY_LENGTH" -> o("JSON_ARRAY_LENGTH('[1,2,3]') + JSON_ARRAY_LENGTH('{\"a\":1}')"),
      "JSON_KEYS" -> o("JSON_KEYS('{\"a\":1,\"b\":2}')"),
      "JSON_OBJECT" -> o("JSON_OBJECT('k', 7)"),
      "JSON_TYPE" -> o("LOWER(JSON_TYPE('[1,2]'))"),
      "JSON_VALID" -> o("JSON_VALID('{\"a\":1}')"),
      "ARRAY_APPEND" -> n(s"ARRAY_APPEND($arr, 'z')"),
      "ARRAY_CONCAT" -> n(s"ARRAY_CONCAT($arr, STRING_SPLIT(n_name, 'E'))"),
      "ARRAY_CONTAINS" -> n(s"ARRAY_CONTAINS(STRING_SPLIT(n_name, 'N'), 'A')"),
      "ARRAY_LENGTH" -> n(s"ARRAY_LENGTH($arr)"),
      "ARRAY_POSITION" -> n(s"ARRAY_POSITION($arr, 'RGENTIN')"),
      "ARRAY_SORT" -> n(s"ARRAY_SORT($arr)"),
      "LIST_APPEND" -> n(s"LIST_APPEND($arr, 'q')"),
      "LIST_CONCAT" -> n(s"LIST_CONCAT($arr, $arr)"),
      "LIST_CONTAINS" -> n(s"LIST_CONTAINS($arr, 'RGENTIN')"),
      "LIST_LENGTH" -> n(s"LIST_LENGTH($arr)"),
      "LIST_POSITION" -> n(s"LIST_POSITION($arr, 'nope')"),
      "AVG" -> a("ROUND(AVG(n_nationkey), 6)"),
      "COUNT" -> a("COUNT(*)"),
      "COUNTIF" -> a("COUNTIF(n_regionkey = 2)"),
      "MAX" -> a("MAX(n_nationkey)"),
      "MIN" -> a("MIN(n_name)"),
      "SUM" -> a("SUM(n_nationkey)"),
      "MEDIAN" -> a("MEDIAN(n_nationkey)"),
      "STDDEV_POP" -> a("ROUND(STDDEV_POP(n_nationkey), 6)"),
      "STDDEV_SAMP" -> a("ROUND(STDDEV_SAMP(n_nationkey), 6)"),
      "PERCENTILE_CONT" -> a("PERCENTILE_CONT(0.25, n_nationkey)"),
      "APPROX_QUANTILE" -> a("APPROX_QUANTILE(n_nationkey, 0.5)"),
      "STRING_AGG" -> a("LENGTH(STRING_AGG(n_name, ','))"),
      "ARRAY_AGG" -> a("ARRAY_SORT(ARRAY_AGG(n_regionkey))"),
      "LIST" -> a("ARRAY_SORT(LIST(n_regionkey))"),
      "ROW_NUMBER" ->
        n("ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)"),
      "LAG" -> n("LAG(n_nationkey, 1, -1) OVER (ORDER BY n_nationkey)"),
      "LEAD" -> n("LEAD(n_nationkey, 2, -1) OVER (ORDER BY n_nationkey)"),
      "ST_GEOMFROMTEXT" -> o(s"ST_CONTAINS($poly, $pt)"),
      "ST_CONTAINS" -> o(s"ST_CONTAINS($poly, $inner)"),
      "ST_CONTAINSPROPERLY" -> o(s"ST_CONTAINSPROPERLY($poly, $inner)"),
      "ST_WITHIN" -> o(s"ST_WITHIN($inner, $poly)"),
      "ST_INTERSECTS" -> o(s"ST_INTERSECTS($poly, $inner)"),
      "ST_OVERLAPS" -> o(s"ST_OVERLAPS($poly, ST_GEOMFROMTEXT('POLYGON((5 5,15 5,15 15,5 15,5 5))'))"),
      "ST_TOUCHES" -> o(s"ST_TOUCHES($poly, ST_GEOMFROMTEXT('POLYGON((10 0,20 0,20 10,10 10,10 0))'))"),
      "ST_EQUALS" -> o(s"ST_EQUALS($poly, $poly)"),
      "ST_CROSSES" -> o(s"ST_CROSSES(ST_GEOMFROMTEXT('LINESTRING(-5 5,15 5)'), $poly)"),
      "ST_COVERS" -> o(s"ST_COVERS($poly, $inner)"),
      "ST_COVEREDBY" -> o(s"ST_COVEREDBY($inner, $poly)"),
      "ST_DWITHIN" -> o(s"ST_DWITHIN($pt, ST_GEOMFROMTEXT('POINT(8 5)'), 4)"),
      "ST_MAKEENVELOPE" -> o(s"ST_CONTAINS(ST_MAKEENVELOPE(0, 0, 10, 10), $pt)"),
      "ST_ASTEXT" -> o(s"ST_ASTEXT($pt)"),
      "UNNEST" -> "SELECT v FROM UNNEST(STRING_SPLIT('a b c', ' ')) AS u(v)",
      "EXPLODE" -> "SELECT v FROM EXPLODE(STRING_SPLIT('x y z', ' ')) AS u(v)",
      "JSON_EACH" -> "SELECT value AS v FROM JSON_EACH('[3,1,2]') ORDER BY v")
    // nondeterministic by nature — resolving through analysis is the contract
    val validateOnly: Map[String, String] = Map(
      "RAND" -> o("(RAND() >= 0)"),
      "RANDOM" -> o("(RANDOM() >= 0)"),
      "CURRENT_DATE" -> o("(LENGTH(CAST(CURRENT_DATE AS VARCHAR)) >= 10)"),
      "CURRENT_TIME" -> o("(LENGTH(CAST(CURRENT_TIME AS VARCHAR)) >= 8)"),
      "CURRENT_TIMESTAMP" -> o("(LENGTH(CAST(CURRENT_TIMESTAMP AS VARCHAR)) >= 19)"),
      "JSON_ARRAYAGG" -> a("JSON_ARRAYAGG(n_regionkey)")) // pinned in GraftSqlSpec aliases
    val missing = registry.filterNot(f => diffable.contains(f) || validateOnly.contains(f))
    assert(missing.isEmpty, s"registry functions without a canonical call: $missing")
    val qs = diffable.toSeq.sortBy(_._1)
    val refs = runReference(qs.map(_._2))
    val problems = qs.zip(refs).flatMap { case ((f, q), ref) =>
      (runSpark(q), ref) match {
        case (Right(s), Right(r)) =>
          val same = s.length == r.length && s.zip(r).forall { case (x, y) =>
            x.keySet == y.keySet &&
              x.keySet.forall(k => vEq(x(k), y(k), jsonBridge = true))
          }
          if (same) None else Some(s"$f: results differ (${s.length} vs ${r.length} rows)\n  $q")
        case (Left(e), _) => Some(s"$f: spark ERROR ${e.take(160)}\n  $q")
        case (_, Left(e)) => Some(s"$f: reference ERROR ${e.take(160)}\n  $q")
      }
    }
    assert(problems.isEmpty, s"${problems.length} problem(s):\n${problems.mkString("\n")}")
    validateOnly.toSeq.sortBy(_._1).foreach { case (f, q) =>
      assert(GraftSql.validate(spark, q).isRight, s"$f failed validate: $q")
    }
    info(s"registry=${registry.size} diffable=${diffable.size} validateOnly=${validateOnly.size}")
  }

  test("interval property fuzz: graft_js_interval == applyIntervalToDate on random cases") {
    assume(RefCheckout.nodeOk, "node not available")
    import spark.implicits._
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val r = new scala.util.Random(2024L)
    val units = Seq("SECOND", "MINUTE", "HOUR", "DAY", "MONTH", "YEAR")
    // raw shapes: date-only, T-datetime (± seconds/millis/Z), SPACE
    // datetime (truncates — no 'T'), and invalid strings (null)
    def rawDate(): String = {
      val y = 1900 + r.nextInt(250)
      val mo = 1 + r.nextInt(12)
      val d = 1 + r.nextInt(31) // deliberately includes invalid Feb 30 etc.
      val base = f"$y%04d-$mo%02d-$d%02d"
      r.nextInt(6) match {
        case 0 | 1 => base
        case 2 => f"${base}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
        case 3 => f"${base}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d.${r.nextInt(1000)}%03dZ"
        case 4 => f"$base ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
        case _ => Seq("garbage", "12345", "2024/01/01", "",
          s"${base}T24:00:00",       // V8: next midnight
          f"${base}t${r.nextInt(24)}%02d:30:00", // lowercase t parses; no 'T' → date-only
          s" $base",                 // leading space: toDate's anchor rejects
          s"$base ",                 // trailing space: V8 accepts
          s"${base}T10:00:00z")(r.nextInt(9))
      }
    }
    def value(): Double = r.nextInt(5) match {
      case 0 => r.nextInt(200) - 100
      case 1 => (r.nextInt(2000) - 1000) / 10.0
      case 2 => (r.nextInt(200) - 100) + 0.5
      case 3 => r.nextInt(100000) - 50000
      case _ => Seq(0.0, -0.5, 0.9, -0.9, 1.0e4 + 0.25)(r.nextInt(5))
    }
    val cases = (1 to 400).map { _ =>
      (rawDate(), value(), units(r.nextInt(units.length)), if (r.nextBoolean()) "+" else "-")
    }
    // reference side: one node process over the whole batch
    val arr = om.createArrayNode()
    cases.foreach { case (raw, v, u, op) =>
      val o = om.createObjectNode()
      o.put("raw", raw); o.put("v", v); o.put("unit", u); o.put("op", op)
      arr.add(o)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/ivl_cases.json"), om.writeValueAsString(arr))
    val pb = new ProcessBuilder("node", "tools/fuzz_interval_ref.mjs",
      s"$workDir/ivl_cases.json", s"$workDir/ivl_out.json")
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("fuzz_interval_ref.mjs", proc.waitFor(), log.takeRight(1000))
    val refOut = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workDir/ivl_out.json")))
    // graft side: the UDF over the same batch, with the string-world
    // kind dispatch the rewrite computes per row
    GraftSql.ensureHelpers(spark)
    val got = cases.toDF("raw", "v", "u", "op")
      .selectExpr("unix_millis(graft_js_interval(raw, v, u, op, " +
        "CASE WHEN raw LIKE '%T%' THEN 'ts_str' ELSE 'date_str' END)) AS ms")
      .collect().map(row => if (row.isNullAt(0)) None else Some(row.getLong(0)))
    val bad = cases.zipWithIndex.flatMap { case ((raw, v, u, op), i) =>
      val want = if (refOut.get(i).isNull) None else Some(refOut.get(i).asLong())
      if (want == got(i)) None
      else Some(s"#$i ('$raw', $v, $u, '$op'): ref=$want graft=${got(i)}")
    }
    info(s"interval cases=${cases.size} divergences=${bad.size}")
    assert(bad.isEmpty, s"${bad.size} interval divergences:\n" + bad.take(15).mkString("\n"))
  }

  test("interval CHAIN property fuzz: multi-step dialect arithmetic == reference fold") {
    assume(RefCheckout.nodeOk, "node not available")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val r = new scala.util.Random(4242L)
    val units = Seq("SECOND", "MINUTE", "HOUR", "DAY", "MONTH", "YEAR")
    def base(): String = {
      val y = 1950 + r.nextInt(120)
      val b = f"$y%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(31)}%02d"
      r.nextInt(3) match {
        case 0 => b
        case 1 => f"${b}T${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
        case _ => f"$b ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
      }
    }
    def v(): String = r.nextInt(4) match {
      case 0 => (r.nextInt(60) - 30).toString
      case 1 => s"'${(r.nextInt(60) - 30)}.5'"
      case 2 => (1 + r.nextInt(40)).toString
      case _ => s"'${r.nextInt(100)}'"
    }
    // 200 cases of 2-3 chained ops: the rewrite must thread the
    // ORIGINAL operand's kind through every step (the reference
    // reformats to a date-only or ISO STRING between steps)
    val cases = (1 to 200).map { _ =>
      val steps = (1 to (2 + r.nextInt(2))).map { _ =>
        (v(), units(r.nextInt(units.length)), if (r.nextBoolean()) "+" else "-")
      }
      (base(), steps)
    }
    val arr = om.createArrayNode()
    cases.foreach { case (raw, steps) =>
      val o = om.createObjectNode()
      o.put("raw", raw)
      val sa = om.createArrayNode()
      steps.foreach { case (vv, u, op) =>
        val so = om.createObjectNode()
        so.put("v", vv.replace("'", "").toDouble); so.put("unit", u); so.put("op", op)
        sa.add(so)
      }
      o.set("steps", sa)
      arr.add(o)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$workDir/ivl_chain_cases.json"), om.writeValueAsString(arr))
    val pb = new ProcessBuilder("node", "tools/fuzz_interval_ref.mjs",
      s"$workDir/ivl_chain_cases.json", s"$workDir/ivl_chain_out.json")
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("fuzz_interval_ref.mjs", proc.waitFor(), log.takeRight(1000))
    val refOut = om.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$workDir/ivl_chain_out.json")))
    // graft side: the DIALECT TEXT itself (literal base ± chain) runs
    // through the full translation — this is what exercises kind threading.
    // Batched 25 per statement.
    val sqlOf: ((String, Seq[(String, String, String)])) => String = { case (raw, steps) =>
      steps.map { case (vv, u, op) => s" $op INTERVAL $vv $u" }
        .mkString(s"'$raw'", "", "")
    }
    val got = cases.grouped(25).flatMap { grp =>
      val exprs = grp.zipWithIndex
        .map { case (c, i) => s"unix_millis(${sqlOf(c)}) AS c$i" }
      val row = GraftSql.sql(spark, s"SELECT ${exprs.mkString(", ")}").first()
      (0 until grp.size).map(i => if (row.isNullAt(i)) None else Some(row.getLong(i)))
    }.toIndexedSeq
    val bad = cases.zipWithIndex.flatMap { case ((raw, steps), i) =>
      val want = if (refOut.get(i).isNull) None else Some(refOut.get(i).asLong())
      if (want == got(i)) None
      else Some(s"#$i ('$raw' ${steps.mkString(" ")}): ref=$want graft=${got(i)}")
    }
    info(s"chain cases=${cases.size} divergences=${bad.size}")
    assert(bad.isEmpty, s"${bad.size} chain divergences:\n" + bad.take(15).mkString("\n"))
  }

  test("fuzz corpus also exercises validate/tables/maxRows without crashing") {
    assume(RefCheckout.nodeOk, "node not available")
    val queries = FuzzGen.queries(seed = 7L, n = 60)
    fuzzTables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    queries.foreach { q =>
      GraftSql.validate(spark, q) // Left is fine; throwing is not
      val ts = GraftSql.tables(spark, q)
      assert(ts.forall(_.startsWith("f_")), s"unexpected table names $ts for: $q")
      GraftSql.maxRows(spark, q)
    }
  }
}
