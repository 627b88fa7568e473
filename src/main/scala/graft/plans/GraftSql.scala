package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Dialect front-end: accepts the reference engine's SQL dialect
  * (DuckDB/Postgres-flavored SELECT-only — reference: src/parse, syntax.md)
  * and runs it on Spark, translating it in two halves:
  *
  *  - text passes ([[rewrite]]) for what Spark's parser cannot read or
  *    would misread: FROM-first statements, set-op arm tails, bracket
  *    array literals, POSITIONAL JOIN, DISTINCT ON, comma table
  *    functions, JSON arrows, `struct_pack(k := v)`, TYPEOF, CAST
  *    (VARCHAR/TEXT targets do not parse), GLOB, CURRENT_TIME, TIMESTAMP
  *    literals, markers for numeric INTERVAL literals (fractional values
  *    do not parse), unit-form date_diff, the `~`/`!~` operators,
  *    `* EXCLUDE` and bare-DESC null ordering (the parsed plan cannot
  *    tell a bare DESC from `DESC NULLS LAST`);
  *  - on the parsed plan, which [[prepare]] translates before its checks
  *    and the analysis: select aliases substituted in order into every
  *    SELECT block ([[graft.plans.rewrite.SelectAliases]]), NOT IN with
  *    the reference's null semantics
  *    ([[graft.plans.rewrite.NotInExists]]), `± INTERVAL` arithmetic
  *    with the reference's JS Date semantics
  *    ([[graft.plans.rewrite.IntervalArith]]), then every other function
  *    call (renames, JS value coercions, literal argument guards, the
  *    DISTINCT/FILTER-aware aggregates, EXTRACT fields) and the
  *    `||`/LIKE operand coercion, LIKE → ILIKE, zero divisors, numeric
  *    subscripts and the input order of ranking windows in one
  *    transform, [[graft.plans.rewrite.PlanCalls]].
  */
object GraftSql {

  // ALL quote/paren/comment classification lives in the shared lexer —
  // every text pass consumes its token stream (SqlTok.View); no pass
  // keeps a private scanner (the per-rewrite guard stacks produced the
  // alias-after-paren wrong-rows bugs of rounds 11-12).
  import SqlTok.stripComments

  // the text passes live in per-pass modules on the shared SqlTok
  // substrate (plans/rewrite/); this object keeps their ordered pipeline
  // (rewrite is THE one statement of pass order) and the host API.
  // A pass stays text only where Spark's parser cannot read its input or
  // would misread it, or where a later text pass emits the name it
  // matches (TYPEOF); each call-shaped one says why at the pass. Select
  // aliases, NOT IN, interval arithmetic, and every call and operator
  // Spark parses are translated after parsing.
  import _root_.graft.plans.rewrite.RewriteSupport._
  import _root_.graft.plans.rewrite.SkeletonPasses._
  import _root_.graft.plans.rewrite.JsCoercionPasses._
  import _root_.graft.plans.rewrite.IntervalPasses._
  import _root_.graft.plans.rewrite.{IntervalArith, NotInExists, PlanCalls, SelectAliases}

  /** The text half of the translation: one squirreling-dialect
    * statement as text Spark's parser reads. Select aliases, NOT IN,
    * interval arithmetic (around its literal markers), function calls
    * and the operators PlanCalls owns are left as written; the host
    * entry points translate them on the parsed plan.
    */
  def rewrite(sqlText: String): String = {
    var s = sqlText

    // comments go first — they are whitespace to the engine, and every
    // regex rewrite below (and the FROM-first backward scan) is simpler
    // and safer over comment-free text (quote-aware strip)
    s = stripComments(s)

    // FROM-first statements before anything — they restructure the
    // skeleton every later rewrite anchors on (a SELECT list)
    s = rewriteFromFirst(s)

    // mid-chain set-op arm tails next (needs the SELECT the FROM-first
    // pass just inserted; wraps tailed arms into subqueries BEFORE any
    // pass that anchors on the statement skeleton)
    s = rewriteSetOpArmTails(s)

    // bracket array literals first — they can appear inside any later
    // construct ([1,2,3] → array(1,2,3); subscripts like items[1] keep,
    // and PlanCalls translates them on the parsed plan)
    s = rewriteArrayLiterals(s)

    // POSITIONAL JOIN next (it restructures the FROM — and without the
    // rewrite Spark silently reads POSITIONAL as a table alias)
    s = rewritePositionalJoin(s)

    // DISTINCT ON first — it restructures the statement skeleton
    s = rewriteDistinctOn(s)

    // comma-joined table functions next (they restructure the FROM)
    s = rewriteCommaTvf(s)

    // ->> / -> json access chains (j -> 'a' ->> 0 ...) collapse into ONE
    // get_json_object with a combined path — both more efficient (one
    // parse of the document) and single-pass-tractable. Base: a dotted
    // identifier chain; steps: quoted field names or bare indices.
    // Guard: an arrow whose innermost enclosing call is a higher-order
    // function is a lambda body (list_transform(xs, x -> 'p' || x)), not
    // JSON access — left untouched.
    s = tokenEdit(s) { v =>
      val t = v.toks
      val edits = Seq.newBuilder[(Int, Int, String)]
      var k = 0
      while (k < t.length) {
        val headless = t(k).kind == SqlTok.Word &&
          !(k > 0 && t(k - 1).isOp(".") && t(k - 1).end == t(k).start)
        if (headless) {
          // extend the dotted base: `.word` / `.123` segments, adjacent
          var end = k
          while (end + 2 < t.length && t(end + 1).isOp(".") &&
              t(end).end == t(end + 1).start &&
              t(end + 1).end == t(end + 2).start &&
              (t(end + 2).kind == SqlTok.Word || t(end + 2).kind == SqlTok.Num)) end += 2
          var j = end + 1
          val path = new StringBuilder
          var cont = true
          while (cont && j + 1 < t.length && t(j).kind == SqlTok.Op &&
              (t(j).up == "->" || t(j).up == "->>")) {
            val a = t(j + 1)
            if (a.kind == SqlTok.Str && a.up.length >= 2 && a.up.endsWith("'") &&
                !a.up.substring(1, a.up.length - 1).contains("'")) {
              path.append('.').append(a.up.substring(1, a.up.length - 1)); j += 2
            } else if (a.kind == SqlTok.Num && a.up.forall(_.isDigit)) {
              path.append('[').append(a.up).append(']'); j += 2
            } else cont = false
          }
          if (path.nonEmpty && !isHofContext(v, k)) {
            val base = v.s.substring(t(k).start, t(end).end)
            edits += ((t(k).start, t(j - 1).end,
              s"get_json_object(graft_json_input($base), '$$$path')"))
          }
          k = math.max(j, end + 1)
        } else k += 1
      }
      edits.result()
    }

    // struct_pack(k := v, ...) → named_struct('k', v, ...): text, as
    // Spark's parser cannot read `k := v`
    s = rewriteCall(s, "struct_pack", args => {
      val kv = args.map { a =>
        val parts = a.split(":=", 2)
        if (parts.length == 2) s"'${parts(0).trim}', ${parts(1).trim}" else a
      }
      s"named_struct(${kv.mkString(", ")})"
    })

    // TYPEOF → DuckDB-style names over Spark typeof (the doubled
    // upper(typeof(..)) is free — typeof is foldable, so Catalyst
    // constant-folds it at analysis time). Text, before the cast pass:
    // it emits Spark typeof, which a later pass could not tell apart
    // (qualified system.builtin.typeof does not resolve).
    s = rewriteCall(s, "typeof", args => {
      val t = s"upper(typeof(${args.mkString(", ")}))"
      s"(CASE $t WHEN 'STRING' THEN 'VARCHAR' WHEN 'INT' THEN 'INTEGER' ELSE $t END)"
    })

    // Lenient NUMERIC casts (reference: src/expression/evaluate.js:711-726
    // — Number(val) with NaN → null, Math.trunc for integer targets, a
    // bigint passthrough shortcut). Spark 4's ANSI CAST throws on
    // 'abc'::BIGINT and on '12.7'→BIGINT where the reference returns
    // null and 12. coalesce(try_cast direct, try_cast via DOUBLE)
    // reproduces all three behaviors: exact when the input already fits
    // (the bigint shortcut), truncation-through-double for numeric
    // strings (including the reference's inherent >2^53 precision loss),
    // null for garbage. Non-numeric targets keep ANSI semantics. Text:
    // Spark's parser rejects CAST(x AS VARCHAR) and CAST(x AS TEXT).
    def lenientNum(e: String, tgt: String): String = {
      // JS Number('') = 0 — a blank string casts to ZERO, not null
      val blankZero = s"CASE WHEN trim(($e)) = '' THEN try_cast(0 AS $tgt) END"
      if (tgt == "DOUBLE" || tgt == "FLOAT" || tgt == "REAL")
        s"coalesce(try_cast(($e) AS $tgt), $blankZero)"
      else
        s"coalesce(try_cast(($e) AS $tgt), " +
          s"try_cast(try_cast(($e) AS DOUBLE) AS $tgt), $blankZero)"
    }
    s = rewriteCall(s, "cast", args =>
      if (args.length == 1) {
        val m = raw"(?is)^(.*\S)\s+AS\s+(INTEGER|INT|BIGINT|SMALLINT|TINYINT|FLOAT|REAL|DOUBLE)\s*$$".r
        val ms = raw"(?is)^(.*\S)\s+AS\s+(VARCHAR|STRING|TEXT)\s*$$".r
        val mt = raw"(?is)^(.*\S)\s+AS\s+TIMESTAMP\s*$$".r
        args.head match {
          // TIMESTAMP targets: the reference's new Date(v) reads NUMBERS
          // (and numeric strings) as epoch MILLIS — Spark's numeric→
          // timestamp cast reads SECONDS — and yields null, not an
          // error, for unparseable text (execute.cast tests). typeof
          // dispatches so an already-typed timestamp/date stays exact.
          case mt(e) =>
            s"(CASE WHEN typeof(($e)) IN ('timestamp', 'date') " +
              s"THEN try_cast(($e) AS TIMESTAMP) " +
              s"WHEN try_cast(($e) AS BIGINT) IS NOT NULL " +
              s"THEN timestamp_millis(try_cast(($e) AS BIGINT)) " +
              s"WHEN try_cast(($e) AS DOUBLE) IS NOT NULL " +
              s"THEN timestamp_millis(${lenientNum(s"try_cast(($e) AS DOUBLE)", "BIGINT")}) " +
              s"ELSE try_cast(($e) AS TIMESTAMP) END)"
          // string targets render JS-style: String(2.0) = '2', not
          // '2.0' — and objects/Dates via JSON.stringify (cast mode:
          // CAST([1,2] AS VARCHAR) = '[1,2]', a Date casts to the
          // QUOTED ISO form; evaluate.js:703-706)
          case ms(e, _) => s"graft_js_cast_str(($e))"
          case m(e, t) => lenientNum(e, t.toUpperCase(java.util.Locale.ROOT))
          case other => s"cast($other)"
        }
      } else s"cast(${args.mkString(", ")})")

    // x GLOB 'pat' → x RLIKE '^…$' (literal patterns — the dialect form)
    s = tokenEdit(s) { v =>
      v.toks.indices.collect {
        case k if v.at(k, "GLOB", "'") && v.toks(k + 1).up.endsWith("'") =>
          val pat = v.toks(k + 1).up.stripPrefix("'").stripSuffix("'")
          (v.toks(k).start, v.toks(k + 1).end, s"RLIKE '${globToRegex(pat)}'")
      }
    }

    // CURRENT_TIME: Spark 4 has no TIME type — the reference renders
    // HH:MM:SS.sss text (date.js), which date_format reproduces.
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if t(k).is("CURRENT_TIME") =>
          val end = if (v.at(k + 1, "(", ")")) t(k + 2).end else t(k).end
          (t(k).start, end, "date_format(current_timestamp(), 'HH:mm:ss.SSS')")
      }
    }

    // TIMESTAMP 'lit' typed literals: the reference yields NULL for an
    // unparseable timestamp (new Date → Invalid Date → null) where
    // Spark rejects the literal at analysis
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if v.at(k, "TIMESTAMP", "'") && t(k + 1).start > t(k).end =>
          (t(k).start, t(k + 1).end, s"try_cast(${t(k + 1).up} AS TIMESTAMP)")
      }
    }

    // numeric INTERVAL literals become markers: Spark's parser rejects
    // the fractional values (INTERVAL '2.5' MONTH) the reference accepts.
    // IntervalArith translates the arithmetic around them on the plan.
    s = markIntervalLiterals(s)

    // unit-form date_diff('day', a, b): reference semantics are calendar
    // diff for YEAR/MONTH and truncated elapsed time for smaller units
    // (reference: src/expression/date.js:110) — not Spark's datediff;
    // only the string-unit form reroutes (first argument a literal).
    // Text: Spark's parser rejects a quoted unit
    // (INVALID_PARAMETER_VALUE.DATETIME_UNIT).
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if (t(k).is("DATE_DIFF") || t(k).is("DATEDIFF")) &&
            v.at(k + 1, "(", "'") =>
          (t(k).start, t(k).end, "graft_datediff")
      }
    }

    // Postgres regexp operators: a ~ p / a !~ p / a NOT REGEXP p
    // (space-separated operator forms, matching the old regexes: the
    // left operand ends in a word/number/literal/close-paren)
    s = tokenEdit(s) { v =>
      val t = v.toks
      def operand(k: Int): Boolean = k > 0 && {
        val p = t(k - 1)
        (p.kind == SqlTok.Word || p.kind == SqlTok.Num ||
          p.kind == SqlTok.Str || p.kind == SqlTok.RPar) && p.end < t(k).start
      }
      t.indices.collect {
        case k if t(k).isOp("!~") && operand(k) &&
            k + 1 < t.length && t(k).end < t(k + 1).start =>
          (t(k).start, t(k).end, "NOT RLIKE")
        case k if t(k).isOp("~") && operand(k) &&
            k + 1 < t.length && t(k + 1).kind == SqlTok.Str &&
            t(k).end < t(k + 1).start =>
          (t(k).start, t(k).end, "RLIKE")
        case k if t(k).is("REGEXP") && k > 0 && t(k - 1).is("NOT") =>
          (t(k).start, t(k).end, "RLIKE")
      }
    }

    // DuckDB SELECT * EXCLUDE (...) → Spark SELECT * EXCEPT (...)
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if t(k).is("EXCLUDE") && k > 0 && t(k - 1).isOp("*") &&
            v.at(k + 1, "(") =>
          (t(k).start, t(k).end, "EXCEPT")
      }
    }

    // Reference null ordering: nulls sort FIRST regardless of direction
    // unless NULLS LAST is explicit (execute/utils.js:19-23 — the null
    // branch returns BEFORE the DESC flip). Spark's bare-DESC default is
    // NULLS LAST, so every bare DESC gets the explicit modifier. (Bare
    // ASC already agrees: both default nulls-first ascending.)
    // ...token-scoped to ORDER BY tails (incl. window-spec ORDER BY):
    // the old global \bDESC\b regex also fired on DESC used as an
    // IDENTIFIER (`SELECT desc …` — the reference reads bare keywords
    // as columns), corrupting the statement (seed-135555 mutation find).
    // Text, because the parser fills in NULLS LAST for a bare DESC, so
    // the plan cannot tell it from an explicit DESC NULLS LAST.
    rewriteBareDesc(s)
  }

  /** Constructs Spark parses but silently misreads, where the reference
    * raises a parse error (reference: test/parse/parse.errors.test.js).
    * Spark's non-reserved keywords absorb them as aliases:
    *   - `SELECT * FROM users WHERE` → `users AS WHERE` (the user's
    *     dangling clause vanishes);
    *   - `SELECT name AS FROM users` → a column literally named `AS`;
    *   - `SELECT k FROM t GROUP GROUP BY k` → `t AS GROUP`;
    *   - duplicate CTE names resolve to the LAST definition, silently.
    * Each would return an answer to a question the user didn't ask, so
    * the host-facing surfaces reject them up front.
    */
  private val clauseKw = Set("WHERE", "LIMIT", "OFFSET", "ORDER", "GROUP",
    "HAVING", "BY", "ON", "AND", "OR", "AS", "FROM", "SELECT", "UNION",
    "INTERSECT", "EXCEPT", "JOIN", "IN", "NOT", "DISTINCT", "WHEN",
    "THEN", "ELSE", "BETWEEN", "LIKE")

  private val aliasBanKw = Set("FROM", "WHERE", "GROUP", "ORDER", "LIMIT",
    "OFFSET", "HAVING", "JOIN", "ON", "UNION", "INTERSECT", "EXCEPT", "SELECT")

  /** The token half of the misparse gate, on comment-free text. */
  private def tokenLint(text: String): Option[String] = {
    // double-quoted identifiers can contain keyword-shaped text
    // (`SELECT x AS "AS FROM"` is a legal quoted alias); the token
    // stream classifies them, so the checks read Word tokens directly
    val t = new SqlTok.View(text).toks
    def banned(k: Int) = k < t.length && t(k).kind == SqlTok.Word && aliasBanKw(t(k).up)
    def setOpArm(k: Int) = (t(k).is("UNION") || t(k).is("INTERSECT") || t(k).is("EXCEPT")) &&
      (t(k + 1).is("SELECT") || t(k + 1).is("FROM"))
    t.reverseIterator.dropWhile(_.kind == SqlTok.Semi).nextOption()
      .filter(x => x.kind == SqlTok.Word && clauseKw(x.up))
      .map(w => s"query ends in a dangling ${w.up} clause")
      .orElse(t.indices.collectFirst {
        case k if t(k).is("AS") && banned(k + 1) => t(k + 1).up
        // a clause keyword right before another cannot open its clause,
        // so Spark reads it as an implicit alias (`FROM t GROUP GROUP BY k`)
        case k if banned(k) && banned(k + 1) && !setOpArm(k) => t(k).up
      }.map(w => s"alias cannot be the clause keyword $w"))
  }

  /** Duplicate CTE names (case-insensitive) within one WITH list: Spark
    * would silently resolve to the last definition. */
  private def duplicateCte(parsed: LogicalPlan): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    parsed.collect { case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT)) }
      .iterator.flatMap(names => names.diff(names.distinct).headOption)
      .nextOption().map(dup => s"duplicate CTE name: $dup")
  }

  /** Reject set operations whose arms disagree on a column's TYPE
    * GROUP (numeric vs string vs boolean vs datetime). The reference
    * keys set-op rows by RAW JS value (execute/utils.js:175 keyify →
    * Map/Set SameValueZero), so `SELECT 1 INTERSECT SELECT '1'` is
    * EMPTY there (number 1 and string '1' are distinct keys) and a
    * UNION of the two yields a heterogeneous column — while Spark
    * widens both arms to one type and would MATCH them (probed: the
    * reference returns [] / both rows). No Spark column type can carry
    * the JS value-typed semantics, so the honest move is a loud,
    * explained error instead of silently coerced set semantics.
    * Within one group the coercion is harmless: JS numbers have no
    * int/double split, so widening INT to DOUBLE preserves every key.
    * Arms that cannot be analyzed in isolation (CTE references,
    * correlated columns) are skipped — this guard only fires on a
    * PROVEN group mismatch.
    */
  private def setOpTypeGuard(spark: SparkSession, parsed: LogicalPlan): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Except, Intersect, Union}
    import org.apache.spark.sql.types._
    def group(dt: DataType): String = dt match {
      case _: NumericType => "numeric"
      case _: StringType => "string"
      case BooleanType => "boolean"
      case DateType | TimestampType | TimestampNTZType => "datetime"
      case NullType => "*"
      case ArrayType(e, _) => s"array<${group(e)}>"
      case other => other.simpleString
    }
    def armGroups(child: LogicalPlan): Option[Seq[(String, String)]] =
      try Some(spark.sessionState.executePlan(child).analyzed.output
        .map(a => (a.name, group(a.dataType))))
      catch { case scala.util.control.NonFatal(_) => None }
    def compatible(a: String, b: String): Boolean =
      a == b || a == "*" || b == "*" ||
        (a.startsWith("array<") && b.startsWith("array<") &&
          (a.contains("<*>") || b.contains("<*>")))
    def mismatch(so: LogicalPlan): Option[String] = {
      val arms = so.children.flatMap(armGroups(_))
      if (arms.size != so.children.size || arms.isEmpty) None
      else arms.tail.iterator.flatMap(arm => arms.head.zip(arm).collectFirst {
        case ((name, a), (_, b)) if !compatible(a, b) =>
          s"heterogeneous set operation: column $name is $a in one arm and " +
            s"$b in another — the reference keys set-op rows by raw JS value " +
            "(1 and '1' are distinct), which Spark's unified column types " +
            "cannot represent; cast the arms to one type explicitly"
      }).nextOption()
    }
    parsed.collect { case so @ (_: Union | _: Intersect | _: Except) => so }
      .iterator.flatMap(mismatch).nextOption()
  }

  /** A query as [[prepare]] leaves it: the parsed plan with its calls
    * translated, and the analyzed DataFrame built from that same plan. */
  private final case class Prepared(parsed: LogicalPlan, df: DataFrame)

  /** The one path from dialect text to an analyzed plan, shared by every
    * host entry point. In order: strip comments and run the token lint;
    * run the text passes once; parse once, in the session's conf; on the
    * parsed plan substitute select aliases, translate NOT IN, the
    * interval arithmetic, then the calls; run the duplicate-CTE check
    * and the set-op guard on that plan; analyze that same plan once.
    * `Left` is the misparse gate's reason for refusing the text. When
    * the analysis of a plan carrying the NOT IN translation fails, the
    * same parsed plan is translated without it and analyzed instead.
    */
  private def prepare(spark: SparkSession, sqlText: String): Either[String, Prepared] = {
    ensureHelpers(spark)
    val text = stripComments(sqlText).stripTrailing()
    tokenLint(text).toLeft(()).flatMap { _ =>
      val parsed = SelectAliases(GraftPlanBridge.parse(spark, rewrite(text)))
      val notIn = NotInExists(parsed)
      def calls(p: LogicalPlan) = GraftPlanBridge.active(spark)(PlanCalls(IntervalArith(p)))
      def analyze(p: LogicalPlan) = Prepared(p, GraftPlanBridge.ofRows(spark, p))
      val plan = calls(notIn)
      duplicateCte(plan).orElse(setOpTypeGuard(spark, plan)).toLeft {
        try analyze(plan)
        catch { case _: AnalysisException if notIn != parsed => analyze(calls(parsed)) }
      }
    }
  }

  /** [[prepare]], with a refusal thrown as `IllegalArgumentException`. */
  private def prepareOrThrow(spark: SparkSession, sqlText: String): Prepared =
    prepare(spark, sqlText).fold(
      msg => throw new IllegalArgumentException(s"invalid query: $msg"), identity)

  /** Run a squirreling-dialect query. Tables must already be registered
    * (e.g. via `graft.sources.Tables.registerAll`).
    */
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    geoJson(prepareOrThrow(spark, sqlText).df)

  // the dialect's only BinaryType values are geometries (the reference
  // has no binary type) — render them as GeoJSON text, the reference's
  // client-visible geometry shape, never the internal codec bytes
  private def geoJson(df: DataFrame): DataFrame =
    if (df.schema.exists(_.dataType == org.apache.spark.sql.types.BinaryType)) {
      val cols = df.schema.fields.toIndexedSeq.map { f =>
        val c = org.apache.spark.sql.functions.col(s"`${f.name}`")
        if (f.dataType == org.apache.spark.sql.types.BinaryType)
          org.apache.spark.sql.functions
            .call_function("st_asgeojson", c).as(f.name)
        else c
      }
      df.select(cols: _*)
    } else df

  /** [[sql]] with the reference's TWO-VALUED null comparison logic
    * (binary.js:32-35: comparisons/AND/OR with a null operand are
    * FALSE, `NOT null` is true, IN never matches null) applied to the
    * analyzed plan via [[StrictJsNulls]]. Opt-in per query: the
    * engine-wide default stays three-valued SQL because that keeps
    * predicates translatable to parquet PushedFilters — this mode
    * trades scan pushdown on the wrapped predicates for exact
    * reference rows, for the queries where that matters.
    */
  def sqlStrictNulls(spark: SparkSession, sqlText: String): DataFrame =
    GraftPlanBridge.ofRows(spark, StrictJsNulls(sql(spark, sqlText).queryExecution.analyzed))

  /** Validate a query without executing it — the reference's
    * parse/validation error surface (reference: src/validation/
    * parseErrors.js + functions.js signature checks), which hosts run on
    * user SQL before committing to execution. Parse + analyze only (no
    * jobs): unknown tables/columns, arity and type errors all surface
    * here as `Left(message)`.
    */
  def validate(spark: SparkSession, sqlText: String): Either[String, Unit] =
    try prepare(spark, sqlText).map(_ => ())
    catch {
      // ParseException extends AnalysisException, so one case covers
      // both syntax and semantic errors
      case e: AnalysisException => Left(e.getMessage)
      // the pre-parse text passes are surgery over untrusted SQL text
      // — any failure there is a validation failure, never a crash of
      // the host-facing surface
      case scala.util.control.NonFatal(e) =>
        Left(s"invalid query: ${e.getMessage}")
    }

  /** Static upper bound on the result's row count, when one is derivable
    * from the query alone — the reference's `maxRows` surface (its host
    * UI sizes result pagination with it; reference:
    * test/execute/numRows.test.js). Catalyst derives it through LIMIT,
    * VALUES, single-row aggregates, joins and unions of bounded inputs;
    * an unbounded scan yields None. Analysis only — nothing executes.
    */
  def maxRows(spark: SparkSession, sqlText: String): Option[Long] =
    prepareOrThrow(spark, sqlText).df.queryExecution.analyzed.maxRows

  /** The optimized logical plan as text — the reference's `planSql`
    * surface (hosts introspect the plan BEFORE executing: is the filter
    * pushed down, did the LIMIT fold into the sort, how many sources).
    * Catalyst's optimized plan is the honest analog of the reference's
    * post-pushdown logical nodes (reference: src/plan/plan.js). Parse +
    * analyze + optimize only — no jobs run.
    */
  def plan(spark: SparkSession, sqlText: String): String =
    prepareOrThrow(spark, sqlText).df.queryExecution.optimizedPlan.treeString.trim

  /** The physical tables a query reads, first-seen order, CTE names
    * excluded scope-aware (a WITH inside a subquery doesn't shadow the
    * outer scope, and sibling CTEs can reference earlier ones) — the
    * host-tooling surface the reference exposes as `extractTables`
    * (reference: src/parse/extractTables.js) so a host knows which
    * sources to wire before executing. Built on Spark's parser: walk the
    * unresolved plan, children before expression subqueries (FROM tables
    * report before SELECT-list subquery tables).
    */
  def tables(spark: SparkSession, sqlText: String): Seq[String] = {
    ensureHelpers(spark) // "..." must read as an identifier here too
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def walk(plan: LogicalPlan, scope: Set[String]): Unit = plan match {
      case w: UnresolvedWith =>
        var s = scope
        w.cteRelations.foreach { case (name, body, _) =>
          walk(body, s)
          s = s + name.toLowerCase(java.util.Locale.ROOT)
        }
        walk(w.child, s)
      case r: UnresolvedRelation =>
        val parts = r.multipartIdentifier
        if (!(parts.length == 1 && scope.contains(parts.head.toLowerCase(java.util.Locale.ROOT))))
          out += parts.mkString(".")
      case other =>
        other.children.foreach(walk(_, scope))
        other.expressions.foreach(_.foreach {
          case sq: SubqueryExpression => walk(sq.plan, scope)
          case _ => ()
        })
    }
    // rewrite and parse only: this must work before the tables exist
    walk(GraftPlanBridge.parse(spark, rewrite(sqlText)), Set.empty)
    out.toSeq
  }

  /** Deterministic default column name for a derived expression — the
    * reference's `derivedAlias` (reference: src/expression/alias.js:11),
    * which its hosts rely on when round-tripping unnamed projection
    * columns (`a + b` → `a_+_b`, `COUNT(*)` → `count_all`,
    * `CAST(x AS INT)` → `x_as_int`, `sum(a)` → `sum_a`). Implemented
    * over Spark's PARSED expression tree, not text surgery, so nesting
    * and whitespace normalize exactly like the reference's AST walk.
    */
  def derivedAlias(exprText: String): String = {
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    // derive from the RAW expression when it parses — the name contract
    // mirrors the reference's surface text (alias.js), and semantic
    // rewrites (lenient casts → coalesce chains) must not leak into it;
    // dialect-only syntax falls back to the translated form
    val parsed =
      try CatalystSqlParser.parseExpression(exprText)
      catch { case scala.util.control.NonFatal(_) =>
        PlanCalls.expression(IntervalArith.expression(CatalystSqlParser.parseExpression(rewrite(exprText)))) }
    deriveName(parsed)
  }

  private def deriveName(e: org.apache.spark.sql.catalyst.expressions.Expression): String = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions._
    e match {
      case a: UnresolvedAttribute => a.nameParts.last
      case l @ Literal(_, dt)
          if dt.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.YearMonthIntervalType] ||
            dt == org.apache.spark.sql.types.CalendarIntervalType =>
        // INTERVAL '3' DAY → interval_3_day, via the literal's SQL form
        val s = l.sql.replaceAll("(?i)^INTERVAL\\s+", "").replace("'", "")
        "interval_" + s.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").mkString("_")
      case Literal(null, _) => "null"
      case Literal(v, _) => v.toString
      case c: Cast =>
        deriveName(c.child) + "_as_" + c.dataType.sql.toLowerCase(java.util.Locale.ROOT)
      case UnaryMinus(c, _) => "-_" + deriveName(c)
      case UnaryPositive(c) => "+_" + deriveName(c)
      case Not(c) => "not_" + deriveName(c)
      case w: WindowExpression => w.windowFunction match {
        // reference window rule: the function NAME alone, no args
        case f: UnresolvedFunction => f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        case other => deriveName(other)
      }
      case f: UnresolvedFunction =>
        val name = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
        // Spark's parser rewrites COUNT(*) to count(1) before any rule
        // can see the star — both spell the reference's count_all
        val starLike = f.arguments.length == 1 &&
          (f.arguments.head.isInstanceOf[UnresolvedStar] ||
            (name == "count" && f.arguments.head == Literal(1)))
        if (starLike) name + "_all"
        else (name +: f.arguments.map(deriveName)).mkString("_")
      case UnresolvedExtractValue(_, Literal(fld, org.apache.spark.sql.types.StringType)) =>
        fld.toString // struct field access aliases to the field name
      case ex: UnresolvedExtractValue =>
        s"${deriveName(ex.child)}[${deriveName(ex.extraction)}]"
      case b: BinaryOperator => // sqlOperator: AND/OR spell out, = stays =
        deriveName(b.left) + "_" + b.sqlOperator.toLowerCase(java.util.Locale.ROOT) + "_" + deriveName(b.right)
      case c: Concat =>
        // `a || b` parses straight to Concat (not a BinaryOperator);
        // the reference names it through the operator spelling:
        // a_||_b (seed-134777 find — the CONCAT(...) function spelling
        // still reaches the UnresolvedFunction case above)
        c.children.map(deriveName).mkString("_||_")
      case _ => "expr"
    }
  }

  /** Execute reference-dialect SQL with the reference's derived names
    * applied to UNALIASED projection items (Spark's own derivation names
    * them differently — `(a + b)` vs the reference's `a_+_b`). Aliased
    * items and bare columns keep their names; a star keeps Spark's
    * expansion. Positions are matched through the analyzed schema, so
    * one star anywhere in the list is supported.
    */
  def sqlDerived(spark: SparkSession, sqlText: String): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical._
    val prep = prepareOrThrow(spark, sqlText)
    val df = geoJson(prep.df)
    // outermost projection list of the PARSED plan (pre-analysis keeps
    // UnresolvedAlias wrappers that mark "no alias written")
    def outerList(p: LogicalPlan): Option[Seq[NamedExpression]] = p match {
      case Project(list, _) => Some(list)
      case a: Aggregate => Some(a.aggregateExpressions)
      case u: UnaryNode => outerList(u.child)
      case _ => None
    }
    // derive names from the RAW text when it parses — the name contract
    // mirrors the reference's surface (alias.js over the user's own
    // expression), and semantic rewrites (graft_js_str wraps, lenient
    // casts) must not leak into derived names (upper_city, never
    // upper_graft_js_str_city); dialect-only syntax falls back to the
    // rewritten form
    val parsed =
      try GraftPlanBridge.parse(spark, sqlText)
      catch { case scala.util.control.NonFatal(_) => prep.parsed }
    outerList(parsed) match {
      case Some(list) if list.count(_.isInstanceOf[UnresolvedStar]) <= 1 =>
        val width = df.schema.length
        val starWidth = width - (list.length - list.count(_.isInstanceOf[UnresolvedStar]))
        // an UNALIASED bare reference to an EARLIER select alias derives
        // its name from that alias's EXPRESSION — the reference resolves
        // select-list names laterally before derivedAlias runs
        // (node-probed: `SELECT (k+10) k, k` names the second column
        // `k_+_10`, value k+10; seed-134777 mutation find). First
        // definition wins.
        val earlierAlias = scala.collection.mutable.Map[
          String, org.apache.spark.sql.catalyst.expressions.Expression]()
        def lateralName(a: UnresolvedAttribute): Option[String] =
          if (a.nameParts.length == 1)
            earlierAlias.get(a.nameParts.head.toLowerCase(java.util.Locale.ROOT)).map(deriveName)
          else None
        val names = list.flatMap {
          case _: UnresolvedStar => df.columns.slice(
            list.takeWhile(!_.isInstanceOf[UnresolvedStar]).length,
            list.takeWhile(!_.isInstanceOf[UnresolvedStar]).length + starWidth).toSeq
          case a: Alias =>
            earlierAlias.getOrElseUpdate(a.name.toLowerCase(java.util.Locale.ROOT), a.child)
            Seq(a.name)
          case a: UnresolvedAttribute => Seq(lateralName(a).getOrElse(a.nameParts.last))
          case UnresolvedAlias(child: UnresolvedAttribute, _)
              if lateralName(child).isDefined => Seq(lateralName(child).get)
          case UnresolvedAlias(child, _) => Seq(deriveName(child))
          case other => Seq(deriveName(other))
        }
        if (names.length == width) df.toDF(names: _*) else df
      case _ => df
    }
  }

  /** SQL-callable helpers the rewrites target. Every rewrite-emitted
    * graft_* function on a potential scan/filter path is a NATIVE
    * Catalyst expression registered via [[GraftExtensions]] (JsInterval,
    * JsTrim, Strftime, DateDiffUnit, JsStr/JsNum, the array/size
    * dispatch family). The remaining THREE udf.register sites below are
    * cold, host-facing helpers, each with a written justification — a
    * new rewrite target must either be a native expression or carry the
    * same note.
    */
  // ObjectMapper is thread-safe for readTree once configured — one
  // static instance; constructing a mapper is the expensive part of the
  // graft_json_valid kernel and must not happen per row
  private lazy val strictMapper: com.fasterxml.jackson.databind.ObjectMapper = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    om
  }

  def ensureHelpers(spark: SparkSession): Unit = {
    // the reference dialect (like DuckDB/Postgres) reads "..." as an
    // IDENTIFIER — required for columns with dots in their names
    // (reference: test/execute/execute.dot.test.js). Spark's default
    // reads it as a string literal, which would silently select the
    // literal text instead of the column; ANSI mode is on by default in
    // Spark 4 so this conf flips the parse.
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    if (!GraftPlanBridge.hasSessionFunction(spark, "graft_epoch")) {
      // UDF justification: epoch(ts) surfaces in projections, not in
      // pushable predicates (a filter on epoch(ts) > c is equivalent to
      // a direct ts comparison only after the host rewrites it, which
      // the reference does not do either — its planner has no pushdown
      // over epoch). The kernel is two arithmetic ops on a boxed
      // timestamp; interpreted cost is noise next to the row's
      // deserialization, and millisecond flooring (getTime) is the
      // reference's exact precision.
      spark.udf.register("graft_epoch",
        (ts: java.sql.Timestamp) => if (ts == null) null else {
          java.lang.Double.valueOf(ts.getTime / 1000.0)
        })
    }
    // the JS interval, trim, strftime and date_diff helpers are
    // NATIVE codegen'd expressions
    // (functions/time/JsInterval.scala, functions/text/JsTrim.scala,
    // functions/time/TimeFmt.scala, registered via GraftExtensions) —
    // formerly ScalaUDFs here. Each participates in whole-stage codegen
    // (static kernel) and constant-folds on literal operands.
    if (!GraftPlanBridge.hasSessionFunction(spark, "graft_json_valid")) {
      // UDF justification: host-facing strict JSON.parse check
      // (FAIL_ON_TRAILING_TOKENS) — the dialect surface routes
      // JSON_VALID through graft_json_valid_any (a typed dispatch in
      // RefDispatch), so this Jackson-backed spelling only serves
      // direct host calls; never emitted into scan predicates.
      spark.udf.register("graft_json_valid",
        (s: String) => if (s == null) null else {
          try { strictMapper.readTree(s); java.lang.Boolean.TRUE }
          catch { case _: Exception => java.lang.Boolean.FALSE }
        })
    }
    if (!GraftPlanBridge.hasSessionFunction(spark, "graft_regexp_replace_occ")) {
      // UDF justification: only the 5-argument occurrence form of
      // REGEXP_REPLACE lands here (2-4 arg forms stay on Spark's
      // codegen'd builtin); it allocates a Matcher + StringBuffer per
      // row in ANY implementation, so a native Expression would save
      // only the invoke overhead, a rounding error against the regex
      // engine cost. Never part of a pushable predicate (it produces a
      // string, and parquet cannot evaluate regex replaces anyway).
      // reference regexp.js:126-166: position preserves the prefix,
      // occurrence 0 = replace all, occurrence n = only the nth match
      spark.udf.register("graft_regexp_replace_occ",
        (s: String, p: String, r: String, pos: Int, occ: Int) =>
          if (s == null || p == null || r == null) null
          else {
            val cut = math.min(math.max(pos, 1) - 1, s.length)
            val prefix = s.substring(0, cut)
            val m = java.util.regex.Pattern.compile(p).matcher(s.substring(cut))
            if (occ <= 0) prefix + m.replaceAll(java.util.regex.Matcher.quoteReplacement(r))
            else {
              val sb = new StringBuffer
              var count = 0
              while (m.find()) {
                count += 1
                m.appendReplacement(sb,
                  java.util.regex.Matcher.quoteReplacement(
                    if (count == occ) r else m.group()))
              }
              m.appendTail(sb)
              prefix + sb.toString
            }
          })
    }
  }
}
