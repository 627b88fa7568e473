package graft.plans

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Dialect front-end: accepts the reference engine's SQL dialect
  * (DuckDB/Postgres-flavored SELECT-only — reference: src/parse, syntax.md)
  * and executes it on Spark by rewriting the handful of constructs Spark
  * SQL doesn't share, then handing the parsed plan to Catalyst.
  *
  * Spark already covers most of the dialect natively (ILIKE,
  * POSITION(x IN y), `::` casts, `||` concat, LIMIT/OFFSET, FILTER
  * (WHERE ...), QUALIFY-free window queries, lambda-free arrays), so the
  * rewrite list is deliberately small and token-based — a full parser
  * would duplicate what Catalyst does better.
  *
  * Rewrites:
  *  - JSON arrows: `x -> 'k'` / `x ->> 'k'` / `x -> i` (chainable) to
  *    `get_json_object` paths — skipped inside higher-order-function
  *    lambdas (`list_transform(xs, x -> 'p' || x)` is left alone).
  *  - `SELECT DISTINCT ON (k) ...` → row_number window + `__rn = 1`.
  *  - `struct_pack(k := v)` → `named_struct('k', v)`; `struct_extract`.
  *  - `json_group_array` / `json_group_object` aggregates.
  *  - `x GLOB 'pat'` → `x RLIKE '^…$'` (glob→regex on the literal).
  *  - `TYPEOF` → DuckDB-style type names over Spark `typeof`.
  *  - Function renames: string_split/str_split → split, strlen →
  *    octet_length, list_* → array_*, `list(x)` → collect_list,
  *    regexp_split_to_array → split, regexp_split_to_table →
  *    explode(split(..)), charindex → position, to_timestamp →
  *    timestamp_seconds, strftime → %-format helper, json_query →
  *    get_json_object, regexp_matches → RLIKE, epoch(x) → unix seconds.
  */
object GraftSql {

  // ALL quote/paren/comment classification lives in the shared lexer —
  // every rewrite pass consumes its token stream (SqlTok.View); the
  // only character-level helpers left are fragment utilities
  // (splitTopLevel over an extracted argument list, matchParen for
  // unwrapping one extracted primary, stripComments as the pipeline's
  // first pass). No pass keeps a private scanner (the per-rewrite
  // guard stacks produced the alias-after-paren wrong-rows bugs of
  // rounds 11-12).
  import SqlTok.{matchParen, splitTopLevel, stripComments}

  // the rewrite passes live in per-pass modules on the shared SqlTok
  // substrate (plans/rewrite/); this object keeps the ordered pipeline
  // (rewriteImpl is THE one statement of pass order) and the
  // host API. Each call-rewrite pass (rewriteCall/rewriteAggFilter)
  // rewrites every site once, arguments first, never its own output, so
  // a builder emits its target name directly; a pass sees only what
  // EARLIER passes emitted, and that ordering is what the comments on
  // the passes below pin.
  import _root_.graft.plans.rewrite.RewriteSupport._
  import _root_.graft.plans.rewrite.SkeletonPasses._
  import _root_.graft.plans.rewrite.JsCoercionPasses._
  import _root_.graft.plans.rewrite.IntervalPasses._

  private val renames: Seq[(String, String)] = Seq(
    // string_split / str_split rewrite in rewrite() (literal-delimiter
    // semantics need regex quoting, not a bare rename)
    "regexp_split_to_array" -> "split",
    "strlen" -> "octet_length",
    "list_value" -> "array",
    // the array family dispatches at RUNTIME in the reference — NULL
    // for any non-array input (evaluate.js:596-635) — where Spark's
    // builtins reject at analysis; the graft_array_* expressions match
    "list_contains" -> "graft_array_contains",
    "array_contains" -> "graft_array_contains",
    "list_distinct" -> "array_distinct",
    "list_sort" -> "graft_array_sort",
    "array_sort" -> "graft_array_sort",
    "list_append" -> "graft_array_append",
    "array_append" -> "graft_array_append",
    "list_concat" -> "graft_array_concat",
    "list_transform" -> "transform",
    "list_filter" -> "filter",
    "list" -> "collect_list",
    // LEN/SIZE/CARDINALITY/LIST_LENGTH: array length with RUNTIME type
    // dispatch — NULL for any non-array (evaluate.js:574-595), where
    // Spark's size rejects non-arrays at analysis. graft_size matches.
    "list_length" -> "graft_size",
    "len" -> "graft_size",
    "size" -> "graft_size",
    "cardinality" -> "graft_size",
    "unnest" -> "explode",
    "countif" -> "count_if",
    "charindex" -> "position",
    "to_timestamp" -> "timestamp_seconds",
    "strftime" -> "graft_strftime",
    // json_query/json_value/json_extract_string rewrite with PATH
    // normalization in rewriteImpl (plain renames left unanchored
    // paths silently NULL — registry-sweep finding)
    "array_to_string" -> "array_join",
    "list_min" -> "array_min",
    "list_max" -> "array_max",
    // reference STRPOS(string, search) = str.indexOf(search)+1
    // (reference: src/expression/strings.js:172) — Spark has no strpos;
    // instr has the SAME argument order. (position is handled as a
    // 2-arg rewrite below: Spark's position(substr, str) is REVERSED.)
    "strpos" -> "instr",
    // reference ARRAY_CONCAT(a, b) (src/expression/evaluate.js:616)
    // is NULL for any non-array side — never string concatenation
    "array_concat" -> "graft_array_concat",
    "ord" -> "ascii",
    // epoch(x) → seconds since epoch as double (nothing downstream
    // treats epoch( specially, so the rename can ride the final pass)
    "epoch" -> "graft_epoch")

  /** Rewrite one squirreling-dialect statement into Spark SQL. */
  def rewrite(sqlText: String): String = rewriteImpl(sqlText, notInExists = true)

  private def rewriteImpl(sqlText: String, notInExists: Boolean): String = {
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
    // construct ([1,2,3] → array(1,2,3); subscripts like items[1] keep)
    s = rewriteArrayLiterals(s)
    // then numeric subscripts → get() (0-based, null out of range)
    s = rewriteSubscripts(s)

    // POSITIONAL JOIN next (it restructures the FROM — and without the
    // rewrite Spark silently reads POSITIONAL as a table alias)
    s = rewritePositionalJoin(s)

    // DISTINCT ON first — it restructures the statement skeleton
    s = rewriteDistinctOn(s)

    // comma-joined table functions next (they restructure the FROM)
    s = rewriteCommaTvf(s)

    // chained GROUP BY aliases / aliases inside ORDER BY aggregates
    s = rewriteAliasExpansion(s)

    if (notInExists) s = rewriteNotInSubquery(s)

    // zero-divisor guards next, on the user's own text (later rewrites
    // may duplicate subexpressions — guard divisions before that)
    s = rewriteZeroDivisors(s)
    // MOD(a, b) with b = 0: NaN in the reference (null-serialized);
    // try_mod is Spark's exact lenient form
    s = rewriteCall(s, "mod", args =>
      if (args.length == 2) s"try_mod(${args(0)}, ${args(1)})"
      else s"try_mod(${args.mkString(", ")})")

    // LATERAL VIEW JSON_EACH / scalar-position json_each: the map
    // explode spelled directly (LATERAL VIEW explode(...) t AS k, v
    // is native Spark)
    // JSON_EACH handles objects (key = field name) AND arrays (key =
    // index; reference test/execute/execute.json.test.js:636). The
    // object parse wins when non-null; otherwise the array parse
    // builds an index→element map. One Spark column forces STRING keys
    // for arrays where the reference's are numeric — the differential
    // jsonBridge treats '0' ≡ 0, and hosts read keys positionally.
    s = rewriteCall(s, "json_each", args => {
      // a LITERAL scalar argument ('42', 'true') is statically visible
      // and the reference throws at execution (JSON_EACH(value):
      // argument must be a JSON object or array) — match that; data
      // columns stay lenient like the rest of the JSON family
      val scalarErr =
        if (args.length == 1) jsonEachScalarErr(args.head) else None
      if (scalarErr.isDefined)
        "explode(map_from_entries(array(struct(CAST(raise_error(" +
          s"'${scalarErr.get}') AS STRING), 'x'))))"
      else {
        // typed (struct/array) input renders to JSON text first — the
        // reference's JSON family takes strings OR typed values directly
        val x = s"graft_json_input(${args.mkString(", ")})"
        s"explode(coalesce(from_json($x, 'map<string,string>'), " +
          s"map_from_entries(transform(from_json($x, 'array<string>'), " +
          s"(e, i) -> struct(cast(i AS string), e)))))"
      }
    })

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

    // struct_pack(k := v, ...) → named_struct('k', v, ...)
    s = rewriteCall(s, "struct_pack", args => {
      val kv = args.map { a =>
        val parts = a.split(":=", 2)
        if (parts.length == 2) s"'${parts(0).trim}', ${parts(1).trim}" else a
      }
      s"named_struct(${kv.mkString(", ")})"
    })

    // struct_extract(st, 'k') → (st).k  (literal keys — the dialect form)
    s = rewriteCall(s, "struct_extract", args =>
      if (args.length == 2 && args(1).startsWith("'") && args(1).endsWith("'"))
        s"(${args(0)}).${args(1).stripPrefix("'").stripSuffix("'")}"
      else s"struct_extract_unsupported(${args.mkString(", ")})")

    // Null-KEEPING array aggregation: the reference's ARRAY_AGG / LIST /
    // JSON_ARRAYAGG keep null inputs in place (JS array push —
    // execute.aggregate tests "should include nulls"); Spark's array_agg
    // drops them. Values ride inside a struct (never null) and unwrap
    // after; a trailing FILTER clause folds into the inner aggregate
    // (to_json/transform reject a FILTER suffix).
    // DISTINCT distributes over the struct wrap (distinct structs =
    // distinct values, nulls kept).
    def nullKeepAgg(arg: String, filt: Option[String]): String = {
      val dist = raw"(?is)^\s*DISTINCT\b(.*)$$".r
      val (kw, x) = arg match {
        case dist(e) => ("DISTINCT ", e.trim)
        case e => ("", e)
      }
      s"transform(array_agg(${kw}struct(($x) AS __v))${filt.map(" FILTER " + _).getOrElse("")}, s -> s.__v)"
    }
    for ((f, sparkName) <- Seq("array_agg" -> "array_agg", "list" -> "collect_list"))
      s = rewriteAggFilter(s, f, (args, filt) =>
        if (args.length == 1) nullKeepAgg(args.head, filt)
        else s"$sparkName(${args.mkString(", ")})${filt.map(" FILTER " + _).getOrElse("")}")
    // after the array_agg pass, which would otherwise wrap the
    // array_agg this one emits
    for (f <- Seq("json_group_array", "json_arrayagg"))
      s = rewriteAggFilter(s, f, (args, filt) =>
        s"to_json(${nullKeepAgg(args.mkString(", "), filt)})")
    s = rewriteCall(s, "json_group_object", args =>
      if (args.length == 2)
        s"to_json(map_from_arrays(collect_list(${args(0)}), collect_list(${args(1)})))"
      else s"json_group_object_unsupported(${args.mkString(", ")})")

    // TYPEOF → DuckDB-style names over Spark typeof (the doubled
    // upper(typeof(..)) is free — typeof is foldable, so Catalyst
    // constant-folds it at analysis time). Runs before the cast, JSON
    // and octet passes, whose type guards emit Spark typeof unrenamed.
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
    // null for garbage. Non-numeric targets keep ANSI semantics.
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

    // CONCAT / STRING_AGG stringify their arguments with JS String(v)
    // (strings.js CONCAT, evaluate.js:371 STRING_AGG): doubles render
    // "2" not "2.0", and STRING_AGG accepts numeric input Spark's
    // string-typed listagg would reject. Wrapping in graft_js_str fixes
    // both (no-op on strings, null-propagating). Runs BEFORE renames so
    // array_concat/list_concat → concat stays untouched array concat.
    s = rewriteCall(s, "concat", args =>
      s"concat(${args.map(a => s"graft_js_str($a)").mkString(", ")})")
    s = rewriteCall(s, "string_agg", args =>
      if (args.length == 2) {
        val dist = raw"(?is)^DISTINCT\s+(.*)$$".r
        args(0) match {
          case dist(e) => s"string_agg(DISTINCT graft_js_str($e), ${args(1)})"
          case e => s"string_agg(graft_js_str($e), ${args(1)})"
        }
      } else s"string_agg(${args.mkString(", ")})")

    // JSON inspection family (reference: src/expression/evaluate.js:502-700).
    // JSON_VALID parse-checks a string with WHOLE-INPUT strictness:
    // Spark's try_parse_json accepts '"a":{...}' (parses the leading
    // scalar, ignores trailing garbage) where JSON.parse rejects — so
    // this one goes through the strict helper, not the variant parser
    // JSON_VALID is FALSE for any non-string input (numbers, objects —
    // execute.json "should return false for non-string input"), so it
    // does NOT take the graft_json_input coercion the rest of the
    // family uses — graft_json_valid_any dispatches on the runtime type
    s = rewriteCall(s, "json_valid", args =>
      s"graft_json_valid_any(${args.mkString(", ")})")
    // JSON_TYPE: typeof of the PARSED value; invalid JSON errors in both
    // engines (hence parse_json, not try_parse_json — the reference
    // throws ArgValueError there)
    s = rewriteCall(s, "json_type", args => {
      val a = s"graft_json_input(${args.head})"
      val sv = s"schema_of_variant(parse_json($a))"
      s"(CASE WHEN ($a) IS NULL THEN NULL " +
        s"WHEN $sv LIKE 'OBJECT%' THEN 'object' " +
        s"WHEN $sv LIKE 'ARRAY%' THEN 'array' " +
        s"WHEN $sv = 'STRING' THEN 'string' " +
        s"WHEN $sv = 'BOOLEAN' THEN 'boolean' " +
        s"WHEN $sv = 'VOID' THEN 'null' ELSE 'number' END)"
    })
    // JSON_KEYS: object keys in document order; null on non-objects
    s = rewriteCall(s, "json_keys", args =>
      s"json_object_keys(graft_json_input(${args.mkString(", ")}))")
    s = rewriteCall(s, "json_array_length", args =>
      s"json_array_length(graft_json_input(${args.mkString(", ")}))")
    // JSON_OBJECT(k1, v1, ...): keep null-valued fields ({"k":null}),
    // as the reference's JSON.stringify does. Literal keys (incl.
    // numeric — JS object keys stringify) go through named_struct;
    // DYNAMIC keys (column references) need map(), since named_struct
    // requires foldable names.
    s = rewriteCall(s, "json_object", args => {
      val lit = args.grouped(2).forall(p => p.headOption.exists(k =>
        k.trim.matches("'[^']*'") || k.trim.matches("[0-9.]+")))
      if (lit) {
        val quoted = args.zipWithIndex.map { case (a, i) =>
          if (i % 2 == 0 && a.trim.matches("[0-9.]+")) s"'${a.trim}'" else a }
        s"to_json(named_struct(${quoted.mkString(", ")}), map('ignoreNullFields', 'false'))"
      } else
        s"to_json(map(${args.grouped(2).map(p =>
          s"graft_js_str(${p.head}), ${p.last}").mkString(", ")}), " +
          "map('ignoreNullFields', 'false'))"
    })
    // JSON_EXTRACT(j, path): get_json_object requires the $ anchor the
    // reference treats as optional — normalize literal paths
    // unanchored-path normalization, shared by the whole JSON access
    // family: the reference accepts 'a' / 'a.b' / '[0]' paths, Spark's
    // get_json_object needs the '$.' anchor (an unanchored path is
    // silently NULL — the registry sweep caught JSON_VALUE/JSON_QUERY
    // passing paths through unanchored via their old plain renames)
    def normJsonPath(p: String): String =
      if (p.startsWith("'") && p.endsWith("'") && !p.startsWith("'$")) {
        val body = p.substring(1, p.length - 1)
        val anchored = if (body.startsWith("[")) s"$$$body" else s"$$.$body"
        s"'$anchored'"
      } else p
    // first-argument TYPE strictness (round-13 replay-corner closure):
    // a statically numeric/boolean input raises at execution like the
    // reference's "must be JSON string or object" row-1 throw; see
    // jsonStrictInput — the guard folds away for every allowed type
    for (f <- Seq("json_extract", "json_value", "json_query", "json_extract_string"))
      s = rewriteCall(s, f, args =>
        if (args.length == 2)
          s"get_json_object(${jsonStrictInput(f, args(0))}, ${normJsonPath(args(1))})"
        else s"${f}_unsupported(${args.mkString(", ")})")

    // OCTET_LENGTH is string-STRICT in the reference (strings.js:49-56:
    // number/date/object inputs throw) — type-dispatch guard, folds
    // away for string inputs (round-13 replay-corner closure). strlen
    // renames to octet_length only at the very end, so it gets the same
    // guard under its own name here.
    s = rewriteCall(s, "octet_length", args =>
      if (args.length == 1) s"octet_length(${octetStrict(args.head)})"
      else s"octet_length(${args.mkString(", ")})")
    s = rewriteCall(s, "strlen", args =>
      if (args.length == 1) s"strlen(${octetStrict(args.head)})"
      else s"strlen(${args.mkString(", ")})")

    // regexp_split_to_table(x, p) → explode(split(x, p))
    s = rewriteCall(s, "regexp_split_to_table", args =>
      s"explode(split(${args.mkString(", ")}))")

    // Comma-form POSITION(string, search): the reference returns
    // str.indexOf(search)+1 (src/expression/strings.js:172-176) — Spark's
    // position(substr, str) takes the arguments REVERSED, so map to
    // instr, whose order matches. The SQL-standard POSITION(x IN y) form
    // has no top-level comma (one "arg") and passes through to Spark,
    // whose IN-form semantics already agree.
    s = rewriteCall(s, "position", args =>
      if (args.length == 2) s"instr(${args(0)}, ${args(1)})"
      else s"position(${args.mkString(", ")})")

    // ARRAY_LENGTH(arr[, dim]): Spark has no array_length; graft_size
    // covers the 1-dimensional form, graft_size_dim the reference's
    // dimensional walk (dim ≥ 1 integer, each level rectangular —
    // evaluate.js:577-592; NULL otherwise)
    s = rewriteCall(s, "array_length", args =>
      if (args.length == 1 || (args.length == 2 && args(1).trim == "1"))
        s"graft_size(${args(0)})"
      else if (args.length == 2)
        s"graft_size_dim(${args(0)}, ${args(1)})"
      else s"array_length_bad_arity(${args.mkString(", ")})")

    // LENGTH: characters for a string, element count for an ARRAY —
    // runtime dispatch (strings.js:38-45); Spark's length rejects
    // arrays at analysis. OCTET_LENGTH stays strict (string-only).
    s = rewriteCall(s, "length", args =>
      if (args.length == 1) s"graft_length(${args.head})"
      else s"length(${args.mkString(", ")})")

    // ARRAY_POSITION / LIST_POSITION return NULL when absent in the
    // reference (src/expression/evaluate.js:597-601, indexOf+1 with -1
    // → null) and NULL for non-array input — graft_array_position is
    // both in one runtime-dispatch expression
    for (f <- Seq("array_position", "list_position"))
      s = rewriteCall(s, f, args =>
        s"graft_array_position(${args.mkString(", ")})")

    // ROUND is FLOAT-SCALED in the reference: Math.round(x·10^d)/10^d
    // (src/expression/math.js:56-60) — half rounds toward +∞
    // (round(-588.45, 1) = -588.4) and the scaled double's
    // representation decides edge cases (round(2.675, 2) = 2.67, not
    // Spark's decimal-string 2.68). Found by the deep differential fuzz
    // audit (GRAFT_FUZZ_N=2000). ECMA Math.round is NOT floor(y + 0.5):
    // the addition can pick up IEEE rounding error exactly at the half
    // boundary (Math.round(0.49999999999999994) = 0, floor-form 1), so
    // the half-up step compares the exact fraction y - floor(y)
    // instead. |y| ≥ 2^52 is already integral (and floor→LONG would
    // overflow ANSI beyond 2^63) — those pass through untouched, as do
    // NaN (NOT(abs < 2^52) catches it) and ±Infinity. Result is DOUBLE
    // in all branches, the JS number type. A NULL decimals arg is
    // Number(null) = 0 in the reference (multiplier 1), hence coalesce.
    def jsRound(y: String): String =
      s"(CASE WHEN NOT (abs($y) < 4.503599627370496E15D) THEN CAST($y AS DOUBLE) " +
        s"WHEN CAST($y AS DOUBLE) - CAST(floor($y) AS DOUBLE) >= 0.5D " +
        s"THEN CAST(floor($y) AS DOUBLE) + 1.0D " +
        s"ELSE CAST(floor($y) AS DOUBLE) END)"
    s = rewriteCall(s, "round", args =>
      if (args.length == 2) {
        val mult = s"power(10, coalesce(${args(1)}, 0))"
        s"(${jsRound(s"((${args(0)}) * $mult)")} / $mult)"
      } else if (args.length == 1) jsRound(s"(${args(0)})")
      else s"round(${args.mkString(", ")})")

    // PERCENTILE_CONT(fraction, expr): reference argument order
    // (src/validation/functions.js PERCENTILE_CONT) with exact linear
    // interpolation — Spark's exact-interpolating spelling is
    // percentile(expr, fraction). APPROX_QUANTILE(expr, fraction) is
    // computed EXACTLY by the reference (same code path,
    // src/expression/evaluate.js:314-350), so it maps to percentile too.
    s = rewriteCall(s, "percentile_cont", args =>
      if (args.length == 2) s"percentile(${args(1)}, ${args(0)})"
      else s"percentile_cont(${args.mkString(", ")})")
    s = rewriteCall(s, "approx_quantile", args =>
      if (args.length == 2) s"percentile(${args(0)}, ${args(1)})"
      else s"approx_quantile(${args.mkString(", ")})")

    // SUM/AVG fold JS `Number(value)` and keep only FINITE results
    // (src/execute/accumulator.js:60-67): a string column accumulates
    // its numeric-looking cells ('10' → 10, '' → 0) and skips the rest
    // ('abc' → NaN), never an ANSI cast error. graft_js_num applies
    // that coercion for string/boolean children and is identity on
    // numeric ones, where StripIdentityJsNum removes it at optimization
    // time — typed columns keep native codegen'd aggregation.
    for (f <- Seq("sum", "avg"))
      s = rewriteCall(s, f, args =>
        // SUM(*)/AVG(*) must stay invalid on both engines — wrapping
        // would let Spark's star expansion accept what the reference's
        // validator rejects
        if (args.length == 1 && args.head.trim != "*") {
          val a = args.head.trim
          // the set quantifier stays OUTSIDE the wrap, in every spelling:
          // DISTINCT x, DISTINCT(x), DISTINCT<tab>x, ALL x
          val quant = raw"(?is)^(DISTINCT|ALL)\b\s*(.*)$$".r
          val (pre, core) = a match {
            case quant(q, rest) => (q + " ", rest)
            case _ => ("", a)
          }
          s"$f(${pre}graft_js_num($core))"
        } else s"$f(${args.mkString(", ")})")

    // list_slice(l, a, b) [1-based inclusive ends] → slice(l, a, b - a + 1)
    s = rewriteCall(s, "list_slice", args =>
      if (args.length == 3)
        s"slice(${args(0)}, ${args(1)}, (${args(2)}) - (${args(1)}) + 1)"
      else s"list_slice_unsupported(${args.mkString(", ")})")

    // DAYOFWEEK / WEEKDAY: reference maps both to date_part('dow') —
    // Sunday=0 (syntax.md item 13); Spark's dayofweek is Sunday=1
    for (f <- Seq("dayofweek", "weekday"))
      s = rewriteCall(s, f, args => s"(dayofweek(${args.mkString(", ")}) - 1)")

    // DATE_PART('dow', x) / EXTRACT(DOW FROM x) themselves: Spark's DOW
    // field is Sunday=1..Saturday=7, the reference's (and DuckDB's) is
    // Sunday=0 (src/expression/date.js:96 getUTCDay) — found by the
    // deep differential fuzz, the same off-by-one the function forms
    // above already fixed
    s = rewriteCall(s, "date_part", args =>
      if (args.length == 2 && args(0).trim.toLowerCase(java.util.Locale.ROOT).matches("'dow'"))
        s"(dayofweek(${args(1)}) - 1)"
      else s"date_part(${args.mkString(", ")})")
    // `EXTRACT ( DOW FROM` collapses to a marker call head, so the call
    // walker finds the remaining argument's close paren
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if v.at(k, "EXTRACT", "(", "DOW", "FROM") =>
          (t(k).start, t(k + 3).end, "__exdow__(")
      }
    }
    s = rewriteCall(s, "__exdow__", args => s"(dayofweek(${args.mkString(", ")}) - 1)")

    // LIKE is CASE-INSENSITIVE in the reference dialect — its evaluator
    // compiles the pattern with the `i` regex flag (reference:
    // src/expression/binary.js:57-65) — so dialect LIKE maps to Spark
    // ILIKE (NOT LIKE → NOT ILIKE via the same token). Found by the
    // seeded differential fuzz campaign (FuzzSpec), not the curated list.
    s = tokenEdit(s)(_.toks.collect {
      case t if t.is("LIKE") => (t.start, t.end, "ILIKE")
    })

    // x GLOB 'pat' → x RLIKE '^…$' (literal patterns — the dialect form)
    s = tokenEdit(s) { v =>
      v.toks.indices.collect {
        case k if v.at(k, "GLOB", "'") && v.toks(k + 1).up.endsWith("'") =>
          val pat = v.toks(k + 1).up.stripPrefix("'").stripSuffix("'")
          (v.toks(k).start, v.toks(k + 1).end, s"RLIKE '${globToRegex(pat)}'")
      }
    }

    // EXTRACT(EPOCH FROM x) / EXTRACT(SECOND FROM x): Spark has no
    // EPOCH field, and its SECOND carries the fraction as DECIMAL where
    // the reference floors to INTEGER seconds (date.js getUTCSeconds) —
    // `EXTRACT ( <field> FROM` collapses to a marker call over the
    // remaining argument; epoch(x) itself renames at the end
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if v.at(k, "EXTRACT", "(") && v.at(k + 3, "FROM") &&
            (t(k + 2).is("EPOCH") || t(k + 2).is("SECOND") || t(k + 2).is("SECONDS")) =>
          val marker = if (t(k + 2).is("EPOCH")) "__exepoch__(" else "__exsec__("
          (t(k).start, t(k + 3).end, marker)
      }
    }
    s = rewriteCall(s, "__exepoch__", args => s"graft_epoch(${args.mkString(", ")})")
    s = rewriteCall(s, "__exsec__", args =>
      s"floor(extract(second from ${args.mkString(", ")}))")

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

    // date/timestamp arithmetic with INTERVAL coerces its LEFT operand
    // leniently (the reference parses date STRINGS and epoch-millis
    // NUMBERS with new Date(...)): wrap the primary before +/- INTERVAL
    // everything but integral-DAY interval arithmetic runs through the
    // exact JS Date-setter emulation (month-end rollover, summed-
    // component truncation, date-only format preservation); it coerces
    // its own left primary, so it runs BEFORE the generic operand
    // coercion, which then only sees the remaining integral-DAY sites
    s = rewriteJsIntervalArith(s)
    s = rewriteIntervalOperands(s)
    // any fractional interval literal left standing alone truncates
    // toward zero so it at least parses (the reference errors on a
    // standalone interval at EXECUTION, so no semantics ride on it)
    s = rewriteFractionalIntervals(s)

    // unit-form date_diff('day', a, b): reference semantics are calendar
    // diff for YEAR/MONTH and truncated elapsed time for smaller units
    // (reference: src/expression/date.js:110) — not Spark's datediff;
    // only the string-unit form reroutes (first argument a literal)
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

    // regexp_replace(..., 'g'): Spark replaces globally by default
    s = rewriteCall(s, "regexp_replace", args =>
      s"regexp_replace(${(if (args.nonEmpty &&
        args.last.equalsIgnoreCase("'g'")) args.init else args).mkString(", ")})")

    // DuckDB SELECT * EXCLUDE (...) → Spark SELECT * EXCEPT (...)
    s = tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if t(k).is("EXCLUDE") && k > 0 && t(k - 1).isOp("*") &&
            v.at(k + 1, "(") =>
          (t(k).start, t(k).end, "EXCEPT")
      }
    }

    // Statically-visible invalid arguments throw at EXECUTION like the
    // reference (regexp.js:29-47,115-130 position/occurrence guards;
    // strings.js:122,137 LEFT/RIGHT length): a LITERAL that violates
    // the guard rewrites to raise_error, so both engines reject the
    // query at run time (and both accept it over an empty table —
    // raise_error is per-row, like the reference's row-0 throw).
    // Non-literal args stay on the lenient path: per-row validation of
    // DATA columns is exactly what a 100 TB scan must not do.
    locally {
      def intLit(a: String): Option[Long] = {
        val t = a.trim
        if (t.matches("[+-]?\\d+")) Some(t.toLong) else None
      }
      def bad(f: String, what: String, got: String): String =
        s"raise_error('$f: $what, got ${got.trim.replace("'", "")}')"
      for (f <- Seq("left", "right"))
        s = rewriteCall(s, f, args =>
          if (args.length == 2 && intLit(args(1)).exists(_ < 0))
            bad(f.toUpperCase(java.util.Locale.ROOT), "length must be a non-negative integer", args(1))
          else s"$f(${args.mkString(", ")})")
      for (f <- Seq("regexp_extract", "regexp_substr"))
        s = rewriteCall(s, f, args =>
          if (args.length >= 3 && intLit(args(2)).exists(_ < 1))
            bad(f.toUpperCase(java.util.Locale.ROOT), "position must be a positive integer", args(2))
          else if (args.length == 4 && intLit(args(3)).exists(_ < 1))
            bad(f.toUpperCase(java.util.Locale.ROOT), "occurrence must be a positive integer", args(3))
          else s"$f(${args.mkString(", ")})")
      s = rewriteCall(s, "regexp_replace", args =>
        if (args.length >= 4 && intLit(args(3)).exists(_ < 1))
          bad("REGEXP_REPLACE", "position must be a positive integer", args(3))
        else if (args.length == 5 && intLit(args(4)).exists(_ < 0))
          bad("REGEXP_REPLACE", "occurrence must be a non-negative integer", args(4))
        else s"regexp_replace(${args.mkString(", ")})")
      // SUBSTRING start/length guards (strings.js:118-127: start must be
      // a positive 1-based integer, length non-negative) — round-13
      // replay-corner closure, same literal-only contract as the rest
      for (f <- Seq("substring", "substr"))
        s = rewriteCall(s, f, args =>
          if (args.length >= 2 && intLit(args(1)).exists(_ < 1))
            bad(f.toUpperCase(java.util.Locale.ROOT), "start position must be a positive integer", args(1))
          else if (args.length == 3 && intLit(args(2)).exists(_ < 0))
            bad(f.toUpperCase(java.util.Locale.ROOT), "length must be a non-negative integer", args(2))
          else s"$f(${args.mkString(", ")})")
    }


    // REGEXP_EXTRACT / REGEXP_SUBSTR are the SAME function in the
    // reference (src/expression/regexp.js:18): whole match, NULL when
    // nothing matches, optional 3rd arg = 1-based search POSITION and
    // 4th = occurrence. Spark's regexp_extract instead reads the 3rd
    // arg as a capture-GROUP index and returns '' on no match — so:
    // 2-arg maps to Spark regexp_substr (whole match, NULL on miss);
    // positional/occurrence forms go through regexp_extract_all over
    // the position-suffix with try_element_at (NULL, never an ANSI
    // out-of-bounds error). Found via reference-source reading during
    // the regexp fuzz battery.
    for (f <- Seq("regexp_extract", "regexp_substr"))
      s = rewriteCall(s, f, args =>
        if (args.length == 2) s"regexp_substr(${args(0)}, ${args(1)})"
        else if (args.length == 3)
          s"try_element_at(regexp_extract_all(substring(${args(0)}, CAST(${args(2)} AS INT)), ${args(1)}, 0), 1)"
        else if (args.length == 4)
          s"try_element_at(regexp_extract_all(substring(${args(0)}, CAST(${args(2)} AS INT)), ${args(1)}, 0), CAST(${args(3)} AS INT))"
        else s"regexp_extract(${args.mkString(", ")})")

    // REGEXP_REPLACE: both engines replace ALL by default and share the
    // prefix-preserving 4-arg position form; the reference's 5-arg form
    // replaces only the OCCURRENCE-th match (regexp.js:126-166) — no
    // Spark built-in, so a helper UDF carries it.
    s = rewriteCall(s, "regexp_replace", args =>
      if (args.length == 5)
        s"graft_regexp_replace_occ(${args(0)}, ${args(1)}, ${args(2)}, " +
          s"CAST(${args(3)} AS INT), CAST(${args(4)} AS INT))"
      else s"regexp_replace(${args.mkString(", ")})")

    // regexp_matches(x, p) → x RLIKE p — paren-aware (the old regex
    // form mangled nested calls like regexp_matches(try_element_at(...))
    // — found by the regexp fuzz battery)
    s = rewriteCall(s, "regexp_matches", args =>
      if (args.length == 2) s"((${args(0)}) RLIKE ${args(1)})"
      else s"regexp_matches(${args.mkString(", ")})")

    // STRING_SPLIT's delimiter is a LITERAL in the reference (and in
    // DuckDB) — indexOf, not a pattern (src/expression/strings.js:165);
    // Spark's split() takes a REGEX, so 'x.y' would split on every char
    // and ' )' would throw a pattern error. Literal delimiters escape
    // textually; computed ones go through \Q...\E quoting.
    // An EMPTY delimiter returns the WHOLE string as one element
    // (strings.js:168 `delim === '' ? [str] : str.split(delim)`) where
    // Spark's split('') explodes per character.
    for (f <- Seq("string_split", "str_split"))
      s = rewriteCall(s, f, args =>
        if (args.length == 2) {
          val d = args(1).trim
          if (d == "''") s"array(graft_js_str(${args(0)}))"
          else if (d.startsWith("'") && d.endsWith("'") && d.length >= 2) {
            // Pattern.quote emits \Q...\E; the SQL literal needs its
            // backslashes doubled (Spark's parser consumes one level)
            val quoted = java.util.regex.Pattern.quote(
                d.substring(1, d.length - 1))
              .replace("\\", "\\\\").replace("'", "''")
            s"split(${args(0)}, '$quoted')"
          } else s"(CASE WHEN (${args(1)}) = '' THEN array(graft_js_str(${args(0)})) " +
            s"ELSE split(${args(0)}, concat('\\\\Q', ${args(1)}, '\\\\E')) END)"
        } else s"split(${args.mkString(", ")})")

    // SPLIT_PART with an empty literal delimiter: one part — index 1
    // (or -1 from the end) answers the whole string, others '' (the
    // reference's parts[idx] ?? '', strings.js:146-162)
    s = rewriteCall(s, "split_part", args =>
      if (args.length == 3 && args(1).trim == "''")
        s"(CASE WHEN CAST(${args(2)} AS INT) IN (1, -1) " +
          s"THEN graft_js_str(${args(0)}) ELSE '' END)"
      else s"split_part(${args.mkString(", ")})")

    // TRIM is JS String.prototype.trim (strings.js:103): Unicode
    // whitespace including \t \n NBSP FEFF — Spark's trim strips only
    // ' '. The BOTH/LEADING/TRAILING ... FROM form passes through
    // (Spark semantics, no reference analog).
    s = rewriteCall(s, "trim", args =>
      if (args.length == 1 && raw"(?i)\bFROM\b".r.findFirstIn(args.head).isEmpty)
        s"graft_js_trim(graft_js_str(${args.head}))"
      else s"trim(${args.mkString(", ")})")

    // GREATEST/LEAST accept a single argument in the reference
    // (evaluate.js:434 — reduces over whatever it gets); Spark requires
    // two. ATAN(y, x) is two-argument arctangent (math.js) — Spark's
    // atan is unary, atan2 is the two-arg spelling.
    for (f <- Seq("greatest", "least"))
      s = rewriteCall(s, f, args =>
        if (args.length == 1) s"(${args.head})"
        else s"$f(${args.mkString(", ")})")
    s = rewriteCall(s, "atan", args =>
      if (args.length == 2) s"atan2(${args.mkString(", ")})"
      else s"atan(${args.mkString(", ")})")

    // Every string function coerces its text arguments with JS
    // String(v) (strings.js:66 `const str = String(val)`, :112
    // REPLACE's search/replace args, :158-176 SPLIT_PART/STRING_SPLIT/
    // INSTR): UPPER(2.0*3) is '6' and INSTR(1.0/2, '.') probes '0.5' —
    // where Spark's implicit cast renders '6.0'/'1.0' and diverges on
    // every whole-valued double. Wrap the string-ish args in
    // graft_js_str (a no-op on strings, null-propagating). LENGTH and
    // OCTET_LENGTH are STRICT in the reference (they error on
    // non-strings, strings.js:38-56) — deliberately not wrapped.
    // Placed AFTER the rewrites that generate these names (position →
    // instr, string_split → split); strpos is wrapped here pre-rename
    // (renames run last).
    locally {
      val wraps: Seq[(String, Seq[String] => Seq[Int])] = Seq(
        "upper" -> (a => if (a.length == 1) Seq(0) else Nil),
        "lower" -> (a => if (a.length == 1) Seq(0) else Nil),
        // trim is handled by its own rewrite above (JS whitespace set)
        "substring" -> (a =>
          if (a.length >= 2) Seq(0)
          else Nil), // FROM..FOR form has no top-level comma — pass through
        "substr" -> (a => if (a.length >= 2) Seq(0) else Nil),
        "replace" -> (a => if (a.length == 3) Seq(0, 1, 2) else Nil),
        "left" -> (a => if (a.length == 2) Seq(0) else Nil),
        "right" -> (a => if (a.length == 2) Seq(0) else Nil),
        "split_part" -> (a => if (a.length == 3) Seq(0, 1) else Nil),
        "split" -> (a => if (a.length == 2) Seq(0) else Nil),
        "instr" -> (a => if (a.length == 2) Seq(0, 1) else Nil),
        "strpos" -> (a => if (a.length == 2) Seq(0, 1) else Nil))
      for ((f, pick) <- wraps)
        s = rewriteCall(s, f, args => {
          val idx = pick(args).toSet
          val out = args.zipWithIndex.map { case (a, i) =>
            if (idx(i)) s"graft_js_str($a)" else a }
          s"$f(${out.mkString(", ")})"
        })
    }

    // `a || b` and ILIKE operands coerce the same way (binary.js:27-30
    // `String(a) + String(b)`, :57 LIKE's `String(a)`/`String(b)`):
    // 'x' || 2.0 is 'x2' and 2.0 LIKE '2' is TRUE in the reference.
    s = rewriteJsConcatOps(s)

    // UNNEST(NULL) / EXPLODE(NULL) produce ZERO rows in the reference
    // (nothing to expand); Spark's explode(NULL) is an untyped analysis
    // error — an empty array has the same zero-row semantics
    for (f <- Seq("unnest", "explode"))
      s = rewriteCall(s, f, args =>
        if (args.length == 1 && args.head.trim.equalsIgnoreCase("null"))
          "explode(array())"
        else s"explode(${args.mkString(", ")})")

    // LEAD/LAG offsets run through JS Number(v) in the reference: a
    // QUOTED numeric offset works like the bare number ('' is 0), a
    // non-numeric one is NaN — which indexes outside the partition, so
    // EVERY row reads the default (null when absent; node-probed).
    // Spark requires an integer literal: integral text unquotes,
    // NaN-text becomes a 1e8 offset (outside any real window partition;
    // kept far from INT_MAX so rowIndex+offset cannot overflow).
    // Fractional offsets crash the reference and fail Spark's analysis
    // alike — left alone, agreement on rejection. Seed-131337
    // mutation-fuzz find.
    for (f <- Seq("lead", "lag")) {
      val quotedLit = raw"^'([^']*)'$$".r
      s = rewriteCall(s, f, args => {
        val fixed =
          if (args.length < 2) args
          else args(1).trim match {
            case quotedLit(body) =>
              val b = body.trim
              val off =
                if (b.isEmpty) Some("0")
                else if (b.matches(raw"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")) {
                  val v = b.toDouble
                  if (v == v.toLong.toDouble) Some(v.toLong.toString) else None
                } else Some("100000000")
              off.map(o => args.updated(1, o)).getOrElse(args)
            case _ => args
          }
        s"$f(${fixed.mkString(", ")})"
      })
    }

    // Ranking/offset window functions REQUIRE an ORDER BY in Spark; the
    // reference defaults to the partition's INPUT order (execute.window
    // tests: ROW_NUMBER() OVER () numbers rows as scanned). Inject a
    // monotonic order — input order made explicit. Aggregate windows
    // are NOT touched (an injected ORDER BY would shrink their default
    // frame to running-total semantics).
    locally {
      val needOrder = Set("ROW_NUMBER", "RANK", "DENSE_RANK", "NTILE",
        "LAG", "LEAD", "PERCENT_RANK", "CUME_DIST")
      s = tokenEdit(s) { v =>
        val t = v.toks
        val edits = Seq.newBuilder[(Int, Int, String)]
        var k = 0
        while (k + 1 < t.length) {
          if (t(k).kind == SqlTok.Word && needOrder(t(k).up) &&
              t(k + 1).kind == SqlTok.LPar && v.brk(k + 1) >= 0) {
            val ac = v.brk(k + 1) // args close
            if (ac + 2 < t.length && t(ac + 1).is("OVER") &&
                t(ac + 2).kind == SqlTok.LPar && v.brk(ac + 2) >= 0) {
              val sc = v.brk(ac + 2) // spec close
              val hasOrder = (ac + 3 until sc).exists(i =>
                t(i).is("ORDER") && i + 1 < sc && t(i + 1).is("BY"))
              if (!hasOrder) {
                val ins = (if (sc == ac + 3) "" else " ") +
                  "ORDER BY monotonically_increasing_id()"
                edits += ((t(sc).start, t(sc).start, ins))
              }
            }
          }
          k += 1
        }
        edits.result()
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
    // as columns), corrupting the statement (seed-135555 mutation find)
    s = rewriteBareDesc(s)

    // function renames, ONE token pass: a Word followed by `(` whose
    // name is in the map renames in place (no rename target is itself
    // a key, so sequential per-name rescans buy nothing)
    tokenEdit(s) { v =>
      val t = v.toks
      t.indices.collect {
        case k if t(k).kind == SqlTok.Word && k + 1 < t.length &&
            t(k + 1).kind == SqlTok.LPar &&
            renameMap.contains(t(k).up) =>
          (t(k).start, t(k).end, renameMap(t(k).up))
      }
    }
  }

  private val renameMap: Map[String, String] =
    renames.map { case (k, v) => k.toUpperCase(java.util.Locale.ROOT) -> v }.toMap

  /** Constructs Spark parses but silently misreads, where the reference
    * raises a parse error (reference: test/parse/parse.errors.test.js).
    * Spark's non-reserved keywords absorb them as aliases:
    *   - `SELECT * FROM users WHERE` → `users AS WHERE` (the user's
    *     dangling clause vanishes);
    *   - `SELECT name AS FROM users` → a column literally named `AS`;
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
    t.reverseIterator.dropWhile(_.kind == SqlTok.Semi).nextOption()
      .filter(x => x.kind == SqlTok.Word && clauseKw(x.up))
      .map(w => s"query ends in a dangling ${w.up} clause")
      .orElse(t.indices.collectFirst {
        case k if t(k).is("AS") && k + 1 < t.length &&
            t(k + 1).kind == SqlTok.Word && aliasBanKw(t(k + 1).up) =>
          s"alias cannot be the clause keyword ${t(k + 1).up}"
      })
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

  /** A query as [[prepare]] leaves it: the plan as parsed, and the
    * analyzed DataFrame built from that same plan. */
  private final case class Prepared(parsed: LogicalPlan, df: DataFrame)

  /** The one path from dialect text to an analyzed plan, shared by every
    * host entry point. In order: strip comments and run the token lint;
    * rewrite once; parse once, in the session's conf; run the duplicate-
    * CTE check and the set-op guard on that parse; analyze that same
    * plan once. `Left` is the misparse gate's reason for refusing the
    * text. When the analysis (or parse) of a text carrying the NOT IN →
    * NOT EXISTS form (`__nin`) fails, the text is rewritten once more
    * with NOT IN left as written, and that plan is analyzed instead.
    */
  private def prepare(spark: SparkSession, sqlText: String): Either[String, Prepared] = {
    ensureHelpers(spark)
    val text = stripComments(sqlText).stripTrailing()
    tokenLint(text).toLeft(()).flatMap { _ =>
      def analyze(parsed: LogicalPlan) = Prepared(parsed, GraftPlanBridge.ofRows(spark, parsed))
      val rewritten = rewriteImpl(text, notInExists = true)
      try {
        val parsed = GraftPlanBridge.parse(spark, rewritten)
        duplicateCte(parsed).orElse(setOpTypeGuard(spark, parsed)).toLeft(analyze(parsed))
      } catch {
        case _: AnalysisException if rewritten.contains("__nin") =>
          Right(analyze(GraftPlanBridge.parse(spark, rewriteImpl(text, notInExists = false))))
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
      // the pre-parse dialect rewrites are regex surgery over untrusted
      // SQL text — any failure there is a validation failure, never a
      // crash of the host-facing surface
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
    // dialect-only syntax falls back to the rewritten form
    val parsed =
      try CatalystSqlParser.parseExpression(exprText)
      catch { case scala.util.control.NonFatal(_) =>
        CatalystSqlParser.parseExpression(rewrite(exprText)) }
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
        // definition wins, matching the expansion pass's dup rule.
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
    if (!spark.catalog.functionExists("graft_epoch")) {
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
    // graft_js_interval / graft_js_trim / graft_strftime /
    // graft_datediff are NATIVE codegen'd expressions
    // (functions/time/JsInterval.scala, functions/text/JsTrim.scala,
    // functions/time/TimeFmt.scala, registered via GraftExtensions) —
    // formerly ScalaUDFs here. Each participates in whole-stage codegen
    // (static kernel) and constant-folds on literal operands.
    if (!spark.catalog.functionExists("graft_json_valid")) {
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
    if (!spark.catalog.functionExists("graft_regexp_replace_occ")) {
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
