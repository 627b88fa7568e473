package graft.plans
package rewrite

/** Shared substrate of the GraftSql text passes: the call-site walker
  * ([[rewriteCall]] — each pass rewrites every site once, arguments
  * first, never its own output), token-edit splicing, the JSON_EACH
  * scalar check, the higher-order-function context guard, and the small
  * keyword/regex tables more than one pass consumes.
  * Every pass module imports this; ALL quote/paren/comment
  * classification stays in [[graft.plans.SqlTok]].
  */
private[plans] object RewriteSupport {

  import SqlTok.splitTopLevel

  private[plans] val jsonScalarLit =
    raw"""[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?|true|false|null|"([^"\\]|\\.)*"""".r

  private[plans] def jsonEachScalarErr(arg: String): Option[String] = {
    val a0 = arg.trim
    if (a0.startsWith("'") && a0.endsWith("'") && a0.length >= 2 &&
        !a0.substring(1, a0.length - 1).contains("'")) {
      val body = a0.substring(1, a0.length - 1).trim
      if (body.isEmpty || body.startsWith("{") || body.startsWith("[")) None
      else if (jsonScalarLit.matches(body))
        Some("JSON_EACH(value): argument must be a JSON object or array")
      else
        Some("JSON_EACH(value): invalid JSON string. Argument must be valid JSON.")
    } else if (a0.equalsIgnoreCase("true") || a0.equalsIgnoreCase("false") ||
        a0.matches(raw"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"))
      Some("JSON_EACH(value): argument must be a JSON object or array")
    else None
  }


  /** One-pass token-edit walker: tokenize once, collect disjoint span
    * replacements, splice. The shape every small keyword/operator
    * rewrite uses (string literals, comments and quoted identifiers are
    * classified by the lexer, never by per-pass guards).
    */
  private[plans] def tokenEdit(s: String)(
      collect: SqlTok.View => Seq[(Int, Int, String)]): String = {
    val v = new SqlTok.View(s)
    SqlTok.applyEdits(s, collect(v))
  }


  /** Rewrite every `fname(args)` call site via `f(args)`, token-driven
    * (nested calls, commas inside arguments, string literals and
    * comments are classified by the shared lexer): one tokenization,
    * sites spliced in text order, each site's argument span walked
    * (innermost first) before its builder runs. Each pass rewrites every
    * site once, never its own output: a builder may emit `fname(` itself.
    * An unbalanced call paren ends the pass — that site and all text
    * after it stay as written.
    */
  private[plans] def rewriteCall(sql: String, fname: String, f: Seq[String] => String): String = {
    val up = fname.toUpperCase(java.util.Locale.ROOT)
    val v = new SqlTok.View(sql)
    val t = v.toks
    var stopped = false
    // chars [from, to) holding tokens [lo, hi), every site rewritten
    def walk(from: Int, to: Int, lo: Int, hi: Int): String = {
      val out = new java.lang.StringBuilder
      var pos = from
      var k = lo
      while (!stopped && k + 1 < hi) {
        if (t(k).is(up) && t(k + 1).kind == SqlTok.LPar) {
          val close = v.brk(k + 1)
          if (close < 0) stopped = true
          else {
            val args = splitTopLevel(walk(t(k + 1).end, t(close).start, k + 2, close))
            out.append(sql, pos, t(k).start).append(f(args))
            pos = t(close).end
            k = close
          }
        }
        k += 1
      }
      out.append(sql, pos, to).toString
    }
    walk(0, sql.length, 0, t.length)
  }


  /** Higher-order functions whose second/third argument is a lambda — a
    * `x -> 'p'` inside one of these is a lambda body, NOT a JSON access.
    * Both dialect (list_*) and Spark spellings, since arrows rewrite first.
    */
  private[plans] val hofNames = Set(
    "TRANSFORM", "FILTER", "EXISTS", "FORALL", "AGGREGATE", "REDUCE",
    "ZIP_WITH", "MAP_FILTER", "MAP_ZIP_WITH", "TRANSFORM_KEYS",
    "TRANSFORM_VALUES", "ARRAY_SORT", "SORT_ARRAY",
    "LIST_TRANSFORM", "LIST_FILTER", "LIST_REDUCE", "LIST_AGGREGATE",
    "LIST_SORT", "ANY_MATCH", "ALL_MATCH", "NONE_MATCH")


  /** True when token `tokIdx` sits inside a higher-order-function call —
    * its innermost enclosing paren has an adjacent-or-spaced function
    * name from [[hofNames]]. An arrow under a `filter`/`exists` call is
    * only a lambda when that call is the HOF form, not SQL `FILTER
    * (WHERE ...)` / `EXISTS (SELECT ...)` — those open with a keyword, a
    * lambda never does.
    */
  private[plans] def isHofContext(v: SqlTok.View, tokIdx: Int): Boolean = {
    val t = v.toks
    var depth = 0
    var i = tokIdx - 1
    while (i >= 0) {
      t(i).kind match {
        case SqlTok.RPar => depth += 1; i -= 1
        case SqlTok.LPar if depth > 0 => depth -= 1; i -= 1
        case SqlTok.LPar =>
          // innermost enclosing paren: HOF iff its call name says so
          return i > 0 && t(i - 1).kind == SqlTok.Word &&
            hofNames.contains(t(i - 1).up) && {
              val name = t(i - 1).up
              if (name == "FILTER" || name == "EXISTS") {
                val w = if (i + 1 < t.length && t(i + 1).kind == SqlTok.Word)
                  t(i + 1).up else ""
                w != "WHERE" && w != "SELECT"
              } else true
            }
        case _ => i -= 1
      }
    }
    false
  }


  /** Glob pattern → anchored regex (`*` → `.*`, `?` → `.`, classes kept,
    * regex metacharacters escaped).
    */
  private[plans] def globToRegex(g: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val j = g.indexOf(']', i + 1)
          if (j < 0) sb.append("\\[")
          else {
            // glob negation is [!...]; regex spells it [^...]
            val body = g.substring(i + 1, j)
            val cls = if (body.startsWith("!")) "^" + body.drop(1) else body
            sb.append('[').append(cls).append(']')
            i = j
          }
        case c if "\\.^$+{}()|".indexOf(c.toInt) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('$').toString
  }
}
