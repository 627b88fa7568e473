package graft

import graft.plans.{GraftSql, PlanCallSpec, SqlTok}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.scalatest.funsuite.AnyFunSuite

/** The shared lexer ([[graft.plans.SqlTok]]) that every GraftSql
  * text-rewrite pass consumes, plus the three historical guard
  * regressions: each of these was a wrong-rows bug produced by the old
  * per-rewrite char/regex guard stacks (window-spec alias, commit
  * 9652458; generalized alias-after-paren, seed-88014;
  * ILIKE-after-paren, seed-88015 / commit 665e7d5). The `||` and LIKE
  * operands are now wrapped on the parsed plan, so the pins assert the
  * TRANSLATED PLAN (text passes, parse, plan rules) against the parse of
  * the expected text, still without needing a SparkSession.
  */
class SqlTokSpec extends AnyFunSuite {
  import SqlTok._

  private def kinds(s: String) = tokenize(s).map(_.kind)

  /** Assert `sql` translates to the plan `expected` parses to. */
  private def translatesTo(sql: String, expected: String): Unit = {
    val (got, want) = PlanCallSpec.translatedAndExpected(sql, expected)
    assert(got == want)
  }

  test("tokens carry exact source offsets over quotes, comments and idents") {
    val s = "SELECT a||'x--y' -- tail comment\n , b2 /* c */ FROM \"w t\""
    val t = tokenize(s)
    assert(t.map(tok => s.substring(tok.start, tok.end)) ==
      Vector("SELECT", "a", "||", "'x--y'", ",", "b2", "FROM", "\"w t\""))
    assert(t.map(_.kind) ==
      Vector(Word, Word, Op, Str, Comma, Word, Word, DQuot))
    // uppercase cache for words; raw text elsewhere
    assert(t.head.up == "SELECT" && t(3).up == "'x--y'")
  }

  test("doubled '' reads as two adjacent literals (quote parity preserved)") {
    // the dialect has no backslash escapes: 'a''b' is two literals,
    // exactly the parity the lexer preserves
    assert(kinds("'a''b'") == Vector(Str, Str))
    // an unterminated literal runs to end of input, never out of bounds
    val t = tokenize("x = 'open")
    assert(t.last.kind == Str && t.last.end == "x = 'open".length)
  }

  test("multi-char operators lex as single tokens; dots bind members not numbers") {
    val ops = tokenize("a||b->c->>d::e:=f<=>g<=h>=i!=j<>k!~m")
      .filter(_.kind == Op).map(_.up)
    assert(ops == Vector("||", "->", "->>", "::", ":=", "<=>", "<=", ">=", "!=", "<>", "!~"))
    // .5 is a number where no member base precedes; t1.5 is access
    assert(kinds("SELECT .5, t1.c2") ==
      Vector(Word, Num, Comma, Word, Op, Word))
    assert(tokenize("1.5e-2").map(_.up) == Vector("1.5e-2"))
  }

  test("bracketMatch pairs parens/brackets and tolerates strays") {
    val t = tokenize("f(a[1], (b))]")
    val m = bracketMatch(t)
    val open = t.indexWhere(_.kind == LPar)
    assert(t(m(open)).kind == RPar && m(m(open)) == open)
    val brkOpen = t.indexWhere(_.kind == LBrk)
    assert(t(m(brkOpen)).kind == RBrk)
    assert(m.last == -1) // the stray ] maps to nothing
  }

  // ---- the three historical guard regressions, pinned on the translated plan ----

  test("regression pin (9652458): implicit alias after a window spec stays OUTSIDE the || wrap") {
    translatesTo("SELECT 'r' || row_number() OVER (ORDER BY x) c0 FROM t",
      "SELECT graft_js_str('r') || graft_js_str(row_number() OVER (ORDER BY x)) c0 FROM t")
  }

  test("regression pin (seed-88014): implicit alias after ANY close paren ends the wrap") {
    // trim is a PlanCalls builder: JS String.prototype.trim over String(s)
    translatesTo("SELECT 'p' || trim(s) q2 FROM t",
      "SELECT graft_js_str('p') || graft_js_str(graft_js_trim(graft_js_str(s))) q2 FROM t")
  }

  test("regression pin (665e7d5 / seed-88015): ILIKE and END after a close paren are operators, not aliases") {
    // (expr) ILIKE must wrap its parenthesized operand — the alias
    // misread dropped the graft_js_str wrap, so Spark's '251.0'
    // rendering matched '%0%' where JS '251' does not
    translatesTo("SELECT (bal / 1) LIKE '%0%' FROM t",
      "SELECT graft_js_str((bal / nullif(1, 0))) ILIKE graft_js_str('%0%') FROM t")
    // END after a paren closes its CASE instead of reading as an alias
    translatesTo("SELECT CASE WHEN a THEN (b) END || c FROM t",
      "SELECT graft_js_str(CASE WHEN a THEN (b) END) || graft_js_str(c) FROM t")
    // and ILIKE after a paren composes with a || upstream: the whole
    // concatenation is the ILIKE operand
    translatesTo("SELECT 'x' || (a + 1) ILIKE '%2%' FROM t",
      "SELECT graft_js_str(graft_js_str('x') || graft_js_str((a + 1))) ILIKE graft_js_str('%2%') FROM t")
  }

  // ---- round-15 advisor findings: the reference parser is TOKEN-based,
  // so whitespace between a primary and its call-paren / subscript /
  // dot-member suffix is insignificant (`f (x)`, `a [1]`, `t . a` — all
  // probed against the live reference). The old char scanners skipped
  // whitespace; the first SqlTok cut required adjacency. ------------------

  test("advisor r15: whitespace-separated call parens are calls (divisor + NOT IN)") {
    translatesTo("SELECT a / abs (b) AS r FROM t",
      "SELECT a / nullif(abs (b), 0) AS r FROM t")
    // the NULL-semantics NOT-EXISTS translation must not silently drop
    // when the lhs call has a spaced paren
    translatesTo("SELECT a FROM t WHERE abs (a) NOT IN (SELECT a FROM t WHERE a > 1)",
      "SELECT a FROM t WHERE NOT EXISTS (SELECT 1 FROM (SELECT a FROM t WHERE a > 1) " +
        "AS __nin(__nin_c) WHERE __nin_c <=> abs (a))")
  }

  test("advisor r15: spaced subscripts and dot chains; keywords never take suffixes") {
    translatesTo("SELECT a [1] AS r FROM t",
      "SELECT graft_get(a , (1)) AS r FROM t")
    translatesTo("SELECT f(x) [0] AS r FROM t",
      "SELECT graft_get(f(x) , (0)) AS r FROM t")
    // dot member access chains across whitespace: the interval call's
    // operand is the whole column
    val operands = PlanCallSpec.translatedPlan("SELECT x FROM t WHERE t2 . c3 + INTERVAL 1 DAY")
      .flatMap(_.expressions).flatMap(_.collect {
        case f: UnresolvedFunction if f.nameParts == Seq("graft_js_interval") => f.arguments.head
      })
    assert(operands.map(_.children) == Seq(Seq(UnresolvedAttribute(Seq("t2", "c3")))), operands)
    // an operator/clause keyword before ( or [ is NOT a call/subscript
    assert(GraftSql.rewrite("SELECT CASE WHEN a THEN [1] ELSE [2] END AS r FROM t") ==
      "SELECT CASE WHEN a THEN array(1) ELSE array(2) END AS r FROM t")
    assert(GraftSql.rewrite("SELECT x AND (a > 1) AS r FROM t") ==
      "SELECT x AND (a > 1) AS r FROM t")
  }

  test("advisor r15: comma-TVF with a trailing bare ON no longer throws") {
    // strictLint rejects this on host paths; direct rewrite() callers
    // must get text back, not IndexOutOfBoundsException
    val out = GraftSql.rewrite("SELECT * FROM t, UNNEST(x) a ON")
    assert(out.contains("LATERAL"), out)
  }

  test("advisor r15: ORDER BY agg-alias expansion anchors only at top-level ORDER BY") {
    // the window-spec ORDER BY must not anchor the scan: with a FIRST
    // `ORDER BY` inside OVER(...), a later select-list agg(alias) must
    // NOT be expanded again from that anchor
    // exactly one expansion of sum(p) and of the GROUP BY term; no
    // ORDER-BY-phase rewrite may touch the select list
    translatesTo("SELECT price - 1 AS p, rank() OVER (ORDER BY q) AS rk, " +
      "sum(p) AS s FROM t GROUP BY p, q",
      "SELECT price - 1 AS p, rank() OVER (ORDER BY q) AS rk, " +
        "sum(graft_js_num(price - 1)) AS s FROM t GROUP BY price - 1, q")
  }
}
