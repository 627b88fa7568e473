package graft.plans
package rewrite

/** Statement-SKELETON rewrites: passes that restructure the query
  * shape (FROM-first statements, set-op arm tails, DISTINCT ON,
  * comma-joined table functions, POSITIONAL JOIN) or re-anchor
  * bare-DESC null ordering. They run FIRST in [[GraftSql.rewrite]]'s
  * ordered pipeline — every later pass anchors on the SELECT skeleton
  * these emit.
  */
private[plans] object SkeletonPasses {

  import SqlTok.splitTopLevel
  import RewriteSupport._

  /** DuckDB-style FROM-first queries: the reference's parseSelect reads
    * a leading FROM as `SELECT * FROM ...` (reference:
    * src/parse/parse.js:193-197), anywhere a select can start — the
    * statement head, a parenthesized subquery, or a set-operation arm.
    * Spark has no FROM-first form; insert the star select at those
    * positions (a FROM directly at statement start / after `(` / after
    * UNION|INTERSECT|EXCEPT [ALL|DISTINCT] cannot be anything else).
    */
  private[plans] def rewriteFromFirst(sqlIn: String): String =
    tokenEdit(sqlIn) { v =>
      val t = v.toks
      def setOp(i: Int): Boolean =
        t(i).is("UNION") || t(i).is("INTERSECT") || t(i).is("EXCEPT")
      t.indices.collect {
        case k if t(k).is("FROM") && (k == 0 || (t(k - 1).kind match {
          case SqlTok.LPar => true
          case SqlTok.RPar =>
            // `WITH c AS (SELECT …) FROM c` — a FROM right after a CTE
            // body's close-paren is FROM-first (the reference accepts
            // it); a close-paren whose opener is NOT preceded by AS
            // (scalar subquery, function call) is a normal FROM
            val open = v.brk(k - 1)
            open > 0 && t(open - 1).is("AS")
          case SqlTok.Word =>
            setOp(k - 1) || ((t(k - 1).is("ALL") || t(k - 1).is("DISTINCT")) &&
              k >= 2 && setOp(k - 2))
          case _ => false
        })) => (t(k).start, t(k).start, "SELECT * ")
      }
    }


  /** Mid-chain ORDER BY / LIMIT / OFFSET tails on set-operation ARMS.
    * The reference parses each SELECT's own tail, then LIFTS the tail
    * of every RIGHT operand onto the compound node it just built —
    * cascading up right spines (reference: src/parse/parse.js:110-181,
    * parseSetOperations/parseIntersectOperations; probed live this
    * round). So `A UNION B ORDER BY k LIMIT 2 UNION C` sorts and
    * slices (A UNION B), `A UNION B ORDER BY k LIMIT 2 INTERSECT C`
    * slices only B (B is the LEFT of the tighter INTERSECT), and a
    * tail on the final arm binds the whole statement — while Spark
    * rejects every mid-chain tail at parse. Rebuild the chain with the
    * parser's exact grouping: fold INTERSECT runs first, lift each
    * right operand's tail onto the growing compound, and wrap any LEFT
    * operand that still carries a tail into a subquery that applies it.
    * Parenthesized arms are parse errors in the reference ("Expected
    * SELECT but found ("), so only unparenthesized top-level chains
    * arrive here; a set-op inside a derived table keeps Spark
    * semantics. INTERSECT precedence is identical in both engines, so
    * the rebuilt text needs no grouping parens of its own.
    */
  private[plans] def rewriteSetOpArmTails(sqlIn: String): String = {
    val v = new SqlTok.View(sqlIn)
    val t = v.toks
    // top-level set-op keywords; `* EXCEPT (cols)` has an adjacent LPar
    val opIdx = t.indices.filter { i =>
      v.depth(i) == 0 && t(i).kind == SqlTok.Word &&
        (t(i).is("UNION") || t(i).is("INTERSECT") || t(i).is("EXCEPT")) &&
        !(i + 1 < t.length && t(i + 1).kind == SqlTok.LPar)
    }
    if (opIdx.isEmpty) return sqlIn
    val tailKw = Set("ORDER", "LIMIT", "OFFSET")
    // arm token ranges and the joining op text (ALL/DISTINCT absorbed)
    case class Arm(fromTok: Int, toTok: Int) {
      val sel: Option[Int] =
        (fromTok until toTok).find(i => v.depth(i) == 0 && t(i).is("SELECT"))
      val tailTok: Option[Int] = sel.flatMap(s0 => (s0 until toTok).find(i =>
        v.depth(i) == 0 && t(i).kind == SqlTok.Word && tailKw(t(i).up)))
    }
    val arms = Seq.newBuilder[Arm]
    val ops = Seq.newBuilder[String]
    var armStart = 0
    for (i <- opIdx) {
      arms += Arm(armStart, i)
      val mod = if (i + 1 < t.length && (t(i + 1).is("ALL") || t(i + 1).is("DISTINCT"))) 1 else 0
      ops += (t(i).up + (if (mod == 1) " " + t(i + 1).up else ""))
      armStart = i + 1 + mod
    }
    arms += Arm(armStart, t.length)
    val armSeq = arms.result()
    val opSeq = ops.result()
    // every arm must have a SELECT, and some arm BEFORE the last must
    // carry a tail — otherwise Spark already parses the text as-is
    if (armSeq.exists(_.sel.isEmpty) || !armSeq.init.exists(_.tailTok.isDefined))
      return sqlIn
    def charEnd(a: Arm): Int = if (a.toTok < t.length) t(a.toTok).start else sqlIn.length
    // core = the arm body without its tail; tail kept separately
    final case class Node(core: String, tail: Option[String])
    def armNode(a: Arm): Node = {
      val bodyStart = t(a.sel.get).start
      a.tailTok match {
        case Some(tt) => Node(sqlIn.substring(bodyStart, t(tt).start).trim,
          Some(sqlIn.substring(t(tt).start, charEnd(a)).trim))
        case None => Node(sqlIn.substring(bodyStart, charEnd(a)).trim, None)
      }
    }
    var wrapN = 0
    // a LEFT operand carrying a tail applies it to ITSELF — as a
    // subquery (the reference executes the arm's own orderBy/limit
    // before the set op)
    def leftText(n: Node): String = n.tail match {
      case Some(tl) =>
        wrapN += 1
        s"SELECT * FROM (${n.core} $tl) __setarm$wrapN"
      case None => n.core
    }
    // a RIGHT operand's tail lifts onto the compound (cascading — the
    // new node carries it until IT becomes a left operand or the end)
    def combine(l: Node, op: String, r: Node): Node =
      Node(s"${leftText(l)} $op ${r.core}", r.tail)
    var unionLeft: Option[Node] = None
    var pendingOp = ""
    var cur = armNode(armSeq.head)
    for (k <- opSeq.indices) {
      val rhs = armNode(armSeq(k + 1))
      if (opSeq(k).startsWith("INTERSECT")) cur = combine(cur, opSeq(k), rhs)
      else {
        unionLeft = Some(unionLeft.fold(cur)(ul => combine(ul, pendingOp, cur)))
        pendingOp = opSeq(k)
        cur = rhs
      }
    }
    val top = unionLeft.fold(cur)(ul => combine(ul, pendingOp, cur))
    // the final (fully lifted) tail binds the whole statement — Spark's
    // native trailing-clause semantics
    val prefix = sqlIn.substring(0, t(armSeq.head.sel.get).start)
    prefix + top.core + top.tail.map(" " + _).getOrElse("")
  }


  /** `SELECT DISTINCT ON (k, ...) proj FROM ... [ORDER BY o] [LIMIT n]` →
    * row_number() over (PARTITION BY k ORDER BY o) + keep rank 1
    * (Postgres semantics: first row per key in ORDER BY order). Handles
    * the single top-level SELECT shape; ORDER BY columns must be
    * selectable from the base relation.
    */
  private[plans] def rewriteDistinctOn(sql: String): String = {
    val v = new SqlTok.View(sql)
    val t = v.toks
    val isHead = t.length > 4 && t(0).is("SELECT") && t(1).is("DISTINCT") &&
      t(2).is("ON") && t(3).kind == SqlTok.LPar && v.brk(3) >= 0
    if (!isHead) return sql
    val close = v.brk(3)
        val onCols = sql.substring(t(3).end, t(close).start).trim
        // FIRST top-level occurrence of each clause keyword after the ON
        // list — subqueries sit inside parens, handled by token depth
        def topTok(kws: Set[String]): Int = v.topIdx(close + 1, t.length)(
          x => x.kind == SqlTok.Word && kws(x.up))
        val fromTok = topTok(Set("FROM"))
        if (fromTok < 0) return sql
        val orderTok = {
          val i = topTok(Set("ORDER"))
          if (i >= 0 && i + 1 < t.length && t(i + 1).is("BY")) i else -1
        }
        // a top-level LIMIT/OFFSET applies AFTER dedup even when there is
        // no ORDER BY — it must leave the inner body either way
        val limitTok = topTok(Set("LIMIT", "OFFSET"))
        if ((orderTok >= 0 && orderTok <= fromTok) ||
            (limitTok >= 0 && limitTok <= fromTok)) return sql
        val cutChar = Seq(orderTok, limitTok).filter(_ >= 0)
          .map(i => t(i).start).minOption.getOrElse(sql.length)
        val windowOrder =
          if (orderTok < 0) onCols
          else if (orderTok + 2 >= t.length) ""
          else {
            val wEnd = if (limitTok >= 0) t(limitTok).start else sql.length
            sql.substring(t(orderTok + 2).start, wEnd).trim
          }
        val limitTail = if (limitTok >= 0) sql.substring(t(limitTok).start) else ""
        val proj = sql.substring(t(close).end, t(fromTok).start)
        val fromPart = sql.substring(t(fromTok).start, cutChar)
        // ORDER BY expressions may reference base-table columns absent from
        // the projection (the idiomatic Postgres shape: SELECT DISTINCT ON
        // (k) payload ... ORDER BY k, ts DESC) — project each ordering
        // expression into the inner query under a reserved alias, order the
        // outer query by the aliases, then EXCEPT them away. ORDINALS in
        // the ORDER BY are resolved to their underlying projection
        // expressions first (inside OVER() they would be constants);
        // select-list ALIASES are substituted on the parsed plan, as in
        // any later item of a select list.
        val projItems = splitTopLevel(proj)
        val aliasRe = raw"(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
        def baseExpr(item: String): String = item match {
          case aliasRe(e, _) => e.trim
          case other => other.trim
        }
        def resolveOrd(e: String): String = {
          val t = e.trim
          if (t.forall(_.isDigit) && t.nonEmpty) {
            // toIntOption: an ordinal wider than Int (ORDER BY 9999999999999)
            // must fall through as a plain literal for the analyzer to
            // reject, not crash the rewriter with NumberFormatException
            t.toIntOption match {
              case Some(n) if n >= 1 && n <= projItems.length => baseExpr(projItems(n - 1))
              case _ => t
            }
          } else t
        }
        val dirRe = raw"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$$".r
        val ordItems = splitTopLevel(windowOrder).zipWithIndex.map { case (item, i) =>
          item match {
            case dirRe(e, dir) => (resolveOrd(e), dir.trim, s"__ord$i")
            case _ => (resolveOrd(item), "", s"__ord$i")
          }
        }
        val resolvedWindowOrder = ordItems.map { case (e, d, _) => s"$e $d".trim }.mkString(", ")
        val resolvedOn = splitTopLevel(onCols).map(resolveOrd).mkString(", ")
        val innerExtras = ordItems.map { case (e, _, a) => s"$e AS $a" }.mkString(", ")
        val outerOrder =
          if (orderTok < 0) ""
          else "ORDER BY " + ordItems.map { case (_, d, a) => s"$a $d".trim }.mkString(", ")
        val except = ("__rn" +: ordItems.map(_._3)).mkString(", ")
        s"SELECT * EXCEPT ($except) FROM (SELECT $proj, $innerExtras, " +
          s"row_number() OVER (PARTITION BY $resolvedOn ORDER BY $resolvedWindowOrder) AS __rn $fromPart) " +
          s"__distinct_on WHERE __rn = 1 $outerOrder $limitTail"
  }


  /** Comma-joined table functions — the reference's implicit CROSS JOIN
    * LATERAL (`FROM t, UNNEST(x) [AS] alias[(col,...)]`, reference:
    * src/parse/joins.js:113-124). Spark parses a bare comma TVF as
    * UNCORRELATED, so outer columns fail to resolve — the LATERAL
    * keyword restores correlation. Default output columns follow the
    * reference (src/parse/parse.js:543-546): the function name
    * lowercased, or (key, value) for JSON_EACH, whose rows come from
    * exploding the object as a map.
    */
  private[plans] def rewriteCommaTvf(sql: String): String = {
    // TVF spellings the reference accepts (src/parse/joins.js):
    //   FROM t, TVF(x) [AS] a[(cols)]                — implicit CROSS JOIN LATERAL
    //   FROM t [CROSS|INNER|LEFT] JOIN TVF(x) [AS] a[(cols)] [ON cond]
    //   FROM TVF(x) [AS] a[(cols)]                   — table-function scan
    // Default output columns follow the reference (parse.js:543-546):
    // the function name lowercased, or (key, value) for JSON_EACH. A
    // TVF alias with ONE output column also answers DOT/subscript
    // access to the element's fields (`tc.name` over exploded structs)
    // — the post-pass qualifies those through the column.
    val tvfNames = Set("UNNEST", "EXPLODE", "JSON_EACH")
    val kw = Set("WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "JOIN",
      "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "LATERAL", "UNION",
      "INTERSECT", "EXCEPT", "ON", "HAVING")
    val clauseEnd = Set("WHERE", "GROUP", "ORDER", "LIMIT", "HAVING",
      "UNION", "INTERSECT", "EXCEPT", "JOIN", "INNER", "LEFT", "RIGHT",
      "FULL", "CROSS")
    // TVF aliases that expose a single default column: dot/subscript
    // access through the alias must route through that column
    val singleCol = scala.collection.mutable.ListBuffer[(String, String)]()
    val v = new SqlTok.View(sql)
    val t = v.toks
    val edits = Seq.newBuilder[(Int, Int, String)]
    var sites = 0
    // one left-to-right scan; a site inside the span an earlier site
    // consumed (its arguments, alias or ON condition) stays as written
    var from = 0
    for (site <- 1 until t.length - 1) {
      val isTvf = t(site).kind == SqlTok.Word && tvfNames(t(site).up) &&
        t(site).start >= from && t(site + 1).kind == SqlTok.LPar && v.brk(site + 1) >= 0
      // the separator before the TVF name: Comma | FROM |
      // [CROSS|INNER|LEFT [OUTER]] JOIN, as (normalized spelling, first token)
      val sepAt: Option[(String, Int)] =
        if (!isTvf) None
        else if (t(site - 1).kind == SqlTok.Comma) Some((",", site - 1))
        else if (t(site - 1).is("FROM")) Some(("FROM", site - 1))
        else if (!t(site - 1).is("JOIN")) None
        else if (site >= 2 && (t(site - 2).is("CROSS") || t(site - 2).is("INNER")))
          Some((t(site - 2).up + " JOIN", site - 2))
        else if (site >= 3 && t(site - 2).is("OUTER") && t(site - 3).is("LEFT"))
          Some(("LEFT OUTER JOIN", site - 3))
        else if (site >= 2 && t(site - 2).is("LEFT")) Some(("LEFT JOIN", site - 2))
        else Some(("JOIN", site - 1))
      sepAt.foreach { case (sep, sepTok) =>
        sites += 1
        val close = v.brk(site + 1)
        val fname = t(site).up
        val args = sql.substring(t(site + 1).end, t(close).start)
        def text(k: Int): String = sql.substring(t(k).start, t(k).end)
        // [AS] alias [(col, ...)]
        var j = close + 1
        var alias = s"__tvf$sites"
        var cols = Seq.empty[String]
        val aliasIdx =
          if (j < t.length && t(j).is("AS") && j + 1 < t.length &&
              t(j + 1).kind == SqlTok.Word && !kw(t(j + 1).up)) j + 1
          else if (j < t.length && t(j).kind == SqlTok.Word && !kw(t(j).up)) j
          else -1
        if (aliasIdx >= 0) {
          alias = text(aliasIdx)
          j = aliasIdx + 1
          if (j < t.length && t(j).kind == SqlTok.LPar && v.brk(j) >= 0) {
            val ce = v.brk(j)
            val innerToks = (j + 1 until ce).map(t(_))
            val clean = innerToks.nonEmpty && innerToks.zipWithIndex.forall {
              case (x, n) => if (n % 2 == 0) x.kind == SqlTok.Word
                             else x.kind == SqlTok.Comma
            } && innerToks.length % 2 == 1
            if (clean) {
              cols = innerToks.collect { case x if x.kind == SqlTok.Word =>
                sql.substring(x.start, x.end) }.toSeq
              j = ce + 1
            }
          }
        }
        // optional ON <cond> after a JOIN form — the condition runs to
        // the next same-level clause keyword, comma, or closing paren
        // (a trailing bare ON with nothing after it is no condition —
        // strictLint rejects it on host paths; direct rewrite callers
        // must not crash)
        var onCond: Option[String] = None
        if (j + 1 < t.length && t(j).is("ON")) {
          var m = j + 1
          var d = 0
          var endTok = t.length
          var scanning = true
          while (scanning && m < t.length) {
            t(m).kind match {
              case SqlTok.LPar => d += 1
              case SqlTok.RPar =>
                d -= 1; if (d < 0) { endTok = m; scanning = false }
              case SqlTok.Comma if d == 0 => endTok = m; scanning = false
              case SqlTok.Word if d == 0 && m > j + 1 && clauseEnd(t(m).up) =>
                endTok = m; scanning = false
              case _ => ()
            }
            if (scanning) m += 1
          }
          val condEnd = if (endTok < t.length) t(endTok).start else sql.length
          onCond = Some(sql.substring(t(j + 1).start, condEnd).trim)
            .filter(_.nonEmpty)
          j = endTok
        }
        val consumedEnd =
          if (j > close + 1) t(j - 1).end else t(close).end
        val defCols =
          if (fname == "JSON_EACH") Seq("key", "value")
          else Seq(fname.toLowerCase(java.util.Locale.ROOT))
        // a written alias list names the FIRST columns (the
        // reference's j(k) form); the rest keep their defaults
        val colList =
          if (cols.isEmpty) defCols
          else cols ++ defCols.drop(cols.length)
        if (cols.isEmpty && colList.size == 1) singleCol += alias -> colList.head
        // PlanCalls expands json_each on the parsed plan
        val inner = if (fname == "JSON_EACH") s"json_each($args)" else s"explode($args)"
        val aliased = s"$inner AS $alias(${colList.mkString(", ")})"
        val replacement = sep match {
          case "FROM" => s"FROM $aliased"
          case "," => s", LATERAL $aliased"
          case jn if onCond.forall(_.equalsIgnoreCase("TRUE")) && !jn.startsWith("LEFT") =>
            s", LATERAL $aliased" // inner join ON TRUE ≡ cross lateral
          case jn =>
            val prefix = if (jn.startsWith("LEFT")) "LEFT " else ""
            s"${prefix}JOIN LATERAL (SELECT * FROM $aliased) AS $alias ON ${onCond.getOrElse("TRUE")}"
        }
        edits += ((t(sepTok).start, consumedEnd, replacement))
        from = consumedEnd
      }
    }
    var s = SqlTok.applyEdits(sql, edits.result())
    // dot/subscript access through a single-column TVF alias: `tc.name`
    // over exploded structs means field access on the element column
    singleCol.foreach { case (alias, col) =>
      val aliasUp = alias.toUpperCase(java.util.Locale.ROOT)
      val colUp = col.toUpperCase(java.util.Locale.ROOT)
      s = tokenEdit(s) { v =>
        val t = v.toks
        t.indices.flatMap { k =>
          val isRef = t(k).kind == SqlTok.Word && t(k).up == aliasUp &&
            !(k > 0 && t(k - 1).isOp(".") && t(k - 1).end == t(k).start)
          if (!isRef) None
          else if (k + 2 < t.length && t(k + 1).isOp(".") &&
              t(k).end == t(k + 1).start && t(k + 1).end == t(k + 2).start &&
              t(k + 2).kind == SqlTok.Word && t(k + 2).up != colUp)
            Some((t(k).end, t(k).end, s".$col"))
          else if (k + 1 < t.length && t(k + 1).kind == SqlTok.LBrk &&
              t(k).end == t(k + 1).start)
            Some((t(k).end, t(k).end, s".$col"))
          else None
        }
      }
    }
    s
  }


  /** Reference null ordering: nulls sort FIRST regardless of direction
    * unless NULLS LAST is explicit (execute/utils.js:19-23 — the null
    * branch returns BEFORE the DESC flip). Spark's bare-DESC default is
    * NULLS LAST, so every bare DESC INSIDE AN ORDER BY TAIL gets the
    * explicit modifier. Token-driven with per-paren-depth ORDER-BY
    * state, so `OVER (ORDER BY x DESC)` window specs convert while a
    * DESC used as an identifier anywhere else passes through.
    */
  private[plans] def rewriteBareDesc(sqlIn: String): String = {
    val toks = SqlTok.tokenize(sqlIn)
    val clauseEnd = Set("LIMIT", "OFFSET", "HAVING", "WINDOW", "QUALIFY",
      "UNION", "INTERSECT", "EXCEPT", "FROM", "WHERE", "GROUP", "SELECT",
      "ROWS", "RANGE")
    val edits = scala.collection.mutable.ListBuffer.empty[(Int, String)]
    var stack: List[Boolean] = List(false) // inOrderBy per paren depth
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      t.kind match {
        case SqlTok.LPar => stack ::= false
        case SqlTok.RPar => if (stack.tail.nonEmpty) stack = stack.tail
        case SqlTok.Word if t.up == "ORDER" &&
            k + 1 < toks.length && toks(k + 1).is("BY") =>
          stack = true :: stack.tail
        case SqlTok.Word if clauseEnd(t.up) =>
          stack = false :: stack.tail
        case SqlTok.Word if t.up == "DESC" && stack.head &&
            !(k + 1 < toks.length && toks(k + 1).is("NULLS")) =>
          edits += ((t.end, " NULLS FIRST"))
        case _ => ()
      }
      k += 1
    }
    SqlTok.applyInserts(sqlIn, edits.toList)
  }


  /** `A [al] POSITIONAL JOIN B [bl]` (DuckDB-style row-position join;
    * reference: test/execute/positional.test.js — shorter side padded
    * with NULLs): each side gains a row_number over the input order and
    * the join becomes FULL OUTER USING that position. Without this
    * rewrite Spark parses POSITIONAL as a table ALIAS and silently
    * cross-scopes the query — the silent-wrong-answer class. A bare
    * `SELECT *` projection is rewritten to `* EXCEPT (__gpos)` so the
    * helper column never reaches the caller.
    */
  private[plans] def rewritePositionalJoin(sqlIn: String): String = {
    if (!sqlIn.toUpperCase(java.util.Locale.ROOT).contains("POSITIONAL")) return sqlIn
    val kw = Set("FROM", "JOIN", "WHERE", "GROUP", "ORDER", "LIMIT",
      "HAVING", "UNION", "ON", "AND", "OR", "SELECT", "CROSS", "INNER",
      "LEFT", "RIGHT", "FULL", "POSITIONAL")
    def side(tbl: String, alias: String): String = {
      val al = if (alias != null) alias else tbl.split('.').last
      // OVER (): PlanCalls numbers a ranking window without ORDER BY in input order
      s"(SELECT *, row_number() OVER () AS __gpos FROM $tbl) AS $al"
    }
    val v = new SqlTok.View(sqlIn)
    val t = v.toks
    def tableWord(i: Int): Boolean = i >= 0 && i < t.length &&
      t(i).kind == SqlTok.Word && !kw(t(i).up)
    // start of the dotted chain ENDING at token i
    def chainStart(i: Int): Int = {
      var j = i
      while (j >= 2 && t(j - 1).isOp(".") && t(j - 1).end == t(j).start &&
          t(j - 2).end == t(j - 1).start && t(j - 2).kind == SqlTok.Word) j -= 2
      j
    }
    def text(i: Int): String = sqlIn.substring(t(i).start, t(i).end)
    val edits = Seq.newBuilder[(Int, Int, String)]
    var lastEnd = -1
    var rewrote = false
    var k = 0
    while (k + 1 < t.length) {
      if (t(k).is("POSITIONAL") && t(k + 1).is("JOIN")) {
        // LEFT side, backward from POSITIONAL: tbl | tbl alias | tbl AS alias
        var lAlias: String = null
        var lEnd = k - 1 // chain-end token of the left table
        if (tableWord(lEnd)) {
          if (lEnd >= 2 && t(lEnd - 1).is("AS") && tableWord(lEnd - 2)) {
            lAlias = text(lEnd); lEnd -= 2
          } else if (chainStart(lEnd) == lEnd && lEnd >= 1 && tableWord(lEnd - 1)) {
            lAlias = text(lEnd); lEnd -= 1
          }
        }
        val lStart = chainStart(lEnd)
        // RIGHT side, forward from JOIN: tbl [AS] alias
        val rStart = k + 2
        if (tableWord(lStart) && tableWord(rStart) && t(lStart).start > lastEnd) {
          var rTblEnd = rStart
          while (rTblEnd + 2 < t.length && t(rTblEnd + 1).isOp(".") &&
              t(rTblEnd).end == t(rTblEnd + 1).start &&
              t(rTblEnd + 1).end == t(rTblEnd + 2).start &&
              t(rTblEnd + 2).kind == SqlTok.Word) rTblEnd += 2
          var rAlias: String = null
          var rEnd = rTblEnd
          if (rTblEnd + 2 < t.length && t(rTblEnd + 1).is("AS") &&
              tableWord(rTblEnd + 2)) {
            rAlias = text(rTblEnd + 2); rEnd = rTblEnd + 2
          } else if (rTblEnd + 1 < t.length && tableWord(rTblEnd + 1)) {
            rAlias = text(rTblEnd + 1); rEnd = rTblEnd + 1
          }
          val lTbl = sqlIn.substring(t(lStart).start, t(lEnd).end)
          val rTbl = sqlIn.substring(t(rStart).start, t(rTblEnd).end)
          edits += ((t(lStart).start, t(rEnd).end,
            s"${side(lTbl, lAlias)} FULL JOIN ${side(rTbl, rAlias)} USING (__gpos)"))
          lastEnd = t(rEnd).end
          rewrote = true
          k = rEnd
        }
      }
      k += 1
    }
    var s = SqlTok.applyEdits(sqlIn, edits.result())
    // a bare star would surface __gpos — exclude it
    if (rewrote)
      s = tokenEdit(s) { w =>
        val u = w.toks
        if (u.length > 2 && u(0).is("SELECT") && u(1).isOp("*") && u(2).is("FROM"))
          Seq((u(1).end, u(1).end, " EXCEPT (__gpos)"))
        else Seq.empty
      }
    s
  }
}
