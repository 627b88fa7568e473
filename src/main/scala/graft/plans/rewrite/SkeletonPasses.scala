package graft.plans
package rewrite

/** Statement-SKELETON rewrites: passes that restructure the query
  * shape (FROM-first statements, set-op arm tails, DISTINCT ON,
  * comma-joined table functions, POSITIONAL JOIN) or re-anchor
  * clause-level semantics (alias expansion, bare-DESC null ordering,
  * NOT IN (subquery) null semantics). They run FIRST in
  * [[GraftSql.rewrite]]'s ordered pipeline — every later pass anchors
  * on the SELECT skeleton these emit.
  */
private[plans] object SkeletonPasses {

  import SqlTok.{matchParen, splitTopLevel}
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


  /** `lhs NOT IN (SELECT ...)` carries the reference's TWO-VALUED null
    * semantics (execute/join.js:283,310 — null keys are skipped on both
    * build and probe, so a null in the subquery cannot empty the result
    * and a null lhs is KEPT). Spark's NOT IN is standard SQL: one null
    * poisons everything, planned as a null-aware anti join. Rewriting to
    * NOT EXISTS with null-rejecting equality reproduces the reference's
    * rows AND plans as a plain (broadcastable) anti join instead of the
    * NAAJ — faithful and faster. Only simple lhs shapes (qualified
    * column / single call, not the tail of a larger expression) rewrite;
    * a correlated subquery fails analysis inside the derived table, so
    * execution-path callers retry without this rewrite (SQL semantics).
    */
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
        // outer query by the aliases, then EXCEPT them away. Select-list
        // ALIASES and ORDINALS in the ORDER BY are resolved to their
        // underlying projection expressions first (a window cannot
        // reference a lateral alias, and ordinals inside OVER() would be
        // constants).
        val projItems = splitTopLevel(proj)
        val aliasRe = raw"(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
        val aliasMap = projItems.collect { case aliasRe(e, a) => a.toLowerCase(java.util.Locale.ROOT) -> e.trim }.toMap
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
          } else aliasMap.getOrElse(t.toLowerCase(java.util.Locale.ROOT), t)
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
    var s = sql
    var guard = 0
    var from = 0
    var continue = true
    while (continue && guard < 200) {
      guard += 1
      val v = new SqlTok.View(s)
      val t = v.toks
      // site: Comma | FROM | [CROSS|INNER|LEFT [OUTER]] JOIN, then TVF (
      var site = -1 // TVF name token
      var sep = "" // ",", "FROM", or the JOIN spelling (normalized)
      var sepTok = -1
      var i = 1
      while (site < 0 && i + 1 < t.length) {
        if (t(i).kind == SqlTok.Word && tvfNames(t(i).up) &&
            t(i).start >= from && t(i + 1).kind == SqlTok.LPar &&
            v.brk(i + 1) >= 0) {
          val p = t(i - 1)
          if (p.kind == SqlTok.Comma) { site = i; sep = ","; sepTok = i - 1 }
          else if (p.is("FROM")) { site = i; sep = "FROM"; sepTok = i - 1 }
          else if (p.is("JOIN")) {
            site = i; sep = "JOIN"; sepTok = i - 1
            if (i >= 2 && (t(i - 2).is("CROSS") || t(i - 2).is("INNER"))) {
              sep = t(i - 2).up + " JOIN"; sepTok = i - 2
            } else if (i >= 2 && t(i - 2).is("OUTER") && i >= 3 && t(i - 3).is("LEFT")) {
              sep = "LEFT OUTER JOIN"; sepTok = i - 3
            } else if (i >= 2 && t(i - 2).is("LEFT")) {
              sep = "LEFT JOIN"; sepTok = i - 2
            }
          }
        }
        if (site < 0) i += 1
      }
      if (site < 0) continue = false
      else {
        val close = v.brk(site + 1)
        val fname = t(site).up
        val args = s.substring(t(site + 1).end, t(close).start)
        def text(k: Int): String = s.substring(t(k).start, t(k).end)
        // [AS] alias [(col, ...)]
        var j = close + 1
        var alias = s"__tvf$guard"
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
                s.substring(x.start, x.end) }.toSeq
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
          val condEnd = if (endTok < t.length) t(endTok).start else s.length
          onCond = Some(s.substring(t(j + 1).start, condEnd).trim)
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
        // a LITERAL scalar argument ('42') is statically visible:
        // the reference throws at execution (json.js JSON_EACH
        // guard) — data columns stay lenient like the JSON family
        val scalarErr =
          if (fname == "JSON_EACH" && !hasTopLevelComma(args))
            jsonEachScalarErr(args)
          else None
        val inner =
          if (scalarErr.isDefined)
            "explode(map_from_entries(array(struct(CAST(raise_error(" +
              s"'${scalarErr.get}') AS STRING), 'x'))))"
          else if (fname == "JSON_EACH") {
            val x = s"graft_json_input($args)"
            s"explode(coalesce(from_json($x, 'map<string,string>'), " +
              s"map_from_entries(transform(from_json($x, 'array<string>'), " +
              s"(e, i) -> struct(cast(i AS string), e)))))"
          } else s"explode($args)"
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
        val start = t(sepTok).start
        s = s.substring(0, start) + replacement + s.substring(consumedEnd)
        from = start + replacement.length
      }
    }
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


  /** The reference substitutes select aliases SEQUENTIALLY into every
    * later expression — later select items, GROUP BY, HAVING, ORDER BY
    * — even when the alias name shadows a real input column
    * (node-probed: `SELECT k + 1 AS k, k * 2 AS d` gives d = (k+1)·2;
    * `SELECT MOD(k,3) AS k, SUM(k) ... GROUP BY k` sums the ALIAS).
    * Spark's resolution differs on exactly the shadowing cases: select
    * items and GROUP BY prefer the input column, and a bare name inside
    * an ORDER-BY aggregate resolves against the aggregate OUTPUT
    * (circular for a self-shadow). This rewrite expands alias
    * references to the underlying expressions, index-aware: a reference
    * substitutes only aliases defined EARLIER in the select list
    * (forward references error in the reference and must keep
    * erroring), and inside alias `a`'s own expression the name `a` is
    * the base column — the ordering makes the expansion terminate.
    */
  private[plans] def rewriteAliasExpansion(sqlIn: String): String = {
    val span = topSelectSpan(sqlIn).getOrElse(return sqlIn)
    val rawItems = splitTopLevel(sqlIn.substring(span._1, span._2))
    val aliasRe = raw"(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$$".r
    // IMPLICIT aliases (the AS dropped) resolve identically in the
    // reference — `(expr) name` / `col name` are the two textually
    // unambiguous shapes (a bare identifier straight after a complete
    // primary can only be an alias). Seed-132777 mutation find: `(k - MOD(k, 5)) k
    // GROUP BY k` groups by the ALIAS in the reference, the shadowed
    // column in Spark — wrong row count without the expansion.
    val implicitParenRe = raw"(?is)^(.*\))\s+([A-Za-z_]\w*)\s*$$".r
    // `CASE … END ident` is an implicit alias too (probed live: dup
    // names resolve to one column, and the alias substitutes laterally)
    // — without this capture, expand() would read the trailing ident as
    // a REFERENCE and splice an expression into alias position
    // (seed-r14 mutation find: `… END c1` after an `AS c1` item)
    val implicitEndRe = raw"(?is)^(.*\bEND)\s+([A-Za-z_]\w*)\s*$$".r
    val implicitColRe = raw"(?is)^([A-Za-z_][\w.]*)\s+([A-Za-z_]\w*)\s*$$".r
    // `DISTINCT x` / `ALL x` are quantified items and `NOT x` is a unary
    // predicate — the only ident-ident select shapes that are NOT an
    // implicit alias
    val notAliasHead = Set("distinct", "all", "not")
    // a keyword straight after `)` is part of the EXPRESSION, never an
    // implicit alias: `CASE WHEN a THEN (b) END` must not register a
    // phantom alias `end` (which would drop the END keyword from the
    // captured expression and suppress a real alias of that name via
    // the dup rule) — postParenKeywords, the one named home for
    // post-paren keywords
    val notAliasTail = postParenKeywords.map(_.toLowerCase(java.util.Locale.ROOT))
    val aliasSeq: Seq[(String, (String, Int))] = rawItems.zipWithIndex.flatMap {
      case (it, i) => it match {
        case aliasRe(e, a) => Some(a.toLowerCase(java.util.Locale.ROOT) -> (e.trim, i))
        case implicitParenRe(e, a) if !notAliasTail(a.toLowerCase(java.util.Locale.ROOT)) =>
          Some(a.toLowerCase(java.util.Locale.ROOT) -> (e.trim, i))
        case implicitEndRe(e, a) if !notAliasTail(a.toLowerCase(java.util.Locale.ROOT)) =>
          Some(a.toLowerCase(java.util.Locale.ROOT) -> (e.trim, i))
        case implicitColRe(e, a) if !notAliasHead(e.toLowerCase(java.util.Locale.ROOT)) &&
            !notAliasHead(a.toLowerCase(java.util.Locale.ROOT)) =>
          Some(a.toLowerCase(java.util.Locale.ROOT) -> (e.trim, i))
        case _ => None
      }
    }
    // a duplicated alias is ambiguous — leave those names untouched
    // (Spark rejects references to them; the mutation battery counts
    // that rejection as deliberate strictness)
    val dup = aliasSeq.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }.toSet
    val aliases: Map[String, (String, Int)] = aliasSeq.filterNot(p => dup(p._1)).toMap
    if (aliases.isEmpty) return sqlIn
    // When the FROM clause is one bare table (optionally aliased), its
    // qualifier lets a BLOCKED self-reference inside an ORDER-BY
    // aggregate bind to the INPUT column: Spark resolves a bare `price`
    // there against the aggregate OUTPUT first (circular reference,
    // analysis error) — `t.price` can only be the input. Joins/derived
    // tables get no qualifier (ambiguous anyway).
    val fromQual: Option[String] = {
      val fromEnd = topKwPos(sqlIn, span._2, sqlIn.length,
        Seq("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
          "WINDOW", "QUALIFY", "UNION", "INTERSECT", "EXCEPT")) match {
        case -1 => sqlIn.length
        case p => p
      }
      raw"(?is)\A([A-Za-z_]\w*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\z".r
        .findFirstMatchIn(sqlIn.substring(span._2, fromEnd).trim)
        .map(m => Option(m.group(2)).getOrElse(m.group(1)))
    }
    // Substitute alias names defined at an index < `allowed`; an alias
    // ref blocked by ordering (self/forward) stays the base column —
    // qualified when `qualifyBlocked` (ORDER-BY-aggregate context). A
    // name followed by `(` is a function call, a name next to `.` is
    // part of a qualified column — neither is an alias ref. Recursion
    // terminates because `allowed` strictly decreases.
    // a nondeterministic alias must not be re-evaluated by textual
    // duplication (two RAND() calls are two values; the reference
    // evaluates the cell once) — leave such references to Spark's
    // native lateral-alias resolution
    val nondet = raw"(?i)\b(RAND|RANDOM|NOW|UUID|CURRENT_DATE|CURRENT_TIME|CURRENT_TIMESTAMP)\b".r
    def expand(e: String, allowed: Int, qualifyBlocked: Boolean): String = {
      val v = new SqlTok.View(e)
      val t = v.toks
      val edits = Seq.newBuilder[(Int, Int, String)]
      var k = 0
      while (k < t.length) {
        val isRef = t(k).kind == SqlTok.Word &&
          !(k > 0 && t(k - 1).isOp(".")) &&
          !(k + 1 < t.length && (t(k + 1).isOp(".") || t(k + 1).kind == SqlTok.LPar))
        if (isRef) aliases.get(t(k).up.toLowerCase(java.util.Locale.ROOT)) match {
          case Some((ex, idx)) if idx < allowed && nondet.findFirstIn(ex).isEmpty =>
            edits += ((t(k).start, t(k).end, s"(${expand(ex, idx, qualifyBlocked)})"))
          case Some((_, idx)) if idx >= allowed && qualifyBlocked && fromQual.isDefined =>
            edits += ((t(k).start, t(k).end,
              s"${fromQual.get}.${e.substring(t(k).start, t(k).end)}"))
          case _ => ()
        }
        k += 1
      }
      SqlTok.applyEdits(e, edits.result())
    }
    var s = sqlIn
    // 1) SELECT items: lateral / shadowing references to EARLIER
    //    aliases. Items containing a subquery are left alone — the
    //    regex cannot tell inner scopes apart.
    val newItems = rawItems.zipWithIndex.map { case (it, i) =>
      if (raw"(?i)\(\s*SELECT\b".r.findFirstIn(it).isDefined) it
      else it match {
        case aliasRe(e, a) =>
          val ne = expand(e, i, qualifyBlocked = false)
          if (ne == e) it else s"$ne AS $a"
        case _ =>
          val ne = expand(it, i, qualifyBlocked = false)
          if (ne == it) it else ne
      }
    }
    if (newItems != rawItems)
      s = s.substring(0, span._1) + " " + newItems.map(_.trim).mkString(", ") +
        " " + s.substring(span._2)
    // re-locate the select span after the item rewrite shifted offsets
    val span2 = topSelectSpan(s).getOrElse(return s)
    // the TOP query block only — a nested subquery's (or a later UNION
    // arm's) GROUP BY / HAVING has its own select list, which these
    // aliases must not leak into
    val regionEnd = topKwPos(s, span2._2, s.length,
      Seq("UNION", "INTERSECT", "EXCEPT")) match {
      case -1 => s.length
      case p => p
    }
    val nItems = rawItems.length
    // 2) GROUP BY: a bare-identifier term that names an alias always
    //    expands (for a non-shadowing name the expansion is a semantic
    //    no-op; for a shadowing one it is the divergence)
    val gPos = topKwPos(s, span2._2, regionEnd, Seq("GROUP"))
    if (gPos >= 0) {
      raw"(?is)\AGROUP\s+BY\s+".r.findPrefixMatchOf(
        s.substring(gPos, regionEnd)).foreach { bm =>
        val termsStart = gPos + bm.end
        val termsEnd = topKwPos(s, termsStart, regionEnd,
          Seq("HAVING", "ORDER", "LIMIT", "OFFSET", "WINDOW", "QUALIFY")) match {
          case -1 => regionEnd
          case p => p
        }
        val terms = splitTopLevel(s.substring(termsStart, termsEnd)).map(_.trim)
        val newTerms = terms.map { t =>
          aliases.get(t.toLowerCase(java.util.Locale.ROOT)) match {
            // a nondeterministic alias stays a bare name: textual
            // duplication would re-evaluate it, and Spark's native
            // groupByAliases resolution keeps the single evaluation
            case Some((ex, idx)) if nondet.findFirstIn(ex).isEmpty =>
              s"(${expand(ex, idx, qualifyBlocked = false)})"
            case _ => t
          }
        }
        if (newTerms != terms)
          s = s.substring(0, termsStart) + newTerms.mkString(", ") + " " +
            s.substring(termsEnd)
      }
    }
    // 3) HAVING: the reference substitutes aliases here too (node-probed:
    //    `... price - discount AS price GROUP BY price HAVING price > 10`
    //    filters on the expanded value). Region bounds recomputed — the
    //    GROUP BY edit above may have shifted every later offset.
    val regionEnd2 = topKwPos(s, span2._2, s.length,
      Seq("UNION", "INTERSECT", "EXCEPT")) match {
      case -1 => s.length
      case p => p
    }
    val hPos = topKwPos(s, span2._2, regionEnd2, Seq("HAVING"))
    if (hPos >= 0) {
      val hStart = hPos + "HAVING".length
      val hEnd = topKwPos(s, hStart, regionEnd2,
        Seq("ORDER", "LIMIT", "OFFSET", "WINDOW", "QUALIFY")) match {
        case -1 => regionEnd2
        case p => p
      }
      val body = s.substring(hStart, hEnd)
      val nb = expand(body, nItems, qualifyBlocked = false)
      if (nb != body) s = s.substring(0, hStart) + nb + s.substring(hEnd)
    }
    // 4) ORDER BY: only aliases INSIDE aggregate calls need expanding —
    //    for a bare (even nested) alias ref Spark's output-first sort
    //    resolution already matches the reference's substitution, but
    //    inside an aggregate the output ref is circular for a shadow
    locally {
      val aggNames = Set("SUM", "MIN", "MAX", "AVG", "COUNT")
      val v = new SqlTok.View(s)
      val t = v.toks
      // only TOP-LEVEL (depth 0) ORDER BY clauses — a window-spec or
      // subquery ORDER BY must not anchor the scan — and each scan
      // stops at the clause end (the next depth-0 LIMIT/OFFSET or
      // set-op keyword), never at-large to end-of-statement
      val clauseStop = Set("LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")
      val edits = Seq.newBuilder[(Int, Int, String)]
      for (ob <- t.indices
           if v.depth(ob) == 0 && t(ob).is("ORDER") &&
             ob + 1 < t.length && t(ob + 1).is("BY")) {
        var k = ob + 2
        var inClause = true
        while (inClause && k < t.length) {
          if (v.depth(k) == 0 && t(k).kind == SqlTok.Word &&
              clauseStop(t(k).up)) inClause = false
          else {
            if (k + 3 < t.length &&
                t(k).kind == SqlTok.Word && aggNames(t(k).up) &&
                t(k + 1).kind == SqlTok.LPar && t(k + 2).kind == SqlTok.Word &&
                t(k + 3).kind == SqlTok.RPar) {
              aliases.get(t(k + 2).up.toLowerCase(java.util.Locale.ROOT)).foreach {
                case (ex, idx) =>
                  edits += ((t(k + 2).start, t(k + 2).end,
                    s"(${expand(ex, idx, qualifyBlocked = true)})"))
              }
            }
            k += 1
          }
        }
      }
      s = SqlTok.applyEdits(s, edits.result())
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


  private[plans] def rewriteNotInSubquery(sqlIn: String): String = {
    var s = sqlIn
    var from = 0
    var n = 0
    var guard = 0
    while (guard < 100) {
      guard += 1
      val v = new SqlTok.View(s)
      val t = v.toks
      var k = -1
      var i = 0
      while (k < 0 && i + 3 < t.length) {
        if (t(i).is("NOT") && t(i).start >= from && t(i + 1).is("IN") &&
            t(i + 2).kind == SqlTok.LPar && v.brk(i + 2) >= 0 &&
            t(i + 3).is("SELECT")) k = i
        else i += 1
      }
      if (k < 0) return s
      val close = v.brk(k + 2)
      val (pIdx, pStart, pEnd) = v.primaryBefore(k)
      // the lhs must be a simple column/call primary, and not the TAIL
      // of a larger expression (`x + y NOT IN (...)` would splice
      // mid-expression) — skip when an operator precedes it
      val headOk = pEnd > pStart && t(pIdx).kind == SqlTok.Word
      val exprTail = pIdx > 0 && t(pIdx - 1).kind == SqlTok.Op &&
        t(pIdx - 1).up.lastOption.exists(c => "+-*/%|&^~".contains(c))
      if (!headOk || exprTail) from = t(k + 2).end
      else {
        val lhs = s.substring(pStart, pEnd)
        val inner = s.substring(t(k + 2).end, t(close).start).trim
        // <=> not =: the reference's IN walks sqlEquals (JS ==,
        // null == null TRUE — execute/utils.js:136-139), so a NULL
        // probe DOES match a null-bearing list and NOT IN drops the
        // row; plain = would read the pair as UNKNOWN and keep it
        val repl = s"NOT EXISTS (SELECT 1 FROM ($inner) " +
          s"AS __nin$n(__nin_c) WHERE __nin_c <=> $lhs)"
        s = s.substring(0, pStart) + repl + s.substring(t(close).end)
        from = pStart + repl.length
        n += 1
      }
    }
    s
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
