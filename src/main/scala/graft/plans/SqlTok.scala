package graft.plans

/** The ONE quote-aware, paren-aware, comment-aware lexer shared by every
  * GraftSql text-rewrite pass.
  *
  * History: the rewrite layer used to be a stack of ordered regex/char
  * scanners, each with its own hand-rolled quote/paren guards — and that
  * guard stack produced the only wrong-rows bug of two consecutive
  * rounds (an implicit-alias-after-paren guard misreading ILIKE, and a
  * window-spec alias before it). This object replaces the per-rewrite
  * scanning: passes consume a [[Tok]] stream with source offsets and
  * splice edits back by position, so string literals, double-quoted
  * identifiers, comments and paren nesting are classified in exactly one
  * place.
  *
  * Lexical rules follow the reference dialect's lexer (reference:
  * src/parse/lexer.js): `'…'` is a string literal with no backslash
  * escapes (a doubled `''` reads as two adjacent literals, preserving
  * quote parity), `"…"` is an identifier, `--` and slash-star comments
  * are whitespace (block comments do not nest), and the multi-char
  * operators are `||  ->>  ->  ::  :=  <=>  <=  >=  !=  <>  !~`.
  */
private[graft] object SqlTok {

  sealed abstract class Kind
  /** Identifier or keyword: `[A-Za-z_][A-Za-z0-9_]*`. */
  case object Word extends Kind
  /** `'…'` string literal, opening quote to closing quote inclusive
    * (an unterminated literal runs to end of input).
    */
  case object Str extends Kind
  /** `"…"` double-quoted identifier. */
  case object DQuot extends Kind
  /** Numeric literal: `123`, `1.5`, `.5`, `1e-2` (no sign — a leading
    * `-`/`+` lexes as its own [[Op]], as in the reference's parser).
    */
  case object Num extends Kind
  case object LPar extends Kind
  case object RPar extends Kind
  case object LBrk extends Kind
  case object RBrk extends Kind
  case object Comma extends Kind
  case object Semi extends Kind
  /** Any other operator/punctuation run; multi-char for the fixed set
    * above, single-char otherwise.
    */
  case object Op extends Kind

  /** One token: [start, end) offsets into the source text; `up` is the
    * UPPERCASED text for Word/Op tokens (raw text for the rest) so
    * keyword matching never re-substrings the source.
    */
  final case class Tok(kind: Kind, start: Int, end: Int, up: String) {
    def is(w: String): Boolean = kind == Word && up == w
    def isOp(o: String): Boolean = kind == Op && up == o
  }

  private val multiOps = Array("||", "->>", "->", "::", ":=", "<=>",
    "<=", ">=", "!=", "<>", "!~")

  /** Keywords that can never be a function NAME in the dialect — a
    * `(` after one of these opens a group/subquery, not a call
    * argument list (reference parse/expression.js consumes these as
    * operators/clause heads before primary.js ever sees the paren).
    * LEFT/RIGHT are absent on purpose: they are string functions in
    * the reference (validation/functions.js) and a join keyword is
    * always followed by JOIN, never directly by `(`.
    */
  private[plans] val neverCallable: Set[String] = Set(
    "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "BY", "HAVING",
    "LIMIT", "OFFSET", "JOIN", "INNER", "OUTER", "CROSS", "FULL",
    "UNION", "EXCEPT", "INTERSECT", "ALL", "DISTINCT", "VALUES",
    "USING", "ON", "AS", "AND", "OR", "NOT", "IN", "IS", "LIKE",
    "ILIKE", "BETWEEN", "EXISTS", "CASE", "WHEN", "THEN", "ELSE",
    "END", "OVER", "PARTITION", "ASC", "DESC", "WITH")

  /** Lex `s` into tokens. Comments are skipped as whitespace (quote
    * aware — `--` inside a literal is content). Never throws: any
    * malformed tail still tokenizes positionally.
    */
  def tokenize(s: String): Vector[Tok] = {
    val n = s.length
    val out = Vector.newBuilder[Tok]
    var last: Tok = null
    def emit(t: Tok): Unit = { out += t; last = t }
    // a dot STRAIGHT after an identifier / close-paren / close-bracket /
    // quoted identifier / number is member access (`t1.c`, `arr[0].f`),
    // never the start of a `.5` numeric literal
    def dotIsAccess(i: Int): Boolean = last != null && last.end == i &&
      (last.kind == Word || last.kind == DQuot || last.kind == RPar ||
        last.kind == RBrk || last.kind == Num)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && i + 1 < n && s.charAt(i + 1) == '-') {
        while (i < n && s.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && s.charAt(i + 1) == '*') {
        // first star-slash ends the comment — block comments do NOT
        // nest in the reference's lexer (probed)
        val end = s.indexOf("*/", i + 2)
        i = if (end < 0) n else end + 2
      } else if (c == '\'') {
        var j = i + 1
        while (j < n && s.charAt(j) != '\'') j += 1
        val end = math.min(j + 1, n)
        emit(Tok(Str, i, end, s.substring(i, end)))
        i = end
      } else if (c == '"') {
        var j = i + 1
        while (j < n && s.charAt(j) != '"') j += 1
        val end = math.min(j + 1, n)
        emit(Tok(DQuot, i, end, s.substring(i, end)))
        i = end
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        // Locale.ROOT: keyword matching must not depend on the default
        // JVM locale (Turkish 'i' → 'İ' would break is("INTERVAL"))
        emit(Tok(Word, i, j, s.substring(i, j).toUpperCase(java.util.Locale.ROOT)))
        i = j
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && s.charAt(i + 1).isDigit && !dotIsAccess(i))) {
        var j = i
        while (j < n && s.charAt(j).isDigit) j += 1
        if (j < n && s.charAt(j) == '.') {
          j += 1
          while (j < n && s.charAt(j).isDigit) j += 1
        }
        if (j < n && (s.charAt(j) == 'e' || s.charAt(j) == 'E')) {
          var k = j + 1
          if (k < n && (s.charAt(k) == '+' || s.charAt(k) == '-')) k += 1
          if (k < n && s.charAt(k).isDigit) {
            while (k < n && s.charAt(k).isDigit) k += 1
            j = k
          }
        }
        emit(Tok(Num, i, j, s.substring(i, j)))
        i = j
      } else c match {
        case '(' => emit(Tok(LPar, i, i + 1, "(")); i += 1
        case ')' => emit(Tok(RPar, i, i + 1, ")")); i += 1
        case '[' => emit(Tok(LBrk, i, i + 1, "[")); i += 1
        case ']' => emit(Tok(RBrk, i, i + 1, "]")); i += 1
        case ',' => emit(Tok(Comma, i, i + 1, ",")); i += 1
        case ';' => emit(Tok(Semi, i, i + 1, ";")); i += 1
        case _ =>
          val m = multiOps.find(op => s.startsWith(op, i))
          val len = m.map(_.length).getOrElse(1)
          emit(Tok(Op, i, i + len, s.substring(i, i + len)))
          i += len
      }
    }
    out.result()
  }

  /** For each token index: the index of the matching close for LPar/LBrk
    * (and of the matching OPEN for RPar/RBrk), -1 when unbalanced or not
    * a bracketing token. One pass, mixed nesting tolerated positionally.
    */
  def bracketMatch(toks: Vector[Tok]): Array[Int] = {
    val m = Array.fill(toks.length)(-1)
    var stack = List.empty[Int]
    var i = 0
    while (i < toks.length) {
      toks(i).kind match {
        case LPar | LBrk => stack ::= i
        case RPar | RBrk =>
          stack match {
            case open :: rest =>
              val ok = (toks(open).kind == LPar) == (toks(i).kind == RPar)
              if (ok) { m(open) = i; m(i) = open }
              stack = rest
            case Nil => ()
          }
        case _ => ()
      }
      i += 1
    }
    m
  }

  /** A tokenized view of one SQL text with bracket matching and paren
    * depths.
    */
  final class View(val s: String) {
    val toks: Vector[Tok] = tokenize(s)
    val brk: Array[Int] = bracketMatch(toks)

    /** Paren-nesting depth of each token: a matched LPar/RPar pair
      * shares the depth OUTSIDE it, tokens between them sit one
      * deeper. Brackets don't nest SQL clauses, so only parens count.
      */
    val depth: Array[Int] = {
      val d = Array.fill(toks.length)(0)
      var lvl = 0
      var i = 0
      while (i < toks.length) {
        toks(i).kind match {
          case LPar => d(i) = lvl; lvl += 1
          case RPar => lvl = math.max(0, lvl - 1); d(i) = lvl
          case _ => d(i) = lvl
        }
        i += 1
      }
      d
    }

    /** First token index in [fromTok, untilTok) at paren depth 0
      * satisfying `pred`, or -1.
      */
    def topIdx(fromTok: Int, untilTok: Int)(pred: Tok => Boolean): Int = {
      var i = math.max(fromTok, 0)
      val until = math.min(untilTok, toks.length)
      while (i < until) {
        if (depth(i) == 0 && pred(toks(i))) return i
        i += 1
      }
      -1
    }

    /** First Word token at depth 0 in [fromTok, untilTok) whose text is
      * in `kws`, or -1.
      */
    def topWord(fromTok: Int, untilTok: Int, kws: Set[String]): Int =
      topIdx(fromTok, untilTok)(t => t.kind == Word && kws(t.up))

    /** True when the tokens from `k` match `pats` in order: an
      * uppercase word matches that Word token, "(" ")" "[" "]" ","
      * match those kinds, "'" any string literal, "0" any number.
      */
    def at(k: Int, pats: String*): Boolean =
      k >= 0 && k + pats.length <= toks.length && pats.zipWithIndex.forall {
        case (p, i) =>
          val t = toks(k + i)
          p match {
            case "(" => t.kind == LPar
            case ")" => t.kind == RPar
            case "[" => t.kind == LBrk
            case "]" => t.kind == RBrk
            case "," => t.kind == Comma
            case "'" => t.kind == Str
            case "0" => t.kind == Num
            case w => t.is(w)
          }
      }
  }

  /** Apply span replacements `(start, end, txt)` to `s` — spans must
    * be disjoint; they sort by start position.
    */
  def applyEdits(s: String, edits: Seq[(Int, Int, String)]): String =
    if (edits.isEmpty) s
    else {
      val sb = new StringBuilder(s.length + edits.size * 8)
      var prev = 0
      for ((a, b, txt) <- edits.sortBy(_._1)) {
        sb.append(s.substring(prev, a)).append(txt); prev = b
      }
      sb.append(s.substring(prev))
      sb.toString
    }

  /** Apply position edits (insertions at `pos` of `txt`) to `s`. Edits
    * sort by position; equal positions keep insertion order.
    */
  def applyInserts(s: String, edits: Seq[(Int, String)]): String =
    if (edits.isEmpty) s
    else {
      val sb = new StringBuilder(s.length + edits.size * 16)
      var prev = 0
      for ((pos, txt) <- edits.sortBy(_._1)) {
        sb.append(s.substring(prev, pos)).append(txt); prev = pos
      }
      sb.append(s.substring(prev))
      sb.toString
    }

  // ---- character-level utilities shared by the remaining regex passes
  // (one home for ALL quote-parity logic; the token stream above is the
  // preferred consumer surface for new passes) ------------------------

  /** Split an argument list at top-level commas (quotes/parens/brackets
    * respected).
    */
  def splitTopLevel(args: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < args.length) {
      val c = args.charAt(i)
      c match {
        case '\'' =>
          cur.append(c); i += 1
          while (i < args.length && args.charAt(i) != '\'') { cur.append(args.charAt(i)); i += 1 }
          if (i < args.length) cur.append('\'')
        case '(' | '[' => depth += 1; cur.append(c)
        case ')' | ']' => depth -= 1; cur.append(c)
        case ',' if depth == 0 => out += cur.result().trim; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    val last = cur.result().trim
    if (last.nonEmpty || args.trim.nonEmpty) out += last
    out.result()
  }

  /** Strip line comments (double-dash to end of line) and block
    * comments (slash-star to star-slash), QUOTE AWARE — a comment
    * opener inside a string literal is content, and a naive regex
    * strip corrupts quote parity for everything after it ('--x' would
    * lose its closing quote). Comments are whitespace to the engine,
    * so the rewrite pipeline strips them up front; the strict lint
    * uses the same stripper before its tail checks.
    */
  def stripComments(sql: String): String = {
    val sb = new StringBuilder(sql.length)
    var i = 0
    var inQ = false // '…' string literal
    var inD = false // "…" identifier — the dialect reads these as
    // identifiers, and `--` inside one is content ("a--b" is a column)
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'' && !inD) { inQ = !inQ; sb.append(c); i += 1 }
      else if (c == '"' && !inQ) { inD = !inD; sb.append(c); i += 1 }
      else if (!inQ && !inD && c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
      } else if (!inQ && !inD && c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        // first star-slash ends the comment — block comments do NOT
        // nest in the reference's lexer (probed)
        val end = sql.indexOf("*/", i + 2)
        sb.append(' ')
        i = if (end < 0) sql.length else end + 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

}
