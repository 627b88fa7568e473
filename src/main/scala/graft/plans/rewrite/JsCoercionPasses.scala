package graft.plans
package rewrite

/** JS value syntax Spark's parser cannot read: bracket array literals.
  * Subscripts, zero divisors and the `||`/LIKE operand coercion are
  * translated on the parsed plan ([[PlanCalls]]).
  */
private[plans] object JsCoercionPasses {

  /** `[1, 2, 3]` bracket ARRAY literals (reference parse.js array
    * expressions; execute.unnest/arrays tests) → Spark `array(1, 2, 3)`.
    * A `[` directly after an identifier, `)`, `]`, or a quote is a
    * SUBSCRIPT and passes through; anywhere else it opens a literal.
    * Nesting tracks through a stack so `[[1,2],[3]]` converts fully.
    */
  private[plans] def rewriteArrayLiterals(sqlIn: String): String = {
    if (!sqlIn.contains("[")) return sqlIn
    val v = new SqlTok.View(sqlIn)
    val toks = v.toks
    // decide each MATCHED bracket pair once off the token stream: a `[`
    // touching its base token (ident/number/close-paren/close-bracket/
    // quote) subscripts; any other `[` opens a literal -> array( ... ).
    // Nested literals convert fully (each pair decides independently);
    // unbalanced brackets pass through and fail at Spark's parser.
    val edits = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    var k = 0
    while (k < toks.length) {
      val t = toks(k)
      if (t.kind == SqlTok.LBrk && v.brk(k) >= 0) {
        val prev = if (k > 0) toks(k - 1) else null
        // whitespace allowed before a subscript `[` (`a [1]` == `a[1]`,
        // token-based like the reference; probed) — but an operator /
        // clause KEYWORD before `[` still opens a literal (`IN [1,2]`),
        // and a string-literal base keeps the old adjacency rule
        val subscript = prev != null &&
          (((prev.kind == SqlTok.Word && !SqlTok.neverCallable(prev.up)) ||
              prev.kind == SqlTok.Num ||
              prev.kind == SqlTok.RPar || prev.kind == SqlTok.RBrk ||
              prev.kind == SqlTok.DQuot) ||
            (prev.kind == SqlTok.Str && prev.end == t.start))
        if (!subscript) {
          edits += ((t.start, t.end, "array("))
          val close = toks(v.brk(k))
          edits += ((close.start, close.end, ")"))
        }
      }
      k += 1
    }
    if (edits.isEmpty) sqlIn
    else {
      val sb = new StringBuilder(sqlIn.length + edits.size * 5)
      var prev = 0
      for ((s0, e0, txt) <- edits.sortBy(_._1)) {
        sb.append(sqlIn.substring(prev, s0)).append(txt); prev = e0
      }
      sb.append(sqlIn.substring(prev))
      sb.toString
    }
  }
}
