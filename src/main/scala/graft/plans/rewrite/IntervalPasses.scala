package graft.plans
package rewrite

/** INTERVAL arithmetic rewrites: the exact JS Date-setter emulation
  * (month-end rollover, summed-component truncation, date-only format
  * preservation), lenient timestamp coercion of interval operands, and
  * fractional-interval truncation. Shared token-level readers for
  * interval value/unit literals live here too.
  */
private[plans] object IntervalPasses {

  import SqlTok.{matchParen, splitTopLevel}
  import RewriteSupport._

  // token-level interval-literal readers shared by the three interval
  // passes: value = '…numeric…' | [adjacent -]number (the reference
  // accepts any text Number() converts — src/parse/primary.js:388-393);
  // unit = DAY…YEAR with optional plural S (WEEK where the pass allows)
  private[plans] def ivlValueAt(v: SqlTok.View, i: Int): Option[(Int, Double)] = {
    val toks = v.toks
    if (i >= toks.length) return None
    val t = toks(i)
    t.kind match {
      case SqlTok.Str if t.up.length >= 2 && t.up.endsWith("'") =>
        val body = t.up.substring(1, t.up.length - 1)
        if (body.matches(raw"\s*[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?\s*"))
          Some((1, body.trim.toDouble))
        else None
      case SqlTok.Num => Some((1, t.up.toDouble))
      case SqlTok.Op if t.up == "-" && i + 1 < toks.length &&
          toks(i + 1).kind == SqlTok.Num && t.end == toks(i + 1).start =>
        Some((2, -toks(i + 1).up.toDouble))
      case _ => None
    }
  }


  // interval-unit keyword shape shared by the interval passes
  private[plans] val unitRe = raw"(?i)^(day|hour|minute|second|month|year|week|millisecond|microsecond)s?$$".r


  private[plans] def ivlUnitAt(v: SqlTok.View, i: Int, allowWeek: Boolean): Option[String] = {
    if (i >= v.toks.length) return None
    val t = v.toks(i)
    if (t.kind != SqlTok.Word) return None
    val u = if (t.up.length > 1 && t.up.endsWith("S")) t.up.dropRight(1) else t.up
    val ok = u == "DAY" || u == "HOUR" || u == "MINUTE" || u == "SECOND" ||
      u == "MONTH" || u == "YEAR" || (allowWeek && u == "WEEK")
    if (ok) Some(u) else None
  }


  /** The left operand of the `±` at token `site`, as
    * `View.primaryBefore` reads it, with a typed literal's DATE/TIMESTAMP
    * keyword absorbed: the whole literal is the operand (wrapping only
    * its quoted half would leave `DATE (…)`, which Spark reads as a
    * cast to DATE, or `DATE graft_js_interval(…)`, a parse error). */
  private def operandBefore(v: SqlTok.View, site: Int): (Int, Int, Int) = {
    val (pIdx, pStart, pEnd) = v.primaryBefore(site)
    if (pEnd > pStart && v.s.charAt(pStart) == '\'' && pIdx > 0 &&
        (v.toks(pIdx - 1).is("DATE") || v.toks(pIdx - 1).is("TIMESTAMP")))
      (pIdx - 1, v.toks(pIdx - 1).start, pEnd)
    else (pIdx, pStart, pEnd)
  }


  /** EVERY `expr ± INTERVAL v <unit>` runs through graft_js_interval —
    * the exact toDate → applyIntervalToDate → format chain (reference:
    * src/expression/date.js:13-41,133-143), whose semantics diverge
    * from Spark's interval arithmetic in four ways:
    *  - MONTH/YEAR: JS ROLLS month-end over (Mar 31 + 1 MONTH = May 1;
    *    Spark's add_months clamps to Apr 30);
    *  - fractional v: ToIntegerOrInfinity truncates the SUMMED
    *    component toward zero ('-1.5' MONTH on March lands January);
    *  - output format: the result keeps its time only for 'T'-string
    *    and typed (Date-object analog) inputs — a date-only string
    *    truncates back to its UTC date: '1995-01-04' - INTERVAL
    *    1 MINUTE = '1995-01-03', not 23:59 (found by the interval
    *    fuzz shape);
    *  - NUMBERS are not dates (toDate:136 accepts only date-shaped
    *    strings and Date objects) — epoch millis yield NULL.
    * Runs BEFORE rewriteIntervalOperands (which then only sees interval
    * forms this literal-value pattern cannot claim); typed-vs-string
    * dispatch rides on typeof(expr). Chained ops re-wrap the previous
    * call's timestamp output (space form → Date-object semantics).
    */
  private[plans] def rewriteJsIntervalArith(sqlIn: String): String = {
    // per-row JS value-class of the operand (see the expression's kind param);
    // the two tests are case-sensitive, so they are calls, not LIKE,
    // which the parsed plan turns into ILIKE
    def kindExpr(p: String): String =
      s"(CASE WHEN typeof($p) = 'string' THEN " +
        s"(CASE WHEN contains(try_cast(($p) AS STRING), 'T') THEN 'ts_str' ELSE 'date_str' END) " +
        s"WHEN typeof($p) = 'date' OR startswith(typeof($p), 'timestamp') THEN 'typed' " +
        s"ELSE 'none' END)"
    var s = sqlIn
    // pre-pass: COMMUTE the left-interval form `INTERVAL v U + expr`
    // (reference: evaluate.js:182 — '+' only; '-' with the interval on
    // the left throws there, and throws here too) into the right form
    // the main loop handles. An INTERVAL preceded by +/- is a right
    // form's literal, not a left form.
    var lfrom = 0
    var lguard = 0
    var ldone = false
    while (!ldone && lguard < 1000) {
      lguard += 1
      val v = new SqlTok.View(s)
      val toks = v.toks
      var i = 0
      var site = -1
      var consumed = 0
      var vNum = 0.0
      var unit = ""
      while (site < 0 && i < toks.length) {
        if (toks(i).is("INTERVAL") && toks(i).start >= lfrom) {
          ivlValueAt(v, i + 1).foreach { case (c, value) =>
            ivlUnitAt(v, i + 1 + c, allowWeek = false).foreach { u =>
              if (i + 2 + c < toks.length && toks(i + 2 + c).isOp("+")) {
                site = i; consumed = c; vNum = value; unit = u
              }
            }
          }
        }
        if (site < 0) i += 1
      }
      if (site < 0) ldone = true
      else {
        val plusIdx = site + 2 + consumed
        val precededByOp = site > 0 && toks(site - 1).kind == SqlTok.Op &&
          (toks(site - 1).up.endsWith("+") || toks(site - 1).up.endsWith("-"))
        val opEnd = v.forwardFrom(plusIdx + 1)
        if (precededByOp || opEnd < 0) lfrom = toks(plusIdx).end
        else {
          // normalize the value to plain decimal so the main loop's
          // site scan re-claims the commuted form
          val operand = s.substring(toks(plusIdx + 1).start, opEnd).trim
          val commuted = s"$operand + INTERVAL '$vNum' $unit"
          s = s.substring(0, toks(site).start) + commuted + s.substring(opEnd)
          lfrom = toks(site).start
        }
      }
    }
    // a silent cap would leave the tail on native (clamping) interval
    // semantics — fail loudly instead (1000 sites is far beyond any
    // real statement; batch generated SQL below that)
    if (!ldone)
      throw new IllegalStateException(
        "statement exceeds 1000 left-interval rewrite sites")
    var from = 0
    var guard = 0
    // chained ops (`d + INTERVAL 1 DAY - INTERVAL 2 HOUR`): the outer
    // call's operand is the inner call — thread the ORIGINAL operand's
    // kind through so each step reformats like the reference
    // (a date-only string stays date-only at every step). PlanCalls
    // threads it the same way through a select alias; here it also keeps
    // a step's kind from repeating the whole inner call's text
    var lastCall: Option[(String, String)] = None
    while (guard < 1000) {
      guard += 1
      val v = new SqlTok.View(s)
      val toks = v.toks
      var i = 0
      var site = -1
      var consumed = 0
      var vNum = 0.0
      var unit = ""
      while (site < 0 && i + 1 < toks.length) {
        val t = toks(i)
        if (t.kind == SqlTok.Op && (t.up == "+" || t.up == "-") && t.start >= from &&
            toks(i + 1).is("INTERVAL")) {
          ivlValueAt(v, i + 2).foreach { case (c, value) =>
            ivlUnitAt(v, i + 2 + c, allowWeek = false).foreach { u =>
              site = i; consumed = c; vNum = value; unit = u
            }
          }
        }
        if (site < 0) i += 1
      }
      if (site < 0) return s
      val opTok = toks(site)
      val siteEnd = toks(site + 2 + consumed).end
      val (pIdx, pStart, pEnd) = operandBefore(v, site)
      val p = s.substring(pStart, pEnd)
      // same chain guards as rewriteIntervalOperands: a primary
      // that is itself a unit keyword / bare number / the quoted
      // value of a preceding INTERVAL literal marks a CHAINED
      // interval op — its left side is the preceding arithmetic
      val quotedAfterInterval = p.startsWith("'") && pIdx > 0 &&
        toks(pIdx - 1).is("INTERVAL")
      // PUSHDOWN fast path: a typed-constant operand
      // (CURRENT_TIMESTAMP / CURRENT_DATE / NOW() / typed
      // literal) with an integral sub-month unit is the common
      // time-window filter bound (`WHERE ts > now() - INTERVAL
      // 7 DAY`). JS Date-object semantics keep the time there,
      // and integral day/hour/minute/second arithmetic is
      // bit-identical to Spark's. The native JsInterval
      // expression DOES constant-fold, but it would round the
      // operand through CAST(ts AS STRING), which truncates
      // sub-millisecond precision (V8 keeps millis only) — native
      // interval arithmetic is both bit-identical at micros AND
      // trivially pushdown-friendly, so the carve-out stays
      // (rewriteIntervalOperands' coercion CASE folds once
      // ComputeCurrentTime makes now() a literal).
      // typed TIMESTAMP literals arrive here ALREADY rewritten by
      // the lenient-cast pass (TIMESTAMP 'x' → try_cast('x' AS
      // TIMESTAMP)); DATE 'x' and the paren spellings of
      // CURRENT_TIMESTAMP/CURRENT_DATE arrive verbatim
      val typedConst = p.trim.matches(
        "(?is)^(CURRENT_TIMESTAMP(\\s*\\(\\s*\\))?|CURRENT_DATE(\\s*\\(\\s*\\))?|" +
          "NOW\\s*\\(\\s*\\)|TIMESTAMP\\s+'[^']*'|DATE\\s+'[^']*'|" +
          "TRY_CAST\\s*\\(\\s*'[^']*'\\s+AS\\s+(TIMESTAMP|DATE)\\s*\\))$")
      def subMonthIntegral(u: String, d: Double): Boolean =
        (u == "DAY" || u == "HOUR" || u == "MINUTE" || u == "SECOND") &&
          d == d.toLong.toDouble // integral ('5e-1' has no dot but is 0.5)
      // the fast path must hold for the WHOLE chain: if a LATER
      // op is MONTH/YEAR/fractional, skipping the head would
      // leave the tail on native (clamping) arithmetic — only
      // stay native when every subsequent interval op is
      // integral sub-month too
      def chainAllSubMonth(fromChar: Int): Boolean = {
        var idx = v.tokAtOrAfter(fromChar)
        var ok = true
        var cont = true
        while (cont && ok) {
          val isTail = idx + 1 < toks.length && toks(idx).kind == SqlTok.Op &&
            (toks(idx).up == "+" || toks(idx).up == "-") &&
            toks(idx + 1).is("INTERVAL")
          val step = if (isTail) ivlValueAt(v, idx + 2).flatMap { case (c, value) =>
            ivlUnitAt(v, idx + 2 + c, allowWeek = false).map(u => (c, value, u))
          } else None
          step match {
            case Some((c, value, u)) =>
              ok = subMonthIntegral(u, value)
              idx = idx + 3 + c
            case None => cont = false
          }
        }
        ok
      }
      val skip = p.trim.isEmpty || unitRe.findFirstIn(p.trim).isDefined ||
        p.trim.matches("[0-9.]+") || quotedAfterInterval ||
        (typedConst && subMonthIntegral(unit, vNum) && chainAllSubMonth(siteEnd))
      if (skip) from = siteEnd
      else {
        // raw string form: the expression implements toDate itself (a
        // typed timestamp/date round-trips its own cast; numbers
        // are NOT dates in the reference — they yield NULL)
        // a chained op's primary may carry wrapping parens:
        // `(d + INTERVAL 1 DAY) - INTERVAL 2 HOUR` rewrites the
        // inside first, leaving `(graft_js_interval(...))`
        val core = {
          var t = p.trim
          while (t.startsWith("(") && t.endsWith(")") &&
              matchParen(t, 0) == t.length - 1)
            t = t.substring(1, t.length - 1).trim
          t
        }
        val kind = lastCall match {
          case Some((inner, k)) if core == inner => k
          case _ => kindExpr(p)
        }
        val call = s"graft_js_interval(try_cast(($p) AS STRING), " +
          s"CAST($vNum AS DOUBLE), '$unit', '${opTok.up}', $kind)"
        s = s.substring(0, pStart) + call + s.substring(siteEnd)
        from = pStart + call.length
        lastCall = Some((call, kind))
      }
    }
    throw new IllegalStateException(
      "statement exceeds 1000 interval rewrite sites") // silent native tails would clamp
  }


  /** Fractional interval values truncate toward zero in the reference:
    * its parser accepts any numeric text (reference:
    * src/parse/primary.js:379-409) and its evaluator feeds the value to
    * a JS Date setter (src/expression/date.js:20-32), which applies
    * ToIntegerOrInfinity — `+ INTERVAL '2.5' HOUR` adds exactly 2
    * hours. Spark's parser rejects non-integral values for the
    * non-second units outright, so rewrite the literal to the truncated
    * integer (all units, SECOND included — Spark would honor 2.5s, the
    * reference does not).
    */
  private[plans] def rewriteFractionalIntervals(sqlIn: String): String = {
    val v = new SqlTok.View(sqlIn)
    val toks = v.toks
    // (startChar, endChar, replacement) per site — sites are disjoint,
    // so one left-to-right rebuild applies them all
    val sites = scala.collection.mutable.ListBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      if (toks(i).is("INTERVAL")) {
        ivlValueAt(v, i + 1) match {
          case Some((consumed, value)) =>
            ivlUnitAt(v, i + 1 + consumed, allowWeek = true) match {
              case Some(unit) =>
                // normalize to the truncated integer literal (identity
                // for values already integral; Spark-parseable for
                // '.5'/'1e2'/'+1')
                sites += ((toks(i).start, toks(i + 1 + consumed).end,
                  s"INTERVAL '${value.toLong}' $unit"))
                i += 1 + consumed
              case None => ()
            }
          case None => ()
        }
      }
      i += 1
    }
    if (sites.isEmpty) sqlIn
    else {
      val sb = new StringBuilder(sqlIn.length)
      var prev = 0
      for ((a, b, rep) <- sites) { sb.append(sqlIn.substring(prev, a)).append(rep); prev = b }
      sb.append(sqlIn.substring(prev))
      sb.toString
    }
  }


  /** Coerce any date operand to TIMESTAMP the reference's way: all
    * paths go through STRING so every static operand type analyzes
    * (DATE→BIGINT isn't castable even with try_cast): numeric text →
    * epoch millis, anything else → timestamp parse (a typed
    * timestamp/date round-trips its own cast).
    */
  private[plans] def coerceTsExpr(p: String): String = {
    val str = s"try_cast(($p) AS STRING)"
    s"(CASE WHEN try_cast($str AS BIGINT) IS NOT NULL " +
      s"THEN timestamp_millis(try_cast($str AS BIGINT)) " +
      s"WHEN try_cast($str AS DOUBLE) IS NOT NULL " +
      s"THEN timestamp_millis(CAST(try_cast($str AS DOUBLE) AS BIGINT)) " +
      s"ELSE try_cast($str AS TIMESTAMP) END)"
  }


  /** Coerce the LEFT operand of `expr ± INTERVAL ...` to a timestamp:
    * the reference runs date arithmetic over date STRINGS and
    * epoch-millis NUMBERS (new Date(...) in its evaluator) where Spark
    * rejects `string + interval` at analysis. Already-typed
    * timestamp/date operands pass through try_cast unchanged. Interval
    * UNIT keywords and bare numbers are skipped so chained arithmetic
    * (`ts + INTERVAL 1 DAY - INTERVAL 2 HOUR`) wraps only the head.
    */
  private[plans] def rewriteIntervalOperands(sqlIn: String): String = {
    var s = sqlIn
    var from = 0
    var guard = 0
    while (guard < 1000) {
      guard += 1
      val v = new SqlTok.View(s)
      val toks = v.toks
      var i = 0
      var site = -1
      while (site < 0 && i + 1 < toks.length) {
        val t = toks(i)
        if (t.kind == SqlTok.Op && (t.up == "+" || t.up == "-") && t.start >= from &&
            toks(i + 1).is("INTERVAL")) site = i
        else i += 1
      }
      if (site < 0) return s
      val intervalEnd = toks(site + 1).end
      val (pIdx, pStart, pEnd) = operandBefore(v, site)
      val p = s.substring(pStart, pEnd)
      val quotedAfterInterval = p.startsWith("'") && pIdx > 0 &&
        toks(pIdx - 1).is("INTERVAL")
      val skip = p.trim.isEmpty || unitRe.findFirstIn(p.trim).isDefined ||
        p.trim.matches("[0-9.]+") || quotedAfterInterval
      if (skip) from = intervalEnd
      else {
        val wrapped = coerceTsExpr(p)
        s = s.substring(0, pStart) + wrapped + s.substring(pEnd)
        from = intervalEnd + (wrapped.length - p.length)
      }
    }
    s
  }
}
