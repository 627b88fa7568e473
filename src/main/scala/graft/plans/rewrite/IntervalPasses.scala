package graft.plans
package rewrite

/** The INTERVAL literal marker: the one interval text pass. Each
  * `INTERVAL v UNIT` with a numeric value and a DAY…YEAR or WEEK unit
  * (optional plural S) becomes the marker call
  * `graft_interval_lit('v', 'UNIT')`, which [[IntervalArith]] translates
  * on the parsed plan. It stays text because Spark's parser rejects the
  * values the reference accepts: the reference takes any text Number()
  * converts (reference: src/parse/primary.js:379-409), while Spark
  * fails `INTERVAL '2.5' HOUR` with INVALID_INTERVAL_FORMAT.
  * `INTERVAL '1 day'`, multi-unit literals and other units stay as
  * written, for Spark to parse or reject.
  */
private[plans] object IntervalPasses {

  import RewriteSupport.tokenEdit

  /** The marker's function name. */
  private[rewrite] val marker = "graft_interval_lit"

  // value = '…numeric…' | [adjacent -]number, as Number() reads it
  // (reference: src/parse/primary.js:388-393)
  private def ivlValueAt(v: SqlTok.View, i: Int): Option[(Int, Double)] = {
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

  private def ivlUnitAt(v: SqlTok.View, i: Int): Option[String] = {
    if (i >= v.toks.length) return None
    val t = v.toks(i)
    if (t.kind != SqlTok.Word) return None
    val u = if (t.up.length > 1 && t.up.endsWith("S")) t.up.dropRight(1) else t.up
    val ok = u == "DAY" || u == "HOUR" || u == "MINUTE" || u == "SECOND" ||
      u == "MONTH" || u == "YEAR" || u == "WEEK"
    if (ok) Some(u) else None
  }

  /** Every numeric interval literal as a marker carrying the value as
    * Number() reads it (`'1e2'` is 100) and the singular unit. */
  private[plans] def markIntervalLiterals(sql: String): String = tokenEdit(sql) { v =>
    val toks = v.toks
    val edits = Seq.newBuilder[(Int, Int, String)]
    var i = 0
    while (i < toks.length) {
      val site = if (!toks(i).is("INTERVAL")) None else
        ivlValueAt(v, i + 1).flatMap { case (consumed, value) =>
          ivlUnitAt(v, i + 1 + consumed).map(unit => (consumed, value, unit))
        }
      site match {
        case Some((consumed, value, unit)) =>
          edits += ((toks(i).start, toks(i + 1 + consumed).end, s"$marker('$value', '$unit')"))
          i += 2 + consumed
        case None => i += 1
      }
    }
    edits.result()
  }
}
