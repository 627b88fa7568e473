package graft

import scala.util.Random

/** Seeded grammar-based generator of reference-dialect SQL.
  *
  * The grammar is restricted to the surface the REFERENCE engine
  * supports (its function registry, /root/reference/src/validation/
  * functions.js, plus the clause grammar of src/parse/parse.js:
  * joins, CTEs, set ops, HAVING, LIMIT/OFFSET, windows, subqueries) so
  * every generated query can run on BOTH engines and diff. Every query
  * is made deterministic: the final ORDER BY always ends in a unique
  * key, or the output is a single column where tied rows are identical.
  *
  * Typed generation (int / double / string / bool expression families)
  * keeps queries semantically valid; null values only enter through
  * NULLIF / CASE-without-ELSE, and never reach an ORDER BY key.
  */
object FuzzGen {

  final case class Col(name: String, lo: Long = 0, hi: Long = 0)
  /** numStrs: STRING columns holding numeric-looking text mixed with
    * garbage/empties — the reference's SUM/AVG accumulate Number(v)
    * and skip non-finite (accumulator.js:60-67), the exact surface
    * graft_js_num reproduces; listing them here lets aggExpr probe it
    * differentially.
    */
  final case class Table(name: String, key: String, ints: Seq[Col],
                         dbls: Seq[Col], strs: Seq[Col],
                         inPool: Map[String, Seq[String]],
                         dates: Seq[String] = Seq(),
                         numStrs: Seq[String] = Seq())

  val nation = Table("f_nation", "n_nationkey",
    ints = Seq(Col("n_nationkey", 0, 24), Col("n_regionkey", 0, 4)),
    dbls = Seq(),
    strs = Seq(Col("n_name")),
    inPool = Map("n_name" -> Seq("FRANCE", "GERMANY", "KENYA", "PERU", "CHINA")))

  val region = Table("f_region", "r_regionkey",
    ints = Seq(Col("r_regionkey", 0, 4)),
    dbls = Seq(),
    strs = Seq(Col("r_name")),
    inPool = Map("r_name" -> Seq("ASIA", "EUROPE", "AFRICA")))

  val customer = Table("f_customer", "c_custkey",
    ints = Seq(Col("c_custkey", 1, 150), Col("c_nationkey", 0, 24)),
    dbls = Seq(Col("c_acctbal", -900, 9000)),
    strs = Seq(Col("c_name"), Col("c_mktsegment")),
    inPool = Map("c_mktsegment" ->
      Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")),
    numStrs = Seq("c_balstr"))

  val orders = Table("f_orders", "o_orderkey",
    ints = Seq(Col("o_orderkey", 1, 1600), Col("o_custkey", 1, 150)),
    dbls = Seq(Col("o_totalprice", 900, 350000)),
    strs = Seq(Col("o_orderstatus"), Col("o_orderdate"), Col("o_orderpriority")),
    inPool = Map(
      "o_orderstatus" -> Seq("O", "F", "P"),
      "o_orderpriority" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
    dates = Seq("o_orderdate"))

  val tables = Seq(nation, region, customer, orders)

  /** (left, right, join condition) triples with natural FK joins. */
  val joins: Seq[(Table, Table, String)] = Seq(
    (orders, customer, "a.o_custkey = b.c_custkey"),
    (customer, nation, "a.c_nationkey = b.n_nationkey"),
    (nation, region, "a.n_regionkey = b.r_regionkey"))

  private val likePats = Seq("%a%", "%ar%", "A%", "%e", "_R%", "%IN%", "%a_")
  private val strLits = Seq("a", "AR", "x y z", "Customer", "1-URGENT", "")
  // regex pool restricted to the JS ∩ Java dialect (no backslash
  // classes — string-literal escaping itself differs between engines)
  private val rePats = Seq("[a-z]+", "[0-9]+", "[aeiou]", "e.", "r[a-z]", "zz+", "[A-Z][a-z]*")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.length))
  private def lit(r: Random, c: Col): String =
    (c.lo + math.abs(r.nextLong()) % math.max(1, c.hi - c.lo + 1)).toString

  // ---- typed expression grammar --------------------------------------

  /** Integer-valued expression over `t` (alias-qualified when q != ""). */
  def intExpr(r: Random, t: Table, q: String, d: Int): String = {
    def col = q + pick(r, t.ints).name
    if (d <= 0 || t.ints.isEmpty) {
      if (t.ints.isEmpty) r.nextInt(40).toString
      else if (r.nextInt(4) == 0) r.nextInt(40).toString else col
    } else r.nextInt(12) match {
      case 0 => s"(${intExpr(r, t, q, d - 1)} + ${intExpr(r, t, q, d - 1)})"
      case 1 => s"(${intExpr(r, t, q, d - 1)} - ${intExpr(r, t, q, d - 1)})"
      case 2 => s"(${intExpr(r, t, q, d - 1)} * ${1 + r.nextInt(5)})"
      case 3 => s"ABS(${intExpr(r, t, q, d - 1)} - ${r.nextInt(30)})"
      case 4 if t.ints.nonEmpty => s"MOD($col, ${2 + r.nextInt(6)})"
      case 5 => s"LENGTH(${strExpr(r, t, q, d - 1)})"
      case 6 => s"CASE WHEN ${boolExpr(r, t, q, d - 1)} THEN ${intExpr(r, t, q, d - 1)} ELSE ${intExpr(r, t, q, d - 1)} END"
      case 7 => s"GREATEST(${intExpr(r, t, q, d - 1)}, ${intExpr(r, t, q, d - 1)})"
      case 8 => s"LEAST(${intExpr(r, t, q, d - 1)}, ${intExpr(r, t, q, d - 1)})"
      case 9 => s"COALESCE(NULLIF(${intExpr(r, t, q, d - 1)}, ${r.nextInt(20)}), ${r.nextInt(20)})"
      case 10 => r.nextInt(4) match {
        case 0 => s"INSTR(${strExpr(r, t, q, d - 1)}, '${pick(r, Seq("a", "e", "r", "AR"))}')"
        case 1 => s"STRPOS(${strExpr(r, t, q, d - 1)}, '${pick(r, Seq("a", "e", "r"))}')"
        case _ => s"POSITION(${strExpr(r, t, q, d - 1)}, '${pick(r, Seq("a", "e", "o"))}')"
      }
      case _ => r.nextInt(4) match {
        case 0 => s"${pick(r, Seq("ARRAY_LENGTH", "CARDINALITY", "LIST_LENGTH"))}(STRING_SPLIT(${strExpr(r, t, q, d - 1)}, ' '))"
        case 1 => s"COALESCE(${pick(r, Seq("ARRAY_POSITION", "LIST_POSITION"))}(STRING_SPLIT(${strExpr(r, t, q, d - 1)}, ' '), '${pick(r, Seq("a", "x y", "Customer"))}'), -1)"
        case 2 if t.dates.nonEmpty => dateNumExpr(r, t, q)
        case _ => s"LEN(ARRAY_CONCAT(STRING_SPLIT(${strExpr(r, t, q, d - 1)}, ' '), STRING_SPLIT(${strExpr(r, t, q, d - 1)}, ' ')))"
      }
    }
  }

  /** Numeric date expression over a string-typed date column (the
    * reference operates on string dates throughout — toDate parses
    * them; results here are NUMBERS so the comparator never has to
    * reconcile the two engines' datetime renderings).
    */
  def dateNumExpr(r: Random, t: Table, q: String): String = {
    val d = q + pick(r, t.dates)
    r.nextInt(5) match {
      case 0 => s"DATE_PART('${pick(r, Seq("year", "month", "day", "dow"))}', $d)"
      case 1 => s"DATE_DIFF('${pick(r, Seq("day", "month", "year", "hour"))}', '199${2 + r.nextInt(6)}-0${1 + r.nextInt(9)}-1${r.nextInt(9)}', $d)"
      case 2 => s"CAST(EPOCH($d) AS BIGINT)"
      case 3 =>
        // interval arithmetic through EPOCH: exercises the JS Date-setter
        // emulation (month-end rollover, fractional truncation) without
        // the engines' datetime renderings entering the comparison
        val v = pick(r, Seq("1", "2", "13", "'1.5'", "'2.5'", "'-1.5'", "'0.9'"))
        val u = pick(r, Seq("DAY", "HOUR", "MINUTE", "SECOND", "MONTH", "YEAR"))
        val op = if (r.nextBoolean()) "+" else "-"
        s"CAST(EPOCH($d $op INTERVAL $v $u) AS BIGINT)"
      case _ => s"EXTRACT(${pick(r, Seq("YEAR", "MONTH", "DAY", "DOW"))} FROM $d)"
    }
  }

  /** Double-valued expression (only for tables with double columns). */
  def dblExpr(r: Random, t: Table, q: String, d: Int): String = {
    def col = q + pick(r, t.dbls).name
    if (t.dbls.isEmpty) intExpr(r, t, q, d)
    else if (d <= 0) col
    else r.nextInt(6) match {
      case 0 => s"ROUND(${dblExpr(r, t, q, d - 1)}, ${r.nextInt(3)})"
      case 1 => s"(${dblExpr(r, t, q, d - 1)} + ${intExpr(r, t, q, d - 1)})"
      case 2 => s"ABS(${dblExpr(r, t, q, d - 1)})"
      case 3 => s"FLOOR($col)"
      case 4 => s"CEIL($col)"
      case _ => col
    }
  }

  /** String-valued expression. */
  def strExpr(r: Random, t: Table, q: String, d: Int): String = {
    def col = q + pick(r, t.strs).name
    if (d <= 0 || t.strs.isEmpty) {
      if (t.strs.isEmpty) s"'${pick(r, strLits)}'"
      else if (r.nextInt(5) == 0) s"'${pick(r, strLits)}'" else col
    } else r.nextInt(13) match {
      case 0 => s"UPPER(${strExpr(r, t, q, d - 1)})"
      case 1 => s"LOWER(${strExpr(r, t, q, d - 1)})"
      case 2 => s"TRIM(${strExpr(r, t, q, d - 1)})"
      case 3 => s"SUBSTR($col, ${1 + r.nextInt(4)}, ${1 + r.nextInt(6)})"
      case 4 => s"LEFT($col, ${r.nextInt(6)})"
      case 5 => s"RIGHT($col, ${r.nextInt(6)})"
      case 6 => s"REPLACE($col, '${pick(r, Seq("a", "e", "r"))}', '_')"
      case 7 => s"SPLIT_PART($col, ' ', ${1 + r.nextInt(3)})"
      case 8 => s"(${strExpr(r, t, q, d - 1)} || ${strExpr(r, t, q, d - 1)})"
      case 9 => s"CONCAT(${strExpr(r, t, q, d - 1)}, '-', ${strExpr(r, t, q, d - 1)})"
      case 10 => s"CASE WHEN ${boolExpr(r, t, q, d - 1)} THEN ${strExpr(r, t, q, d - 1)} ELSE ${strExpr(r, t, q, d - 1)} END"
      case 11 => // JS String(v) coercion: numbers through || and string funcs
        // IEEE-exact numerics only (arithmetic, not transcendentals) so
        // both runtimes hold the same double and only rendering is probed
        val num =
          if (t.dbls.nonEmpty && r.nextBoolean())
            s"($q${pick(r, t.dbls).name} / ${1 + r.nextInt(4)})"
          else s"(${intExpr(r, t, q, 0)} / ${2 + r.nextInt(5)})"
        r.nextInt(6) match {
          case 0 => s"(${strExpr(r, t, q, 0)} || $num)"
          case 1 => s"($num || '${pick(r, strLits)}')"
          case 2 => s"UPPER($num)"
          case 3 => s"LEFT($num, ${1 + r.nextInt(4)})"
          case 4 => s"REPLACE($num, '.', ':')"
          case _ => s"SPLIT_PART($num, '.', ${1 + r.nextInt(2)})"
        }
      case _ => r.nextInt(6) match {
        case 0 => s"REGEXP_EXTRACT($col, '${pick(r, rePats)}')"
        case 1 => s"REGEXP_SUBSTR($col, '${pick(r, rePats)}', ${1 + r.nextInt(4)})"
        case 2 => s"REGEXP_EXTRACT($col, '${pick(r, rePats)}', ${1 + r.nextInt(3)}, ${1 + r.nextInt(3)})"
        case 3 => s"REGEXP_REPLACE($col, '${pick(r, rePats)}', '_')"
        case 4 => s"REGEXP_REPLACE($col, '${pick(r, rePats)}', '*', ${1 + r.nextInt(4)})"
        case _ => s"REGEXP_REPLACE($col, '${pick(r, rePats)}', '#', 1, ${r.nextInt(3)})"
      }
    }
  }

  /** Boolean predicate. */
  def boolExpr(r: Random, t: Table, q: String, d: Int): String = {
    val cmp = Seq("=", "!=", "<>", "<", "<=", ">", ">=")
    if (d <= 0) {
      if (t.ints.nonEmpty) {
        val c = pick(r, t.ints)
        s"$q${c.name} ${pick(r, cmp)} ${lit(r, c)}"
      } else "1 = 1"
    } else r.nextInt(12) match {
      case 0 => s"(${boolExpr(r, t, q, d - 1)} AND ${boolExpr(r, t, q, d - 1)})"
      case 1 => s"(${boolExpr(r, t, q, d - 1)} OR ${boolExpr(r, t, q, d - 1)})"
      case 2 => s"NOT (${boolExpr(r, t, q, d - 1)})"
      case 3 if t.strs.nonEmpty =>
        // occasionally probe numeric LIKE: both operands coerce via JS
        // String(v) in the reference (binary.js:57), so 2.0 LIKE '2'
        if (t.dbls.nonEmpty && r.nextInt(4) == 0)
          s"($q${pick(r, t.dbls).name} / ${1 + r.nextInt(3)}) " +
            s"${if (r.nextBoolean()) "" else "NOT "}LIKE '%${r.nextInt(10)}%'"
        else
          s"$q${pick(r, t.strs).name} ${if (r.nextBoolean()) "" else "NOT "}LIKE '${pick(r, likePats)}'"
      case 4 if t.ints.nonEmpty =>
        val c = pick(r, t.ints)
        val a = c.lo + r.nextInt(math.max(1, (c.hi - c.lo).toInt))
        s"$q${c.name} BETWEEN $a AND ${a + 1 + r.nextInt(20)}"
      case 5 if t.inPool.nonEmpty =>
        val (cn, pool) = pick(r, t.inPool.toSeq.sortBy(_._1))
        val n = 1 + r.nextInt(3)
        s"$q$cn ${if (r.nextBoolean()) "" else "NOT "}IN (${r.shuffle(pool).take(n).map("'" + _ + "'").mkString(", ")})"
      case 6 => s"NULLIF(${strExpr(r, t, q, d - 1)}, '${pick(r, strLits)}') IS ${if (r.nextBoolean()) "" else "NOT "}NULL"
      case 7 => s"${strExpr(r, t, q, d - 1)} ${pick(r, cmp.take(4))} ${strExpr(r, t, q, d - 1)}"
      case 8 if t.dbls.nonEmpty =>
        val c = pick(r, t.dbls)
        s"$q${c.name} ${pick(r, cmp)} ${lit(r, c)}"
      case 9 => if (r.nextBoolean())
        s"LIST_CONTAINS(STRING_SPLIT(${strExpr(r, t, q, d - 1)}, ' '), '${pick(r, Seq("a", "x", "Customer"))}')"
      else s"REGEXP_MATCHES(${strExpr(r, t, q, d - 1)}, '${pick(r, rePats)}')"
      case _ => s"${intExpr(r, t, q, d - 1)} ${pick(r, cmp)} ${intExpr(r, t, q, d - 1)}"
    }
  }

  /** Aggregate expression (num → value aggregate over t). */
  def aggExpr(r: Random, t: Table, d: Int): String = r.nextInt(14) match {
    case 0 => "COUNT(*)"
    case 1 => s"COUNT(${(t.ints ++ t.strs).map(_.name).headOption.getOrElse("1")})"
    case 2 => s"COUNTIF(${boolExpr(r, t, "", d)})"
    case 3 => s"SUM(${intExpr(r, t, "", d)})"
    case 4 if t.dbls.nonEmpty => s"ROUND(SUM(${pick(r, t.dbls).name}), 3)"
    case 5 => s"ROUND(AVG(${intExpr(r, t, "", d)}), 6)"
    case 6 => s"MIN(${intExpr(r, t, "", d)})"
    case 7 => s"MAX(${intExpr(r, t, "", d)})"
    case 8 if t.strs.nonEmpty => s"${pick(r, Seq("MIN", "MAX"))}(${pick(r, t.strs).name})"
    case 9 => s"MEDIAN(${intExpr(r, t, "", math.min(d, 1))})"
    case 10 => r.nextInt(3) match {
      case 0 => s"PERCENTILE_CONT(0.${1 + r.nextInt(8)}, ${intExpr(r, t, "", 1)})"
      case 1 => s"ROUND(STDDEV_POP(${intExpr(r, t, "", 1)}), 5)"
      case _ => s"ROUND(STDDEV_SAMP(${intExpr(r, t, "", 1)}), 5)"
    }
    case 11 => r.nextInt(3) match {
      case 0 => s"COUNT(*) FILTER (WHERE ${boolExpr(r, t, "", 1)})"
      case 1 => s"SUM(${intExpr(r, t, "", 1)}) FILTER (WHERE ${boolExpr(r, t, "", 1)})"
      case _ => s"COUNT(DISTINCT ${pick(r, (t.ints ++ t.strs)).name})"
    }
    case 13 if t.numStrs.nonEmpty =>
      // SUM/AVG over a STRING column of numeric-looking text + garbage:
      // both engines must accumulate Number(v) per row and skip the
      // non-finite (reference accumulator.js:60-67; graft_js_num). The
      // ROUND caps float-fold-order ulp drift below the differ's
      // tolerance.
      val c = pick(r, t.numStrs)
      if (r.nextBoolean()) s"ROUND(SUM($c), 2)" else s"ROUND(AVG($c), 4)"
    case 12 => r.nextInt(3) match {
      // STRING_AGG joins in engine-dependent row order, but the LENGTH
      // of the joined string is order-insensitive (Σ len + (n-1)·sep) —
      // the order-free projection of the aggregate's semantics
      case 0 if t.strs.nonEmpty =>
        s"LENGTH(STRING_AGG(${pick(r, t.strs).name}, '${pick(r, Seq(",", " | ", ""))}'))"
      case 1 if t.ints.nonEmpty =>
        s"LENGTH(STRING_AGG(CAST(${pick(r, t.ints).name} AS BIGINT), ','))"
      // ARRAY_AGG order is engine-dependent; ARRAY_SORT canonicalizes
      case _ => s"ARRAY_SORT(ARRAY_AGG(${pick(r, (t.ints ++ t.strs)).name}))"
    }
    case _ => s"APPROX_QUANTILE(${intExpr(r, t, "", math.min(d, 1))}, 0.${2 + r.nextInt(7)})"
  }

  // ---- query shapes ---------------------------------------------------

  /** Any scalar expression usable as a projection over t (unqualified). */
  private def anyExpr(r: Random, t: Table, d: Int): String = r.nextInt(10) match {
    case 0 | 1 | 2 => intExpr(r, t, "", d)
    case 3 | 4 | 5 => strExpr(r, t, "", d)
    case 6 if t.dbls.nonEmpty => s"ROUND(${dblExpr(r, t, "", d)}, 3)"
    case 7 => s"CASE WHEN ${boolExpr(r, t, "", d)} THEN 1 ELSE 0 END"
    case 8 => s"LEN(STRING_SPLIT(${strExpr(r, t, "", d - 1)}, ' '))"
    case _ => intExpr(r, t, "", d)
  }

  private def simple(r: Random): String = {
    val t = pick(r, tables)
    val n = 1 + r.nextInt(3)
    val proj = (0 until n).map(i => s"${anyExpr(r, t, 2)} AS c$i").mkString(", ")
    val dir = if (r.nextBoolean()) "" else " DESC"
    val off = if (r.nextInt(4) == 0) s" OFFSET ${r.nextInt(10)}" else ""
    // standalone OFFSET (no LIMIT): rows from offset to end
    if (r.nextInt(10) == 0)
      return s"SELECT ${t.key} AS k FROM ${t.name} WHERE ${boolExpr(r, t, "", 2)} " +
        s"ORDER BY ${t.key}$dir OFFSET ${1 + r.nextInt(12)}"
    // nullable LEADING sort key: exercises null-ordering defaults (the
    // reference sorts nulls FIRST even under bare DESC) and explicit
    // NULLS FIRST/LAST; the trailing unique key keeps rows deterministic
    val lead = if (t.ints.nonEmpty && r.nextInt(3) == 0) {
      val d = if (r.nextBoolean()) " DESC" else ""
      val nm = r.nextInt(3) match {
        case 0 => ""
        case 1 => " NULLS FIRST"
        case _ => " NULLS LAST"
      }
      // plain MOD-column argument, never intExpr: the REFERENCE has a
      // hidden-sort-column collision bug when the ORDER BY term and a
      // select item are both NULLIF(<CASE ...>, same-literal) — the
      // projected column reads back the ORDER BY value (minimal repro:
      // SELECT NULLIF(CASE WHEN k>2 THEN k ELSE k END, 8) AS a FROM t
      // ORDER BY NULLIF(CASE WHEN k>2 THEN 70 ELSE 80 END, 8) DESC
      // → a = [80, 70] on the reference; graft answers correctly).
      // Keeping CASE out of the lead key keeps the differ testing OUR
      // engine, not that reference defect.
      s"NULLIF(MOD(${pick(r, t.ints).name}, ${2 + r.nextInt(6)}), ${r.nextInt(3)})$d$nm, "
    } else ""
    s"SELECT ${t.key} AS k, $proj FROM ${t.name} WHERE ${boolExpr(r, t, "", 2)} " +
      s"ORDER BY $lead${t.key}$dir LIMIT ${5 + r.nextInt(70)}$off"
  }

  private def agg(r: Random): String = {
    val t = pick(r, tables)
    // SHADOWING group alias: `SELECT MOD(x, 5) AS x ... GROUP BY x` —
    // the reference substitutes the select alias into GROUP BY (and
    // HAVING/ORDER BY) even when the name shadows the base column, with
    // the reference inside the expansion staying the base column
    if (t.ints.nonEmpty && r.nextInt(5) == 0) {
      val c = pick(r, t.ints).name
      val variant = r.nextInt(3)
      val gexpr = variant match {
        case 0 => s"MOD($c, ${2 + r.nextInt(5)})"
        case 1 => s"($c - MOD($c, ${2 + r.nextInt(4)}))"
        case _ => s"NULLIF(MOD($c, ${2 + r.nextInt(4)}), ${r.nextInt(3)})"
      }
      // NULLIF shadow: the alias substitutes into LATER select items, so
      // a comparison over the shadowed name would compare against NULL —
      // the reference's two-valued logic (false) vs Spark's three-valued
      // (unknown), the PINNED divergence (found by the seed-88001 audit:
      // COUNTIF(NOT (shadowed > 1)) counts null groups on the reference
      // only; sqlStrictNulls reproduces it, pinned in Round11Spec).
      // Arithmetic aggregates agree (null-propagating on both engines),
      // so the nullable variant sticks to comparison-free aggs.
      def safeAgg(): String = r.nextInt(4) match {
        case 0 => "COUNT(*)"
        case 1 => s"SUM($c)"
        case 2 => s"${pick(r, Seq("MIN", "MAX"))}($c)"
        case _ => s"ROUND(AVG($c), 6)"
      }
      val aggs = (0 until 1 + r.nextInt(2)).map(i =>
        s"${if (variant == 2) safeAgg() else aggExpr(r, t, 1)} AS c$i").mkString(", ")
      val where = if (r.nextBoolean()) s"WHERE ${boolExpr(r, t, "", 1)} " else ""
      val having = if (r.nextInt(3) == 0) s"HAVING COUNT(*) >= ${1 + r.nextInt(2)} " else ""
      return s"SELECT $gexpr AS $c, $aggs FROM ${t.name} $where" +
        s"GROUP BY $c ${having}ORDER BY $c"
    }
    def groupExpr(): String = r.nextInt(4) match {
      case 0 if t.strs.nonEmpty => pick(r, t.strs).name
      case 1 if t.ints.nonEmpty => s"MOD(${pick(r, t.ints).name}, ${2 + r.nextInt(5)})"
      // NULLABLE group key: null forms its own group in both engines
      case 2 if t.ints.nonEmpty =>
        s"NULLIF(MOD(${pick(r, t.ints).name}, ${2 + r.nextInt(4)}), ${r.nextInt(3)})"
      case _ => pick(r, (t.ints ++ t.strs)).name
    }
    // one or two grouping keys (distinct expressions, NULLS-free)
    val gks = Seq.fill(1 + r.nextInt(2))(groupExpr()).distinct
    val gkAliased = gks.zipWithIndex.map { case (g, i) => s"$g AS k$i" }.mkString(", ")
    val n = 1 + r.nextInt(3)
    val aggs = (0 until n).map(i => s"${aggExpr(r, t, 1)} AS c$i").mkString(", ")
    val where = if (r.nextBoolean()) s"WHERE ${boolExpr(r, t, "", 2)} " else ""
    val having = if (r.nextInt(3) == 0) r.nextInt(3) match {
      // arbitrary-aggregate HAVING, not just COUNT(*): the reference
      // re-evaluates the aggregate expression over the group
      case 0 => s"HAVING COUNT(*) >= ${1 + r.nextInt(3)} "
      case 1 if t.ints.nonEmpty =>
        s"HAVING ${pick(r, Seq("SUM", "MAX", "MIN"))}(${pick(r, t.ints).name}) " +
          s"${pick(r, Seq(">=", ">", "<="))} ${r.nextInt(100)} "
      case _ => s"HAVING COUNT(*) ${pick(r, Seq(">=", "<="))} ${1 + r.nextInt(4)} " +
        s"${pick(r, Seq("AND", "OR"))} COUNT(*) >= ${r.nextInt(2)} "
    } else ""
    val orderK = gks.indices.map(i => s"k$i").mkString(", ")
    // all three grouping-key spellings resolve in both engines:
    // expressions, ordinals, select-list aliases
    val groupKeys = r.nextInt(4) match {
      case 0 => gks.indices.map(i => (i + 1).toString)
      case 1 => gks.indices.map(i => s"k$i")
      case _ => gks
    }
    s"SELECT $gkAliased, $aggs FROM ${t.name} $where" +
      s"GROUP BY ${groupKeys.mkString(", ")} ${having}ORDER BY $orderK"
  }

  private def join(r: Random): String = {
    val (ta, tb, cond) = pick(r, joins)
    val pb = s"b.${pick(r, (tb.ints ++ tb.strs)).name}"
    r.nextInt(5) match {
      case 0 | 1 | 2 =>
        val jt = pick(r, Seq("JOIN", "INNER JOIN", "LEFT JOIN"))
        val pa = s"${anyExpr(r, ta, 1)}" // unqualified: a-side names are unambiguous prefixes
        val where = if (r.nextBoolean()) s"WHERE ${boolExpr(r, ta, "a.", 1)} " else ""
        // sometimes NULL some join keys: a null key matches NOTHING in
        // both engines (reference join.js:283 skips them; SQL semantics)
        val fk = cond.split(" = ")(0)
        val onExpr = if (r.nextInt(4) == 0)
          cond.replace(fk, s"NULLIF($fk, ${r.nextInt(20)})") else cond
        s"SELECT a.${ta.key} AS k, $pa AS c0, $pb AS c1 " +
          s"FROM ${ta.name} a $jt ${tb.name} b ON $onExpr $where" +
          s"ORDER BY a.${ta.key} LIMIT ${10 + r.nextInt(60)}"
      case 3 =>
        // RIGHT JOIN: b side preserved but REPLICATED per matching a row,
        // so b.key alone ties — (b.key, a.key) is the total order; the
        // unmatched a side reads back as NULL — guard projections
        s"SELECT b.${tb.key} AS k, COALESCE(a.${ta.key}, -1) AS c0, $pb AS c1 " +
          s"FROM ${ta.name} a RIGHT JOIN ${tb.name} b ON $cond " +
          s"ORDER BY b.${tb.key}, c0 LIMIT ${10 + r.nextInt(60)}"
      case _ =>
        // FULL JOIN: both sides nullable; (coalesce(a.key,-1),
        // coalesce(b.key,-1)) is a total order over matched + a-only +
        // b-only rows
        s"SELECT COALESCE(a.${ta.key}, -1) AS k, COALESCE(b.${tb.key}, -1) AS k2 " +
          s"FROM ${ta.name} a FULL JOIN ${tb.name} b ON $cond " +
          s"ORDER BY k, k2 LIMIT ${20 + r.nextInt(60)}"
    }
  }

  private def window(r: Random): String = {
    val t = pick(r, Seq(nation, customer, orders))
    val part = t.name match {
      case "f_nation" => "n_regionkey"
      case "f_customer" => "c_mktsegment"
      case _ => "o_orderstatus"
    }
    val dir = if (r.nextBoolean()) "" else " DESC"
    def basicWf = r.nextInt(3) match {
      case 0 => s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY ${t.key}$dir)"
      case 1 => s"LAG(${intExpr(r, t, "", 1)}, 1, ${r.nextInt(9)}) OVER (PARTITION BY $part ORDER BY ${t.key})"
      case _ => s"LEAD(${intExpr(r, t, "", 1)}, ${1 + r.nextInt(2)}, 0) OVER (PARTITION BY $part ORDER BY ${t.key})"
    }
    val where = if (r.nextBoolean()) s"WHERE ${boolExpr(r, t, "", 1)} " else ""
    r.nextInt(7) match {
      case 0 | 1 =>
        s"SELECT ${t.key} AS k, $basicWf AS c0 FROM ${t.name} $where" +
          s"ORDER BY ${t.key} LIMIT ${10 + r.nextInt(80)}"
      case 2 =>
        // OVER () streaming fast path (window.js:28-34): the assignment
        // follows scan order, which the engines need not share — but the
        // SORTED rn column is always 1..n, so project only that
        s"SELECT rn AS c0 FROM (SELECT ROW_NUMBER() OVER () AS rn " +
          s"FROM ${t.name} $where) sub ORDER BY rn"
      case 3 =>
        // window result through JS string coercion: `'r' || rn` must
        // stringify the window RESULT (String(v)), on either side
        val pre = pick(r, Seq("r", "w#", ""))
        val wf = s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY ${t.key}$dir)"
        val c0 = if (r.nextBoolean()) s"'$pre' || $wf" else s"$wf || '$pre'"
        s"SELECT ${t.key} AS k, $c0 AS c0 FROM ${t.name} $where" +
          s"ORDER BY ${t.key} LIMIT ${10 + r.nextInt(80)}"
      case 4 =>
        // window expression nested in scalar context (arithmetic / CASE)
        val wf = s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY ${t.key})"
        val c0 = if (r.nextBoolean())
          s"(${basicWf} + ${r.nextInt(10)})"
        else s"CASE WHEN $wf = 1 THEN 'first' ELSE 'rest' END"
        s"SELECT ${t.key} AS k, $c0 AS c0 FROM ${t.name} $where" +
          s"ORDER BY ${t.key} LIMIT ${10 + r.nextInt(80)}"
      case 5 =>
        // two windows with DIFFERENT specs in one select
        s"SELECT ${t.key} AS k, " +
          s"ROW_NUMBER() OVER (PARTITION BY $part ORDER BY ${t.key}$dir) AS c0, " +
          s"LEAD(${t.key}, 1, -1) OVER (ORDER BY ${t.key}) AS c1 " +
          s"FROM ${t.name} ${where}ORDER BY ${t.key} LIMIT ${10 + r.nextInt(80)}"
      case _ =>
        // string-valued LAG/LEAD with a string default
        val sc = pick(r, t.strs).name
        val f = pick(r, Seq("LAG", "LEAD"))
        s"SELECT ${t.key} AS k, $f($sc, ${1 + r.nextInt(2)}, '${pick(r, Seq("-", "none", ""))}') " +
          s"OVER (PARTITION BY $part ORDER BY ${t.key}) AS c0 " +
          s"FROM ${t.name} ${where}ORDER BY ${t.key} LIMIT ${10 + r.nextInt(80)}"
    }
  }

  /** LATERAL table functions: LATERAL VIEW [OUTER] EXPLODE (Spark/Hive
    * style the reference parses, joins.js:23-107) and the comma-join
    * JSON_EACH over per-row documents.
    */
  private def lateral(r: Random): String = {
    val t = pick(r, Seq(nation, customer, orders))
    val sc = pick(r, t.strs).name
    val where = if (r.nextBoolean()) s"WHERE ${boolExpr(r, t, "", 1)} " else ""
    r.nextInt(3) match {
      case 0 =>
        s"SELECT ${t.key} AS k, w AS c0 FROM ${t.name} " +
          s"LATERAL VIEW EXPLODE(STRING_SPLIT($sc, ' ')) u AS w " +
          s"${where}ORDER BY k, c0 LIMIT ${10 + r.nextInt(60)}"
      case 1 =>
        // OUTER keeps rows whose array is NULL (null cell) — NULLIF
        // against a pool value makes some arrays null
        val nullLit = t.inPool.get(sc).map(p => pick(r, p))
          .getOrElse(pick(r, strLits))
        s"SELECT ${t.key} AS k, w AS c0 FROM ${t.name} " +
          s"LATERAL VIEW OUTER EXPLODE(STRING_SPLIT(NULLIF($sc, '$nullLit'), ' ')) u AS w " +
          s"${where}ORDER BY k, c0 LIMIT ${10 + r.nextInt(60)}"
      case _ =>
        // per-row JSON document through the JSON_EACH table function.
        // STRING values only: the reference's `value` cell is typed per
        // key (number for 'a', string for 'b') — a heterogeneous column
        // Spark's single-typed `value` renders as text. Casting inside
        // the document keeps the diff cell-exact; the typed-value
        // rendering itself is pinned by the json_each driver-gate query.
        val ic = if (t.ints.nonEmpty) pick(r, t.ints).name else "1"
        s"SELECT ${t.key} AS k, key AS c0, value AS c1 FROM ${t.name}, " +
          s"JSON_EACH(JSON_OBJECT('a', CAST($ic AS VARCHAR), 'b', $sc)) " +
          s"${where}ORDER BY k, c0 LIMIT ${10 + r.nextInt(60)}"
    }
  }

  private def setop(r: Random): String = {
    val ta = pick(r, tables)
    val tb = pick(r, tables)
    val op = pick(r, Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT"))
    // single projected column: tied rows are identical, so ORDER BY c0
    // alone is deterministic. Sometimes NULLABLE: set ops treat null as
    // equal to null in both engines
    def proj(t: Table): String = {
      val e = strExpr(r, t, "", 2)
      if (r.nextInt(4) == 0) s"NULLIF($e, '${pick(r, strLits)}')" else e
    }
    s"SELECT ${proj(ta)} AS c0 FROM ${ta.name} WHERE ${boolExpr(r, ta, "", 1)} " +
      s"$op SELECT ${proj(tb)} AS c0 FROM ${tb.name} WHERE ${boolExpr(r, tb, "", 1)} " +
      s"ORDER BY c0 LIMIT ${20 + r.nextInt(60)}"
  }

  private def setopNested(r: Random): String = {
    // round-14 family (VERDICT r13 #4): unparenthesized set-op CHAINS
    // with per-arm ORDER BY/LIMIT tails. The reference parses each
    // arm's own tail (probed live: a mid-chain ORDER BY k DESC LIMIT 2
    // slices THAT arm; the trailing tail binds the whole statement;
    // parenthesized arms are parse errors there — "Expected SELECT but
    // found ("), and INTERSECT binds tighter than UNION/EXCEPT in both
    // engines. Determinism: arm sort keys are strictly monotone
    // transforms of the unique table key, so every mid-chain LIMIT
    // slice is exact; ties under the trailing sort are identical rows.
    val ops = Seq("UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
      "EXCEPT", "EXCEPT ALL")
    if (r.nextInt(4) == 0) {
      // FROM-first arms: whole-row set ops over one table (arity must
      // match across arms, so every arm reads the same relation)
      val t = nation
      def arm = s"FROM ${t.name} WHERE ${boolExpr(r, t, "", 1)}"
      val chain = (1 until 2 + r.nextInt(2)).foldLeft(arm) {
        (acc, _) => s"$acc ${pick(r, ops)} $arm"
      }
      s"$chain ORDER BY ${t.key}"
    } else {
      val nArms = 2 + r.nextInt(2)
      val arms = (0 until nArms).map { i =>
        val t = pick(r, tables)
        val e = s"${t.key} ${pick(r, Seq("+", "-"))} ${r.nextInt(5)}"
        val base = s"SELECT $e AS c0 FROM ${t.name} WHERE ${boolExpr(r, t, "", 1)}"
        val last = i == nArms - 1
        if (!last && r.nextInt(2) == 0)
          s"$base ORDER BY c0${if (r.nextBoolean()) " DESC" else ""} LIMIT ${2 + r.nextInt(20)}"
        else base
      }
      val chain = arms.tail.foldLeft(arms.head)((acc, a) => s"$acc ${pick(r, ops)} $a")
      s"$chain ORDER BY c0" +
        (if (r.nextBoolean()) s" LIMIT ${20 + r.nextInt(60)}" else "")
    }
  }

  private def setopCross(r: Random): String = {
    // round-15 family (VERDICT r14 #5): CROSS-PRODUCTS of the set-op
    // arm-tail machinery with the other rewrite passes — the
    // interactions between rewriteSetOpArmTails and the JS-coercion /
    // window / FROM-first passes are the untested surface. Probed
    // live: window arms take mid-chain tails, `||`/zero-divisor arms
    // coerce per-arm, FROM-first arms take their own tails. Spaced
    // call parens (`abs (x)`) ride along to keep the token-suffix walk
    // under differential pressure. Determinism: every arm projects ONE
    // column; mid-chain LIMIT tails sort on expressions that are
    // injective over the arm's unique key (a string of the key, or a
    // row_number over it), so slices are exact and trailing-sort ties
    // are identical rows.
    val ops = Seq("UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
      "EXCEPT", "EXCEPT ALL")
    val nArms = 2 + r.nextInt(2)
    // one arm TYPE per chain: reference set-op keys are raw JS values
    // (execute/utils.js:175 keyify → Map/Set SameValueZero), so a
    // mixed number/string chain is a HETEROGENEOUS column — a JS-only
    // shape Spark's unified column types cannot represent (documented
    // boundary; Spark rejects it loudly at analysis/runtime, never a
    // silent wrong answer)
    val stringMode = r.nextBoolean()
    // WITH × set ops (probed: a CTE-reading arm takes its own
    // mid-chain tail); all arms then share the CTE's base schema
    val withMode = r.nextInt(4) == 0
    val cteBase = pick(r, tables)
    val prefix =
      if (withMode)
        s"WITH w0 AS (SELECT * FROM ${cteBase.name} WHERE ${boolExpr(r, cteBase, "", 1)}) "
      else ""
    def abs0(e: String): String =
      if (r.nextInt(3) == 0) s"abs ($e)" else s"abs($e)"
    val arms = (0 until nArms).map { i =>
      val t = if (withMode) cteBase else pick(r, tables)
      val fromName = if (withMode && r.nextBoolean()) "w0" else t.name
      val last = i == nArms - 1
      // subquery × set ops (probed: an IN-subquery predicate inside an
      // arm composes with the tail lifting)
      def pred(t: Table): String = {
        val base = boolExpr(r, t, "", 1)
        if (r.nextInt(5) == 0)
          s"$base AND ${t.key} IN (SELECT ${t.key} FROM ${t.name} " +
            s"WHERE ${boolExpr(r, t, "", 1)})"
        else base
      }
      def tailed(base: String, injective: Boolean): String =
        if (injective && !last && r.nextInt(2) == 0)
          s"$base ORDER BY c0${if (r.nextBoolean()) " DESC" else ""} LIMIT ${2 + r.nextInt(12)}"
        else base
      if (stringMode) r.nextInt(3) match {
        case 0 =>
          // JS concat coercion: '<c>' || key is injective (unique key
          // stringifies uniquely), so a mid-chain tail slice is exact
          tailed(s"SELECT '${('a' + r.nextInt(4)).toChar}' || (${t.key} + ${r.nextInt(4)})" +
            s" AS c0 FROM $fromName WHERE ${pred(t)}", injective = true)
        case 1 =>
          // coercion × window in ONE arm: the || wrap must compose
          // with the window spec inside a lifted set-op arm
          tailed(s"SELECT 'w' || row_number() OVER (ORDER BY ${t.key}) AS c0 " +
            s"FROM $fromName WHERE ${pred(t)}", injective = true)
        case _ =>
          tailed(s"SELECT 's' || ${abs0(s"${t.key} + ${r.nextInt(5)}")} AS c0 " +
            s"FROM $fromName WHERE ${pred(t)}", injective = true)
      } else r.nextInt(3) match {
        case 0 =>
          // divisor arm: exercises the plan-side zero-divisor guard
          // INSIDE a lifted arm; the denominator is kept nonzero
          // (key%m + 1) because Infinity sorts LAST as a JS number
          // where its null serialization sorts FIRST — an ordering
          // divergence, not a value one (runtime zero division is
          // covered by the scalar families)
          val d = s"(${t.key} % ${2 + r.nextInt(4)} + 1)"
          s"SELECT ${abs0(t.key)} / $d AS c0 FROM $fromName " +
            s"WHERE ${pred(t)}"
        case 1 =>
          // window arm: row_number over the unique key is injective —
          // tails allowed mid-chain
          val dir = if (r.nextBoolean()) " DESC" else ""
          tailed(s"SELECT row_number() OVER (ORDER BY ${t.key}$dir) AS c0 " +
            s"FROM $fromName WHERE ${pred(t)}", injective = true)
        case _ =>
          // plain arithmetic arm with an occasional spaced call paren
          s"SELECT ${abs0(s"${t.key} - ${r.nextInt(9)}")} AS c0 " +
            s"FROM $fromName WHERE ${pred(t)}"
      }
    }
    val chain = arms.tail.foldLeft(arms.head)((acc, a) => s"$acc ${pick(r, ops)} $a")
    // FROM-first × set ops: 1/5 of the family rebuilds the chain over
    // whole-row FROM-first arms with their own mid-chain tails
    if (r.nextInt(5) == 0) {
      def arm(last: Boolean) = {
        val base = s"FROM ${nation.name} WHERE ${boolExpr(r, nation, "", 1)}"
        if (!last && r.nextInt(2) == 0)
          s"$base ORDER BY ${nation.key}${if (r.nextBoolean()) " DESC" else ""} LIMIT ${2 + r.nextInt(8)}"
        else base
      }
      val n = 2 + r.nextInt(2)
      val ffArms = (0 until n).map(i => arm(i == n - 1))
      ffArms.tail.foldLeft(ffArms.head)((acc, a) => s"$acc ${pick(r, ops)} $a") +
        s" ORDER BY ${nation.key}"
    } else {
      s"$prefix$chain ORDER BY c0" +
        (if (r.nextBoolean()) s" LIMIT ${20 + r.nextInt(60)}" else "")
    }
  }

  private def subquery(r: Random): String = r.nextInt(4) match {
    case 0 =>
      val p = boolExpr(r, customer, "", 1)
      s"SELECT o_orderkey AS k FROM f_orders WHERE o_custkey IN " +
        s"(SELECT c_custkey FROM f_customer WHERE $p) ORDER BY o_orderkey LIMIT ${10 + r.nextInt(60)}"
    case 3 =>
      // NOT IN over a NULL-BEARING subquery: the reference's two-valued
      // null logic keeps non-matching rows where standard SQL empties
      // the result — GraftSql's NOT EXISTS rewrite must reproduce it
      val p = boolExpr(r, customer, "", 1)
      s"SELECT o_orderkey AS k FROM f_orders WHERE o_custkey NOT IN " +
        s"(SELECT NULLIF(c_custkey, ${1 + r.nextInt(50)}) FROM f_customer WHERE $p) " +
        s"ORDER BY o_orderkey LIMIT ${10 + r.nextInt(60)}"
    case 1 =>
      val p = boolExpr(r, customer, "c.", 1)
      s"SELECT n_name AS k FROM f_nation n WHERE ${if (r.nextBoolean()) "" else "NOT "}EXISTS " +
        s"(SELECT 1 FROM f_customer c WHERE c.c_nationkey = n.n_nationkey AND $p) ORDER BY n_name"
    case _ =>
      s"SELECT c_custkey AS k, (SELECT MAX(${intExpr(r, nation, "", 1)}) FROM f_nation) AS c0 " +
        s"FROM f_customer WHERE ${boolExpr(r, customer, "", 1)} ORDER BY c_custkey LIMIT ${5 + r.nextInt(40)}"
  }

  private def commaTvf(r: Random): String = {
    val t = pick(r, Seq(nation, customer, orders))
    val sc = pick(r, t.strs).name
    // ORDER BY (key, part) — ties are IDENTICAL rows (same key, same
    // word), so row order among them cannot diverge
    s"SELECT ${t.key} AS k, part FROM ${t.name}, " +
      s"UNNEST(STRING_SPLIT($sc, ' ')) AS u(part) " +
      s"WHERE ${boolExpr(r, t, "", 1)} ORDER BY k, part LIMIT ${10 + r.nextInt(60)}"
  }

  private def cte(r: Random): String = {
    val t = pick(r, tables)
    s"WITH v AS (SELECT ${t.key} AS k, ${anyExpr(r, t, 2)} AS c0 FROM ${t.name} " +
      s"WHERE ${boolExpr(r, t, "", 2)}) " +
      s"SELECT k, c0 FROM v WHERE k >= ${r.nextInt(20)} ORDER BY k LIMIT ${10 + r.nextInt(60)}"
  }

  private def distinct(r: Random): String = {
    val t = pick(r, tables)
    s"SELECT DISTINCT ${strExpr(r, t, "", 1)} AS c0 FROM ${t.name} " +
      s"WHERE ${boolExpr(r, t, "", 1)} ORDER BY c0 LIMIT 50"
  }

  // ---- scalar-function fuzz -------------------------------------------

  /** Math/trig expression over literals in SAFE domains (no poles, no
    * log-of-nonpositive, no |asin|>1): both engines compute IEEE doubles
    * and the differ's 1e-6 RELATIVE tolerance absorbs last-ulp drift.
    */
  def mathExpr(r: Random): String = {
    def small = s"${if (r.nextBoolean()) "-" else ""}${r.nextInt(5)}.${1 + r.nextInt(9)}"
    def pos = s"${1 + r.nextInt(40)}.${r.nextInt(10)}"
    def unit = s"${if (r.nextBoolean()) "-" else ""}0.${r.nextInt(10)}"
    r.nextInt(16) match {
      case 0 => s"SIN($small)"
      case 1 => s"COS($small)"
      case 2 => s"TAN(0.${1 + r.nextInt(9)})"
      case 3 => s"COT(${1 + r.nextInt(2)}.${1 + r.nextInt(9)})"
      case 4 => s"ASIN($unit)"
      case 5 => s"ACOS($unit)"
      case 6 => s"ATAN($small)"
      case 7 => s"ATAN2(${r.nextInt(9) - 4}, ${1 + r.nextInt(8)})"
      case 8 => s"EXP($small)"
      case 9 => s"LN($pos)"
      case 10 => s"LOG10($pos)"
      case 11 => s"${pick(r, Seq("POW", "POWER"))}(${r.nextInt(7) - 3}, ${r.nextInt(5)})"
      case 12 => s"SQRT($pos)"
      case 13 => s"SIGN(${r.nextInt(9) - 4})"
      case 14 => s"${pick(r, Seq("DEGREES", "RADIANS"))}($small)"
      case _ => s"(PI() * $small)"
    }
  }

  /** Random JSON document text (top-level object, integer/string/bool
    * leaves — no float literals: the reference round-trips through
    * JSON.parse, which renders 3.0 as 3, while a path extractor that
    * returns raw tokens would keep "3.0").
    */
  def jsonDoc(r: Random, d: Int): String = {
    def leaf = r.nextInt(5) match {
      case 0 => r.nextInt(100).toString
      case 1 => "\"s" + r.nextInt(9) + "\""
      case 2 => "true"
      case 3 => "false"
      case _ => "null"
    }
    def value(dd: Int): String =
      if (dd <= 0) leaf
      else r.nextInt(4) match {
        case 0 => leaf
        case 1 => "[" + Seq.fill(1 + r.nextInt(3))(value(dd - 1)).mkString(",") + "]"
        case _ => obj(dd - 1)
      }
    def obj(dd: Int): String =
      "{" + Seq("a", "b", "c").take(1 + r.nextInt(3))
        .map(k => "\"" + k + "\":" + value(dd)).mkString(",") + "}"
    obj(d)
  }

  private def jsonPath(r: Random): String = pick(r, Seq(
    "$.a", "$.b", "$.c", "$.a.b", "$.b.a", "$.a[0]", "$.b[1]", "$.c.b", "$.a.c[0]", "$.d"))

  /** One scalar projection from the WIDE function pool (math, JSON,
    * arrays, string edges, date-trunc) — the reference registry surface
    * the relational batteries never reach.
    */
  def scalarExpr(r: Random): String = r.nextInt(11) match {
    case 0 | 1 | 2 => mathExpr(r)
    case 10 => // bracket array literals + 0-based subscripts (round-13
      // widening: this surface rides rewriteArrayLiterals + the
      // subscript translation in PlanCalls — reference: out-of-range/negative → null,
      // nesting converts fully; all shapes node-probed)
      val lit = s"[${Seq.fill(2 + r.nextInt(3))(r.nextInt(20)).mkString(", ")}]"
      r.nextInt(6) match {
        case 0 => s"$lit[${r.nextInt(6)}]"
        case 1 => s"ARRAY_SORT($lit)[${r.nextInt(4)}]"
        case 2 => s"ARRAY_CONCAT($lit, [${r.nextInt(9)}])[${r.nextInt(7)}]"
        case 3 => s"LEN($lit)"
        case 4 => s"[[${r.nextInt(9)}, ${r.nextInt(9)}], [${r.nextInt(9)}]][${r.nextInt(3)}]"
        case _ =>
          s"STRING_SPLIT('${r.shuffle(Seq("a", "b", "c", "d")).mkString(" ")}', ' ')[${r.nextInt(5)}]"
      }
    case 3 => // JSON inspection
      val doc = jsonDoc(r, 1 + r.nextInt(2))
      r.nextInt(4) match {
        case 0 => s"JSON_VALID('${if (r.nextInt(3) == 0) doc.drop(1) else doc}')"
        case 1 => s"JSON_TYPE(JSON_EXTRACT('$doc', '${jsonPath(r)}'))"
        case 2 => s"JSON_KEYS('$doc')"
        case _ => s"JSON_ARRAY_LENGTH(JSON_EXTRACT('$doc', '${jsonPath(r)}'))"
      }
    case 4 => // JSON extraction (typed results — jsonBridge diff rules)
      val doc = jsonDoc(r, 1 + r.nextInt(2))
      pick(r, Seq("JSON_EXTRACT", "JSON_VALUE", "JSON_QUERY")) match {
        case f => s"$f('$doc', '${jsonPath(r)}')"
      }
    case 5 => s"JSON_OBJECT('k1', ${r.nextInt(50)}, 'k2', 's${r.nextInt(9)}')"
    case 6 => // array construction + transforms (VArr-compared)
      val arr = s"STRING_SPLIT('${r.shuffle(Seq("d", "b", "ab", "c", "a")).take(2 + r.nextInt(3)).mkString(" ")}', ' ')"
      r.nextInt(5) match {
        case 0 => s"ARRAY_SORT($arr)"
        case 1 => s"${pick(r, Seq("ARRAY_APPEND", "LIST_APPEND"))}($arr, 'z')"
        case 2 => s"${pick(r, Seq("ARRAY_CONCAT", "LIST_CONCAT"))}($arr, STRING_SPLIT('x y', ' '))"
        case 3 => s"${pick(r, Seq("ARRAY_CONTAINS", "LIST_CONTAINS"))}($arr, '${pick(r, Seq("a", "b", "z"))}')"
        case _ => s"ARRAY_SORT(ARRAY_APPEND($arr, '${pick(r, Seq("e", "0"))}'))"
      }
    case 7 => r.nextInt(5) match {
      case 0 => s"OCTET_LENGTH('${pick(r, strLits)}')"
      case 1 => s"SUBSTRING('${pick(r, Seq("Customer#42", "abcdefg", "x y z"))}', ${1 + r.nextInt(4)}, ${1 + r.nextInt(5)})"
      case 2 => // JS number rendering through string casts and CONCAT
        pick(r, Seq(
          s"CAST(${r.nextInt(20)}.0 AS VARCHAR)",
          s"CAST(-${r.nextInt(9)}.${r.nextInt(10)}0 AS STRING)",
          s"CAST(0.${r.nextInt(100)} AS TEXT)",
          // IEEE-exact ops only: transcendentals (SIN/EXP/LN) differ by
          // a final ulp between JVM and V8 libm — the DOUBLE differs,
          // not the rendering, so stringified they can never agree
          s"CONCAT('q', ${r.nextInt(30)} / ${2 + r.nextInt(5)})",
          s"CONCAT('w', SQRT(${1 + r.nextInt(50)}))"))
      case _ => s"LENGTH(SUBSTRING('abcdefgh', ${1 + r.nextInt(6)}, ${r.nextInt(6)}))"
    }
    case 8 => // DATE_TRUNC composed under numeric extractors
      val d = s"'199${2 + r.nextInt(6)}-0${1 + r.nextInt(9)}-1${r.nextInt(9)}'"
      val unit = pick(r, Seq("year", "month", "day"))
      if (r.nextBoolean()) s"DATE_PART('${pick(r, Seq("year", "month", "day"))}', DATE_TRUNC('$unit', $d))"
      else s"CAST(EPOCH(DATE_TRUNC('$unit', $d)) AS BIGINT)"
    case _ => r.nextInt(4) match {
      case 0 => s"DATEDIFF('day', '1994-0${1 + r.nextInt(9)}-0${1 + r.nextInt(9)}', '1995-1${r.nextInt(2)}-2${r.nextInt(9)}')"
      case 1 => s"ROUND(${mathExpr(r)}, ${1 + r.nextInt(5)})"
      case 2 => r.nextInt(2) match {
        case 0 => // LENIENT numeric casts: garbage → null, '12.7' → 12
          val src = pick(r, Seq("'abc'", "'12.7'", "''", "'  8 '", "'1e3'",
            s"'${r.nextInt(500)}'", s"${r.nextInt(90)}.${r.nextInt(10)}", "'-4.2'"))
          s"CAST($src AS ${pick(r, Seq("BIGINT", "INT", "INTEGER", "DOUBLE"))})"
        case _ => // division/modulo incl. ZERO divisors (never an error)
          val num = r.nextInt(40) - 10
          val den = pick(r, Seq("0", "0", s"${1 + r.nextInt(9)}", s"-${1 + r.nextInt(5)}", "2.5"))
          pick(r, Seq(
            s"($num / $den)",
            s"($num % $den)",
            s"MOD($num, $den)",
            s"ROUND($num / NULLIF($den, 99), 4)"))
      }
      case _ => s"GREATEST(${mathExpr(r)}, ${mathExpr(r)})"
    }
  }

  /** Single-row scalar-function battery (the spatialQueries shape):
    * `n` SELECTs of ~5 scalar columns each, no FROM clause.
    */
  def scalarQueries(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    (0 until n).map { _ =>
      val cols = (0 until 5).map(i => s"${scalarExpr(r)} AS c$i")
      s"SELECT ${cols.mkString(", ")}"
    }
  }

  // ---- spatial fuzz ---------------------------------------------------

  /** Random WKT with INTEGER coordinates on a small grid — shared
    * vertices, collinear edges and touching boundaries are the common
    * case by construction, which is exactly where two independent
    * geometry implementations diverge.
    */
  def wkt(r: Random): String = {
    def pt = s"${r.nextInt(9)} ${r.nextInt(9)}"
    r.nextInt(6) match {
      case 0 => s"POINT ($pt)"
      case 1 =>
        val n = 2 + r.nextInt(3)
        s"LINESTRING (${Seq.fill(n)(pt).mkString(", ")})"
      case 2 => // axis-aligned rectangle (closed, CCW)
        val (x0, y0) = (r.nextInt(6), r.nextInt(6))
        val (w, h) = (1 + r.nextInt(4), 1 + r.nextInt(4))
        s"POLYGON (($x0 $y0, ${x0 + w} $y0, ${x0 + w} ${y0 + h}, $x0 ${y0 + h}, $x0 $y0))"
      case 3 => // triangle
        val (x0, y0) = (r.nextInt(6), r.nextInt(6))
        s"POLYGON (($x0 $y0, ${x0 + 1 + r.nextInt(3)} $y0, $x0 ${y0 + 1 + r.nextInt(3)}, $x0 $y0))"
      case 4 =>
        val n = 1 + r.nextInt(3)
        s"MULTIPOINT (${Seq.fill(n)(s"($pt)").mkString(", ")})"
      case _ =>
        s"MULTILINESTRING ((${pt}, ${pt}), (${pt}, ${pt}))"
    }
  }

  private val spatialPreds = Seq("ST_INTERSECTS", "ST_CONTAINS",
    "ST_CONTAINSPROPERLY", "ST_WITHIN", "ST_OVERLAPS", "ST_TOUCHES",
    "ST_EQUALS", "ST_CROSSES", "ST_COVERS", "ST_COVEREDBY")

  /** Single-row spatial queries: `n` SELECTs of ~5 predicate columns
    * each over random integer-grid geometries, plus ST_DWITHIN and an
    * ST_ASTEXT round-trip column.
    */
  def spatialQueries(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    (0 until n).map { _ =>
      val cols = (0 until 4).map { i =>
        s"${pick(r, spatialPreds)}(ST_GEOMFROMTEXT('${wkt(r)}'), ST_GEOMFROMTEXT('${wkt(r)}')) AS c$i"
      } :+
        s"ST_DWITHIN(ST_GEOMFROMTEXT('${wkt(r)}'), ST_GEOMFROMTEXT('${wkt(r)}'), ${r.nextInt(5)}) AS c4" :+
        s"ST_ASTEXT(ST_GEOMFROMTEXT('${wkt(r)}')) AS c5"
      s"SELECT ${cols.mkString(", ")}"
    }
  }

  /** Seeded geometry TABLE rows (id, wkt) for the spatial-join family —
    * registered as `f_geo` on the Spark side and shipped to the
    * reference through the fuzz-tables JSON, so both engines read
    * value-identical relations.
    */
  def geoRows(seed: Long, n: Int): Seq[(Int, String)] = {
    val r = new Random(seed)
    (0 until n).map(i => (i, wkt(r)))
  }

  /** Spatial JOIN / window-over-spatial family (round-13 widening): the
    * MULTI-ROW spatial surface the single-row battery cannot reach —
    * self-joins on a random predicate, spatial WHERE filters, ranking
    * windows partitioned by a predicate result, and grouped counts
    * keyed on a predicate. (Aggregate-OVER windows and FROM (VALUES …)
    * are deliberately absent: the reference supports neither — probed.)
    */
  def spatialJoinQueries(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    (0 until n).map { _ =>
      val pred = pick(r, spatialPreds)
      r.nextInt(4) match {
        case 0 =>
          s"SELECT a.id AS aid, b.id AS bid FROM f_geo a JOIN f_geo b ON " +
            s"$pred(ST_GEOMFROMTEXT(a.w), ST_GEOMFROMTEXT(b.w)) " +
            "WHERE a.id < b.id ORDER BY aid, bid"
        case 1 =>
          s"SELECT id FROM f_geo WHERE ST_DWITHIN(ST_GEOMFROMTEXT(w), " +
            s"ST_GEOMFROMTEXT('${wkt(r)}'), ${r.nextInt(5)}) ORDER BY id"
        case 2 =>
          s"SELECT id, ROW_NUMBER() OVER (PARTITION BY " +
            s"$pred(ST_GEOMFROMTEXT(w), ST_GEOMFROMTEXT('${wkt(r)}')) " +
            "ORDER BY id) AS rn FROM f_geo ORDER BY id, rn"
        case _ =>
          s"SELECT $pred(ST_GEOMFROMTEXT(w), ST_GEOMFROMTEXT('${wkt(r)}')) AS k, " +
            "COUNT(*) AS cnt FROM f_geo GROUP BY k ORDER BY k"
      }
    }
  }

  /** One seeded single-edit mutation of a valid query — the
    * malformed-input battery (the reference's parse.errors tests are
    * the hand-written version). Most mutants are invalid; the contract
    * under test is that BOTH engines agree on rejection, and that a
    * mutant the reference still accepts also runs on GraftSql (users
    * switching engines must not lose queries).
    */
  def mutate(r: Random, q: String): String = {
    val toks = q.split(" ")
    def at = 1 + r.nextInt(math.max(1, toks.length - 1)) // never mutate SELECT itself
    r.nextInt(6) match {
      case 0 => (toks.take(at) ++ toks.drop(at + 1)).mkString(" ") // drop a token
      case 1 => (toks.take(at) :+ toks(at - 1)).mkString(" ") + " " +
        toks.drop(at).mkString(" ") // duplicate a token
      case 2 => q.replaceFirst("(?i)\\b(UPPER|LOWER|TRIM|ABS|LENGTH|COUNT|SUM|MIN|MAX)\\b", "zzz_nofunc")
      case 3 => { val i = 1 + r.nextInt(q.length - 1); q.substring(0, i) + ")" + q.substring(i) }
      case 4 => q.substring(0, math.max(8, r.nextInt(q.length))) // truncate
      case _ => if (toks.length > 3) { // swap two adjacent tokens
        val i = 1 + r.nextInt(toks.length - 2)
        val sw = toks.updated(i, toks(i + 1)).updated(i + 1, toks(i))
        sw.mkString(" ")
      } else q + " )"
    }
  }

  /** Nullable-PREDICATE boolean grammar for the strict-JS-nulls mode:
    * NULLIF-built nulls reach comparisons, NOT, IN, LIKE and AND/OR —
    * exactly the surface [[queries]] avoids (under the engine's pinned
    * three-valued default those shapes diverge from the reference;
    * GraftSql.sqlStrictNulls implements the reference's two-valued
    * logic, binary.js:32-35, and must agree on ALL of them).
    */
  def nullBoolExpr(r: Random, t: Table, d: Int): String = {
    val cmp = Seq("=", "!=", "<>", "<", "<=", ">", ">=")
    def nullableInt = {
      val c = pick(r, t.ints)
      s"NULLIF(${c.name}, ${lit(r, c)})"
    }
    if (d <= 0) s"$nullableInt ${pick(r, cmp)} ${r.nextInt(30)}"
    else r.nextInt(8) match {
      case 0 => s"(${nullBoolExpr(r, t, d - 1)} AND ${nullBoolExpr(r, t, d - 1)})"
      case 1 => s"(${nullBoolExpr(r, t, d - 1)} OR ${nullBoolExpr(r, t, d - 1)})"
      case 2 => s"NOT (${nullBoolExpr(r, t, d - 1)})"
      case 3 if t.strs.nonEmpty =>
        val c = pick(r, t.strs).name
        val poison = t.inPool.values.flatten.toSeq ++ strLits.filter(_.nonEmpty)
        s"NULLIF($c, '${pick(r, poison)}') ${if (r.nextBoolean()) "" else "NOT "}LIKE '${pick(r, likePats)}'"
      case 4 => s"$nullableInt ${if (r.nextBoolean()) "" else "NOT "}IN (${r.nextInt(5)}, ${5 + r.nextInt(10)})"
      case 5 => s"$nullableInt ${pick(r, cmp)} $nullableInt"
      case 6 =>
        // [NOT] BETWEEN desugars to AND of two comparisons — the wrapped
        // strict form must agree with the reference's two-valued read of
        // both halves (and NOT over it takes the JS-! route)
        s"$nullableInt ${if (r.nextBoolean()) "" else "NOT "}BETWEEN " +
          s"${r.nextInt(10)} AND ${10 + r.nextInt(20)}"
      case _ => s"$nullableInt ${pick(r, cmp)} ${r.nextInt(30)}"
    }
  }

  /** Strict-nulls battery queries: the predicate both FILTERS (WHERE)
    * and PROJECTS (CASE WHEN p THEN 1 ELSE 0) so two-valued false vs
    * three-valued unknown is observable in rows AND cells.
    */
  def strictNullQueries(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    val cmps = Seq("=", "!=", "<>", "<", "<=", ">", ">=")
    (0 until n).map { _ =>
      r.nextInt(8) match {
        case 6 =>
          // nullable predicate in HAVING: a poisoned AGGREGATE value
          // under NOT/OR — two-valued false inverts to keep the group
          // where three-valued unknown stays dropped (the reference
          // filters groups with the same two-valued ops)
          val t = pick(r, tables)
          val c = pick(r, t.ints)
          val c2 = pick(r, t.ints)
          def atom() =
            s"NULLIF(MAX(${c2.name}), ${lit(r, c2)}) ${pick(r, cmps)} ${r.nextInt(30)}"
          val pred = r.nextInt(3) match {
            case 0 => s"NOT (${atom()})"
            case 1 => s"(${atom()} OR ${atom()})"
            case _ => s"(${atom()} AND NOT (${atom()}))"
          }
          s"SELECT NULLIF(MOD(${c.name}, ${2 + r.nextInt(4)}), ${r.nextInt(3)}) AS g, " +
            s"CAST(COUNT(*) AS BIGINT) AS n " +
            s"FROM ${t.name} GROUP BY g HAVING $pred ORDER BY g"
        case 7 if r.nextBoolean() =>
          // null-poisoned [NOT] IN subquery: probe value AND subquery
          // column can both be null; the reference walks sqlEquals
          // (null never matches, no match → false) where standard SQL
          // yields UNKNOWN / empties NOT IN. (The reference does NOT
          // support correlation in IN subqueries — probed: "Table a
          // not found" — so the correlated variant rides on EXISTS
          // below.)
          val (ta, tb, _) = pick(r, joins)
          val ca = pick(r, ta.ints)
          val cb = pick(r, tb.ints)
          val neg = if (r.nextBoolean()) "" else "NOT "
          s"SELECT a.${ta.key} AS k FROM ${ta.name} a " +
            s"WHERE NULLIF(a.${ca.name}, ${lit(r, ca)}) ${neg}IN " +
            s"(SELECT NULLIF(b.${cb.name}, ${lit(r, cb)}) FROM ${tb.name} b) " +
            s"ORDER BY k LIMIT ${20 + r.nextInt(60)}"
        case 7 =>
          // correlated [NOT] EXISTS with a null-poisoned predicate
          // inside the subquery — the correlated shape the reference
          // DOES support; the inner two-valued predicate decides which
          // correlated rows exist
          val (ta, tb, cond) = pick(r, joins)
          val resid = nullBoolExpr(r, tb, 1).replaceAll(
            raw"\b(" + (tb.ints ++ tb.strs).map(_.name).mkString("|") + raw")\b", "b.$1")
          val neg = if (r.nextBoolean()) "" else "NOT "
          s"SELECT a.${ta.key} AS k FROM ${ta.name} a " +
            s"WHERE ${neg}EXISTS (SELECT 1 FROM ${tb.name} b " +
            s"WHERE $cond AND ($resid)) " +
            s"ORDER BY k LIMIT ${20 + r.nextInt(60)}"
        case 4 =>
          // nullable predicates in a JOIN's residual condition: the
          // reference evaluates the ON expression with the same
          // two-valued ops (join.js residual filter)
          val (ta, tb, cond) = pick(r, joins)
          val resid = nullBoolExpr(r, tb, 1).replaceAll(
            raw"\b(" + (tb.ints ++ tb.strs).map(_.name).mkString("|") + raw")\b", "b.$1")
          s"SELECT a.${ta.key} AS k, b.${tb.key} AS k2 " +
            s"FROM ${ta.name} a JOIN ${tb.name} b ON $cond AND ($resid) " +
            s"ORDER BY k, k2 LIMIT ${20 + r.nextInt(60)}"
        case 5 =>
          // nullable predicate under an aggregate: COUNTIF counts JS
          // truthiness of the two-valued result per row (the
          // seed-88001 shape, here by construction rather than via a
          // shadowing alias)
          val t = pick(r, tables)
          val c = pick(r, t.ints).name
          s"SELECT NULLIF(MOD($c, ${2 + r.nextInt(4)}), ${r.nextInt(3)}) AS g, " +
            s"COUNTIF(${nullBoolExpr(r, t, 1)}) AS c0, " +
            s"CAST(COUNT(*) AS BIGINT) AS n " +
            s"FROM ${t.name} GROUP BY g " +
            s"${if (r.nextBoolean()) s"HAVING COUNT(*) >= ${1 + r.nextInt(2)} " else ""}" +
            s"ORDER BY g"
        case v =>
          val t = pick(r, tables)
          val p1 = nullBoolExpr(r, t, 2)
          val p2 = nullBoolExpr(r, t, 1)
          if (v % 2 == 0)
            s"SELECT ${t.key} AS k, CASE WHEN $p1 THEN 1 ELSE 0 END AS c0 " +
              s"FROM ${t.name} ORDER BY k LIMIT ${20 + r.nextInt(60)}"
          else
            s"SELECT ${t.key} AS k, CASE WHEN $p2 THEN 1 ELSE 0 END AS c0 " +
              s"FROM ${t.name} WHERE $p1 ORDER BY k LIMIT ${20 + r.nextInt(60)}"
      }
    }
  }

  /** Generate `n` queries, seeded. */
  def queries(seed: Long, n: Int): Seq[String] = {
    val r = new Random(seed)
    (0 until n).map { _ =>
      r.nextInt(14) match {
        case 0 | 1 | 2 => simple(r)
        case 3 | 4 => agg(r)
        case 5 => join(r)
        case 6 | 10 => window(r)
        case 7 => setop(r)
        case 8 => subquery(r)
        case 11 => lateral(r)
        case 12 => setopNested(r)
        case 13 => setopCross(r)
        case _ => r.nextInt(3) match {
          case 0 => cte(r)
          case 1 => distinct(r)
          case _ => commaTvf(r)
        }
      }
    }
  }
}
