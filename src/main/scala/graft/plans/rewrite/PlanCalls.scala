package graft.plans
package rewrite

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction, UnresolvedGenerator, UnresolvedStar, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DecimalType, DoubleType, IntegerType, LongType, NullType, NumericType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The dialect's function calls and operators, translated on the PARSED
  * plan: one bottom-up transform over every `UnresolvedFunction` (and
  * the generator / table-function spellings of the same calls), keyed
  * by the lower-cased single-part name, and over the nodes `||`, LIKE,
  * `/`, `%`, `x[i]` and `f() OVER (…)` parse to. Arguments are
  * translated before their call or operator and a builder's output is
  * never translated again, so a builder emits its Spark target
  * directly. The parser has already split arguments and read DISTINCT,
  * FILTER (…), `*` and literals, so builders read them off the node.
  *
  * Builders that fold their own modifiers are marked as such; any
  * other builder whose output no longer carries the call's DISTINCT /
  * FILTER / WITHIN GROUP / IGNORE NULLS leaves the call as written, so
  * Spark rejects the modifier as it would on the untranslated call.
  */
private[plans] object PlanCalls {

  /** Translate every dialect call in `plan`: subquery plans, CTE
    * bodies, WINDOW definitions, lambda bodies, LATERAL VIEW generators
    * and FROM-clause table functions included. */
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    // CTE bodies and WINDOW definitions are not children/expressions
    case w: UnresolvedWith => cteBodies(w)(apply)
    // a ranking/offset function over a named window reads the definition
    // in place, so an unordered one takes the input order; aggregate
    // windows keep the name and their whole-partition frame
    case w: WithWindowDefinition =>
      val defs = w.windowDefinitions.map { case (name, spec) =>
        name -> expression(spec).asInstanceOf[WindowSpecDefinition]
      }
      w.copy(windowDefinitions = defs, child = w.child.transformUp { case p =>
        p.transformExpressionsUp {
          case UnresolvedWindowExpression(f: UnresolvedFunction, WindowSpecReference(name))
              if inputOrdered(f) && defs.contains(name) => inputOrder(WindowExpression(f, defs(name)))
        }
      })
    case t: UnresolvedTableValuedFunction =>
      t.transformExpressionsUp(rule) match {
        case u: UnresolvedTableValuedFunction if u.name.length == 1 =>
          translate(UnresolvedFunction(u.name, u.functionArgs, isDistinct = false)) match {
            case f: UnresolvedFunction => u.copy(name = f.nameParts, functionArgs = f.arguments)
            case _ => u
          }
        case other => other
      }
    case p => p.transformExpressionsUp(rule)
  }

  /** `w` with `f` applied to each CTE body. */
  private[rewrite] def cteBodies(w: UnresolvedWith)(f: LogicalPlan => LogicalPlan): UnresolvedWith =
    w.copy(cteRelations = w.cteRelations.map { case (name, body, r) =>
      (name, f(body).asInstanceOf[SubqueryAlias], r)
    })

  /** The same translation over one expression tree. */
  def expression(e: Expression): Expression = e.transformUp(rule)

  private val rule: PartialFunction[Expression, Expression] = {
    case f: UnresolvedFunction if f.nameParts.length == 1 => translate(f)
    // a LATERAL VIEW generator: only a call result can stay a generator
    case g: UnresolvedGenerator if g.name.database.isEmpty =>
      translate(UnresolvedFunction(Seq(g.name.funcName), g.children, isDistinct = false)) match {
        case f: UnresolvedFunction => UnresolvedGenerator(FunctionIdentifier(f.nameParts.head), f.arguments)
        case _ => g
      }
    // `a || b` is String(a) + String(b) (binary.js:27-30): 'x' || 2.0 is 'x2'
    case c: Concat => Concat(c.children.map(js))
    // the dialect's `||` binds looser than + and -, which Spark parses at
    // its level: `a || b + c` arrives as (a || b) + c. A `||` whose text
    // starts where the sum's does had no parentheses, and gives its last
    // operand to the sum.
    case s @ LooseConcat(init, last) => Concat(init :+ js(s.withNewChildren(Seq(last, s.children(1)))))
    // LIKE is case-insensitive and coerces both operands with String(v)
    // (binary.js:57-65): 2.0 LIKE '2' is TRUE
    case l: Like => ILike(js(l.left), js(l.right), l.escapeChar)
    case l: ILike => ILike(js(l.left), js(l.right), l.escapeChar)
    case m: MultiLikeBase => likeQuantified(m)
    // zero divisors never error (JS 5/0 = Infinity, 5%0 = NaN, both
    // serialized as null); Spark's ANSI mode throws even for doubles
    case d: Divide => d.copy(right = nonZero(d.right))
    case r: Remainder => r.copy(right = nonZero(r.right))
    // `x[i]` is JS element access: 0-based, NULL out of range or on a
    // non-array, where GetArrayItem errors; string keys stay map/struct
    // access, and a string literal takes no subscript in the dialect
    case UnresolvedExtractValue(base, key) if Str.unapply(key).isEmpty && Str.unapply(base).isEmpty =>
      fn("graft_get", base, key)
    // ranking/offset windows without ORDER BY number rows in input order
    // in the reference, and Spark requires one: the input order made
    // explicit (aggregate windows keep their whole-partition frame)
    case w @ WindowExpression(f: UnresolvedFunction, _) if inputOrdered(f) => inputOrder(w)
  }

  private def inputOrder(w: WindowExpression): WindowExpression = w.windowSpec match {
    case s: WindowSpecDefinition if s.orderSpec.isEmpty =>
      w.copy(windowSpec = s.copy(orderSpec = Seq(SortOrder(fn("monotonically_increasing_id"), Ascending))))
    case _ => w
  }

  /** A sum or difference over a `||` on its left that starts where it
    * starts, as (the `||`'s other operands, its last operand unwrapped). */
  private[rewrite] object LooseConcat {
    def unapply(s: Expression): Option[(Seq[Expression], Expression)] = s match {
      case _: Add | _: Subtract => s.children.head match {
        case c @ Concat(init :+ last) if c.origin.startIndex == s.origin.startIndex =>
          Some((init, JsWrapped.unapply(last).getOrElse(last)))
        case _ => None
      }
      case _ => None
    }
  }
  private object JsWrapped {
    def unapply(e: Expression): Option[Expression] = e match {
      case f: UnresolvedFunction if f.nameParts == Seq("graft_js_str") => f.arguments.headOption
      case _ => None
    }
  }

  // LIKE/ILIKE ANY|ALL over literal patterns parse to one node; the
  // dialect form is graft_js_str(x) ILIKE ANY (…), which Spark reads as
  // the lower-cased operand against lower-cased patterns
  private def likeQuantified(m: MultiLikeBase): Expression = {
    def x(c: Expression) = Lower(js(c match { case Lower(parsedIlike) => parsedIlike; case c => c }))
    def lower(ps: Seq[UTF8String]) = ps.map(p => if (p == null) p else p.toLowerCase)
    m match {
      case LikeAny(c, ps) => LikeAny(x(c), lower(ps))
      case NotLikeAny(c, ps) => NotLikeAny(x(c), lower(ps))
      case LikeAll(c, ps) => LikeAll(x(c), lower(ps))
      case NotLikeAll(c, ps) => NotLikeAll(x(c), lower(ps))
    }
  }

  // a string literal divisor meets a DOUBLE zero, as the division reads
  // it: against an integer zero '2.5' would have to cast to BIGINT
  private def nonZero(d: Expression): Expression =
    fn("nullif", d, d match { case Str(_) => lit(0.0); case _ => lit(0) })

  private val inputOrderedNames = Set("row_number", "rank", "dense_rank", "ntile",
    "lag", "lead", "percent_rank", "cume_dist")
  private def inputOrdered(f: UnresolvedFunction): Boolean =
    inputOrderedNames(f.nameParts.last.toLowerCase(java.util.Locale.ROOT))

  private def translate(f: UnresolvedFunction): Expression = {
    val key = f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    calls.get(key) match {
      case None => f
      case Some(build) =>
        val out = CurrentOrigin.withOrigin(f.origin)(build(f))
        val modified = f.isDistinct || f.filter.isDefined ||
          f.orderingWithinGroup.nonEmpty || f.ignoreNulls
        val carries = out match {
          case g: UnresolvedFunction => g.isDistinct == f.isDistinct && g.filter == f.filter &&
            g.orderingWithinGroup == f.orderingWithinGroup && g.ignoreNulls == f.ignoreNulls
          case _ => false
        }
        if (!modified || carries || foldsModifiers(key)) out else f
    }
  }

  // ---- expression vocabulary ------------------------------------------

  private[rewrite] def fn(name: String, args: Expression*): UnresolvedFunction =
    UnresolvedFunction(Seq(name), args, isDistinct = false)
  private def js(e: Expression): Expression = fn("graft_js_str", e)
  private[rewrite] def lit(v: Any): Literal = Literal(v)
  private[rewrite] def cast(e: Expression, dt: DataType): Cast = {
    val c = Cast(e, dt)
    c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    c
  }
  private def raise(msg: String): Expression = fn("raise_error", lit(msg))
  private def caseWhen(branches: (Expression, Expression)*)(otherwise: Expression): Expression =
    CaseWhen(branches, Some(otherwise))
  private def rename(to: String): UnresolvedFunction => Expression = _.copy(nameParts = Seq(to))
  /** `to(args)`, the argument positions `pick` names wrapped in
    * graft_js_str (the reference's JS String(v) coercion). */
  private def wrap(to: String, pick: Int => Seq[Int]): UnresolvedFunction => Expression = { f =>
    val idx = pick(f.arguments.length).toSet
    f.copy(nameParts = Seq(to), arguments = f.arguments.zipWithIndex.map {
      case (a, i) => if (idx(i)) js(a) else a
    })
  }
  private def when(n: Int, picks: Int*)(len: Int): Seq[Int] = if (len == n) picks else Nil

  private object Str {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, _: StringType) => Some(v.toString)
      case _ => None
    }
  }
  /** An integer literal as the dialect writes one: `5`, `-5`, `+5`. */
  private object IntLit {
    def unapply(e: Expression): Option[(Long, String)] = e match {
      case Literal(v: Int, IntegerType) => Some((v.toLong, v.toString))
      case Literal(v: Long, LongType) => Some((v, v.toString))
      case UnaryPositive(IntLit(v, _)) => Some((v, s"+$v"))
      case _ => None
    }
  }
  private def below(e: Expression, min: Long): Option[String] = e match {
    case IntLit(v, text) if v < min => Some(text)
    case _ => None
  }

  // Statically visible invalid arguments throw at EXECUTION like the
  // reference (regexp.js:29-47,115-130 position/occurrence guards;
  // strings.js:118-137 SUBSTRING/LEFT/RIGHT): a LITERAL that violates
  // the guard becomes raise_error, so both engines reject the query at
  // run time and both accept it over an empty table. Non-literal
  // arguments stay lenient: per-row validation of data columns is
  // exactly what a 100 TB scan must not do.
  private def bad(name: String, what: String, got: String): Expression =
    raise(s"${name.toUpperCase(java.util.Locale.ROOT)}: $what, got $got")

  // TYPE-strict arguments (strings.js:38-56 OCTET_LENGTH, evaluate.js
  // JSON_VALUE family): the reference throws AT EXECUTION when the
  // input's runtime class is wrong. The class is the column's static
  // type here, so the guard is typeof()-keyed and typeof is foldable:
  // allowed types fold the guard away, banned ones fold to a per-row
  // raise_error (errors exactly when a row flows, like the reference's
  // row-1 throw). The null check nests inside the raise branch: the
  // reference null-checks the VALUE before its type throw.
  private def strictRaise(x: Expression, msg: String): Expression =
    caseWhen(IsNull(x) -> Literal(null, NullType))(cast(raise(msg), StringType))

  private def jsonStrictInput(name: String, x: Expression): Expression = {
    val t = fn("typeof", x)
    val numeric = Or(
      In(t, Seq("tinyint", "smallint", "int", "bigint", "float", "double", "boolean").map(lit)),
      Like(t, lit("decimal%"), '\\'))
    caseWhen(numeric -> strictRaise(x, s"${name.toUpperCase(java.util.Locale.ROOT)}" +
      "(expression, path): first argument must be JSON string or object"))(fn("graft_json_input", x))
  }

  private def octetStrict(x: Expression): Expression =
    caseWhen(Not(In(fn("typeof", x), Seq(lit("string"), lit("void")))) -> strictRaise(x,
      "OCTET_LENGTH(string): expected string. Use CAST to convert to a string first."))(x)

  // ROUND is FLOAT-SCALED in the reference: Math.round(x·10^d)/10^d
  // (src/expression/math.js:56-60): half rounds toward +∞
  // (round(-588.45, 1) = -588.4) and the scaled double's representation
  // decides edge cases (round(2.675, 2) = 2.67, not Spark's 2.68). ECMA
  // Math.round is NOT floor(y + 0.5): the addition can pick up IEEE
  // error exactly at the half (Math.round(0.49999999999999994) = 0), so
  // the half-up step compares the exact fraction y - floor(y). |y| ≥
  // 2^52 is already integral (and floor→LONG would overflow beyond
  // 2^63): those pass through, as do NaN and ±Infinity. DOUBLE in every
  // branch; a NULL decimals argument is Number(null) = 0, hence coalesce.
  private def jsRound(y: Expression): Expression = {
    val fl = cast(fn("floor", y), DoubleType)
    caseWhen(
      Not(LessThan(fn("abs", y), lit(4.503599627370496e15))) -> cast(y, DoubleType),
      GreaterThanOrEqual(Subtract(cast(y, DoubleType), fl), lit(0.5)) -> Add(fl, lit(1.0)))(fl)
  }

  // Null-KEEPING array aggregation: ARRAY_AGG / LIST / JSON_ARRAYAGG keep
  // null inputs in place (JS array push — execute.aggregate "should
  // include nulls"); Spark's array_agg drops them. Values ride inside a
  // never-null struct and unwrap after; DISTINCT and FILTER fold into
  // the inner aggregate (transform/to_json take neither).
  private def nullKeepAgg(f: UnresolvedFunction): Option[Expression] =
    if (f.arguments.isEmpty || f.orderingWithinGroup.nonEmpty || f.ignoreNulls) None
    else {
      // several values ride as one row value, as `(a, b)` parses
      val v = if (f.arguments.length == 1) f.arguments.head else CreateStruct(f.arguments)
      val agg = UnresolvedFunction(Seq("array_agg"), Seq(CreateStruct.create(Seq(Alias(v, "__v")()))),
        f.isDistinct, f.filter)
      val s = UnresolvedNamedLambdaVariable(Seq("s"))
      Some(fn("transform", agg,
        LambdaFunction(UnresolvedNamedLambdaVariable(Seq("s", "__v")), Seq(s))))
    }
  private val foldsModifiers = Set("array_agg", "list", "json_group_array", "json_arrayagg")

  // JSON paths: the reference accepts 'a' / 'a.b' / '[0]', Spark's
  // get_json_object needs the '$' anchor (an unanchored path is silently
  // NULL)
  private def jsonPath(p: Expression): Expression = p match {
    case Str(body) if !body.startsWith("$") =>
      lit(if (body.startsWith("[")) s"$$$body" else s"$$.$body")
    case other => other
  }

  /** A literal's dialect spelling, for the JSON_EACH scalar check. */
  private def literalText(e: Expression): Option[String] = e match {
    case Str(v) => Some(s"'$v'")
    case Literal(v, _: NumericType | BooleanType) if v != null => Some(v.toString)
    case UnaryPositive(Literal(v, _: NumericType)) if v != null => Some(s"+$v")
    case _ => None
  }

  private def jsonEach(f: UnresolvedFunction): Expression = {
    // a LITERAL scalar argument ('42', 'true') is statically visible and
    // the reference throws at execution (JSON_EACH(value): argument must
    // be a JSON object or array); data columns stay lenient
    val scalarErr = f.arguments match {
      case Seq(a) => literalText(a).flatMap(RewriteSupport.jsonEachScalarErr)
      case _ => None
    }
    scalarErr match {
      case Some(msg) =>
        fn("explode", fn("map_from_entries", fn("array",
          CreateStruct.create(Seq(fn("graft_js_cast_str", raise(msg)), lit("x"))))))
      case None =>
        // objects explode as (field, value); arrays as (index, element),
        // keys as strings (one Spark column), which the differential
        // jsonBridge reads as '0' ≡ 0 (execute.json.test.js:636)
        val x = fn("graft_json_input", f.arguments: _*)
        val (e, i) = (UnresolvedNamedLambdaVariable(Seq("e")), UnresolvedNamedLambdaVariable(Seq("i")))
        fn("explode", fn("coalesce", fn("from_json", x, lit("map<string,string>")),
          fn("map_from_entries", fn("transform", fn("from_json", x, lit("array<string>")),
            LambdaFunction(CreateStruct.create(Seq(fn("graft_js_cast_str", i), e)), Seq(e, i))))))
    }
  }

  // JSON_OBJECT(k1, v1, ...): null-valued fields stay ({"k":null}) as
  // with JSON.stringify. Literal keys (numeric ones stringify like JS
  // object keys) build a named_struct; column keys need map(), since
  // named_struct takes foldable names only.
  private def jsonObject(f: UnresolvedFunction): Expression = {
    val keep = fn("map", lit("ignoreNullFields"), lit("false"))
    val pairs = f.arguments.grouped(2).toSeq
    def litKey(k: Expression): Option[String] = k match {
      case Str(v) if !v.contains("'") => Some(v)
      case Literal(v, IntegerType | LongType | ShortType | ByteType | _: DecimalType)
          if v != null && v.toString.matches("[0-9.]+") => Some(v.toString)
      case _ => None
    }
    if (pairs.forall(p => litKey(p.head).isDefined))
      fn("to_json", fn("named_struct", pairs.flatMap(p => lit(litKey(p.head).get) +: p.tail): _*), keep)
    else fn("to_json", fn("map", pairs.flatMap(p => Seq(js(p.head), p.last)): _*), keep)
  }

  // STRING_SPLIT's delimiter is a LITERAL in the reference and DuckDB
  // (indexOf, src/expression/strings.js:165); Spark's split() takes a
  // REGEX. Literal delimiters quote statically, computed ones through
  // \Q…\E. An EMPTY delimiter returns the whole string as one element
  // (strings.js:168) where Spark's split('') explodes per character.
  private def stringSplit(f: UnresolvedFunction): Expression = f.arguments match {
    case Seq(s, Str("")) => fn("array", js(s))
    case Seq(s, Str(d)) => fn("split", js(s), lit(java.util.regex.Pattern.quote(d)))
    case Seq(s, d) =>
      caseWhen(EqualTo(d, lit("")) -> fn("array", js(s)))(
        fn("split", js(s), fn("concat", lit("\\Q"), d, lit("\\E"))))
    case args => fn("split", args: _*)
  }

  // LEAD/LAG offsets run through JS Number(v): a QUOTED numeric offset
  // works like the bare number ('' is 0); a non-numeric one is NaN, which
  // indexes outside the partition, so every row reads the default
  // (node-probed). Spark needs an integer literal: integral text
  // unquotes, NaN text becomes a 1e8 offset (outside any real partition,
  // far from INT_MAX so rowIndex+offset cannot overflow). Fractional
  // offsets fail in both engines and are left alone.
  private def leadLag(f: UnresolvedFunction): Expression = f.arguments match {
    case Seq(x, Str(body), rest @ _*) if !body.contains("'") =>
      val b = body.trim
      val off: Option[Long] =
        if (b.isEmpty) Some(0L)
        else if (b.matches(raw"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")) {
          val v = b.toDouble
          if (v == v.toLong.toDouble) Some(v.toLong) else None
        } else Some(100000000L)
      off.fold(f: Expression) { o =>
        val l = if (o.isValidInt) lit(o.toInt) else lit(o)
        f.copy(arguments = x +: l +: rest)
      }
    case _ => f
  }

  // REGEXP_EXTRACT / REGEXP_SUBSTR are ONE function in the reference
  // (src/expression/regexp.js:18): whole match, NULL on a miss, optional
  // 1-based search POSITION and occurrence. Spark's regexp_extract reads
  // its 3rd argument as a capture GROUP and returns '' on a miss, so the
  // 2-argument form maps to regexp_substr and the positional forms to
  // regexp_extract_all over the position suffix with try_element_at.
  private def regexpExtract(name: String)(f: UnresolvedFunction): Expression = {
    val a = f.arguments
    def suffix = fn("substring", js(a(0)), cast(a(2), IntegerType))
    if (a.length >= 3 && below(a(2), 1).isDefined)
      bad(name, "position must be a positive integer", below(a(2), 1).get)
    else if (a.length == 4 && below(a(3), 1).isDefined)
      bad(name, "occurrence must be a positive integer", below(a(3), 1).get)
    else a.length match {
      case 2 => fn("regexp_substr", a: _*)
      case 3 => fn("try_element_at", fn("regexp_extract_all", suffix, a(1), lit(0)), lit(1))
      case 4 => fn("try_element_at", fn("regexp_extract_all", suffix, a(1), lit(0)),
        cast(a(3), IntegerType))
      case _ => f.copy(nameParts = Seq("regexp_extract"))
    }
  }

  // REGEXP_REPLACE: both engines replace ALL by default ('g' is Spark's
  // default and drops) and share the prefix-keeping 4-argument position
  // form; the reference's 5-argument form replaces only the
  // OCCURRENCE-th match (regexp.js:126-166), which a helper UDF carries.
  private def regexpReplace(f: UnresolvedFunction): Expression = {
    val a = f.arguments match {
      case init :+ Str(g) if g.equalsIgnoreCase("g") => init
      case all => all
    }
    if (a.length >= 4 && below(a(3), 1).isDefined)
      bad("regexp_replace", "position must be a positive integer", below(a(3), 1).get)
    else if (a.length == 5 && below(a(4), 0).isDefined)
      bad("regexp_replace", "occurrence must be a non-negative integer", below(a(4), 0).get)
    else if (a.length == 5)
      fn("graft_regexp_replace_occ", a(0), a(1), a(2), cast(a(3), IntegerType), cast(a(4), IntegerType))
    else f.copy(arguments = a)
  }

  private def substring(f: UnresolvedFunction): Expression = f.arguments match {
    case a if a.length >= 2 && below(a(1), 1).isDefined =>
      bad(f.nameParts.head, "start position must be a positive integer", below(a(1), 1).get)
    case a if a.length == 3 && below(a(2), 0).isDefined =>
      bad(f.nameParts.head, "length must be a non-negative integer", below(a(2), 0).get)
    case a => wrap(f.nameParts.head.toLowerCase(java.util.Locale.ROOT),
      n => if (n >= 2) Seq(0) else Nil)(f)
  }

  private def leftRight(name: String)(f: UnresolvedFunction): Expression = f.arguments match {
    case Seq(_, n) if below(n, 0).isDefined =>
      bad(name, "length must be a non-negative integer", below(n, 0).get)
    case _ => wrap(name, when(2, 0))(f)
  }

  private def dow(args: Expression*): Expression = Subtract(fn("dayofweek", args: _*), lit(1))

  /** lower-cased dialect name → builder, over the call as parsed. */
  private val calls = Map[String, UnresolvedFunction => Expression](
    // MOD(a, 0) is NaN in the reference (null-serialized); try_mod is
    // Spark's exact lenient form
    "mod" -> rename("try_mod"),
    // JSON_EACH handles objects (key = field name) AND arrays (key =
    // index): the object parse wins when non-null
    "json_each" -> jsonEach,
    // struct_extract(st, 'k') → st.k (literal keys, the dialect form)
    "struct_extract" -> (f => f.arguments match {
      case Seq(a: UnresolvedAttribute, Str(k)) => UnresolvedAttribute(a.nameParts :+ k)
      case Seq(st, Str(k)) => UnresolvedExtractValue(st, lit(k))
      case _ => rename("struct_extract_unsupported")(f)
    }),
    "array_agg" -> (f => if (f.arguments.length == 1) nullKeepAgg(f).getOrElse(f) else f),
    "list" -> (f => if (f.arguments.length == 1) nullKeepAgg(f).getOrElse(f)
      else rename("collect_list")(f)),
    "json_group_array" -> (f => nullKeepAgg(f).map(fn("to_json", _)).getOrElse(f)),
    "json_arrayagg" -> (f => nullKeepAgg(f).map(fn("to_json", _)).getOrElse(f)),
    "json_group_object" -> (f => f.arguments match {
      case Seq(k, v) => fn("to_json", fn("map_from_arrays", fn("collect_list", k), fn("collect_list", v)))
      case _ => rename("json_group_object_unsupported")(f)
    }),
    // CONCAT / STRING_AGG stringify with JS String(v) (strings.js CONCAT,
    // evaluate.js:371): doubles render "2" not "2.0", and STRING_AGG takes
    // numbers Spark's string-typed listagg rejects
    "concat" -> wrap("concat", n => 0 until n),
    "string_agg" -> wrap("string_agg", when(2, 0)),
    // JSON inspection family (src/expression/evaluate.js:502-700).
    // JSON_VALID is FALSE for any non-string input and strict about
    // trailing garbage, so it dispatches on the runtime type instead of
    // taking the graft_json_input coercion the rest of the family uses
    "json_valid" -> rename("graft_json_valid_any"),
    // JSON_TYPE: the type of the PARSED value; invalid JSON errors in both
    // engines (hence parse_json, not try_parse_json)
    "json_type" -> (f => f.arguments.headOption.fold(f: Expression) { x =>
      val a = fn("graft_json_input", x)
      val sv = fn("schema_of_variant", fn("parse_json", a))
      caseWhen(
        IsNull(a) -> Literal(null, NullType),
        Like(sv, lit("OBJECT%"), '\\') -> lit("object"),
        Like(sv, lit("ARRAY%"), '\\') -> lit("array"),
        EqualTo(sv, lit("STRING")) -> lit("string"),
        EqualTo(sv, lit("BOOLEAN")) -> lit("boolean"),
        EqualTo(sv, lit("VOID")) -> lit("null"))(lit("number"))
    }),
    // JSON_KEYS: object keys in document order; null on non-objects
    "json_keys" -> (f => fn("json_object_keys", fn("graft_json_input", f.arguments: _*))),
    "json_array_length" -> (f => fn("json_array_length", fn("graft_json_input", f.arguments: _*))),
    "json_object" -> jsonObject,
    // a statically numeric/boolean first argument raises at execution
    // like the reference's "must be JSON string or object" row-1 throw
    "json_extract" -> jsonExtract("json_extract"),
    "json_value" -> jsonExtract("json_value"),
    "json_query" -> jsonExtract("json_query"),
    "json_extract_string" -> jsonExtract("json_extract_string"),
    // OCTET_LENGTH (and STRLEN) are string-STRICT in the reference
    // (strings.js:49-56: number/date/object inputs throw)
    "octet_length" -> (f => f.arguments match {
      case Seq(x) => f.copy(arguments = Seq(octetStrict(x)))
      case _ => f
    }),
    "strlen" -> (f => f.arguments match {
      case Seq(x) => f.copy(nameParts = Seq("octet_length"), arguments = Seq(octetStrict(x)))
      case _ => rename("octet_length")(f)
    }),
    "regexp_split_to_table" -> (f => fn("explode", wrap("split", when(2, 0))(f))),
    "regexp_split_to_array" -> rename("split"),
    // comma-form POSITION(string, search) is str.indexOf(search)+1
    // (strings.js:172-176); Spark's position(substr, str) takes them
    // REVERSED, instr in this order. POSITION(x IN y) parses to its own
    // node and keeps Spark's (agreeing) semantics.
    "position" -> (f => if (f.arguments.length == 2) wrap("instr", _ => Seq(0, 1))(f) else f),
    // ARRAY_LENGTH(arr[, dim]): graft_size covers the 1-dimensional form,
    // graft_size_dim the reference's dimensional walk (evaluate.js:577-592)
    "array_length" -> (f => f.arguments match {
      case Seq(a) => fn("graft_size", a)
      case Seq(a, Literal(1, IntegerType)) => fn("graft_size", a)
      case Seq(a, d) => fn("graft_size_dim", a, d)
      case _ => rename("array_length_bad_arity")(f)
    }),
    // LENGTH: characters for a string, element count for an ARRAY,
    // dispatched at runtime (strings.js:38-45)
    "length" -> (f => if (f.arguments.length == 1) rename("graft_length")(f) else f),
    // ARRAY_POSITION is NULL when absent and for non-array input
    // (evaluate.js:597-601)
    "array_position" -> rename("graft_array_position"),
    "list_position" -> rename("graft_array_position"),
    "round" -> (f => f.arguments match {
      case Seq(x, d) =>
        val mult = fn("power", lit(10), fn("coalesce", d, lit(0)))
        Divide(jsRound(Multiply(x, mult)), mult)
      case Seq(x) => jsRound(x)
      case _ => f
    }),
    // PERCENTILE_CONT(fraction, expr) in the reference's order, exact
    // linear interpolation; APPROX_QUANTILE is computed EXACTLY there too
    // (evaluate.js:314-350)
    "percentile_cont" -> (f => f.arguments match {
      case Seq(p, x) => f.copy(nameParts = Seq("percentile"), arguments = Seq(x, p))
      case _ => f
    }),
    "approx_quantile" -> (f => if (f.arguments.length == 2) rename("percentile")(f) else f),
    // SUM/AVG fold JS Number(value) and keep only FINITE results
    // (src/execute/accumulator.js:60-67): graft_js_num coerces string and
    // boolean children and is removed on numeric ones at optimization.
    // SUM(*) stays invalid, as the reference's validator has it.
    "sum" -> jsNum,
    "avg" -> jsNum,
    // list_slice(l, a, b) [1-based inclusive ends] → slice(l, a, b - a + 1)
    "list_slice" -> (f => f.arguments match {
      case Seq(l, a, b) => fn("slice", l, a, Add(Subtract(b, a), lit(1)))
      case _ => rename("list_slice_unsupported")(f)
    }),
    // DAYOFWEEK / WEEKDAY / DATE_PART('dow') / EXTRACT(DOW FROM …) count
    // Sunday=0 in the reference (src/expression/date.js:96 getUTCDay);
    // Spark's dayofweek is Sunday=1
    "dayofweek" -> (f => dow(f.arguments: _*)),
    "weekday" -> (f => dow(f.arguments: _*)),
    "date_part" -> (f => f.arguments match {
      case Seq(Str(p), x) if p.equalsIgnoreCase("dow") => dow(x)
      case _ => f
    }),
    // Spark has no EPOCH field, and its SECOND keeps the fraction where
    // the reference floors to whole seconds (date.js getUTCSeconds)
    "extract" -> (f => f.arguments match {
      case Seq(Str(p), x) if p.equalsIgnoreCase("dow") => dow(x)
      case Seq(Str(p), x) if p.equalsIgnoreCase("epoch") => fn("graft_epoch", x)
      case Seq(Str(p), x) if p.equalsIgnoreCase("second") || p.equalsIgnoreCase("seconds") =>
        fn("floor", fn("extract", lit("second"), x))
      case _ => f
    }),
    "left" -> leftRight("left"),
    "right" -> leftRight("right"),
    "regexp_extract" -> regexpExtract("regexp_extract"),
    "regexp_substr" -> regexpExtract("regexp_substr"),
    "regexp_replace" -> regexpReplace,
    "regexp_matches" -> (f => f.arguments match {
      case Seq(x, p) => RLike(x, p)
      case _ => f
    }),
    "string_split" -> stringSplit,
    "str_split" -> stringSplit,
    // SPLIT_PART with an empty delimiter: one part, so index 1 (or -1)
    // answers the whole string and any other '' (strings.js:146-162)
    "split_part" -> (f => f.arguments match {
      case Seq(s, Str(""), n) =>
        caseWhen(In(cast(n, IntegerType), Seq(lit(1), lit(-1))) -> js(s))(lit(""))
      case _ => wrap("split_part", when(3, 0, 1))(f)
    }),
    // TRIM is JS String.prototype.trim (strings.js:103): the Unicode
    // whitespace set, where Spark strips ' ' only. TRIM(… FROM …) parses
    // to its own node and keeps Spark's semantics.
    "trim" -> (f => f.arguments match {
      case Seq(x) => fn("graft_js_trim", js(x))
      case _ => f
    }),
    // GREATEST/LEAST reduce over a single argument in the reference
    // (evaluate.js:434); ATAN(y, x) is the two-argument arctangent
    "greatest" -> (f => f.arguments match { case Seq(x) => x; case _ => f }),
    "least" -> (f => f.arguments match { case Seq(x) => x; case _ => f }),
    "atan" -> (f => if (f.arguments.length == 2) rename("atan2")(f) else f),
    // every string function coerces its text arguments with JS String(v)
    // (strings.js:66, :112 REPLACE, :158-176 SPLIT_PART/INSTR): UPPER(2.0*3)
    // is '6' where Spark renders '6.0'. LENGTH and OCTET_LENGTH are strict
    // in the reference and are not wrapped.
    "upper" -> wrap("upper", when(1, 0)),
    "lower" -> wrap("lower", when(1, 0)),
    "substring" -> substring,
    "substr" -> substring,
    "replace" -> wrap("replace", when(3, 0, 1, 2)),
    "split" -> wrap("split", when(2, 0)),
    "instr" -> wrap("instr", when(2, 0, 1)),
    // reference STRPOS(string, search) = str.indexOf(search)+1
    // (strings.js:172); instr has the same argument order
    "strpos" -> wrap("instr", when(2, 0, 1)),
    // UNNEST(NULL) / EXPLODE(NULL) produce ZERO rows in the reference;
    // Spark's explode(NULL) is an untyped analysis error
    "unnest" -> unnest,
    "explode" -> unnest,
    "lead" -> leadLag,
    "lag" -> leadLag,
    "list_value" -> rename("array"),
    // the array family dispatches at RUNTIME in the reference (NULL for
    // any non-array input, evaluate.js:574-635) where Spark's builtins
    // reject at analysis; the graft_array_* / graft_size expressions match
    "list_contains" -> rename("graft_array_contains"),
    "array_contains" -> rename("graft_array_contains"),
    "list_distinct" -> rename("array_distinct"),
    "list_sort" -> rename("graft_array_sort"),
    "array_sort" -> rename("graft_array_sort"),
    "list_append" -> rename("graft_array_append"),
    "array_append" -> rename("graft_array_append"),
    // ARRAY_CONCAT is NULL for any non-array side (evaluate.js:616)
    "list_concat" -> rename("graft_array_concat"),
    "array_concat" -> rename("graft_array_concat"),
    "list_transform" -> rename("transform"),
    "list_filter" -> rename("filter"),
    "list_length" -> rename("graft_size"),
    "len" -> rename("graft_size"),
    "size" -> rename("graft_size"),
    "cardinality" -> rename("graft_size"),
    "countif" -> rename("count_if"),
    "charindex" -> rename("position"),
    "to_timestamp" -> rename("timestamp_seconds"),
    "strftime" -> rename("graft_strftime"),
    "array_to_string" -> rename("array_join"),
    "list_min" -> rename("array_min"),
    "list_max" -> rename("array_max"),
    "ord" -> rename("ascii"),
    "epoch" -> rename("graft_epoch"))

  private def jsonExtract(name: String)(f: UnresolvedFunction): Expression = f.arguments match {
    case Seq(x, p) => fn("get_json_object", jsonStrictInput(name, x), jsonPath(p))
    case _ => rename(s"${name}_unsupported")(f)
  }

  private def jsNum(f: UnresolvedFunction): Expression = f.arguments match {
    // left as written, Spark would expand the star into a one-column input
    case Seq(_: UnresolvedStar) => rename(s"${f.nameParts.last.toLowerCase}_unsupported")(f)
    case Seq(x) => f.copy(arguments = Seq(fn("graft_js_num", x)))
    case _ => f
  }

  private def unnest(f: UnresolvedFunction): Expression = f.arguments match {
    case Seq(Literal(null, NullType)) => f.copy(nameParts = Seq("explode"), arguments = Seq(fn("array")))
    case _ => rename("explode")(f)
  }
}
