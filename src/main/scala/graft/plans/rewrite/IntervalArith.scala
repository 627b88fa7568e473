package graft.plans
package rewrite

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith, WithWindowDefinition}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `expr ± INTERVAL v UNIT` as the reference evaluates it, on the PARSED
  * plan: a binary operator whose left operand is the whole subtree
  * (reference: src/expression/evaluate.js:182). The text pass
  * [[IntervalPasses]] leaves each numeric interval literal as a marker
  * call `M`; here
  *  - `p + M`, `p - M` and `M + p` over a DAY…YEAR marker become
  *    `graft_js_interval`, the exact toDate → applyIntervalToDate →
  *    format chain ([[graft.functions.time.JsInterval]]; reference:
  *    src/expression/date.js:13-41,133-143). It differs from Spark's
  *    interval arithmetic in four ways: MONTH/YEAR roll month-end over
  *    (Mar 31 + 1 MONTH = May 1, where add_months clamps to Apr 30); a
  *    fractional value truncates the SUMMED component toward zero; a
  *    date-only string keeps only its date ('1995-01-04' - INTERVAL 1
  *    MINUTE = '1995-01-03'); and numbers are not dates (NULL);
  *  - every step of a chain (`d + INTERVAL 1 DAY - INTERVAL 2 HOUR`)
  *    takes the kind of the chain's innermost operand, so a date-only
  *    string stays date-only at every step, as the reference reformats
  *    between steps;
  *  - a typed constant (`now()`, CURRENT_TIMESTAMP, CURRENT_DATE, a DATE
  *    literal, `try_cast('…' AS TIMESTAMP|DATE)`) stays on native
  *    interval arithmetic when every step of its chain is an integral
  *    DAY, HOUR, MINUTE or SECOND. There native arithmetic is
  *    bit-identical to the JS one at microseconds (graft_js_interval
  *    rounds through a string with milliseconds, as V8 keeps them), and
  *    the bound of `WHERE ts > now() - INTERVAL 7 DAY` folds to a
  *    literal that reaches the scan as a pushed filter;
  *  - any other marker (a standalone literal, WEEK, the left of `-`)
  *    becomes the native literal with the value truncated toward zero,
  *    as the reference's Date setters truncate; Spark alone would
  *    reject the fraction or honor it for SECOND;
  *  - the left operand of every remaining `± native interval` is
  *    coerced to a timestamp the reference's way ([[coerce]]).
  */
private[plans] object IntervalArith {

  import PlanCalls.{cast, fn, lit}

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    // CTE bodies and WINDOW definitions are not children/expressions
    case w: UnresolvedWith => PlanCalls.cteBodies(w)(apply)
    case w: WithWindowDefinition => w.copy(windowDefinitions = w.windowDefinitions.map {
      case (name, spec) => name -> expression(spec).asInstanceOf[WindowSpecDefinition]
    })
    case p => p.mapExpressions(expression)
  }

  /** The same translation over one expression tree. */
  def expression(e: Expression): Expression = e match {
    // the dialect's `||` binds looser than + and -: `a || d + INTERVAL
    // 1 DAY` adds the interval to d
    case s @ PlanCalls.LooseConcat(init, last) if interval(s.children(1)) =>
      Concat(init.map(expression) :+ expression(s.withNewChildren(Seq(last, s.children(1)))))
    case Step(_, _) => chain(e)
    case s @ (_: Add | _: Subtract) if interval(s.children(1)) =>
      // an inner native step already coerced the chain's head
      val l = expression(s.children.head)
      val nativeArith = l match {
        case a @ (_: Add | _: Subtract) => interval(a.children(1))
        case _ => false
      }
      s.withNewChildren(Seq(if (interval(l) || nativeArith) l else coerce(l), expression(s.children(1))))
    case Marker(v, unit) => native(v, unit)
    case other => other.mapChildren(expression)
  }

  private val jsUnits = Set("DAY", "HOUR", "MINUTE", "SECOND", "MONTH", "YEAR")
  private val subMonth = Set("DAY", "HOUR", "MINUTE", "SECOND")

  /** A marker as (value, unit). */
  private object Marker {
    def unapply(e: Expression): Option[(Double, String)] = e match {
      case f: UnresolvedFunction if f.nameParts == Seq(IntervalPasses.marker) => f.arguments match {
        case Seq(Literal(v: UTF8String, _: StringType), Literal(u: UTF8String, _: StringType)) =>
          Some((v.toString.toDouble, u.toString))
        case _ => None
      }
      case _ => None
    }
  }

  /** A marker or a literal Spark parsed as an interval. */
  private def interval(e: Expression): Boolean = e match {
    case Marker(_, _) => true
    case Literal(_, _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType) => true
    case _ => false
  }

  /** One step `p ± M` over a DAY…YEAR marker, as (p, (value, unit, op)). */
  private object Step {
    def unapply(e: Expression): Option[(Expression, (Double, String, String))] = e match {
      case a: Add => step(a.left, a.right, "+").orElse(step(a.right, a.left, "+"))
      case s: Subtract => step(s.left, s.right, "-")
      case _ => None
    }
    private def step(p: Expression, m: Expression, op: String) = m match {
      case Marker(v, u) if jsUnits(u) && !interval(p) => Some((p, (v, u, op)))
      case _ => None
    }
  }

  /** A chain of steps from its outermost one: the JS emulation over the
    * innermost operand, or native arithmetic for a typed constant. */
  private def chain(top: Expression): Expression = {
    @scala.annotation.tailrec
    def unwind(e: Expression, steps: List[(Double, String, String)]): (Expression, List[(Double, String, String)]) =
      e match {
        case Step(p, step) => unwind(p, step :: steps)
        case p => (p, steps)
      }
    val (operand, steps) = unwind(top, Nil)
    val p = expression(operand)
    if (typedConstant(operand) && steps.forall { case (v, u, _) => subMonth(u) && v == v.toLong.toDouble })
      steps.foldLeft(coerce(p)) { case (acc, (v, u, op)) =>
        if (op == "+") Add(acc, native(v, u)) else Subtract(acc, native(v, u))
      }
    else {
      val kind = kindOf(p)
      // the value's no-op cast is part of an unaliased column's derived
      // name (`…_2.5_as_double_…`), which hosts rely on
      steps.foldLeft(p) { case (acc, (v, u, op)) =>
        fn("graft_js_interval", tryCast(acc, StringType), cast(lit(v), DoubleType), lit(u), lit(op), kind)
      }
    }
  }

  private def typedConstant(e: Expression): Boolean = e match {
    case f: UnresolvedFunction => f.arguments.isEmpty &&
      Set("now", "current_timestamp", "current_date")(f.nameParts.last.toLowerCase(java.util.Locale.ROOT))
    case a: UnresolvedAttribute => a.nameParts.length == 1 &&
      Set("current_timestamp", "current_date")(a.nameParts.head.toLowerCase(java.util.Locale.ROOT))
    case _: CurrentTimestamp | _: CurrentDate | Literal(_, DateType) => true
    case Cast(Literal(_, _: StringType), TimestampType | DateType, _, EvalMode.TRY) => true
    case _ => false
  }

  /** The native literal the marker's truncated value spells. */
  private def native(v: Double, unit: String): Expression =
    CatalystSqlParser.parseExpression(s"INTERVAL '${v.toLong}' $unit")

  /** The operand's JS value class per row (see [[graft.functions.time.JsInterval]]'s
    * kind). The two tests are case-sensitive, so they are calls, not
    * LIKE, which PlanCalls turns into ILIKE. */
  private def kindOf(p: Expression): Expression = {
    val typeof = fn("typeof", p)
    CaseWhen(Seq(
      EqualTo(typeof, lit("string")) -> CaseWhen(
        Seq(fn("contains", tryCast(p, StringType), lit("T")) -> lit("ts_str")), Some(lit("date_str"))),
      Or(EqualTo(typeof, lit("date")), fn("startswith", typeof, lit("timestamp"))) -> lit("typed")),
      Some(lit("none")))
  }

  /** The operand as the reference's new Date(v) reads it: numeric text
    * is epoch millis, anything else a timestamp parse. Every path goes
    * through STRING so every static operand type analyzes (DATE to
    * BIGINT is no cast even with try_cast); a typed timestamp or date
    * round-trips its own cast. */
  private def coerce(p: Expression): Expression = {
    val str = tryCast(p, StringType)
    CaseWhen(Seq(
      IsNotNull(tryCast(str, LongType)) -> fn("timestamp_millis", tryCast(str, LongType)),
      IsNotNull(tryCast(str, DoubleType)) -> fn("timestamp_millis", cast(tryCast(str, DoubleType), LongType))),
      Some(tryCast(str, TimestampType)))
  }

  private def tryCast(e: Expression, dt: DataType): Cast = {
    val c = Cast(e, dt, None, EvalMode.TRY)
    c.setTagValue(Cast.USER_SPECIFIED_CAST, ())
    c
  }
}
