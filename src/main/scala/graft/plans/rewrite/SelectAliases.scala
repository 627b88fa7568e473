package graft.plans
package rewrite

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, LambdaFunction, NamedExpression, SortOrder, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, LogicalPlan, Project, Sort, SubqueryAlias, UnresolvedWith, WithWindowDefinition}

/** Select aliases as the reference reads them, on the PARSED plan. The
  * reference substitutes select aliases SEQUENTIALLY into every later
  * expression of the same SELECT — later select items, GROUP BY, HAVING,
  * ORDER BY — even when the alias name shadows a real input column
  * (node-probed: `SELECT k + 1 AS k, k * 2 AS d` gives d = (k+1)·2;
  * `SELECT MOD(k,3) AS k, SUM(k) ... GROUP BY k` sums the ALIAS).
  * Spark's resolution differs on exactly the shadowing cases: select
  * items and GROUP BY prefer the input column, and a bare name inside
  * an ORDER-BY aggregate resolves against the aggregate OUTPUT
  * (circular for a self-shadow).
  *
  * Every SELECT block (a `Project`, or an `Aggregate` with the HAVING
  * and ORDER BY over it) is read on its own: CTE bodies, derived
  * tables, subqueries and set-op arms alike. A reference substitutes
  * only aliases defined EARLIER in the select list (forward references
  * error in the reference and must keep erroring), and inside alias
  * `a`'s own expression the name `a` is the base column, so the
  * substitution terminates.
  */
private[plans] object SelectAliases {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformDownWithSubqueries {
    // CTE bodies are not children
    case w: UnresolvedWith => PlanCalls.cteBodies(w)(apply)
    // parents first: a clause above a block reads the list as written
    case s: Sort if s.global => selectBlock(s.child).fold(s)(b => s.copy(order = s.order.map(b.orderBy)))
    case h @ UnresolvedHaving(cond, a: Aggregate) =>
      val b = new Block(a.aggregateExpressions, a.child)
      h.copy(havingCondition = b.expand(cond, a.aggregateExpressions.length))
    case p: Project => p.copy(projectList = new Block(p.projectList, p.child).items)
    case a: Aggregate =>
      val b = new Block(a.aggregateExpressions, a.child)
      a.copy(groupingExpressions = a.groupingExpressions.map(b.groupBy), aggregateExpressions = b.items)
  }

  /** The SELECT block an ORDER BY sorts. */
  private def selectBlock(p: LogicalPlan): Option[Block] = p match {
    case Project(items, child) => Some(new Block(items, child))
    case a: Aggregate => Some(new Block(a.aggregateExpressions, a.child))
    case UnresolvedHaving(_, child) => selectBlock(child)
    case Distinct(child) => selectBlock(child)
    case w: WithWindowDefinition => selectBlock(w.child)
    case _ => None
  }

  private def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  // a nondeterministic alias must not be re-evaluated by duplication
  // (two RAND() calls are two values; the reference evaluates the cell
  // once), nor a subquery run twice — Spark's native lateral-alias
  // resolution keeps those
  private val volatile = Set("rand", "random", "now", "uuid", "current_date",
    "current_time", "current_timestamp")
  private def opaque(e: Expression): Boolean = e.exists {
    case _: SubqueryExpression => true
    case a: UnresolvedAttribute => volatile(lower(a.nameParts.last))
    case x => volatile(lower(x.prettyName))
  }

  private final class Block(list: Seq[NamedExpression], input: LogicalPlan) {
    // a duplicated alias is ambiguous — those names are left untouched
    // (Spark rejects references to them)
    private val aliases: Map[String, (Expression, Int)] = list.zipWithIndex
      .collect { case (a: Alias, i) => lower(a.name) -> (a.child, i) }
      .groupBy(_._1).collect { case (n, Seq((_, ai))) => n -> ai }

    // the one FROM relation's name lets a BLOCKED self-reference inside
    // an ORDER-BY aggregate bind to the INPUT column: a bare `price`
    // there resolves against the aggregate OUTPUT (circular), `t.price`
    // can only be the input. Joins and derived tables get none.
    private def relation(p: LogicalPlan): Option[String] = p match {
      case Filter(_, child) => relation(child)
      case SubqueryAlias(id, _: UnresolvedRelation) => Some(id.name)
      case r: UnresolvedRelation => r.multipartIdentifier.lastOption
      case _ => None
    }

    /** `e` with references to the aliases at positions below `allowed`
      * replaced by their expressions, expanded in turn; a reference
      * blocked by the order is qualified when `qualify` is set. A name a
      * lambda binds is the lambda's variable. */
    def expand(e: Expression, allowed: Int, qualify: Boolean = false,
               bound: Set[String] = Set.empty): Expression = e match {
      case a @ UnresolvedAttribute(Seq(n)) if !bound(lower(n)) => aliases.get(lower(n)) match {
        case Some((ex, i)) if i < allowed && !opaque(ex) => expand(ex, i, qualify)
        case Some((_, i)) if i >= allowed && qualify =>
          relation(input).fold[Expression](a)(r => UnresolvedAttribute(Seq(r, n)))
        case _ => a
      }
      case l: LambdaFunction =>
        l.copy(function = expand(l.function, allowed, qualify, bound ++ l.arguments.map(v => lower(v.name))))
      case _ => e.mapChildren(expand(_, allowed, qualify, bound))
    }

    /** The select list, each item reading the aliases before it. */
    def items: Seq[NamedExpression] = list.zipWithIndex.map {
      case (a: UnresolvedAttribute, i) => expand(a, i) match {
        case same: UnresolvedAttribute => same
        case other => UnresolvedAlias(other)
      }
      case (item, i) => item.mapChildren(expand(_, i)).asInstanceOf[NamedExpression]
    }

    /** A GROUP BY term that names an alias groups by its expression (for
      * a name that shadows nothing the substitution changes nothing). */
    def groupBy(term: Expression): Expression = term match {
      case UnresolvedAttribute(Seq(_)) => expand(term, list.length)
      case other => other
    }

    /** ORDER BY: only an alias INSIDE an aggregate call is expanded. A
      * bare (even nested) alias reference resolves against the output
      * first in Spark, which matches the reference's substitution; inside
      * an aggregate the output reference is circular for a shadow. */
    def orderBy(o: SortOrder): SortOrder = o.transformUp {
      case f: UnresolvedFunction if !f.isDistinct && f.nameParts.length == 1 &&
          orderAggs(lower(f.nameParts.head)) => f.arguments match {
        case Seq(UnresolvedAttribute(Seq(n))) if aliases.contains(lower(n)) =>
          val (ex, i) = aliases(lower(n))
          f.copy(arguments = Seq(expand(ex, i, qualify = true)))
        case _ => f
      }
    }.asInstanceOf[SortOrder]
  }

  private val orderAggs = Set("sum", "min", "max", "avg", "count")
}
