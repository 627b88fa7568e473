package graft.plans
package rewrite

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, Exists, InSubquery, Literal, Not}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, UnresolvedWith}

/** `lhs NOT IN (SELECT …)` carries the reference's TWO-VALUED null
  * semantics (execute/join.js:283,310 — null keys are skipped on both
  * build and probe, so a null in the subquery cannot empty the result).
  * Spark's NOT IN is standard SQL: one null poisons everything, planned
  * as a null-aware anti join. On the PARSED plan, every single-value
  * NOT IN (an expression lhs and `NOT (x IN …)` too) becomes
  * `NOT EXISTS (SELECT 1 FROM (subquery) AS __nin(__nin_c) WHERE
  * __nin_c <=> lhs)`: the reference's rows, planned as a plain
  * (broadcastable) anti join instead of the NAAJ. `<=>`, not `=`: the
  * reference's IN walks sqlEquals (JS ==, null == null TRUE —
  * execute/utils.js:136-139), so a NULL probe DOES match a null-bearing
  * list and NOT IN drops the row.
  *
  * A correlated subquery fails analysis inside the derived table; the
  * host entry points then analyze the plan without this translation
  * (SQL semantics).
  */
private[plans] object NotInExists {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    // CTE bodies are not children
    case w: UnresolvedWith => PlanCalls.cteBodies(w)(apply)
    case p => p.transformExpressionsUp {
      case Not(InSubquery(Seq(lhs), query)) =>
        val keys = SubqueryAlias("__nin", UnresolvedSubqueryColumnAliases(Seq("__nin_c"), query.plan))
        Not(Exists(Project(Seq(UnresolvedAlias(Literal(1))),
          Filter(EqualNullSafe(UnresolvedAttribute("__nin_c"), lhs), keys))))
    }
  }
}
