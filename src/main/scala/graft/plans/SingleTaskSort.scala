package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global `ORDER BY` as one sort task.
  *
  * Spark plans every global sort over a `RangePartitioning` exchange, and
  * building the range bounds runs a sampling job over the child before the
  * map stage evaluates the child again. When the child's estimated size
  * fits `spark.sql.autoBroadcastJoinThreshold` (the budget under which a
  * join side goes to every task whole), the sort instead gathers the child
  * into a single partition and sorts it there: no bounds, no sampling job,
  * the child evaluated once. A threshold of 0 or less turns this off.
  *
  * Under AQE the rest of a query is re-planned after each stage finishes,
  * with finished stages at their measured sizes, so a sort above a shuffle
  * decides on the runtime size; a sort directly over a scan decides on the
  * file-size estimate, as a broadcast join does. Every other plan, and a
  * sort over a larger child, keeps Spark's own planning: `ORDER BY … LIMIT`
  * is matched at the `Limit` by Spark's `SpecialLimits`, and
  * `sortWithinPartitions` and `repartitionByRange` are not global sorts.
  * Where the child already ends in one partition (an unpartitioned
  * window, a global limit, `coalesce(1)`), [[DropRedundantGather]]
  * removes the gather again, so that such a sort keeps Spark's plan.
  * The root sort of a query is [[CollectSort]]'s, which plans ahead of
  * this strategy; its `doExecute` makes the same choice with [[fits]].
  */
object SingleTaskSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if fits(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private[plans] def fits(child: LogicalPlan): Boolean = {
    val budget = SQLConf.get.autoBroadcastJoinThreshold
    budget > 0 && child.stats.sizeInBytes <= budget
  }
}

/** Removes a single-partition exchange whose child already has a single
  * partition — only [[SingleTaskSort]] plans one, since Spark's
  * EnsureRequirements adds an exchange only where the child's
  * partitioning falls short. It runs as an AQE query-stage preparation
  * rule, after EnsureRequirements has placed the child's own exchanges.
  */
object DropRedundantGather extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(SinglePartition, child, ENSURE_REQUIREMENTS, _)
        if child.outputPartitioning == SinglePartition => child
  }
}
