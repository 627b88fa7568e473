package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, NamedExpression, RowOrdering,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, Partitioning,
  RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, SparkStrategy,
  UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plans the root `ORDER BY` of a query as [[CollectSortExec]]: a
  * `TakeOrderedAndProjectExec` without a limit. Like Spark's
  * `SpecialLimits` it matches only at `ReturnAnswer`, and only a global
  * `Sort` or a `Project` directly over one. It must run ahead of
  * [[SingleTaskSort]], which plans every other global sort.
  *
  * AQE re-plans the rest of a query after each stage with the remaining
  * plan wrapped in `ReturnAnswer`, also where that plan is the query of a
  * write. So a plan that holds a finished stage is a re-plan, and only a
  * sort this strategy planned at the root of the query's first plan (it
  * carries [[Root]]) is planned so again; a written sort keeps
  * [[SingleTaskSort]]'s plan, with its exchange an AQE stage.
  */
object CollectSort extends SparkStrategy {
  private val Root = TreeNodeTag[Unit]("graft.collectSortRoot")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => root match {
      case s @ Sort(order, true, child, _) if atRoot(root, s) =>
        CollectSortExec(order, child.output, SingleTaskSort.fits(child), planLater(child)) :: Nil
      case Project(list, s @ Sort(order, true, child, _)) if atRoot(root, s) =>
        CollectSortExec(order, list, SingleTaskSort.fits(child), planLater(child)) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }

  /** Tags `sort` in a query's first plan; in a re-plan, whether it is tagged. */
  private def atRoot(root: LogicalPlan, sort: Sort): Boolean = {
    if (root.find(_.isInstanceOf[LogicalQueryStage]).isEmpty) sort.setTagValue(Root, ())
    sort.getTagValue(Root).isDefined
  }
}

/** A global sort, and an optional projection over it, at the root of a
  * query.
  *
  * `executeCollect` (`collect`) runs the child once, in one job whose
  * tasks each sort their own partition, and merges the sorted runs on the
  * driver, where the rows land anyway: no gather stage, no range-sampling
  * job, and no size estimate needed, since `spark.driver.maxResultSize`
  * still bounds what reaches the driver. The merge is stable and uses the
  * ordering `SortExec` compares rows with, so NULLS FIRST/LAST, DESC and
  * NaN order as they do there.
  *
  * `doExecute` (`toLocalIterator`, `cache`, `queryExecution.toRdd`) runs
  * the sort as [[SingleTaskSort]] plans it: one sort task over a
  * single-partition exchange when `gather` (the child fit the broadcast
  * budget when the sort was planned), a range-partitioned sort otherwise,
  * and no exchange where the child's partitioning already satisfies the
  * order, as a single partition does. A large result used as an RDD so
  * never lands in one task.
  */
case class CollectSortExec(
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    gather: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  private def projects: Boolean = projectList != child.output

  /** The plan `doExecute` runs, over the child as it is now: under AQE
    * the child's finished stages replace it, so this is built per copy.
    */
  private lazy val distributed: SparkPlan = {
    val input =
      if (child.outputPartitioning.satisfies(OrderedDistribution(sortOrder))) child
      else ShuffleExchangeExec(
        if (gather) SinglePartition else RangePartitioning(sortOrder, conf.numShufflePartitions),
        child)
    val sorted = SortExec(sortOrder, global = true, input)
    if (projects) ProjectExec(projectList, sorted) else sorted
  }

  override def outputPartitioning: Partitioning = distributed.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = distributed.outputOrdering

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val rows = SortExec(sortOrder, global = false, child).executeCollect()
    java.util.Arrays.sort(rows, RowOrdering.create(sortOrder, child.output))
    if (!projects) rows
    else {
      val project = UnsafeProjection.create(projectList, child.output)
      project.initialize(0)
      rows.map(row => project(row).copy())
    }
  }

  protected override def doExecute(): RDD[InternalRow] = distributed.execute()

  override def simpleString(maxFields: Int): String =
    s"CollectSort(orderBy=${truncatedString(sortOrder, "[", ",", "]", maxFields)}, " +
      s"output=${truncatedString(output, "[", ",", "]", maxFields)}, gather=$gather)"

  override protected def withNewChildInternal(newChild: SparkPlan): CollectSortExec =
    copy(child = newChild)
}
