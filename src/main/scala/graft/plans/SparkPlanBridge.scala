package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's private[sql] plan entry points, so GraftSql can
  * parse a query once and build its DataFrame from that same plan:
  * `spark.sql` would parse the text again, and there is no public API
  * that turns a LogicalPlan (parsed, or transformed like the
  * strict-JS-nulls plan) back into a DataFrame.
  */
object GraftPlanBridge {
  private def classicSession(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Parse SQL text as `spark.sql` does: with `spark` active, so the
    * parser reads that session's conf (`doubleQuotedIdentifiers`, ANSI). */
  def parse(spark: SparkSession, sqlText: String): LogicalPlan =
    active(spark)(classicSession(spark).sessionState.sqlParser.parsePlan(sqlText))

  /** Run `f` with `spark` active, so the nodes a transform of the parsed
    * plan builds (casts, arithmetic) take the modes the parser's did. */
  def active[T](spark: SparkSession)(f: => T): T = classicSession(spark).withActive(f)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)

  /** Whether the session's function registry holds `name`, where
    * `spark.udf.register` puts it. `spark.catalog.functionExists` answers
    * the same for such a function but runs an analyzer pass per call. */
  def hasSessionFunction(spark: SparkSession, name: String): Boolean =
    classicSession(spark).sessionState.functionRegistry.functionExists(FunctionIdentifier(name))
}
