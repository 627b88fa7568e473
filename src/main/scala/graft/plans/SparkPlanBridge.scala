package org.apache.spark.sql

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
    * parser reads that session's conf (`doubleQuotedIdentifiers`, ANSI).
    * `post` runs on the parsed plan under the same conf, so the nodes it
    * builds (casts, arithmetic) take the modes the parser's would. */
  def parse(spark: SparkSession, sqlText: String,
            post: LogicalPlan => LogicalPlan = identity): LogicalPlan = {
    val session = classicSession(spark)
    session.withActive(post(session.sessionState.sqlParser.parsePlan(sqlText)))
  }

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicSession(spark), plan)
}
