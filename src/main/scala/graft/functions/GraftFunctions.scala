package graft.functions

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}

/** Named UDF registration surface — the analog of the reference engine's
  * pluggable async-UDF registry (reference: src/index.js registerFunction;
  * async UDFs map to plain Scala UDFs under Spark's execution model, with
  * laziness-under-LIMIT delivered by Catalyst limit pushdown instead of
  * async cells).
  *
  * Prefer built-in functions or native Catalyst expressions in hot paths;
  * this surface exists for user extensibility parity.
  */
object GraftFunctions {

  def register(spark: SparkSession): Unit = {
    if (!GraftPlanBridge.hasSessionFunction(spark, "graft_score"))
      spark.udf.register("graft_score",
        (text: String) =>
          if (text == null) null else java.lang.Long.valueOf(text.getBytes("UTF-8").length % 97L))
    if (!GraftPlanBridge.hasSessionFunction(spark, "graft_fingerprint"))
      spark.udf.register("graft_fingerprint",
        (text: String) => if (text == null) null else {
          var h = 0L
          text.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
          java.lang.Long.valueOf(h)
        })
    graft.plans.GraftSql.ensureHelpers(spark)
  }
}
