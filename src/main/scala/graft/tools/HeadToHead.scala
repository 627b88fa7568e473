package graft.tools

import graft.GraftSession
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Head-to-head against the reference engine: the exact queries
  * tools/ref_bench.mjs runs on squirreling over the same sf0.1 rows.
  * Reports cold (first) and warm (second) run — the reference numbers
  * are warm in-memory, so warm is the apples-to-apples figure; graft
  * additionally pays the parquet scan each run.
  */
object HeadToHead {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("head2head")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM warmup

    def q(name: String)(f: (SparkSession, String) => DataFrame): (String, Double, Double) = {
      def run(): Double = {
        val t0 = System.nanoTime()
        f(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = run(); val warm = run()
      (name, cold, warm)
    }

    val results = Seq(
      q("b_agg") { (s, d) =>
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_base"),
            avg("l_quantity").as("avg_qty"), count(lit(1)).as("n"))
      },
      q("b_filter") { (s, d) =>
        Tables(s, d, "lineitem")
          .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
          .select("l_returnflag", "l_quantity")
      },
      q("b_topk") { (s, d) =>
        Tables(s, d, "orders").select("o_orderkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc).limit(10)
      },
      q("b_join") { (s, d) =>
        Tables(s, d, "orders").join(
            broadcast(Tables(s, d, "customer").select("c_custkey", "c_mktsegment")),
            expr("o_custkey = c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
      },
      q("b_window") { (s, d) =>
        Tables(s, d, "orders").selectExpr("o_orderkey",
          "row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS rn")
      })

    val json = results.map { case (n, c, w) =>
      f""""$n":{"cold":$c%.3f,"warm":$w%.3f}"""
    }.mkString("{", ",", "}")
    println(json)

    // ---- the shared 20-query dialect set -------------------------------
    // The SAME SQL text (tools/h2h_queries.json) runs VERBATIM on both
    // engines: here through GraftSql over temp views of the parquet
    // rows, on the reference through tools/ref_bench20.mjs over its
    // in-memory JSON arrays. Date columns register as the exact ISO
    // strings the JSON export carries, so string comparisons see
    // identical values on both sides. Row counts are printed for the
    // same-rows check.
    val qFile = new java.io.File("tools/h2h_queries.json")
    if (qFile.isFile) {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(java.nio.file.Files.readString(qFile.toPath))
      val iso = "yyyy-MM-dd'T'HH:mm:ss"
      Tables(spark, dir, "lineitem")
        .withColumn("l_shipdate", date_format(col("l_shipdate"), iso))
        .createOrReplaceTempView("lineitem")
      Tables(spark, dir, "orders")
        .withColumn("o_orderdate", date_format(col("o_orderdate"), iso))
        .createOrReplaceTempView("orders")
      Tables(spark, dir, "customer").createOrReplaceTempView("customer")
      Tables(spark, dir, "nation").createOrReplaceTempView("nation")
      val names = {
        val it = root.fieldNames()
        val b = scala.collection.mutable.ListBuffer[String]()
        while (it.hasNext) b += it.next()
        b.toList
      }
      val h2h = names.map { name =>
        val sql = root.get(name).asText()
        def run(): (Double, Long) = {
          val t0 = System.nanoTime()
          val df = graft.plans.GraftSql.sql(spark, sql)
          // count() would let Catalyst prune projections; noop keeps
          // full execution, a separate cheap count gets the row figure
          df.write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          (sec, df.count())
        }
        run()
        val (warm, rows) = run()
        f""""$name":{"warm":$warm%.3f,"rows":$rows}"""
      }
      println(h2h.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
