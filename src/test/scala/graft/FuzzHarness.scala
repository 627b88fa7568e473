package graft

import graft.DiffValues._
import graft.plans.GraftSql
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared differential-fuzz harness: the four fuzz tables (value-
  * identical in both engines), the Spark-side runners (derived / strict
  * variants included), the one-process reference batch runner
  * (tools/fuzz_ref.mjs) and the cell-by-cell comparator. Extended by
  * [[FuzzSpec]] (the CI + deep-audit batteries) and
  * [[FreshSeedGuardSpec]] (the small date-seeded battery `sbt guard`
  * runs before every commit).
  */
trait FuzzHarness extends SparkSpec {

  protected val sfDir = "/root/testdata/sf0.001"
  protected val workDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-fuzz")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The four fuzz tables, value-identical in both engines: Spark reads
    * parquet (timestamps cast to string so the JSON the reference reads
    * carries the same values Spark computes on) and registers views;
    * the same frames dump to JSON for the reference.
    */
  protected lazy val fuzzTables: Map[String, DataFrame] = {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
      .select("r_regionkey", "r_name")
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      // numeric-looking TEXT with garbage/empty/null mixed in: the
      // JS-Number aggregation surface (FuzzGen Table.numStrs). One
      // decimal place keeps every value exactly representable so both
      // engines parse the same double.
      // (no SQL nulls here: df.toJSON OMITS null fields and the
      // reference's table loader rejects rows with missing columns —
      // '+' is another Number()-NaN case instead)
      .withColumn("c_balstr",
        when(col("c_custkey") % 11 === 0, lit("n/a"))
          .when(col("c_custkey") % 7 === 0, lit(""))
          .when(col("c_custkey") % 5 === 0, lit("+"))
          .otherwise(format_string("%.1f", col("c_acctbal"))))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("string").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy("o_orderkey").limit(400)
    Map("f_nation" -> nation, "f_region" -> region,
      "f_customer" -> customer, "f_orders" -> orders)
  }

  // ---- engines --------------------------------------------------------
  // (canonical value model + comparator live in graft.DiffValues, shared
  // with SuiteReplaySpec)

  protected def runSpark(q: String): Either[String, Seq[Map[String, V]]] =
    try {
      val df = GraftSql.sql(spark, q)
      val names = df.schema.fieldNames.toSeq
      Right(df.collect().toSeq.map(r =>
        names.zipWithIndex.map { case (n, i) => n.toLowerCase -> norm(r.get(i)) }.toMap))
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }

  protected def runSparkDerived(q: String): Either[String, Seq[Map[String, V]]] =
    try {
      val df = GraftSql.sqlDerived(spark, q)
      val names = df.schema.fieldNames.toSeq
      Right(df.collect().toSeq.map(r =>
        names.zipWithIndex.map { case (n, i) => n.toLowerCase -> norm(r.get(i)) }.toMap))
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }

  /** Strict-JS-nulls over the DERIVED-name surface: the mutation
    * battery's retry oracle (a mismatch that strict mode resolves is
    * the pinned three-valued default, not a defect).
    */
  protected def runSparkStrictDerived(q: String): Either[String, Seq[Map[String, V]]] =
    try {
      val df0 = GraftSql.sqlDerived(spark, q)
      val df = org.apache.spark.sql.GraftPlanBridge.ofRows(
        spark, graft.plans.StrictJsNulls(df0.queryExecution.analyzed))
      val names = df.schema.fieldNames.toSeq
      Right(df.collect().toSeq.map(r =>
        names.zipWithIndex.map { case (n, i) => n.toLowerCase -> norm(r.get(i)) }.toMap))
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }

  protected def runSparkStrict(q: String): Either[String, Seq[Map[String, V]]] =
    try {
      val df = GraftSql.sqlStrictNulls(spark, q)
      val names = df.schema.fieldNames.toSeq
      Right(df.collect().toSeq.map(r =>
        names.zipWithIndex.map { case (n, i) => n.toLowerCase -> norm(r.get(i)) }.toMap))
    } catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }

  /** Run the whole batch on the reference engine in ONE node process.
    * `extraTables` rides per-battery relations (e.g. the spatial-join
    * family's f_geo) alongside the four standard fuzz tables.
    */
  protected def runReference(queries: Seq[String],
      extraTables: Map[String, DataFrame] = Map.empty): Seq[Either[String, Seq[Map[String, V]]]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // tables json: {"name": [row, ...]}
    val tablesJson = (fuzzTables ++ extraTables).toSeq.sortBy(_._1).map { case (name, df) =>
      "\"" + name + "\": [" + df.toJSON.collect().mkString(",") + "]"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/tables.json"), tablesJson)
    val qarr = om.createArrayNode()
    queries.foreach(qarr.add)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/queries.json"), om.writeValueAsString(qarr))
    val pb = new ProcessBuilder("node", "tools/fuzz_ref.mjs",
      s"$workDir/tables.json", s"$workDir/queries.json", s"$workDir/ref_out.json")
    // the reference parses bare date strings with JS `new Date(...)`,
    // which reads "YYYY-MM-DD HH:MM:SS" in LOCAL time — pin the node
    // process to UTC so both engines agree on what instant a string is
    pb.environment().put("TZ", "UTC")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new String(proc.getInputStream.readAllBytes())
    RefCheckout.assertScriptRan("fuzz_ref.mjs", proc.waitFor(), log.takeRight(2000))
    val root = om.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$workDir/ref_out.json")))
    (0 until root.size()).map { i =>
      val e = root.get(i)
      if (e.has("error")) Left(e.get("error").asText())
      else {
        val rows = e.get("rows")
        Right((0 until rows.size()).map { j =>
          val row = rows.get(j)
          val it = row.fieldNames()
          val m = scala.collection.mutable.Map[String, V]()
          while (it.hasNext) { val f = it.next(); m += f.toLowerCase -> jnorm(row.get(f)) }
          m.toMap
        })
      }
    }
  }

  protected def diff(q: String, sp: Either[String, Seq[Map[String, V]]],
                   rf: Either[String, Seq[Map[String, V]]],
                   jsonBridge: Boolean = false): Option[String] = (sp, rf) match {
    case (Left(_), Left(_)) => None // agreement on rejection
    case (Left(e), Right(_)) => Some(s"spark ERROR, ref ok: $e")
    case (Right(_), Left(e)) => Some(s"ref ERROR, spark ok: $e")
    case (Right(s), Right(r)) =>
      if (s.length != r.length) Some(s"row count ${s.length} vs ${r.length}")
      else {
        def cellEq(a: V, b: V) = vEq(a, b, jsonBridge)
        s.zip(r).zipWithIndex.collectFirst {
          case ((srow, rrow), i) if {
            val cols = srow.keySet ++ rrow.keySet
            cols.exists(c => !cellEq(srow.getOrElse(c, VNull), rrow.getOrElse(c, VNull)))
          } =>
            val cols = srow.keySet ++ rrow.keySet
            val bad = cols.filter(c => !cellEq(srow.getOrElse(c, VNull), rrow.getOrElse(c, VNull)))
            s"row $i differs on ${bad.mkString(",")}: spark=${bad.map(srow.getOrElse(_, VNull))} ref=${bad.map(rrow.getOrElse(_, VNull))}"
        }
      }
  }
}
