package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table registry over the driver-generated parquet star schema.
  *
  * Analog of the reference's pluggable `AsyncDataSource` surface
  * (reference: src/backend/dataSource.js) — here a source is anything
  * `spark.read` can produce, and the engine operates on the resulting
  * DataFrame regardless of origin (parquet/csv/json/in-memory).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the inferred parquet schema.
    * [[GraftParquetSchema]] reads one footer on the driver per inference;
    * the memo saves that read for every repeated (dir, table) pair in a
    * session (a batch operation calls `Tables(...)` one to three times
    * while it builds). Only the schema is memoized: each call still
    * builds a fresh read (fresh file index), so overwriting a path
    * mid-session re-reads the new files (Round6Spec rewrites the same
    * temp dir twice), and no data or file listing goes stale. A
    * schema-changing rewrite of the same (session, dir, table) would read
    * with the stale schema; a new session or dir always re-infers.
    *
    * The session key is weak, so a collected session's entries vanish
    * with it. Each session's map is bounded: past 1024 entries it is
    * cleared outright (a session cycling that many (dir, table) pairs is
    * a test harness, and a clear only costs re-inference).
    */
  private val schemaMemo = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[(String, String), StructType]]()

  private def memoFor(spark: SparkSession) = schemaMemo.synchronized {
    var m = schemaMemo.get(spark)
    if (m == null) {
      m = scala.collection.concurrent.TrieMap.empty[(String, String), StructType]
      schemaMemo.put(spark, m)
    }
    m
  }

  /** Read one table from an sf directory. The schema is Spark's inferred
    * schema, read from one footer on the driver and memoized per session
    * (no Spark job). Column pruning + predicate pushdown reach the
    * parquet scan because callers compose Columns on the returned
    * DataFrame (Catalyst handles pushdown declaratively).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val memo = memoFor(spark)
    if (memo.size > 1024) memo.clear()
    val schema = memo.getOrElseUpdate((dir, name),
      GraftParquetSchema.infer(spark, Seq(path)))
    spark.read.schema(schema).parquet(path)
  }

  /** `spark.read.parquet(paths: _*)` for files whose schema is not known
    * up front, with the schema read from one footer on the driver instead
    * of by Spark's inference job. Inputs the footer read does not cover
    * (a partitioned layout, a glob) take Spark's own read unchanged. Not
    * memoized: the callers read state that changes between calls.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    GraftParquetSchema.fromFooter(spark, paths)
      .fold(spark.read)(spark.read.schema(_))
      .parquet(paths: _*)

  /** The events table's `ts` encoding differs across testdata generations:
    * older driver files store TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects — we read them as raw nanos via
    * `spark.sql.legacy.parquet.nanosAsLong` and truncate to microsecond
    * TIMESTAMP_NTZ, the same truncation DuckDB applies casting
    * TIMESTAMP_NS → TIMESTAMP), newer ones store TIMESTAMP(MICROS)
    * directly. Adapt on the READ schema, not an assumed file layout.
    * `div` keeps the nanos arithmetic in exact longs (a double division
    * would lose precision above 2^53 ns).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ micros
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Register every table as a temp view so `spark.sql` queries see the
    * same names the DuckDB oracle uses. Deliberately NOT idempotent: the
    * stored view plan freezes its file listing, so re-registering per
    * call is what keeps mid-session overwrites of a data dir visible
    * (several specs rewrite a temp dir and re-query). It starts no Spark
    * job: the first call per session reads one footer per table on the
    * driver, and later calls hit [[apply]]'s memo, leaving one file
    * listing and one catalog put per table.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
