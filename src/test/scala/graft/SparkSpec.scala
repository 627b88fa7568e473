package graft

import graft.tools.TaskMetrics
import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small core count keeps tests snappy). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at `bytes`. */
  def withThreshold[A](bytes: Long)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs started while `body` runs. */
  def jobsOf(body: => Unit): Long = {
    val metrics = new TaskMetrics
    val sc = spark.sparkContext
    GraftListenerDrain.drain(sc)
    sc.addSparkListener(metrics)
    try {
      body
      GraftListenerDrain.drain(sc)
      metrics.jobsNow()
    } finally sc.removeSparkListener(metrics)
  }
}

/** Managed-table hygiene for specs — delegates to the main-code reset
  * (graft.sources.Warehouse) so the DROP-plus-dir-delete logic lives in
  * exactly one place.
  */
object TestTables {
  def reset(spark: SparkSession, table: String): Unit =
    graft.sources.Warehouse.resetTable(spark, table)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test", 4)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
