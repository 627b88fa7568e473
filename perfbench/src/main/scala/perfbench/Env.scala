package perfbench

import org.apache.spark.sql.SparkSession

/** Where the benchmark keeps its generated data and scratch files, and
  * how it builds a session. Everything lives under `work`, a directory
  * inside the checkout.
  */
final case class Env(work: String, cores: Int) {
  def dataDir(sf: String): String = s"$work/data/sf$sf"
  def scratch(name: String): String = s"$work/scratch/$name"

  /** The engine's own session (GraftSession.builder), with Spark's
    * scratch and warehouse kept inside the work directory. */
  def session(): SparkSession = {
    val spark = graft.GraftSession.builder("perfbench", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

object Env {
  /** Scale factors the workloads read, as GenData names them. */
  val Small = "0.01"
  val Large = "0.1"

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmTree)
    f.delete()
    ()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.isFile) f.length()
    else 0L
}
