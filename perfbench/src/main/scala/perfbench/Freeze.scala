package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Records the reference files the workloads check against, from the
  * engine as it stands:
  *   - `sql_texts.json`: every registry oracle text that `GraftSql.sql`
  *     accepts on the sf0.01 tables, with its result digest;
  *   - `sql_rejected.json`: every text it rejects, with the error class;
  *   - `batch_ops.json`: the digest of every batch-family operator at
  *     sf0.1.
  * Each result is computed twice; a text or operator whose two digests
  * differ is recorded as non-deterministic and left out of the workload.
  * Timings are recorded alongside, for choosing the timed sets.
  *
  * Usage: `Freeze <work dir> <out dir> [name filter regex]`.
  */
object Freeze {
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Every registry operator of the batch families, sorted by name. */
  private def batchFamily: Seq[String] = graft.SparkEntry.queries.keys.toSeq.filter { n =>
    n.startsWith("q_tpch_") || n.startsWith("q_text_") || n.startsWith("q_ann_") ||
    Seq("q_dedup_clusters", "q_dedup_representative", "q_entity_resolve", "q_components",
      "q_pagerank", "q_dedup_sliced").contains(n)
  }.sorted

  /** A short, stable description of why a text was rejected. */
  def errorClass(e: Throwable): String = {
    val cond = e match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null => s.getCondition
      case _ => e.getClass.getSimpleName
    }
    val msg = Option(e.getMessage).getOrElse("").linesIterator.map(_.trim).find(_.nonEmpty)
    s"$cond: ${msg.getOrElse("").take(160)}"
  }

  def main(args: Array[String]): Unit = {
    val env = Env(args(0), Runtime.getRuntime.availableProcessors())
    val out = args(1)
    val only = args.lift(2).map(_.r)
    def wanted(n: String) = only.forall(_.findFirstIn(n).isDefined)
    val spark = env.session()

    val small = env.dataDir(Env.Small)
    graft.sources.Tables.registerAll(spark, small)
    val accepted = ArrayBuffer.empty[Map[String, Any]]
    val rejected = ArrayBuffer.empty[Map[String, Any]]
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).filter(p => wanted(p._1)).foreach {
      case (name, text) =>
        def once(): (String, Double) = {
          val t0 = System.nanoTime()
          val rows = graft.plans.GraftSql.sql(spark, text).collect()
          (Digest.of(rows), ms(t0))
        }
        try {
          val (d1, cold) = once()
          val (d2, warm) = once()
          if (d1 != d2) rejected += Map("name" -> name, "error_class" -> "non-deterministic result")
          else accepted += Map("name" -> name, "sql" -> text, "digest" -> d1,
            "cold_ms" -> math.round(cold), "warm_ms" -> math.round(warm))
        } catch {
          case scala.util.control.NonFatal(e) =>
            rejected += Map("name" -> name, "error_class" -> errorClass(e))
        }
        System.err.println(s"[freeze] sql $name")
    }
    // a filtered run writes `*_subset.json` beside the full files
    val suffix = if (only.isEmpty) "" else "_subset"
    Json.writeFile(s"$out/sql_texts$suffix.json", accepted.toSeq)
    Json.writeFile(s"$out/sql_rejected$suffix.json", rejected.toSeq)

    val large = env.dataDir(Env.Large)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    batchFamily.filter(wanted).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      def noop(): (Double, Double) = {
        val t0 = System.nanoTime()
        val df = fn(spark, large)
        val b = ms(t0)
        df.write.format("noop").mode("overwrite").save()
        (b, ms(t0))
      }
      def digest(): String = Digest.of(fn(spark, large).collect())
      try {
        val (_, cold) = noop()
        val (build, warm) = noop()
        val d1 = digest()
        val d2 = digest()
        ops += Map("name" -> name, "digest" -> (if (d1 == d2) d1 else "non-deterministic"),
          "cold_ms" -> math.round(cold), "warm_ms" -> math.round(warm),
          "build_ms" -> math.round(build))
      } catch {
        case scala.util.control.NonFatal(e) =>
          ops += Map("name" -> name, "digest" -> "failed", "error_class" -> errorClass(e))
      }
      graft.operators.Caches.unpersistAll()
      System.err.println(s"[freeze] batch $name ${ops.last}")
    }
    Json.writeFile(s"$out/batch_ops$suffix.json", ops.toSeq)
    spark.stop()
  }
}

/** Generates the benchmark's tables with the engine's own deterministic
  * generator (`graft.tools.GenData`): sf0.01 and sf0.1 under
  * `<work>/data`. Usage: `GenTables <work dir>`.
  */
object GenTables {
  def main(args: Array[String]): Unit = {
    val env = Env(args(0), Runtime.getRuntime.availableProcessors())
    val spark: SparkSession = env.session()
    Seq(Env.Small, Env.Large).foreach { sf =>
      graft.tools.GenData.gen(spark, env.dataDir(sf), sf.toDouble)
    }
    spark.stop()
  }
}
