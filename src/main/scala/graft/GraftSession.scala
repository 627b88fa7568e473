package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings the engine assumes. Every main in
  * the repo gets its session here, so the engine the bench times and the
  * oracle dump verifies is the one the specs test.
  *
  * Local runs use `local[cores]`; at cluster scale the same builder is used
  * minus `master`, and `spark.sql.shuffle.partitions` should be ~4× executor
  * cores — AQE partition coalescing makes the setting a cap, not a constant.
  */
object GraftSession {
  /** Local cores for every main: `SPARK_GRAFT_CPUS`, else the host's
    * processor count. The only place the variable is read.
    */
  lazy val localCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(appName: String = "graft", cores: Int = localCores): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // explicit graft_bloom_agg sizing (q21's orderkey pre-prune, the
      // decontamination blooms) must be allowed to size for sf100-scale
      // key sets: ~22M keys at 12 bits/key needs 2^28 bits, over the
      // 4M-item/2^26-bit runtime-filter defaults. A 2^30-bit (128 MiB)
      // ceiling keeps any single bloom broadcast-sized.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", (128L << 20).toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", (1L << 30).toString)
      // let AQE re-plan (and coalesce) the output partitioning of CACHED
      // plans (default false in Spark 3.4–4.x for exchange-reuse
      // compatibility): every iterative operator here persists small
      // intermediates (band tables, edge/label frames, contingency
      // tables), and with the default each cache materializes at the full
      // spark.sql.shuffle.partitions width, so every downstream pass over
      // a KB-sized cached table pays `shuffle.partitions` tasks — at
      // cluster scale thousands of empty tasks per propagation round.
      // Size-adaptive, not a local[32] tune: AQE picks the width from
      // bytes. Measured r16 at sf0.1: q_entity_resolve 631→70 tasks,
      // q_dedup_clusters 404→30, q_components 399→25, q_mutual_info
      // 366→18 — identical results, identical oracle hashes.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // Spark's default of 100 generated classes is split into 4 LRU
      // segments of 25, which a few repeated dialect texts already
      // overflow, so identical classes are compiled again on every run
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def get(appName: String = "graft", cores: Int = localCores): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Total on-disk bytes under `dir` (Hadoop FS API, so local paths and
    * cluster URIs both work). 0 when the path is missing — the derived
    * knobs then fall back to their local-test floors. A sizing FAILURE
    * (transient FS/auth error on a scale run) must not silently floor a
    * 100 TB job to 32 shuffle partitions — exactly the
    * UNABLE_TO_ACQUIRE_MEMORY mode the derivation exists to prevent —
    * so it is logged loudly and falls back to a SCALE-SAFE default
    * (4096-partition cap) rather than the missing-path floor.
    */
  def dirBytes(dir: String): Long =
    try {
      val conf = new org.apache.hadoop.conf.Configuration()
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch {
      case e: Throwable =>
        System.err.println(
          s"[graft] dirBytes($dir) failed (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); sizing shuffle partitions as if the input " +
            "were at the 4096-partition cap rather than the local floor")
        // Long.MaxValue-safe sentinel: 4096 * 64 MiB puts the derivation
        // exactly at its cap, the safe side for an unknown-size input.
        4096L * (64L << 20)
    }

  /** Reduce-side parallelism derived from input size: ~64 MiB of
    * compressed input per reduce partition (≈200 MB in-memory working
    * set after parquet decode), floored at `cores` and capped at 4096.
    * Discovered twice the hard way (r8, r10): at sf100 the local-test
    * default of 32 puts ~19M lineitem rows in one reduce partition and
    * the big joins die with UNABLE_TO_ACQUIRE_MEMORY. With AQE
    * coalescing on, the value is a cap, not a constant — deriving it
    * high costs nothing at small scale.
    */
  def derivedShufflePartitions(totalBytes: Long, cores: Int = 32): Int = {
    val target = totalBytes / (64L << 20)
    math.max(cores, math.min(4096L, target)).toInt
  }

  /** Builder for SCALE runs (sf10/sf100 tools, long-lived streams):
    * the two operational knobs that sf100 runs twice had to rediscover
    * as ad-hoc flags are now derived here from the data itself.
    *   - shuffle partitions from the input directory size (see
    *     [[derivedShufflePartitions]]); `SPARK_GRAFT_SHUFFLE` still
    *     overrides for experiments.
    *   - periodic driver GC: ContextCleaner only deletes a finished
    *     shuffle's files after the referencing Dataset is
    *     garbage-collected, and a long-lived stream accumulates dead
    *     shuffle across micro-batches with no full GC. 60s caps dead
    *     scratch at about a minute's worth (measured at sf100: the
    *     ingest door died on scratch without it).
    */
  def scaleBuilder(appName: String, dataDirs: Seq[String],
                   cores: Int = localCores): SparkSession.Builder = {
    val partitions = sys.env.get("SPARK_GRAFT_SHUFFLE") match {
      case Some(v) => v.toInt
      case None => derivedShufflePartitions(dataDirs.map(dirBytes).sum, cores)
    }
    builder(appName, cores)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.cleaner.periodicGC.interval", "60s")
  }
}
