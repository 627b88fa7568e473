package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Storage-layout operators: how a 100 TB table should land on disk so
  * every later scan reads as little of it as possible. The reference
  * engine streams from host-provided arrays and never owns layout; a
  * cluster engine must, because layout is where the three big read-side
  * savings live:
  *
  *  - PARTITION PRUNING — hive-partition by a low-cardinality filter
  *    column (date, language, source) and a matching predicate never
  *    opens non-matching directories at all ([[partitionedWrite]]);
  *  - ROW-GROUP SKIPPING — sort by a selective column before writing and
  *    parquet min/max footers let a range predicate skip whole files and
  *    row groups ([[sortedWrite]]);
  *  - SMALL-FILE COMPACTION — streaming ingest and over-parallel writes
  *    leave thousands of KB-sized files whose per-file open/footer cost
  *    dominates scans; periodic compaction rewrites them near a target
  *    size ([[compact]]).
  */
object Layout {

  /** Hive-style partitioned write. The input is repartitioned BY THE
    * PARTITION COLUMNS first: without that, every one of N write tasks
    * holds rows for every partition value and emits a file into each
    * directory — N×|values| small files from one write (the classic
    * small-file explosion). With it, each partition value's rows land in
    * one task. `subSplits` > 1 spreads one value across that many tasks
    * (and files) when single values are large or skewed — at 100 TB a
    * hot date/language needs more than one writer.
    */
  def partitionedWrite(df: DataFrame, path: String, partitionCols: Seq[String],
                       subSplits: Int = 1): Unit = {
    require(subSplits >= 1, "subSplits must be >= 1")
    val spread =
      if (subSplits == 1) df.repartition(partitionCols.map(col): _*)
      else {
        val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        df.repartition(parts,
          partitionCols.map(col) :+ org.apache.spark.sql.functions
            .pmod(org.apache.spark.sql.functions.spark_partition_id(),
              org.apache.spark.sql.functions.lit(subSplits)): _*)
      }
    spread.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** Range-partition on `sortCols` into `numFiles` files, sorted within
    * each — produces non-overlapping per-file value ranges, so parquet
    * min/max statistics turn any range/equality predicate on the sort
    * prefix into file- and row-group-level skipping. This is the
    * single-dimension form of clustering; for multi-column skipping,
    * sort by the highest-selectivity column first.
    */
  def sortedWrite(df: DataFrame, path: String, sortCols: Seq[String],
                  numFiles: Int): Unit = {
    require(numFiles >= 1, "numFiles must be >= 1")
    df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order (Morton) clustered write: interleave the bits of two
    * range-normalized columns and range-partition + sort on the
    * interleaved value. Where [[sortedWrite]] gives file skipping on ONE
    * column's predicates, z-ordering preserves locality in BOTH — a box
    * or strip predicate on either column touches O(√files) files instead
    * of all of them, which is the layout you want when a 100 TB table is
    * queried by (date, user), (lat, lon), or (source, language) alike.
    *
    * Normalization bounds come from one tiny min/max aggregate (4
    * scalars to the driver — same cost class as AQE's stats collection).
    * The z-value is a single codegen'd arithmetic expression; layout
    * work is one range shuffle, same as any sorted write.
    */
  def zorderWrite(df: DataFrame, path: String, colA: String, colB: String,
                  numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles >= 1 && bits >= 1 && bits <= 31, "need numFiles>=1, bits in [1,31]")
    val r = df.agg(
      org.apache.spark.sql.functions.min(col(colA)), org.apache.spark.sql.functions.max(col(colA)),
      org.apache.spark.sql.functions.min(col(colB)), org.apache.spark.sql.functions.max(col(colB))).head()
    val (loA, hiA, loB, hiB) =
      (r.get(0).toString.toDouble, r.get(1).toString.toDouble,
        r.get(2).toString.toDouble, r.get(3).toString.toDouble)
    val levels = (1L << bits) - 1
    def norm(c: String, lo: Double, hi: Double): String =
      if (hi <= lo) "CAST(0 AS BIGINT)"
      else s"CAST(floor((CAST($c AS DOUBLE) - $lo) / (${hi - lo}) * $levels) AS BIGINT)"
    val interleave = (0 until bits).flatMap { i =>
      Seq(s"shiftleft(shiftright(_za, $i) & 1, ${2 * i})",
        s"shiftleft(shiftright(_zb, $i) & 1, ${2 * i + 1})")
    }.mkString(" + ")
    df.withColumn("_za", expr(norm(colA, loA, hiA)))
      .withColumn("_zb", expr(norm(colB, loB, hiB)))
      .withColumn("_z", expr(interleave))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_za", "_zb", "_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Compact a parquet directory's files toward `targetBytes` each:
    * reads the current layout, computes the file count from the ACTUAL
    * on-disk bytes (never a row-count guess — compression ratios vary
    * wildly), rewrites through a staging directory, then publishes via
    * [[AtomicSwap]] (rename-aside: a crash at any point leaves a
    * complete recoverable copy — the naive delete-then-rename has a
    * window that loses both). The staging hop matters on its own: Spark
    * plans lazily, so overwriting a directory while reading it would
    * delete the input before the first task runs.
    *
    * Hive-partitioned layouts ([[partitionedWrite]] output) are detected
    * by their `col=value` subdirectories and rewritten WITH
    * `partitionBy` on the inferred partition columns, preserving the
    * pruning layout — flattening them would silently turn partition
    * directories into data columns and destroy pruning. Each partition
    * value keeps its own files; the output file count is
    * bytes-proportional across the whole table. Returns
    * (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be > 0")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicSwap.recover(fs, hPath)
    // Walk the tree: leaf data files + the partition-column chain, if any
    // (hive layout = nested `name=value` directories).
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s)
        else Nil
      }
    def partitionChain(p: Path): Seq[String] = {
      val dirs = fs.listStatus(p).filter(_.isDirectory)
        .filter(_.getPath.getName.contains("="))
      if (dirs.isEmpty) Nil
      else dirs.head.getPath.getName.takeWhile(_ != '=') +: partitionChain(dirs.head.getPath)
    }
    val before = walk(hPath)
    val partCols = partitionChain(hPath)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val staging = AtomicSwap.stagingOf(hPath)
    if (partCols.isEmpty)
      Tables.parquet(spark, path).repartition(nOut)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    else {
      // One writer task per partition value (plus byte-proportional
      // sub-splits when values are larger than targetBytes) — the same
      // anti-small-file clustering partitionedWrite applies.
      val leafDirs = before.map(_.getPath.getParent).distinct.length
      val subSplits = math.max(1, math.ceil(nOut.toDouble / math.max(1, leafDirs)).toInt)
      partitionedWrite(Tables.parquet(spark, path), staging.toString, partCols, subSplits)
    }
    AtomicSwap.commit(fs, hPath)
    (before.length, walk(hPath).length)
  }

  /** Write `df` as `shards` training shards (`_shard=k/` directories) in
    * a deterministic pseudo-random order. The shuffle key is
    * `hash(seed‖id)` (the Sampling.deterministicShuffle key); shard
    * membership is the key's EXACT equal-width bucket of the 2^60 hash
    * space — a pure function of (seed, id), NOT a sampled range split,
    * so re-running over any input partitioning rebuilds identical shard
    * membership and within-shard order, and each epoch's seed gives an
    * independent permutation. Rows are clustered per shard and sorted by
    * the key inside each writer: one sorted file per shard directory,
    * `shards` parallel writers, never a single task.
    */
  def shardedExport(df: DataFrame, idCol: String, path: String,
                    shards: Int, seed: String): Unit = {
    require(shards > 0, "shards must be > 0")
    val width = (1152921504606846976L + shards - 1) / shards // ceil(2^60 / shards)
    df.withColumn("_shard_key",
        expr(s"graft_hash60(concat('$seed:', CAST($idCol AS STRING)))"))
      .withColumn("_shard", expr(s"CAST(_shard_key DIV $width AS INT)"))
      .repartition(shards, col("_shard"))
      .sortWithinPartitions(col("_shard"), col("_shard_key"))
      .drop("_shard_key")
      .write.partitionBy("_shard").mode(SaveMode.Overwrite).parquet(path)
  }
}
