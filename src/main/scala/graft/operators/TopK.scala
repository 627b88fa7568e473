package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-key top-k (the ANN merge kernel — reference:
  * similarity-search result assembly) without shuffling the scored corpus.
  *
  * A naive `row_number() OVER (PARTITION BY key)` merge would
  * hash-partition EVERY scored row by key — with a handful of query keys
  * that is a handful of reducers no matter the cluster size. Spark
  * 3.5+'s rank-limit pushdown (SPARK-37099, `InsertWindowGroupLimit`)
  * turns exactly this formulation into the two-stage shape instead:
  *
  *  1. narrow partial pass: `WindowGroupLimit(Partial)` over each input
  *     partition (local sort + streaming first-k-per-key), so at most
  *     distinctKeys×k rows per partition reach the exchange;
  *  2. tiny merge: the key exchange + final window rank over the
  *     ≤ partitions×keys×k survivors.
  *
  * The only exchange therefore moves O(partitions×keys×k) rows — the
  * shape that survives a 1000-executor scale-up. r16: this replaced a
  * hand-rolled `sortWithinPartitions` + typed `mapPartitions` filter
  * with the SAME topology — the typed pass paid a full
  * InternalRow→Row→InternalRow encoder boundary over every scored row
  * and broke whole-stage codegen; the native pushdown stays inside
  * codegen end to end (PlanQualitySpec pins the Partial node and the
  * shuffle count; requires k ≤
  * spark.sql.optimizer.windowGroupLimitThreshold, default 1000).
  */
object TopK {

  /** Global top-k rows per key with a 1-based rank column `rankCol`
    * assigned in `orderCols` order (ties must be broken by `orderCols`
    * for a deterministic result).
    *
    * Throws `IllegalArgumentException` unless 0 < k ≤
    * `spark.sql.optimizer.windowGroupLimitThreshold`. That precondition
    * assumes Spark ≥ 3.5, where the conf and the rank-limit pushdown
    * exist; on an older Spark the conf is absent, its default of 1000
    * passes the check, and the pushdown never fires.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column], k: Int,
             rankCol: String = "rnk"): DataFrame = {
    require(k > 0, "k must be positive")
    // r17 (ADVICE r16): the two-stage scale shape exists only while
    // InsertWindowGroupLimit fires — k above the threshold (default
    // 1000) silently degrades to a full hash-partition-by-key window,
    // the |keys|-reducer pathology this operator documents away. Enforce
    // the documented precondition instead of silently losing it.
    val threshold = df.sparkSession.conf
      .get("spark.sql.optimizer.windowGroupLimitThreshold", "1000").toInt
    require(threshold > 0 && k <= threshold, // -1 disables the rule outright
      s"k=$k needs 0 < k <= spark.sql.optimizer.windowGroupLimitThreshold " +
        s"(=$threshold): otherwise the rank-limit pushdown does not fire " +
        "and the window hash-partitions every scored row by key (raise " +
        "the threshold conf or lower k)")
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)))
      .filter(col(rankCol) <= k)
  }
}
