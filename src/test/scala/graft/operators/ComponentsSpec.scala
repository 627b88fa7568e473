package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The two paths of [[Dedup.duplicateClusters]]: the driver finish
  * (bounded collect + union-find) and the label-propagation rounds, which
  * a broadcast threshold of -1 forces. Both must give the same
  * `(id, cluster)` frame.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def onRounds[A](body: => A): A = withThreshold(-1)(body)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def bothPaths(name: String, pairs: => DataFrame): Unit = {
    val driver = Dedup.duplicateClusters(pairs)
    assert(isLocal(driver), s"$name: driver path not taken")
    val rounds = onRounds {
      val r = Dedup.duplicateClusters(pairs)
      assert(!isLocal(r), s"$name: rounds path not taken")
      (r.schema.map(f => (f.name, f.dataType)), r.collect().toSet)
    }
    assert(driver.schema.map(f => (f.name, f.dataType)) == rounds._1, name)
    assert(driver.collect().toSet == rounds._2, name)
  }

  test("driver finish and rounds agree on chain, star and disjoint graphs") {
    bothPaths("chain", (1L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
    bothPaths("star", (1L to 30L).map(i => (100L, i * 3)).toDF("a_id", "b_id"))
    bothPaths("disjoint",
      Seq((5L, 9L), (9L, 2L), (20L, 21L), (22L, 21L)).toDF("a_id", "b_id"))
    bothPaths("empty", Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
  }

  test("driver finish and rounds agree on a seeded random graph of 2000 vertices") {
    val rnd = new scala.util.Random(11)
    // scattered ids, so the driver's id order is not the generation order
    val edges = Seq.fill(2400)(
      (rnd.nextInt(2000) * 7919L % 100003L, rnd.nextInt(2000) * 7919L % 100003L))
    bothPaths("random", edges.toDF("a_id", "b_id"))
  }

  test("driver finish keeps IntegerType ids and the rounds' NULL-id labels") {
    val ints = Seq((3, 4), (4, 8), (10, 11)).toDF("a_id", "b_id")
    assert(Dedup.duplicateClusters(ints).schema.map(_.dataType) == Seq(IntegerType, IntegerType))
    bothPaths("int", ints)
    // NULL is paired with 2 (component {1, 2, 3}) and 7 (alone): its row
    // takes the least partner label, and 7 keeps its own
    val withNull = Seq[(java.lang.Long, java.lang.Long)](
      (null, 2L), (1L, 2L), (2L, 3L), (7L, null), (null, null)).toDF("a_id", "b_id")
    assert(withNull.schema.map(_.dataType) == Seq(LongType, LongType))
    bothPaths("null", withNull)
    assert(Dedup.duplicateClusters(withNull).collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)))).toSet ==
      Set((Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(1L)),
        (Some(7L), Some(7L)), (None, Some(1L))))
  }

  test("building over a 60-edge in-memory graph starts exactly one Spark job") {
    val pairs = (0L until 60L).map(i => (i % 25, (i * 7 + 3) % 50)).toDF("a_id", "b_id")
    assert(jobsOf(Dedup.duplicateClusters(pairs)) == 1)
  }

  test("the budget is the broadcast threshold over 24 bytes, whatever the partitioning") {
    def chain(n: Long) = (0L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    withThreshold(24 * 100) {
      assert(isLocal(Dedup.duplicateClusters(chain(100))))
      val over = Dedup.duplicateClusters(chain(101))
      assert(!isLocal(over))
      assert(over.collect().forall(_.getLong(1) == 0L))
      // 70 of 79 edges in one of 4 partitions: over that partition's
      // share of the budget, so a second job fetches it
      val skewed = spark.sparkContext.parallelize(0 until 4, 4)
        .flatMap(part => if (part == 0) (0L until 70L).map(i => (i, i + 1))
          else Seq((1000L + part, 2000L + part), (2000L + part, 3000L + part),
            (3000L + part, 1000L + part)))
        .toDF("a_id", "b_id")
      var got: DataFrame = null
      assert(jobsOf { got = Dedup.duplicateClusters(skewed) } == 2)
      assert(isLocal(got))
      assert(got.collect().toSet == onRounds(Dedup.duplicateClusters(skewed).collect().toSet))
    }
  }

  test("rounds that reach maxIter without a fixpoint throw") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      onRounds(Dedup.duplicateClusters(chain, maxIter = 3))
    }
    assert(e.getMessage.contains("3 label-propagation rounds") &&
      e.getMessage.contains("maxIter = 3"), e.getMessage)
  }
}
