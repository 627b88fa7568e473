package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph ranking over an edge table — the quality-weighting
  * signal of web-crawl corpora (rank pages, weight their documents).
  * Complements [[Dedup.duplicateClusters]] (the other graph operator:
  * components there — union-find on the driver for small edge sets,
  * label-propagation rounds for large ones — importance here).
  */
object Graph {

  /** Triangle enumeration over an UNDIRECTED edge set — the clustering-
    * coefficient / community-density primitive. Input edges are
    * canonicalized to distinct `(a < b)` pairs; each triangle
    * `a < b < c` is emitted exactly once via the node-iterator join
    * chain `e(a,b) ⋈ e(b,c) ⋈ e(a,c)` — the ordering constraint is
    * what kills the 6× double-counting AND keeps every join an
    * equi-join (two shuffles on node keys, never an all-pairs probe).
    * Skewed hubs are AQE's skew-split problem, not a plan change.
    *
    * The canonical edge frame is persisted: it feeds three join sides.
    */
  def triangles(edges: DataFrame, src: String = "src",
                dst: String = "dst"): DataFrame =
    trianglesCanonical(Caches.track(canonicalEdges(edges, src, dst)))

  /** The canonical undirected edge set — distinct `(a < b)` pairs,
    * self-loops dropped. Not persisted: a caller that reads it more than
    * once (the three join sides of [[trianglesCanonical]], node/edge
    * stats alongside) persists it through [[Caches.track]]; a single
    * reader such as [[Dedup.duplicateClusters]], which persists its own
    * input, would only pay for a second cache.
    */
  def canonicalEdges(edges: DataFrame, src: String = "src",
                     dst: String = "dst"): DataFrame =
    edges
      .selectExpr(s"least($src, $dst) AS a", s"greatest($src, $dst) AS b")
      .filter(col("a") =!= col("b"))
      .distinct()

  /** [[triangles]] over an ALREADY-canonical `(a, b)` edge frame (from
    * [[canonicalEdges]]) — each triangle `a < b < c` exactly once.
    */
  def trianglesCanonical(e: DataFrame): DataFrame =
    e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"), col("e2.b").as("tc"))
      .join(e.as("e3"),
        col("ta") === col("e3.a") && col("tc") === col("e3.b"), "left_semi")

  /** PageRank with EXACT integer arithmetic, ranks in parts-per-million:
    *
    *   r_0(v)     = 1_000_000
    *   r_{i+1}(v) = 150_000 + (850 · Σ_{u→v} (r_i(u) div outdeg(u))) div 1000
    *
    * i.e. damping 0.85 applied as BIGINT multiply-then-divide; every
    * intermediate is a BIGINT, so the result is identical under ANY
    * partitioning, partial-agg order, or engine — the property that
    * makes a cross-engine oracle (and re-runs on 1000 executors) stable.
    * Truncation loses < 1 ppm per hop vs the real-valued recurrence;
    * dangling-node mass is dropped (ranks are relative quality weights
    * here, not a probability distribution — document the contract, don't
    * renormalize).
    *
    * Scale shape: per iteration ONE equi-join of ranks onto the edge
    * list (shuffle on the join key) and one partial+final sum by dst —
    * the standard Pregel message round expressed declaratively. `iters`
    * is fixed and small (rank weights converge geometrically); lineage
    * is linear in iters, no checkpoint needed at these depths.
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
               src: String = "src", dst: String = "dst"): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1,20]")
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // r16 shuffle diet (guide §2.4): outdeg rides ON the edge row, joined
    // ONCE before the loop — the per-iteration plan was ranks⋈outdeg THEN
    // edges⋈shares (two joins, two shuffles of rank-sized data per hop);
    // with (src, dst, outdeg) pre-joined each hop is ONE equi-join of
    // ranks onto the weighted edges plus the partial+final sum by dst.
    // `r div outdeg` is unchanged BIGINT arithmetic — identical ranks.
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
    var ranks = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val inbound = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"), expr("r div outdeg").as("share"))
        .groupBy("dst").agg(sum("share").as("insum"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(inbound, Seq("node"), "left")
        .select(col("node"),
          (lit(150000L) +
            expr("(850 * coalesce(insum, CAST(0 AS BIGINT))) div 1000")).as("r"))
    }
    ranks
  }

  /** Multi-source BFS: shortest hop count from ANY seed node, over a
    * directed edge table, bounded at `maxHops`. The frontier-expansion
    * formulation — per round ONE equi-join of the (small, shrinking)
    * frontier onto the edge list plus one anti-join against the settled
    * set — is the scale-correct choice: the tempting transitive-closure
    * join materializes every (seed, node) reachability pair, O(S·V),
    * while each round here shuffles only the frontier fan-out. Rounds
    * are bounded a priori (`maxHops` is a query parameter, not a
    * convergence guess). Each round ends in an eager `localCheckpoint`:
    * the settled set feeds the NEXT round twice (union branch + anti-join
    * build side), so without lineage truncation the analyzed plan DOUBLES
    * per round and the driver OOMs just rendering it by hop ~10 — same
    * failure mode the rounds of [[Dedup.duplicateClusters]] guard
    * against. The materialization also makes the empty-frontier probe
    * free, so exhausted searches stop early instead of scheduling no-op
    * rounds.
    * Unreached nodes are absent from the output (the caller left-joins if
    * it wants NULL-hops rows).
    *
    * Reference analog: graph reachability the reference would express as
    * a recursive CTE (src/validation/syntax.md WITH RECURSIVE); the
    * oracle uses exactly that formulation.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int,
          src: String = "src", dst: String = "dst",
          node: String = "node"): DataFrame = {
    require(maxHops >= 0 && maxHops <= 12, "maxHops must be in [0,12]")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(src).as("src"), col(dst).as("dst")).distinct()
      .persist(lvl) // feeds one join per round
    var dist = seeds.select(col(node).as("node")).distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(eager = true)
    var frontier = dist
    var frontierNonEmpty = true
    var h = 1
    while (h <= maxHops && frontierNonEmpty) {
      // explicit aliases: frontier/seeds often DERIVE from the edge frame
      // (seeds = some node subset), so the join is a self-join to the
      // analyzer — qualified names keep it unambiguous.
      // r16: the round runs ONE action instead of three — `next` and the
      // dist union are LAZY checkpoints, and the count doubles as the
      // empty-frontier probe. Plan truncation is immediate either way
      // (both frames are LogicalRDDs from here on), but only `next`'s
      // partitions are SAVED by this round's count: the dist union
      // materializes during the NEXT round's single action (through the
      // anti-join build side) — or never, if the loop exits first, in
      // which case the caller's action computes it from `next`'s saved
      // partitions. LocalRDDCheckpointData backfills missing partitions
      // on first use; do not edit this loop assuming dist is already on
      // disk at the bottom of the round.
      val next = frontier.select(col("node")).as("_bfs_f")
        .join(e.as("_bfs_e"), col("_bfs_f.node") === col("_bfs_e.src"))
        .select(col("_bfs_e.dst").as("node"))
        .distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h.toLong))
        .localCheckpoint(eager = false)
      dist = dist.union(next).localCheckpoint(eager = false)
      frontierNonEmpty = next.count() > 0
      frontier = next
      h += 1
    }
    e.unpersist()
    dist
  }
}
