package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer HITS (hubs & authorities) over a directed edge list — the
  * second classic link-analysis score next to [[PageRank]]: a node is
  * a good AUTHORITY when good hubs point at it and a good HUB when it
  * points at good authorities (Kleinberg's mutual reinforcement). On
  * a bipartite interaction graph (customers → suppliers, queries →
  * documents) the two sides get separately meaningful scores, which
  * PageRank's single score conflates.
  *
  * Deliberately UNNORMALIZED integers: the textbook L2 normalization
  * exists only to stop float overflow across many rounds — at a fixed
  * small round count the raw mutual-reinforcement sums are exact
  * BIGINTs and replay bit-for-bit in any engine (the [[PageRank]]
  * fixed-point reasoning; the oracle unrolls the rounds as CTEs).
  * Rankings are identical to the normalized variant because each
  * round's normalizer is a positive global constant. Magnitudes grow
  * like `(max degree)^(2·rounds)`: at the default 2 rounds a hub
  * score is bounded by `d_max⁴ · |V|` — inside BIGINT for degrees to
  * ~30k at 10^6 nodes; past that drop to 1 round or pre-trim hot
  * nodes (the score of a degree-30k hub is not what HITS is for).
  *
  * Scale shape: per half-round ONE equi-join of the edge list with
  * the score table (shuffled on the join key) and one map-side-
  * combinable groupBy — identical traffic to a PageRank round. The
  * plan is statically unrolled (no loop, no checkpoints): at 2
  * rounds Catalyst sees the whole DAG and reuses the edge exchange
  * across all four joins.
  */
object Hits {

  /** `(node, hub, auth)` after `rounds` full hub↔authority rounds
    * over the DISTINCT directed edges `(src, dst)`. Every node starts
    * with hub = 1; a node with no out-edges has hub 0 in later
    * rounds, one with no in-edges auth 0 — both still appear (the
    * node table is the union of both endpoints).
    */
  def hitsFixed(edges: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // e is referenced 2× per round and nodes 2× per round + the final
    // join; AQE's runtime exchange reuse recovers SOME of that (the
    // r21 reuse audit (`Inspect reuse`) measured the un-checkpointed final plan at 5
    // source scans / 10 reused stages), but the edge derivation
    // (scan→join→distinct) still executed repeatedly. Checkpointing
    // both graph tables once (the PageRank lifecycle) costs 2 driver
    // actions and makes every later reference a block read.
    val e = CheckpointUtil.ckpt(
      edges.select(col("src"), col("dst")).distinct())
    val nodes = CheckpointUtil.ckpt(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    var hub = nodes.withColumn("hub", lit(1L))
    var auth: DataFrame = null
    for (_ <- 1 to rounds) {
      // auth(d) = Σ_{s→d} hub(s): join on src, combine on dst
      val a = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub")).as("auth"))
      auth = nodes.join(a, Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"))
      // hub(s) = Σ_{s→d} auth(d): join on dst, combine on src
      val h = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth")).as("hub"))
      hub = nodes.join(h, Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub"))
    }
    // final eager checkpoint makes the returned frame self-contained
    // (node-sized blocks) so the graph-table checkpoints release now
    // instead of staying pinned until the session sweep — the
    // PageRank lifecycle
    val out = CheckpointUtil.ckpt(hub.join(auth, Seq("node"))
      .select(col("node"), col("hub"), col("auth")))
    CheckpointUtil.free(e, nodes)
    out
  }
}
