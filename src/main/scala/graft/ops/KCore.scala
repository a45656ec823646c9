package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling — the degeneracy screen a link-graph
  * pipeline runs next to PageRank and the triangle census: nodes that
  * survive repeated removal of low-degree neighbors form the densely
  * interconnected core (spam-farm and community scaffolding), while
  * early-peeled nodes are the periphery.
  *
  * Each round drops every node whose CURRENT degree is below `k` and
  * keeps only edges between survivors; `rounds` is a CONSTANT (the
  * PageRank reasoning: a fixed number of bulk-synchronous rounds is
  * deterministic, SQL-replayable by unrolling, and in practice a few
  * rounds separate core from periphery — full convergence is a
  * monotone continuation, never a reversal: once a node is out it
  * stays out, so round r's survivor set contains the true k-core for
  * every r). Per round: one map-side-combinable degree aggregate and
  * two semi-join-shaped equi-joins; the edge list is checkpointed per
  * round (the measured lineage-cut lesson from PageRank/Triangles).
  *
  * Output: `(node, deg)` of the survivors after `rounds` peels, with
  * their degrees INSIDE the surviving subgraph — all exact integers.
  */
object KCore {

  def kcorePeel(
      edges: DataFrame,
      k: Int = 3,
      rounds: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = CheckpointUtil.ckpt(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    for (_ <- 1 to rounds) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
      // freshStatsFrame on the carried edge frame (r19, the Scc
      // lesson applied preventively): `keep` DERIVES from `e`, so
      // the two semi-joins reference e's inherited size estimate
      // THREE times — localCheckpoint copies it forward and the next
      // round cubes it again (digits ×3 per peel, the exponential
      // stats-blowup class; Scc's self-join squared, this one cubes).
      // Invisible at rounds=3; a deep data-driven peel would park the
      // driver in BigInteger.multiply. Resetting stats per round pins
      // the estimate flat; AQE runtime stats govern the actual plan.
      val next = org.apache.spark.sql.graftbridge.ColumnBridge
        .freshStatsFrame(CheckpointUtil.ckpt(e
          .join(keep.withColumnRenamed("node", "a"), "a")
          .join(keep.withColumnRenamed("node", "b"), "b")))
      // the eager checkpoint above has materialized `next` from the
      // previous round's blocks — release them now instead of leaking
      // one dead block set per peel for the session's lifetime; only
      // the final edge frame (what the returned degrees compute from)
      // stays pinned
      CheckpointUtil.free(e)
      e = next
    }
    degrees(e)
  }
}
