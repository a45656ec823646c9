package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA) — the
  * cheap community signal a link-graph pipeline runs next to PageRank
  * and the triangle census: every node starts as its own label, and
  * each round adopts the most frequent label among its neighbors
  * (ties to the SMALLEST label, so every round is a pure function of
  * the previous labeling and the result replays exactly engine to
  * engine).
  *
  * A fixed round count keeps the operator deterministic (synchronous
  * LPA can oscillate on bipartite structures; bounded rounds sidestep
  * the fixpoint question the same way `kcore_peel` bounds its peel).
  * Per round: one equi-join of the adjacency list against the
  * (node, label) table and one map-side-combinable count — no
  * windows, no all-pairs anything; the adjacency list is checkpointed
  * ONCE and the tiny label table per round, so round k's plan never
  * re-derives the edge normalization (the PageRank lineage-cut
  * lesson, SCALE.md).
  */
object LabelProp {

  /** `(node, label)` after `rounds` synchronous LPA rounds over the
    * undirected simple graph of `edges` (`src`/`dst`; directions,
    * duplicates and self-loops normalize away first).
    */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val adj = CheckpointUtil.ckpt(und.select(col("a").as("n"), col("b").as("m"))
      .unionByName(und.select(col("b").as("n"), col("a").as("m"))))
    var labels = adj.select(col("n")).distinct()
      .withColumn("lbl", col("n"))
    for (round <- 1 to rounds) {
      val counts = adj
        .join(labels.select(col("n").as("m"), col("lbl")), "m")
        .groupBy(col("n"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc): labels are node ids >= 0,
      // so max over (c, -lbl) picks the largest count, smallest label
      val next = CheckpointUtil.ckpt(counts
        .groupBy(col("n"))
        .agg(max(struct(col("c").as("c"), (-col("lbl")).as("neg")))
          .as("s"))
        .select(col("n"), (-col("s.neg")).as("lbl")))
      // `next` is materialized (eager checkpoint): the superseded
      // round's blocks release now (round 1's seed labeling derives
      // from `adj`, not a checkpoint of its own — nothing to free yet)
      //
      // Stats-blowup audit (r19, the Scc/KCore class): this loop
      // does NOT need freshStatsFrame — each round joins the
      // FIXED-stats `adj` checkpoint against the evolving labels
      // exactly once, so the inherited size estimate grows
      // ADDITIVELY in digits per round (digits(next) = digits(adj) +
      // digits(labels)), never multiplicatively against itself;
      // bounded-rounds LPA stays far from BigInteger territory.
      if (round > 1) CheckpointUtil.free(labels)
      labels = next
    }
    // the final labeling is a self-contained checkpoint (rounds >= 1
    // is required above), so the adjacency scaffold releases here
    CheckpointUtil.free(adj)
    labels.select(col("n").as("node"), col("lbl").as("label"))
  }
}
