package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a candidate-pair graph — the
  * clustering step that turns near-duplicate PAIRS (MinHash/SimHash/
  * cosine candidates) into duplicate GROUPS, so a dedup pass can keep
  * one canonical document per cluster instead of per pair.
  *
  * Algorithm: min-label propagation with pointer jumping.
  * Each round does
  *   1. closed-neighborhood min — every node takes the min label over
  *      itself and its neighbors in ONE join + partial-aggregated `min`
  *      (self-loops added up front make the closed form a single
  *      aggregate; a hot node's fan-in is combined map-side, never
  *      collected on one reducer);
  *   2. pointer jump — every node re-reads the label OF its label
  *      (`lbl ← lbl(lbl)`), halving the depth of every label tree.
  * Rounds to converge: O(log diameter) thanks to the jump (a plain
  * propagation needs O(diameter) — a 500-long chain would take 500
  * shuffles; with jumping it takes ~9). This is the same doubling idea
  * as the Kiveris et al. "Connected Components in MapReduce" two-phase
  * (large-star/small-star) algorithm, in DataFrame form.
  *
  * Scale notes:
  *  - The edge frame — the big, static join side — is hash-partitioned
  *    on the join key once, before the loop; the checkpoint preserves
  *    that partitioning, so per-round shuffles move only the label
  *    frame (|V_active| rows), never the edges.
  *  - The driver loop holds only the iteration counter and one decimal
  *    label-sum per round (an exact convergence witness: labels are
  *    per-node non-increasing, so sum equality ⇒ fixpoint) — no label
  *    data ever leaves the executors.
  *  - Each round is one [[CheckpointUtil.rounds]] round: checkpointed
  *    (lineage cut; the reliable flavor under
  *    `spark.graft.reliableCheckpoints`), stats reset, one sum action.
  *    Batching several rounds per action measured no faster (SCALE.md,
  *    round 17 and the r20 bowtie adjudication).
  *  - Input edges should come from an LSH/banding candidate stage, so
  *    |E| is near-linear in |V| — never feed an all-pairs product.
  */
object Components {

  /** Connected components of `edges(src, dst)` over the node universe
    * `nodes(node)` (nodes absent from every edge stay singletons).
    * Returns `(node, component)` where `component` is the minimum node
    * id reachable from `node`.
    */
  def connectedComponents(
      edges: DataFrame,
      nodes: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val labels = edgeComponents(edges, maxIter)
    // Nodes absent from every edge never enter a propagation round (the
    // loop iterates over edge-incident nodes only — O(|E|) per round,
    // not O(|corpus|)); they come back as their own component here. The
    // final label frame's node set IS the active set, so the anti-join
    // needs no separate distinct-node materialization.
    val singletons = nodes.select(col("node"))
      .join(labels.select(col("node")), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    labels.unionByName(singletons)
  }

  /** [[connectedComponents]] restricted to EDGE-INCIDENT nodes — no
    * singleton back-fill against a node universe. Every edge puts both
    * endpoints in a component of size ≥ 2, so consumers that only care
    * about non-singleton clusters (e.g. [[componentSizes]], whose
    * `size > 1` filter discards singletons anyway) get the identical
    * answer without the corpus-wide anti-join.
    */
  def edgeComponents(
      edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // maxIter <= 0 would skip the loop entirely and reach the
    // exhaustion diagnostics with no labeling at all (ADVICE r10)
    require(maxIter >= 1,
      s"maxIter must be >= 1 (got $maxIter); pointer jumping needs at " +
        "least one round to produce a labeling")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // Materialize the candidate-edge pipeline EXACTLY ONCE, and lazily.
    // Every downstream frame (active set, self-loops, the per-round
    // join side) derives from this checkpoint, never from the upstream
    // plan — an EAGER checkpoint per derived frame would re-run the
    // whole edge pipeline (LSH candidate generation and Jaccard
    // verification included) once per checkpoint, tripling the most
    // expensive stage of the query; at 100 TB the re-runs would
    // dominate the job outright. Lazy (`eager = false`) additionally
    // lets the first real action drive the setup materializations as
    // stages of one adaptive execution, persisting each checkpointed
    // frame as it streams past, instead of paying one scheduler
    // round-trip per frame.
    // Duplicate edges are tolerated rather than `distinct()`-ed away:
    // min-label propagation is idempotent under edge multiplicity (a
    // dup only re-asserts the same min), candidate stages already emit
    // distinct pairs, and dropping the distinct removes a full
    // edge-width shuffle; dedup upstream if a custom candidate stage
    // can emit heavy duplication (fan-out, not correctness).
    val symCk = CheckpointUtil.ckpt(sym, eager = false)
    // Self-loops turn the neighbor-min into a min over the CLOSED
    // neighborhood, so one join + partial-agg per round replaces the
    // round-6/7 shape's join + agg + second left-join. The loops are
    // emitted per EDGE OCCURRENCE (`src → src` off the checkpoint),
    // not per distinct node: a distinct-node frame would cost its own
    // shuffle + materialization, while the duplicates only re-assert
    // the same min inside an aggregate that partial-combines map-side
    // (degrees are bounded by the candidate stage's maxBucket guard).
    // Pre-partitioning on `src` (the per-round join key) is captured by
    // the checkpoint's LogicalRDD outputPartitioning, so the edge
    // side — the big, static side — is shuffled ONCE here and never
    // again inside the loop; each round only exchanges the (small,
    // changing) label frame. This shuffle moves only (long, long) rows
    // off the checkpoint — the shingle/Jaccard work is already
    // materialized above.
    val symSelf = CheckpointUtil.ckpt(symCk
      .union(symCk.select(col("src"), col("src").as("dst")))
      .repartition(col("src")), eager = false)
    // The returned labeling is a self-contained checkpoint — consumers
    // compute from ITS blocks, never from the loop scaffolding — so the
    // edge checkpoints release here, on success and on exhaustion.
    // Only the final frame stays pinned (callers done with it can
    // CheckpointUtil.free the result).
    try closedMinLabels(symSelf, maxIter, "components")
      .withColumnRenamed("lbl", "component")
    finally CheckpointUtil.free(symSelf, symCk)
  }

  /** `(node, lbl)` for every node of `closed(src, dst)`, `lbl` = the
    * minimum `src` that reaches the node along `closed`'s edges — the
    * round body [[edgeComponents]] and [[Scc]]'s peel share. `closed`
    * must hold a self-loop per node (every node is then a `dst`, the
    * aggregate's key set, and the min is over the CLOSED neighborhood)
    * and is the caller's: it stays pinned. Each round:
    *   1. closed-neighborhood min — every node takes the min label over
    *      itself and its in-neighbors in ONE join + partial-aggregated
    *      `min` (round 1 exploits that the seed labeling is the
    *      identity, so the join collapses to a direct aggregate);
    *   2. pointer jump, `lbl ← lbl(lbl)`: a label reaches the node, and
    *      the label's label reaches the label, so the substitution is
    *      sound and halves every label tree's depth where labels fall
    *      along a path.
    * The jump's self-join reads the step's aggregate twice; both sides
    * share its exchange via ReusedExchange, so it needs no checkpoint
    * of its own (checkpointing the aggregate, Scc's former shape, ran
    * neardup_components in 36 jobs instead of 30 at sf0.01). Adaptive
    * execution may re-plan the jump as a broadcast join: one more job
    * per round, yet faster at sf0.1 than a sort-merge join forced by
    * hint (semdedup_keep_e2e 2.6 s vs 3.0–3.9 s).
    * Convergence = label-sum fixpoint, and it is EXACT: both steps are
    * per-node non-increasing, so the decimal sum strictly falls until
    * the fixpoint and sum equality means every node is unchanged
    * ([[CheckpointUtil.rounds]]).
    */
  private[ops] def closedMinLabels(
      closed: DataFrame, maxRounds: Int, what: String): DataFrame =
    CheckpointUtil.rounds(maxRounds,
      step = { labels =>
        val stepped =
          if (labels == null)
            closed.groupBy(col("dst").as("node"))
              .agg(min(col("src")).as("lbl"))
          else
            closed
              .join(labels.withColumnRenamed("node", "src"), "src")
              .groupBy(col("dst").as("node"))
              .agg(min(col("lbl")).as("lbl"))
        stepped.as("a")
          .join(stepped.as("b"), col("a.lbl") === col("b.node"), "left")
          .select(col("a.node").as("node"),
            coalesce(col("b.lbl"), col("a.lbl")).as("lbl"))
      },
      witness = _.agg(sum(col("lbl").cast("decimal(38,0)"))),
      // round 1's predecessor is the identity labeling
      exhausted = (last, prev, sums) =>
        s"$what did not converge in $maxRounds round(s): " +
          last.except(Option(prev)
            .getOrElse(last.select(col("node"), col("node").as("lbl"))))
            .count() +
          " edge-incident node(s) still changed label in the final " +
          s"round; last two label sums: $sums. Pointer jumping covers " +
          "diameter ~2^rounds where labels fall along a path (a cycle " +
          "against its id order needs O(diameter) rounds), so " +
          "exhaustion suggests a pathological graph or a " +
          "non-deterministic edge source; raise the round bound only " +
          "after ruling those out.")._1

  /** Cluster summary: one row per non-singleton component with its size
    * and canonical (minimum) member.
    */
  def componentSizes(labeled: DataFrame): DataFrame =
    labeled.groupBy("component")
      .agg(count(lit(1)).as("size"), min(col("node")).as("canonical"))
      .filter(col("size") > 1)
}
