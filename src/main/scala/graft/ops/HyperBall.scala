package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall-style neighborhood function — "how many (source,
  * reachable-node) pairs exist within t hops", the distance census
  * behind effective-diameter / centrality screens on web-scale link
  * graphs (Boldi & Vigna's HyperBall: per-node HyperLogLog registers
  * of the t-ball, advanced one bulk-synchronous hop per round).
  *
  * Two paths, one contract:
  *  - [[estimateNeighborhood]] is the SCALE path: each node carries a
  *    sparse set of (bucket, max-rho) HLL registers; one round = one
  *    equi-join of the register table with the edge list plus one
  *    map-side-combinable max-merge — O(m·|V|) state, never a pair
  *    table. This is what a 10^11-node graph runs.
  *  - [[exactNeighborhood]] is the AUDIT path: the literal distinct
  *    (source, node) pair expansion, affordable only on bounded
  *    fixtures — the oracle replays it as a depth-bounded recursive
  *    CTE, and the registered query gates the estimate against it
  *    (the planted-recall convention: approximate structures never
  *    reach the comparator, their quality flag does).
  *
  * All register arithmetic is integer (xxhash64 bucket bits, rho via
  * `length(bin(...))` — no float log2 off-by-one at powers of two);
  * floats appear only in the estimator feeding the audit flag.
  */
object HyperBall {

  /** Exact pairs-within-t: one row `(t, n_pairs)` per t in [0, maxT].
    * One [[CheckpointUtil.rounds]] round per radius, whose count is
    * the round's one action.
    */
  def exactNeighborhood(edges: DataFrame, maxT: Int): DataFrame = {
    require(maxT >= 0 && maxT <= 8, s"maxT must be in [0,8], got $maxT")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = CheckpointUtil.ckpt(
      edges.select(col("src"), col("dst")).distinct(), eager = false)
    try {
      // round t + 1 is radius t: the identity pairs, then one hop per
      // round — ball_{t+1}(v) adds ball_t(u) for every out-edge v -> u
      val (pairs, counts) = CheckpointUtil.rounds(maxT + 1,
        step = {
          case null =>
            e.select(col("src").as("v"))
              .union(e.select(col("dst").as("v"))).distinct()
              .select(col("v").as("p_src"), col("v").as("p_dst"))
          case pairs =>
            pairs
              .union(e.join(pairs, e("dst") === pairs("p_src"))
                .select(e("src").as("p_src"), col("p_dst")))
              .distinct()
        },
        witness = _.agg(count(lit(1))),
        untilRepeat = false)
      CheckpointUtil.free(pairs)
      counts.zipWithIndex.map { case (n, t) => (t, n.asInstanceOf[Long]) }
        .toDF("t", "n_pairs")
    } finally CheckpointUtil.free(e)
  }

  /** HLL-register estimate of the same census: one row `(t, est)` per
    * t in [0, maxT], `est` = Σ_v (per-node cardinality estimate of
    * ball_t(v)) with the standard small-range linear-counting switch.
    * `p` register-index bits (m = 2^p registers, 4 <= p <= 12).
    *
    * State is SPARSE: only hit (node, bucket) registers exist as rows
    * — a t-ball of b nodes costs <= min(b, m) rows — and one hop is
    * exactly `regs ⨝ edges` + `groupBy(node, bucket).max(rho)`, both
    * shuffles on small integer keys.
    */
  def estimateNeighborhood(
      edges: DataFrame, maxT: Int, p: Int = 6): DataFrame = {
    require(maxT >= 0 && maxT <= 8, s"maxT must be in [0,8], got $maxT")
    require(p >= 4 && p <= 12, s"p must be in [4,12], got $p")
    val m = 1 << p
    // alpha_m per Flajolet et al. (public HLL constants)
    val alpha =
      if (m == 16) 0.673 else if (m == 32) 0.697
      else if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)

    val spark = edges.sparkSession
    import spark.implicits._
    val e = CheckpointUtil.ckpt(
      edges.select(col("src"), col("dst")).distinct(), eager = false)
    // register seed: node v hits bucket h & (m-1) with rho = leading
    // zeros of the remaining 64-p bits, + 1 — all integer expressions
    val h = xxhash64(col("node"))
    val w = shiftrightunsigned(h, p)
    // the per-radius estimate is the round's witness (floats live only
    // here, feeding the audit flag)
    def est(regs: DataFrame): DataFrame = regs.groupBy(col("node")).agg(
        count(lit(1)).as("nz"),
        sum(pow(lit(2.0), -col("rho"))).as("zsum"))
      .select(
        when(lit(alpha * m * m) /
            (col("zsum") + (lit(m) - col("nz")).cast("double")) <=
            lit(2.5 * m) && col("nz") < m,
          lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m) - col("nz")).cast("double")))
          .otherwise(lit(alpha * m * m) /
            (col("zsum") + (lit(m) - col("nz")).cast("double")))
          .as("e"))
      .agg(sum(col("e")))

    try {
      val (regs, ests) = CheckpointUtil.rounds(maxT + 1,
        step = {
          case null =>
            e.select(col("src").as("node"))
              .union(e.select(col("dst").as("node"))).distinct()
              .select(
                col("node"),
                (h.bitwiseAND(lit((m - 1).toLong))).cast("int").as("j"),
                when(w === 0, lit(64 - p + 1))
                  .otherwise(lit(64 - p) - length(bin(w)) + 1)
                  .cast("int").as("rho"))
          case regs =>
            regs
              .unionByName(e.join(regs, e("dst") === regs("node"))
                .select(e("src").as("node"), col("j"), col("rho")))
              .groupBy(col("node"), col("j"))
              .agg(max(col("rho")).as("rho"))
        },
        witness = est,
        untilRepeat = false)
      CheckpointUtil.free(regs)
      ests.zipWithIndex.map { case (x, t) => (t, x.asInstanceOf[Double]) }
        .toDF("t", "est")
    } finally CheckpointUtil.free(e)
  }

  /** The audited census: `(t, n_pairs, est_ok)` — exact pairs per
    * radius plus the flag that the register estimate landed within
    * `tolPct` percent. The estimate itself never reaches the output
    * (engine-dependent float accumulation); the flag does.
    */
  def auditedNeighborhood(
      edges: DataFrame, maxT: Int, p: Int = 6,
      tolPct: Int = 10): DataFrame = {
    require(tolPct >= 1, s"tolPct must be >= 1, got $tolPct")
    val exact = exactNeighborhood(edges, maxT)
    val est = estimateNeighborhood(edges, maxT, p)
    exact.join(est, Seq("t"))
      .select(col("t"), col("n_pairs"),
        (abs(col("est") - col("n_pairs")) * 100 <=
          lit(tolPct.toDouble) * col("n_pairs")).as("est_ok"))
  }
}
