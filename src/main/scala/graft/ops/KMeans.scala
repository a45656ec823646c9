package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs

/** Integer-exact spherical k-means over int8-quantized embeddings —
  * the in-engine cluster-assignment pass that feeds
  * [[SemDedup.semDedup]] (SemDeDup's "cluster the embedding space"
  * step, Abbas et al. 2023) and stands in for the trained coarse
  * quantizer of the IVF ANN path ([[Similarity.ivfTopK]]).
  *
  * Every arithmetic step is chosen to be bit-reproducible in ANY
  * engine, so an external SQL oracle can replay the full Lloyd
  * iteration and land on identical labels:
  *
  *  - vectors are quantized to int8 codes first
  *    ([[Quantization.int8Codes]] — exact power-of-two scale);
  *  - the assignment score is cosine-ordered via the signed-square
  *    trick: `argmax qdot/sqrt(cnorm2)` = `argmax sign(qdot) * qdot^2
  *    / cnorm2`, where `qdot`/`cnorm2` are EXACT integer dot products
  *    (≤ 2^40 / 2^20 for 64 dims — exact as doubles) and the single
  *    IEEE division is correctly rounded, hence bit-identical across
  *    engines; ties break toward the lower cell id; a degenerate
  *    all-zero centroid scores -Infinity (never wins while any
  *    non-degenerate cell exists);
  *  - the centroid update is `floor(sum / count)` per dimension —
  *    integer sums are exact, and at int8 magnitudes the double
  *    division can only round onto an integer when it IS that integer,
  *    so the floor is exact in both engines (a fractional centroid
  *    would otherwise accumulate engine-ordering noise).
  *
  * Scale shape: assignment is a ZERO-SHUFFLE per-row projection — the
  * k centroids are packed into ONE broadcast row of array<struct> and
  * the argmax runs inside the row (`array_max` over score structs),
  * so the corpus never shuffles for assignment (an ivfAssign-style
  * window would move corpus×k rows). Each Lloyd round costs one
  * corpus scan plus a k×(d+1)-cell aggregation whose partial rows are
  * map-side-combined — the shuffle moves k·d partial sums per
  * partition, never data. `iters` corpus scans total: exactly Lloyd,
  * nothing super-linear.
  */
object KMeans {

  /** Centroids with their integer squared norm, packed into a single
    * row `(cents: array<struct<cell:int, cvec:array<int>,
    * cnorm2:long>>)` for the broadcast-into-row assignment.
    */
  private[ops] def packed(centroids: DataFrame): DataFrame =
    centroids
      .withColumn("cnorm2", VectorExprs.intDot(col("cvec"), col("cvec")))
      .agg(collect_list(struct(col("cell"), col("cvec"), col("cnorm2")))
        .as("cents"))

  /** Per-row nearest-centroid label: input `(vec_id, embedding, qvec)`
    * plus centroids `(cell, cvec)` → the same columns plus `label`.
    * Zero-shuffle: one broadcast of the packed centroid row, argmax
    * evaluated inside each row over the struct-ordered score
    * (score DESC, cell ASC via the negated-cell tiebreak).
    */
  def assign(q: DataFrame, centroids: DataFrame): DataFrame =
    // Native codegen'd kernel (r22, guide §4): a composed HOF form's
    // per-row k-struct allocation + interpreted lambda dispatch priced
    // every assignment pass (3 corpus passes per fitAssign at
    // iters=2). Parity-pinned against that form in KMeansSpec.
    q.crossJoin(broadcast(packed(centroids)))
      .withColumn("label",
        VectorExprs.kmeansLabel(col("qvec"), col("cents")))
      .drop("cents")

  /** One Lloyd centroid update from an assigned frame `(label, qvec)`:
    * per-cell, per-dimension `floor(sum/count)` — exact, see object
    * doc. Empty cells simply vanish (GROUP BY over members only); the
    * next assignment round then spreads their vectors over the
    * surviving cells, which is the deterministic analog of the usual
    * "drop dead centroids" treatment.
    */
  def refine(assigned: DataFrame, dims: Int): DataFrame = {
    val sums = (0 until dims).map(i => sum(col("qvec")(i)).as(s"s_$i"))
    assigned.groupBy(col("label").as("cell"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("cnt")): _*)
      .select(col("cell"),
        array((0 until dims).map(i =>
          floor(col(s"s_$i").cast("double") / col("cnt")).cast("int")): _*)
          .as("cvec"))
  }

  /** Fit `iters` Lloyd rounds from deterministic seeds (the codes of
    * the `k` lowest vec_ids — the same stand-in-for-trained-centroids
    * convention as ann_ivf_topk) and return the final per-vector
    * labeling `(vec_id, embedding, label)` — exactly the input shape
    * [[SemDedup.semDedup]] expects.
    */
  def fitAssign(
      vectors: DataFrame,
      k: Int = 8,
      iters: Int = 2,
      dims: Int = 64,
      logScale: Int = 6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val q = vectors.select(col("vec_id"), col("embedding"),
      Quantization.int8Codes(col("embedding"), logScale).as("qvec"))
    // Seed from the k SMALLEST vec_ids BY RANK, cells numbered
    // 0..k-1 — identical to the old `vec_id < k` rule on a dense
    // 0-based id space (every gate corpus and its SQL replays), but
    // id-shift-proof: `vec_id < k` on a corpus slice whose ids start
    // above k matched NOTHING and silently trained an EMPTY model,
    // which poisoned every downstream artifact with 0 rows and only
    // ERRORED when AQE happened to build the dense-codebook check's
    // broadcast before empty-relation propagation elided it — the
    // r17 RunAnnIndexSpec flake's actual root cause (VERDICT #6; the
    // suspected shared-session state was innocent).
    val init = q.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("qvec"))
      .withColumn("cell",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("vec_id"))) - 1).cast("int"))
      .select(col("cell"), col("qvec").as("cvec"))
    // Round-state lifecycle is DEPTH-DEPENDENT (r21 optimization):
    // each round's centroid frame is referenced exactly ONCE
    // downstream (the next assign's packed-agg is its only consumer,
    // and the final labeling reads the last round once), so for small
    // static round counts the lazy chain evaluates every round
    // exactly once inside ONE final action — per-round eager
    // checkpoints added `iters` driver-synchronized jobs and block
    // materializations for nothing (measured at sf0.1:
    // kmeans_assign 2.14 → ~1.3 s, and the semdedup_e2e family
    // inherits the same cut). This is NOT the r17 anti-pattern
    // ("don't compose multiply-referenced join layers lazily"): that
    // failure mode needs a frame referenced 2-3× per layer; a
    // single-reference chain has no re-execution term. Deeper
    // trainings (iters > 4) keep the per-round checkpoint so plan
    // depth and optimizer time stay bounded; superseded rounds then
    // free their pinned blocks as the next round materializes.
    val chained = (1 to iters).foldLeft(init) { (c, round) =>
      if (iters <= 4) refine(assign(q, c), dims)
      else {
        val next = CheckpointUtil.ckpt(refine(assign(q, c), dims))
        if (round > 1) CheckpointUtil.free(c)
        next
      }
    }
    // The FINAL model is always eagerly checkpointed (k×(d+1) ints —
    // bytes): consumers reference the returned labeling several times
    // (SemDedup reads it on both pair sides plus the final labeling),
    // and without this barrier each reference would re-execute the
    // whole training chain (measured at sf0.1: semdedup_e2e 5.1 →
    // 7.7 s when left lazy). With it, a re-reference only replays the
    // cheap final broadcast-assign projection. Net actions per
    // fitAssign in the lazy regime: exactly one. In the DEEP regime
    // (iters > 4) the fold's last round is already an eager
    // checkpoint — re-checkpointing it was a redundant second job of
    // the final model (ADVICE r21), so only the lazy regime barriers.
    val fitted =
      if (iters >= 1 && iters <= 4) CheckpointUtil.ckpt(chained)
      else chained
    assign(q, fitted)
      .select(col("vec_id"), col("embedding"), col("label"))
  }
}
