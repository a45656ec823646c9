package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
  * the embedding space, compare pairs only WITHIN a cluster, connect
  * pairs above a cosine threshold, and keep one representative per
  * connected group.
  *
  * Two deliberate re-expressions keep the operator engine-exact:
  *
  *  - The cluster assignment is an input column (`label`), not an
  *    in-operator k-means: at 100 TB the assignment is a separate,
  *    cheaper pass (or comes from the upstream embedding model), and
  *    taking it as input makes this stage a pure deterministic
  *    function of its input — replayable by the SQL oracle.
  *  - Similarity is computed on int8-quantized codes
  *    ([[Quantization.int8Codes]] — bit-identical in any engine) and
  *    the cosine threshold is cross-multiplied into EXACT integer
  *    arithmetic: `cos(a,b) >= t/100` becomes `qdot > 0 AND
  *    10000*qdot^2 >= t^2 * norm2(a) * norm2(b)` (both sides
  *    squared; the `qdot > 0` guard keeps the squaring monotone).
  *    Magnitudes: |code| <= 128, so `10000 * qdot^2 <= 10000 * d^2 *
  *    128^4` stays inside Long exactly when the dimension `d <=
  *    1853` — enforced per row (a codegen'd `size` check on the scan
  *    projection, [[MaxDims]] = 1850) so a 4096-dim embedding fails
  *    loudly instead of silently flipping the comparison.
  *
  * Scale shape: quantization is a per-row projection on the scan; the
  * pair stage is an equi-join on `label`, so the quadratic term is
  * bounded per cluster — exactly the lever SemDeDup's k controls
  * (size clusters so |cluster| ~ N/k keeps pairs per cluster flat as
  * N grows; a runaway cluster is the same pathology, with the same
  * remedy, as the MinHash maxBucket guard). Edges then feed the
  * engine's O(log d) pointer-jumping components
  * ([[Components.edgeComponents]]), and the final labeling is one
  * broadcast-sized left join back onto the vectors — near-duplicate
  * groups are rare by nature, so the edge-incident label frame is
  * tiny next to the corpus.
  */
object SemDedup {

  /** Largest embedding dimension for which the cross-multiplied edge
    * test is overflow-exact in Long: codes are in [-128, 127], so
    * `10000 * qdot^2 <= 10000 * (d * 128^2)^2` must stay below
    * 2^63-1, which holds up to d = 1853 (1850 kept as margin). The
    * same bound covers the right-hand side `t2 * na * nb`.
    */
  val MaxDims: Int = 1850

  /** Embedding column guarded by the [[MaxDims]] overflow bound: a
    * per-row `size` check (O(1), codegen'd) that raises instead of
    * letting an oversized vector silently overflow the integer edge
    * test. Wrapping the VALUE (not a side-channel assert column)
    * keeps the guard alive through column pruning.
    */
  private def boundedEmbedding(vec: org.apache.spark.sql.Column) =
    when(size(vec) <= MaxDims, vec).otherwise(raise_error(concat(
      lit(s"semDedup: embedding dimension exceeds overflow-safe " +
        s"bound $MaxDims, got "), size(vec).cast("string"))))

  /** Label every vector with its semantic-duplicate component:
    * (vec_id, label, component, is_dup) where `component` is the
    * minimum vec_id reachable through pairs with quantized cosine >=
    * `cosPct`/100 inside one cluster, and `is_dup` = 1 exactly for
    * the vectors a keep-one-per-group pass would drop. A NULL
    * `label` never equi-joins, so unclustered vectors skip pairing
    * and come back as their own singleton component — the safe
    * default for assignment gaps.
    */
  def semDedup(
      vectors: DataFrame,
      cosPct: Int = 97,
      logScale: Int = 6,
      maxClusterSize: Long = 1L << 17): DataFrame = {
    require(cosPct > 0 && cosPct <= 100, s"cosPct in (0,100], got $cosPct")
    require(maxClusterSize >= 2,
      s"maxClusterSize must be >= 2, got $maxClusterSize")
    // Lazy in-job barrier (r22): q is referenced FIVE times — both
    // pair sides, the eligible aggregate behind each side's broadcast,
    // and the final labeling join — and each reference re-ran the
    // quantization projection over the corpus. The lazy checkpoint
    // materializes it once at the first action and every later
    // reference is a block read (the r17 cache-barrier lesson).
    val q = CheckpointUtil.ckpt(vectors.select(col("vec_id"), col("label"),
      Quantization.int8Codes(boundedEmbedding(col("embedding")), logScale)
        .as("qvec"))
      .withColumn("norm2", Quantization.intDot(col("qvec"), col("qvec"))),
      eager = false)
    // Mega-cluster guard, same contract as the MinHash maxBucket
    // guard: a cluster whose size breaks the |cluster| ~ N/k sizing
    // assumption would make the pair stage quadratic in IT alone
    // (maxClusterSize² candidate pairs is the worst case this
    // operator will ever plan), so oversized clusters are EXCLUDED
    // from pairing — their members come back as singletons (recall
    // loss on that cluster only, never false positives). The eligible
    // set is one tiny (≤ k rows) broadcast against both pair sides.
    val eligible = q.groupBy(col("label"))
      .agg(count(lit(1)).as("__csize"))
      .filter(col("__csize") <= maxClusterSize)
      .select(col("label"))
    val a = q.join(broadcast(eligible), Seq("label"))
      .select(col("label"), col("vec_id").as("src"),
        col("qvec").as("qa"), col("norm2").as("na"))
    val b = q.join(broadcast(eligible), Seq("label"))
      .select(col("label"), col("vec_id").as("dst"),
        col("qvec").as("qb"), col("norm2").as("nb"))
    val t2 = cosPct.toLong * cosPct
    val qdot = Quantization.intDot(col("qa"), col("qb"))
    val edges = a.join(b, Seq("label"))
      .filter(col("src") < col("dst"))
      .withColumn("qdot", qdot)
      .filter(col("qdot") > 0 &&
        col("qdot") * col("qdot") * 10000L >=
          lit(t2) * col("na") * col("nb"))
      .select(col("src"), col("dst"))
    q.select(col("vec_id"), col("label"))
      .join(Components.edgeComponents(edges)
        .withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("is_dup",
        (col("vec_id") =!= col("component")).cast("int"))
  }
}
