package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Int8 embedding quantization — the standard 4× memory/bandwidth
  * lever for billion-scale vector search: a 64-dim float32 embedding
  * (256 B) becomes 64 int8 codes (64 B), and similarity search runs on
  * integer dot products (SIMD-friendly on every backend; exact
  * integer arithmetic here, which is what makes the whole path
  * ORACLE-ABLE — float cosine scores never hash across engines,
  * integer scores do).
  *
  * Quantizer: fixed power-of-two scale, `q_i = clamp(floor(v_i * 64),
  * -128, 127)`. Deliberately NOT per-vector max-abs scaling:
  *  - the embeddings are ~unit-norm (components well inside ±2), so a
  *    global 2^6 scale loses nothing material;
  *  - multiplying by 2^6 after widening float→double is EXACT (scales
  *    the exponent only), and `floor` of an exact double is exact, so
  *    Spark and any external engine (DuckDB renders the same
  *    `floor(CAST(x AS DOUBLE) * 64)`) produce bit-identical codes —
  *    no round-half ambiguity, no per-vector scale column to carry;
  *  - rank ordering under a shared fixed scale is the same as under
  *    any shared per-dataset scale.
  *
  * Scale shape: quantization is a pure per-row projection (scan →
  * project, no shuffle); quantized search reuses the exact same
  * broadcast/top-k shapes as the float path in [[Similarity]].
  */
object Quantization {

  /** Int8 codes for a float-array column, as an int array (int, not
    * byte, so downstream integer dot products stay in one comfortable
    * type; storage formats would pack to bytes at write time).
    */
  def int8Codes(vec: Column, logScale: Int = 6): Column =
    // native codegen'd kernel (r22, guide §4): one loop per row
    // instead of an interpreted per-element HOF — this projection
    // runs over the corpus in every quantized path (quantize, PQ
    // encode/seed, probes, SemDedup, k-means); parity-pinned against
    // the transform/clamp form in QuantizationSpec
    graft.functions.VectorExprs.int8Codes(vec, logScale)

  /** Exact integer dot product of two code arrays (BIGINT — 64 dims ×
    * 127² is far inside long range). Native codegen'd kernel: HOFs are
    * CodegenFallback, too slow for the all-pairs loops this feeds.
    * Parity-pinned against the zip_with/aggregate form in
    * QuantizationSpec.
    */
  def intDot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.intDot(a, b)

  /** Corpus-side quantization: (vec_id, qvec, norm2) with the squared
    * L2 norm of the codes (used for cosine-style normalization checks
    * and spec error bounds; integer, hence exact).
    */
  def quantize(corpus: DataFrame, logScale: Int = 6): DataFrame =
    corpus.select(col("vec_id"),
      int8Codes(col("embedding"), logScale).as("qvec"))
      .withColumn("norm2", intDot(col("qvec"), col("qvec")))

  /** Product quantization codebook — the compressed-index lever for
    * billion-scale ANN: each int8-code vector splits into `m`
    * subvectors of `subDim` dims, and a per-subspace codebook of
    * `kCode` centroids replaces every subvector with a centroid id, so
    * a vector stores as m·log2(kCode) bits (m=8, kCode=16 → 32 bits,
    * 64× under the float embedding). Codebooks here follow the
    * deterministic stand-in-for-trained convention of the IVF path
    * (the `kCode` lowest vec_ids' subvectors; [[KMeans.fitAssign]] is
    * the in-engine trainer when real codebooks are wanted) — which is
    * exactly what makes the whole path SQL-replayable. Retrieval
    * quality, measured honestly: on the synthetic UNCLUSTERED
    * embeddings, seeded codebooks give ~32% recall@10 vs the
    * uncompressed int8 baseline (sf0.01) — random data is PQ's worst
    * case and untrained codebooks compound it; [[pqTrainCodebook]]'s
    * in-engine Lloyd rounds cut quantization DISTORTION 23% on the
    * same data (spec-pinned — the property Lloyd provably improves)
    * while recall stays within noise (0.31 → 0.30: structureless
    * embeddings have no cluster geometry for the codebook to learn,
    * so the distortion win cannot translate into ranking wins here).
    * Real deployments train on real, clustered embeddings and re-rank
    * PQ candidates with exact scores. The engine contribution is the
    * exact, replayable encode/train/ADC machinery; codebook quality
    * is a model input, same as the IVF centroids.
    *
    * Output: one row per (s, j) — subspace id, centroid id, the
    * centroid's int codes, and its integer squared norm.
    */
  def pqCodebook(
      corpus: DataFrame,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6): DataFrame =
    seededCodebookCodes(corpus.select(col("vec_id"),
      int8Codes(col("embedding"), logScale).as("qv")), kCode, m, subDim)

  /** [[pqCodebook]] over an ALREADY-CODED frame `(vec_id, qv)` — the
    * shared seeding for raw int8 codes and IVF residual codes (the
    * residual path's "vectors" are integer deltas outside the int8
    * range, so the codes frame, not a float column, is the common
    * currency).
    */
  private[graft] def seededCodebookCodes(
      codes: DataFrame,
      kCode: Int,
      m: Int,
      subDim: Int): DataFrame =
    // seed from the kCode smallest vec_ids BY RANK (j = 0..kCode-1):
    // identical to the old `vec_id < kCode` rule on the dense 0-based
    // id space every oracle replays, but id-shift-proof — the raw
    // filter on an id-shifted corpus slice seeded an EMPTY codebook
    // (the r17 flake's root cause; see KMeans.fitAssign)
    codes.orderBy(col("vec_id")).limit(kCode)
      .select(col("vec_id"), col("qv"))
      .withColumn("j",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("vec_id"))) - 1).cast("int"))
      .select(col("j"), col("qv"))
      .select(col("j"), explode(sequence(lit(0), lit(m - 1))).as("s"),
        col("qv"))
      .select(col("s"), col("j"),
        slice(col("qv"), col("s") * subDim + 1, lit(subDim)).as("cvec"))
      .withColumn("nb", intDot(col("cvec"), col("cvec")))

  /** PQ-encode the corpus: per vector, the `m` nearest-centroid ids
    * (exact integer L2² assignment: argmin_j ‖sub − c_j‖² =
    * argmax_j 2·dot(sub, c_j) − ‖c_j‖², the ‖sub‖² term being
    * constant per subvector; ties to the lower j) plus the codes
    * packed big-endian into ONE BIGINT (`Σ code_s · 16^(m−1−s)`) —
    * the 4-bytes-per-vector index column a 100 TB corpus actually
    * stores. Zero-shuffle: the whole codebook rides one broadcast row
    * and assignment is per-row arithmetic, the same shape as
    * [[KMeans.assign]].
    */
  def pqEncode(
      corpus: DataFrame,
      codebook: DataFrame,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6): DataFrame =
    pqEncodeCodes(corpus.select(col("vec_id"),
      int8Codes(col("embedding"), logScale).as("qv")),
      codebook, kCode, m, subDim)

  /** [[pqEncode]] over an already-coded frame `(vec_id, qv)` — see
    * [[seededCodebookCodes]]. Extra columns of `codes` ride through
    * untouched (the residual path keeps its `cell` this way).
    */
  private[graft] def pqEncodeCodes(
      codesDf: DataFrame,
      codebook: DataFrame,
      kCode: Int,
      m: Int,
      subDim: Int): DataFrame = {
    require(kCode <= 16,
      s"pq_code packs codes in radix 16; kCode=$kCode would collide nibbles")
    val packed = packCodebook(codebook, kCode, m)
    codesDf
      .crossJoin(broadcast(packed))
      .withColumn("codes",
        pqCodesCol(col("qv"), col("cb"), kCode, m, subDim))
      .withColumn("pq_code",
        aggregate(col("codes"), lit(0L), (acc, c) => acc * 16 + c))
      .drop("qv", "cb")
  }

  /** The per-vector PQ assignment expression over a packed-codebook
    * column: per subspace the exact integer L2² argmin (ties to the
    * lower j) — the [[pqEncodeCodes]] kernel, parameterized so
    * multi-flavor callers can encode against several codebooks in one
    * projection. Native codegen'd kernel (r22, guide §4): a composed
    * HOF form allocates m×kCode structs and a slice copy per row, which
    * priced the encode stage of every PQ query. Parity-pinned against
    * that form in QuantizationSpec.
    */
  private def pqCodesCol(
      qv: Column, cb: Column, kCode: Int, m: Int, subDim: Int): Column =
    graft.functions.VectorExprs.pqAssign(qv, cb, kCode, m, subDim)

  /** The PQ reconstruction expression: concatenate the assigned
    * centroids' code vectors from the packed codebook — the shared
    * recon kernel of [[pqTopK]] / [[ivfPqTopK]]. Shaped as an
    * index-lambda transform OVER the codes array (not m separate
    * `element_at(codes, s)` probes) so `codes` evaluates exactly ONCE
    * per row even when it is an inlined expression: CollapseProject
    * freely duplicates deterministic expressions into every use site,
    * and m copies of the m×kCode assignment argmin made the fused
    * adc-recall gate 2× slower before this shape (the engine-wide
    * CollapseProject gotcha, r22).
    */
  private def pqReconCol(codes: Column, cb: Column, kCode: Int, m: Int)
      : Column =
    flatten(transform(codes, (c, s) =>
      element_at(cb, s * kCode + c + 1).getField("cvec")))

  /** The broadcast-packed codebook row for positional `(s, j)` lookup
    * (`element_at(cb, s*kCode + j + 1)`). Positional indexing is only
    * sound on a DENSE m×kCode codebook with contiguous j per subspace —
    * a sparse one (e.g. a hand-rolled trainer that dropped empty cells)
    * would silently misalign every later entry — so the pack guards the
    * invariant with an in-plan `raise_error` instead of trusting the
    * caller. The check costs one `size` per probe row against a
    * broadcast array; the error fires on the first row touched.
    */
  private def packCodebook(codebook: DataFrame, kCode: Int, m: Int): DataFrame =
    codebook
      .agg(array_sort(collect_list(
        struct(col("s"), col("j"), col("cvec"), col("nb")))).as("cb"))
      .select(when(size(col("cb")) === m * kCode, col("cb"))
        .otherwise(raise_error(concat(
          lit(s"PQ codebook must be dense ${m}x$kCode = ${m * kCode} " +
            "entries; got "), size(col("cb")).cast("string")))).as("cb"))

  /** Lloyd-train the PQ codebooks in-engine: start from the seeded
    * [[pqCodebook]], then alternate exact-integer assignment
    * ([[pqEncode]]) with per-(subspace, centroid) mean updates
    * (`floor(sum/count)` per dimension — the [[KMeans.refine]]
    * convention, L2 flavor). An EMPTY cell keeps its previous centroid
    * (left join of the update against the full (s, j) grid): dropping
    * it would leave a hole that shifts every later entry of the
    * positionally-indexed packed codebook — silently wrong codes from
    * that round on, including inside this loop's own next assignment.
    * Each round costs one corpus scan plus an m·kCode×subDim-cell
    * aggregation whose partial rows are map-side combined; the tiny
    * codebook is checkpointed per round so downstream references never
    * re-execute prior rounds (same reasoning as [[KMeans.fitAssign]]).
    */
  def pqTrainCodebook(
      corpus: DataFrame,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6,
      iters: Int = 2): DataFrame =
    pqTrainCodebookCodes(corpus.select(col("vec_id"),
      int8Codes(col("embedding"), logScale).as("qv")),
      kCode, m, subDim, iters)

  /** [[pqTrainCodebook]] over an already-coded frame `(vec_id, qv)` —
    * the trainer the RESIDUAL index path uses (its training set is the
    * integer residuals, not the raw codes).
    */
  private[graft] def pqTrainCodebookCodes(
      codesDf: DataFrame,
      kCode: Int,
      m: Int,
      subDim: Int,
      iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val qv = codesDf.select(col("vec_id"), col("qv"))
    // superseded per-round codebooks free their pinned blocks once the
    // next round's eager checkpoint materializes (round 1's seed
    // derives from the caller's frame — nothing of ours to free yet)
    (1 to iters).foldLeft(seededCodebookCodes(qv, kCode, m, subDim)) {
      (cb, round) =>
        val assigned = pqEncodeCodes(qv, cb, kCode, m, subDim)
          .select(col("vec_id"), col("codes"))
        val subSums = (0 until subDim).map(d =>
          sum(col("sub")(d)).as(s"s_$d"))
        val updated = qv.join(assigned, "vec_id")
          .select(explode(sequence(lit(0), lit(m - 1))).as("s"),
            col("qv"), col("codes"))
          .select(col("s"),
            element_at(col("codes"), col("s") + 1).as("j"),
            slice(col("qv"), col("s") * subDim + 1, lit(subDim)).as("sub"))
          .groupBy(col("s"), col("j"))
          .agg(subSums.head, (subSums.tail :+ count(lit(1)).as("cnt")): _*)
          .select(col("s"), col("j"),
            array((0 until subDim).map(d =>
              floor(col(s"s_$d").cast("double") / col("cnt")).cast("int")): _*)
              .as("new_cvec"))
        // densify: the previous codebook IS the full (s, j) grid (dense
        // by induction from the seeded one), so a left join + coalesce
        // carries empty cells' previous centroids forward
        val next = CheckpointUtil.ckpt(cb
          .select(col("s"), col("j"), col("cvec").as("prev_cvec"))
          .join(updated, Seq("s", "j"), "left")
          .select(col("s"), col("j"),
            coalesce(col("new_cvec"), col("prev_cvec")).as("cvec"))
          .withColumn("nb", intDot(col("cvec"), col("cvec"))))
        if (round > 1) CheckpointUtil.free(cb)
        next
    }
  }

  /** Int8 codes of the coarse centroids: `(cell, c8)` — the integer
    * form both residual ends share (corpus-side residual = qv − c8,
    * query-side per-probe offset = dot(q_codes, c8)), so residual
    * arithmetic is exact-integer end to end and replays in SQL.
    */
  private[graft] def centroidCodes(
      centroids: DataFrame, logScale: Int = 6): DataFrame =
    centroids.select(col("cell"),
      int8Codes(col("c_vec"), logScale).as("c8"))

  /** IVF residual codes: `(vec_id, cell, qv)` where `qv` is the
    * per-dimension integer difference between the vector's int8 codes
    * and its assigned cell centroid's int8 codes. This is what the
    * RESIDUAL IVFPQ paths PQ-encode: the codebook's `kCode` centroids
    * then only have to span the within-cell delta (range ±255, exact
    * ints) instead of the whole embedding space — at the same
    * bits/vector the quantization error drops, and the gap widens
    * with cell count (raw-vector PQ wastes code range re-describing
    * the coarse component in every cell). Per-row arithmetic against
    * two broadcast k-row models; no shuffle.
    */
  def residualCodes(
      corpus: DataFrame,
      centroids: DataFrame,
      logScale: Int = 6,
      assigned: Option[DataFrame] = None): DataFrame =
    assigned.getOrElse(Similarity.ivfAssign(corpus, centroids))
      .select(col("vec_id"),
        int8Codes(col("embedding"), logScale).as("__v8"), col("cell"))
      .join(broadcast(centroidCodes(centroids, logScale)), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("__v8"), col("c8"), (a, b) => a - b).as("qv"))

  /** The frame the IVFPQ paths PQ-encode: `(vec_id, cell, qv)` —
    * residual codes by default, raw int8 codes (+ cell) otherwise.
    * `assigned` (r21): an optional PRECOMPUTED
    * `Similarity.ivfAssign(corpus, centroids)` frame
    * `(vec_id, embedding, cell)` — callers that run several index
    * flavors over ONE corpus/centroid pair (the adc-recall gate runs
    * sq8 + residual + raw in a single query) checkpoint the
    * assignment once instead of re-running its window per flavor.
    * Same rows by construction, so every oracle is unchanged.
    */
  private def codedFrame(
      corpus: DataFrame,
      centroids: DataFrame,
      logScale: Int,
      residual: Boolean,
      assigned: Option[DataFrame] = None): DataFrame =
    if (residual) residualCodes(corpus, centroids, logScale, assigned)
    else assigned.getOrElse(Similarity.ivfAssign(corpus, centroids))
      .select(col("vec_id"),
        int8Codes(col("embedding"), logScale).as("qv"), col("cell"))

  /** Query probes: the `nProbe` nearest cells per query with the int8
    * query codes and the per-probe ADC offset `qc_off` — the exact
    * integer dot of the query codes with the probed cell's int8
    * centroid codes in residual mode, 0 in raw mode. One k-row
    * broadcast; never touches the corpus.
    */
  private def probeFrame(
      queries: DataFrame,
      centroids: DataFrame,
      nProbe: Int,
      logScale: Int,
      residual: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cell").asc)
    val base = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("cell"),
        Similarity.cosine(col("q_vec"), col("c_vec")).as("c_sim"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), int8Codes(col("q_vec"), logScale).as("q_codes"),
        col("cell"))
    if (residual)
      base.join(broadcast(centroidCodes(centroids, logScale)), "cell")
        .select(col("q_id"), col("q_codes"), col("cell"),
          intDot(col("q_codes"), col("c8")).as("qc_off"))
    else base.withColumn("qc_off", lit(0L))
  }

  /** PQ ADC top-k: score every corpus vector against each query by the
    * exact integer dot of the query codes with the PQ-RECONSTRUCTED
    * corpus vector (Σ_s dot(q_s, cent(s, code_s)) = dot(q, recon) —
    * one fused [[intDot]] per pair instead of m table lookups).
    * Reconstruction is a per-row broadcast-codebook lookup; the
    * scoring plan is the [[quantizedTopK]] shape (broadcast queries,
    * per-query WindowGroupLimit top-k), so the only thing that changed
    * vs the uncompressed path is that the corpus side now reads a
    * 4-byte code column instead of 64 floats.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      topK: Int = 10,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6,
      codebook: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kCode <= 16,
      s"pq_code packs codes in radix 16; kCode=$kCode would collide nibbles")
    val cb = codebook.getOrElse(pqCodebook(corpus, kCode, m, subDim, logScale))
    val packed = packCodebook(cb, kCode, m)
    val recon = pqReconCol(col("codes"), col("cb"), kCode, m)
    val encoded = pqEncode(corpus, cb, kCode, m, subDim, logScale)
      .crossJoin(broadcast(packed))
      .select(col("vec_id"), recon.as("recon"))
    val q = queries.select(col("q_id"),
      int8Codes(col("q_vec"), logScale).as("q_codes"))
    val joined = encoded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        intDot(col("q_codes"), col("recon")).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("vec_id"), col("score"), col("rk"))
  }

  /** IVF×PQ fused ANN — the standard billion-vector index shape
    * (FAISS IVFPQ + refine): a coarse quantizer routes every corpus
    * vector to an IVF cell ([[Similarity.ivfAssign]] — broadcast
    * argmin, no shuffle), queries probe only their `nProbe` nearest
    * cells, and WITHIN the probed cells candidates are scored by PQ
    * ADC (exact integer dot of the query codes against the
    * PQ-reconstructed corpus vector — the corpus side of the scoring
    * join reads a 4-byte code column, not 256 B of floats). With
    * `rerank > 0` the ADC top-`rerank` per query are re-scored by the
    * EXACT int8 dot (one broadcast-friendly join back to the corpus
    * codes) — the refine stage that buys back the PQ approximation
    * error for a fixed per-query cost.
    *
    * By default the PQ stage encodes RESIDUALS (`residual = true`):
    * each vector's code describes `v8 − c8(cell)` ([[residualCodes]]),
    * the textbook IVFADC formulation — the codebook's 4 bits per
    * subspace describe only the within-cell delta, and ADC adds the
    * per-probe offset `dot(q8, c8)` back (`dot(q, c + r̂) =
    * dot(q, c8) + dot(q, r̂)` — one extra integer per probe row, zero
    * extra per-candidate work). `residual = false` keeps the
    * raw-vector encoding for A/B.
    *
    * Every scoring value is integer-exact, and both stages' orderings
    * are deterministic (ties to the lower vec_id), so score AND rank
    * replay in an external SQL engine; the coarse float cell
    * assignment replays the same way as the plain IVF path.
    *
    * Scale shape: cell assignment and encoding are per-row projections
    * against broadcast k-row models; the candidate join is an
    * equi-join on the cell id (never a cross product at scale —
    * candidates per query ≈ nProbe/cells of the corpus); both top-k
    * stages are per-query WindowGroupLimit prunes. The 100 TB corpus
    * is touched once to build (cell, pq_code) and never again per
    * query wave.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      topK: Int = 10,
      nProbe: Int = 2,
      rerank: Int = 0,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6,
      codebook: Option[DataFrame] = None,
      residual: Boolean = true,
      assigned: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kCode <= 16,
      s"pq_code packs codes in radix 16; kCode=$kCode would collide nibbles")
    // what gets PQ-encoded: per-cell integer residuals (default), or
    // the raw int8 codes (the pre-residual behavior, kept for A/B —
    // same bits/vector, measurably lower recall; see SCALE.md)
    // Lazy-checkpoint barriers on `coded` (read by seed/train/encode)
    // and on a shared assignment — extending the adc gate's r21/r22
    // flavor-sharing to this single-flavor path — were A/B'd in r22
    // and REJECTED: interleaved 2×5-rep probes at sf0.1 measured
    // ann_ivfpq_topk 1.59 → 2.30 s and ann_ivfpq_recall 1.22 → 2.14 s
    // (worse again on the repeat). Unlike the gate, ONE flavor
    // amortizes nothing: the barriers serialize construction-time
    // jobs and materialize embedding-array frames corpus-wide, which
    // costs more than re-running the zero-shuffle assign projection.
    val coded = codedFrame(corpus, centroids, logScale, residual, assigned)
    val cb = codebook.getOrElse(
      seededCodebookCodes(coded.select(col("vec_id"), col("qv")),
        kCode, m, subDim))
    val packed = packCodebook(cb, kCode, m)
    val recon = pqReconCol(col("codes"), col("cb"), kCode, m)
    // the compressed index: one row per corpus vector with its cell id
    // and PQ reconstruction (what a persisted IVFPQ index stores)
    val index = pqEncodeCodes(coded, cb, kCode, m, subDim)
      .crossJoin(broadcast(packed))
      .select(col("vec_id"), col("cell"), recon.as("recon"))
    // query probes: nProbe nearest cells, carrying the int8 q codes
    // and (residual mode) the per-probe centroid offset
    // dot(q_codes, c8_cell), so the per-candidate ADC stays one intDot:
    // dot(q, c + r̂) = dot(q, c8) + dot(q, r̂)
    val probes = probeFrame(queries, centroids, nProbe, logScale, residual)
    val adc = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("qc_off") + intDot(col("q_codes"), col("recon"))).as("adc"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    if (rerank <= 0)
      adc.withColumn("rk", row_number().over(wAdc))
        .filter(col("rk") <= topK)
        .select(col("q_id"), col("vec_id"), col("adc").as("score"), col("rk"))
    else {
      val shortlist = adc.withColumn("arn", row_number().over(wAdc))
        .filter(col("arn") <= rerank)
        .select("q_id", "vec_id")
      val qcodes = queries.select(col("q_id"),
        int8Codes(col("q_vec"), logScale).as("q_codes"))
      val exact = shortlist
        .join(quantize(corpus, logScale).select("vec_id", "qvec"), "vec_id")
        .join(broadcast(qcodes), "q_id")
        .select(col("q_id"), col("vec_id"),
          intDot(col("q_codes"), col("qvec")).as("score"))
      val wEx = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      exact.withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= topK)
        .select(col("q_id"), col("vec_id"), col("score"), col("rk"))
    }
  }

  /** IVF + exact int8 scoring (the FAISS "IVF,SQ8" config — coarse
    * cells prune, then the TRUE quantized dot product, no PQ
    * approximation): the uncompressed-index baseline the PQ paths are
    * measured against, and the exact-within-probed-cells ground truth
    * the `ann_ivfpq_adc_recall` gate uses. Identical output to
    * [[ivfPqTopK]] with `rerank >= |candidates|` (the refine stage
    * re-scores everything exactly), at one scoring pass + one window
    * instead of ADC + two windows. Integer scores, deterministic
    * ties — score AND rank replay in SQL.
    */
  def ivfSq8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      topK: Int = 10,
      nProbe: Int = 2,
      logScale: Int = 6,
      assigned: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Two corpus scans joined on vec_id LOOKS like waste, but the
    // single-pass alternative (int8 codes projected directly off the
    // assign frame) was A/B'd in r22 and measured WORSE (0.50 → 0.71
    // and 0.56 → 0.84 s at sf0.1): the two independent scans run as
    // parallel stages whose wall-clock overlaps, while the fused pass
    // serializes quantize+argmax into one chain. Values identical —
    // kept on the measured-faster shape.
    val index = quantize(corpus, logScale).select(col("vec_id"), col("qvec"))
      .join(assigned.getOrElse(Similarity.ivfAssign(corpus, centroids))
        .select(col("vec_id"), col("cell")), "vec_id")
    val probes = probeFrame(queries, centroids, nProbe, logScale,
      residual = false)
    val scored = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        intDot(col("q_codes"), col("qvec")).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("q_id"), col("vec_id"), col("score"), col("rk"))
  }

  /** The residual-vs-raw ADC fidelity COUNTS of the
    * `ann_ivfpq_adc_recall` gate, computed in ONE candidate pass
    * (r22): the gate's three index flavors — exact int8
    * ([[ivfSq8TopK]]), residual-PQ ADC and raw-PQ ADC
    * ([[ivfPqTopK]] rerank=0) — score the IDENTICAL candidate pair
    * set (same coarse assignment, same probed cells, vec_id unique
    * per query), so "flavor top-k ∩ exact top-k" by (q_id, vec_id)
    * equi-join equals a conjunction of rank predicates on one row.
    * One row per candidate pair carries all three integer scores;
    * three row_number windows share one q_id exchange; the equi-joins
    * collapse into a single aggregate (guide §2.4: shared exchanges /
    * §2: eliminate repeated shuffle+window stages). Every score is
    * the same exact-integer expression as the per-flavor paths
    * (spec-pinned equal counts), so the gate's oracle is unchanged.
    *
    * `assigned` is a PRECOMPUTED (checkpointed) coarse assignment
    * `(vec_id, embedding, cell)`; `queries` is `(q_id, q_vec)`.
    * Output: one row `(n_pairs, res_hits, raw_hits)` where n_pairs is
    * the exact-flavor top-k row count and *_hits the intersection
    * counts the recall flags divide.
    */
  def ivfPqAdcCounts(
      assigned: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      topK: Int = 10,
      nProbe: Int = 2,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kCode <= 16,
      s"pq_code packs codes in radix 16; kCode=$kCode would collide nibbles")
    // raw int8 codes + per-cell residual codes in one projection
    // (rows == residualCodes(corpus, centroids, assigned) == the raw
    // codedFrame, by construction)
    val coded = assigned
      .select(col("vec_id"), col("cell"),
        int8Codes(col("embedding"), logScale).as("qv_raw"))
      .join(broadcast(centroidCodes(centroids, logScale)), "cell")
      .select(col("vec_id"), col("cell"), col("qv_raw"),
        zip_with(col("qv_raw"), col("c8"), (a, b) => a - b).as("qv_res"))
    // per-flavor seeded codebooks, exactly the per-flavor paths' seeds
    val cbRes = packCodebook(seededCodebookCodes(
        coded.select(col("vec_id"), col("qv_res").as("qv")),
        kCode, m, subDim), kCode, m)
      .select(col("cb").as("cb_res"))
    val cbRaw = packCodebook(seededCodebookCodes(
        coded.select(col("vec_id"), col("qv_raw").as("qv")),
        kCode, m, subDim), kCode, m)
      .select(col("cb").as("cb_raw"))
    // the combined index: per corpus vector its exact int8 codes and
    // BOTH flavors' PQ reconstructions
    val index = coded
      .crossJoin(broadcast(cbRes))
      .crossJoin(broadcast(cbRaw))
      .withColumn("codes_res",
        pqCodesCol(col("qv_res"), col("cb_res"), kCode, m, subDim))
      .withColumn("codes_raw",
        pqCodesCol(col("qv_raw"), col("cb_raw"), kCode, m, subDim))
      .select(col("vec_id"), col("cell"), col("qv_raw").as("qvec"),
        pqReconCol(col("codes_res"), col("cb_res"), kCode, m)
          .as("recon_res"),
        pqReconCol(col("codes_raw"), col("cb_raw"), kCode, m)
          .as("recon_raw"))
    // residual-mode probes carry qc_off; q_codes are mode-independent
    // (raw/sq8 ADC is the same dot with qc_off ignored)
    val probes = probeFrame(queries, centroids, nProbe, logScale,
      residual = true)
    val cand = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        intDot(col("q_codes"), col("qvec")).as("score_sq8"),
        (col("qc_off") + intDot(col("q_codes"), col("recon_res")))
          .as("adc_res"),
        intDot(col("q_codes"), col("recon_raw")).as("adc_raw"))
    def w(c: Column) = Window.partitionBy(col("q_id"))
      .orderBy(c.desc, col("vec_id").asc)
    cand
      .withColumn("rk_sq8", row_number().over(w(col("score_sq8"))))
      .withColumn("rk_res", row_number().over(w(col("adc_res"))))
      .withColumn("rk_raw", row_number().over(w(col("adc_raw"))))
      .agg(
        count(when(col("rk_sq8") <= topK, lit(1))).as("n_pairs"),
        count(when(col("rk_sq8") <= topK && col("rk_res") <= topK,
          lit(1))).as("res_hits"),
        count(when(col("rk_sq8") <= topK && col("rk_raw") <= topK,
          lit(1))).as("raw_hits"))
  }

  /** Brute-force top-k over quantized codes: same broadcast + window
    * shape as [[Similarity.bruteForceTopK]], but the score is an exact
    * integer dot product — rank AND score replay bit-identically in an
    * external SQL engine. Ties broken by vec_id.
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      logScale: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = quantize(corpus, logScale)
    val q = queries.select(col("q_id"),
      int8Codes(col("q_vec"), logScale).as("q_codes"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        intDot(col("q_codes"), col("qvec")).as("qdot"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("qdot").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("qdot"), col("rk"))
  }

  /** The rows a PERSISTED IVFPQ index stores, one per corpus vector:
    * `(vec_id, pq_code, q8, cell)` — the 8-byte packed PQ code (ADC
    * scoring side; RESIDUAL codes by default — see [[ivfPqTopK]]), the
    * int8 codes (exact re-rank side, 64 B — the SQ8-alongside-PQ
    * layout real billion-scale indexes keep), and the coarse cell id
    * to partition the parquet by. ~72 bytes/vector vs 256 B of
    * float32 — and the build is the ONE job that ever scans the
    * corpus embeddings; every later search runs off these rows
    * (see [[ivfPqSearchIndex]], plan-pinned in `RunAnnIndexSpec`).
    * `residual` must match between build, codebook training, and
    * search — the code spaces are disjoint.
    */
  def ivfPqIndexRows(
      corpus: DataFrame,
      centroids: DataFrame,
      codebook: DataFrame,
      kCode: Int = 16,
      m: Int = 8,
      subDim: Int = 8,
      logScale: Int = 6,
      residual: Boolean = true): DataFrame =
    pqEncodeCodes(codedFrame(corpus, centroids, logScale, residual),
        codebook, kCode, m, subDim)
      .select(col("vec_id"), col("pq_code"), col("cell"))
      .join(quantize(corpus, logScale).select(col("vec_id"),
        col("qvec").as("q8")), "vec_id")

  /** IVFPQ search over a PERSISTED index ([[ivfPqIndexRows]]) — the
    * query path that never touches the corpus embeddings and never
    * re-trains anything: PQ codes unpack from the 8-byte `pq_code`
    * (nibble shifts), the reconstruction comes from the broadcast
    * packed codebook, ADC scores only rows in the `nProbe` probed
    * cells, and the exact re-rank reads the STORED int8 codes. With
    * the index parquet partitioned by `cell`, the probe equi-join
    * prunes unprobed cells' files (dynamic partition pruning).
    *
    * Bit-identical to [[ivfPqTopK]] run with the same centroids and
    * codebook (spec-pinned): the index stores exactly the
    * intermediates ivfPqTopK computes inline.
    */
  def ivfPqSearchIndex(
      index: DataFrame,
      centroids: DataFrame,
      codebook: DataFrame,
      queries: DataFrame,
      topK: Int = 10,
      nProbe: Int = 2,
      rerank: Int = 0,
      kCode: Int = 16,
      m: Int = 8,
      logScale: Int = 6,
      residual: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kCode <= 16,
      s"pq_code packs codes in radix 16; kCode=$kCode would collide nibbles")
    val packed = packCodebook(codebook, kCode, m)
    // unpack: code s sits at nibble (m-1-s) — the aggregate pack above
    // pushes earlier subspaces to more significant nibbles
    val codes = transform(sequence(lit(0), lit(m - 1)), s =>
      call_function("shiftright", col("pq_code"), (lit(m - 1) - s) * 4)
        .bitwiseAND(lit(15L)).cast("int"))
    val recon = pqReconCol(col("codes"), col("cb"), kCode, m)
    val probes = probeFrame(queries, centroids, nProbe, logScale, residual)
    val adc = index.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("codes", codes)
      .crossJoin(broadcast(packed))
      .select(col("q_id"), col("vec_id"), col("q8"),
        (col("qc_off") + intDot(col("q_codes"), recon)).as("adc"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("vec_id").asc)
    if (rerank <= 0)
      adc.withColumn("rk", row_number().over(wAdc))
        .filter(col("rk") <= topK)
        .select(col("q_id"), col("vec_id"), col("adc").as("score"),
          col("rk"))
    else {
      val qcodes = queries.select(col("q_id"),
        int8Codes(col("q_vec"), logScale).as("q_codes"))
      val exact = adc.withColumn("arn", row_number().over(wAdc))
        .filter(col("arn") <= rerank)
        .join(broadcast(qcodes), "q_id")
        .select(col("q_id"), col("vec_id"),
          intDot(col("q_codes"), col("q8")).as("score"))
      val wEx = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      exact.withColumn("rk", row_number().over(wEx))
        .filter(col("rk") <= topK)
        .select(col("q_id"), col("vec_id"), col("score"), col("rk"))
    }
  }
}
