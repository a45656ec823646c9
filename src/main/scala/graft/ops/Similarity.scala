package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding: Array[Float], label)`).
  *
  * Two tiers, per the standard scale playbook:
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small)
  *    query set against the full corpus; cosine via built-in
  *    higher-order functions (`zip_with` + `aggregate`, codegen'd — no
  *    UDF, no serialization); per-query top-k via a window. The corpus
  *    side streams: one scan, no shuffle except the final top-k
  *    (partitioned by query id, k rows per query survive).
  *  - [[lshTopK]] — the scale path: random-hyperplane LSH buckets both
  *    sides; cosine is evaluated only within matching buckets, so the
  *    join is an equi-join on the bucket key instead of a cross
  *    product. Hyperplanes are deterministic (seeded) driver-side
  *    literals, broadcast with the plan — no extra data movement.
  *
  * For 100 TB corpora the same shapes hold: brute force is one pass ×
  * |Q| comparisons/row (use only for small Q or reranking); LSH keys
  * the corpus once and turns search into a bucket join. An IVF variant
  * would swap the hash for learned centroid ids — same join shape.
  */
object Similarity {

  /** Dot product of two equal-length float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either side has zero norm. Backed by the
    * native codegen'd [[graft.functions.CosineSimExpr]] — one fused
    * loop per row instead of three interpreted HOF array passes.
    * Malformed input null-poisons: ragged lengths or a null element →
    * NULL. Parity-pinned against the zip_with/aggregate form in
    * SimilaritySpec.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.cosineSim(a, b)

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-matches excluded). `queries` must have columns
    * (q_id, q_vec); ties broken by vec_id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs — the dedup flavor that
    * catches semantic copies exact/MinHash text dedup misses. LSH
    * buckets both occurrences of a near-identical vector into the same
    * bucket with high probability (identical vectors: always), so the
    * self-join is an equi-join on the bucket key, never an all-pairs
    * product; cosine is evaluated inside buckets only and thresholded.
    * Lower `numBits` for higher recall at more comparisons.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.95,
      numBits: Int = 8,
      dims: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numBits, dims, seed)
    val b = corpus.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val l = b.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("vec_a"))
    val r = b.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("vec_b"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Deterministic random hyperplanes: `numBits` rows × `dims` entries
    * in {-1, +1}, from a fixed-seed PRNG. Evaluated once on the driver
    * and shipped as a plan literal.
    */
  def hyperplanes(numBits: Int, dims: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dims)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** Sign-LSH bucket key: bit j = sign(embedding · plane_j), packed into
    * an int. Vectors with small angle agree on most bits, hence collide
    * on the key with high probability.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, j) =>
      val proj = dot(vec, typedLit(p))
      when(proj >= 0.0d, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Per-vector LSH bucket assignment (vec_id, label, bucket).
    * `dims` must match the embedding width — zip_with against a
    * mismatched plane yields NULL dots and collapses every vector into
    * one bucket (turning the bucket join quadratic).
    */
  def withBuckets(
      corpus: DataFrame,
      numBits: Int = 12,
      dims: Int = 64,
      seed: Long = 42L): DataFrame =
    corpus.withColumn("bucket",
      lshBucket(col("embedding"), hyperplanes(numBits, dims, seed)))

  /** IVF-style cell assignment: every corpus vector goes to its
    * nearest centroid (argmin over a BROADCAST centroid set — one pass,
    * no shuffle). `centroids` must have columns (cell, c_vec). In
    * production the centroids come from k-means over a sample; any
    * deterministic coarse quantizer slots in unchanged.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    // In-row argmax over ONE broadcast packed centroid row (r22,
    // guide §2.4): a row_number window would shuffle corpus×k rows
    // just to pick each vector's max; this is a zero-shuffle per-row
    // projection with the same (c_sim DESC, cell ASC) winner, parity-
    // pinned against the windowed form in SimilaritySpec. Requires
    // unique vec_id (every caller's contract).
    val packed = centroids
      .agg(collect_list(struct(col("cell"), col("c_vec"))).as("cents"))
    val best = array_max(transform(col("cents"), c => struct(
      cosine(col("embedding"), c.getField("c_vec")).as("c_sim"),
      (c.getField("cell") * -1).as("neg_cell"))))
    corpus.crossJoin(broadcast(packed))
      .withColumn("cell", best.getField("neg_cell") * -1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** IVF top-k: probe only the query's `nProbe` nearest cells — the
    * candidate set is an equi-join on the cell id, never a cross
    * product. With trained centroids and nProbe << cells this is the
    * standard billion-scale ANN layout (FAISS IVF-Flat shape).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      k: Int = 10,
      nProbe: Int = 2): DataFrame = {
    val assigned = ivfAssign(corpus, centroids)
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("c_sim").desc, col("cell").asc)
    val probes = queries.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_vec"), col("cell"),
        cosine(col("q_vec"), col("c_vec")).as("c_sim"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_vec"), col("cell"))
    val joined = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Approximate top-k: cosine evaluated only within the query's LSH
    * bucket. Fewer bits ⇒ bigger buckets ⇒ better recall, more work.
    * Returns (q_id, vec_id, rk, sim); queries whose bucket holds fewer
    * than k neighbors return fewer rows (standard single-probe LSH —
    * multi-probe would union per-bit-flipped bucket keys).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      numBits: Int = 8,
      dims: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numBits, dims, seed)
    val c = corpus.withColumn("bucket", lshBucket(col("embedding"), planes))
    val q = queries.withColumn("bucket", lshBucket(col("q_vec"), planes))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Multi-probe LSH top-k: each query probes its own bucket PLUS the
    * `numBits` buckets at hamming distance 1 (one sign bit flipped) —
    * the standard recall lever for sign-LSH: a true neighbor is missed
    * only when ≥ 2 planes disagree, so recall improves from p^b-shaped
    * to (1 - Σ≥2-flip) at (numBits+1)× the candidate work, still as a
    * pure bucket equi-join (the query side explodes its probe list;
    * corpus vectors keep their single bucket, so no pair dedup is
    * needed). The corpus side — the 100 TB side — is untouched: same
    * one-pass bucket assignment, same join shape, no extra shuffle.
    */
  def lshTopKMultiProbe(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      numBits: Int = 8,
      dims: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numBits, dims, seed)
    val c = corpus.withColumn("bucket", lshBucket(col("embedding"), planes))
    val probeList = concat(
      array(col("bucket0")),
      transform(sequence(lit(0), lit(numBits - 1)),
        j => col("bucket0").bitwiseXOR(call_function("shiftleft", lit(1), j))))
    val q = queries
      .withColumn("bucket0", lshBucket(col("q_vec"), planes))
      .select(col("q_id"), col("q_vec"), explode(probeList).as("bucket"))
    val joined = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Hard-negative mining for contrastive training: for each anchor,
    * the top-k most-similar corpus vectors whose `label` DIFFERS from
    * the anchor's — the near-misses a contrastive or reranker loss
    * learns the most from (easy negatives are random; hard negatives
    * sit just across the decision boundary). Same broadcast-anchors +
    * rank-pushdown shape as [[bruteForceTopK]]; at index scale the
    * scan side swaps for the IVFPQ probe unchanged.
    *
    * `anchors` needs (q_id, q_vec, q_label); corpus needs
    * (vec_id, embedding, label). Output (q_id, vec_id, rk, sim).
    */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      k: Int = 10): DataFrame = {
    val joined = corpus.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Matryoshka-style two-stage retrieval: rank by cosine on the
    * PREFIX of the embedding (the truncated head an MRL-trained model
    * makes meaningful, and the only slice a 100 TB index keeps hot),
    * shortlist `shortlist` candidates per query, then re-rank the
    * shortlist by FULL-dimension cosine and keep top-k.
    *
    * Scale shape: the corpus pass reads `prefixDims`/dims of the
    * vector bytes (4× fewer at 16/64 — with a columnar layout storing
    * the head separately, 4× less I/O, not just less arithmetic); the
    * full vectors are touched only for the `shortlist`-bounded
    * re-rank, which joins back by vec_id on the corpus partitioning.
    * Composes with IVF exactly like PQ does (coarse cells → head scan
    * → full re-rank); kept single-stage here so the recall loss of
    * truncation itself is what the planted gate measures.
    */
  def truncatedRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      prefixDims: Int = 16,
      shortlist: Int = 30,
      k: Int = 10): DataFrame = {
    require(prefixDims >= 1, "prefixDims must be positive")
    require(shortlist >= k, "shortlist must cover the final top-k")
    val headScan = corpus
      .select(col("vec_id"), slice(col("embedding"), 1, prefixDims).as("head"))
      .crossJoin(broadcast(queries
        .select(col("q_id"), slice(col("q_vec"), 1, prefixDims).as("q_head"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_head"), col("head")).as("head_sim"))
    val w1 = Window.partitionBy(col("q_id"))
      .orderBy(col("head_sim").desc, col("vec_id").asc)
    val short = headScan.withColumn("rk1", row_number().over(w1))
      .filter(col("rk1") <= shortlist)
      .select(col("q_id"), col("vec_id"))
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    short
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosine(col("q_vec"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("rk"), col("sim"))
  }

  /** Mutual top-match alignment — the bitext/parallel-corpus mining
    * shape (LASER/CCMatrix-style): keep (a, b) only when b is a's
    * best match AND a is b's best match, which kills the hub vectors
    * a one-directional top-1 would glue to everything. Scores are
    * int8-quantized integer dots ([[Quantization]] convention), so
    * every score and both argmaxes replay exactly.
    *
    * Both argmaxes are map-side-combinable `max(struct(score, -id))`
    * aggregates over the scored pair frame — no corpus-wide windows.
    * Pair generation here is the brute broadcast product (the
    * oracle-exact baseline, same stance as [[bruteForceTopK]]); at
    * corpus scale feed the scored CANDIDATES from an ANN stage
    * (IVF/LSH) through the identical mutual-argmax tail instead.
    */
  def mutualTopMatch(
      left: DataFrame,
      right: DataFrame,
      logScale: Int = 6): DataFrame = {
    val ql = Quantization.quantize(left, logScale)
      .select(col("vec_id").as("a_id"), col("qvec").as("qa"))
    val qr = Quantization.quantize(right, logScale)
      .select(col("vec_id").as("b_id"), col("qvec").as("qb"))
    // mutualArgmax reads the scored pairs twice (argmax per a_id AND
    // per b_id — different keys, no exchange reuse), so the intDot
    // scoring pass runs twice. A lazy-checkpoint barrier on `pairs`
    // was A/B'd in r22 and REJECTED: wall-clock flat to slightly
    // worse (13-run min 1.31 → 1.42 s at sf0.1) — the broadcast side
    // is reused, the probe-side rescore is cheap next to the query
    // floor, and the barrier's serialized materialization costs more
    // than the saved arithmetic. At production candidate volumes use
    // mutualArgmax directly and materialize the scored candidates
    // under the caller's policy.
    val pairs = ql.crossJoin(broadcast(qr))
      .select(col("a_id"), col("b_id"),
        Quantization.intDot(col("qa"), col("qb")).as("score"))
    mutualArgmax(pairs)
  }

  /** The mutual-argmax tail alone, over an already-scored candidate
    * frame `(a_id, b_id, score)` — THIS is the production entry
    * point: feed it the candidates of an ANN stage (IVF cells, LSH
    * buckets) and the cost is linear in the candidate list, never
    * quadratic in the corpus. Mutuality semantics are then "mutual
    * best among candidates", the standard approximation.
    */
  def mutualArgmax(pairs: DataFrame): DataFrame = {
    val bestAb = pairs.groupBy(col("a_id"))
      .agg(max(struct(col("score"), (-col("b_id")).as("nb"))).as("s"))
      .select(col("a_id"), (-col("s.nb")).as("b_id"),
        col("s.score").as("score"))
    val bestBa = pairs.groupBy(col("b_id"))
      .agg(max(struct(col("score"), (-col("a_id")).as("na"))).as("s"))
      .select((-col("s.na")).as("a_id"), col("b_id"))
    bestAb.join(bestBa, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("score"))
  }

  /** Embedding-distribution DRIFT census between two snapshots — the
    * "has the corpus moved enough to rebuild the ANN model" pre-flight
    * the frozen-model lifecycle needs (`RunAnnIndex update`/`merge`
    * deliberately never retrain; SOMETHING has to say when a rebuild
    * is due). Space is partitioned by the deterministic sign-LSH
    * buckets (so the census itself needs no trained model), and per
    * bucket the census emits exact integers:
    * `(bucket, n_old, n_new, l1_num, drifted)` where `l1_num` =
    * Σ_d |s_new[d]·n_old − s_old[d]·n_new| over int8-code sums — the
    * cross-multiplied L1 distance between the two mean vectors, never
    * a float division — and `drifted` fires when a bucket appeared,
    * vanished, or its mean moved more than `thresholdInt8` int8 units
    * per dimension on average (`l1_num > threshold·dims·n_old·n_new`).
    *
    * The absolute threshold presumes production bucket masses: the
    * sampling noise of an int8 mean scales ~σ/√n, so under ~100
    * vectors a side the shift estimate is mostly noise and `drifted`
    * would fire on sampling error. `low_mass` says exactly that,
    * in-band (the ws_tok_ok honesty convention): consumers read
    * `drifted` only where `low_mass` is false, and a census that is
    * all-low-mass is reporting "not enough data to judge", not "no
    * drift".
    *
    * Scale shape: one scan per snapshot; counts aggregate on the
    * bucket key and code sums on (bucket, dim) — both map-side
    * combinable 8-byte-key aggregates; everything after runs on
    * bucket-sized frames (2^numBits rows). Magnitudes stay exact in
    * BIGINT out to ~10⁷ vectors per bucket per snapshot.
    */
  def driftCensus(
      oldSnap: DataFrame,
      newSnap: DataFrame,
      numBits: Int = 6,
      dims: Int = 64,
      thresholdInt8: Int = 4,
      minMass: Long = 100L,
      logScale: Int = 6,
      seed: Long = 42L): DataFrame = {
    require(numBits >= 1 && numBits <= 20,
      s"numBits must be in [1, 20], got $numBits")
    val planes = hyperplanes(numBits, dims, seed)
    def side(df: DataFrame, tag: String): (DataFrame, DataFrame) = {
      val b = df.select(
        lshBucket(col("embedding"), planes).as("bucket"),
        graft.ops.Quantization.int8Codes(col("embedding"), logScale)
          .as("q8"))
      val counts = b.groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$tag"))
      val sums = b
        .select(col("bucket"), posexplode(col("q8")).as(Seq("pos", "v")))
        .groupBy(col("bucket"), col("pos"))
        .agg(sum(col("v")).as(s"s_$tag"))
      (counts, sums)
    }
    val (co, so) = side(oldSnap, "old")
    val (cn, sn) = side(newSnap, "new")
    val counts = co.join(cn, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val l1 = so.join(sn, Seq("bucket", "pos"), "full_outer")
      .join(counts, Seq("bucket"))
      .select(col("bucket"),
        abs(coalesce(col("s_new"), lit(0L)) * col("n_old") -
          coalesce(col("s_old"), lit(0L)) * col("n_new")).as("term"))
      .groupBy(col("bucket")).agg(sum(col("term")).as("l1_num"))
    counts.join(l1, Seq("bucket"), "left")
      .select(col("bucket"), col("n_old"), col("n_new"),
        coalesce(col("l1_num"), lit(0L)).as("l1_num"))
      .withColumn("drifted",
        col("n_old") === 0L || col("n_new") === 0L ||
          col("l1_num") > lit(thresholdInt8.toLong * dims) *
            col("n_old") * col("n_new"))
      .withColumn("low_mass",
        col("n_old") < minMass || col("n_new") < minMass)
  }
}
