package graft
package registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops._
import Shared.{NormTextSql, semdedupReachSuffix, spread, T}

/** Embedding search (exact, LSH, IVF, PQ, int8), semantic dedup,
  * lexical and late-interaction retrieval, and their recall gates.
  */
object AnnQueries {

  private val AnnLshRecallFloorPct = 75
  private val AnnIvfRecallFloorPct = 80
  private val AnnIvfPqRecallFloorPct = 80
  private val AnnMatryoshkaRecallFloorPct = 80
  // ADC-only recall@10 vs the exact-int8 ranking WITHIN the probed
  // cells (isolates PQ fidelity from cell-miss), k-means-trained
  // coarse centroids (1 Lloyd round — margins match the 2-round
  // training at ~20% less query cost: 35.6% vs 30.3% at sf0.01;
  // 2-round measured 34.9/30.4, and 24.0/22.7 at sf0.1 with trained
  // codebooks), seeded codebooks — floor 30 keeps >4pts margin under
  // the residual measurement and sits ABOVE the raw-encoding
  // measurement, so a silent fallback to raw codes would trip the
  // gate.
  private val AnnIvfPqAdcFloorPct = 30

  private lazy val SemdedupReachSuffix: String = semdedupReachSuffix()

  /** Shared DuckDB CTE for the semdedup oracles: planted-duplicate
    * union, int8 quantization, within-cluster integer-cosine edges,
    * and the recursive reach set — consumers append their final
    * SELECT over `reach` + `base`.
    */
  private lazy val SemdedupReachCte: String =
    ("""WITH RECURSIVE base AS (
      |  SELECT vec_id, embedding, label FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000000, embedding, label FROM embeddings
      |  WHERE vec_id % 17 = 0),"""
      .stripMargin.replaceAll("\\s+", " ").trim) + " " + SemdedupReachSuffix

  /** PQ replay CTEs: int8 codes → per-subspace codebook from the 16
    * lowest vec_ids BY RANK (j = row_number − 1, the same
    * id-shift-proof rule [[graft.ops.Quantization.seededCodebookCodes]]
    * seeds with — ADVICE r18: the literal `vec_id < 16` replay only
    * agreed with the engine on dense 0-based ids) → exact integer L2²
    * assignment (row_number, ties to the lower centroid id) →
    * big-endian nibble pack. Ends with `assign(vec_id, s, j)`,
    * `cbn(s, j, cvec, nb)`, `qc(vec_id, qv)` and
    * `pcodes(vec_id, pq_code)`; k=16, m=8, subDim=8 mirror the
    * [[graft.ops.Quantization]] defaults.
    */
  private lazy val PqCtes: String =
    """WITH qc AS (SELECT vec_id, list_transform(embedding,
      |  v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), 127),
      |    -128) AS BIGINT)) AS qv FROM embeddings),
      |sp AS (SELECT unnest(range(0, 8)) AS s),
      |seeds AS (SELECT qv, j FROM (SELECT qv,
      |  row_number() OVER (ORDER BY vec_id) - 1 AS j FROM qc)
      |  WHERE j < 16),
      |cbn AS (SELECT sp.s AS s, seeds.j AS j,
      |  seeds.qv[sp.s*8+1:sp.s*8+8] AS cvec,
      |  CAST(list_dot_product(seeds.qv[sp.s*8+1:sp.s*8+8],
      |    seeds.qv[sp.s*8+1:sp.s*8+8]) AS BIGINT) AS nb
      |  FROM seeds, sp),
      |subs AS (SELECT qc.vec_id, sp.s, qc.qv[sp.s*8+1:sp.s*8+8] AS sub
      |  FROM qc, sp),
      |assign AS (SELECT vec_id, s, j FROM (
      |  SELECT subs.vec_id, subs.s, cbn.j, row_number() OVER (
      |    PARTITION BY subs.vec_id, subs.s
      |    ORDER BY 2 * CAST(list_dot_product(subs.sub, cbn.cvec)
      |      AS BIGINT) - cbn.nb DESC, cbn.j) AS rn
      |  FROM subs JOIN cbn ON cbn.s = subs.s) WHERE rn = 1),
      |pcodes AS (SELECT vec_id,
      |  CAST(sum(j * (CAST(1 AS BIGINT) << CAST(4 * (7 - s) AS INTEGER)))
      |    AS BIGINT) AS pq_code
      |  FROM assign GROUP BY vec_id)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  /** Residual-IVFPQ replay CTEs (the IVFADC formulation
    * [[graft.ops.Quantization.ivfPqTopK]] defaults to): int8 codes
    * `qc`, float-cosine cell assignment `cellasg` (same margin
    * argument as ann_ivf_topk), int8 centroid codes `cent8`, integer
    * residuals `rv(vec_id, cell, rq)`, residual-seeded codebook `cbn`,
    * exact integer L2² assignment `assign`, per-vector residual
    * reconstruction `recon`, queries `qq(q_id, qv)` (vec_id 10..19),
    * and `probes(q_id, cell, qoff)` with the per-probe ADC offset
    * `qoff = dot(q_codes, c8_cell)`.
    */
  private lazy val IvfPqResidCtes: String =
    """WITH qc AS (SELECT vec_id, list_transform(embedding,
      |  v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), 127),
      |    -128) AS BIGINT)) AS qv FROM embeddings),
      |cent AS (SELECT CAST(vec_id AS INTEGER) AS cell,
      |  embedding AS c_vec FROM embeddings WHERE vec_id < 8),
      |cent8 AS (SELECT cell, list_transform(c_vec,
      |  v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), 127),
      |    -128) AS BIGINT)) AS c8 FROM cent),
      |cellasg AS (SELECT vec_id, cell FROM (
      |  SELECT e.vec_id, c.cell, row_number() OVER (
      |    PARTITION BY e.vec_id ORDER BY
      |    list_cosine_similarity(e.embedding, c.c_vec) DESC, c.cell)
      |    AS rn FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
      |rv AS (SELECT qc.vec_id, ca.cell,
      |  list_transform(range(1, 65), i -> qc.qv[i] - c8.c8[i]) AS rq
      |  FROM qc JOIN cellasg ca USING (vec_id)
      |  JOIN cent8 c8 USING (cell)),
      |sp AS (SELECT unnest(range(0, 8)) AS s),
      |rseeds AS (SELECT rq, j FROM (SELECT rq,
      |  row_number() OVER (ORDER BY vec_id) - 1 AS j FROM rv)
      |  WHERE j < 16),
      |cbn AS (SELECT sp.s AS s, rseeds.j AS j,
      |  rseeds.rq[sp.s*8+1:sp.s*8+8] AS cvec,
      |  CAST(list_dot_product(rseeds.rq[sp.s*8+1:sp.s*8+8],
      |    rseeds.rq[sp.s*8+1:sp.s*8+8]) AS BIGINT) AS nb
      |  FROM rseeds, sp),
      |subs AS (SELECT rv.vec_id, sp.s, rv.rq[sp.s*8+1:sp.s*8+8] AS sub
      |  FROM rv, sp),
      |assign AS (SELECT vec_id, s, j FROM (
      |  SELECT subs.vec_id, subs.s, cbn.j, row_number() OVER (
      |    PARTITION BY subs.vec_id, subs.s
      |    ORDER BY 2 * CAST(list_dot_product(subs.sub, cbn.cvec)
      |      AS BIGINT) - cbn.nb DESC, cbn.j) AS rn
      |  FROM subs JOIN cbn ON cbn.s = subs.s) WHERE rn = 1),
      |recon AS (SELECT a.vec_id,
      |  flatten(list(c.cvec ORDER BY a.s)) AS recon
      |  FROM assign a JOIN cbn c ON c.s = a.s AND c.j = a.j
      |  GROUP BY a.vec_id),
      |qq AS (SELECT vec_id AS q_id, qv FROM qc
      |  WHERE vec_id >= 10 AND vec_id < 20),
      |probes AS (SELECT p.q_id, p.cell,
      |  CAST(list_dot_product(qq.qv, c8.c8) AS BIGINT) AS qoff FROM (
      |  SELECT q.vec_id AS q_id, c.cell, row_number() OVER (
      |    PARTITION BY q.vec_id ORDER BY
      |    list_cosine_similarity(q.embedding, c.c_vec) DESC, c.cell)
      |    AS rn FROM embeddings q CROSS JOIN cent c
      |  WHERE q.vec_id >= 10 AND q.vec_id < 20) p
      |  JOIN cent8 c8 USING (cell) JOIN qq ON qq.q_id = p.q_id
      |  WHERE p.rn <= 2)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  /** K-means label replay: the full integer-exact Lloyd iteration of
    * [[graft.ops.KMeans.fitAssign]] (k = 8, 2 rounds, 64 dims, scale
    * 2^6) rendered as CTEs over a caller-prepended `base0(vec_id,
    * embedding)`. Ends with `klabel(vec_id, embedding, label)`. Every
    * compared value is exact-integer-derived — the only doubles are
    * the score division and the centroid floor-division, both
    * correctly rounded IEEE ops on exactly-representable operands, so
    * both engines compute identical bits (see KMeans scaladoc).
    */
  private def kmeansLabelSql(k: Int = 8, dims: Int = 64): String = {
    // argmax cell per vector: signed-square cosine ordering, ties to
    // the lower cell, degenerate zero-norm centroids at -infinity
    def assignCte(name: String, cent: String): String =
      s"$name AS (SELECT vec_id, cell FROM (" +
        "SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY CASE WHEN cnorm2 > 0 THEN (CASE WHEN qd >= 0 " +
        "THEN CAST(qd * qd AS DOUBLE) ELSE CAST(qd * qd AS DOUBLE) * -1 " +
        "END) / CAST(cnorm2 AS DOUBLE) ELSE CAST('-infinity' AS DOUBLE) " +
        "END DESC, cell ASC) AS rn FROM (" +
        "SELECT q.vec_id, c.cell, " +
        "CAST(list_dot_product(q.qvec, c.cvec) AS BIGINT) AS qd, " +
        "CAST(list_dot_product(c.cvec, c.cvec) AS BIGINT) AS cnorm2 " +
        s"FROM q CROSS JOIN $cent c)) WHERE rn = 1)"
    // Lloyd update: per-cell per-dim floor(sum/count); empty cells
    // drop out of the GROUP BY exactly as in KMeans.refine
    def refineCte(sName: String, cName: String, aName: String): String =
      s"$sName AS (SELECT a.cell, d.i, sum(q.qvec[d.i]) AS sm, " +
        s"count(*) AS cnt FROM $aName a JOIN q USING (vec_id) " +
        s"CROSS JOIN (SELECT unnest(range(1, ${dims + 1})) AS i) d " +
        "GROUP BY a.cell, d.i), " +
        s"$cName AS (SELECT cell, list(CAST(floor(CAST(sm AS DOUBLE) " +
        s"/ cnt) AS BIGINT) ORDER BY i) AS cvec FROM $sName GROUP BY cell)"
    "q AS (SELECT vec_id, embedding, list_transform(embedding, " +
      "v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), 127), " +
      "-128) AS BIGINT)) AS qvec FROM base0), " +
      // seed cells 0..k-1 from the k smallest vec_ids BY RANK — the
      // same rule KMeans.fitAssign uses (ADVICE r18: the literal
      // `vec_id < k` replay only matched the engine on dense 0-based
      // id spaces; rank-based matches on ANY corpus)
      "c0 AS (SELECT CAST(j AS INTEGER) AS cell, qvec AS cvec FROM (" +
      "SELECT qvec, row_number() OVER (ORDER BY vec_id) - 1 AS j " +
      s"FROM q) WHERE j < $k), " +
      assignCte("a1", "c0") + ", " + refineCte("s1", "c1", "a1") + ", " +
      assignCte("a2", "c1") + ", " + refineCte("s2", "c2", "a2") + ", " +
      assignCte("af", "c2") + ", " +
      "klabel AS (SELECT q.vec_id, q.embedding, a.cell AS label " +
      "FROM q JOIN af a USING (vec_id))"
  }

  /** The BM25 run CTE chain (token stream → query-term postings →
    * scored → top-10 `run`) shared by the retrieval_eval and
    * graded_rank_eval oracles — one source of truth for the query
    * set and the scoring formula. Pre-collapsed; interpolate after
    * `WITH `.
    */
  private lazy val Bm25RunCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split($NormTextSql, ' '))
       |    AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks
       |       WHERE len(term) > 0 GROUP BY doc_id),
       |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, term FROM (VALUES
       |  (1, 'hash'), (1, 'join'), (2, 'column'), (2, 'scan'),
       |  (3, 'filter'), (3, 'merge'), (3, 'small')) t(q_id, term)),
       |qp AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl
       |       FROM tf JOIN dl USING (doc_id)
       |       WHERE tf.term IN (SELECT term FROM q)),
       |dfq AS (SELECT term, count(*) AS df FROM qp GROUP BY term),
       |scl AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
       |       (SELECT avg(CAST(dl AS DOUBLE)) FROM dl) AS avgdl),
       |s AS (SELECT q.q_id, qp.doc_id,
       |  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
       |    (tf * 2.2) / (tf + 1.2 *
       |      (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
       |  FROM qp JOIN q USING (term) JOIN dfq USING (term)
       |  CROSS JOIN scl GROUP BY q.q_id, qp.doc_id),
       |run AS (SELECT q_id, doc_id, CAST(row_number() OVER (
       |  PARTITION BY q_id
       |  ORDER BY round(score, 4) DESC, doc_id ASC) AS INTEGER) AS rk
       |  FROM s QUALIFY rk <= 10)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  val defs: Seq[QueryDef] = Seq(
    // Embedding-cosine near-duplicate pairs (LSH-bucketed self-join,
    // never all-pairs) at a REAL near-dup threshold (0.95). The
    // synthetic embeddings hold no true near-dups, so the input prep
    // plants them: a deterministic slice (vec_id % 97) is copied with
    // its first coordinate nudged by +0.25f — single-rounded float
    // arithmetic, so DuckDB's CAST(...+0.25 AS FLOAT) replays it
    // bit-exactly. Planted-pair sims measure 0.968..0.975 vs
    // non-planted below ~0.35, so the 0.95 cut has >0.018 margin on
    // both sides — far above float cosine noise. The planted vectors'
    // sign-LSH projections are margin-safe too: measured min
    // |plane·vec| over all planted rows at sf0.01 is 5.5e-2 (whole
    // input: 6.1e-4), ~5000× above f32-accumulation noise, so bucket
    // assignment cannot flip between engines. Pair ids only — no
    // float column reaches the comparator.
    QueryDef("cosine_neardup_pairs", (s, dir) => {
      val base = T(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.25f)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      Similarity.cosineNearDupPairs(base.union(planted),
        threshold = 0.95, numBits = 8)
        .select(col("id_a"), col("id_b"))
    },
      // Same plane-literal replay as ann_lsh_buckets, 8-bit planes
      // (the same seed draws the 12-bit set's prefix, but rendered
      // independently from the same constants). The planted-near-dup
      // prep is replayed verbatim: +0.25 on the first coordinate, with
      // the literal CAST to FLOAT so the add is FLOAT+FLOAT → computed
      // and rounded ONCE in f32, exactly like Spark's float add — no
      // reliance on the double sum being exact at any magnitude.
      {
        def bucketSql(vecCol: String): String =
          graft.ops.Similarity.hyperplanes(numBits = 8, dims = 64)
            .zipWithIndex.map { case (p, j) =>
              val lst = p.map(v => if (v > 0) "1.0" else "-1.0")
                .mkString("[", ", ", "]")
              s"(CASE WHEN list_dot_product($vecCol, $lst) >= 0 " +
                s"THEN ${1 << j} ELSE 0 END)"
            }.mkString("(", " + ", ")")
        "WITH inp AS (SELECT vec_id, embedding FROM embeddings " +
          "UNION ALL SELECT vec_id + 1000000, " +
          "list_concat([CAST(embedding[1] + CAST(0.25 AS FLOAT) AS FLOAT)], " +
          "embedding[2:]) FROM embeddings WHERE vec_id % 97 = 0), " +
          s"b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} " +
          "AS bucket FROM inp) " +
          "SELECT l.vec_id AS id_a, r.vec_id AS id_b " +
          "FROM b l JOIN b r USING (bucket) " +
          "WHERE l.vec_id < r.vec_id " +
          "AND list_cosine_similarity(l.embedding, r.embedding) >= 0.95"
      }),

    // Brute-force cosine top-k (exact ANN baseline, broadcast queries).
    QueryDef("ann_cosine_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(corpus, queries, k = 10)
        .select(col("q_id"), col("vec_id"), col("rk"))
    },
      // Ranks only (no float sim column): verified locally that the
      // smallest neighbor-similarity gap (~2e-5) is orders of magnitude
      // above float32 cosine noise, so rank order is engine-stable.
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec " +
        "FROM embeddings WHERE vec_id < 10), " +
        "sims AS (SELECT q.q_id, e.vec_id, " +
        "list_cosine_similarity(q.q_vec, e.embedding) AS sim " +
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id) " +
        "SELECT q_id, vec_id, CAST(row_number() OVER " +
        "(PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rk " +
        "FROM sims QUALIFY rk <= 10")),

    // Hard-negative mining: per anchor, the top-10 nearest vectors of
    // a DIFFERENT label — the contrastive-training near-misses. Same
    // broadcast + WindowGroupLimit shape as the brute top-k; sim stays
    // engine-internal (float), rank-only output like ann_cosine_topk.
    QueryDef("hard_negatives", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val anchors = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          col("label").as("q_label"))
      Similarity.hardNegatives(corpus, anchors, k = 10)
        .select(col("q_id"), col("vec_id"), col("rk"))
    },
      ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, " +
        "label AS q_label FROM embeddings WHERE vec_id < 10), " +
        "sims AS (SELECT q.q_id, e.vec_id, " +
        "list_cosine_similarity(q.q_vec, e.embedding) AS sim " +
        "FROM embeddings e CROSS JOIN q " +
        "WHERE e.vec_id <> q.q_id AND e.label <> q.q_label) " +
        "SELECT q_id, vec_id, CAST(row_number() OVER " +
        "(PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rk " +
        "FROM sims QUALIFY rk <= 10")),

    // LSH-bucketed approximate top-k (the scale path; no SQL oracle).
    QueryDef("ann_lsh_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(corpus, queries, k = 10, numBits = 4)
        .select(col("q_id"), col("vec_id"), col("rk"))
    },
      // Single-probe sign-LSH top-k replayed in SQL: same 4-bit plane
      // literals for both sides of the bucket join, then the exact
      // rank/tie-break of the Spark side. Rank-only output.
      {
        def bucketSql(vecCol: String): String =
          graft.ops.Similarity.hyperplanes(numBits = 4, dims = 64)
            .zipWithIndex.map { case (p, j) =>
              val lst = p.map(v => if (v > 0) "1.0" else "-1.0")
                .mkString("[", ", ", "]")
              s"(CASE WHEN list_dot_product($vecCol, $lst) >= 0 " +
                s"THEN ${1 << j} ELSE 0 END)"
            }.mkString("(", " + ", ")")
        s"WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} " +
          "AS bucket FROM embeddings), " +
          s"q AS (SELECT vec_id AS q_id, embedding AS q_vec, " +
          s"${bucketSql("embedding")} AS bucket FROM embeddings " +
          "WHERE vec_id < 10), " +
          "cand AS (SELECT q.q_id, b.vec_id, " +
          "list_cosine_similarity(q.q_vec, b.embedding) AS sim " +
          "FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id) " +
          "SELECT q_id, vec_id, CAST(row_number() OVER (" +
          "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rk " +
          "FROM cand QUALIFY rk <= 10"
      }),

    // Multi-probe variant under the full oracle: the query probes its
    // own bucket plus every 1-bit flip (the recall lever measured in
    // ann_planted_recall), and DuckDB replays the probe expansion with
    // xor() over the same plane literals. Rank-only output, same
    // float-margin argument as ann_lsh_topk.
    QueryDef("ann_lsh_multiprobe_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopKMultiProbe(corpus, queries, k = 10, numBits = 4)
        .select(col("q_id"), col("vec_id"), col("rk"))
    },
      // multi-probe replay: same plane literals, the probe list is the
      // query bucket xor each single bit (xor() in DuckDB = Spark's
      // bitwiseXOR); corpus vectors keep one bucket so the expansion
      // introduces no duplicate pairs. Rank-only for the same
      // corpus-wide ~2e-5 sim-gap reason as ann_cosine_topk (any
      // candidate subset inherits the full-corpus gap floor).
      {
        def bucketSql(vecCol: String): String =
          graft.ops.Similarity.hyperplanes(numBits = 4, dims = 64)
            .zipWithIndex.map { case (p, j) =>
              val lst = p.map(v => if (v > 0) "1.0" else "-1.0")
                .mkString("[", ", ", "]")
              s"(CASE WHEN list_dot_product($vecCol, $lst) >= 0 " +
                s"THEN ${1 << j} ELSE 0 END)"
            }.mkString("(", " + ", ")")
        s"WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} " +
          "AS bucket FROM embeddings), " +
          s"q0 AS (SELECT vec_id AS q_id, embedding AS q_vec, " +
          s"${bucketSql("embedding")} AS bucket0 FROM embeddings " +
          "WHERE vec_id < 10), " +
          "q AS (SELECT q_id, q_vec, unnest([bucket0, xor(bucket0, 1), " +
          "xor(bucket0, 2), xor(bucket0, 4), xor(bucket0, 8)]) AS bucket " +
          "FROM q0), " +
          "cand AS (SELECT q.q_id, b.vec_id, " +
          "list_cosine_similarity(q.q_vec, b.embedding) AS sim " +
          "FROM b JOIN q USING (bucket) WHERE b.vec_id <> q.q_id) " +
          "SELECT q_id, vec_id, CAST(row_number() OVER (" +
          "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rk " +
          "FROM cand QUALIFY rk <= 10"
      }),

    // Per-vector LSH bucket assignment (deterministic hyperplanes).
    QueryDef("ann_lsh_buckets", (s, dir) =>
      Similarity.withBuckets(T(s, dir, "embeddings"), numBits = 12)
        .select(col("vec_id"), col("label"), col("bucket")),
      // The sign-LSH bucket key is fully replayable in SQL: the
      // hyperplanes are deterministic ±1 driver-side literals
      // (Similarity.hyperplanes), rendered here into the generated
      // oracle so the two sides can't drift. Sign decisions are
      // float-margin-safe: ±1 products are EXACT in both engines
      // (a sign flip never rounds), so only accumulation-order noise
      // (≲1e-5 even if one engine accumulated in f32) remains — the
      // measured |projection| floor on the sf0.01 embeddings is
      // 3.5e-4, ~35× above it. Bits are disjoint powers of two —
      // SUM ≡ bitwise OR.
      {
        val bucket = graft.ops.Similarity.hyperplanes(numBits = 12, dims = 64)
          .zipWithIndex.map { case (p, j) =>
            val lst = p.map(v => if (v > 0) "1.0" else "-1.0")
              .mkString("[", ", ", "]")
            s"(CASE WHEN list_dot_product(embedding, $lst) >= 0 " +
              s"THEN ${1 << j} ELSE 0 END)"
          }.mkString(" + ")
        s"SELECT vec_id, label, CAST($bucket AS INTEGER) AS bucket " +
          "FROM embeddings"
      }),

    // Embedding-distribution drift census between two snapshots —
    // the "rebuild the frozen ANN model?" pre-flight. Old = even
    // vec_ids; new = odd vec_ids with every 11th vector scaled ×3
    // (planted drift: scaling CANNOT flip a sign-LSH bucket, so the
    // plant moves int8 means without any hyperplane-boundary float
    // hazard). Exact integers: cross-multiplied L1 mean shift per
    // deterministic LSH bucket, count asymmetries, threshold verdict,
    // and the in-band low_mass honesty column (at this SF every
    // bucket is below judgment mass and says so; the drifted
    // semantics at mass are spec-pinned on constructed fixtures).
    QueryDef("embedding_drift", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val newSnap = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"),
          when(col("vec_id") % 11 === 0,
            transform(col("embedding"),
              v => (v * lit(3.0f)).cast("float")))
            .otherwise(col("embedding")).as("embedding"))
      Similarity.driftCensus(
        emb.filter(col("vec_id") % 2 === 0), newSnap, numBits = 6)
        .orderBy("bucket")
    },
      // 6-bit plane-literal replay (same seed draws the 12-bit set's
      // prefix); ×3 plant rendered with the literal FLOAT cast so the
      // multiply rounds once in f32 like Spark's; int8 sums, counts
      // and the cross-multiplied L1 all exact BIGINTs
      {
        val bucket = graft.ops.Similarity.hyperplanes(numBits = 6, dims = 64)
          .zipWithIndex.map { case (p, j) =>
            val lst = p.map(v => if (v > 0) "1.0" else "-1.0")
              .mkString("[", ", ", "]")
            s"(CASE WHEN list_dot_product(embedding, $lst) >= 0 " +
              s"THEN ${1 << j} ELSE 0 END)"
          }.mkString(" + ")
        val q8 = "list_transform(embedding, v -> CAST(greatest(least(" +
          "floor(CAST(v AS DOUBLE) * 64), 127), -128) AS BIGINT))"
        s"""WITH oldv AS (SELECT embedding FROM embeddings
           |  WHERE vec_id % 2 = 0),
           |newv AS (SELECT CASE WHEN vec_id % 11 = 0
           |    THEN list_transform(embedding,
           |      v -> CAST(v * CAST(3.0 AS FLOAT) AS FLOAT))
           |    ELSE embedding END AS embedding
           |  FROM embeddings WHERE vec_id % 2 = 1),
           |bo AS (SELECT CAST($bucket AS INTEGER) AS bucket, $q8 AS q8
           |  FROM oldv),
           |bn AS (SELECT CAST($bucket AS INTEGER) AS bucket, $q8 AS q8
           |  FROM newv),
           |co AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_old
           |  FROM bo GROUP BY 1),
           |cn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
           |  FROM bn GROUP BY 1),
           |so AS (SELECT bucket, pos, CAST(sum(v) AS BIGINT) AS s_old
           |  FROM (SELECT bucket, unnest(q8) AS v,
           |    generate_subscripts(q8, 1) AS pos FROM bo) GROUP BY 1, 2),
           |sn AS (SELECT bucket, pos, CAST(sum(v) AS BIGINT) AS s_new
           |  FROM (SELECT bucket, unnest(q8) AS v,
           |    generate_subscripts(q8, 1) AS pos FROM bn) GROUP BY 1, 2),
           |cc AS (SELECT coalesce(co.bucket, cn.bucket) AS bucket,
           |  coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
           |  FROM co FULL JOIN cn ON co.bucket = cn.bucket),
           |l1 AS (SELECT bucket, CAST(sum(abs(
           |    coalesce(s_new, 0) * n_old - coalesce(s_old, 0) * n_new))
           |    AS BIGINT) AS l1_num
           |  FROM (SELECT coalesce(so.bucket, sn.bucket) AS bucket,
           |      s_old, s_new FROM so FULL JOIN sn
           |      ON so.bucket = sn.bucket AND so.pos = sn.pos) j
           |  JOIN cc USING (bucket) GROUP BY bucket)
           |SELECT cc.bucket, n_old, n_new,
           |  coalesce(l1_num, 0) AS l1_num,
           |  (n_old = 0 OR n_new = 0 OR
           |   coalesce(l1_num, 0) > 256 * n_old * n_new) AS drifted,
           |  (n_old < 100 OR n_new < 100) AS low_mass
           |FROM cc LEFT JOIN l1 USING (bucket) ORDER BY cc.bucket"""
          .stripMargin.replaceAll("\\s+", " ").trim
      }),

    // IVF-style ANN: coarse-quantize into cells (broadcast argmin),
    // probe the query's nearest cells only. Centroids here are the 8
    // lowest-id vectors standing in for trained k-means centers.
    QueryDef("ann_ivf_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_vec"))
      val queries = corpus.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(corpus, queries, centroids, k = 10, nProbe = 2)
        .select(col("q_id"), col("vec_id"), col("rk"))
    },
      // IVF replayed end-to-end in SQL: same deterministic centroid
      // set (the 8 lowest-id vectors), same argmax cell assignment,
      // same 2-probe candidate join, same rank/tie-break — rank-only
      // output like ann_cosine_topk, for the same float-margin reason.
      ("WITH cent AS (SELECT CAST(vec_id AS INTEGER) AS cell, " +
        "embedding AS c_vec FROM embeddings WHERE vec_id < 8), " +
        "assigned AS (SELECT vec_id, embedding, cell FROM (" +
        "SELECT e.vec_id, e.embedding, c.cell, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "list_cosine_similarity(e.embedding, c.c_vec) DESC, c.cell) AS rn " +
        "FROM embeddings e CROSS JOIN cent c) WHERE rn = 1), " +
        "probes AS (SELECT q_id, q_vec, cell FROM (" +
        "SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.cell, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "list_cosine_similarity(q.embedding, c.c_vec) DESC, c.cell) AS rn " +
        "FROM embeddings q CROSS JOIN cent c " +
        "WHERE q.vec_id >= 10 AND q.vec_id < 20) WHERE rn <= 2), " +
        "cand AS (SELECT p.q_id, a.vec_id, " +
        "list_cosine_similarity(p.q_vec, a.embedding) AS sim " +
        "FROM assigned a JOIN probes p ON a.cell = p.cell " +
        "WHERE a.vec_id <> p.q_id) " +
        "SELECT q_id, vec_id, CAST(row_number() OVER (" +
        "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rk " +
        "FROM cand QUALIFY rk <= 10")),

    // Int8-quantized brute-force top-k: the 4× memory/bandwidth lever
    // for billion-scale ANN, scored on EXACT integer dot products —
    // which is why, unlike the float paths, rank AND score are both
    // oracled (the fixed power-of-two scale makes the codes
    // bit-identical across engines; see Quantization.int8Codes).
    QueryDef("ann_quantized_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantization.quantizedTopK(corpus, queries, k = 10)
    },
      // full replay of the int8 quantizer and integer dot product:
      // floor(CAST AS DOUBLE * 64) is exact in both engines (2^6
      // scales the exponent only), integer sums are exact, so score
      // and rank both reach the comparator — no float anywhere
      ("WITH c AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(greatest(least(floor(CAST(x AS DOUBLE) * 64), 127), " +
        "-128) AS INTEGER)) AS qvec FROM embeddings), " +
        "q AS (SELECT vec_id AS q_id, qvec AS q_codes FROM c " +
        "WHERE vec_id < 10), " +
        "s AS (SELECT q.q_id, c.vec_id, " +
        "list_sum(list_transform(range(1, 65), " +
        "i -> CAST(c.qvec[i] AS BIGINT) * q.q_codes[i])) AS qdot " +
        "FROM c CROSS JOIN q WHERE c.vec_id <> q.q_id) " +
        "SELECT q_id, vec_id, CAST(qdot AS BIGINT) AS qdot, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY qdot DESC, vec_id) AS INTEGER) AS rk " +
        "FROM s QUALIFY rk <= 10")),

    // PQ code column: 8 nibbles packed into one BIGINT per vector —
    // the 4-byte compressed index a 100 TB corpus stores instead of
    // 256 B of floats. Deterministic codebook, exact integer
    // assignment; the oracle replays the whole encode.
    QueryDef("pq_codes", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      Quantization.pqEncode(corpus, Quantization.pqCodebook(corpus))
        .select(col("vec_id"), col("pq_code"))
    },
      // the full PQ encode replay — codebook, assignment, nibble pack
      (PqCtes + " SELECT vec_id, pq_code FROM pcodes")),

    // PQ ADC top-k: integer dot of query codes against PQ-
    // reconstructed corpus vectors — rank AND score replay exactly.
    QueryDef("ann_pq_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantization.pqTopK(corpus, queries, topK = 10)
    },
      // PQ ADC replay: reconstruct each corpus vector from its
      // assigned centroids (ordered flatten), integer-dot against the
      // query codes — score and rank reach the comparator exactly
      (PqCtes + ", recon AS (SELECT a.vec_id, " +
        "flatten(list(c.cvec ORDER BY a.s)) AS recon " +
        "FROM assign a JOIN cbn c ON c.s = a.s AND c.j = a.j " +
        "GROUP BY a.vec_id), " +
        "qq AS (SELECT vec_id AS q_id, qv FROM qc WHERE vec_id < 10), " +
        "adc AS (SELECT qq.q_id, r.vec_id, " +
        "CAST(list_dot_product(qq.qv, r.recon) AS BIGINT) AS score " +
        "FROM recon r, qq WHERE r.vec_id <> qq.q_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY score DESC, vec_id) AS INTEGER) AS rk " +
        "FROM adc QUALIFY rk <= 10")),

    // IVF×PQ fused ANN with exact re-rank — the billion-vector index
    // shape: coarse cells prune the corpus (nProbe=2 of 8), PQ ADC
    // scores only within probed cells, and the ADC top-30 re-rank by
    // exact int8 dot. Integer scores end-to-end, so score AND rank
    // replay; the float cell assignment replays like ann_ivf_topk.
    QueryDef("ann_ivfpq_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_vec"))
      val queries = corpus.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantization.ivfPqTopK(corpus, queries, centroids,
        topK = 10, nProbe = 2, rerank = 30)
    },
      // IVF×PQ replay, RESIDUAL formulation (IVFADC): int8 codes and
      // cells as before, then per-vector integer residuals rq = qv −
      // c8(cell), a codebook seeded from the 16 lowest vec_ids'
      // RESIDUAL subvectors, exact integer L2² assignment over
      // residual subvectors, and ADC = per-probe offset dot(q, c8) +
      // dot(q, recon(residual)) — every compared value an exact
      // integer, the coarse float assignment replaying as in
      // ann_ivf_topk; ADC top-30 re-ranked by the exact int8 dot
      (IvfPqResidCtes +
        ", adc0 AS (SELECT p.q_id, r.vec_id, " +
        "CAST(p.qoff + list_dot_product(q.qv, r.recon) AS BIGINT) " +
        "AS adc " +
        "FROM recon r JOIN cellasg ca ON ca.vec_id = r.vec_id " +
        "JOIN probes p ON p.cell = ca.cell " +
        "JOIN qq q ON q.q_id = p.q_id WHERE r.vec_id <> p.q_id), " +
        "short AS (SELECT q_id, vec_id FROM (" +
        "SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY adc DESC, vec_id) AS arn FROM adc0) WHERE arn <= 30), " +
        "rr AS (SELECT s.q_id, s.vec_id, " +
        "CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS score " +
        "FROM short s JOIN qc c ON c.vec_id = s.vec_id " +
        "JOIN qq q ON q.q_id = s.q_id) " +
        "SELECT q_id, vec_id, score, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY score DESC, vec_id) AS INTEGER) AS rk " +
        "FROM rr QUALIFY rk <= 10")),

    // IVF + exact int8 scoring (FAISS "IVF,SQ8"): coarse cells prune,
    // the true quantized dot scores — no PQ approximation, so score
    // AND rank replay as integers. The uncompressed-index baseline
    // the PQ paths are graded against.
    QueryDef("ann_ivfsq8_topk", (s, dir) => {
      val corpus = T(s, dir, "embeddings")
      val centroids = corpus.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_vec"))
      val queries = corpus.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Quantization.ivfSq8TopK(corpus, queries, centroids,
        topK = 10, nProbe = 2)
    },
      // IVF,SQ8 replay: int8 codes, float-cosine cell assignment and
      // probes (the ann_ivf_topk margin argument), exact integer dot
      // within probed cells — score and rank reach the comparator
      ("""WITH qc AS (SELECT vec_id, list_transform(embedding,
         |  v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), 127),
         |    -128) AS BIGINT)) AS qv FROM embeddings),
         |cent AS (SELECT CAST(vec_id AS INTEGER) AS cell,
         |  embedding AS c_vec FROM embeddings WHERE vec_id < 8),
         |cellasg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, c.cell, row_number() OVER (
         |    PARTITION BY e.vec_id ORDER BY
         |    list_cosine_similarity(e.embedding, c.c_vec) DESC, c.cell)
         |    AS rn FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
         |qq AS (SELECT vec_id AS q_id, qv FROM qc
         |  WHERE vec_id >= 10 AND vec_id < 20),
         |probes AS (SELECT q_id, cell FROM (
         |  SELECT q.vec_id AS q_id, c.cell, row_number() OVER (
         |    PARTITION BY q.vec_id ORDER BY
         |    list_cosine_similarity(q.embedding, c.c_vec) DESC, c.cell)
         |    AS rn FROM embeddings q CROSS JOIN cent c
         |  WHERE q.vec_id >= 10 AND q.vec_id < 20) WHERE rn <= 2),
         |sc AS (SELECT p.q_id, ca.vec_id,
         |  CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS score
         |  FROM cellasg ca JOIN probes p ON p.cell = ca.cell
         |  JOIN qc c ON c.vec_id = ca.vec_id
         |  JOIN qq q ON q.q_id = p.q_id WHERE ca.vec_id <> p.q_id)
         |SELECT q_id, vec_id, score,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, vec_id) AS INTEGER) AS rk
         |FROM sc QUALIFY rk <= 10"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Retrieval-quality gate for the fused path (same planted-original
    // construction as ann_planted_recall): the flag asserts that the
    // IVFPQ+rerank pipeline surfaced the planted original in its
    // top-10 for >= floor% of planted queries — ADC quantization error
    // and cell-miss both count against it.
    QueryDef("ann_ivfpq_recall", (s, dir) => {
      val base = T(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.25f)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val corpus = base.union(planted)
      val queries = planted.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"))
      val centroids = base.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_vec"))
      val hits = Quantization.ivfPqTopK(corpus, queries, centroids,
        topK = 10, nProbe = 2, rerank = 30)
        .filter(col("vec_id") === col("q_id") - 1000000L)
        .select(col("q_id"), lit(1L).as("hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .agg(count(lit(1)).as("planted_total"),
          (sum(coalesce(col("hit"), lit(0L))) * 100 >=
            count(lit(1)) * AnnIvfPqRecallFloorPct).as("recall_ok"))
    },
      // fused-path quality gate: planted-total replay + flag TRUE
      ("SELECT count(*) AS planted_total, TRUE AS recall_ok " +
        "FROM embeddings WHERE vec_id % 97 = 0")),

    // The residual-vs-raw PQ fidelity gate, run as a query: ADC-only
    // (rerank=0) top-10 for BOTH encodings against the exact-int8
    // ranking within the same probed cells (rerank >> candidates), on
    // k-means-TRAINED coarse centroids — the regime where residual
    // encoding provably has something to subtract (cluster means;
    // with arbitrary vector-valued centroids residual deltas are
    // BIGGER than the vectors and raw wins — both measured, see
    // SCALE.md). Asserts residual >= raw on this data AND residual
    // above its absolute floor; the xxhash-free integer pipeline makes
    // the flags in-band self-audits the oracle pins TRUE.
    QueryDef("ann_ivfpq_adc_recall", (s, dir) => {
      // spread: the per-row integer kernels (int8 quantize, m×kCode
      // PQ argmins, ADC dots) otherwise run inside the single-row-
      // group scan task (cf. the mm gates)
      val corpus = spread(
        T(s, dir, "embeddings").select("vec_id", "embedding"))
      val cents = CheckpointUtil.ckpt(graft.tools.RunAnnIndex
        .trainCentroids(corpus, kCells = 8, iters = 1))
      // ONE coarse assignment shared by all three index flavors
      // (r21): identical rows by construction, so the checkpoint
      // changes no result. queries derive from it too (same
      // (vec_id, embedding) rows as the corpus), killing the
      // per-flavor corpus re-scans (r22).
      val assigned = CheckpointUtil.ckpt(Similarity.ivfAssign(corpus, cents))
      val queries = assigned
        .filter(col("vec_id") >= 10 && col("vec_id") < 110)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      // the three flavors (sq8 exact / residual ADC / raw ADC) score
      // the SAME candidate pairs, so the whole gate is one fused
      // candidate pass with three rank columns (Quantization.
      // ivfPqAdcCounts, r22) — counts spec-pinned equal to the
      // per-flavor formulation, oracle unchanged
      val counts = Quantization.ivfPqAdcCounts(assigned, queries, cents,
        topK = 10, nProbe = 2)
      queries.agg(count(lit(1)).as("n_queries"))
        .crossJoin(counts)
        .select(col("n_queries"),
          (col("res_hits") >= col("raw_hits")).as("residual_not_worse"),
          (col("res_hits") * 100 >= col("n_pairs") * AnnIvfPqAdcFloorPct)
            .as("residual_floor_ok"))
    },
      // residual-vs-raw PQ fidelity gate: query-count replay + both
      // in-band self-audit flags pinned TRUE (Spark must have measured
      // residual ADC recall >= raw AND above the absolute floor)
      ("SELECT count(*) AS n_queries, TRUE AS residual_not_worse, " +
        "TRUE AS residual_floor_ok " +
        "FROM embeddings WHERE vec_id >= 10 AND vec_id < 110")),

    // SemDeDup-style semantic dedup: within pre-assigned embedding
    // clusters (`label`), int8-quantized integer-cosine pairs above
    // 0.97 connect into components; keep min vec_id per component.
    // The corpus has no natural 0.97-cosine pairs, so the input prep
    // plants them SQL-replayably: every vec_id % 17 == 0 vector
    // re-enters verbatim under vec_id + 10,000,000 (same label —
    // identical vectors cluster together by construction), giving
    // exactly one two-vector component per planted pair.
    QueryDef("semdedup", (s, dir) => {
      val base = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"), col("label"))
      SemDedup.semDedup(base.unionByName(planted))
    },
      // SemDeDup replay: identical quantization, the cross-multiplied
      // integer cosine-squared test (qdot > 0 guard keeps the squaring
      // monotone), and a recursive reach CTE for the components —
      // every value integer, so the labeling hashes exactly
      (SemdedupReachCte +
        " SELECT b.vec_id, b.label, r.component," +
        " CAST(b.vec_id <> r.component AS INTEGER) AS is_dup" +
        " FROM (SELECT node, min(lbl) AS component FROM reach" +
        " GROUP BY node) r JOIN base b ON b.vec_id = r.node")),

    // The end-user shape: semantic dedup APPLIED — survivors only
    // (each component's minimum vec_id), the pass that shrinks the
    // corpus. Same labeling pipeline; one filter on top.
    QueryDef("semdedup_keep", (s, dir) => {
      val base = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"), col("label"))
      SemDedup.semDedup(base.unionByName(planted))
        .filter(col("is_dup") === 0)
        .select(col("vec_id"), col("label"))
    },
      // survivors of the applied semantic dedup: a vector is kept iff
      // it IS its component's minimum id
      (SemdedupReachCte +
        " SELECT b.vec_id, b.label" +
        " FROM (SELECT node, min(lbl) AS component FROM reach" +
        " GROUP BY node) r JOIN base b ON b.vec_id = r.node" +
        " WHERE b.vec_id = r.component")),

    // In-engine cluster assignment: integer-exact spherical k-means
    // (KMeans.fitAssign — 2 Lloyd rounds from the deterministic
    // lowest-id seeds). The oracle replays the ENTIRE iteration in
    // SQL; every score and centroid update is exact-integer-derived,
    // so the labels hash identically (see KMeans scaladoc).
    QueryDef("kmeans_assign", (s, dir) =>
      KMeans.fitAssign(
        T(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), col("label")),
      // the standalone Lloyd labeling, replayed end-to-end
      ("WITH base0 AS (SELECT vec_id, embedding FROM embeddings), " +
        kmeansLabelSql() + " SELECT vec_id, label FROM klabel")),

    // SemDeDup END-TO-END from raw embeddings: the k-means labels
    // above feed the semantic-dedup pair/components pass — no
    // pre-assigned cluster column anywhere. Planted +10M duplicates
    // (identical embeddings → identical codes → identical argmax →
    // same cluster BY CONSTRUCTION) make the dedup nontrivial.
    QueryDef("semdedup_e2e", (s, dir) => {
      val base = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
      // checkpoint the labeling once: semDedup reads it on both pair
      // sides plus the final labeling (3 references), each of which
      // re-ran the assign projection + model broadcast otherwise
      SemDedup.semDedup(
        CheckpointUtil.ckpt(KMeans.fitAssign(base.unionByName(planted))))
    },
      // k-means labels feeding the semantic-dedup reach — the full
      // raw-embeddings-to-verdict replay in one statement
      ("WITH RECURSIVE base0 AS (" +
        "SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 10000000, embedding FROM embeddings " +
        "WHERE vec_id % 17 = 0), " +
        kmeansLabelSql() + ", " +
        "base AS (SELECT vec_id, embedding, label FROM klabel), " +
        SemdedupReachSuffix +
        " SELECT b.vec_id, b.label, r.component," +
        " CAST(b.vec_id <> r.component AS INTEGER) AS is_dup" +
        " FROM (SELECT node, min(lbl) AS component FROM reach" +
        " GROUP BY node) r JOIN base b ON b.vec_id = r.node")),

    // the APPLIED form of the same end-to-end pass: raw embeddings →
    // k-means labels → semantic dedup → survivors only (the corpus
    // that ships to training)
    QueryDef("semdedup_keep_e2e", (s, dir) => {
      val base = T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + 10000000L).as("vec_id"),
          col("embedding"))
      // same shared-labeling checkpoint as semdedup_e2e
      SemDedup.semDedup(
        CheckpointUtil.ckpt(KMeans.fitAssign(base.unionByName(planted))))
        .filter(col("is_dup") === 0)
        .select(col("vec_id"), col("label"))
    },
      // the applied end-to-end form: survivors only
      ("WITH RECURSIVE base0 AS (" +
        "SELECT vec_id, embedding FROM embeddings UNION ALL " +
        "SELECT vec_id + 10000000, embedding FROM embeddings " +
        "WHERE vec_id % 17 = 0), " +
        kmeansLabelSql() + ", " +
        "base AS (SELECT vec_id, embedding, label FROM klabel), " +
        SemdedupReachSuffix +
        " SELECT b.vec_id, b.label" +
        " FROM (SELECT node, min(lbl) AS component FROM reach" +
        " GROUP BY node) r JOIN base b ON b.vec_id = r.node" +
        " WHERE b.vec_id = r.component")),

    // Planted-neighbor recall for the APPROXIMATE ANN paths. The
    // ann_lsh_topk / ann_ivf_topk oracles replay the same algorithm in
    // SQL, proving determinism but not retrieval quality; this query
    // proves quality: plant near-dup vectors (same +0.25f prep as
    // cosine_neardup_pairs), query with the copies, and flag whether
    // each approximate path returned the copy's original in its top-k.
    // The original IS the brute-force top-1 by construction (planted
    // sim ≈ 0.97 vs < 0.35 for every other vector — the margins
    // recorded at cosine_neardup_pairs), so asserting "found the
    // original" is recall@k against the exact baseline without
    // recomputing it. Only engine-independent values are emitted.
    // LSH runs MULTI-probe (own bucket + 1-bit flips): single-probe
    // 4-bit measured 83%/57% recall at sf0.01/sf0.1 — too thin over
    // any honest floor — multi-probe measures 100%/90.5%; IVF 2-probe
    // measures 100%/95.2%. Floors 75/80 leave real margin.
    QueryDef("ann_planted_recall", (s, dir) => {
      val base = T(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") % 97 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.25f)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val corpus = base.union(planted)
      val queries = planted.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"))
      val centroids = base.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("cell"),
          col("embedding").as("c_vec"))
      def hits(topk: DataFrame): DataFrame = topk
        .filter(col("vec_id") === col("q_id") - 1000000L)
        .select(col("q_id"), lit(1L).as("hit"))
      val lshHits = hits(Similarity.lshTopKMultiProbe(corpus, queries,
        k = 10, numBits = 4))
      val ivfHits = hits(Similarity.ivfTopK(corpus, queries, centroids,
        k = 10, nProbe = 2))
      def recallFlag(h: DataFrame, floorPct: Int, name: String) =
        queries.select("q_id").join(h, Seq("q_id"), "left")
          .agg(count(lit(1)).as("planted_total"),
            (sum(coalesce(col("hit"), lit(0L))) * 100 >=
              count(lit(1)) * floorPct).as(name))
      recallFlag(lshHits, AnnLshRecallFloorPct, "lsh_recall_ok")
        .crossJoin(broadcast(recallFlag(ivfHits, AnnIvfRecallFloorPct,
          "ivf_recall_ok").select("ivf_recall_ok")))
    },
      // ANN retrieval-quality gate: both approximate paths must have
      // found the planted original above their floors for the flags
      // to hash-match the oracle's TRUEs
      ("SELECT count(*) AS planted_total, TRUE AS lsh_recall_ok, " +
        "TRUE AS ivf_recall_ok FROM embeddings WHERE vec_id % 97 = 0")),

    // Matryoshka truncate-then-rerank retrieval gate (same planted
    // construction): stage 1 scans only the first 16 of 64 dims — the
    // head slice an MRL index keeps hot, 4× less vector I/O — and
    // stage 2 re-ranks a 30-candidate shortlist at full dimension.
    // The planted original's perturbation lives in dim 1 (inside the
    // head), so the flag measures truncation's recall loss directly.
    QueryDef("ann_matryoshka_recall", (s, dir) => {
      val base = T(s, dir, "embeddings").select("vec_id", "embedding")
      // query set CAPPED to a fixed id range: the single-stage head
      // scan is corpus × queries, so an SF-proportional query set
      // would go quadratic (measured 13× at 10× data before the cap);
      // a recall gate needs a fixed sample, not a growing one
      val planted = base
        .filter(col("vec_id") % 97 === 0 && col("vec_id") < 10000)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.25f)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val corpus = base.union(planted)
      val queries = planted.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec"))
      val hits = Similarity.truncatedRerankTopK(corpus, queries,
        prefixDims = 16, shortlist = 30, k = 10)
        .filter(col("vec_id") === col("q_id") - 1000000L)
        .select(col("q_id"), lit(1L).as("hit"))
      queries.select("q_id").join(hits, Seq("q_id"), "left")
        .agg(count(lit(1)).as("planted_total"),
          (sum(coalesce(col("hit"), lit(0L))) * 100 >=
            count(lit(1)) * AnnMatryoshkaRecallFloorPct)
            .as("matryoshka_recall_ok"))
    },
      ("SELECT count(*) AS planted_total, TRUE AS matryoshka_recall_ok " +
        "FROM embeddings WHERE vec_id % 97 = 0 AND vec_id < 10000")),

    // Lexical BM25 retrieval: three fixed bag-of-terms queries ranked
    // over the corpus. Postings restrict to queried terms via a
    // broadcast semi-join BEFORE any aggregate (df is computed on
    // queried-term postings only, never a vocabulary-wide groupBy);
    // ranking is on round(score, 4) with doc_id tiebreak so the
    // double-precision BM25 replays rank-exactly (tf-idf trick).
    QueryDef("bm25_topk", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "column"), (2L, "scan"),
        (3L, "filter"), (3L, "merge"), (3L, "small"))
        .toDF("q_id", "term")
      Retrieval.bm25TopK(docs, queries, k = 10)
    },
      // full BM25 replay: identical idf smoothing and length
      // normalization, rank on round(score, 4) with doc_id tiebreak
      (s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($NormTextSql, ' '))
         |    AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE len(term) > 0 GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks
         |       WHERE len(term) > 0 GROUP BY doc_id),
         |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, term FROM (VALUES
         |  (1, 'hash'), (1, 'join'), (2, 'column'), (2, 'scan'),
         |  (3, 'filter'), (3, 'merge'), (3, 'small')) t(q_id, term)),
         |qp AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl
         |       FROM tf JOIN dl USING (doc_id)
         |       WHERE tf.term IN (SELECT term FROM q)),
         |dfq AS (SELECT term, count(*) AS df FROM qp GROUP BY term),
         |sc AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |       (SELECT avg(CAST(dl AS DOUBLE)) FROM dl) AS avgdl),
         |s AS (SELECT q.q_id, qp.doc_id,
         |  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |    (tf * 2.2) / (tf + 1.2 *
         |      (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
         |  FROM qp JOIN q USING (term) JOIN dfq USING (term)
         |  CROSS JOIN sc GROUP BY q.q_id, qp.doc_id)
         |SELECT q_id, doc_id, CAST(row_number() OVER (
         |  PARTITION BY q_id
         |  ORDER BY round(score, 4) DESC, doc_id ASC) AS INTEGER) AS rk
         |FROM s QUALIFY rk <= 10"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Hybrid retrieval: BM25 over documents fused with exact-cosine
    // ANN over the SAME id universe (vec_id == doc_id in the fixture)
    // by reciprocal-rank fusion — no score calibration, integer ranks
    // in, and 1/(60+rk) doubles are single correctly-rounded IEEE ops,
    // so the fused ordering replays bit-exactly with no rounding
    // trick. Both inputs are top-20-bounded, so the fusion join is
    // O(queries × 20) whatever the corpus size.
    QueryDef("hybrid_rrf_topk", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val emb = T(s, dir, "embeddings")
      val qt = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "column"), (2L, "scan"),
        (3L, "filter"), (3L, "merge"))
        .toDF("q_id", "term")
      val bm = Retrieval.bm25TopK(docs, qt, k = 20)
      val qv = emb.filter(col("vec_id").isin(1L, 2L, 3L))
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val ann = Similarity.bruteForceTopK(emb, qv, k = 20)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rk"))
      Retrieval.rrfFuse(bm, ann, k = 10)
    },
      // the full hybrid replay: BM25 CTE chain (rank trick) + exact
      // cosine ranks + the RRF sum, which needs NO rounding — integer
      // ranks through one IEEE division and one addition are
      // bit-identical across engines
      (s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($NormTextSql, ' '))
         |    AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE len(term) > 0 GROUP BY doc_id, term),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks
         |       WHERE len(term) > 0 GROUP BY doc_id),
         |q AS (SELECT CAST(q_id AS BIGINT) AS q_id, term FROM (VALUES
         |  (1, 'hash'), (1, 'join'), (2, 'column'), (2, 'scan'),
         |  (3, 'filter'), (3, 'merge')) t(q_id, term)),
         |qp AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl
         |       FROM tf JOIN dl USING (doc_id)
         |       WHERE tf.term IN (SELECT term FROM q)),
         |dfq AS (SELECT term, count(*) AS df FROM qp GROUP BY term),
         |sc AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
         |       (SELECT avg(CAST(dl AS DOUBLE)) FROM dl) AS avgdl),
         |s AS (SELECT q.q_id, qp.doc_id,
         |  sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) *
         |    (tf * 2.2) / (tf + 1.2 *
         |      (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
         |  FROM qp JOIN q USING (term) JOIN dfq USING (term)
         |  CROSS JOIN sc GROUP BY q.q_id, qp.doc_id),
         |bm AS (SELECT q_id, doc_id, row_number() OVER (
         |  PARTITION BY q_id
         |  ORDER BY round(score, 4) DESC, doc_id ASC) AS rk_a
         |  FROM s QUALIFY rk_a <= 20),
         |qv AS (SELECT vec_id AS q_id, embedding AS q_vec
         |       FROM embeddings WHERE vec_id IN (1, 2, 3)),
         |sims AS (SELECT qv.q_id, e.vec_id AS doc_id,
         |  list_cosine_similarity(qv.q_vec, e.embedding) AS sim
         |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> qv.q_id),
         |ann AS (SELECT q_id, doc_id, row_number() OVER (
         |  PARTITION BY q_id ORDER BY sim DESC, doc_id) AS rk_b
         |  FROM sims QUALIFY rk_b <= 20),
         |fused AS (SELECT q_id, doc_id,
         |  coalesce(CAST(1 AS DOUBLE) / (60 + rk_a), 0) +
         |  coalesce(CAST(1 AS DOUBLE) / (60 + rk_b), 0) AS score
         |  FROM bm FULL OUTER JOIN ann USING (q_id, doc_id))
         |SELECT q_id, doc_id, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY score DESC, doc_id ASC)
         |  AS INTEGER) AS rk
         |FROM fused QUALIFY rk <= 10"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Late-interaction (ColBERT MaxSim) retrieval: every 4 consecutive
    // vec_ids form one multi-vector "document", queries are the first
    // 4 such groups, and score(q,d) = sum over query tokens of the max
    // int8-dot against d's tokens — all 64-bit integer arithmetic
    // (Quantization.quantize codes), so scores and ranks hash exactly.
    // Query side broadcast; linear in corpus tokens at the fixed query
    // set (the ann_cosine_topk shape). Production path at 100 TB: pass
    // `candidates` from a pooled-vector ANN stage and the rerank is
    // linear in the candidate list.
    QueryDef("maxsim_topk", (s, dir) => {
      val grp = floor(col("vec_id") / 4).cast("long")
      val codes = Quantization.quantize(T(s, dir, "embeddings"))
      val dt = codes.select(grp.as("d_id"), col("qvec").as("dvec"))
      val qt = codes.filter(col("vec_id") < 16)
        .select(grp.as("q_id"), col("vec_id").as("qtok_id"),
          col("qvec"))
      Retrieval.maxSimTopK(qt, dt, k = 10, excludeSelf = true)
    },
      // MaxSim replayed in integer arithmetic: same floor(v·64) int8
      // codes, max-of-dots per query token, summed per (q, d)
      ("""WITH qc AS (SELECT vec_id, vec_id // 4 AS grp,
         |  list_transform(embedding, v -> CAST(greatest(least(
         |    floor(CAST(v AS DOUBLE) * 64), 127), -128) AS BIGINT))
         |    AS qv FROM embeddings),
         |qt AS (SELECT grp AS q_id, vec_id AS qtok, qv FROM qc
         |  WHERE vec_id < 16),
         |tokmax AS (SELECT qt.q_id, dc.grp AS d_id, qt.qtok,
         |  max(CAST(list_dot_product(qt.qv, dc.qv) AS BIGINT)) AS mx
         |  FROM qc dc CROSS JOIN qt WHERE dc.grp <> qt.q_id
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT q_id, d_id, CAST(sum(mx) AS BIGINT) AS score
         |  FROM tokmax GROUP BY 1, 2)
         |SELECT q_id, d_id, score, CAST(row_number() OVER (
         |  PARTITION BY q_id ORDER BY score DESC, d_id) AS INTEGER)
         |  AS rk FROM sc QUALIFY rk <= 10""")
        .stripMargin.replaceAll("\\s+", " ").trim),

    // Two-stage late-interaction serving audit, two first stages per
    // query: a lead-token ("CLS" proxy) int8-dot prefilter and a
    // SUM-POOLED single-vector prefilter (dot(Σq,Σd) = the all-pairs
    // interaction total), each taking top-30 candidates which full
    // MaxSim then reranks; output counts the exact overlap with the
    // unrestricted MaxSim top-10 per strategy. All integer arithmetic
    // end to end. On these RANDOM synthetic embeddings the census
    // reads exactly as the math says it must: the lead token carries
    // no summary of the other three (~3-4/10), while the pooled
    // proxy — correlated with the full interaction sum by
    // construction — recovers most of the top-10; the side-by-side
    // IS the pre-rollout decision artifact.
    QueryDef("maxsim_rerank_recall", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val grp = floor(col("vec_id") / 4).cast("long")
      val codes = Quantization.quantize(T(s, dir, "embeddings"))
      val dt = codes.select(grp.as("d_id"), col("qvec").as("dvec"))
      val qt = codes.filter(col("vec_id") < 16)
        .select(grp.as("q_id"), col("vec_id").as("qtok_id"),
          col("qvec"))
      val full = Retrieval.maxSimTopK(qt, dt, k = 10,
        excludeSelf = true)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("s0").desc, col("d_id").asc)
      def top30(dSide: DataFrame, qSide: DataFrame): DataFrame =
        dSide.crossJoin(broadcast(qSide))
          .filter(col("d_id") =!= col("q_id"))
          .select(col("q_id"), col("d_id"),
            Quantization.intDot(col("qv0"), col("dv0")).as("s0"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 30)
          .select(col("q_id"), col("d_id"))
      val leadCand = top30(
        codes.filter(col("vec_id") % 4 === 0)
          .select(grp.as("d_id"), col("qvec").as("dv0")),
        codes.filter(col("vec_id") < 16 && col("vec_id") % 4 === 0)
          .select(grp.as("q_id"), col("qvec").as("qv0")))
      val pooledCand = top30(
        Retrieval.sumPool(dt, "d_id", "dvec")
          .select(col("d_id"), col("pvec").as("dv0")),
        Retrieval.sumPool(qt.select(col("q_id"), col("qvec")),
          "q_id", "qvec")
          .select(col("q_id"), col("pvec").as("qv0")))
      // ONE pass over the expensive full product: both rerank chains
      // left-join it, both hit counts aggregate together, and stack()
      // unpivots to per-strategy rows without a union (a union of two
      // census branches would re-evaluate the full MaxSim product per
      // branch — exchange reuse across union arms is best-effort, the
      // single-aggregate shape doesn't need it)
      def hits(cand: DataFrame, tag: String): DataFrame =
        Retrieval.maxSimTopK(qt, dt, k = 10,
          candidates = Some(cand), excludeSelf = true)
          .select(col("q_id"), col("d_id"), lit(1).as(s"hit_$tag"))
      full.select(col("q_id"), col("d_id"))
        .join(hits(leadCand, "lead"), Seq("q_id", "d_id"), "left")
        .join(hits(pooledCand, "pooled"), Seq("q_id", "d_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_full"),
          sum(coalesce(col("hit_lead"), lit(0))).as("n_l"),
          sum(coalesce(col("hit_pooled"), lit(0))).as("n_p"))
        .select(col("q_id"),
          expr("stack(2, 'lead', n_l, 'pooled', n_p)")
            .as(Seq("strategy", "n_overlap")), col("n_full"))
        .select(col("q_id"), col("strategy"), col("n_full"),
          col("n_overlap"))
    },
      // the two-stage replay: unrestricted MaxSim top-10 vs the
      // lead-token- and sum-pooled-prefiltered reranks, exact overlap
      // counts per strategy
      ("""WITH qc AS (SELECT vec_id, vec_id // 4 AS grp,
         |  list_transform(embedding, v -> CAST(greatest(least(
         |    floor(CAST(v AS DOUBLE) * 64), 127), -128) AS BIGINT))
         |    AS qv FROM embeddings),
         |qt AS (SELECT grp AS q_id, vec_id AS qtok, qv FROM qc
         |  WHERE vec_id < 16),
         |tokmax AS (SELECT qt.q_id, dc.grp AS d_id, qt.qtok,
         |  max(CAST(list_dot_product(qt.qv, dc.qv) AS BIGINT)) AS mx
         |  FROM qc dc CROSS JOIN qt WHERE dc.grp <> qt.q_id
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT q_id, d_id, CAST(sum(mx) AS BIGINT) AS score
         |  FROM tokmax GROUP BY 1, 2),
         |fl AS (SELECT q_id, d_id FROM (SELECT q_id, d_id,
         |  row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, d_id) AS rk FROM sc) WHERE rk <= 10),
         |cand AS (SELECT q_id, d_id FROM (
         |  SELECT qq.grp AS q_id, dd.grp AS d_id,
         |    row_number() OVER (PARTITION BY qq.grp ORDER BY
         |      CAST(list_dot_product(qq.qv, dd.qv) AS BIGINT) DESC,
         |      dd.grp) AS rn
         |  FROM qc qq CROSS JOIN qc dd
         |  WHERE qq.vec_id < 16 AND qq.vec_id % 4 = 0
         |    AND dd.vec_id % 4 = 0 AND dd.grp <> qq.grp)
         |  WHERE rn <= 30),
         |two AS (SELECT q_id, d_id FROM (SELECT s.q_id, s.d_id,
         |  row_number() OVER (PARTITION BY s.q_id
         |    ORDER BY s.score DESC, s.d_id) AS rk
         |  FROM sc s JOIN cand USING (q_id, d_id)) WHERE rk <= 10),
         |pool AS (SELECT grp, list(CAST(sv AS BIGINT) ORDER BY pos)
         |    AS pv FROM (
         |  SELECT grp, pos, sum(v) AS sv FROM (
         |    SELECT grp, unnest(qv) AS v,
         |      generate_subscripts(qv, 1) AS pos FROM qc)
         |  GROUP BY 1, 2) GROUP BY 1),
         |qpool AS (SELECT grp, list(CAST(sv AS BIGINT) ORDER BY pos)
         |    AS pv FROM (
         |  SELECT grp, pos, sum(v) AS sv FROM (
         |    SELECT grp, unnest(qv) AS v,
         |      generate_subscripts(qv, 1) AS pos FROM qc
         |    WHERE vec_id < 16)
         |  GROUP BY 1, 2) GROUP BY 1),
         |candp AS (SELECT q_id, d_id FROM (
         |  SELECT q.grp AS q_id, d.grp AS d_id,
         |    row_number() OVER (PARTITION BY q.grp ORDER BY
         |      CAST(list_dot_product(q.pv, d.pv) AS BIGINT) DESC,
         |      d.grp) AS rn
         |  FROM qpool q CROSS JOIN pool d WHERE d.grp <> q.grp)
         |  WHERE rn <= 30),
         |twop AS (SELECT q_id, d_id FROM (SELECT s.q_id, s.d_id,
         |  row_number() OVER (PARTITION BY s.q_id
         |    ORDER BY s.score DESC, s.d_id) AS rk
         |  FROM sc s JOIN candp USING (q_id, d_id)) WHERE rk <= 10)
         |SELECT f.q_id, 'lead' AS strategy, count(*) AS n_full,
         |  CAST(sum(CASE WHEN t.d_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overlap
         |FROM fl f LEFT JOIN two t USING (q_id, d_id) GROUP BY 1
         |UNION ALL
         |SELECT f.q_id, 'pooled' AS strategy, count(*) AS n_full,
         |  CAST(sum(CASE WHEN t.d_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_overlap
         |FROM fl f LEFT JOIN twop t USING (q_id, d_id) GROUP BY 1""")
        .stripMargin.replaceAll("\\s+", " ").trim),

    // Retrieval eval harness: BM25 run vs deterministic boolean-AND
    // pseudo-qrels (doc relevant iff it contains every query term) —
    // per query the relevant-set size, top-10 hit count (recall@10
    // numerator) and first-relevant rank (MRR denominator; 0 = miss).
    // All integers; query-bounded joins, corpus touched once.
    QueryDef("retrieval_eval", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "column"), (2L, "scan"),
        (3L, "filter"), (3L, "merge"), (3L, "small"))
        .toDF("q_id", "term")
      Retrieval.rankEval(
        Retrieval.bm25TopK(docs, queries, k = 10),
        Retrieval.booleanAndQrels(docs, queries), k = 10)
    },
      // BM25 CTE chain + boolean-AND pseudo-qrels + the integer
      // rank-quality census
      (s"""WITH $Bm25RunCtes,
         |nq AS (SELECT q_id, count(*) AS n_terms FROM q GROUP BY 1),
         |relc AS (SELECT q.q_id, qp.doc_id, count(*) AS c
         |  FROM (SELECT DISTINCT doc_id, term FROM qp) qp
         |  JOIN q USING (term) GROUP BY 1, 2),
         |rel AS (SELECT relc.q_id, relc.doc_id FROM relc
         |  JOIN nq USING (q_id) WHERE c = n_terms),
         |h AS (SELECT run.q_id, count(*) AS hits_at_k,
         |  min(rk) AS fr FROM run JOIN rel USING (q_id, doc_id)
         |  GROUP BY 1)
         |SELECT nr.q_id, nr.n_rel,
         |  coalesce(h.hits_at_k, 0) AS hits_at_k,
         |  CAST(coalesce(h.fr, 0) AS INTEGER) AS first_rel_rank
         |FROM (SELECT q_id, count(*) AS n_rel FROM rel GROUP BY 1) nr
         |LEFT JOIN h USING (q_id)""")
        .stripMargin.replaceAll("\\s+", " ").trim),

    // Embedding-norm outlier census: int8-quantized (the SemDeDup
    // convention) exact integer norm² per vector, then the per-label
    // median/MAD census — the "are these embeddings healthy" check
    // before any ANN index build.
    QueryDef("embedding_outliers", (s, dir) => {
      val q = "CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), " +
        "127), -128) AS BIGINT)"
      val norm2 = expr("aggregate(transform(embedding, v -> " + q +
        "), CAST(0 AS BIGINT), (a, x) -> a + x * x)")
      DataQuality.madOutliers(
        T(s, dir, "embeddings").filter(col("embedding").isNotNull)
          .select(col("label"), norm2.as("norm2")),
        "label", "norm2")
        .orderBy("label")
    },
      // the int8 norm² replay feeding the same nearest-rank
      // median/MAD algebra as mad_outliers
      {
        val q = "CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64), " +
          "127), -128) AS BIGINT)"
        s"""WITH v AS (SELECT label,
           |  CAST(list_sum(list_transform(embedding,
           |    v -> $q * $q)) AS BIGINT) AS norm2
           |  FROM embeddings WHERE embedding IS NOT NULL),
           |r AS (SELECT label, norm2, row_number() OVER (
           |    PARTITION BY label ORDER BY norm2) AS rn,
           |  count(*) OVER (PARTITION BY label) AS n FROM v),
           |med AS (SELECT label, min(norm2) AS med FROM r
           |  WHERE rn * 2 >= n GROUP BY label),
           |dev AS (SELECT v.label, v.norm2, m.med,
           |  abs(v.norm2 - m.med) AS d FROM v JOIN med m
           |  USING (label)),
           |r2 AS (SELECT label, d, row_number() OVER (
           |    PARTITION BY label ORDER BY d) AS rn,
           |  count(*) OVER (PARTITION BY label) AS n FROM dev),
           |mad AS (SELECT label, min(d) AS mad FROM r2
           |  WHERE rn * 2 >= n GROUP BY label)
           |SELECT d.label, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN d.d > 3 * mad.mad THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_outliers,
           |  any_value(d.med) AS med, any_value(mad.mad) AS mad
           |FROM dev d JOIN mad USING (label)
           |GROUP BY d.label ORDER BY d.label"""
          .stripMargin.replaceAll("\\s+", " ").trim
      }),

    // Graded-relevance ranking eval (NDCG with the exact linear
    // discount): BM25 run vs term-coverage graded qrels on the
    // retrieval_eval query set; IDCG from per-grade COUNTS (never an
    // ideal-ranking sort), all integer-scaled by lcm(2..11).
    QueryDef("graded_rank_eval", (s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "column"), (2L, "scan"),
        (3L, "filter"), (3L, "merge"), (3L, "small"))
        .toDF("q_id", "term")
      Retrieval.gradedRankEval(
        Retrieval.bm25TopK(docs, queries, k = 10),
        Retrieval.gradedQrels(docs, queries), k = 10)
    },
      // BM25 run (shared CTEs) vs term-coverage graded qrels; IDCG
      // from per-grade counts against the position-discount prefix
      // table (27720 = lcm(2..11); prefix(p) = Σ_{i<=p} 27720/(1+i))
      (s"""WITH $Bm25RunCtes,
         |qr AS (SELECT q.q_id, qp.doc_id,
         |  CAST(least(4, length(bin(sum(qp.tf)))) AS BIGINT)
         |    AS grade
         |  FROM qp JOIN q USING (term) GROUP BY 1, 2),
         |pr AS (SELECT * FROM (VALUES (0, 0), (1, 13860), (2, 23100),
         |  (3, 30030), (4, 35574), (5, 40194), (6, 44154),
         |  (7, 47619), (8, 50699), (9, 53471), (10, 55991))
         |  t(p, ps)),
         |dcg AS (SELECT run.q_id,
         |  CAST(sum(qr.grade * (27720 // (run.rk + 1))) AS BIGINT)
         |    AS dcg_scaled
         |  FROM run JOIN qr USING (q_id, doc_id)
         |  WHERE run.rk <= 10 GROUP BY 1),
         |gc AS (SELECT q_id, grade, CAST(count(*) AS BIGINT) AS cnt
         |       FROM qr GROUP BY 1, 2),
         |cb AS (SELECT q_id, grade, cnt,
         |  coalesce(sum(cnt) OVER (PARTITION BY q_id
         |    ORDER BY grade DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS cb FROM gc),
         |ic AS (SELECT cb.q_id,
         |  CAST(sum(cb.grade * (ph.ps - pl.ps)) AS BIGINT)
         |    AS idcg_scaled
         |  FROM cb JOIN pr ph ON ph.p = least(cb.cb + cb.cnt, 10)
         |  JOIN pr pl ON pl.p = least(cb.cb, 10) GROUP BY 1),
         |ng AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_graded
         |       FROM qr GROUP BY 1)
         |SELECT ng.q_id, ng.n_graded,
         |  CAST(coalesce(dcg.dcg_scaled, 0) AS BIGINT) AS dcg_scaled,
         |  ic.idcg_scaled,
         |  CAST((coalesce(dcg.dcg_scaled, 0) * 1000000)
         |    // ic.idcg_scaled AS BIGINT) AS ndcg_ppm
         |FROM ng JOIN ic USING (q_id) LEFT JOIN dcg USING (q_id)"""
        .stripMargin.replaceAll("\\s+", " ").trim)))
}
