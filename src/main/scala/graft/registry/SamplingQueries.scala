package graft
package registry

import org.apache.spark.sql.functions._
import graft.ops._
import Shared.{NormTextSql, T}

/** Sampling, splits, shard layout, chunking, packing and mixture
  * budgets.
  */
object SamplingQueries {

  /** Per-language keep-rates for `sample_stratified` (downsample the
    * over-represented languages harder) — rendered into both the Spark
    * predicate and the generated DuckDB CASE so they can't drift.
    */
  private val SampleRates: Seq[(String, Double)] = Seq(
    "en" -> 0.125, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.5, "zh" -> 0.25)

  /** Per-language epoch budgets for the repeated-epoch upsampling
    * query (en repeated 2.5 epochs, es 1.25, de THINNED to half an
    * epoch, rest exactly once) — rendered into both the Spark plan and
    * the generated DuckDB CASE so they can't drift.
    */
  private val EpochBudgets: Seq[(String, Double)] = Seq(
    "en" -> 2.5, "es" -> 1.25, "de" -> 0.5)

  val defs: Seq[QueryDef] = Seq(
    // Training-shard layout: deterministic global shuffle + per-shard
    // position — the write-side layout of a curation run (16 hash
    // shards, per-shard rank; see Sampling.shardLayout for the
    // 100 TB shape).
    QueryDef("train_shard_layout", (s, dir) =>
      Sampling.shardLayout(
        T(s, dir, "documents"), TextDedup.normText(col("text"))),
      // shard = md5 first-byte value folded mod 16 (ascii arithmetic —
      // no hex-parse builtin assumed), pos = rank of the hash within
      // the shard; same tie-break (hash, doc_id) as the Spark window
      {
        def nib(i: Int) =
          s"(CASE WHEN ascii(substr(h, $i, 1)) < 58 " +
            s"THEN ascii(substr(h, $i, 1)) - 48 " +
            s"ELSE ascii(substr(h, $i, 1)) - 87 END)"
        s"WITH hs AS (SELECT doc_id, md5($NormTextSql) AS h " +
          "FROM documents), " +
          "sh AS (SELECT doc_id, h, " +
          s"CAST((${nib(1)} * 16 + ${nib(2)}) % 16 AS INTEGER) AS shard " +
          "FROM hs) " +
          "SELECT doc_id, shard, " +
          "CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) " +
          "AS BIGINT) AS pos FROM sh"
      }),

    // Content-keyed train/eval split: every row labeled, none dropped;
    // membership is a function of the document's own bytes (the
    // property that keeps eval contamination-free across re-shards and
    // dedup passes). Scan-shaped; threshold rendered from the shared
    // constant into the oracle.
    QueryDef("train_eval_split", (s, dir) =>
      Sampling.hashSplit(T(s, dir, "documents"), col("text"),
        evalRate = 0.05).select(col("doc_id"), col("split")),
      ("SELECT doc_id, CASE WHEN substring(md5(text), 1, 4) < " +
        s"'${Sampling.thresholdHex(0.05)}' THEN 'eval' ELSE 'train' " +
        "END AS split FROM documents")),

    // Concat-and-chunk packing fragmentation: docs whose token span
    // crosses a 512-block boundary, via the two-level scale-safe
    // prefix-sum (bucket 64 here so the fixture exercises multi-
    // bucket offset stitching — 500 docs → 8 buckets).
    QueryDef("packing_fragmentation", (s, dir) =>
      Sampling.packingFragmentation(T(s, dir, "documents"),
        TextAnalysis.wordCount(col("text")),
        blockSize = 512, bucketSize = 64),
      // the packing replay: one window prefix sum (the oracle CAN
      // afford the global window; the engine side is the two-level
      // decomposition it exists to verify)
      ("""WITH l AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\s+'))
         |    AS BIGINT) AS len FROM documents),
         |p AS (SELECT doc_id, len, coalesce(sum(len) OVER (
         |  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  1 PRECEDING), 0) AS prefix FROM l)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN prefix % 512 + len > 512 THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_split,
         |  CAST(ceil(CAST(sum(len) AS DOUBLE) / 512) AS BIGINT)
         |    AS n_blocks,
         |  CAST(sum(len) AS BIGINT) AS total_tokens FROM p""")
        .stripMargin.replaceAll("\\s+", " ").trim),

    // Padding-waste census: tokens billed under arrival-order batching
    // vs length-bucketed batching (batch 8, bucket width 16) — the
    // sequence-bucketing ROI number. Arrival side is doc_id
    // arithmetic (no sort); the bucketed window partitions by length
    // class, never corpus-wide.
    QueryDef("padding_waste", (s, dir) =>
      Sampling.paddingWasteCensus(T(s, dir, "documents"),
        TextAnalysis.wordCount(col("text")),
        batchSize = 8, bucketWidth = 16),
      // both batching disciplines replayed: arrival = doc_id runs,
      // bucketed = (len, doc_id) order within width-16 length classes
      ("""WITH l AS (SELECT doc_id,
         |  CAST(len(string_split_regex(trim(text), '\s+'))
         |    AS BIGINT) AS len FROM documents),
         |a AS (SELECT floor(doc_id / 8) AS b, count(*) AS n,
         |  sum(len) AS s, max(len) AS m FROM l GROUP BY 1),
         |ar AS (SELECT 'arrival' AS strategy,
         |  count(*) AS n_batches, CAST(sum(s) AS BIGINT)
         |    AS real_tokens,
         |  CAST(sum(n * m) AS BIGINT) AS padded_tokens FROM a),
         |br AS (SELECT lb, floor((row_number() OVER (
         |    PARTITION BY lb ORDER BY len, doc_id) - 1) / 8) AS bb,
         |    len FROM (SELECT doc_id, len,
         |      CAST(floor(len / 16) AS BIGINT) AS lb FROM l)),
         |bg AS (SELECT lb, bb, count(*) AS n, sum(len) AS s,
         |  max(len) AS m FROM br GROUP BY 1, 2),
         |bu AS (SELECT 'bucketed' AS strategy,
         |  count(*) AS n_batches, CAST(sum(s) AS BIGINT)
         |    AS real_tokens,
         |  CAST(sum(n * m) AS BIGINT) AS padded_tokens FROM bg)
         |SELECT * FROM ar UNION ALL SELECT * FROM bu""")
        .stripMargin.replaceAll("\\s+", " ").trim),

    // Deterministic stratified sampling: content-keyed md5-bucket
    // predicate with per-language keep rates (rebalance the language
    // mix) — pure scan→filter, no shuffle at any scale. Thresholds are
    // rendered into the oracle from the same SampleRates constants.
    QueryDef("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(T(s, dir, "documents"),
        col("lang"), col("text"), SampleRates, defaultRate = 0.0625)
        .select(col("doc_id"), col("lang")),
      // Threshold hex literals generated from the same SampleRates
      // constants as the Spark predicate; fixed-width lowercase hex
      // compares identically (lexical = numeric) in both engines.
      {
        val cases = SampleRates.map { case (l, r) =>
          s"WHEN '$l' THEN '${Sampling.thresholdHex(r)}'"
        }.mkString(" ")
        "SELECT doc_id, lang FROM documents " +
          s"WHERE substring(md5(text), 1, 4) < CASE lang $cases " +
          s"ELSE '${Sampling.thresholdHex(0.0625)}' END"
      }),

    // Deterministic exact-k sample: lowest-k content hashes, stable
    // across re-runs/re-shards; plans as TakeOrdered, never a global
    // corpus sort.
    QueryDef("sample_exact_k", (s, dir) =>
      Sampling.exactKSample(T(s, dir, "documents"), col("text"), 50)
        .select(col("doc_id"), col("lang")),
      ("SELECT doc_id, lang FROM documents " +
        "ORDER BY md5(text), doc_id LIMIT 50")),

    // Repeated-epoch upsampling (data budgeting for data-constrained
    // training): full copies per stratum budget plus a content-keyed
    // deterministic fractional epoch; de's 0.5 budget shows the same
    // machinery DOWNsampling. Scan-only — CASE projection + bounded
    // sequence explode, no shuffle; the whole expansion replays in SQL.
    QueryDef("epoch_upsample", (s, dir) =>
      Sampling.epochUpsample(T(s, dir, "documents"),
        col("lang"), col("text"), EpochBudgets, defaultEpochs = 1.0)
        .select(col("doc_id"), col("lang"), col("copy_idx")),
      // full replay of the epoch expansion from the same budget
      // constants: integer full copies + the md5-bucket fractional coin
      {
        val fullCase = EpochBudgets.map { case (l, e) =>
          s"WHEN '$l' THEN ${math.floor(e).toLong}"
        }.mkString(" ")
        val fracCase = EpochBudgets.map { case (l, e) =>
          s"WHEN '$l' THEN '${Sampling.thresholdHex(e - math.floor(e))}'"
        }.mkString(" ")
        "WITH c AS (SELECT doc_id, lang, " +
          s"CAST(CASE lang $fullCase ELSE 1 END AS BIGINT) + " +
          "CASE WHEN substring(md5(text), 1, 4) < " +
          s"CASE lang $fracCase ELSE '${Sampling.thresholdHex(0.0)}' END " +
          "THEN 1 ELSE 0 END AS copies FROM documents) " +
          "SELECT doc_id, lang, unnest(range(1, copies + 1)) AS copy_idx " +
          "FROM c WHERE copies > 0"
      }),

    // Capped stratum share: no language may exceed ~150 expected rows
    // — the rebalancer with DATA-DEPENDENT rates (min(1, cap/n) per
    // stratum). The keep test is integer arithmetic over a 16-bit
    // content bucket, so the data-derived thresholds replay bit-exactly
    // in the oracle; counts ride a broadcast join, never a full-corpus
    // window on the (skewed) stratum key.
    QueryDef("sample_capped_share", (s, dir) =>
      Sampling.capStratumShare(
        T(s, dir, "documents").select("doc_id", "lang", "text"),
        col("lang"), col("text"), cap = 150L)
        .select(col("doc_id"), col("lang")),
      // the same integer keep-test, with the bucket parsed via
      // DuckDB's '0x...' cast (= Spark's conv(hex,16,10))
      ("WITH c AS (SELECT lang AS s, count(*) AS n FROM documents " +
        "GROUP BY lang) " +
        "SELECT d.doc_id, d.lang FROM documents d JOIN c ON d.lang = c.s " +
        "WHERE CAST(('0x' || substring(md5(d.text), 1, 4)) AS BIGINT) " +
        "* c.n < 150 * 65536")),

    // Temperature-balanced sample (α = 1/2): per-language keep-rate
    // min(1, 8/√n) — the multilingual flatten that lets small
    // languages through whole while the head grows only as √n. The
    // per-stratum threshold (k²·2^32 div n) is integer arithmetic on
    // the broadcast counts side, replayed bit-exactly by the oracle.
    QueryDef("sample_sqrt_share", (s, dir) =>
      Sampling.sqrtShareSample(
        T(s, dir, "documents").select("doc_id", "lang", "text"),
        col("lang"), col("text"), k = 8L)
        .select(col("doc_id"), col("lang")),
      // α=1/2 temperature replay: squared bucket vs (k²·2^32) // n,
      // all BIGINT-exact in both engines (k = 8)
      (s"WITH c AS (SELECT lang AS s, " +
        s"${8L * 8L * 4294967296L} // count(*) AS t FROM documents " +
        "GROUP BY lang) " +
        "SELECT d.doc_id, d.lang FROM documents d JOIN c ON d.lang = c.s " +
        "WHERE CAST(('0x' || substring(md5(d.text), 1, 4)) AS BIGINT) " +
        "* CAST(('0x' || substring(md5(d.text), 1, 4)) AS BIGINT) < c.t")),

    // Per-key cap: at most 20 docs per language, ranked by content
    // hash (run-stable, order-bias-free); WindowGroupLimit prunes to
    // k rows per key map-side before the one shuffle.
    QueryDef("cap_per_key", (s, dir) =>
      Sampling.capPerKey(T(s, dir, "documents"),
        key = col("lang"), tieBreaker = col("doc_id"), k = 20)
        .select(col("doc_id"), col("lang")),
      ("SELECT doc_id, lang FROM documents QUALIFY " +
        "row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20")),

    // Per-DOMAIN capping through real URL parsing: deterministic
    // synthetic URLs (host varies by doc_id mod 7), host extracted
    // with Spark's parse_url, at most 10 docs per host by content-
    // hash rank. The oracle reconstructs the host from the same mod
    // arithmetic, so parse_url's HOST extraction is pinned against
    // the construction — the FineWeb-style docs-per-domain limiter.
    QueryDef("domain_cap", (s, dir) => {
      val url = concat(lit("https://site"), pmod(col("doc_id"), lit(7)),
        lit(".example.com/d/"), col("doc_id"))
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), url.as("url"))
        .withColumn("host", expr("parse_url(url, 'HOST')"))
      Sampling.capPerKey(docs, key = col("host"),
        tieBreaker = col("doc_id"), k = 10)
        .select(col("doc_id"), col("host"))
    },
      // host replayed from the construction arithmetic — pinning
      // Spark's parse_url(HOST) against it
      ("SELECT doc_id, 'site' || (doc_id % 7) || '.example.com' " +
        "AS host FROM documents QUALIFY " +
        "row_number() OVER (PARTITION BY doc_id % 7 " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10")),

    // Overlapping token-window chunking (64-token windows, stride 48) —
    // scan → generate, no shuffle. repartition: single-file fixture
    // (cf. minhash_candidates note).
    QueryDef("doc_chunks", (s, dir) =>
      Chunking.chunk(T(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)),
      // Same window arithmetic as Chunking.chunk: starts every 48
      // tokens (DuckDB range() excludes its stop — +1 matches Spark
      // sequence()'s inclusive stop), windows of 64 via list_slice
      // (inclusive 1-based bounds = Spark slice(start+1, 64)). The
      // parallel unnests zip by position.
      (s"""WITH t AS (SELECT doc_id,
         |    string_split($NormTextSql, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, toks,
         |    range(0, greatest(len(toks) - 1, 0) + 1, 48) AS starts
         |  FROM t)
         |SELECT doc_id,
         |  unnest(list_transform(starts,
         |    s -> CAST(s // 48 AS INTEGER))) AS chunk_idx,
         |  unnest(list_transform(starts,
         |    s -> CAST(least(len(toks) - s, 64) AS BIGINT))) AS n_tokens,
         |  unnest(list_transform(starts,
         |    s -> md5(array_to_string(list_slice(toks, s + 1, s + 64),
         |      ' ')))) AS chunk_hash
         |FROM w"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Deterministic sequence packing into ~2048-token packs per source
    // (exclusive running token sum div target — reproducible at any
    // parallelism, unlike a greedy stateful packer).
    QueryDef("sequence_packing", (s, dir) =>
      Chunking.packSequences(T(s, dir, "documents")),
      (s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len(string_split($NormTextSql, ' ')) AS BIGINT)
         |      AS n_tokens FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_excl
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST(cum_excl // 2048 AS BIGINT) AS pack_id FROM c"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Weighted systematic sample: exactly 20 docs per language,
    // probability proportional to n_chars, deterministic. Two-tier PPS
    // (certainty rows + fixed-step residual) so heavy rows can't
    // collapse the sample; integer-exact in both engines.
    QueryDef("sample_weighted", (s, dir) =>
      Sampling.systematicByWeight(
        T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        col("lang"), col("n_chars"), col("doc_id"), k = 20),
      // Two-tier PPS replay (see Sampling.systematicByWeight): the
      // certainty prefix on the weight-desc axis, then fixed-step
      // selection over the residual weights. DuckDB sums BIGINT into
      // HUGEINT; `//` floors it exactly — same values Spark's long DIV
      // produces below 2^63.
      (s"""WITH base AS (SELECT doc_id, lang, n_chars FROM documents
         |  WHERE n_chars > 0),
         |r AS (SELECT *,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY n_chars DESC, doc_id) AS rk,
         |  sum(n_chars) OVER (PARTITION BY lang
         |    ORDER BY n_chars DESC, doc_id
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sfx
         |  FROM base),
         |f AS (SELECT *, CASE WHEN n_chars * GREATEST(20 - rk + 1, 0) >= sfx
         |  THEN 1 ELSE 0 END AS cert FROM r),
         |s AS (SELECT *,
         |  sum(CASE WHEN cert = 0 THEN n_chars ELSE 0 END)
         |    OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |  sum(CASE WHEN cert = 0 THEN n_chars ELSE 0 END)
         |    OVER (PARTITION BY lang) AS tot,
         |  sum(cert) OVER (PARTITION BY lang) AS c FROM f)
         |SELECT doc_id, lang, n_chars FROM s
         |WHERE cert = 1 OR (tot > 0 AND
         |  (cum * (20 - c)) // tot >
         |  ((cum - n_chars) * (20 - c)) // tot)"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Water-filling token-budget allocation across sources: small
    // sources keep all their tokens, the rest split the remainder to
    // one exact water level — all-BIGINT cross-multiplication, the
    // sub-token remainder dealt deterministically, so Σalloc ==
    // min(budget, Σcap) replays bit-identically.
    QueryDef("mixture_weights", (s, dir) => {
      val caps = T(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .groupBy(col("source"))
        .agg(sum(graft.ops.TextAnalysis.wordCount(col("text")))
          .as("cap_tokens"))
      Mixture.waterfill(caps, "source", "cap_tokens")
        .orderBy("source")
    },
      // the water level found by the same exact cross-multiplication;
      // // is DuckDB's integer div, both operands non-negative
      ("""WITH caps AS (SELECT source,
         |  CAST(sum(len(string_split_regex(trim(text), '\s+')))
         |    AS BIGINT) AS cap_tokens
         |  FROM documents WHERE length(trim(text)) > 0
         |  GROUP BY source),
         |w AS (SELECT source, cap_tokens,
         |  CAST(row_number() OVER (ORDER BY cap_tokens, source)
         |    AS BIGINT) AS i,
         |  CAST(count(*) OVER () AS BIGINT) AS n,
         |  CAST(COALESCE(sum(cap_tokens) OVER (
         |    ORDER BY cap_tokens, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS prior,
         |  CAST(sum(cap_tokens) OVER () AS BIGINT) AS total
         |  FROM caps),
         |w2 AS (SELECT *, total // 2 AS budget,
         |  cap_tokens * (n - i + 1) <= (total // 2) - prior AS capped
         |  FROM w),
         |w3 AS (SELECT *,
         |  CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
         |    AS BIGINT) AS k,
         |  CAST(COALESCE(sum(CASE WHEN capped THEN cap_tokens END)
         |    OVER (), 0) AS BIGINT) AS spent FROM w2),
         |w4 AS (SELECT *, budget - spent AS leftb, n - k AS m
         |  FROM w3)
         |SELECT source, cap_tokens AS capacity,
         |  CAST(CASE WHEN capped THEN cap_tokens
         |    ELSE (leftb // m) +
         |      (CASE WHEN i - k <= (leftb % m) THEN 1 ELSE 0 END)
         |    END AS BIGINT) AS alloc_tokens, capped
         |FROM w4 ORDER BY source"""
        .stripMargin.replaceAll("\\s+", " ").trim)))
}
