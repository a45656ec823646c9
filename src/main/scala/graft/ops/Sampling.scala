package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, content-keyed sampling for corpus curation — the
  * "rebalance the language mix" / "take a stable p% slice" operators a
  * training-data pipeline runs constantly.
  *
  * Design: a row is kept iff the first 4 hex chars of `md5(key)` fall
  * below a per-stratum threshold. That makes the sample
  *
  *  - **deterministic**: same corpus → same sample, on any cluster
  *    size, any partitioning, any run (no `rand()`, no seed plumbing);
  *  - **content-keyed**: a document keeps/loses membership based on its
  *    own bytes, so re-shards, re-ingests and dedup passes can't flip
  *    membership — the property that makes train/eval splits stable;
  *  - **scan-shaped**: a pure per-row predicate — no shuffle, no state,
  *    survives any scale-up untouched. At 100 TB the plan is scan →
  *    filter, and column pruning still reaches the parquet reader.
  *
  * The threshold compare is LEXICAL on fixed-width lowercase hex
  * (`'0'<'9'<'a'<'f'` — ASCII order equals numeric order), which is why
  * it replays exactly in the DuckDB oracle: both engines print md5 as
  * lowercase hex over the UTF-8 bytes.
  *
  * Reference analog: none (the reference has no sampling surface) —
  * this is part of the LLM-pipeline extension mandated by the brief.
  */
object Sampling {

  /** Exact long integral division (SQL `DIV`). Truncating, which
    * equals floor for the non-negative operands used here — and unlike
    * `floor(a / b)` it never rides doubles, so it stays exact up to
    * 2^63 and replays bit-identically as `//` in the DuckDB oracle.
    */
  private def fdiv(a: Column, b: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    column(IntegralDivide(expression(a), expression(b)))
  }

  /** 16-bit content bucket: first 4 hex chars of md5(key). */
  def hexBucket(key: Column): Column = substring(md5(key), 1, 4)

  /** 4-hex-digit exclusive upper bound for a keep-rate in [0,1].
    * rate=1.0 maps to "g000" — lexically above every hex bucket (hex
    * chars are 0-9a-f < 'g'), so it keeps everything while staying
    * fixed-width-comparable.
    */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of [0,1]: $rate")
    val n = math.round(rate * 65536.0)
    if (n >= 65536L) "g000" else f"$n%04x"
  }

  /** Stable Bernoulli(rate) sample keyed on `key`'s content. */
  def deterministicSample(df: DataFrame, key: Column, rate: Double): DataFrame =
    df.filter(hexBucket(key) < lit(thresholdHex(rate)))

  /** Deterministic train/eval split — every row labeled, nothing
    * dropped: `eval` iff the content bucket falls under `evalRate`'s
    * threshold, `train` otherwise. The same content-keyed hash as
    * [[deterministicSample]], which is the property that matters:
    * membership is a function of the row's own bytes, so re-shards,
    * re-ingests, dedup passes, and cluster-size changes can never move
    * a document across the split — the invariant that keeps eval
    * contamination-free over the corpus's life. Scan-shaped (pure
    * per-row projection, no shuffle, no state); the two sides are
    * exhaustive and disjoint by construction.
    */
  def hashSplit(df: DataFrame, key: Column, evalRate: Double): DataFrame =
    df.withColumn("split",
      when(hexBucket(key) < lit(thresholdHex(evalRate)), "eval")
        .otherwise("train"))

  /** Near-dup-aware train/eval split — [[hashSplit]]'s blind spot is
    * that two NEAR-duplicate documents hash independently, so a
    * boilerplate-heavy corpus leaks eval content into train through
    * every almost-copy the hash can't see (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better"
    * test-set-leakage finding). Here the split key is the CLUSTER
    * representative's content, not the row's own: `components` is the
    * (node, component) labeling from [[graft.ops.Components]] over the
    * near-dup candidate graph, `component` is the min doc_id of the
    * cluster, and every member splits by the representative document's
    * bytes — so a whole duplicate cluster lands on one side, always.
    * Singleton docs are their own representative, making this a strict
    * generalization of [[hashSplit]] (identical labels wherever no
    * near-dup edge exists).
    *
    * `components` must COVER the doc universe — pass
    * [[graft.ops.Components.connectedComponents]] (which back-fills
    * singletons against a node universe), not `edgeComponents`: a doc
    * absent from the labeling is silently dropped by the membership
    * join, and a silently shrinking split is exactly the failure mode
    * this operator exists to prevent.
    *
    * `docs` needs `doc_id` plus whatever `key` reads. Scale shape: two
    * equi-joins on document ids — membership (doc_id) then
    * representative content (component = rep doc_id). A mega-cluster
    * fans many members onto one rep row; that is plain join skew on a
    * tiny build side, which AQE's skew handling (or a broadcast of the
    * rep frame when the cluster count is small) absorbs — no window,
    * no per-cluster state.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      components: DataFrame,
      key: Column,
      evalRate: Double): DataFrame = {
    val reps = docs.select(col("doc_id").as("component"),
      key.as("__rep_key"))
    docs.select(col("doc_id"))
      .join(components.select(col("node").as("doc_id"), col("component")),
        Seq("doc_id"))
      .join(reps, Seq("component"))
      .withColumn("split",
        when(hexBucket(col("__rep_key")) < lit(thresholdHex(evalRate)),
          "eval").otherwise("train"))
      .drop("__rep_key")
  }

  /** Leakage census for a split: how many near-dup candidate PAIRS
    * straddle the train/eval boundary. Feed the same `edges(src, dst)`
    * the cluster labeling was built from and any `split(doc_id, split)`
    * labeling; `leaks` = pairs whose endpoints disagree. For
    * [[leakageSafeSplit]]'s output this is structurally zero (split is
    * a function of the component); for [[hashSplit]] it measures the
    * exposure the safe split removes. One |E|-row double join into a
    * single-row aggregate — the audit a 100 TB pipeline can afford to
    * run on every split refresh.
    */
  def splitLeakageAudit(edges: DataFrame, split: DataFrame): DataFrame =
    edges
      .join(split.select(col("doc_id").as("src"),
        col("split").as("src_split")), Seq("src"))
      .join(split.select(col("doc_id").as("dst"),
        col("split").as("dst_split")), Seq("dst"))
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("src_split") =!= col("dst_split"), 1))
          .as("leaks"))

  /** Stratified sample: per-stratum keep-rates (e.g. downsample an
    * over-represented language), `defaultRate` for unlisted strata.
    * One CASE-shaped predicate — still scan-only, still deterministic.
    */
  def stratifiedSample(
      df: DataFrame,
      strata: Column,
      key: Column,
      rates: Seq[(String, Double)],
      defaultRate: Double): DataFrame = {
    val threshold = rates.foldRight(lit(thresholdHex(defaultRate)): Column) {
      case ((stratum, rate), acc) =>
        when(strata === stratum, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.filter(hexBucket(key) < threshold)
  }

  /** 16-bit content bucket as an INTEGER (same md5 prefix as
    * [[hexBucket]], parsed base-16) — for keep-tests whose threshold
    * is data-dependent and therefore must be computed in integer
    * arithmetic rather than rendered as a lexical constant.
    */
  def intBucket(key: Column): Column =
    conv(substring(md5(key), 1, 4), 16, 10).cast("long")

  /** Deterministic EXACT-k global sample: the k documents whose
    * content hash sorts lowest (doc_id tiebreak) — when a job needs
    * "exactly 10,000 docs, stable across re-runs and re-shards"
    * rather than [[deterministicSample]]'s Bernoulli rate. Plans as
    * TakeOrdered (per-partition top-k, then a k-row merge on the
    * driver-side collect limit) — never a global sort of the corpus.
    */
  def exactKSample(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    df.withColumn("__h", md5(key))
      .orderBy(col("__h"), col("doc_id"))
      .limit(k)
      .drop("__h")
  }

  /** Repeated-epoch upsampling — the data-budgeting move of a
    * data-constrained training run ("repeat high-quality sources up
    * to ~4 epochs, downweight the rest"): each row is emitted
    * `floor(epochs)` times, plus one more copy with probability
    * `frac(epochs)` decided by the content-keyed md5 bucket — the
    * same deterministic coin as [[deterministicSample]], so fractional
    * epochs never move under re-shards or re-runs, and the copy-count
    * of a document is a pure function of its own bytes and its
    * stratum's budget. `epochs < 1` strata are thereby DOWNsampled
    * with the same machinery (0 full copies, fractional keep).
    *
    * Output: the input columns plus `copy_idx` (1-based BIGINT).
    * Scale shape: scan-only — a CASE projection, one explode of a
    * `sequence` bounded by ceil(max epoch), no shuffle, no state.
    * Epoch budgets are per-stratum constants rendered into the plan
    * (like [[stratifiedSample]]'s rates), so an external engine
    * replays the whole expansion exactly.
    */
  def epochUpsample(
      df: DataFrame,
      strata: Column,
      key: Column,
      epochs: Seq[(String, Double)],
      defaultEpochs: Double = 1.0): DataFrame = {
    require((defaultEpochs +: epochs.map(_._2)).forall(e => e >= 0.0),
      s"epoch budgets must be >= 0: $epochs / $defaultEpochs")
    def whole(e: Double): Long = math.floor(e).toLong
    def frac(e: Double): Double = e - math.floor(e)
    val fullCopies = epochs.foldRight(lit(whole(defaultEpochs)): Column) {
      case ((stratum, e), acc) =>
        when(strata === stratum, lit(whole(e))).otherwise(acc)
    }
    val fracThreshold =
      epochs.foldRight(lit(thresholdHex(frac(defaultEpochs))): Column) {
        case ((stratum, e), acc) =>
          when(strata === stratum, lit(thresholdHex(frac(e)))).otherwise(acc)
      }
    df.withColumn("__copies", fullCopies +
        when(hexBucket(key) < fracThreshold, 1L).otherwise(0L))
      .filter(col("__copies") > 0L)
      .withColumn("copy_idx",
        explode(sequence(lit(1L), col("__copies"))))
      .drop("__copies")
  }

  /** Cap each stratum's EXPECTED share at `cap` rows — the corpus
    * rebalancer ("no language/source may dominate") with data-DEPENDENT
    * rates: a stratum of size n thins by min(1, cap/n), keyed on
    * content. The keep test is pure integer arithmetic —
    * `bucket16 * n < cap * 65536` — so it is deterministic, replayable
    * bit-exactly in external SQL (no float rate ever materializes),
    * and strata with n ≤ cap provably keep every row (bucket16 <
    * 65536 ≤ cap/n · 65536).
    *
    * Scale shape: per-stratum counts come from a map-side-combined
    * groupBy whose output is |strata| rows, broadcast back onto a
    * second scan — NOT a window over the strata (a window would
    * shuffle the full corpus on the stratum key and serialize the
    * dominant language through one reducer, the exact skew this
    * operator exists to fix).
    */
  def capStratumShare(
      df: DataFrame,
      strata: Column,
      key: Column,
      cap: Long): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val counts = df.groupBy(strata.as("__s"))
      .agg(count(lit(1)).as("__n"))
    df.join(broadcast(counts), strata === col("__s"))
      .filter(intBucket(key) * col("__n") < lit(cap) * 65536L)
      .drop("__s", "__n")
  }

  /** Temperature-balanced sample at α = 1/2 — the multilingual-LM
    * rebalance (sampling probability ∝ share^α): each stratum keeps
    * rate min(1, k/√n), so a 100× bigger language contributes only
    * 10× the rows instead of 100× — softer than [[capStratumShare]]'s
    * hard cap, which is exactly the difference between "cap spam
    * domains" and "flatten the language distribution without starving
    * the head".
    *
    * All integer arithmetic: `bucket16/65536 < k/√n  ⇔  bucket16² <
    * (k²·2^32) div n`, with the per-stratum threshold computed once on
    * the tiny counts side (long-exact for k ≤ 46340 — k²·2^32 must
    * stay below 2^63) and the probe side comparing a squared 16-bit
    * bucket (< 2^32, never overflows). A stratum with n ≤ k² keeps
    * every row: its threshold reaches 2^32 > max bucket². Same
    * broadcast-counts scale shape as [[capStratumShare]] — never a
    * corpus-wide window on the skewed stratum key.
    */
  def sqrtShareSample(
      df: DataFrame,
      strata: Column,
      key: Column,
      k: Long): DataFrame = {
    require(k > 0 && k <= 46340,
      s"k out of (0, 46340] (k^2 * 2^32 must fit in a long): $k")
    val counts = df.groupBy(strata.as("__s"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__t", fdiv(lit(k * k * 4294967296L), col("__n")))
    df.join(broadcast(counts), strata === col("__s"))
      .filter(intBucket(key) * intBucket(key) < col("__t"))
      .drop("__s", "__n", "__t")
  }

  /** Deterministic per-key cap — "at most `k` documents per domain/
    * language/source", the anti-spam guard every crawl corpus applies.
    * Rows are ranked inside each key by content hash (an unbiased,
    * run-stable shuffle of the key's rows — NOT "first k in file
    * order", which would bias toward old crawl segments), ties broken
    * by `tieBreaker` (must be unique per row for determinism), and
    * rows ranked past `k` drop.
    *
    * Scale shape: one shuffle on the cap key, and Spark's rank-limit
    * pushdown (`WindowGroupLimit`) keeps only k rows per key per map
    * task BEFORE the shuffle — a hot domain never concentrates its
    * full fan-in on one reducer's input.
    */
  def capPerKey(
      df: DataFrame,
      key: Column,
      tieBreaker: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key)
      .orderBy(md5(tieBreaker.cast("string")), tieBreaker)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Weighted systematic sample: exactly `min(n, k)` rows per group,
    * selection probability proportional to an integer weight, fully
    * deterministic. Two-tier PPS design (the standard fix for heavy
    * weights in systematic sampling):
    *
    *  1. **Certainty tier.** A row whose weight is at least the
    *     (iteratively shrinking) stride is always selected. The
    *     certainty set has a closed form: sort the group by weight
    *     descending (ties by `order`); the row at rank `r` with suffix
    *     weight sum `S_r` (its own weight included) is certainty iff
    *     `w_r * (k - r + 1) >= S_r`. If rank `r` fails the test, so
    *     does `r+1` (since `w_{r+1} <= w_r` and
    *     `w_{r+1}*(k-r) <= w_r*(k-r+1) - w_r < S_r - w_r = S_{r+1}`),
    *     so the set is a prefix — one window pass computes it, no
    *     driver-side iteration.
    *  2. **Systematic tier.** The remaining rows undergo classic
    *     fixed-step selection in `order`: a row is kept iff its weight
    *     interval `[cum - w, cum)` on the residual cumulative-weight
    *     axis crosses one of the `k - c` evenly spaced thresholds. By
    *     construction every residual weight is STRICTLY below the
    *     residual stride (rank `c+1` failed the certainty test), so
    *     each row crosses at most one threshold and the tier yields
    *     exactly `k - c` rows — no stride collapse under skew.
    *
    * A naive single-tier version loses rows under skew: a row spanning
    * many strides is emitted once but absorbs all the thresholds it
    * crosses, so a 90%-weight row collapses the sample to ~2 picks.
    *
    * All selection arithmetic is integral and runs in long `DIV`
    * (truncating = floor for the non-negative operands here), so it
    * replays EXACTLY in SQL (`//` in DuckDB); correct while
    * `max(cum) * k < 2^63`.
    *
    * Scale shape: two windows over the group key (one weight-desc, one
    * in `order`) — parallel across groups, same shape as
    * sessionization; heavy single groups are the caller's cue to
    * refine `group`.
    */
  def systematicByWeight(
      df: DataFrame,
      group: Column,
      weight: Column,
      order: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive, got $k")
    val byWeightDesc = Window.partitionBy(group)
      .orderBy(weight.desc, order)
    val suffixW = byWeightDesc
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val residualW = weight * (lit(1L) - col("__cert"))
    val cumW = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grpW = Window.partitionBy(group)
    df.filter(weight > 0)
      .withColumn("__rk", row_number().over(byWeightDesc))
      .withColumn("__sfx", sum(weight).over(suffixW))
      .withColumn("__cert",
        // greatest(...,0): a rank past k can never be certainty (the
        // suffix sum is positive), and clamping keeps the product from
        // overflowing long when rank approaches the GROUP size n — the
        // raw factor reaches k-n+1, so `weight * factor` could wrap at
        // |weight| * n even when the documented max(cum)*k < 2^63 bound
        // holds (DuckDB's HUGEINT would not wrap → oracle divergence).
        when(weight * greatest(lit(k.toLong) - col("__rk") + 1L, lit(0L)) >=
            col("__sfx"), 1L)
          .otherwise(0L))
      .withColumn("__c", sum(col("__cert")).over(grpW))
      .withColumn("__cum", sum(residualW).over(cumW))
      .withColumn("__tot", sum(residualW).over(grpW))
      .filter(col("__cert") === 1L ||
        (col("__tot") > 0 &&
          fdiv(col("__cum") * (lit(k) - col("__c")), col("__tot")) >
            fdiv((col("__cum") - weight) * (lit(k) - col("__c")),
              col("__tot"))))
      .drop("__rk", "__sfx", "__cert", "__c", "__cum", "__tot")
  }

  /** Greedy token-budget corpus pack: keep documents in
    * (`rank` DESC, doc_id ASC) order while the running token total
    * stays within `budget` — "take the best docs until the training
    * budget is spent", the final cut every curated pretraining mix
    * makes. Selection is exactly the global greedy prefix (a doc is
    * kept iff its global cumulative token count ≤ `budget`), all in
    * integer arithmetic. `doc_id` is the intra-rank tie-breaker and
    * must be unique — duplicate ids would leave the order among
    * equals, and therefore the boundary cut, undefined (in any
    * engine's replay, not just this one).
    *
    * Scale shape: the global running sum is NOT computed with a
    * corpus-wide unpartitioned window (single reducer — a
    * scale-killer). Instead:
    *
    *  1. per-rank-bucket token totals (map-side-combined groupBy,
    *     |buckets| rows) get prefix offsets on the tiny aggregate and
    *     broadcast back;
    *  2. buckets that fit entirely (`offset + bucket_toks ≤ budget`)
    *     keep every row with NO window at all;
    *  3. only the single BOUNDARY bucket — the one the budget line
    *     crosses — pays a per-bucket ordered running sum.
    *
    * So the sequential scan is confined to one stratum. (At extreme
    * scale, range-partition the boundary bucket by doc_id and apply
    * the same offsets trick recursively; the operator's contract is
    * unchanged.) A doc with rank in a bucket past the budget line is
    * dropped without being counted, scanned, or shuffled anywhere.
    */
  def tokenBudgetPack(
      df: DataFrame,
      rank: Column,
      toks: Column,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be non-negative, got $budget")
    // The rank/token projection may be expensive (quality scoring),
    // and three plan branches consume it (bucket totals, full-keep,
    // boundary). The explicit repartition inserts ONE exchange whose
    // identical subtree all branches reuse (ReusedExchange), so the
    // upstream projection is evaluated once — and hash(qrank) is
    // precisely the partitioning the boundary window requires, so the
    // window adds no shuffle of its own. Caveat: downstream of this
    // exchange parallelism is |distinct ranks|; the rows are three
    // slim longs and every consumer is a trivial filter, so that is
    // cheap — but with a huge corpus and very few rank buckets,
    // pre-aggregate or salt before packing.
    val base = df.select(col("doc_id"), rank.cast("long").as("qrank"),
      toks.cast("long").as("n_tok"))
      .repartition(col("qrank"))
    val totals = base.groupBy("qrank").agg(sum("n_tok").as("__bt"))
    // tiny frame (|distinct ranks| rows): the unpartitioned window is
    // over the aggregate output, never the corpus
    val wOff = Window.orderBy(col("qrank").desc)
    val offsets = totals.select(col("qrank"), col("__bt"),
      (sum(col("__bt")).over(wOff) - col("__bt")).as("__off"))
    val joined = base.join(broadcast(offsets), "qrank")
    val fullKeep = joined
      .filter(col("__off") + col("__bt") <= budget)
      .select("doc_id", "qrank", "n_tok")
    // Explicit ROWS frame: the default frame for an ordered window is
    // RANGE, under which rows TIED on doc_id would share one cumulative
    // sum and the boundary cut would go all-or-none at the tie instead
    // of replaying the greedy prefix. With ROWS the prefix is exact;
    // doc_id is the pack's tie-breaking key, so it must be unique
    // (duplicate ids would make the order among equals — and thus the
    // cut — nondeterministic, here and in any external replay).
    val wIn = Window.partitionBy("qrank").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("__off") <= budget && col("__off") + col("__bt") > budget)
      .withColumn("__cum", col("__off") + sum(col("n_tok")).over(wIn))
      .filter(col("__cum") <= budget)
      .select("doc_id", "qrank", "n_tok")
    fullKeep.unionByName(boundary)
  }

  /** The training shard of a row whose key hashes to `md5Hex`: the
    * hash's first byte (its first two hex digits) mod `nShards` — the
    * one rule of [[shardLayout]] and [[writeTrainingShards]].
    */
  private def shardOf(md5Hex: Column, nShards: Int): Column = {
    require(nShards >= 1 && 256 % nShards == 0,
      s"nShards must divide 256, got $nShards")
    pmod(conv(substring(md5Hex, 1, 2), 16, 10).cast("int"), lit(nShards))
  }

  /** Training-shard layout — the WRITE side of a curation run: assign
    * every document a deterministic shard and a deterministic position
    * within it, so the emitted corpus is globally shuffled (hash
    * order, decorrelated from crawl order) yet byte-reproducible
    * run-to-run. `shard` is the first hex nibble pair of the content
    * md5 folded to `nShards` (uniform by hash); `pos` is the rank of
    * the full hash within the shard.
    *
    * Scale shape: position ranks come from the two-level prefix
    * decomposition (hash-prefix buckets: map-side counts, cumulative
    * offsets on the tiny per-shard bucket frames, windows only over
    * corpus/65536-bounded (shard, bucket) groups) — NEVER one window
    * per shard, whose corpus/nShards-row single-task sort grows
    * linearly with the corpus at the capped shard count. The emitted
    * (shard, pos) order is exactly the layout a `partitionBy(shard)
    * sortWithinPartitions(hash)` parquet write produces; the query
    * form exposes it for verification.
    *
    * `nShards` must be a power of two ≤ 256: the fold is a modulo on
    * the first two hex digits (256 values), and only a power of two
    * divides 256 evenly — any other count would skew shard sizes.
    */
  def shardLayout(
      df: DataFrame,
      key: Column,
      nShards: Int = 16): DataFrame = {
    // The md5 subtree must appear a BOUNDED number of times per row:
    // CollapseProject happily duplicates deterministic expressions,
    // so per-nibble ascii CASE arithmetic referencing a prior h
    // column still inlines the full md5(normalize(text)) into every
    // branch (~17 evaluations/row — measured 10× on the sf1 sweep).
    // conv() parses the 4-hex-char prefix in ONE expression: 3 md5
    // evaluations per row total (h, and one per derived key), fewer
    // than the old ascii form's 5. The VALUES are identical to the
    // ascii arithmetic the oracle replays.
    val hb = conv(substring(md5(key), 1, 4), 16, 10).cast("int")
    // pos via the two-level decomposition, not one window per shard
    // (a per-shard window is corpus/nShards rows through ONE task's
    // sort — nShards is capped at 256, so that arm grows linearly
    // with the corpus). The sub-key is the numeric value of the first
    // FOUR hex chars: a fixed-length prefix value is monotone in the
    // string, so ordering by (bucket, h) == ordering by h, and the
    // per-(shard, bucket) groups are corpus/65536-bounded. Bucket
    // counts aggregate map-side; the cumulative offsets window runs
    // on the ≤4096-row per-shard bucket frames and broadcasts back.
    // Two passes over the source are inherent to two-phase ranking
    // (the offsets branch is a count aggregate, and column pruning
    // narrows its scan below any shared exchange, so ReuseExchange
    // cannot unify the branches — the count side's rescan at least
    // reads one pruned column). The A/B vs the old one-window form is
    // in SCALE.md: ~2.3× dearer at sf1, in exchange for a plan whose
    // widest single-task sort is corpus/65536, not corpus/nShards.
    val shuffled = df.select(col("doc_id"), md5(key).as("h"),
      shardOf(md5(key), nShards).as("shard"), hb.as("__hb"))
      .repartition(col("shard"), col("__hb"))
    val offsets = shuffled.groupBy(col("shard"), col("__hb"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum(col("__c")).over(Window.partitionBy(col("shard"))
          .orderBy(col("__hb"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("__hb"), col("__off"))
    val wLoc = Window.partitionBy(col("shard"), col("__hb"))
      .orderBy(col("h"), col("doc_id"))
    shuffled.join(broadcast(offsets), Seq("shard", "__hb"))
      .withColumn("pos",
        (col("__off") + row_number().over(wLoc)).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Materialize the [[shardLayout]] as an actual training-corpus
    * sink: parquet partitioned by `shard` with rows SORTED by the
    * content hash inside each shard directory — the layout a trainer
    * streams shard-by-shard with a deterministic, crawl-decorrelated
    * order and no global sort anywhere (`repartition(shard)` is one
    * hash exchange; `sortWithinPartitions` sorts each shard slice
    * independently). Same `nShards` contract as [[shardLayout]].
    */
  def writeTrainingShards(
      df: DataFrame,
      key: Column,
      dest: String,
      nShards: Int = 16): Unit = {
    val h = md5(key)
    // shard leads the sort so the dynamic-partition writer sees its
    // partition column already ordered and does NOT inject its own
    // sort (which would only order by shard and could re-arrange the
    // in-shard hash order)
    df.withColumn("__h", h).withColumn("shard", shardOf(h, nShards))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col("doc_id"))
      .drop("__h")
      .write.partitionBy("shard").mode("overwrite").parquet(dest)
  }

  /** Scale-safe EXCLUSIVE prefix sums over a global order — the
    * primitive behind concat-and-chunk packing offsets, byte-offset
    * assignment, and any "where does my row start" question that a
    * naive `sum() OVER (ORDER BY ...)` answers with a corpus-wide
    * single-partition window. Two-level decomposition instead:
    * rows bucket by `orderCol / bucketSize`, per-bucket totals
    * aggregate map-side, the CUMULATIVE bucket offsets run on the
    * tiny bucket frame (n/bucketSize rows — the only ordered window,
    * one task; size `bucketSize` so that stays small, or recurse the
    * same trick for >10⁹-bucket corpora), broadcast back, and each
    * bucket's interior pays only a bucket-local window. Output: the
    * input plus `prefix` = sum of `valueCol` over all rows with
    * strictly smaller `orderCol`.
    *
    * `orderCol` must be unique per row (doc_id); value nulls are not
    * allowed (sum semantics would silently skip them). `part` scopes
    * the running sum PER GROUP (e.g. per source): every level of the
    * decomposition partitions by the group columns too, so a 20-source
    * corpus never funnels corpus/20 rows through one task — the
    * failure mode of a bare `Window.partitionBy(source)` when groups
    * are few and huge.
    *
    * `levels` sizes the decomposition to the corpus (ADVICE r15 — the
    * recursion is implemented, not a doc promise):
    *  - `2` (default): one bucket level; the n/bucketSize-row bucket
    *    frame pays the ordered window on one task and rides a
    *    broadcast join back — right up to ~10⁹ ids at the default
    *    bucketSize (≲10⁶ bucket rows, comfortably inside broadcast
    *    and single-task-window range).
    *  - `>= 3`: the bucket frame's own running sum recurses through
    *    [[prefixSums]] (bucket the buckets), each level dividing rows
    *    by bucketSize, and the join back is LEFT TO AQE instead of a
    *    forced broadcast — a 4096²-fold reduction at levels = 3 covers
    *    ~10¹³-id corpora without any level broadcasting or
    *    single-task-sorting more than bucketSize² rows.
    */
  def prefixSums(
      df: DataFrame,
      orderCol: Column,
      valueCol: Column,
      bucketSize: Int = 4096,
      part: Seq[String] = Nil,
      levels: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    require(levels >= 1, s"levels must be >= 1, got $levels")
    val partCols = part.map(col)
    if (levels == 1) {
      // terminal level: a plain per-group exclusive running sum — only
      // ever reached on a frame already divided by bucketSize^(levels-1)
      val w = Window.partitionBy(partCols: _*).orderBy(orderCol)
        .rowsBetween(Window.unboundedPreceding, -1)
      return df.withColumn("prefix",
        coalesce(sum(valueCol.cast("long")).over(w), lit(0L)))
    }
    val b = df.withColumn("__pb",
      floor(orderCol / bucketSize).cast("long"))
      .withColumn("__pv", valueCol.cast("long"))
    val totals = b.groupBy(partCols :+ col("__pb"): _*)
      .agg(sum(col("__pv")).as("__bt"))
    val offsets =
      if (levels == 2)
        totals.withColumn("__boff", coalesce(
          sum(col("__bt")).over(Window.partitionBy(partCols: _*)
            .orderBy(col("__pb"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(partCols :+ col("__pb") :+ col("__boff"): _*)
      else
        // recurse on the bucket frame (renamed so the inner level's
        // own __pb cannot collide with this level's key)
        prefixSums(totals.withColumnRenamed("__pb", "__opb"),
          col("__opb"), col("__bt"), bucketSize, part, levels - 1)
          .select(partCols :+ col("__opb").as("__pb") :+
            col("prefix").as("__boff"): _*)
    val w = Window.partitionBy(partCols :+ col("__pb"): _*)
      .orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val joined =
      if (levels == 2) b.join(broadcast(offsets), part :+ "__pb")
      else b.join(offsets, part :+ "__pb") // AQE picks at runtime size
    joined
      .withColumn("prefix",
        col("__boff") + coalesce(sum(col("__pv")).over(w), lit(0L)))
      .drop("__pb", "__pv", "__boff")
  }

  /** Concat-and-chunk packing fragmentation census — the GPT-style
    * pretraining packing (concatenate every document in order, cut
    * fixed `blockSize`-token blocks) fragments documents across block
    * boundaries; this reports how much: `(n_docs, n_split, n_blocks,
    * total_tokens)`, where a doc is SPLIT iff its token span crosses a
    * block boundary (`start % blockSize + len > blockSize`). All
    * exact integers from one [[prefixSums]] pass + one map-side-
    * combined aggregate — the number that decides between plain
    * concat-chunk and boundary-respecting packing.
    */
  def packingFragmentation(
      docs: DataFrame,
      lenCol: Column,
      blockSize: Int = 512,
      bucketSize: Int = 4096): DataFrame = {
    require(blockSize >= 1, s"blockSize must be >= 1, got $blockSize")
    prefixSums(docs.select(col("doc_id"), lenCol.cast("long").as("len")),
      col("doc_id"), col("len"), bucketSize)
      .agg(count(lit(1)).as("n_docs"),
        sum((pmod(col("prefix"), lit(blockSize.toLong)) + col("len") >
          blockSize).cast("long")).as("n_split"),
        sum(col("len")).as("total_tokens"))
      .select(col("n_docs"), col("n_split"),
        ceil(col("total_tokens").cast("double") / blockSize)
          .cast("long").as("n_blocks"), col("total_tokens"))
  }

  /** Padding-waste census — the sequence-bucketing ROI measurement: a
    * training batch pads every sequence to the batch max, so tokens
    * billed = Σ_batch n_in_batch · max_len. Compares two batching
    * disciplines over the same corpus:
    *   - `arrival`: batches are consecutive `batchSize`-runs of
    *     doc_id (the naive loader; assumes ids reflect arrival
    *     order, as this corpus's dense ids do) — short docs pay for
    *     whatever long doc lands next to them;
    *   - `bucketed`: docs first route to length buckets of width
    *     `bucketWidth`, batches form in (len, doc_id) order WITHIN a
    *     bucket — intra-batch spread is bounded by the bucket width.
    * Output: one row per strategy,
    * `(strategy, n_batches, real_tokens, padded_tokens)` — waste is
    * `padded − real`, all exact integers.
    *
    * Scale shape: the arrival side is pure arithmetic on doc_id (no
    * sort, no window); the bucketed side's only window partitions BY
    * BUCKET — every partition is one length class, bounded and
    * numerous, never a corpus-wide single-reducer sort. Both sides
    * end in map-side-combined per-batch aggregates.
    */
  def paddingWasteCensus(
      docs: DataFrame,
      lenCol: Column,
      batchSize: Int = 8,
      bucketWidth: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(bucketWidth >= 1,
      s"bucketWidth must be >= 1, got $bucketWidth")
    val lens = docs.select(col("doc_id"), lenCol.cast("long").as("len"))
    def census(tagged: DataFrame, tag: String): DataFrame =
      tagged.groupBy(col("__b"))
        .agg(count(lit(1)).as("n"), sum(col("len")).as("s"),
          max(col("len")).as("m"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("s")).as("real_tokens"),
          sum(col("n") * col("m")).as("padded_tokens"))
        .select(lit(tag).as("strategy"), col("n_batches"),
          col("real_tokens"), col("padded_tokens"))
    val arrival = census(
      lens.withColumn("__b", floor(col("doc_id") / batchSize)), "arrival")
    val w = Window.partitionBy(col("__lb"))
      .orderBy(col("len"), col("doc_id"))
    val bucketed = census(
      lens.withColumn("__lb", floor(col("len") / bucketWidth))
        .withColumn("__b", concat_ws("#", col("__lb"),
          floor((row_number().over(w) - 1) / batchSize))), "bucketed")
    arrival.unionByName(bucketed)
  }
}
