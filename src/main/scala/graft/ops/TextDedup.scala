package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-corpus curation, over a
  * `documents(doc_id, text, ...)` table.
  *
  * Scale design (the point of every choice here):
  *  - **Exact dedup** is one hash-keyed `groupBy` — a single shuffle on
  *    a 32-byte key, map-side partial aggregation, no text movement
  *    beyond the first occurrence.
  *  - **MinHash/LSH near-dup** never compares all pairs: signatures are
  *    per-row expressions (no shuffle), banding turns "similar" into
  *    "equal on some band", and candidates come from a self-equi-join on
  *    the band key — the only shuffle is on `(band_idx, band_hash)`.
  *    Oversized buckets (degenerate bands / boilerplate) are dropped by
  *    a frequency guard so one hot key can't quadratically blow up a
  *    1000-executor run.
  *  - **SimHash** is a per-row 64-bit signature (pure expressions);
  *    near-dup candidates come from equality on 16-bit bands — same
  *    bucket-join shape, same scale story.
  *  - **Exact n-gram Jaccard** runs only on LSH candidates, never on the
  *    full cross product.
  *
  * All signature math uses `xxhash64` (Spark's codegen'd 64-bit hash) so
  * results are deterministic across runs and cluster sizes.
  */
object TextDedup {

  /** Normalized text: lowercase, whitespace collapsed — the canonical
    * form both exact and near dedup key on.
    */
  def normText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Exact dedup summary: one row per distinct normalized text with the
    * kept (minimum) doc_id and the duplicate count. The md5 key keeps
    * the shuffle payload at 32 bytes/row regardless of document size.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(normText(col("text"))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("dup_count"))

  /** Exact dedup, keep-first flavor: the surviving rows themselves
    * (first doc_id per normalized text, in doc_id order). Window is
    * partitioned by the hash — parallel across keys, no global sort.
    */
  def exactDedupKeepFirst(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("text_hash")).orderBy(col("doc_id"))
    docs
      .withColumn("text_hash", md5(normText(col("text"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Incremental (cross-snapshot) dedup: rows of `newDocs` whose
    * normalized text does NOT already appear in `corpus` — the "what is
    * actually new in this crawl" operator. A left-anti join on the
    * 32-byte content hash: the corpus side reduces to distinct hashes
    * (never full texts), so the build side of the join is minimal; at
    * scale Spark picks broadcast vs shuffled-hash from its actual size.
    */
  def incrementalNew(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs
      .withColumn("text_hash", md5(normText(col("text"))))
      .join(
        corpus.select(md5(normText(col("text"))).as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")

  /** The PERSISTED near-dup index of a corpus snapshot — what a weekly
    * re-crawled corpus pipeline stores between runs so the NEXT
    * snapshot can near-dedup against everything already ingested
    * without re-reading (let alone re-shingling) the prior corpus:
    *  - the MinHash band table `(doc_id, band_idx, band_hash)` —
    *    candidate generation by band equi-join;
    *  - the hashed-shingle signature table `(doc_id, sh)` — exact
    *    Jaccard verification of candidates.
    * Both are pure per-row derivations (one corpus scan builds both,
    * no shuffle) and both carry only 8-byte hashes, so the index is a
    * small fraction of the text it stands for. Persist as parquet;
    * [[incrementalNearNew]] consumes the two tables directly.
    */
  def nearDupIndex(
      corpus: DataFrame,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): (DataFrame, DataFrame) =
    (minHashBands(corpus, numHashes, rowsPerBand, shingleSize),
      corpus.select(col("doc_id"),
        shinglesHashed(col("text"), shingleSize).as("sh")))

  /** The band buckets of `bandIndex` holding more than `maxBucket`
    * members — the boilerplate blocklist the incremental path anti-joins
    * against. A map-side-combinable `groupBy.count` with a tiny output
    * (only pathological buckets survive the filter), meant to run ONCE
    * per index build/compact and be PERSISTED next to the index
    * (`RunDedupIndex` writes `indexDir/hot_buckets`), so an `apply`
    * run's only contact with the band index is the candidate equi-join
    * — never a corpus-wide window or aggregate per snapshot.
    */
  def hotBandBuckets(bandIndex: DataFrame, maxBucket: Int = 64): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    bandIndex.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
      .select("band_idx", "band_hash")
  }

  /** Verified cross-snapshot near-dup pairs: each NEW doc against the
    * indexed PRIOR corpus ([[nearDupIndex]]). Only the new snapshot is
    * shingled; the old corpus participates purely through its index —
    * the shape a weekly re-crawl needs, where the new slice is a few
    * percent of the corpus behind the index.
    *
    * Stages mirror [[minHashCandidates]] + [[jaccardVerify]], with the
    * self-join replaced by a new-vs-index join: band the new docs (per-
    * row expression work), broadcast anti-join the NEW bands against the
    * precomputed `hotBuckets` blocklist (degenerate boilerplate buckets
    * accumulated across ALL prior snapshots — see [[hotBandBuckets]];
    * filtering the small side is equivalent to filtering the index,
    * since a candidate needs both ends of the equi-join), equi-join on
    * `(band_idx, band_hash)` against the index (the only contact with
    * the index, on a 12-byte key, new side broadcastable), dedup
    * candidate pairs, then verify with the exact hashed-shingle
    * intersection against the stored signatures. A doc whose OWN id is
    * already in the index matches itself and is reported — re-applying
    * an already-folded snapshot deliberately drops it ("the index
    * already has it"); the `--update` retry case that must NOT clobber
    * its output is guarded one level up by `RunDedupIndex`'s applied
    * marker, not here.
    *
    * Returns `(new_id, old_id, inter_cnt, union_cnt)` — integer-exact
    * counts, thresholds as `inter_cnt * 100 >= union_cnt * pct`.
    */
  def incrementalNearPairs(
      newDocs: DataFrame,
      bandIndex: DataFrame,
      shingleIndex: DataFrame,
      hotBuckets: DataFrame,
      numHashes: Int,
      rowsPerBand: Int,
      shingleSize: Int): DataFrame = {
    val newBands = minHashBands(newDocs, numHashes, rowsPerBand, shingleSize)
      .join(broadcast(hotBuckets.select("band_idx", "band_hash")),
        Seq("band_idx", "band_hash"), "left_anti")
    val cands = newBands
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("new_id"))
      .join(bandIndex
        .select(col("band_idx"), col("band_hash"), col("doc_id").as("old_id")),
        Seq("band_idx", "band_hash"))
      .select("new_id", "old_id")
      .distinct()
    val newSh = newDocs.select(col("doc_id").as("new_id"),
      shinglesHashed(col("text"), shingleSize).as("sh_new"))
    // hashed shingles are sorted — one linear merge per pair
    val inter = graft.functions.TextExprs
      .sortedIntersectCount(col("sh_new"), col("sh_old"))
    cands
      .join(newSh, "new_id")
      .join(shingleIndex
        .select(col("doc_id").as("old_id"), col("sh").as("sh_old")), "old_id")
      .select(col("new_id"), col("old_id"), inter.as("inter_cnt"),
        (size(col("sh_new")) + size(col("sh_old")) - inter).as("union_cnt"))
  }

  /** [[incrementalNearPairs]] with the hot-bucket blocklist derived
    * inline from `bandIndex` (one map-side-combined aggregate over the
    * index). Convenient for one-shot frames; the persisted-index path
    * ([[graft.tools.RunDedupIndex]]) passes the blocklist computed at
    * build/compact time instead, keeping the apply plan index-scan-free
    * beyond the candidate equi-join.
    */
  def incrementalNearPairs(
      newDocs: DataFrame,
      bandIndex: DataFrame,
      shingleIndex: DataFrame,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64): DataFrame =
    incrementalNearPairs(newDocs, bandIndex, shingleIndex,
      hotBandBuckets(bandIndex, maxBucket), numHashes, rowsPerBand,
      shingleSize)

  /** Cross-snapshot incremental NEAR-dup dedup: rows of `newDocs` with
    * no verified near-duplicate (shingle Jaccard ≥ `thresholdPct`%) in
    * the indexed prior corpus — the near-dup analog of
    * [[incrementalNew]], and the batch form of the streaming Bloom
    * gate. At `thresholdPct = 100` the test degenerates to shingle-SET
    * equality (catches case/whitespace/repetition variants exact
    * hashing misses, deterministically — set-equal docs share every
    * band by construction); below 100 it is the standard fuzzy gate
    * whose recall follows the MinHash banding curve.
    */
  def incrementalNearNew(
      newDocs: DataFrame,
      bandIndex: DataFrame,
      shingleIndex: DataFrame,
      thresholdPct: Int = 80,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64): DataFrame =
    incrementalNearNew(newDocs, bandIndex, shingleIndex,
      hotBandBuckets(bandIndex, maxBucket), thresholdPct, numHashes,
      rowsPerBand, shingleSize)

  /** [[incrementalNearNew]] against a PRECOMPUTED hot-bucket blocklist
    * (see [[hotBandBuckets]]) — the persisted-index form: the plan's
    * only contact with the band index is the candidate equi-join, with
    * the (tiny) blocklist broadcast against the new slice's bands.
    */
  def incrementalNearNew(
      newDocs: DataFrame,
      bandIndex: DataFrame,
      shingleIndex: DataFrame,
      hotBuckets: DataFrame,
      thresholdPct: Int,
      numHashes: Int,
      rowsPerBand: Int,
      shingleSize: Int): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct must be in (0,100], got $thresholdPct")
    val dup = incrementalNearPairs(newDocs, bandIndex, shingleIndex,
      hotBuckets, numHashes, rowsPerBand, shingleSize)
      .filter(col("inter_cnt") * 100 >= col("union_cnt") * thresholdPct)
      .select(col("new_id").as("doc_id"))
      .distinct()
    newDocs.join(dup, Seq("doc_id"), "left_anti")
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * PPJoin/AllPairs family, Xiao et al. / Bayardo et al.): ALL
    * document pairs whose distinct word-`n`-gram-set Jaccard meets
    * `thresholdPct`, with exact intersection/union counts —
    * deterministic and complete, unlike the MinHash path, whose
    * banding curve trades recall for speed. The complementary tool:
    * MinHash for fuzzy recall at minimum cost, prefix filtering when
    * the answer must be THE answer (contractual dedup, audit sets).
    * Shingle sets (not unigram token sets) are the currency, same as
    * the MinHash family — unigram SETS are near-identical across any
    * shared-vocabulary corpus and would make every pair a candidate.
    *
    * Scale shape — never all-pairs:
    *  1. one gram-level aggregate computes global document frequency
    *     (map-side combined, 8-byte hashed grams);
    *  2. each doc's distinct grams sort rarest-first (df, then hash)
    *     and only the PREFIX — the first `sz − ceil(t·sz) + 1` grams —
    *     is exploded into the candidate join. The prefix-filter lemma
    *     guarantees two sets with Jaccard ≥ t share a prefix gram, so
    *     no qualifying pair is lost; rarest-first ordering makes
    *     prefix buckets the SMALLEST-df grams, which is what bounds
    *     the equi-join fan-out (a boilerplate gram never lands in a
    *     long doc's prefix);
    *  3. candidates are additionally length-filtered in the join
    *     condition (t·|a| ≤ |b| ≤ |a|/t, integer cross-multiplied)
    *     and verified by one linear sorted-hash intersection.
    *
    * Every count is an exact integer over 8-byte gram hashes; the
    * string-replay oracle brute-forces the ALL-PAIRS answer and
    * doubles as both the completeness audit of the prefix/length
    * filters and the collision audit (the shinglesHashed argument).
    */
  def ppjoinPairs(
      docs: DataFrame,
      thresholdPct: Int = 80,
      shingleSize: Int = 3): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct must be in (0,100], got $thresholdPct")
    val toks = docs.select(col("doc_id"),
      explode(shinglesHashed(col("text"), shingleSize)).as("h"))
    val dfreq = toks.groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = toks.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), s => s.getField("h")).as("ord"),
        size(col("st")).as("sz"))
      .filter(col("sz") > 0)
      .withColumn("sorted", array_sort(col("ord")))
      .withColumn("plen", expr(
        s"sz - cast((sz * $thresholdPct + 99) div 100 AS int) + 1"))
    // `ordered` feeds the prefix explode AND both verification joins;
    // a lazy-checkpoint barrier here was A/B'd in r22 and REJECTED:
    // AQE already reuses the exchanges (final adaptive plan: 4 scans,
    // 3 reused), so the barrier only added a serialized gram-array
    // materialization — 13-run min 1.43 → 1.59 s at sf0.1.
    val pref = ordered.select(col("doc_id"), col("sz"),
      explode(slice(col("ord"), lit(1), col("plen"))).as("h"))
    val cands = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("b.sz") * 100 >= col("a.sz") * thresholdPct &&
          col("a.sz") * 100 >= col("b.sz") * thresholdPct)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    val inter = graft.functions.TextExprs
      .sortedIntersectCount(col("ta"), col("tb"))
    cands
      .join(ordered.select(col("doc_id").as("a_id"),
        col("sorted").as("ta"), col("sz").as("sza")), "a_id")
      .join(ordered.select(col("doc_id").as("b_id"),
        col("sorted").as("tb"), col("sz").as("szb")), "b_id")
      .select(col("a_id"), col("b_id"), inter.as("inter_cnt"),
        (col("sza") + col("szb") - inter).as("union_cnt"))
      .filter(col("inter_cnt") * 100 >= col("union_cnt") * thresholdPct)
  }

  /** Applied form of [[ppjoinPairs]]: first-occurrence survivors —
    * drop every doc with a qualifying similar EARLIER doc (by id).
    * The same keep-first convention as the exact and MinHash keeps.
    */
  def ppjoinKeep(
      docs: DataFrame,
      thresholdPct: Int = 80,
      shingleSize: Int = 3): DataFrame =
    docs.join(ppjoinPairs(docs, thresholdPct, shingleSize)
      .select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Eval-set decontamination: for every training document sharing at
    * least one word `n`-gram with a benchmark document, the pair and
    * its shared-distinct-n-gram count — the screen a training corpus
    * runs against held-out eval sets before anything trains on it.
    *
    * Scale shape: both sides explode their DISTINCT shingles; the
    * benchmark side is broadcast (eval sets are tiny next to the
    * corpus), so the join never shuffles the training grams; the
    * per-pair count partial-aggregates map-side. Never a cross join —
    * a document pair only materializes if an actual gram matches.
    */
  def contaminationHits(
      train: DataFrame,
      evalDocs: DataFrame,
      n: Int = 8): DataFrame = {
    // grams meet as 8-byte hashes ([[shinglesHashed]]): the broadcast
    // build side and every probe shrink to longs; the per-pair counts
    // are string-exact modulo 64-bit collisions (oracle-audited)
    val trainGrams = train.select(col("doc_id"),
      explode(shinglesHashed(col("text"), n)).as("gram"))
    val evalGrams = evalDocs.select(col("doc_id").as("eval_id"),
      explode(shinglesHashed(col("text"), n)).as("gram"))
    trainGrams
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Word `n`-gram shingles of the normalized text as a distinct array.
    * Short texts (< n tokens) fall back to one whole-text shingle so no
    * document silently vanishes from the signature stage. Backed by the
    * native single-pass [[graft.functions.ShinglesExpr]]; the
    * normalization prefix stays on the codegen'd built-in path.
    * Parity-pinned against the transform/slice form in TextExprsSpec.
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.functions.TextExprs.shingles(normText(text), n)

  /** [[shingles]] as sorted distinct 64-bit hashes — the join/shuffle
    * currency for gram-matching operators: an equality on the 8-byte
    * hash replaces an equality on the gram string (smaller broadcast
    * tables, cheaper probes), exact modulo 64-bit collisions, which
    * can only MERGE two grams. Every consumer's oracle replays the
    * STRING semantics, so each green CORRECTNESS row doubles as a
    * collision audit.
    */
  def shinglesHashed(text: Column, n: Int = 3): Column =
    graft.functions.TextExprs.hashedShingles(normText(text), n)

  /** The ACTION half of eval-set decontamination: the training rows
    * that share NO word `n`-gram with any benchmark document — what
    * actually ships to training after [[contaminationHits]] has been
    * inspected. One distinct projection of the hit pairs followed by a
    * left-anti join on doc_id; the gram matching inherits
    * [[contaminationHits]]'s broadcast shape (and its hashed-gram
    * keys — the string-replay oracle audits collisions).
    */
  def decontaminateDrop(
      train: DataFrame,
      evalDocs: DataFrame,
      n: Int = 8): DataFrame = {
    val contaminated = contaminationHits(train, evalDocs, n)
      .select(col("doc_id")).distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Per-document n-gram novelty against a reference corpus — the
    * memorization-risk measure: how much of each document's distinct
    * n-gram set already appears ANYWHERE in `ref`. Complements
    * [[contaminationHits]] (which emits per-(train, eval) pair
    * overlaps): novelty scores each document against the UNION of the
    * reference's n-grams, the number a "what fraction of this doc is
    * recycled text" gate thresholds on. Output
    * (doc_id, grams_total, grams_known), both exact integers —
    * `1 - grams_known/grams_total` is the novelty share.
    *
    * Scale shape: the reference's distinct gram set builds with
    * map-side-combined distinct and broadcasts (eval/reference sets
    * are small by design — for a corpus-sized reference, swap the
    * broadcast for a shuffled left join or a Bloom pre-filter, cf.
    * [[graft.ops.BloomPrune]]); the document side is one explode +
    * one per-doc aggregate, no corpus-wide shuffle beyond the
    * doc_id agg.
    */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, n: Int = 3): DataFrame = {
    // the reference union and the probe stream both carry 8-byte gram
    // hashes ([[shinglesHashed]]) — the broadcast set is ~an order of
    // magnitude smaller than gram strings and each membership probe is
    // a long equality; counts are string-exact modulo collisions,
    // which the string-replay oracle audits
    val refGrams = ref
      .select(explode(shinglesHashed(col("text"), n)).as("gram"))
      .distinct()
      .withColumn("__hit", lit(1L))
    docs
      .select(col("doc_id"),
        explode(shinglesHashed(col("text"), n)).as("gram"))
      .join(broadcast(refGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("grams_total"),
        sum(coalesce(col("__hit"), lit(0L))).as("grams_known"))
  }

  /** MinHash signature: `numHashes` independent min-hashes, each the
    * minimum of `xxhash64(seed_i, shingle)` over the shingle set.
    * Backed by the native fused loop
    * ([[graft.functions.MinHashSignatureExpr]]), with zero per-shingle
    * allocation. Pure per-row expression work — the 100 TB plan is
    * scan → project. Parity-pinned against the aggregate/zip_with fold
    * in MinHashExprsSpec.
    */
  def minHashSignature(shingleArr: Column, numHashes: Int = 32): Column =
    graft.functions.MinHashExprs.minHashSignature(shingleArr, numHashes)

  /** Banded signature rows: one output row per (doc, band) with the
    * band's hash — `numHashes/rowsPerBand` bands. Equal band hash ⇒
    * candidate pair (the classic LSH amplification).
    */
  def minHashBands(
      docs: DataFrame,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    // Signature fold + banding fused into ONE native loop (see
    // [[graft.functions.MinHashBandsExpr]]); parity-pinned against the
    // HOF fold in MinHashExprsSpec.
    val bandHashes = graft.functions.MinHashExprs.minHashBands(
      shingles(col("text"), shingleSize), numHashes, rowsPerBand)
    docs
      .select(col("doc_id"), posexplode(bandHashes))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** LSH candidate pairs: self-join of the band rows on
    * (band_idx, band_hash), `doc_a < doc_b`, distinct. `maxBucket`
    * drops degenerate buckets (empty-shingle collisions, boilerplate)
    * before the join — the skew guard that keeps the worst key from
    * going quadratic at scale.
    *
    * Plan note (verified on the executed plan): the self-join's two
    * sides share the signature+banding subtree; AQE's ReuseExchange
    * dedups the identical shuffle, so the expensive fold executes ONCE
    * and only the cheap bucket-count window runs per side. The window
    * (rather than a groupBy+collect_list pair expansion) also bounds
    * memory: no bucket's member list is ever materialized as one row.
    */
  def minHashCandidates(
      docs: DataFrame,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val bands = minHashBands(docs, numHashes, rowsPerBand, shingleSize)
    val sized = bands
      .withColumn("bucket_n",
        count(lit(1)).over(
          Window.partitionBy(col("band_idx"), col("band_hash"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val a = sized.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_a"))
    val b = sized.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Exact word-shingle Jaccard for a candidate-pair frame — the
    * verification stage after LSH. Joins texts back in (two broadcast-
    * friendly hash joins on doc_id) and computes
    * |A∩B| / |A∪B| with built-in array ops. Never call this on a cross
    * product; feed it [[minHashCandidates]] output.
    */
  def jaccardVerify(
      pairs: DataFrame,
      docs: DataFrame,
      shingleSize: Int = 3,
      threshold: Double = 0.0): DataFrame = {
    val sh = docs.select(col("doc_id"),
      shingles(col("text"), shingleSize).as("sh"))
    // one-pass native intersection count; union arithmetically from the
    // distinct-set sizes (|A|+|B|-|A∩B|) — no array materialization
    val inter =
      graft.functions.TextExprs.intersectCount(col("sh_a"), col("sh_b"))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") / union).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Integer-exact core of [[jaccardVerify]]: |A∩B| and |A∪B| shingle
    * counts per candidate pair, as BIGINTs. Same join shape; use this
    * flavor when the result feeds an exact comparison (the float ratio
    * is derived, the counts are the ground truth). Union size computed
    * arithmetically (|A|+|B|-|A∩B|) — shingle arrays are distinct sets.
    */
  def jaccardCounts(
      pairs: DataFrame,
      docs: DataFrame,
      shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"),
      shingles(col("text"), shingleSize).as("sh"))
    val inter =
      graft.functions.TextExprs.intersectCount(col("sh_a"), col("sh_b"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.cast("long").as("inter_cnt"),
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("long")
          .as("union_cnt"))
  }

  /** TF-WEIGHTED Jaccard verification for candidate pairs — the
    * bag-of-words refinement of [[jaccardCounts]] for boilerplate-
    * heavy corpora: set Jaccard saturates when two documents share a
    * large template (every shared gram counts once however often it
    * repeats), while weighted Jaccard
    * `Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b)` keeps multiplicity,
    * so a page that repeats the template 50× no longer looks
    * near-identical to one that states it once. Emits the exact
    * integer numerator/denominator `(wmin, wmax)` per pair —
    * `wmax = dl_a + dl_b − wmin` (the max-sum identity over the term
    * union), so only SHARED terms ever join.
    *
    * Scale shape: one tokenize + tf aggregate over the corpus (the
    * BM25 postings shape), then two equi-joins keyed by the candidate
    * pair's doc ids — the shared-term sum fans each pair by its
    * per-doc vocabulary, bounded by document length; never an
    * all-pairs or vocabulary-wide product. Feed LSH/banding
    * candidates, exactly like [[jaccardCounts]].
    *
    * Edge semantics: a pair whose side has NO tokens (empty/
    * whitespace-only text) is DROPPED by the inner dl join — weighted
    * Jaccard is 0/0-undefined against an empty bag, and emitting a
    * row would force an arbitrary convention. Pre-filter token-less
    * docs (every curation pipeline here already does) if candidate
    * generation can pair them.
    */
  def weightedJaccardCounts(
      pairs: DataFrame,
      docs: DataFrame): DataFrame = {
    // `tf` is read three times (dl + both shared-term join sides) —
    // lazy-checkpoint barriers on tf/dl were A/B'd in r22 and
    // REJECTED: 1.43 → 1.93 s and 1.71 → 2.97 s (interleaved 5-rep
    // probes, sf0.1). Materializing the string-term postings frame
    // costs more than the re-tokenizes it saves; contrast bm25TopK,
    // whose kept barriers hold only doc-count and query-term-filtered
    // rows.
    val tf = docs.select(col("doc_id"),
        explode(split(normText(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val shared = pairs
      .join(tf.select(col("doc_id").as("doc_a"), col("term"),
        col("tf").as("tf_a")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("term"),
        col("tf").as("tf_b")), Seq("doc_b", "term"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("tf_a"), col("tf_b"))).as("wmin"))
    pairs
      .join(shared, Seq("doc_a", "doc_b"), "left")
      .join(dl.select(col("doc_id").as("doc_a"), col("dl").as("dl_a")),
        Seq("doc_a"))
      .join(dl.select(col("doc_id").as("doc_b"), col("dl").as("dl_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("wmin"), lit(0L)).as("wmin"),
        (col("dl_a") + col("dl_b") - coalesce(col("wmin"), lit(0L)))
          .as("wmax"))
  }

  /** [[jaccardCounts]] with the shingle sets pre-hashed to SORTED
    * `array<bigint>` before they reach any exchange — the form the
    * near-dup clustering pipeline feeds on. Two effects, both about
    * the joins (the plan shape is identical): the shuffle payload per
    * document drops from every gram's string bytes to 8 bytes per
    * gram, and the per-pair intersection becomes a linear merge of two
    * sorted long arrays (no hash set, no UTF8String equality). Counts
    * equal [[jaccardCounts]]'s exactly unless two distinct grams
    * collide in 64 bits (≈2^-64·|A|·|B| per pair — a collision merges
    * two grams, overcounting the intersection by at most 1); the
    * equivalence on real corpus data is spec-pinned. Keep the string
    * flavor where the counts feed an external exact replay; use this
    * one where they feed a threshold.
    */
  def jaccardCountsHashed(
      pairs: DataFrame,
      docs: DataFrame,
      shingleSize: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"),
      graft.functions.TextExprs
        .hashedShingles(normText(col("text")), shingleSize).as("sh"))
    val inter = graft.functions.TextExprs
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.cast("long").as("inter_cnt"),
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("long")
          .as("union_cnt"))
  }

  /** C4-style cross-document line deduplication — the curation
    * operator that removes BOILERPLATE (a navigation bar, a cookie
    * banner, a license footer repeated across millions of pages) while
    * keeping the documents that carry it: every document is split into
    * lines, any line occurring more than `maxOcc` times in the WHOLE
    * corpus is dropped, and each document is reassembled from its
    * surviving lines in original order. Occurrence counting is over
    * line instances (the C4 rule), so a document repeating its own
    * line also trips the threshold.
    *
    * Output: (doc_id, n_lines, kept_lines, dedup_text) — one row per
    * input document, `dedup_text` empty when every line was dropped.
    * A NULL `textCol` is treated as the empty string (the document is
    * kept, one empty line), so every input doc_id appears exactly once
    * in the output regardless of text nullability.
    *
    * Scale shape: the corpus-wide count groups by the line's 64-bit
    * hash, not the line text, so the counting shuffle moves 8 bytes
    * per line; only the FREQUENT hashes (count > maxOcc — the
    * boilerplate set, small by nature) come back, broadcast, to flag
    * lines, so the line text itself crosses exactly one exchange: the
    * per-document reassembly. For a pathological corpus whose frequent
    * set outgrows a broadcast, drop the hint and AQE plans a shuffled
    * join. A 64-bit collision can only ever over-drop (an innocent
    * line sharing a frequent line's hash) at ~2^-64 per distinct-line
    * pair; the DuckDB oracle counts raw line strings, so the green
    * CORRECTNESS row doubles as a collision audit.
    */
  def lineDedup(
      docs: DataFrame,
      maxOcc: Long = 1,
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    // NULL text must not make the document vanish (split of NULL
    // explodes to zero rows): treat it as empty text, so a NULL-text
    // document gets the same one-empty-line row an ''-text one does.
    // `sep` is LITERAL on both sides (Pattern.quote for the regex
    // split, verbatim for the join) — "\n\n" gives the paragraph-
    // granularity variant of the same operator.
    val lines = docs.select(col("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
    val frequent = lines.groupBy("h")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
      .select(col("h"), lit(true).as("frequent"))
    lines
      .join(broadcast(frequent), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("frequent").isNull, 1L).otherwise(0L)).as("kept_lines"),
        // collect_list skips the nulls the `when` leaves for frequent
        // lines; struct sort restores document order before the join
        array_join(
          transform(
            array_sort(collect_list(
              when(col("frequent").isNull, struct(col("pos"), col("line"))))),
            x => x("line")),
          sep).as("dedup_text"))
  }

  /** Boilerplate-share gate: per document, the fraction of its lines
    * occurring corpus-wide more than `maxOcc` times, and the verdict
    * `is_boilerplate` when frequent lines exceed `sharePct`% — the
    * page-level complement of [[lineDedup]] (RefinedWeb-style: a page
    * that is MOSTLY nav/footer template is dropped whole rather than
    * line-stripped; re-rendered chrome around near-empty content never
    * reaches the corpus). Integer cross-multiplied share test, no
    * floats.
    *
    * Scale shape = [[lineDedup]]'s: one groupBy over 64-bit line
    * hashes, the frequent subset (boilerplate — small by nature)
    * broadcast back, one per-document aggregate; line TEXT never
    * shuffles at all here (only hashes and counts move).
    */
  def boilerplateShare(
      docs: DataFrame,
      maxOcc: Long = 1,
      sharePct: Int = 50,
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    require(sharePct >= 0 && sharePct <= 100,
      s"sharePct must be in [0,100], got $sharePct")
    val lines = docs.select(col("doc_id"),
      explode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep), -1)).as("line"))
      .select(col("doc_id"), xxhash64(col("line")).as("h"))
    val frequent = lines.groupBy("h")
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
      .select(col("h"), lit(true).as("frequent"))
    lines
      .join(broadcast(frequent), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("frequent"), 1L).otherwise(0L)).as("frequent_lines"))
      .select(col("doc_id"), col("n_lines"), col("frequent_lines"),
        (col("frequent_lines") * 100 > col("n_lines") * sharePct)
          .cast("int").as("is_boilerplate"))
  }

  /** [[lineDedup]]'s keep-first variant — the C4-faithful rule: a
    * line occurring more than once corpus-wide KEEPS its global first
    * occurrence (minimum doc_id, then minimum position within it) and
    * is removed everywhere else, where [[lineDedup]] removes every
    * occurrence of a frequent line. Unique lines always survive.
    *
    * Scale shape, same as [[lineDedup]]: the occurrence count AND the
    * arg-min owner ride one groupBy over the 64-bit line hash (8-byte
    * shuffle keys), and only the DUPLICATED subset — boilerplate,
    * small by nature — broadcasts back to pick survivors, so the line
    * text crosses exactly one exchange: the per-document reassembly.
    * The owner is the scalar `doc_id << 32 | pos` — contract:
    * `0 <= doc_id < 2^31` and under 2^32 lines per document, so the
    * packed key stays positive and order-preserving — making the
    * arg-min a plain `min` both here and in the SQL oracle. The
    * doc_id is cast to LONG before the shift: Spark's `ShiftLeft`
    * masks the shift count by the operand width, so a 32-bit doc_id
    * column would make `<< 32` a silent no-op and collide keys
    * across documents.
    * Collisions can only over-drop at ~2^-64 per distinct-line pair;
    * the raw-string oracle is the collision audit.
    */
  def lineDedupKeepFirst(
      docs: DataFrame,
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("pos", "line")))
      .withColumn("h", xxhash64(col("line")))
      .withColumn("k",
        shiftleft(col("doc_id").cast("long"), 32) + col("pos").cast("long"))
    val dupOwners = lines.groupBy("h")
      .agg(count(lit(1)).as("occ"), min(col("k")).as("owner"))
      .filter(col("occ") > 1L)
      .select("h", "owner")
    lines
      .join(broadcast(dupOwners), Seq("h"), "left")
      .withColumn("kept", col("owner").isNull || col("k") === col("owner"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_lines"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("line"))))),
            x => x("line")),
          sep).as("dedup_text"))
  }

  /** WITHIN-document line dedup — the intra-page boilerplate rule
    * (repeated nav menus, footers, chrome inside ONE document): each
    * document keeps the first occurrence of every line it contains,
    * in original order. Unlike [[lineDedup]]/[[lineDedupKeepFirst]]
    * there is NO corpus-wide stage and therefore NO shuffle at all:
    * Spark's `array_distinct` preserves first-occurrence order, so
    * the whole operator is a per-row projection on the scan —
    * embarrassingly parallel at any scale. (The SQL oracle replays it
    * with a min-position window because DuckDB's `list_distinct`
    * REORDERS — the order-preservation here is load-bearing and
    * spec-pinned.)
    */
  def lineDedupWithinDoc(
      docs: DataFrame,
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep), -1)
    docs.select(col("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(array_distinct(lines)).cast("long").as("kept_lines"),
      array_join(array_distinct(lines), sep).as("dedup_text"))
  }

  /** Exact-substring cross-document deduplication at TOKEN-SPAN
    * granularity — the standard curation rule ("a ~50-token span
    * repeated verbatim across documents marks the later document as
    * duplicated", per the suffix-array dedup literature) without the
    * suffix array: a span repeat of length >= `spanTokens` implies an
    * equal `spanTokens`-token window at every alignment inside it, so
    * testing ALL overlapping `spanTokens`-grams finds exactly the
    * documents a suffix-array scan at that threshold would. Unlike
    * [[lineDedup]] this catches repeats that do not align on newlines
    * (mid-paragraph quotations, templated sentences, spliced
    * excerpts).
    *
    * Per document, its SPAN SET is the distinct `spanTokens`-token
    * grams of the normalized text (documents shorter than a span fall
    * back to one whole-text gram — the native
    * [[graft.functions.HashedShinglesExpr]] rule — so short exact
    * duplicates are still caught); within-document self-repetition is
    * deliberately NOT duplication (the set is per-doc distinct —
    * cross-document is what dedup removes). A span is SHARED when >= 2
    * documents contain it; its OWNER is the minimum doc_id containing
    * it (the keep-first rule every dedup operator here uses).
    *
    * Output, one row per input document:
    * (doc_id, n_spans, shared_spans, dup_spans, is_dup) —
    * `dup_spans` counts this document's spans owned by an EARLIER
    * document, `is_dup` = 1 when any such span exists (the document a
    * keep-first pass would drop). NULL text is treated as empty text
    * (the document is kept in the output).
    *
    * Scale shape — the [[lineDedup]] template, never all-pairs, never
    * a driver-side structure: spans travel as 8-byte xxhash64 longs
    * (already distinct per doc from the native expression, so the
    * ownership `groupBy` gets map-side combine on fixed-width keys);
    * only the SHARED span set (count > 1 — rare by nature, boilerplate
    * and true dups) comes back, broadcast, to flag member documents.
    * For a pathological corpus whose shared set outgrows a broadcast,
    * drop the hint and AQE plans a shuffled join. A 64-bit collision
    * can only MERGE two spans (over-flag at ~2^-64 odds per distinct
    * pair); the DuckDB oracle replays raw span strings, so the green
    * CORRECTNESS row doubles as the collision audit.
    */
  def substringDedup(
      docs: DataFrame,
      spanTokens: Int = 50,
      textCol: String = "text",
      normalized: Boolean = false): DataFrame = {
    // `normalized = true`: the caller's text column is ALREADY the
    // normText form (a shared normalized frame, e.g. the dedup-report
    // checkpoint) — skip the second normalization regexp pass.
    // normText is idempotent, so the flag changes no value, only cost.
    val nt =
      if (normalized) coalesce(col(textCol), lit(""))
      else normText(coalesce(col(textCol), lit("")))
    val spans = docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.hashedShingles(nt, spanTokens))
        .as("h"))
    val shared = spans.groupBy("h")
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("h"), col("first_doc"))
    spans
      .join(broadcast(shared), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("first_doc").isNotNull, 1L).otherwise(0L))
          .as("shared_spans"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("dup_spans"),
        max(when(col("first_doc") < col("doc_id"), 1).otherwise(0))
          .as("is_dup"))
  }

  /** Keep-first action form of [[substringDedup]]: the surviving
    * corpus — documents sharing NO `spanTokens`-token span with an
    * earlier document. One row per kept doc_id.
    */
  def substringDedupKeep(
      docs: DataFrame,
      spanTokens: Int = 50,
      textCol: String = "text"): DataFrame =
    substringDedup(docs, spanTokens, textCol)
      .where(col("is_dup") === 0)
      .select(col("doc_id"))

  /** 64-bit SimHash per document: hash every token, sum ±1 per bit
    * position over the token multiset, take the sign bit-vector.
    *
    * Runs on the native [[graft.functions.SimHashExpr]] fold — one
    * codegen'd static call per document, scan-shaped (no explode, no
    * aggregate, no shuffle). A null text yields no row, as an explode
    * of its null token array would. Parity-pinned against the explode +
    * 64-sum form on real corpus data in TextOpsSpec.
    */
  def simHashSignatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashExprs
        .simHash(split(normText(col("text")), " ")).as("simhash"))
      .where(col("simhash").isNotNull)

  /** SimHash near-dup candidates: bucket on each of four 16-bit bands of
    * the signature (pigeonhole: hamming distance ≤ 3 ⇒ at least one band
    * equal). Same bucket-join shape as MinHash.
    */
  def simHashCandidates(docs: DataFrame, maxBucket: Int = 64): DataFrame = {
    val sigs = simHashSignatures(docs).withColumnRenamed("simhash", "sig")
    val bands = sigs.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sig"), b * 16)
          .bitwiseAND(lit(0xFFFFL)))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val sized = bands
      .withColumn("bucket_n",
        count(lit(1)).over(
          Window.partitionBy(col("band_idx"), col("band_val"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val a = sized.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"))
    val b = sized.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }
}
