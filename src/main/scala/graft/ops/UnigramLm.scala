package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.UnigramModel

/** Unigram-LM (SentencePiece-family) tokenizer TRAINING (VERDICT
  * r19 #6): the other production-dominant trainable tokenizer next
  * to BPE — a vocabulary of PIECES with unigram probabilities, text
  * segmented by Viterbi to the most probable piece sequence, the
  * vocabulary grown from substring seeds and EM-re-estimated then
  * pruned. With both families in-engine, tokenizer-choice fertility
  * comparisons (BPE vs unigram on the same corpus) run as one query
  * ([[graft.registry.TokenizerQueries]] `unigram_fertility`).
  *
  * This is the SentencePiece ALGORITHM SHAPE with two documented,
  * deterministic simplifications (the published trainer:
  * Kudo 2018, "Subword Regularization", §3):
  *  - hard-EM (Viterbi counts) instead of full forward-backward
  *    marginals — the E-step re-counts each piece once per use in
  *    each word's single best segmentation, weighted by word count;
  *  - pruning keeps the top-`vocabSize` multi-char pieces by
  *    re-estimated count instead of the likelihood-loss ranking.
  *  Both keep every quantity an exact integer, which is what makes
  *  the hand-tabled oracle and the naive-reference parity spec
  *  possible at all; no word-boundary marker is prepended (the
  *  engine's normText words are already the segmentation universe —
  *  divergence documented, same boundary as the word-level BPE
  *  trainer).
  *
  * Every random-looking choice is a pinned deterministic rule:
  *  - seed = all substrings of length 1..`maxPieceLen` of the
  *    bounded (word, count) vocabulary, weighted by word count ×
  *    occurrences (overlapping); all single chars survive seeding,
  *    multi-char pieces keep the top `seedSize` by
  *    (count DESC, piece ASC);
  *  - Viterbi maximizes the EXACT rational probability
  *    Π count(pᵢ) / T^k (T = Σ model counts) — compared by BigInt
  *    cross-multiplication, never floats; ties break to fewer
  *    pieces, then to the longer LAST piece (per DP cell);
  *  - chars absent from the model segment as single-char unknowns,
  *    strictly worse than any real segmentation (compared first by
  *    fewer unknowns);
  *  - E-step: count(p) = Σ word_cnt over uses; multi-char pieces
  *    dropping to 0 leave the model, single chars floor at count 1
  *    (the SentencePiece character-coverage guarantee);
  *  - prune keeps single chars + top `vocabSize` multi-char by
  *    (count DESC, piece ASC), then one final E-step makes the
  *    shipped counts consistent with the shipped piece set.
  *
  * Scale shape: identical to [[BpeMiner.trainMergesLocal]] — ONE
  * distributed corpus pass builds the Zipf-bounded (word, count)
  * vocabulary under the same `minCount` floor + loud-failing
  * `maxVocab` cap; seeding/EM/pruning run driver-side over the
  * vocabulary (milliseconds); ENCODE is a single codegen'd
  * expression holding the model reference object
  * ([[graft.functions.UnigramExprs]]) — zero joins, zero driver
  * state, per-row O(len · maxPieceLen) DP.
  */
object UnigramLm {

  /** Train a [[UnigramModel]] from the corpus's bounded word-count
    * vocabulary. Parameter meanings in the object doc; defaults are
    * the gate fixture's.
    */
  def trainLocal(
      docs: DataFrame,
      maxPieceLen: Int = 4,
      seedSize: Int = 16,
      vocabSize: Int = 8,
      emRounds: Int = 2,
      minCount: Long = 1L,
      maxVocab: Int = BpeMiner.TrainMaxVocab): UnigramModel = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedSize >= 1, s"seedSize must be >= 1, got $seedSize")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(emRounds >= 0, s"emRounds must be >= 0, got $emRounds")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(split(TextDedup.normText(col("text")), " "))
        .as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val rows = DriverCollect.collectBounded(vocab, maxVocab,
      s"UnigramLm.trainLocal: distinct-word vocabulary at minCount=$minCount",
      "raise minCount or maxVocab")
    require(rows.nonEmpty, "UnigramLm.trainLocal: empty vocabulary")
    val words = rows.map(r => (r.getString(0), r.getLong(1)))
    trainFromWordCounts(words, maxPieceLen, seedSize, vocabSize, emRounds)
  }

  /** The driver-side trainer proper, off an in-memory (word, count)
    * vocabulary — exposed so the parity spec can drive it with an
    * independently derived vocabulary.
    */
  def trainFromWordCounts(
      words: Array[(String, Long)],
      maxPieceLen: Int,
      seedSize: Int,
      vocabSize: Int,
      emRounds: Int): UnigramModel = {
    // 1. substring seed
    val seed = new java.util.HashMap[String, Long]()
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        val maxL = math.min(maxPieceLen, w.length - i)
        var l = 1
        while (l <= maxL) {
          val p = w.substring(i, i + l)
          seed.put(p, seed.get(p) + c)
          l += 1
        }
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    val all = seed.asScala
    val chars = all.filter(_._1.length == 1)
    def topMulti(m: collection.Map[String, Long], k: Int) =
      m.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(k)
    var model: Map[String, Long] =
      (chars ++ topMulti(all, seedSize)).toMap
    // 2. EM rounds (hard-EM), then prune, then one consistency E-step
    def estep(m: Map[String, Long]): Map[String, Long] = {
      val mm = new UnigramModel(m, maxPieceLen)
      val counts = new java.util.HashMap[String, Long]()
      words.foreach { case (w, c) =>
        mm.segment(w).foreach(p =>
          counts.put(p, counts.get(p) + c))
      }
      m.flatMap { case (p, _) =>
        val n = counts.get(p)
        if (p.length == 1) Some((p, math.max(1L, n)))
        else if (n > 0L) Some((p, n))
        else None
      }
    }
    var r = 0
    while (r < emRounds) { model = estep(model); r += 1 }
    val kept = topMulti(model, vocabSize).map(_._1).toSet
    model = model.filter { case (p, _) => p.length == 1 || kept(p) }
    model = estep(model)
    new UnigramModel(model, maxPieceLen)
  }

  /** Per-document unigram token counts over normalized words:
    * `(doc_id, n_tokens)` off one scan and one codegen'd expression —
    * the fertility-accounting input, [[BpeMiner.encodedLengthsFlat]]'s
    * shape on the unigram axis.
    */
  def encodedLengths(docs: DataFrame, model: UnigramModel): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.UnigramExprs
          .countTokens(TextDedup.normText(col("text")), model)
          .as("n_tokens"))
}
