package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.BpeCodepointsExpr

/** The distributed BPE miner: the reference the driver-side trainer
  * ([[BpeMiner.trainMergesLocal]] / [[BpeMiner.mineCensusLocal]]), the
  * `*Flat` census operators and the [[graft.functions.BpeMergeTable]]
  * encoders are parity-pinned against in BpeMinerSpec.
  *
  * Each round is two Spark jobs over the (word, count) vocabulary: the
  * (pair_cnt DESC, l, r) top pair, then a leftmost-non-overlapping
  * `replace` of that pair with the round's U+E000 placeholder. Every
  * [[ChainCap]] rounds the working vocabulary is checkpointed, so round
  * r's pair count re-evaluates at most [[ChainCap]] replace stages.
  * Encoding replays the merges as a chain of whole-text replaces over a
  * cross join of the 1-row top frames.
  *
  * Precondition: `rounds` must not exceed the corpus's adjacent-pair
  * diversity. A round with no pairs left yields an empty top-1 frame,
  * which empties every downstream cross join.
  */
object BpeReference {

  /** Cap on the distributed rounds, well inside the U+E000 block so
    * placeholder arithmetic stays single-char BMP.
    */
  private val MaxRounds = 1024

  /** Bound on how many lazy replace stages may stack before the
    * working vocabulary is re-checkpointed.
    */
  private val ChainCap = 4

  /** The mining loop: `(vocab, tops oldest-first, per-round applied
    * vocabularies oldest-first)`.
    *
    * `keepRounds`: when true, superseded chain checkpoints are NOT
    * freed — the intermediate per-round vocabularies read through
    * them, so a caller that consumes more than the last entry (the
    * merge-curve census) needs every checkpoint alive until its one
    * action runs. When false, the returned vocabulary list carries only
    * the final frame: earlier entries would read through checkpoints
    * this mode has already freed.
    */
  private def mineRounds(
      docs: DataFrame, rounds: Int, keepRounds: Boolean = false)
      : (DataFrame, List[DataFrame], List[DataFrame]) = {
    require(rounds >= 1 && rounds <= MaxRounds,
      s"rounds must be in [1, $MaxRounds], got $rounds")
    // the one corpus pass: normalized whitespace tokens → vocabulary
    val vocab = docs.filter(col("text").isNotNull)
      .select(explode(split(TextDedup.normText(col("text")), " "))
        .as("w"))
      .filter(length(col("w")) > 1)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()

    val pairStructs = expr(
      "transform(sequence(1, length(w) - 1), " +
        "i -> struct(substring(w, i, 1) AS l, " +
        "substring(w, i + 1, 1) AS r))")

    var cur = vocab
    var chainCkpt: DataFrame = null
    var tops = List.empty[DataFrame] // newest first, raw (unexpanded)
    var curs = List.empty[DataFrame] // newest first, post-round vocab
    for (r <- 0 until rounds) {
      // length-1 words (fully merged symbols) must not reach the
      // sequence(): Spark's sequence(1, 0) generates DESCENDING [1,0]
      // rather than empty, minting phantom ("", sym) pairs
      val top = cur
        .filter(length(col("w")) > 1)
        .select(col("cnt"), explode(pairStructs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("l"), col("r"))
        .limit(1)
        .localCheckpoint()
      tops ::= top
      cur = cur
        .crossJoin(broadcast(
          top.select(col("l").as("__l"), col("r").as("__r"))))
        .withColumn("w",
          replace(col("w"), concat(col("__l"), col("__r")),
            lit(BpeMiner.placeholder(r))))
        .drop("__l", "__r")
      if ((r + 1) % ChainCap == 0 && r < rounds - 1) {
        // eager, so the superseded chain checkpoint can be freed at
        // once — unless the caller keeps the per-round vocabularies,
        // which read through it (a freed localCheckpoint cannot
        // recompute)
        val ck = cur.localCheckpoint()
        if (chainCkpt != null && !keepRounds) CheckpointUtil.free(chainCkpt)
        chainCkpt = ck
        cur = ck
      }
      if (keepRounds) curs ::= cur
    }
    (vocab, tops.reverse, if (keepRounds) curs.reverse else List(cur))
  }

  /** Cross-joins the 1-row top-merge frames onto `base` as
    * `__ml<r>` / `__mr<r>` columns — the broadcast side of every
    * merge replay.
    */
  private def withMergeCols(base: DataFrame, tops: Seq[DataFrame]): DataFrame =
    tops.zipWithIndex.foldLeft(base) {
      case (acc, (t, r)) =>
        acc.crossJoin(broadcast(t.select(
          col("l").as(s"__ml$r"), col("r").as(s"__mr$r"))))
    }

  /** Replays the learned merges over a text column in rank order.
    * Applied to the whole normalized text, not per word: a merge pair
    * never contains a space, so no match can straddle a word boundary.
    */
  private def applyMerges(c: Column, rounds: Int): Column =
    (0 until rounds).foldLeft(c)((acc, r) =>
      replace(acc, concat(col(s"__ml$r"), col(s"__mr$r")),
        lit(BpeMiner.placeholder(r))))

  /** One row per merge round: `(merge_rank, left_sym, right_sym,
    * pair_cnt)` with placeholder symbols expanded to their full text.
    */
  def topMerges(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, ordered, _) = mineRounds(docs, rounds)
    // expand placeholders newest-first: placeholder i's expansion may
    // itself contain earlier placeholders, which the later replaces fix
    val out = ordered.zipWithIndex.map { case (top, idx) =>
      val withPrior = ordered.take(idx).zipWithIndex
        .foldLeft(top.select(col("l"), col("r"), col("pair_cnt"))) {
          case (acc, (prior, j)) =>
            acc.crossJoin(broadcast(prior.select(
              col("l").as(s"__pl$j"), col("r").as(s"__pr$j"))))
        }
      val expand = (c: Column) =>
        (idx - 1 to 0 by -1).foldLeft(c) { (acc, j) =>
          replace(acc, lit(BpeMiner.placeholder(j)),
            concat(col(s"__pl$j"), col(s"__pr$j")))
        }
      withPrior.select(
        lit(idx + 1L).as("merge_rank"),
        expand(col("l")).as("left_sym"),
        expand(col("r")).as("right_sym"),
        col("pair_cnt"))
    }
    out.reduce(_.unionByName(_)).orderBy("merge_rank")
  }

  /** [[BpeMiner.rawMerges]]'s rows `(merge_rank, l, r, pair_cnt)` from
    * the distributed loop.
    */
  def rawMergesViaMine(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, tops, _) = mineRounds(docs, rounds)
    tops.zipWithIndex.map { case (t, i) =>
      t.select(lit(i + 1L).as("merge_rank"), col("l"), col("r"),
        col("pair_cnt"))
    }.reduce(_.unionByName(_))
  }

  private def codepointsDump(mergedText: Column): Column =
    ColumnBridge.column(BpeCodepointsExpr(ColumnBridge.expression(mergedText)))

  /** Tokenizer encode by replace chain: `(doc_id, source, n_tokens,
    * ids_hash, head_ids)`. Token ids are code points; the round-r
    * merged symbol rides its placeholder `0xE000 + r`. `ids_hash` is
    * the md5 of the comma-joined ids, `head_ids` the first 8.
    */
  def encode(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, tops, _) = mineRounds(docs, rounds)
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        TextDedup.normText(col("text")).as("nt"))
    val dumped = withMergeCols(base, tops)
      .select(col("doc_id"), col("source"),
        codepointsDump(applyMerges(col("nt"), rounds)).as("d"))
    dumped.select(col("doc_id"), col("source"),
      col("d.n_tokens").as("n_tokens"),
      md5(col("d.ids_csv")).as("ids_hash"),
      col("d.head_ids").as("head_ids"))
  }

  /** [[encode]] with built-ins only: per-word higher-order lambdas
    * materializing each id through `ascii(substr(w, i, 1))`, then
    * re-joining for the hash.
    */
  def encodeHof(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, tops, _) = mineRounds(docs, rounds)
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        // drop empty words up front: sequence(1, 0) descends instead
        // of emitting empty (the mining lesson at the pairStructs)
        filter(split(TextDedup.normText(col("text")), " "),
          w => length(w) > 0).as("wd"))
    val ids = withMergeCols(base, tops)
      .select(col("doc_id"), col("source"),
        transform(col("wd"), w => applyMerges(w, rounds)).as("mw"))
      .select(col("doc_id"), col("source"),
        flatten(transform(col("mw"), w =>
          transform(sequence(lit(1), length(w)),
            i => ascii(w.substr(i, lit(1)))))).as("token_ids"))
    def joined(c: Column): Column =
      array_join(transform(c, i => i.cast("string")), ",")
    ids.select(col("doc_id"), col("source"),
      size(col("token_ids")).cast("long").as("n_tokens"),
      md5(joined(col("token_ids"))).as("ids_hash"),
      joined(slice(col("token_ids"), 1, 8)).as("head_ids"))
  }

  /** [[encode]]'s per-document token counts: `(doc_id, source,
    * n_tokens)` — the replace chain, then one space-strip + length.
    */
  def encodedLengths(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (_, tops, _) = mineRounds(docs, rounds)
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        TextDedup.normText(col("text")).as("nt"))
    withMergeCols(base, tops)
      .select(col("doc_id"), col("source"),
        length(replace(applyMerges(col("nt"), rounds), lit(" "), lit("")))
          .cast("long").as("n_tokens"))
  }

  /** `(symbols_before, symbols_after, compression_x)`: weighted symbol
    * counts over the multi-char vocabulary before and after all
    * `rounds` merges, and their ratio as one IEEE division.
    */
  def compressionSummary(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (vocab, _, curs) = mineRounds(docs, rounds)
    val before = vocab.agg(
      sum(col("cnt") * length(col("w"))).as("symbols_before"))
    val after = curs.last.agg(
      sum(col("cnt") * length(col("w"))).as("symbols_after"))
    before.crossJoin(broadcast(after))
      .select(col("symbols_before"), col("symbols_after"),
        (col("symbols_before").cast("double") /
          col("symbols_after").cast("double")).as("compression_x"))
  }

  /** One row per round: `(merge_rank, pair_cnt, symbols_before,
    * symbols_after)`. `symbols_after` is a per-round recount, not
    * `symbols_before − Σ pair_cnt`: pair counts include overlapping
    * adjacencies while the apply is leftmost-non-overlapping.
    */
  def mergeCurve(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val (vocab, tops, curs) = mineRounds(docs, rounds, keepRounds = true)
    val before = vocab.agg(
      sum(col("cnt") * length(col("w"))).as("symbols_before"))
    tops.zip(curs).zipWithIndex.map { case ((t, c), i) =>
      t.select(lit(i + 1L).as("merge_rank"), col("pair_cnt"))
        .crossJoin(broadcast(c.agg(
          sum(col("cnt") * length(col("w"))).as("symbols_after"))))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(before))
      .select(col("merge_rank"), col("pair_cnt"),
        col("symbols_before"), col("symbols_after"))
      .orderBy("merge_rank")
  }
}
