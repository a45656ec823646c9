package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window preparation for training pipelines: split long
  * documents into overlapping token chunks, and pack short documents
  * into fixed-token-budget groups.
  *
  * Both are pure per-row / single-window shapes:
  *  - [[chunk]] is a per-row expression + `posexplode` — no shuffle at
  *    all; the 100 TB plan is scan → generate.
  *  - [[packSequences]] is one window (partition by source, order by
  *    doc_id) computing an exclusive running token sum; the pack id is
  *    arithmetic on that sum. One shuffle, one sort — and because the
  *    assignment is deterministic arithmetic (not a greedy stateful
  *    scan), it reproduces identically at any parallelism.
  */
object Chunking {

  /** Overlapping token-window chunks: windows of `size` tokens starting
    * every `stride` tokens (overlap = size - stride), truncated at the
    * document end. One output row per (doc, chunk): chunk_idx,
    * n_tokens, and the chunk's content hash.
    */
  def chunk(docs: DataFrame, chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "stride must be in (0, chunkSize]")
    val toks = split(TextDedup.normText(col("text")), " ")
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(
          sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
            lit(stride))))
      .select(col("doc_id"),
        col("pos").as("chunk_idx"),
        least(size(col("toks")) - col("col"), lit(chunkSize)).cast("long")
          .as("n_tokens"),
        md5(concat_ws(" ", slice(col("toks"), col("col") + 1, lit(chunkSize))))
          .as("chunk_hash"))
  }

  /** Deterministic sequence packing: assign documents (in doc_id order,
    * per source) to packs of roughly `targetTokens` whitespace tokens —
    * pack_id = exclusive-running-token-sum div target. A document
    * larger than the budget gets its own pack(s) worth of span; chunk
    * first (see [[chunk]]) if hard caps matter.
    *
    * The running sum goes through the two-level
    * [[graft.ops.Sampling.prefixSums]] decomposition scoped per
    * source — a bare `Window.partitionBy(source)` funnels corpus/20
    * rows through one task when sources are few and huge, which is
    * exactly the 100 TB shape.
    */
  def packSequences(docs: DataFrame, targetTokens: Int = 2048): DataFrame =
    packByLength(
      docs.withColumn("n_tokens",
        size(split(TextDedup.normText(col("text")), " ")).cast("long")),
      targetTokens)

  /** [[packSequences]] over an ALREADY-COMPUTED length column — the
    * entry point for packing on real tokenizer output
    * ([[BpeMiner.encodedLengthsFlat]]) instead of whitespace counts.
    * Expects `(doc_id, source, n_tokens)`; same prefix-sum
    * decomposition, same deterministic arithmetic assignment.
    */
  def packByLength(docs: DataFrame, targetTokens: Int = 2048): DataFrame = {
    require(targetTokens > 0)
    graft.ops.Sampling.prefixSums(
      docs.select(col("doc_id"), col("source"), col("n_tokens")),
      col("doc_id"), col("n_tokens"), part = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("prefix") / targetTokens).cast("long").as("pack_id"))
  }
}
