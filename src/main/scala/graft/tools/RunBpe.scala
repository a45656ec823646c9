package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.BpeMiner

/** Persisted BPE tokenizer lifecycle — the train-once / encode-many
  * counterpart of [[RunAnnIndex]]/[[RunDedupIndex]]: ONE train job
  * mines the merge table over the corpus vocabulary and writes it as
  * a parquet model; every later encode folds the loaded merges into a
  * literal replace chain, so the corpus plan is a pure scan with no
  * joins and no re-mining. This is what the in-query `bpe_*` family
  * deliberately is not: those re-mine per query because the driver's
  * correctness gate runs each query cold against fresh parquet.
  *
  * Usage:
  *   RunBpe train  <docs.parquet> <modelDir> [rounds]
  *   RunBpe train-bytelevel <docs.parquet> <modelDir> [rounds] [minCount]
  *   RunBpe train-unigram   <docs.parquet> <modelDir> [vocabSize]
  *   RunBpe encode <docs.parquet> <modelDir> <outDir>
  *   RunBpe encode <docs.parquet> --merges <merges.txt> <outDir>
  *   RunBpe stats  <docs.parquet> <modelDir>
  *   RunBpe stats  <docs.parquet> --merges <merges.txt>
  *   RunBpe stats  <docs.parquet> --merges-bytelevel <merges.txt>
  *   RunBpe stats  <docs.parquet> --model-bytelevel <modelDir>
  *   RunBpe stats  <docs.parquet> --unigram <modelDir>
  *   RunBpe depthbench <docs.parquet> <rounds,rounds,...>
  *
  * Layout under `modelDir`:
  *   merges/  (merge_rank, l, r, pair_cnt) — raw placeholder-bearing
  *            symbols ([[BpeMiner.rawMerges]]); rank order replays
  *            the trainer exactly
  *
  * `--merges <file>` loads an EXTERNAL tokenizer model in GPT-2
  * `merges.txt` format instead of a self-trained parquet model
  * (VERDICT r17 #2) — the concatenation-product dialect only the flat
  * priority-merge encoder can apply ([[BpeMiner
  * .encodeWithImportedMerges]]).
  *
  * `stats` prints one JSON line (n_docs, total_tokens, n_merges) —
  * the fertility numerator a tokenizer owner tracks across model
  * versions. `depthbench` prints one JSON line per requested depth
  * (train + encode wall seconds, warm) — the SCALE.md evidence that
  * encode cost is FLAT in merge count.
  */
object RunBpe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Harness.session()
    def importedMerges(path: String): Seq[(String, String)] = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try BpeMiner.parseMergesTxt(src.getLines()) finally src.close()
    }
    def statsLine(enc: org.apache.spark.sql.DataFrame, nMerges: Long)
        : Unit = {
      val row = enc.agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens")).head()
      // scalastyle:off println
      println(s"""{"n_docs": ${row.getLong(0)}, """ +
        s""""total_tokens": ${row.getLong(1)}, """ +
        s""""n_merges": $nMerges}""")
      // scalastyle:on println
    }
    args.toList match {
      case "train" :: docs :: modelDir :: rest =>
        val rounds = rest.headOption.map(_.toInt).getOrElse(16)
        BpeMiner.rawMerges(spark.read.parquet(docs), rounds)
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$modelDir/merges")
      case "encode" :: docs :: "--merges" :: mergesTxt :: outDir :: Nil =>
        BpeMiner.encodeWithImportedMerges(
            spark.read.parquet(docs), importedMerges(mergesTxt))
          .write.mode("overwrite").parquet(outDir)
      case "encode" :: docs :: modelDir :: outDir :: Nil =>
        BpeMiner.encodeWithMerges(
            spark.read.parquet(docs),
            spark.read.parquet(s"$modelDir/merges"))
          .write.mode("overwrite").parquet(outDir)
      case "stats" :: docs :: "--merges" :: mergesTxt :: Nil =>
        val m = importedMerges(mergesTxt)
        statsLine(BpeMiner.encodeWithImportedMerges(
          spark.read.parquet(docs), m), m.size.toLong)
      // byte-level pre-tokenization (GPT-2 regex split + byte→unicode
      // map + per-pretoken priority merge): counts tokens the way the
      // merges.txt PUBLISHER does — Ġ-prefixed and bare occurrences
      // of a word are different symbols
      case "stats" :: docs :: "--merges-bytelevel" :: mergesTxt :: Nil =>
        val m = importedMerges(mergesTxt)
        val table = graft.functions.BpeMergeTable.fromSymbolMerges(m)
        val enc = spark.read.parquet(docs)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.Gpt2ByteLevel.count(col("text"), table)
              .as("n_tokens"))
        statsLine(enc, m.size.toLong)
      case "stats" :: docs :: modelDir :: Nil =>
        val merges = spark.read.parquet(s"$modelDir/merges")
        statsLine(BpeMiner.encodeWithMerges(
          spark.read.parquet(docs), merges), merges.count())
      // BYTE-LEVEL training (r20): learn a GPT-2-dialect merge table
      // from corpus bytes and persist it in merges.txt symbol
      // semantics — the model a byte-level tokenizer team ships
      case "train-bytelevel" :: docs :: modelDir :: rest =>
        val rounds = rest.headOption.map(_.toInt).getOrElse(16)
        val minCount = rest.drop(1).headOption.map(_.toLong).getOrElse(1L)
        val trained = BpeMiner.trainByteLevelMergesLocal(
          spark.read.parquet(docs), rounds, minCount)
        import spark.implicits._
        trained.zipWithIndex
          .map { case ((l, r, c), i) => (i + 1L, l, r, c) }.toSeq
          .toDF("merge_rank", "l", "r", "pair_cnt")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$modelDir/merges_bytelevel")
      case "stats" :: docs :: "--model-bytelevel" :: modelDir :: Nil =>
        val m = spark.read.parquet(s"$modelDir/merges_bytelevel")
          .orderBy(col("merge_rank"))
          .select(col("l").cast("string"), col("r").cast("string"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        val table = graft.functions.BpeMergeTable.fromSymbolMerges(m)
        val enc = spark.read.parquet(docs)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.Gpt2ByteLevel.count(col("text"), table)
              .as("n_tokens"))
        statsLine(enc, m.size.toLong)
      // UNIGRAM-LM training (r20): the SentencePiece-family model as
      // a persisted (piece, cnt) frame; stats Viterbi-encodes with it
      case "train-unigram" :: docs :: modelDir :: rest =>
        val vocabSize = rest.headOption.map(_.toInt).getOrElse(8)
        val model = graft.ops.UnigramLm.trainLocal(
          spark.read.parquet(docs), vocabSize = vocabSize)
        import spark.implicits._
        model.pieces.toSeq.sorted.toDF("piece", "cnt")
          .withColumn("max_piece_len", lit(model.maxPieceLen))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$modelDir/unigram")
      case "stats" :: docs :: "--unigram" :: modelDir :: Nil =>
        val rows = spark.read.parquet(s"$modelDir/unigram").collect()
        require(rows.nonEmpty, s"empty unigram model at $modelDir")
        val model = new graft.functions.UnigramModel(
          rows.map(r => (r.getAs[String]("piece"), r.getAs[Long]("cnt")))
            .toMap,
          rows.head.getAs[Int]("max_piece_len"))
        val enc = spark.read.parquet(docs)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.functions.UnigramExprs.countTokens(
              graft.ops.TextDedup.normText(col("text")), model)
              .as("n_tokens"))
        statsLine(enc, model.pieces.size.toLong)
      case "depthbench" :: docs :: depths :: Nil =>
        // plant the same per-doc pseudo-word as the deep bpe_*
        // queries so every depth has pairs to mine, then time the
        // train and the encode separately (warm second run reported)
        val planted = spark.read.parquet(docs).withColumn("text",
          concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
          .cache()
        graft.Harness.noop(planted)
        depths.split(",").map(_.trim.toInt).foreach { rounds =>
          def one(): (Double, Double) = {
            val t0 = System.nanoTime()
            val merges = BpeMiner.trainMergesLocal(planted, rounds)
            val t1 = System.nanoTime()
            graft.Harness.noop(BpeMiner.encodeWithTable(planted,
              graft.functions.BpeMergeTable.fromRawMerges(
                merges.map(t => (t._1, t._2)).toSeq)))
            val t2 = System.nanoTime()
            ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
          }
          one() // warm
          val (trainS, encS) = one()
          // scalastyle:off println
          println(f"""{"rounds": $rounds, "train_s": $trainS%.3f, """ +
            f""""encode_s": $encS%.3f}""")
          // scalastyle:on println
        }
      case other =>
        System.err.println(
          "usage: RunBpe train <docs> <modelDir> [rounds] | " +
            "train-bytelevel <docs> <modelDir> [rounds] [minCount] | " +
            "train-unigram <docs> <modelDir> [vocabSize] | " +
            "encode <docs> (<modelDir>|--merges <merges.txt>) <outDir> | " +
            "stats <docs> (<modelDir>|--merges <merges.txt>" +
            "|--merges-bytelevel <merges.txt>|--model-bytelevel " +
            "<modelDir>|--unigram <modelDir>) | " +
            s"depthbench <docs> <rounds,...> (got: ${other.mkString(" ")})")
        sys.exit(2)
    }
  }
}
