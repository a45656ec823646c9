package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Components, Redaction, Sampling, TextAnalysis, TextDedup}

/** One-command corpus curation run — the 100 TB job this engine
  * exists for, end to end on real inputs: published quality gates
  * (Gopher composite → C4 page retention → C4 line cleaning) →
  * exact keep-first dedup → PII redaction → content-hash sharded
  * training layout, with the per-stage funnel printed as one JSON
  * line for the run log.
  *
  * Usage:
  *   RunCuration <documents.parquet> <destDir> [--shards N]
  *               [--no-redact] [--classifier]
  *
  * The input needs (doc_id BIGINT, text STRING); extra columns pass
  * through to the sink untouched. `--classifier` adds the linear
  * quality-classifier gate ([[TextAnalysis.classifierScore]]) after
  * the rule gates. Unlike the registered `curation_e2e_v2` fixture
  * query there is NO synthetic line reconstruction here: inputs are
  * assumed to be real multi-line documents, and every stage is the
  * operator itself.
  *
  * Plan shape: gates and line cleaning are per-row projections, dedup
  * is one hash-partitioned window, the shard write is one exchange +
  * per-shard local sorts — three exchanges total at any corpus size.
  */
object RunCuration {

  private val Usage =
    "usage: RunCuration <documents.parquet> <destDir> " +
      "[--shards N] [--no-redact] [--classifier] [--near-index DIR] " +
      "[--eval-rate R]"

  /** The pipeline as a function, for tests: returns (curated frame,
    * funnel thunk). The funnel is computed from the same gate columns
    * the pipeline filters on — one extra scan, zero extra logic — but
    * LAZILY: forcing it costs a driver collect of a 1-row aggregate
    * plus a full pipeline count, so callers that only want the curated
    * frame (or run at corpus scale with accounting disabled) never pay
    * for the two accounting scans.
    */
  def curate(
      docs: DataFrame,
      redact: Boolean = true,
      classifier: Boolean = false): (DataFrame, () => String) = {
    val gk = TextAnalysis.gopherKeep(col("text"))
    val pk = TextAnalysis.c4PageKeep(col("text"))
    val keepAll = if (classifier)
      gk && pk && TextAnalysis.classifierKeep(col("text"))
    else gk && pk
    val gated = docs
      .withColumn("__keep", keepAll)
      .withColumn("__nd", monotonically_increasing_id())
      .filter(col("__keep") && col("__nd") >= 0)
      .drop("__keep", "__nd")
    val cleaned = gated.withColumn("text",
      TextAnalysis.c4LineClean(col("text")))
    val deduped = TextDedup.exactDedupKeepFirst(cleaned).drop("text_hash")
    val out = if (redact) {
      val scrubbed = Redaction.piiScrub(deduped)
      deduped.drop("text").join(scrubbed
        .select(col("doc_id"), col("redacted").as("text")), "doc_id")
    } else deduped
    val funnel = () => {
      // the ONE driver-side collect in this tool is a 1-row aggregate
      // (four counters) for the run-log line — never corpus rows
      val f = docs.agg(
        count(lit(1)).as("n_input"),
        sum(when(gk, 1L).otherwise(0L)).as("n_gopher"),
        sum(when(gk && pk, 1L).otherwise(0L)).as("n_gates"))
        .collect().head
      val kept = out.count()
      s"""{"n_input":${f.getAs[Long]("n_input")},""" +
        s""""n_gopher":${f.getAs[Long]("n_gopher")},""" +
        s""""n_gates":${f.getAs[Long]("n_gates")},""" +
        s""""n_out":$kept}"""
    }
    (out, funnel)
  }

  /** Leakage-safe train/eval partition of the curated corpus: MinHash
    * banding proposes candidate pairs, exact Jaccard ≥ `threshold`
    * verifies them into near-dup edges, connected components label the
    * clusters, and [[Sampling.leakageSafeSplit]] assigns every member
    * its cluster REPRESENTATIVE's hash-split label — so no near-dup
    * pair ever straddles the eval boundary (the Lee et al. test-set-
    * leakage fix, as a pipeline stage). Returns (train, eval) frames
    * with the split column dropped.
    *
    * Scale shape: the candidate stage is the banded bucket join
    * (skew-guarded, never all-pairs), verification touches candidates
    * only, components run pointer-jumped rounds over the candidate
    * edges, and the split itself is two doc_id equi-joins.
    */
  def splitFrames(
      out: DataFrame,
      evalRate: Double,
      threshold: Double = 0.5): (DataFrame, DataFrame) = {
    val edges = TextDedup.jaccardVerify(
      TextDedup.minHashCandidates(out), out, threshold = threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comps = Components.connectedComponents(
      edges, out.select(col("doc_id").as("node")))
    val split = Sampling.leakageSafeSplit(out.select(col("doc_id"),
        col("text")), comps, col("text"), evalRate)
      .select(col("doc_id"), col("split"))
    val labeled = out.join(split, Seq("doc_id"))
    (labeled.filter(col("split") === "train").drop("split"),
      labeled.filter(col("split") === "eval").drop("split"))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(Usage); sys.exit(2) }
    val src = args(0)
    val dest = args(1)
    val rest = args.drop(2)
    val shards = rest.sliding(2).collectFirst {
      case Array("--shards", n) => n.toInt
    }.getOrElse(16)
    val redact = !rest.contains("--no-redact")
    val classifier = rest.contains("--classifier")

    val spark = graft.Harness.session()

    val nearIndex = rest.sliding(2).collectFirst {
      case Array("--near-index", d) => d
    }

    val docs = spark.read.parquet(src)
    val (curated, funnel) = curate(docs, redact, classifier)
    // cross-snapshot NEAR-dup gate against the persisted MinHash index
    // (RunDedupIndex) — placed AFTER the cheap per-row gates and the
    // in-batch exact dedup, so only already-surviving docs pay the
    // banding work; the prior corpus participates purely through its
    // index (never re-shingled). The index is NOT updated here: the
    // curation output dir is transient training layout, and folding it
    // in is RunDedupIndex apply --update's explicit job.
    val out = nearIndex match {
      case Some(idx) => RunDedupIndex.applyFrame(spark, curated, idx)
      case None => curated
    }
    val evalRate = rest.sliding(2).collectFirst {
      case Array("--eval-rate", r) => r.toDouble
    }
    val splitCounts = evalRate match {
      case Some(r) =>
        // leakage-safe split LAST: membership is keyed on the cluster
        // rep's bytes, so it commutes with every upstream gate — but
        // clustering the final survivors keeps the banding work to
        // exactly the docs being shipped
        val (train, evalD) = splitFrames(out, r)
        Sampling.writeTrainingShards(train, col("text"),
          s"$dest/train", shards)
        Sampling.writeTrainingShards(evalD, col("text"),
          s"$dest/eval", shards)
        s""","n_train":${train.count()},"n_eval":${evalD.count()}"""
      case None =>
        Sampling.writeTrainingShards(out, col("text"), dest, shards)
        ""
    }
    val line = funnel()
    val extra = nearIndex
      .map(_ => s""","n_after_index":${out.count()}""").getOrElse("")
    println(line.dropRight(1) + extra + splitCounts + "}")
    spark.stop()
  }
}
