package graft.tools

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.Harness
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
  *               [--no-redact] [--classifier] [--near-index DIR]
  *               [--eval-rate R]
  *
  * The input needs (doc_id BIGINT, text STRING); extra columns pass
  * through to the sink untouched. `--classifier` adds the linear
  * quality-classifier gate ([[TextAnalysis.classifierScore]]) after
  * the rule gates. Unlike the registered `curation_e2e_v2` fixture
  * query there is NO synthetic line reconstruction here: inputs are
  * assumed to be real multi-line documents, and every stage is the
  * operator itself.
  *
  * Plan shape: gates, line cleaning and redaction are per-row
  * projections, dedup is one hash-partitioned window, the shard write
  * is one exchange + per-shard local sorts — two exchanges total at
  * any corpus size. The funnel is counted in that same pass (see
  * [[curate]]), so the product runs the pipeline once.
  */
object RunCuration {

  private val Usage =
    "usage: RunCuration <documents.parquet> <destDir> " +
      "[--shards N] [--no-redact] [--classifier] [--near-index DIR] " +
      "[--eval-rate R]"

  /** The pipeline as a function: returns (curated frame, funnel
    * thunk). The funnel's counts are taken by two `Observation`s on the
    * frame itself — the input and gate counts on the flagged rows
    * before the filter, the kept count on the returned frame — so they
    * come from the first action that runs `out`. In the product that
    * action is the shard write, and the thunk then only formats the
    * line and submits no Spark job. A thunk forced before any action
    * has run `out` first runs ONE `noop` pass of it. An action that
    * reads only part of `out` (`head`, `show`, a `limit`) would count
    * only that part, so force the funnel before such an action. The
    * frame stays lazy; every call makes fresh observations. When no
    * document passes the gates the plan is proven empty and the gate
    * counts are lost, so that path alone recounts them in one job.
    */
  def curate(
      docs: DataFrame,
      redact: Boolean = true,
      classifier: Boolean = false): (DataFrame, () => String) = {
    val gates = Observation()
    val kept = Observation()
    val flags = docs
      .withColumn("__gk", TextAnalysis.gopherKeep(col("text")))
      .withColumn("__pk", TextAnalysis.c4PageKeep(col("text")))
    val gateCounts = Seq(count(lit(1)).as("n_input"),
      count_if(col("__gk")).as("n_gopher"),
      count_if(col("__gk") && col("__pk")).as("n_gates"))
    val flagged = flags.observe(gates, gateCounts.head, gateCounts.tail: _*)
    val keep = if (classifier)
      col("__gk") && col("__pk") && TextAnalysis.classifierKeep(col("text"))
    else col("__gk") && col("__pk")
    val gated = flagged
      .withColumn("__nd", monotonically_increasing_id())
      .filter(keep && col("__nd") >= 0)
      .drop("__gk", "__pk", "__nd")
    val cleaned = gated.withColumn("text",
      TextAnalysis.c4LineClean(col("text")))
    val deduped = TextDedup.exactDedupKeepFirst(cleaned).drop("text_hash")
    // redaction is a per-row projection; the column order is doc_id,
    // the pass-through columns, then text
    val curated = if (redact) deduped.select((col("doc_id") +:
        deduped.columns.filterNot(Set("doc_id", "text")).map(col).toSeq) :+
        Redaction.redact(col("text")).as("text"): _*)
      else deduped
    val out = curated.observe(kept, count(lit(1)).as("n_out"))
    val funnel = () => {
      // an action's observations land on the listener bus thread
      def fired = gates.future.isCompleted && kept.future.isCompleted
      if (!fired) ListenerBridge.drain(docs.sparkSession)
      if (!fired) Harness.noop(out)
      // When no document passes the gates, AQE proves the dedup input
      // empty and drops both observed nodes from the plan, so the
      // observations complete with no metrics. The kept node tops
      // `out`, so its missing count is 0; the gate counts were taken
      // but lost, so only this path recounts them.
      val g = if (gates.get.contains("n_input")) gates.get
        else flags.agg(gateCounts.head, gateCounts.tail: _*).head()
          .getValuesMap[Long](Seq("n_input", "n_gopher", "n_gates"))
      s"""{"n_input":${g("n_input")},"n_gopher":${g("n_gopher")},""" +
        s""""n_gates":${g("n_gates")},""" +
        s""""n_out":${kept.get.getOrElse("n_out", 0L)}}"""
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

  /** One run over `args` (the usage line without the program name):
    * curate, gate, split and write, then return the funnel line. The
    * plain path reads the funnel after the shard write, which counted
    * it. `--near-index` and `--eval-rate` build more frames on `out`,
    * and `Components` runs jobs while `splitFrames` builds, so those
    * paths force the funnel first. `n_after_index`, `n_train` and
    * `n_eval` are observed on the frames each shard write runs, so no
    * job follows the last write; with both flags the split partitions
    * the index survivors, so `n_after_index` is `n_train + n_eval`.
    */
  def run(spark: SparkSession, args: Array[String]): String = {
    require(args.length >= 2, Usage)
    val src = args(0)
    val dest = args(1)
    val rest = args.drop(2)
    def opt(name: String): Option[String] =
      rest.sliding(2).collectFirst { case Array(`name`, v) => v }
    val shards = opt("--shards").map(_.toInt).getOrElse(16)
    val redact = !rest.contains("--no-redact")
    val classifier = rest.contains("--classifier")
    val nearIndex = opt("--near-index")
    val evalRate = opt("--eval-rate").map(_.toDouble)

    val docs = spark.read.parquet(src)
    val (curated, funnel) = curate(docs, redact, classifier)
    val early = if (nearIndex.isDefined || evalRate.isDefined)
      Some(funnel()) else None
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
    // writes `df`'s shards under `dir` and returns its row count. AQE
    // drops the observed node from a plan it proves empty, and the
    // observation then completes with no metrics: zero rows.
    def write(df: DataFrame, dir: String): Long = {
      val n = Observation()
      Sampling.writeTrainingShards(df.observe(n, count(lit(1)).as("n")),
        col("text"), dir, shards)
      n.get.getOrElse("n", 0L).asInstanceOf[Long]
    }
    val (nOut, splitCounts) = evalRate match {
      case Some(r) =>
        // leakage-safe split LAST: membership is keyed on the cluster
        // rep's bytes, so it commutes with every upstream gate — but
        // clustering the final survivors keeps the banding work to
        // exactly the docs being shipped
        val (train, evalD) = splitFrames(out, r)
        val nTrain = write(train, s"$dest/train")
        val nEval = write(evalD, s"$dest/eval")
        (nTrain + nEval, s""","n_train":$nTrain,"n_eval":$nEval""")
      case None => (write(out, dest), "")
    }
    val line = early.getOrElse(funnel())
    val extra = nearIndex
      .map(_ => s""","n_after_index":$nOut""").getOrElse("")
    line.dropRight(1) + extra + splitCounts + "}"
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(Usage); sys.exit(2) }
    val spark = Harness.session()
    try println(run(spark, args)) finally spark.stop()
  }
}
