package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{KMeans, Quantization}

/** Persisted IVFPQ index lifecycle — the ANN counterpart of
  * [[RunDedupIndex]]: ONE build job scans the corpus embeddings
  * (k-means coarse cells + Lloyd-trained PQ codebooks + per-vector
  * codes) and writes a parquet index ~72 bytes/vector; every later
  * query runs entirely off the index — no re-training, no corpus
  * scan, and with the vectors table PARTITIONED BY cell, a probe of
  * `nProbe` cells reads only those cells' files.
  *
  * Usage:
  *   RunAnnIndex build <embeddings.parquet> <indexDir> [--cells K]
  *   RunAnnIndex update <indexDir> <new.parquet>
  *   RunAnnIndex compact <indexDir> [numFiles]
  *   RunAnnIndex merge <indexDirA> <indexDirB> <destDir> [numFiles]
  *   RunAnnIndex query <indexDir> <queries.parquet> <outDir>
  *                [--k N] [--nprobe P] [--rerank R]
  *
  * `update` appends a new vector batch encoded against the EXISTING
  * centroids + codebook (no retraining, no prior-corpus scan);
  * `compact` folds the accumulated append files per cell behind a
  * crash-safe rename swap. A weekly crawl alternates update/compact
  * and only re-`build`s when the embedding distribution has drifted
  * enough to warrant new cells/codebooks.
  *
  * Layout under `indexDir`:
  *   centroids/  (cell INT, c_vec ARRAY<FLOAT>)   — K rows
  *   codebook/   (s, j, cvec, nb)                 — m×kCode rows
  *   vectors/    (vec_id, pq_code, q8) partitioned by cell
  *
  * The coarse centroids come from the in-engine integer k-means
  * ([[KMeans.fitAssign]]'s machinery): int8 centroid codes from the
  * final Lloyd round, converted to float by undoing the 2^logScale
  * quantizer scale — the cosine probe is scale-invariant, so the
  * conversion only needs the right direction per dimension.
  */
object RunAnnIndex {

  private val Usage =
    "usage: RunAnnIndex build <embeddings.parquet> <indexDir> [--cells K]\n" +
      "       RunAnnIndex update <indexDir> <new.parquet>\n" +
      "       RunAnnIndex compact <indexDir> [numFiles]\n" +
      "       RunAnnIndex merge <indexDirA> <indexDirB> <destDir> " +
      "[numFiles]\n" +
      "       RunAnnIndex query <indexDir> <queries.parquet> <outDir> " +
      "[--k N] [--nprobe P] [--rerank R]"

  /** Float coarse centroids via the integer k-means: labels from
    * [[KMeans.fitAssign]], then one exact per-cell integer mean over
    * the int8 codes, scaled back to float.
    */
  def trainCentroids(
      corpus: DataFrame,
      kCells: Int = 8,
      iters: Int = 2,
      dims: Int = 64,
      logScale: Int = 6): DataFrame = {
    val labeled = KMeans.fitAssign(corpus, kCells, iters, dims, logScale)
    val q = labeled.select(col("label").cast("int").as("cell"),
      Quantization.int8Codes(col("embedding"), logScale).as("qvec"))
    val sums = q
      .select(col("cell"), posexplode(col("qvec")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    sums
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n") /
          math.pow(2.0, logScale)).as("c")))).as("a"))
      .select(col("cell"),
        transform(col("a"), x => x.getField("c").cast("float"))
          .as("c_vec"))
  }

  /** Re-read a just-written model table with an explicit metadata
    * refresh and a fail-fast row-count gate.
    *
    * Why (r17 flake, VERDICT #6): once in ~3300 full-suite stages, a
    * freshly written codebook read back EMPTY and the failure
    * surfaced as a distant "PQ codebook must be dense 8x16; got 0"
    * inside a later search. The suspected cause is STALE
    * SESSION-SHARED LISTING STATE: path-based parquet reads consult
    * the session's shared FileStatusCache, and in a long-lived
    * session (85 suites, thousands of stages) a stale or
    * mid-invalidation entry for a just-(re)written path yields an
    * empty file list exactly once. `refreshByPath` force-invalidates
    * that cache for the path, and the count gate turns any recurrence
    * into an immediate, pinpointed error AT THE WRITE SITE instead of
    * a flaky assertion three operators downstream. (The regression
    * spec hammers this exact write→read-back path in a loop.)
    */
  private def readBack(
      spark: SparkSession, path: String,
      minRows: Long, maxRows: Long): DataFrame = {
    spark.catalog.refreshByPath(path)
    val df = spark.read.parquet(path)
    val n = df.count()
    require(n >= minRows && n <= maxRows,
      s"model table $path read back $n rows, expected " +
        s"[$minRows, $maxRows] — stale listing state on a " +
        "just-written path (the r17 flake); refresh did not heal it, " +
        "so fail loudly here")
    df
  }

  /** Build and persist the index for `corpus` under `indexDir`. */
  def buildIndex(
      corpus: DataFrame,
      indexDir: String,
      kCells: Int = 8,
      trainIters: Int = 1): Unit = {
    val centroids = trainCentroids(corpus, kCells)
    centroids.write.mode("overwrite").parquet(s"$indexDir/centroids")
    val spark = corpus.sparkSession
    // k-means keeps only non-empty cells: [1, kCells] rows is healthy
    val cents = readBack(spark, s"$indexDir/centroids", 1L, kCells.toLong)
    // codebook trained on the IVF RESIDUALS (v8 − c8(cell)) — the same
    // code space ivfPqIndexRows encodes and ivfPqSearchIndex decodes
    val cb = Quantization.pqTrainCodebookCodes(
      Quantization.residualCodes(corpus, cents)
        .select(col("vec_id"), col("qv")),
      kCode = 16, m = 8, subDim = 8, iters = trainIters)
    cb.write.mode("overwrite").parquet(s"$indexDir/codebook")
    // the PQ trainer keeps empty cells, so the codebook is EXACTLY dense
    val cbBack = readBack(spark, s"$indexDir/codebook", 16L * 8, 16L * 8)
    Quantization.ivfPqIndexRows(corpus, cents, cbBack)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/vectors")
    spark.catalog.refreshByPath(s"$indexDir/vectors")
  }

  /** Fold a NEW batch of vectors into the index without re-training:
    * assign them to the EXISTING centroids and PQ-encode against the
    * EXISTING codebook ([[Quantization.ivfPqIndexRows]] takes both as
    * inputs), then append the rows to the cell-partitioned vectors
    * table — the weekly-crawl shape: the new slice is scanned once,
    * the prior corpus is never touched, and a post-append search is
    * bit-identical to a fresh encode of the union under the same
    * model (spec-pinned). The MODEL deliberately stays frozen — cells
    * and codebook drift is a retraining decision (full `build`), not
    * an append side effect; appended files accumulate until
    * [[compactIndex]] folds them.
    */
  def updateIndex(
      spark: SparkSession,
      indexDir: String,
      newVecsPath: String): Unit = {
    IndexUtil.healTorn(spark, s"$indexDir/vectors")
    Quantization.ivfPqIndexRows(
        spark.read.parquet(newVecsPath),
        spark.read.parquet(s"$indexDir/centroids"),
        spark.read.parquet(s"$indexDir/codebook"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$indexDir/vectors")
  }

  /** Compact the vectors table in place: weekly appends leave a few
    * files per cell per batch; the rewrite packs each cell into at
    * most `numFiles` vec_id-sorted files behind the same crash-safe
    * Hadoop-rename swap as the dedup index ([[IndexUtil.replaceDir]];
    * see there for the S3 caveat). Centroids and codebook are tiny
    * single-write tables and never need compaction.
    */
  def compactIndex(
      spark: SparkSession,
      indexDir: String,
      numFiles: Int = 4): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    IndexUtil.replaceDir(spark, s"$indexDir/vectors") { tmp =>
      spark.read.parquet(s"$indexDir/vectors")
        .repartition(numFiles, col("cell"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    }
  }

  /** Merge TWO index snapshots encoded under the SAME frozen model
    * into one tree — the cross-snapshot compaction that completes the
    * index lifecycle (a central team trains the model once; regional
    * or per-crawl encoders each build their own vectors table against
    * it; the serving side wants ONE cell-partitioned tree).
    *
    * PQ codes are meaningless across models, so the merge is gated on
    * a frozen-codebook compatibility check: the centroids and
    * codebook tables of both snapshots must be row-identical
    * (symmetric exceptAll — both are copies of one trained artifact,
    * so bit-equality is the correct bar, not tolerance). A model
    * mismatch REFUSES with the table deltas; re-encoding someone
    * else's codes is a rebuild decision, not a merge side effect.
    *
    * Row semantics: exact duplicate rows (the same vector shipped in
    * both snapshots — same model ⇒ identical encode) collapse to one;
    * a vec_id carrying DIFFERENT codes in the two trees is corrupt
    * input and refuses. Scale shape: everything runs on the ~72 B/row
    * index tables, never the corpus embeddings — one union-distinct
    * shuffle plus one conflict aggregate, then the same
    * cell-partitioned, vec_id-sorted layout compact writes.
    */
  def mergeIndexes(
      spark: SparkSession,
      indexDirA: String,
      indexDirB: String,
      destDir: String,
      numFiles: Int = 4): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    IndexUtil.healTorn(spark, s"$indexDirA/vectors")
    IndexUtil.healTorn(spark, s"$indexDirB/vectors")
    def modelDelta(table: String): Long = {
      val a = spark.read.parquet(s"$indexDirA/$table")
      val b = spark.read.parquet(s"$indexDirB/$table")
      a.exceptAll(b).count() + b.exceptAll(a).count()
    }
    val centsDelta = modelDelta("centroids")
    val cbDelta = modelDelta("codebook")
    require(centsDelta == 0 && cbDelta == 0,
      s"refusing to merge: frozen-model mismatch between $indexDirA " +
        s"and $indexDirB (centroid row delta $centsDelta, codebook " +
        s"row delta $cbDelta) — codes from different models share no " +
        "space; rebuild one side instead")
    val merged = spark.read.parquet(s"$indexDirA/vectors")
      .unionByName(spark.read.parquet(s"$indexDirB/vectors"))
      .distinct()
    val conflicts = merged.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1L)
    val nConflicts = conflicts.count()
    require(nConflicts == 0,
      s"refusing to merge: $nConflicts vec_ids carry different codes " +
        "in the two snapshots (same model must encode a vector " +
        "identically) — the inputs disagree about the data itself")
    // dest is a FRESH tree (errorifexists): in-place folding is
    // compact's job; a merge that half-overwrote one of its own
    // inputs on failure would be the worst of both
    spark.read.parquet(s"$indexDirA/centroids")
      .write.mode("errorifexists").parquet(s"$destDir/centroids")
    spark.read.parquet(s"$indexDirA/codebook")
      .write.mode("errorifexists").parquet(s"$destDir/codebook")
    merged
      .repartition(numFiles, col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("errorifexists").partitionBy("cell")
      .parquet(s"$destDir/vectors")
  }

  /** Search the persisted index — the lazy frame reads ONLY the three
    * index tables (spec-pinned: the corpus embeddings path never
    * appears in the executed plan).
    */
  def searchFrame(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      topK: Int = 10,
      nProbe: Int = 2,
      rerank: Int = 30): DataFrame = {
    IndexUtil.healTorn(spark, s"$indexDir/vectors")
    // same-session searches right after a build/update/merge must not
    // trust cached listings for the index paths (see readBack)
    Seq("vectors", "centroids", "codebook")
      .foreach(t => spark.catalog.refreshByPath(s"$indexDir/$t"))
    Quantization.ivfPqSearchIndex(
      spark.read.parquet(s"$indexDir/vectors"),
      spark.read.parquet(s"$indexDir/centroids"),
      spark.read.parquet(s"$indexDir/codebook"),
      queries, topK, nProbe, rerank)
  }

  def main(args: Array[String]): Unit = {
    def usageExit(): Nothing = { System.err.println(Usage); sys.exit(2) }
    if (args.isEmpty) usageExit()
    val spark = graft.Harness.session()
    val rest = args.drop(3)
    def opt(flag: String, default: Int): Int = rest.sliding(2).collectFirst {
      case Array(`flag`, v) => v.toInt
    }.getOrElse(default)
    try args(0) match {
      case "build" =>
        if (args.length < 3) usageExit()
        buildIndex(spark.read.parquet(args(1)), args(2),
          kCells = opt("--cells", 8))
        println(s"""{"built":"${args(2)}"}""")
      case "update" =>
        if (args.length < 3) usageExit()
        updateIndex(spark, args(1), args(2))
        println(s"""{"updated":"${args(1)}"}""")
      case "compact" =>
        if (args.length < 2) usageExit()
        compactIndex(spark, args(1),
          numFiles = args.lift(2).map(_.toInt).getOrElse(4))
        println(s"""{"compacted":"${args(1)}"}""")
      case "merge" =>
        if (args.length < 4) usageExit()
        mergeIndexes(spark, args(1), args(2), args(3),
          numFiles = args.lift(4).map(_.toInt).getOrElse(4))
        println(s"""{"merged":"${args(3)}"}""")
      case "query" =>
        if (args.length < 4) usageExit()
        val out = searchFrame(spark, args(1),
          spark.read.parquet(args(2)),
          topK = opt("--k", 10), nProbe = opt("--nprobe", 2),
          rerank = opt("--rerank", 30))
        out.write.mode("overwrite").parquet(args(3))
        println(s"""{"rows":${spark.read.parquet(args(3)).count()}}""")
      case other =>
        System.err.println(s"unknown mode '$other'\n$Usage"); sys.exit(2)
    } finally spark.stop()
  }
}
