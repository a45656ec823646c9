package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextDedup

/** Persisted near-dup index lifecycle — the operational form of
  * [[graft.ops.TextDedup.incrementalNearNew]]: a weekly 100 TB crawl
  * builds the MinHash band + shingle-signature index ONCE, then every
  * later snapshot runs against the parquet index without ever
  * re-shingling the prior corpus.
  *
  * Usage:
  *   RunDedupIndex build <corpus.parquet> <indexDir>
  *   RunDedupIndex apply <new.parquet> <indexDir> <outDir>
  *                 [--threshold P] [--update]
  *   RunDedupIndex compact <indexDir> [numFiles]
  *
  * `build` writes `indexDir/band_index` (doc_id, band_idx, band_hash),
  * `indexDir/shingle_index` (doc_id, sh) — ~12 bytes/band-row and one
  * sorted long array per doc — and `indexDir/hot_buckets`, the
  * precomputed boilerplate-bucket blocklist
  * ([[graft.ops.TextDedup.hotBandBuckets]]): band buckets whose
  * population exceeds `maxBucket` collide on every crawl, so they are
  * aggregated ONCE here (map-side-combined, tiny output) instead of
  * being re-counted over the whole index on every `apply`. The
  * blocklist goes stale only in the safe direction between compacts: a
  * bucket that crosses the cap after appends is merely not yet blocked
  * (a bounded fan-out in the next joins), never wrongly blocked.
  *
  * `apply` keeps the rows of the new snapshot with no verified
  * near-duplicate in the index (Jaccard >= P%, default 80) and writes
  * them to `outDir`. The plan's ONLY contact with the index is the
  * band equi-join plus the per-candidate signature lookup — no window,
  * no index-wide aggregate (spec-pinned in `IncrementalNearDupSpec`).
  * With `--update` the SURVIVORS' bands and shingles are appended to
  * the index afterwards, then a marker for the snapshot path is
  * written under `indexDir/.applied/`; a re-run of the same snapshot
  * (orchestrator retry after a post-append failure) sees the marker
  * and leaves `outDir` untouched instead of recomputing against an
  * index that now contains the survivors and clobbering the output.
  * The append itself reads the MATERIALIZED `outDir` parquet — never a
  * plan that still reads the index — so the index directory is never
  * read and written by the same job. A crash before or part-way
  * through the append re-runs cleanly: the verification inner-join
  * needs a signature row, so band rows appended without their
  * signatures never make a survivor report itself as a dup, and the
  * re-run recomputes the identical output then re-appends. Only a
  * crash in the instant between the completed append and the marker
  * write leaves a re-run that recomputes against the folded survivors
  * (dropping them as "already indexed") — that re-run still leaves
  * the INDEX correct; only `outDir` shrinks to the not-yet-folded
  * remainder.
  *
  * `compact` rewrites each index table into a few key-sorted files
  * (every weekly `--update` appends files; after months the listing is
  * the classic small-files pathology) and refreshes `hot_buckets` from
  * the compacted band table. The swap runs on the Hadoop `FileSystem`
  * API — two directory renames via a `.old` name — so the same code
  * drives a local checkout and an HDFS-resident index; a crash between
  * the renames self-heals on the next compact (the live name is
  * restored from `.old` before anything is rewritten). CAVEAT: on
  * object stores without atomic rename (S3A "renames" by copy+delete)
  * the two-rename protocol is not crash-atomic — front a 100 TB index
  * on S3 with a manifest/table format, or compact via an HDFS scratch
  * and promote.
  */
object RunDedupIndex {

  private val Usage =
    "usage: RunDedupIndex build <corpus.parquet> <indexDir>\n" +
      "       RunDedupIndex apply <new.parquet> <indexDir> <outDir> " +
      "[--threshold P] [--update]\n" +
      "       RunDedupIndex compact <indexDir> [numFiles]"

  /** Default band-bucket cap; see [[graft.ops.TextDedup.hotBandBuckets]]. */
  val DefaultMaxBucket = 64

  /** Recompute `indexDir/hot_buckets` from the persisted band table —
    * one map-side-combined aggregate over 12-byte rows, output a
    * handful of pathological buckets. Runs at build and compact time
    * so `apply` never aggregates the index.
    */
  def refreshHotBuckets(
      spark: SparkSession,
      indexDir: String,
      maxBucket: Int = DefaultMaxBucket): Unit =
    TextDedup.hotBandBuckets(
        spark.read.parquet(s"$indexDir/band_index"), maxBucket)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/hot_buckets")

  /** Write the band + shingle index and hot-bucket blocklist for
    * `corpus` under `indexDir`.
    */
  def buildIndex(
      corpus: DataFrame,
      indexDir: String,
      maxBucket: Int = DefaultMaxBucket): Unit = {
    val (bands, sigs) = TextDedup.nearDupIndex(corpus)
    bands.write.mode("overwrite").parquet(s"$indexDir/band_index")
    sigs.write.mode("overwrite").parquet(s"$indexDir/shingle_index")
    refreshHotBuckets(corpus.sparkSession, indexDir, maxBucket)
  }

  /** The persisted blocklist, or (for a pre-blocklist index layout) the
    * inline aggregate as a fallback.
    */
  private def hotBucketsFrame(
      spark: SparkSession, indexDir: String): DataFrame = {
    val (fs, p) = IndexUtil.fsFor(spark, s"$indexDir/hot_buckets")
    if (fs.exists(p)) spark.read.parquet(p.toString)
    else TextDedup.hotBandBuckets(
      spark.read.parquet(s"$indexDir/band_index"), DefaultMaxBucket)
  }

  /** The survivors of `newDocs` against the persisted index, as a lazy
    * frame — the plan reads ONLY the index tables (+ blocklist) and
    * `newDocs`, never the corpus the index was built from, and touches
    * the band index solely through the candidate equi-join
    * (spec-pinned: no Window, no index-side pre-join shuffle).
    */
  def applyFrame(
      spark: SparkSession,
      newDocs: DataFrame,
      indexDir: String,
      thresholdPct: Int = 80): DataFrame =
    TextDedup.incrementalNearNew(newDocs,
      spark.read.parquet(s"$indexDir/band_index"),
      spark.read.parquet(s"$indexDir/shingle_index"),
      hotBucketsFrame(spark, indexDir),
      thresholdPct = thresholdPct,
      numHashes = 32, rowsPerBand = 4, shingleSize = 3)

  /** Append the bands + shingles of the docs at `survivorsPath` to the
    * index. Reads the MATERIALIZED survivors parquet (not a live plan
    * over the index) so the append never self-references the paths it
    * writes. The hot-bucket blocklist is deliberately NOT refreshed
    * here (that would re-aggregate the whole index weekly); it catches
    * up at the next `compact`.
    */
  def updateIndex(
      spark: SparkSession,
      survivorsPath: String,
      indexDir: String): Unit = {
    val docs = spark.read.parquet(survivorsPath)
    val (bands, sigs) = TextDedup.nearDupIndex(docs)
    bands.write.mode("append").parquet(s"$indexDir/band_index")
    sigs.write.mode("append").parquet(s"$indexDir/shingle_index")
  }

  /** The `.applied` marker path recording that `newDocsPath` was
    * successfully applied WITH `--update` (its survivors folded into
    * the index). Keyed by the snapshot path's MD5 — re-pointing the
    * same path at different content defeats the guard; use one path
    * per snapshot.
    */
  private def appliedMarker(indexDir: String, newDocsPath: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(newDocsPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"$indexDir/.applied/$md"
  }

  /** Compact the index in place: rewrites each index table into
    * `numFiles` files sorted by its join key (band buckets / doc ids)
    * — shrinking the file listing the next `apply` plans over and
    * letting sorted band buckets compress tightly — then refreshes the
    * hot-bucket blocklist from the compacted band table. The rewrite
    * goes to a sibling temp dir first and swaps via two Hadoop
    * `FileSystem.rename`s through a `.old` name, so a crash at any
    * point leaves either the old or the new table reachable: if a
    * previous crash stranded the live name (died between the two
    * renames), the next compact restores it from `.old` before
    * touching anything. See the object doc for the S3 rename caveat.
    */
  def compactIndex(
      spark: SparkSession,
      indexDir: String,
      numFiles: Int = 8,
      maxBucket: Int = DefaultMaxBucket): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    def rewrite(table: String, sortCols: Seq[String]): Unit =
      IndexUtil.replaceDir(spark, s"$indexDir/$table") { tmp =>
        spark.read.parquet(s"$indexDir/$table")
          .repartition(numFiles)
          .sortWithinPartitions(sortCols.map(col): _*)
          .write.mode("overwrite").parquet(tmp)
      }
    rewrite("band_index", Seq("band_idx", "band_hash"))
    rewrite("shingle_index", Seq("doc_id"))
    refreshHotBuckets(spark, indexDir, maxBucket)
  }

  /** One `apply` run: dedup the snapshot at `newDocsPath` against the
    * index, write the survivors to `outDir`, optionally fold them into
    * the index. With `update = true` the run is retry-safe: once the
    * survivors have been appended and the snapshot marker written, a
    * re-run returns the existing `outDir` count without recomputing
    * (recomputing against an index that already contains the survivors
    * would drop intra-snapshot near-dup survivors and rewrite a
    * shrunken output).
    */
  def applyRun(
      spark: SparkSession,
      newDocsPath: String,
      indexDir: String,
      outDir: String,
      thresholdPct: Int = 80,
      update: Boolean = false): Long = {
    val (fs, marker) =
      IndexUtil.fsFor(spark, appliedMarker(indexDir, newDocsPath))
    if (update && fs.exists(marker)) {
      System.err.println(
        s"snapshot $newDocsPath already applied+updated; keeping $outDir")
      return spark.read.parquet(outDir).count()
    }
    val kept = applyFrame(spark, spark.read.parquet(newDocsPath),
      indexDir, thresholdPct)
    kept.write.mode("overwrite").parquet(outDir)
    if (update) {
      updateIndex(spark, outDir, indexDir)
      val out = fs.create(marker, true)
      try out.write(newDocsPath.getBytes("UTF-8")) finally out.close()
    }
    spark.read.parquet(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    def usageExit(): Nothing = { System.err.println(Usage); sys.exit(2) }
    if (args.isEmpty) usageExit()
    val spark = graft.Harness.session()
    try args(0) match {
      case "build" =>
        if (args.length < 3) usageExit()
        buildIndex(spark.read.parquet(args(1)), args(2))
        println(s"""{"built":"${args(2)}"}""")
      case "compact" =>
        if (args.length < 2) usageExit()
        compactIndex(spark, args(1),
          numFiles = args.lift(2).map(_.toInt).getOrElse(8))
        println(s"""{"compacted":"${args(1)}"}""")
      case "apply" =>
        if (args.length < 4) usageExit()
        val rest = args.drop(4)
        val threshold = rest.sliding(2).collectFirst {
          case Array("--threshold", p) => p.toInt
        }.getOrElse(80)
        val n = applyRun(spark, args(1), args(2), args(3), threshold,
          update = rest.contains("--update"))
        println(s"""{"kept":$n,"threshold":$threshold}""")
      case other =>
        System.err.println(s"unknown mode '$other'\n$Usage"); sys.exit(2)
    } finally spark.stop()
  }
}
