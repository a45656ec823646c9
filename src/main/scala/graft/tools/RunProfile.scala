package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{DataQuality, TextAnalysis, TextDedup}

/** One-shot corpus data-card generator — the profiling sweep a corpus
  * owner runs before anything trains on a new snapshot, composing the
  * already-oracled operator bodies into ONE job that writes a profile
  * directory and prints a one-line JSON headline:
  *
  *   RunProfile <docs.parquet> <outDir>
  *
  * Layout under `outDir` (each a small parquet table):
  *   corpus_report/  per-language doc/token/char rollup
  *                   ([[TextAnalysis.corpusReport]])
  *   quality/        verdict histogram ([[TextAnalysis.qualityScore]])
  *   encoding/       damage counters summed + damaged-doc count
  *                   ([[TextAnalysis.encodingDamage]])
  *   dup_groups/     exact-duplicate group sizes
  *                   ([[TextDedup.exactDupGroups]], dup_count > 1 only)
  *   winsorized/     per-language winsorized length summary
  *                   ([[DataQuality.winsorizedStats]] on char length)
  *
  * Scale shape: every table is an aggregate over one scan of the
  * corpus (Spark runs them as separate jobs off the same cached-by-
  * the-OS parquet; nothing here joins corpus-sized frames). The
  * headline JSON is driver-side aggregation of the ALREADY-aggregated
  * tables — never a corpus collect.
  */
object RunProfile {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: RunProfile <docs.parquet> <outDir>")
    val (docsPath, outDir) = (args(0), args(1))
    val spark = graft.Harness.session()
    val (nDocs, nDamaged, nDups) =
      profile(spark, spark.read.parquet(docsPath), outDir)
    // scalastyle:off println
    println(s"""{"n_docs": $nDocs, "n_damaged": $nDamaged, """ +
      s""""n_exact_dup_rows": $nDups}""")
    // scalastyle:on println
  }

  /** Write the profile tables; returns the headline counters. */
  def profile(
      spark: SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      outDir: String): (Long, Long, Long) = {
    TextAnalysis.corpusReport(docs).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/corpus_report")
    TextAnalysis.qualityScore(docs)
      .groupBy(col("quality")).agg(count(lit(1)).as("n_docs"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/quality")
    TextAnalysis.encodingDamage(docs)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("damaged").cast("long")).as("n_damaged"),
        sum(col("n_replacement")).as("n_replacement"),
        sum(col("n_latin1_utf8")).as("n_latin1_utf8"),
        sum(col("n_punct_mojibake")).as("n_punct_mojibake"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/encoding")
    TextDedup.exactDupGroups(docs)
      .filter(col("dup_count") > 1L)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/dup_groups")
    DataQuality.winsorizedStats(
        docs.select(col("lang").as("grp"),
          length(col("text")).cast("long").as("v")),
        "grp", "v")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/winsorized")

    val enc = spark.read.parquet(s"$outDir/encoding").head()
    val nDups = spark.read.parquet(s"$outDir/dup_groups")
      .agg(coalesce(sum(col("dup_count") - 1L), lit(0L))).head().getLong(0)
    (enc.getLong(0), enc.getLong(1), nDups)
  }
}
