package graft.tools

import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.config.EtlConfig
import graft.ops.{CellTables, ExtractJob, PageRange}

/** CLI entry mirroring the reference's `idnareaetl extract` command
  * (`cli.py:77-205`), minus PDF parsing: input is a cell-table parquet
  * at the post-camelot boundary (FIXTURES.md §1).
  *
  * Usage:
  *   RunEtl <cells.parquet> <destDir> <outputName>
  *          [--config <toml>] [--pages <range>] [--multi-file]
  *
  * `--pages` takes the reference's `1-4,6` grammar (`cli.py:146-150`,
  * `utils.py:87-100`) and prunes the scan by the `page` column — the
  * partition-pruning analog of the reference's page selection. The CLI
  * writes reference-parity single files by default; `--multi-file`
  * switches to the scale-safe layout split by seq range. Tables may be
  * ragged: each is sized by its widest row.
  *
  * Without a config path, the reference's shipped `idnareaetl.toml`
  * defaults apply (suffixes province/regency/district/village/island,
  * standard headers).
  */
object RunEtl {

  /** The reference's shipped config, [[EtlConfig.Default]]. */
  def defaultConfig: EtlConfig.Config = EtlConfig.Default

  private val Usage =
    "usage: RunEtl <cells.parquet> <destDir> <outputName> " +
      "[--config <toml>] [--pages <range>] [--multi-file]"

  /** The cells to extract: the parquet at `path`, read with the fixed
    * cell schema ([[CellTables.read]]) and pruned to `pageRange` by one
    * pushed-down predicate. Pages past the last one select nothing, as
    * the reference clips to the PDF's page count (`utils.py:100`), so
    * no Spark job runs before extraction.
    */
  def input(
      spark: SparkSession,
      path: String,
      pageRange: Option[String]): DataFrame = {
    val all = CellTables.read(spark, path)
    pageRange.fold(all)(r => all.filter(PageRange.predicate(r, col("page"))))
  }

  /** The config at `path` (default: the shipped one), checked against
    * the sinks it must drive ([[ExtractJob.sinks]]) on the driver, so a
    * wrong header count fails before any Spark session starts.
    */
  def config(path: Option[String]): EtlConfig.Config = {
    val config = path.map(p => EtlConfig.load(Paths.get(p)))
      .getOrElse(defaultConfig)
    ExtractJob.sinks(config)
    config
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val Array(inputPath, dest, name) = args.take(3)
    var configPath: Option[String] = None
    var pageRange: Option[String] = None
    var singleFile = true
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--config" if i + 1 < args.length =>
          configPath = Some(args(i + 1)); i += 2
        case "--pages" if i + 1 < args.length =>
          pageRange = Some(args(i + 1)); i += 2
        case "--multi-file" => singleFile = false; i += 1
        case other =>
          System.err.println(s"unknown argument: $other\n$Usage")
          sys.exit(2)
      }
    }
    // page-range grammar validated before starting Spark, like the
    // reference validates before opening the PDF (`cli.py:56-74`)
    pageRange.foreach { r =>
      if (!PageRange.validate(r)) {
        System.err.println(s"Error: invalid page range '$r'")
        sys.exit(1)
      }
    }
    val cfg =
      try config(configPath)
      catch {
        case e: EtlConfig.ConfigError =>
          // reference prints "Configuration error: ..." and exits 1
          // (`cli.py:140-144`)
          System.err.println(s"Configuration error: ${e.getMessage}")
          sys.exit(1)
      }

    val spark = graft.Harness.session()

    val t0 = System.nanoTime()
    val failure =
      try {
        val result = ExtractJob.run(input(spark, inputPath, pageRange), dest,
          name, cfg, singleFile = singleFile)
        val secs = (System.nanoTime() - t0) / 1e9
        // report shape follows `cli.py:196,203-205`
        println(s"Extraction completed in ${PageRange.formatDuration(secs)}")
        println(s"Total rows extracted: ${result.total}")
        result.counts.toSeq.sortBy(_._1).foreach { case (e, c) =>
          println(s"  $e: $c")
        }
        result.files.foreach(f => println(s"  -> $f"))
        None
      } catch {
        case e: ExtractJob.NoMatchingDataException => Some(e.message)
        case e: CellTables.SchemaError => Some(e.message)
      } finally spark.stop()
    failure.foreach { message =>
      System.err.println(s"Error: $message")
      sys.exit(1)
    }
  }
}
