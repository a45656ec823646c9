package graft.tools

import java.nio.file.Paths
import org.apache.spark.sql.functions._
import graft.config.EtlConfig
import graft.ops.{ExtractJob, PageRange}

/** CLI entry mirroring the reference's `idnareaetl extract` command
  * (`cli.py:77-205`), minus PDF parsing: input is a cell-table parquet
  * at the post-camelot boundary (FIXTURES.md §1).
  *
  * Usage:
  *   RunEtl <cells.parquet> <destDir> <outputName>
  *          [--config <toml>] [--pages <range>] [--multi-file]
  *          [--rectangularize]
  *
  * `--pages` takes the reference's `1-4,6` grammar (`cli.py:146-150`,
  * `utils.py:87-100`) and prunes the scan by the `page` column — the
  * partition-pruning analog of the reference's page selection. The CLI
  * writes reference-parity single files by default; `--multi-file`
  * switches to the scale-safe range-partitioned layout.
  * `--rectangularize` pads ragged rows to their table's width
  * ([[graft.ops.CellTables.rectangularize]]) for sources that do not
  * guarantee rectangular tables.
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
      "[--config <toml>] [--pages <range>] [--multi-file] " +
      "[--rectangularize]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val Array(input, dest, name) = args.take(3)
    var configPath: Option[String] = None
    var pageRange: Option[String] = None
    var singleFile = true
    // pad ragged rows to table width before extraction — required for
    // sources that don't guarantee the rectangular invariant
    // (see CellTables.rectangularize)
    var rectangularize = false
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--config" if i + 1 < args.length =>
          configPath = Some(args(i + 1)); i += 2
        case "--pages" if i + 1 < args.length =>
          pageRange = Some(args(i + 1)); i += 2
        case "--multi-file" => singleFile = false; i += 1
        case "--rectangularize" => rectangularize = true; i += 1
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
    val config =
      try configPath.map(p => EtlConfig.load(Paths.get(p)))
        .getOrElse(defaultConfig)
      catch {
        case e: EtlConfig.ConfigError =>
          // reference prints "Configuration error: ..." and exits 1
          // (`cli.py:140-144`)
          System.err.println(s"Configuration error: ${e.getMessage}")
          sys.exit(1)
          throw e // unreachable; keeps the type checker happy
      }

    val spark = graft.Harness.session()

    val t0 = System.nanoTime()
    try {
      val read = spark.read.parquet(input)
      val all =
        if (rectangularize) graft.ops.CellTables.rectangularize(read)
        else read
      val cells = pageRange match {
        case None => all
        case Some(r) =>
          // clip to the actual page count (`utils.py:100` drops
          // out-of-range silently); one tiny max() job stands in for
          // the reference's PdfReader page count (`cli.py:146-147`).
          // Empty input -> max is NULL -> zero pages, which flows into
          // the reference-parity "No matching data found" exit.
          val maxRow = all.agg(max(col("page"))).head()
          val total = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
          val pages = PageRange.parse(r, total)
          // isin over an int column pushes to the parquet scan
          all.filter(col("page").isin(pages: _*))
      }
      val result = ExtractJob.run(cells, dest, name, config,
        singleFile = singleFile)
      val secs = (System.nanoTime() - t0) / 1e9
      // report shape follows `cli.py:196,203-205`
      println(s"Extraction completed in ${PageRange.formatDuration(secs)}")
      println(s"Total rows extracted: ${result.total}")
      result.counts.toSeq.sortBy(_._1).foreach { case (e, c) =>
        println(s"  $e: $c")
      }
      result.files.foreach(f => println(s"  -> $f"))
    } catch {
      case e: ExtractJob.NoMatchingDataException =>
        System.err.println(s"Error: ${e.message}")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
