package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** S6/S7/W1 CSV sink with reference semantics (`writer.py:7-74`,
  * `extractors.py:41-47`):
  *  - one headered CSV per entity, named `{output}.{suffix}.csv`;
  *  - header row written even when there are zero data rows
  *    (pinned by `tests/test_extractors.py:735-744`);
  *  - rows in document order (`seq`), quoting matching Python's
  *    `csv.writer` (QUOTE_MINIMAL, `""` escaping — golden files are
  *    byte-compared, `tests/test_e2e.py:9-21`).
  *
  * Scale note: `singleFile=true` reproduces the reference's one-file
  * layout via a total sort + single writer task — correct for
  * golden-parity output sizes but a scale-killer, so it is NOT the
  * default. The default (`singleFile=false`) range-repartitions on
  * `seq` + `sortWithinPartitions`, keeping global document order
  * across part files with no single-task bottleneck.
  */
object CsvSink {

  /** Write one entity stream. `df` must contain a `seq` column (dropped
    * on write) plus the output columns in schema order.
    */
  def write(
      df: DataFrame,
      destination: String,
      outputName: String,
      suffix: String,
      singleFile: Boolean = false): Path = {
    val ordered =
      if (singleFile) df.orderBy(col("seq")).drop("seq").coalesce(1)
      else df.repartitionByRange(col("seq")).sortWithinPartitions(col("seq"))
        .drop("seq")
    val outCols = ordered.columns
    val headerLine = outCols.mkString(",") + "\r\n"
    // Cast everything to string: the reference serializes all fields as
    // text (`extractors.py:294-295` stringifies the flag ints).
    val asText = ordered.select(
      outCols.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)

    // Staging dir lives UNDER the destination so the final Files.move
    // is a same-filestore rename — moving a non-empty directory across
    // stores (e.g. tmpfs /tmp -> disk) throws in java.nio.
    Files.createDirectories(Paths.get(destination))
    val tmp = Files.createTempDirectory(
      Paths.get(destination), ".graft-csv-").toString
    try {
      asText.write.mode(SaveMode.Overwrite)
        .option("header", "true")
        // Python csv.writer escapes quotes by doubling (QUOTE_MINIMAL);
        // Spark's default escape is backslash — override both.
        .option("escape", "\"")
        .option("quote", "\"")
        .option("emptyValue", "")
        .option("nullValue", "")
        // Python csv.writer terminates rows with CRLF (golden files are
        // byte-compared — see the od dump of expected_island.csv).
        .option("lineSep", "\r\n")
        .csv(tmp)
    } catch {
      // a failed write must not leak the staging dir under the
      // user-visible destination (repeated failed runs would pile up)
      case e: Throwable =>
        deleteRecursively(Paths.get(tmp))
        throw e
    }

    if (singleFile) {
      val target = Paths.get(destination, s"$outputName.$suffix.csv")
      csvParts(Paths.get(tmp)).headOption match {
        case Some(p) =>
          Files.move(p, target, StandardCopyOption.REPLACE_EXISTING)
        case None =>
          // Zero-partition result: emit the header-only file ourselves.
          Files.writeString(target, headerLine)
      }
      deleteRecursively(Paths.get(tmp))
      target
    } else {
      val target = Paths.get(destination, s"$outputName.$suffix.csv.d")
      deleteRecursively(target)
      Files.move(Paths.get(tmp), target, StandardCopyOption.REPLACE_EXISTING)
      // Zero-partition result (same case the singleFile branch guards):
      // the directory would hold only _SUCCESS — emit the header-only
      // part so "header row written even when there are zero data
      // rows" holds for the default layout too.
      if (csvParts(target).isEmpty)
        Files.writeString(target.resolve("part-00000-header.csv"), headerLine)
      target
    }
  }

  /** The `part-*.csv` files Spark wrote directly under `dir`. */
  private def csvParts(dir: Path): List[Path] =
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.filter { p =>
        val f = p.getFileName.toString
        f.startsWith("part-") && f.endsWith(".csv")
      }.toList
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { stream =>
        stream.iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      }
    }
  }
}
