package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
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
  * Every entity goes out in ONE write (SURVEY S7): the rows arrive
  * already rendered as `(entity, seq, line)`, go through one
  * `repartitionByRange(seq)`, one `sortWithinPartitions(entity, seq)`
  * and one `write.partitionBy("entity")` as CRLF text; each
  * `entity=<e>` directory then becomes `{output}.{suffix}.csv.d`. The
  * default layout keeps global document order across part files with
  * no single-task bottleneck; `singleFile=true` reproduces the
  * reference's one-file layout through one partition and one writer
  * task — correct for golden-parity sizes but a scale-killer, so not
  * the default.
  *
  * The range partitioner's sampling job evaluates the whole input
  * before the write does, so the rendered lines are cached for the
  * write (the only cache; without it the extract runs twice) and
  * released in `finally`. The per-entity row
  * counts come from one `Observation` placed ABOVE the range exchange:
  * the sampling job evaluates only the exchange's child, so the
  * metric counts each row once (below the exchange it counts twice).
  * When AQE proves the exchange empty it drops the observed node, and
  * the observation completes with no metrics: every count is 0.
  */
object CsvSink {

  /** One entity's output: rows tagged `entity` go to
    * `{output}.{suffix}.csv[.d]` under `headers`.
    */
  final case class Sink(entity: String, suffix: String, headers: Seq[String])

  /** One CSV record (no line end) of `cols`, each cast to string: the
    * reference serializes all fields as text (`extractors.py:294-295`
    * stringifies the flag ints). Python csv.writer escapes quotes by
    * doubling (QUOTE_MINIMAL); Spark's default escape is backslash —
    * override both, and write null and empty alike as nothing.
    */
  def line(cols: Column*): Column =
    to_csv(struct(cols.map(_.cast("string")): _*), Map(
      "quote" -> "\"", "escape" -> "\"", "nullValue" -> "",
      "emptyValue" -> "").asJava)

  /** Write one entity stream. `df` must contain a `seq` column (dropped
    * on write) plus the output columns in schema order, which name the
    * header.
    */
  def write(
      df: DataFrame,
      destination: String,
      outputName: String,
      suffix: String,
      singleFile: Boolean = false): Path = {
    val cols = df.columns.filterNot(_ == "seq").toSeq
    write(df.select(lit(suffix).as("entity"), col("seq"),
        line(cols.map(col): _*).as("line")),
      Seq(Sink(suffix, suffix, cols)), destination, outputName,
      singleFile).head._1
  }

  /** Write every sink's rows of `lines` (`entity`, `seq`, `line`) in
    * one ordered write; returns each sink's path and row count, in
    * `sinks` order. Every row's entity must name a sink.
    */
  def write(
      lines: DataFrame,
      sinks: Seq[Sink],
      destination: String,
      outputName: String,
      singleFile: Boolean): Seq[(Path, Long)] = {
    val headers = sinks.map(s => s.entity -> s.headers.mkString(",")).toMap
    val counted = Observation()
    val metrics = sinks.map(s =>
      count(when(col("entity") === s.entity, 1)).as(s.entity))
    // Staging dir lives UNDER the destination so the final Files.move
    // is a same-filestore rename — moving a non-empty directory across
    // stores (e.g. tmpfs /tmp -> disk) throws in java.nio.
    Files.createDirectories(Paths.get(destination))
    val tmp = Files.createTempDirectory(Paths.get(destination), ".graft-csv-")
    val cached = lines.cache()
    try {
      val spread =
        if (singleFile) cached.repartition(1)
        else cached.repartitionByRange(col("seq"))
      import lines.sparkSession.implicits._
      spread.observe(counted, metrics.head, metrics.tail: _*)
        .select("entity", "seq", "line").as[(String, Long, String)]
        // each task's first row of an entity is preceded by a header
        // row sorting first (seq = Long.MinValue); the sort after this
        // typed step restores (entity, seq) order, so the partitioned
        // write plans no sort of its own and no order rests on sort
        // stability
        .mapPartitions { rows =>
          var open = Set.empty[String]
          rows.flatMap { case r @ (e, _, _) =>
            if (open(e)) Iterator(r)
            else { open += e; Iterator((e, Long.MinValue, headers(e)), r) }
          }
        }.toDF("entity", "seq", "line")
        .sortWithinPartitions("entity", "seq").select("entity", "line")
        .write.mode(SaveMode.Overwrite).partitionBy("entity")
        // Python csv.writer terminates rows with CRLF (golden files are
        // byte-compared — see the od dump of expected_island.csv)
        .option("lineSep", "\r\n").text(tmp.toString)
      val n = counted.get
      sinks.map { s =>
        val parts = textParts(tmp.resolve(s"entity=${s.entity}"))
        val header = headers(s.entity) + "\r\n"
        val file = Paths.get(destination, s"$outputName.${s.suffix}.csv")
        val target = if (singleFile) {
          parts.headOption.fold(Files.writeString(file, header))(
            Files.move(_, file, StandardCopyOption.REPLACE_EXISTING))
        } else {
          val dir = Paths.get(s"$file.d")
          FileUtils.deleteDirectory(dir.toFile)
          Files.createDirectories(dir)
          parts.foreach(p => Files.move(p,
            dir.resolve(p.getFileName.toString.stripSuffix("txt") + "csv")))
          // an entity with no rows keeps its header-only part
          if (parts.isEmpty)
            Files.writeString(dir.resolve("part-00000-header.csv"), header)
          dir
        }
        target -> n.getOrElse(s.entity, 0L).asInstanceOf[Long]
      }
    } finally {
      // a failed write must not leak the staging dir under the
      // user-visible destination (repeated failed runs would pile up)
      FileUtils.deleteDirectory(tmp.toFile)
      cached.unpersist()
    }
  }

  /** The part files Spark wrote under `dir`, in name (= range) order;
    * none when `dir` does not exist.
    */
  private def textParts(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.toString.endsWith(".txt")).toList.sortBy(_.toString))
}
