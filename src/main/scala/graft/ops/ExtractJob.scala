package graft.ops

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.EtlConfig
import graft.io.CsvSink

/** The whole-pipeline driver (`cli.py:77-205` `extract` minus PDF
  * parsing): extract every routed table in one pass
  * ([[Dispatch.extract]]), write the five entity CSVs in document
  * order, fail on zero rows (A2, `cli.py:198-201`).
  *
  * S7 multi-sink fan-out: the extracted rows render to one frame of CSV
  * lines tagged by entity ([[lines]]), and [[CsvSink]] writes all five
  * entities in one ordered, entity-partitioned write, split by the seq
  * range of the table meta the extract already brought to the driver.
  * It counts each entity's rows (A2's count accumulation) with an
  * observation in the same write, so no separate count action follows;
  * an entity with no rows reads 0. A run is four Spark jobs: the meta
  * aggregate's shuffle and collect, the write's shuffle and the write.
  */
object ExtractJob {

  final case class Result(counts: Map[String, Long], files: Seq[Path]) {
    def total: Long = counts.values.sum
  }

  /** Raised when the whole run extracted zero rows
    * ("No matching data found" — `cli.py:198-201`).
    */
  final case class NoMatchingDataException(message: String)
      extends RuntimeException(message)

  /** Each entity's output columns in [[Dispatch.extract]]'s frame, in
    * CSV order (SURVEY §1.2); an island's regency_code rides in
    * parent_code.
    */
  val Columns: Map[String, Seq[String]] = {
    val child = Seq("code", "parent_code", "name")
    Map("province" -> Seq("code", "name"), "regency" -> child,
      "district" -> child, "village" -> child,
      "island" -> Seq("code", "parent_code", "coordinate", "is_populated",
        "is_outermost_small", "name"))
  }

  /** The [[EtlConfig.Areas]] sinks in order, each with its configured
    * suffix and output headers. Driver-side only: raises
    * [[EtlConfig.ConfigError]] for a missing entity config or a header
    * count that differs from the entity's [[Columns]].
    */
  def sinks(config: EtlConfig.Config): Seq[CsvSink.Sink] =
    EtlConfig.Areas.map { entity =>
      val cfg = config.data.getOrElse(entity,
        throw EtlConfig.ConfigError(
          s"Missing or invalid configuration for area '$entity'"))
      if (cfg.outputHeaders.length != Columns(entity).length)
        throw EtlConfig.ConfigError(s"header arity mismatch for " +
          s"$entity: ${cfg.outputHeaders} vs ${Columns(entity)}")
      CsvSink.Sink(entity, cfg.filenameSuffix, cfg.outputHeaders)
    }

  /** The entity fan-out of one extraction (`cli.py:183-194`): the
    * [[sinks]], and one frame `(entity, seq, line)` of every row of
    * `extracted` ([[Dispatch.extract]]) rendered as a CSV record in its
    * entity's column order, in one projection.
    */
  def lines(
      extracted: DataFrame,
      config: EtlConfig.Config): (DataFrame, Seq[CsvSink.Sink]) =
    (render(extracted), sinks(config))

  private def render(extracted: DataFrame): DataFrame = {
    def record(entity: String) = CsvSink.line(Columns(entity).map(col): _*)
    val Seq(first, rest @ _*) = EtlConfig.Areas
    val line = rest.foldLeft(when(col("entity") === first, record(first))) {
      (acc, entity) => acc.when(col("entity") === entity, record(entity))
    }
    extracted.select(col("entity"), col("seq"), line.as("line"))
  }

  def run(
      cells: DataFrame,
      destination: String,
      outputName: String,
      config: EtlConfig.Config,
      // Scale-safe default: multi-file output split by seq range (no
      // single-task drain). Pass singleFile=true explicitly for
      // reference-parity one-file-per-entity layout (the CLI does).
      singleFile: Boolean = false): Result = {
    // a configuration error fails before any Spark job
    val out = sinks(config)
    val tables = Dispatch.tables(cells, col("route"))
    val written = CsvSink.write(render(Dispatch.extract(cells, tables)), out,
      destination, outputName, singleFile, tables.seqRange)
    val counts = out.map(_.entity).zip(written.map(_._2)).toMap
    if (counts.values.sum == 0)
      throw NoMatchingDataException("No matching data found")
    Result(counts, written.map(_._1))
  }
}
