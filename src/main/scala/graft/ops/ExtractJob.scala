package graft.ops

import java.nio.file.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.EtlConfig
import graft.io.CsvSink

/** The whole-pipeline driver (`cli.py:77-205` `extract` minus PDF
  * parsing): dispatch cell tables to the two extractor families, write
  * the five entity CSVs in document order, fail on zero rows (A2,
  * `cli.py:198-201`).
  *
  * S7 multi-sink fan-out: both families render to one frame of CSV
  * lines tagged by entity ([[lines]]), and [[CsvSink]] writes all five
  * entities in one ordered, entity-partitioned write. The sink caches
  * those lines (its range partitioner samples them before the write
  * reads them) and counts each entity's rows (A2's count accumulation)
  * with an observation in the same write, so the extract runs once and
  * no separate count action follows; an entity with no rows reads 0.
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

  /** The entity fan-out of one extraction (`cli.py:183-194`): the
    * [[EtlConfig.Areas]] sinks in order, each with its configured
    * suffix and output headers, and one frame `(entity, seq, line)` of
    * every row rendered as a CSV record in its entity's column order.
    * The area family renders in ONE projection (a province has no
    * parent column), so the area extract is planned once. Raises
    * [[EtlConfig.ConfigError]] for a missing entity config or a header
    * count that differs from the entity's columns.
    */
  def lines(
      area: DataFrame,
      island: DataFrame,
      config: EtlConfig.Config): (DataFrame, Seq[CsvSink.Sink]) = {
    def dataCols(df: DataFrame) = df.columns.filterNot(_ == "seq").toSeq
    val sinks = EtlConfig.Areas.map { entityName =>
      val cols = dataCols(
        if (entityName == "island") island
        else AreaPipeline.entity(area, entityName))
      val cfg = config.data.getOrElse(entityName,
        throw EtlConfig.ConfigError(
          s"Missing or invalid configuration for area '$entityName'"))
      if (cfg.outputHeaders.length != cols.length)
        throw EtlConfig.ConfigError(s"header arity mismatch for " +
          s"$entityName: ${cfg.outputHeaders} vs $cols")
      CsvSink.Sink(entityName, cfg.filenameSuffix, cfg.outputHeaders)
    }
    def line(cols: String*) = CsvSink.line(cols.map(col): _*)
    val areaLines = area.select(col("entity"), col("seq"),
      when(col("entity") === "province", line("code", "name"))
        .otherwise(line("code", "parent_code", "name")).as("line"))
    val islandLines = island.select(lit("island").as("entity"), col("seq"),
      line(dataCols(island): _*).as("line"))
    (areaLines.unionByName(islandLines), sinks)
  }

  def run(
      cells: DataFrame,
      destination: String,
      outputName: String,
      config: EtlConfig.Config,
      // Scale-safe default: range-partitioned multi-file output (no
      // single-task total-sort drain). Pass singleFile=true explicitly
      // for reference-parity one-file-per-entity layout (the CLI does).
      singleFile: Boolean = false): Result = {
    val (area, island) = Dispatch.extractAll(cells)
    val (rendered, sinks) = lines(area, island, config)
    val written = CsvSink.write(rendered, sinks, destination, outputName,
      singleFile)
    val counts = sinks.map(_.entity).zip(written.map(_._2)).toMap
    if (counts.values.sum == 0)
      throw NoMatchingDataException("No matching data found")
    Result(counts, written.map(_._1))
  }
}
