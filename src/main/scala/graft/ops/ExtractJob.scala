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
  * S7 multi-sink fan-out: BOTH extracted frames (area-tagged, island)
  * are cached once; the five entity projections write from the caches —
  * one scan of the cell input per extract family, five cheap filtered
  * writes (entities have different schemas, so separate writes, per
  * SURVEY §2.1).
  *
  * Row counts (A2's count accumulation) are taken ONCE, after all
  * five writes, by one action over the already-populated caches: the
  * area frame's rows grouped by entity plus the island rows. It reads
  * memory, not the source, so the extract pipelines execute exactly
  * once; an entity with no rows reads 0. (A `Dataset.observe` metric
  * was tried and rejected: the ordered write's range-partitioner
  * sampling pass evaluates the plan a second time and double-counts
  * the metric.)
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
    * [[EtlConfig.Areas]] frames in order, each paired with its config
    * and renamed to the configured output headers. `seq` rides along
    * for document order; island flags stay Int (CsvSink casts every
    * column to string at write, matching the reference's
    * stringify-at-serialize).
    */
  def entityFrames(
      area: DataFrame,
      island: DataFrame,
      config: EtlConfig.Config)
      : Seq[(String, EtlConfig.DataConfig, DataFrame)] =
    EtlConfig.Areas.map { entityName =>
      val df =
        if (entityName == "island") island
        else AreaPipeline.entity(area, entityName)
      val cfg = config.data.getOrElse(entityName,
        throw EtlConfig.ConfigError(
          s"Missing or invalid configuration for area '$entityName'"))
      val headers = cfg.outputHeaders
      val dataCols = df.columns.filterNot(_ == "seq")
      if (headers.length != dataCols.length)
        throw EtlConfig.ConfigError(
          s"header arity mismatch for $entityName: " +
            s"$headers vs ${dataCols.toSeq}")
      (entityName, cfg, df.select(
        (dataCols.zip(headers).map { case (c, h) => col(c).as(h) } :+
          col("seq")).toIndexedSeq: _*))
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
    val areaCached = area.cache()
    val islandCached = island.cache()
    try {
      val files = entityFrames(areaCached, islandCached, config).map {
        case (_, cfg, df) =>
          CsvSink.write(df, destination, outputName,
            cfg.filenameSuffix, singleFile)
      }
      // caches are hot after the writes; this one action never hits
      // the source
      val byEntity = areaCached.groupBy(col("entity")).count()
        .union(islandCached.groupBy(lit("island").as("entity")).count())
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val counts = EtlConfig.Areas
        .map(e => e -> byEntity.getOrElse(e, 0L)).toMap
      if (counts.values.sum == 0)
        throw NoMatchingDataException("No matching data found")
      Result(counts, files)
    } finally {
      areaCached.unpersist()
      islandCached.unpersist()
    }
  }
}
