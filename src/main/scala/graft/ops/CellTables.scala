package graft.ops

import scala.util.Using
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType
import graft.schema.RawTableRow

/** The cell-table ingest boundary (FIXTURES.md §1): its fixed Spark
  * schema, the checked parquet reader the CLI uses, and `RawTableRow`
  * DataFrames built from in-memory grids (tests, fixtures). Ragged
  * tables need no padding: the extract sizes each table by its widest
  * row ([[Dispatch.tableMeta]]).
  */
object CellTables {

  /** [[RawTableRow]] as a Spark schema. Readers declare it, so no read
    * runs a schema-inference job.
    */
  val Schema: StructType = Encoders.product[RawTableRow].schema

  /** A cell-table input whose columns differ from [[Schema]]. */
  final case class SchemaError(message: String)
      extends RuntimeException(message)

  /** The cell-table parquet at `path`, read with [[Schema]]. A declared
    * schema reads a missing column as nulls, so the footer of its first
    * data file is checked on the driver first, with no Spark job: a
    * column it lacks (and no `name=value` directory supplies) or types
    * otherwise raises [[SchemaError]] naming the column.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) {
      val prefix = fs.makeQualified(root).toString
      def under(p: Path) =
        p.toString.stripPrefix(prefix).split('/').toSeq.filter(_.nonEmpty)
      val files = fs.listFiles(root, true)
      val first = Iterator.continually(files).takeWhile(_.hasNext)
        .map(_.next().getPath)
        .find(!under(_).exists(s => s.startsWith("_") || s.startsWith(".")))
      for (file <- first) {
        val footer = Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(file, conf)))(_.getFooter)
        val found = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(footer.getFileMetaData.getSchema)
        val fromDirs = under(file).dropRight(1).map(_.takeWhile(_ != '='))
        for (want <- Schema if !fromDirs.contains(want.name)) {
          val expected = want.dataType.simpleString
          found.find(_.name == want.name) match {
            case None => throw SchemaError(
              s"$path: cell input lacks column '${want.name}' ($expected)")
            case Some(got) if got.dataType.simpleString != expected =>
              throw SchemaError(s"$path: cell input column " +
                s"'${want.name}' is ${got.dataType.simpleString}, " +
                s"expected $expected")
            case _ =>
          }
        }
      }
    }
    spark.read.schema(Schema).parquet(path)
  }

  /** Build a cell-table DataFrame from one in-memory grid (a fabricated
    * camelot-shaped table, cf. reference `tests/test_extractors.py:108-403`).
    * Rows are padded to uniform width with "" — pandas pads ragged rows
    * with NaN which the reference's `.astype(str).strip()` pipeline then
    * treats as non-matching; empty string is the faithful analog for
    * every column the extractors actually read.
    */
  def ofGrid(
      spark: SparkSession,
      grid: Seq[Seq[String]],
      tableId: Long = 0L,
      page: Int = 1,
      seqStart: Long = 0L): DataFrame = {
    import spark.implicits._
    val width = if (grid.isEmpty) 0 else grid.map(_.length).max
    grid.zipWithIndex.map { case (row, i) =>
      RawTableRow(tableId, page, i, seqStart + i,
        row.padTo(width, ""))
    }.toDF()
  }

  /** Multiple grids as one document, table ids and seq assigned in
    * document order (the chunk-loop analog, `cli.py:170-194`).
    */
  def ofGrids(spark: SparkSession, grids: Seq[Seq[Seq[String]]]): DataFrame = {
    var seq = 0L
    val dfs = grids.zipWithIndex.map { case (g, id) =>
      val df = ofGrid(spark, g, id.toLong, 1, seq)
      seq += g.length
      df
    }
    if (dfs.isEmpty) ofGrid(spark, Nil)
    else dfs.reduce(_ unionByName _)
  }
}
