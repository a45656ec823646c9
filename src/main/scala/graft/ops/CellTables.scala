package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.RawTableRow

/** Helpers for the cell-table ingest boundary (FIXTURES.md §1):
  * building `RawTableRow` DataFrames from in-memory grids (tests,
  * fixtures). Ragged tables need no padding: the extractors size each
  * table by its widest row ([[Dispatch.tableMeta]]).
  */
object CellTables {

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
