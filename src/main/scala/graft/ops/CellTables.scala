package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.RawTableRow

/** Helpers for the cell-table ingest boundary (FIXTURES.md §1):
  * building `RawTableRow` DataFrames from in-memory grids (tests,
  * fixtures) and padding ragged tables.
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

  /** Enforce the rectangular-table invariant at an ingest boundary:
    * pad every row's `cells` with "" to its table's max width (exactly
    * what pandas does when camelot builds the frame — NaN-padding that
    * the reference's `.astype(str).strip()` reads as empty).
    *
    * The downstream pipelines ([[AreaPipeline.tableMeta]] keys the
    * variant projection off the header row's width) REQUIRE rectangular
    * input; parquet written by this engine and [[ofGrid]] fixtures
    * already guarantee it. Apply this only to sources that don't (e.g.
    * hand-written CellTsv files, which round-trip ragged widths
    * losslessly by design) — it costs one extra pass over the cell
    * stream (a tiny per-table max broadcast-joined back), which is
    * exactly the cost the top-rows-only metadata aggregate avoids on
    * trusted inputs.
    */
  def rectangularize(cells: DataFrame): DataFrame =
    cells.join(broadcast(cells.groupBy("table_id")
        .agg(max(size(col("cells"))).as("table_width"))), "table_id")
      .withColumn("cells",
        concat(col("cells"), array_repeat(lit(""),
          greatest(col("table_width") - size(col("cells")), lit(0)))))
      .drop("table_width")
}
