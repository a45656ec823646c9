package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** P3 first-match dispatch (`cli.py:158-160,183-191`): each detected
  * table goes to the first extractor whose `matches()` fires, area
  * before island. The rule lives in ONE place, [[tableMeta]]: one
  * per-table aggregate tags every table with its `route` (read from
  * its top four rows) and carries the metadata both extractors need.
  * Each family broadcast-joins that meta, filtered to its own route,
  * onto the cell stream — the join that feeds the extractor is also
  * the dispatch, so each family sees only its own tables and pays one
  * meta aggregate.
  */
object Dispatch {

  // (route, header_idx, code_idx, name_idx, coord_idx, status_idx,
  // info_idx) as a plain tuple — tuples stay inside whole-stage codegen
  // where a nested case class would fall back to interpreted evaluation.
  private val metaUdf = udf { (rows: Seq[Row]) =>
    val top = rows.map(r =>
      (r.getInt(0), Option(r.getSeq[String](1)).getOrElse(Nil)))
    // area's matches() reads row 0; island's scans 3 rows, while
    // island extraction locates its header in 4 (`extractors.py:
    // 114-122,199-201,252-263`)
    val isArea = top.exists { case (i, c) =>
      i == 0 && AreaPipeline.matchesHeader(c) }
    val h4 = IslandPipeline.headerIndex(top, 4)
    val route =
      if (isArea) "area"
      else if (IslandPipeline.headerIndex(top, 3) >= 0) "island"
      else null
    if (h4 < 0) (route, -1, -1, -1, -1, -1, -1)
    else {
      val cols = IslandPipeline.inferColumns(
        IslandPipeline.normHeaderRow(top.find(_._1 == h4).get._2))
      (route, h4, cols.code, cols.name, cols.coordinate, cols.status,
        cols.info)
    }
  }

  /** Per-table metadata, one row per table (small enough to
    * broadcast): (table_id, route, table_width, header_idx, code_idx,
    * name_idx, coord_idx, status_idx, info_idx). `route` is "area",
    * "island" or null — area wins ties. `table_width` is the widest
    * row's cell count: the column count of the frame the reference
    * builds (`extractors.py:134-140`), so ragged rows pick the same
    * area name-column variant as their padded grid. The island indexes
    * are -1 when absent.
    *
    * One aggregate over every row: the width needs them all, while
    * only the top four rows reach the route rule (`collect_list` skips
    * the nulls of the rest).
    */
  def tableMeta(cells: DataFrame): DataFrame =
    cells.groupBy("table_id")
      .agg(
        max(size(col("cells"))).as("table_width"),
        collect_list(when(col("row_idx") < 4,
          struct(col("row_idx"), col("cells")))).as("top"))
      .withColumn("meta", metaUdf(col("top")))
      .select(col("table_id"), col("meta._1").as("route"),
        col("table_width"),
        col("meta._2").as("header_idx"), col("meta._3").as("code_idx"),
        col("meta._4").as("name_idx"), col("meta._5").as("coord_idx"),
        col("meta._6").as("status_idx"), col("meta._7").as("info_idx"))

  /** Per-table routing: (table_id, route). */
  def routes(cells: DataFrame): DataFrame =
    tableMeta(cells).select("table_id", "route")

  /** Dispatch + extract both families. Returns (area tagged rows,
    * island rows); each side only sees tables routed to it.
    */
  def extractAll(cells: DataFrame): (DataFrame, DataFrame) = {
    val meta = tableMeta(cells)
    def routed(family: String) = Some(meta.filter(col("route") === family))
    (AreaPipeline.extract(cells, precomputedMeta = routed("area")),
      IslandPipeline.extract(cells, precomputedMeta = routed("island")))
  }

  /** [[extractAll]] over a SHARED one-exchange materialization of the
    * cell stream. Each family needs the stream at least twice (the
    * per-table meta aggregate and the extract pass; the area side a
    * third time for the province-dedup split), and when `cells` is a
    * COMPUTED frame — a synthesized fixture, a join product, anything
    * without scan-level pushdown — every branch re-runs the whole
    * upstream pipeline. Here the stream goes through one
    * repartition exchange that AQE's ReuseExchange serves to every
    * branch, so the upstream runs exactly once.
    *
    * Keep plain [[extractAll]] for scanned sources (parquet, the
    * CellTsv DSv2 path): there each branch re-reads only the columns it
    * needs — far cheaper than forcing the full stream through an
    * exchange. (The multi-sink [[ExtractJob]] needs neither: its one
    * write reads the rendered lines from [[graft.io.CsvSink]]'s cache.)
    *
    * Barrier mechanics (the same canonical-equality discipline as the
    * tfidf/surprisal exchange reuse in
    * [[graft.ops.TextAnalysis.tfidfTopTerms]]): branch subtrees only
    * reuse an exchange if they stay canonically EQUAL, so the filter
    * above the repartition is ONE indivisible nondeterministic
    * always-true conjunct ([[graft.functions.OpaqueTrueExpr]]) that
    * both stops branch-specific predicates from being pushed across
    * the exchange AND references every cell column, so per-branch
    * column pruning (e.g. the province-dedup branch needing `seq`
    * where the meta aggregate does not) cannot make the exchange
    * subtrees diverge. The filter is a runtime no-op.
    */
  def extractAllShared(cells: DataFrame): (DataFrame, DataFrame) = {
    val shared = cells
      .repartition(cells.sparkSession.sparkContext.defaultParallelism)
      .where(graft.functions.CurationExprs.opaqueTrue(
        col("table_id"), col("page"), col("row_idx"), col("seq"),
        col("cells")))
    extractAll(shared)
  }
}
