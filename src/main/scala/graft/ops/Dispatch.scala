package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** P3 first-match dispatch and the one extract pass (`cli.py:158-160,
  * 183-194`): each detected table goes to the first extractor whose
  * `matches()` fires, area before island, and is extracted once.
  * [[tableMeta]], one per-table aggregate, tags every table with its
  * `route` (read from its top four rows) and carries the metadata both
  * row rules need. [[extract]] broadcast-joins it onto the cell stream
  * on `table_id` alone and hands each joined row to its route's row
  * rule — a plain Scala function, one per family, in one typed
  * `flatMap` — so the join that feeds the row rules is also the
  * dispatch. The one stream shuffle is the province first-occurrence
  * window (A1).
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

  /** Every routed table extracted in one pass: (entity, code,
    * parent_code, name, seq, coordinate, is_populated,
    * is_outermost_small), one row per kept cell row, provinces deduped
    * to their first occurrence. An island's `regency_code` rides in
    * `parent_code`; the island columns are null on area rows. The
    * province branch passes only the area tables, so only the area rule
    * runs there; both branches read the one meta aggregate.
    */
  def extract(cells: DataFrame): DataFrame =
    firstProvinces(pass(cells, routed("area")), pass(cells, col("route")))

  /** [[extract]] split by family: (area rows `(entity, code,
    * parent_code, name, seq)`, island rows in their output schema).
    * Each side's pass sees only the tables routed to it.
    */
  def extractAll(cells: DataFrame): (DataFrame, DataFrame) = {
    val area = pass(cells, routed("area"))
    (AreaPipeline.shape(firstProvinces(area, area)),
      IslandPipeline.shape(pass(cells, routed("island"))))
  }

  /** The family of the tables routed to `family`, null for the rest: a
    * pass over it runs only that family's rule.
    */
  private def routed(family: String): Column =
    when(col("route") === family, family)

  /** One row of `cells ⋈ meta`, the input of both row rules. */
  final case class Joined(
      family: String, row_idx: Int, seq: Long, cells: Array[String],
      table_width: Int, header_idx: Int, code_idx: Int, name_idx: Int,
      coord_idx: Int, status_idx: Int, info_idx: Int) {
    /** Cell `i` (0-based): "" when `i` is negative, past the row's end
      * or a null cell, as `coalesce(get(cells, i), "")` reads it.
      */
    def cell(i: Int): String =
      if (cells == null || i < 0 || i >= cells.length || cells(i) == null) ""
      else cells(i)
  }

  /** One extracted row: [[extract]]'s output schema. The island
    * columns are null on area rows.
    */
  final case class Extracted(
      entity: String, code: String, parent_code: String, name: String,
      seq: Long, coordinate: String = null,
      is_populated: Option[Int] = None,
      is_outermost_small: Option[Int] = None)

  private val JoinedEncoder = Encoders.product[Joined]
  private val ExtractedEncoder = Encoders.product[Extracted]

  /** The per-row pass, before the province dedup: each row of
    * `cells ⋈ broadcast(meta)` goes through the row rule of its
    * `family` — the table's route, or a literal that forces one family
    * on every table, as the reference's unit tests call an extractor
    * directly. The rules are plain Scala functions
    * ([[AreaPipeline.row]], [[IslandPipeline.row]]) in one typed
    * `flatMap`, so a pass cleanses each cell once and the generated code
    * around them stays small enough for the JIT. Rows of unrouted
    * tables, and of tables with no width (every row's `cells` null),
    * are dropped before the rules.
    */
  private[ops] def pass(cells: DataFrame, family: Column): DataFrame =
    cells.join(broadcast(tableMeta(cells)), "table_id")
      .filter(family.isNotNull && col("table_width").isNotNull)
      .select(family.as("family"), col("row_idx"), col("seq"), col("cells"),
        col("table_width"), col("header_idx"), col("code_idx"),
        col("name_idx"), col("coord_idx"), col("status_idx"),
        col("info_idx"))
      .as(JoinedEncoder)
      .flatMap { r =>
        if (r.family == "area") AreaPipeline.row(r)
        else IslandPipeline.row(r)
      }(ExtractedEncoder)
      .toDF()

  /** The provinces of `provinces`, deduped to their first occurrence in
    * document order (A1, `extractors.py:110-112,166-169`), and the other
    * rows of `rest`. The window shuffles only the (tiny) province
    * stream, partitioned by code — parallel across codes, no global
    * sort; a single `when()` over all rows would shuffle the whole
    * stream.
    */
  private[ops] def firstProvinces(
      provinces: DataFrame, rest: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("code")).orderBy(col("seq"))
    provinces.filter(col("entity") === "province")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .unionByName(rest.filter(col("entity") =!= "province"))
  }
}
