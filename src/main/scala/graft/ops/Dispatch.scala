package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** P3 first-match dispatch and the one extract pass (`cli.py:158-160,
  * 183-194`): each detected table goes to the first extractor whose
  * `matches()` fires, area before island, and is extracted once.
  *
  * [[tableMeta]], one per-table aggregate, tags every table with its
  * `route` (read from its top four rows) and carries what the row rules
  * and the sink need: the width, the island column indexes, the table's
  * seq range and the first kept seq of each province code in it. It
  * comes to the driver once per call ([[tables]], bounded by
  * [[MaxTables]]), where each province code's first occurrence over the
  * call's area tables is settled (A1). [[extract]] is then one typed
  * `flatMap` over the cells that looks its table up in that meta and
  * hands the row to its family's row rule — plain Scala functions
  * ([[AreaPipeline.row]], [[IslandPipeline.row]]) — keeping a province
  * only at its code's first occurrence: no join, no shuffle, no second
  * area pass.
  */
object Dispatch {

  /** The most tables one call brings to the driver. A table's meta is
    * about a hundred bytes plus its distinct province codes; the
    * 500k-row `EtlBench` corpus has 2,000 tables.
    */
  val MaxTables = 100000

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

  private val provinceCell = udf(AreaPipeline.provinceCell _)

  // (code, seq, row_idx) of each province code's first kept row in one
  // table: the area rule at the table's width over its candidate rows
  private val provincesUdf = udf { (width: java.lang.Integer, rows: Seq[Row]) =>
    if (width == null) Seq.empty[(String, Long, Int)]
    else rows.flatMap { r =>
      val c = Cell(0L, r.getInt(0), r.getLong(1),
        Option(r.getSeq[String](2)).map(_.toArray).orNull)
      AreaPipeline.row(c, width).filter(_.entity == "province")
        .map(e => (e.code, e.seq, c.row_idx))
    }.groupBy(_._1).values.map(_.minBy(p => (p._2, p._3))).toSeq
  }

  /** Per-table metadata, one row per table: (table_id, route,
    * table_width, header_idx, code_idx, name_idx, coord_idx,
    * status_idx, info_idx, min_seq, max_seq, provinces). `route` is
    * "area", "island" or null — area wins ties. `table_width` is the
    * widest row's cell count: the column count of the frame the
    * reference builds (`extractors.py:134-140`), so ragged rows pick the
    * same area name-column variant as their padded grid. The island
    * indexes are -1 when absent. `provinces` holds `(code, seq,
    * row_idx)` of each province code's first row the area rule keeps
    * at the table's width, whatever the route.
    *
    * One aggregate over every row: the width and seq range need them
    * all, while only the top four rows reach the route rule and only
    * rows whose stripped cell 0 has two code points reach the area rule
    * (`collect_list` skips the nulls of the rest).
    */
  def tableMeta(cells: DataFrame): DataFrame =
    cells.groupBy("table_id")
      .agg(
        max(size(col("cells"))).as("table_width"),
        min(col("seq")).as("min_seq"), max(col("seq")).as("max_seq"),
        collect_list(when(col("row_idx") < 4,
          struct(col("row_idx"), col("cells")))).as("top"),
        collect_list(when(col("row_idx") >= 2 &&
            provinceCell(get(col("cells"), lit(0))),
          struct(col("row_idx"), col("seq"), col("cells")))).as("candidates"))
      .withColumn("meta", metaUdf(col("top")))
      .select(col("table_id"), col("meta._1").as("route"),
        col("table_width"),
        col("meta._2").as("header_idx"), col("meta._3").as("code_idx"),
        col("meta._4").as("name_idx"), col("meta._5").as("coord_idx"),
        col("meta._6").as("status_idx"), col("meta._7").as("info_idx"),
        col("min_seq"), col("max_seq"),
        provincesUdf(col("table_width"), col("candidates")).as("provinces"))

  /** Per-table routing: (table_id, route). */
  def routes(cells: DataFrame): DataFrame =
    tableMeta(cells).select("table_id", "route")

  /** One table's [[tableMeta]] row on the driver. `family` is the row
    * rule the pass applies to it: its route, or a family forced on
    * every table.
    */
  final case class Meta(
      table_id: Long, family: String, table_width: Int, header_idx: Int,
      code_idx: Int, name_idx: Int, coord_idx: Int, status_idx: Int,
      info_idx: Int, min_seq: Long, max_seq: Long,
      provinces: Seq[(String, Long, Int)])

  /** The meta of the tables one call extracts. */
  final case class Tables(metas: Seq[Meta]) {

    /** The tables of `family`. */
    def of(family: String): Tables = Tables(metas.filter(_.family == family))

    /** The lowest and highest seq of the tables' rows; (0, 0) for none. */
    def seqRange: (Long, Long) =
      if (metas.isEmpty) (0L, 0L)
      else (metas.iterator.map(_.min_seq).min, metas.iterator.map(_.max_seq).max)

    /** Each province code's first kept row over the area tables, in
      * document order (A1, `extractors.py:110-112,166-169`), as its
      * (table_id, row_idx).
      */
    def firstProvinces: Map[String, (Long, Int)] =
      metas.iterator.filter(_.family == "area")
        .flatMap(m => m.provinces.map { case (code, seq, row) =>
          code -> (seq, m.table_id, row) })
        .toSeq.groupMapReduce(_._1)(_._2)(Ordering[(Long, Long, Int)].min)
        .map { case (code, (_, table, row)) => code -> (table, row) }
  }

  private val MetaEncoder = Encoders.product[Meta]

  /** The meta of every table of `cells` that `family` — a column over
    * [[tableMeta]], such as `col("route")` or `lit("area")` — gives a
    * row rule, collected to the driver. Tables it leaves null, and
    * tables with no width (every row's `cells` null), are left out.
    * More than `maxTables` such tables fail before any extract runs.
    */
  def tables(
      cells: DataFrame, family: Column, maxTables: Int = MaxTables): Tables = {
    val meta = tableMeta(cells).select(col("*"), family.as("family"))
      .filter(col("family").isNotNull && col("table_width").isNotNull)
      .drop("route").as(MetaEncoder)
    Tables(DriverCollect.collectBounded(meta, maxTables,
      "Dispatch.tables: the cell tables to extract",
      "extract fewer pages per run (RunEtl --pages) or pass a larger " +
        "maxTables").toSeq)
  }

  /** Every routed table extracted in one pass: (entity, code,
    * parent_code, name, seq, coordinate, is_populated,
    * is_outermost_small), one row per kept cell row, provinces deduped
    * to their first occurrence. An island's `regency_code` rides in
    * `parent_code`; the island columns are null on area rows.
    */
  def extract(cells: DataFrame): DataFrame =
    extract(cells, tables(cells, col("route")))

  /** [[extract]] over the tables of an earlier [[tables]] call. */
  def extract(cells: DataFrame, tables: Tables): DataFrame =
    pass(cells, tables, dedup = true)

  /** [[extract]] split by family: (area rows `(entity, code,
    * parent_code, name, seq)`, island rows in their output schema).
    * Each side's pass sees only the tables routed to it; the meta is
    * collected once for both.
    */
  def extractAll(cells: DataFrame): (DataFrame, DataFrame) = {
    val routed = tables(cells, col("route"))
    (AreaPipeline.shape(extract(cells, routed.of("area"))),
      IslandPipeline.shape(extract(cells, routed.of("island"))))
  }

  /** One cell row, the input of both row rules. */
  final case class Cell(
      table_id: Long, row_idx: Int, seq: Long, cells: Array[String]) {
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

  private val CellEncoder = Encoders.product[Cell]
  private val ExtractedEncoder = Encoders.product[Extracted]

  /** The per-row pass: each row of a table in `tables` goes through the
    * row rule of its table's family, in one typed `flatMap` whose table
    * lookup is a broadcast of the driver-side meta. With `dedup`, a
    * province is kept only at its code's first occurrence over the
    * area tables ([[Tables.firstProvinces]]). Rows of other tables are
    * dropped.
    */
  private[ops] def pass(
      cells: DataFrame, tables: Tables, dedup: Boolean): DataFrame = {
    val lookup = cells.sparkSession.sparkContext.broadcast((
      tables.metas.map(m => m.table_id -> m).toMap,
      if (dedup) Some(tables.firstProvinces) else None))
    cells.select(col("table_id"), col("row_idx"), col("seq"), col("cells"))
      .as(CellEncoder)
      .mapPartitions { rows =>
        val (metas, first) = lookup.value
        rows.flatMap(c => metas.get(c.table_id).flatMap { m =>
          if (m.family == "area")
            AreaPipeline.row(c, m.table_width).filter(e =>
              e.entity != "province" ||
                first.forall(_.get(e.code).contains((c.table_id, c.row_idx))))
          else IslandPipeline.row(c, m)
        })
      }(ExtractedEncoder)
      .toDF()
  }
}
