package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cleanse

/** Area extraction: cell tables -> province/regency/district/village
  * rows. Reference: `extractors.py:103-176` (AreaExtractor), pinned by
  * `tests/test_extractors.py:405-488`.
  *
  * The row rule is a set of `Column` builders over one row of
  * `cells ⋈ meta`; [[Dispatch.extract]] applies it to the tables routed
  * to area, in the same projection as the island rule. The only
  * per-table metadata it reads is the table width.
  */
object AreaPipeline {

  /** P1 table-match predicate (`extractors.py:114-122`): row-0 headers,
    * de-kerned + lowered; `len>=2 && h(0)=="kode" &&
    * h(1).contains("nama provinsi")`.
    */
  def matchesHeader(headers: Seq[String]): Boolean = {
    val norm = headers.map(h =>
      Cleanse.normalizeWordsScala(if (h == null) "" else h).toLowerCase)
    norm.length >= 2 && norm.head == "kode" &&
      norm(1).contains("nama provinsi")
  }

  /** Per-table metadata DF: (table_id, table_width, is_area), one row
    * per table — the area columns of [[Dispatch.tableMeta]], whose
    * route tags `is_area`. `table_width` is the widest row's cell
    * count, so a ragged table extracts as its padded grid.
    */
  def tableMeta(cells: DataFrame): DataFrame =
    Dispatch.tableMeta(cells).select(col("table_id"), col("table_width"),
      (col("route") <=> "area").as("is_area"))

  // `get` is 0-based and null-safe for ragged rows (ANSI mode on).
  private def cell(i: Int): Column = coalesce(get(col("cells"), lit(i)), lit(""))

  private def nonEmpty(c: Column): Column = {
    val t = Cleanse.pyTrim(c)
    when(t === "", lit(null)).otherwise(t)
  }

  /** Code (`extractors.py:124-155`): cell 0, trimmed. */
  private[ops] def code: Column = Cleanse.pyTrim(cell(0))

  /** Name (`extractors.py:134-151`): the first non-empty of the
    * width-dependent candidates (width 6 -> cols {1,3}; width >= 7 ->
    * {1,4,5,6}), cleansed.
    */
  private[ops] def name: Column = {
    val w = col("table_width")
    val picked =
      when(w === 6, coalesce(nonEmpty(cell(1)), nonEmpty(cell(3))))
        .when(w >= 7, coalesce(nonEmpty(cell(1)), nonEmpty(cell(4)),
          nonEmpty(cell(5)), nonEmpty(cell(6))))
    Cleanse.cleanseName(coalesce(picked, lit("")))
  }

  /** Whether a row is kept (`extractors.py:124-176`): below the two
    * header rows of a width-6 or width->=7 table, with a non-empty name
    * and a code of an area length. Width 2-5 tables raise IndexError in
    * the reference and are skipped by the CLI's per-table error
    * isolation (`cli.py:190-191`) — here they simply produce no rows.
    */
  private[ops] def kept: Column = {
    val w = col("table_width")
    col("row_idx") >= 2 && (w === 6 || w >= 7) &&
      length(code).isin(Cleanse.ProvinceCodeLength, Cleanse.RegencyCodeLength,
        Cleanse.DistrictCodeLength, Cleanse.VillageCodeLength) &&
      name =!= ""
  }

  /** A kept row's entity by code length (`extractors.py:164-176`): 2
    * province, 5 regency, 8 district, 13 village.
    */
  private[ops] def entityOf(code: Column): Column = {
    val len = length(code)
    when(len === Cleanse.ProvinceCodeLength, "province")
      .when(len === Cleanse.RegencyCodeLength, "regency")
      .when(len === Cleanse.DistrictCodeLength, "district")
      .otherwise("village")
  }

  /** Parent prefix by code length (`extractors.py:171-175`); null for a
    * province.
    */
  private[ops] def parentCode(code: Column): Column = {
    val len = length(code)
    when(len === Cleanse.RegencyCodeLength,
      Cleanse.parentPrefix(code, Cleanse.ProvinceCodeLength))
      .when(len === Cleanse.DistrictCodeLength,
        Cleanse.parentPrefix(code, Cleanse.RegencyCodeLength))
      .when(len === Cleanse.VillageCodeLength,
        Cleanse.parentPrefix(code, Cleanse.DistrictCodeLength))
  }

  private[ops] def shape(rows: DataFrame): DataFrame =
    rows.select("entity", "code", "parent_code", "name", "seq")

  /** The area extractor called directly, as the reference's unit tests
    * do: every table goes through the area rule, matched or not.
    * Output: (entity, code, parent_code, name, seq); a province's
    * parent_code is null.
    */
  def extract(cells: DataFrame): DataFrame = {
    val rows = Dispatch.pass(cells, lit("area"))
    shape(Dispatch.firstProvinces(rows, rows))
  }

  /** One entity stream, shaped to its output schema (SURVEY §1.2):
    * (code, <parent>_code, name, seq); provinces have no parent.
    */
  def entity(extracted: DataFrame, name: String): DataFrame = {
    val parent = name match {
      case "province" => None
      case "regency" => Some("province_code")
      case "district" => Some("regency_code")
      case "village" => Some("district_code")
      case other =>
        throw new IllegalArgumentException(s"unknown area entity: $other")
    }
    extracted.filter(col("entity") === name).select(
      (col("code") +: parent.map(col("parent_code").as(_)).toSeq) ++
        Seq(col("name"), col("seq")): _*)
  }
}
