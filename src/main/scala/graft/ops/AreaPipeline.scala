package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Cleanse

/** Area extraction: cell tables -> province/regency/district/village
  * rows. Reference: `extractors.py:103-176` (AreaExtractor), pinned by
  * `tests/test_extractors.py:405-488`.
  *
  * The row rule ([[row]]) is one plain Scala function over one cell row
  * and its table's width, the only per-table metadata it reads.
  * [[Dispatch.extract]] applies it to the tables routed to area, in the
  * same typed pass as the island rule; [[Dispatch.tableMeta]] applies it
  * to each table's province candidates ([[provinceCell]]), so the
  * province first-occurrence dedup (A1) is settled from the meta with no
  * second pass over the cells.
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

  /** Name candidates by table width (`extractors.py:134-151`): width 6
    * -> cols {1,3}; width >= 7 -> {1,4,5,6}.
    */
  private val NameColumns6 = Array(1, 3)
  private val NameColumns7 = Array(1, 4, 5, 6)

  /** Whether a row whose cell 0 is `cell0` can be a province: cell 0
    * has two code points once stripped. The rows [[Dispatch.tableMeta]]
    * runs [[row]] on to find each table's first provinces.
    */
  def provinceCell(cell0: String): Boolean = cell0 != null && {
    val code = Cleanse.pyStrip(cell0)
    code.codePointCount(0, code.length) == Cleanse.ProvinceCodeLength
  }

  /** The area row rule (`extractors.py:124-176`) over one cell row of a
    * table `w` cells wide. A row is kept below the two header rows of a
    * width-6 or width->=7 table, with a code of an area length and a
    * non-empty name. Width 2-5 tables raise IndexError in the reference
    * and are skipped by the CLI's per-table error isolation
    * (`cli.py:190-191`) — here they simply produce no rows.
    *
    *  - code: cell 0, stripped; its length in code points picks the
    *    entity (2 province, 5 regency, 8 district, 13 village) and the
    *    parent prefix (`extractors.py:164-176`); a province has none;
    *  - name: the first non-empty stripped candidate, cleansed.
    */
  def row(r: Dispatch.Cell, w: Int): Option[Dispatch.Extracted] = {
    if (r.row_idx < 2 || w < 6) return None
    val code = Cleanse.pyStrip(r.cell(0))
    val (entity, parentLen) = code.codePointCount(0, code.length) match {
      case Cleanse.ProvinceCodeLength => ("province", 0)
      case Cleanse.RegencyCodeLength => ("regency", Cleanse.ProvinceCodeLength)
      case Cleanse.DistrictCodeLength => ("district", Cleanse.RegencyCodeLength)
      case Cleanse.VillageCodeLength => ("village", Cleanse.DistrictCodeLength)
      case _ => return None
    }
    val picked = (if (w == 6) NameColumns6 else NameColumns7).iterator
      .map(i => Cleanse.pyStrip(r.cell(i))).find(_.nonEmpty).getOrElse("")
    val name = Cleanse.cleanseName(picked)
    if (name.isEmpty) None
    else {
      val parent =
        if (parentLen == 0) null
        else code.substring(0, code.offsetByCodePoints(0, parentLen))
      Some(Dispatch.Extracted(entity, code, parent, name, r.seq))
    }
  }

  private[ops] def shape(rows: DataFrame): DataFrame =
    rows.select("entity", "code", "parent_code", "name", "seq")

  /** The area extractor called directly, as the reference's unit tests
    * do: every table goes through the area rule, matched or not, and a
    * province is kept at its code's first occurrence over all of them.
    * Output: (entity, code, parent_code, name, seq); a province's
    * parent_code is null.
    */
  def extract(cells: DataFrame): DataFrame =
    shape(Dispatch.extract(cells, Dispatch.tables(cells, lit("area"))))

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
