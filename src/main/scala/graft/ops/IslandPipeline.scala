package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Cleanse, Coordinates}

/** Island extraction: cell tables -> island rows.
  * Reference: `extractors.py:179-298` (IslandExtractor), pinned by
  * `tests/test_extractors.py:491-710`.
  *
  * Header location and column inference happen in the shared per-table
  * aggregate [[Dispatch.tableMeta]], from the top 4 rows of each table;
  * the row rule ([[row]]) is one plain Scala function over one cell row
  * and its table's meta, which [[Dispatch.extract]] applies to the
  * tables routed to island, in the same typed pass as the area rule.
  */
object IslandPipeline {

  /** Header normalization (`extractors.py:188-190`):
    * `normalize_words(str(x)).strip().lower()` per cell.
    */
  def normHeaderRow(cells: Seq[String]): Seq[String] =
    cells.map(c => Cleanse.pyStrip(
      Cleanse.normalizeWordsScala(if (c == null) "" else c)).toLowerCase)

  /** P2 island-header predicate (`extractors.py:193-196`): some cell
    * contains "kode pulau", or equals "kode" while "pulau" appears
    * anywhere in the row.
    */
  def isIslandHeader(headers: Seq[String]): Boolean = {
    val joined = headers.mkString(" ")
    headers.exists(h => h.contains("kode pulau") ||
      (h == "kode" && joined.contains("pulau")))
  }

  /** P10 column inference (`extractors.py:205-242`): keyword -> index
    * with fallbacks. Returns -1 for "not found" (null-free so it can
    * ride a broadcast join as plain ints).
    */
  def inferColumns(headers: Seq[String]): IslandColumns = {
    // Left-most column matching the OR'd keyword predicate wins —
    // exactly the reference's `find_first` scan (`extractors.py:
    // 219-234`): there is NO keyword priority across columns, so e.g.
    // headers ["keterangan", "bp/tbp"] resolve status to column 0
    // (pinned by spec).
    def findFirst(pred: String => Boolean): Int = headers.indexWhere(pred)
    IslandColumns(
      code = findFirst(h => h.contains("kode") && h.contains("pulau")),
      name = findFirst(h => h.contains("nama")),
      coordinate = findFirst(h => h.contains("koordinat") || h.contains("kordinat")),
      status = findFirst(h => h.contains("bp/tbp") ||
        h == "bp" || h == "tbp" || h == "status" || h.contains("keterangan")),
      info = findFirst(h => h.contains("keterangan") || h == "ket"))
  }

  /** Inferred island column indexes; -1 = absent. */
  case class IslandColumns(
      code: Int, name: Int, coordinate: Int, status: Int, info: Int)

  /** P9 header locate (`extractors.py:252-263`): first row in the top
    * `maxScan` rows whose normalized cells match [[isIslandHeader]];
    * -1 when absent. `matches()` scans 3 rows (`extractors.py:199-201`),
    * extraction scans 4.
    */
  def headerIndex(topRows: Seq[(Int, Seq[String])], maxScan: Int): Int =
    topRows.sortBy(_._1).take(maxScan)
      .collectFirst { case (i, cells) if isIslandHeader(normHeaderRow(cells)) => i }
      .getOrElse(-1)

  /** Per-table metadata: (table_id, header_idx, code_idx, name_idx,
    * coord_idx, status_idx, info_idx), one row per table — the island
    * columns of [[Dispatch.tableMeta]]. `header_idx` is -1 when no
    * header appears in the top 4 rows.
    */
  def tableMeta(cells: DataFrame): DataFrame =
    Dispatch.tableMeta(cells).select("table_id", "header_idx", "code_idx",
      "name_idx", "coord_idx", "status_idx", "info_idx")

  /** `val()` (`extractors.py:269-272`): absent column or short row -> "";
    * else `str(cell).strip()` (Unicode strip).
    */
  private def cellAt(r: Dispatch.Cell, idx: Int): String =
    Cleanse.pyStrip(r.cell(idx))

  /** The island row rule (`extractors.py:252-298`) over one cell row
    * and its table's meta `m`. A row is kept below its table's header
    * (found in the top 4 rows, `extractors.py:252-263`), with a code of
    * the island format (`extractors.py:274-276`).
    *
    *  - name: cleansed, with the F8 name-equals-code rescue
    *    (`extractors.py:279-284`); the reference's
    *    `(colmap["code"] or 0) + 1` quirk maps 0 -> 1 too;
    *  - parent: "NN.RR" of "NN.RR.XXXXX", "" when RR is "00" (F6,
    *    `extractors.py:244-248,292`);
    *  - is_populated: the upper-cased status matches `^\s*BP\b`, so
    *    `BP` is 1 and `TBP` is 0; is_outermost_small: the upper-cased
    *    info contains "PPKT" (F5, `extractors.py:287-291`).
    */
  def row(r: Dispatch.Cell, m: Dispatch.Meta): Option[Dispatch.Extracted] = {
    if (m.header_idx < 0 || r.row_idx <= m.header_idx) return None
    val code = cellAt(r, m.code_idx)
    if (!Cleanse.IslandCode.matcher(code).find()) return None
    val nameClean = Cleanse.cleanseIslandName(cellAt(r, m.name_idx))
    val name =
      if (nameClean != code) nameClean
      else {
        val next = Cleanse.cleanseIslandName(
          cellAt(r, if (m.code_idx >= 0) m.code_idx + 1 else 1))
        if (next.nonEmpty && next != code) next else nameClean
      }
    // the code matched the ASCII island pattern: 11 chars
    val parent = if (code.substring(3, 5) == "00") "" else code.substring(0, 5)
    val status = Cleanse.upperCase(cellAt(r, m.status_idx))
    val info = Cleanse.upperCase(cellAt(r, m.info_idx))
    Some(Dispatch.Extracted("island", code, parent, name, r.seq,
      Coordinates.formatCoordinateScala(cellAt(r, m.coord_idx)),
      Some(if (Cleanse.Populated.matcher(status).find()) 1 else 0),
      Some(if (info.contains("PPKT")) 1 else 0)))
  }

  private[ops] def shape(rows: DataFrame): DataFrame =
    rows.select(col("code"), col("parent_code").as("regency_code"),
      col("coordinate"), col("is_populated"), col("is_outermost_small"),
      col("name"), col("seq"))

  /** The island extractor called directly, as the reference's unit
    * tests do: every table with a header in its top 4 rows, routed
    * there or not. Output: (code, regency_code, coordinate,
    * is_populated, is_outermost_small, name, seq).
    */
  def extract(cells: DataFrame): DataFrame =
    shape(Dispatch.extract(cells, Dispatch.tables(cells, lit("island"))))
}
