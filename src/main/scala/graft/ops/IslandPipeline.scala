package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Cleanse, Coordinates}

/** Island extraction pipeline: cell tables -> island rows.
  * Reference: `extractors.py:179-298` (IslandExtractor), pinned by
  * `tests/test_extractors.py:491-710`.
  *
  * Scale design mirrors [[AreaPipeline]]: header location + column
  * inference happen in the shared per-table aggregate
  * [[Dispatch.tableMeta]], from the top 4 rows of each table,
  * broadcast back onto the stream; the row shaping is a single
  * codegen'd projection.
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
  private def cellAt(idx: Column): Column =
    Cleanse.pyTrim(coalesce(
      when(idx >= 0, get(col("cells"), idx)), lit("")))

  /** Full pipeline (`extractors.py:250-298`): locate header, infer
    * columns, shape rows. Output:
    * (code, regency_code, coordinate, is_populated, is_outermost_small,
    * name, seq) in document order via seq.
    *
    * Like the reference's extractor called directly (as its unit tests
    * do), this processes every table with a header in its top 4 rows.
    * The dispatched pipeline passes [[Dispatch.tableMeta]] filtered to
    * the island route as `precomputedMeta`, which also applies the
    * dispatcher's 3-row `matches()` rule (`cli.py:183-191`).
    */
  def extract(
      cells: DataFrame,
      precomputedMeta: Option[DataFrame] = None): DataFrame = {
    val meta = precomputedMeta.getOrElse(tableMeta(cells))
      .filter(col("header_idx") >= 0)

    val withMeta = cells.join(broadcast(meta), "table_id")
      .filter(col("row_idx") > col("header_idx"))

    val rawCode = cellAt(col("code_idx"))
    val rawName = cellAt(col("name_idx"))
    val nameClean = Cleanse.cleanseIslandName(rawName)
    // F8 name-equals-code rescue (`extractors.py:279-284`); the
    // reference's `(colmap["code"] or 0) + 1` quirk maps 0 -> 1 too.
    val nextIdx = when(col("code_idx") >= 0, col("code_idx") + 1).otherwise(1)
    val nextClean = Cleanse.cleanseIslandName(cellAt(nextIdx))
    val name = when(nameClean === col("code") &&
        nextClean =!= "" && nextClean =!= col("code"), nextClean)
      .otherwise(nameClean)

    withMeta
      .withColumn("code", rawCode)
      .filter(col("code") =!= "" && col("code").rlike(Cleanse.IslandCodeRegex))
      .select(
        col("code"),
        Cleanse.islandParentCode(col("code")).as("regency_code"),
        Coordinates.formatCoordinate(cellAt(col("coord_idx")))
          .as("coordinate"),
        Cleanse.isPopulated(upper(cellAt(col("status_idx"))))
          .as("is_populated"),
        Cleanse.isOutermostSmall(upper(cellAt(col("info_idx"))))
          .as("is_outermost_small"),
        name.as("name"),
        col("seq"))
  }
}
