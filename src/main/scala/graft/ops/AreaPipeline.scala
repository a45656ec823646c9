package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cleanse

/** Area extraction pipeline: cell tables -> province/regency/district/
  * village rows. Reference: `extractors.py:103-176` (AreaExtractor),
  * pinned by `tests/test_extractors.py:405-488`.
  *
  * Scale design: the only per-table metadata needed is the table width,
  * which comes from the shared per-table aggregate [[Dispatch.tableMeta]]
  * (one row per detected table — thousands of rows at 100 TB, not
  * billions), broadcast-joined back onto the full cell stream.
  * Everything else is codegen'd Project/Filter; the one shuffle is the
  * province first-occurrence dedup window, partitioned by code
  * (per-code ordering only — parallel across codes).
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

  private def nonEmpty(c: Column): Column = {
    val t = Cleanse.pyTrim(c)
    when(t === "", lit(null)).otherwise(t)
  }

  /** The code/name pair extraction (`extractors.py:124-155`):
    * skip 2 header rows; trim code col 0; variant-dependent name
    * candidates (width 6 -> cols {1,3}; width >=7 -> {1,4,5,6});
    * row-wise first-non-empty coalesce; cleanse chain; non-empty mask.
    *
    * Width 2-5 tables raise IndexError in the reference and are skipped
    * by the CLI's per-table error isolation (`cli.py:190-191`) — here
    * they simply produce no rows.
    *
    * Input must have (table_id, row_idx, seq, cells); output
    * (code, name, seq).
    */
  def codeNamePairs(
      cells: DataFrame,
      precomputedMeta: Option[DataFrame] = None): DataFrame = {
    // Dispatch passes its meta, already filtered to the area route; the
    // inner broadcast join drops rows for tables not in it. The
    // reference separates matches() (the dispatch gate,
    // `cli.py:183-191`) from _extract_rows (no gate) — direct extraction
    // processes any table, like its unit tests do.
    val meta = precomputedMeta.getOrElse(tableMeta(cells))
    // width gating happens once, below: `=== 6 || >= 7` subsumes any
    // minimum-width check
    val withMeta = cells
      .join(broadcast(meta), "table_id")
      .filter(col("row_idx") >= 2)

    // `get` is 0-based and null-safe for ragged rows (ANSI mode on).
    def cell(i: Int): Column = coalesce(get(col("cells"), lit(i)), lit(""))

    val code = Cleanse.pyTrim(cell(0))
    val picked6 = coalesce(nonEmpty(cell(1)), nonEmpty(cell(3)))
    val picked7 = coalesce(nonEmpty(cell(1)), nonEmpty(cell(4)),
      nonEmpty(cell(5)), nonEmpty(cell(6)))
    val picked = when(col("table_width") === 6, picked6)
      .when(col("table_width") >= 7, picked7)
      .otherwise(lit(null))
    val name = Cleanse.cleanseName(coalesce(picked, lit("")))

    withMeta
      .filter(col("table_width") === 6 || col("table_width") >= 7)
      .select(code.as("code"), name.as("name"), col("seq"))
      .filter(col("code") =!= "" && col("name") =!= "")
  }

  /** Code-length classification + parent prefixes (`extractors.py:164-176`):
    * 2->province, 5->regency(+code[:2]), 8->district(+code[:5]),
    * 13->village(+code[:8]); other lengths dropped. Province rows are
    * first-occurrence-deduped in document order (A1) — Window partitioned
    * by code, ordered by seq: parallel across codes, no global sort.
    *
    * Output: (entity, code, parent_code, name, seq); province parent_code
    * is null.
    */
  def classify(pairs: DataFrame): DataFrame = {
    val L = length(col("code"))
    val tagged = pairs.withColumn("entity",
      when(L === Cleanse.ProvinceCodeLength, "province")
        .when(L === Cleanse.RegencyCodeLength, "regency")
        .when(L === Cleanse.DistrictCodeLength, "district")
        .when(L === Cleanse.VillageCodeLength, "village"))
      .filter(col("entity").isNotNull)
      .withColumn("parent_code",
        when(col("entity") === "regency",
          Cleanse.parentPrefix(col("code"), Cleanse.ProvinceCodeLength))
          .when(col("entity") === "district",
            Cleanse.parentPrefix(col("code"), Cleanse.RegencyCodeLength))
          .when(col("entity") === "village",
            Cleanse.parentPrefix(col("code"), Cleanse.DistrictCodeLength)))

    // A1: first occurrence in document order, provinces only. Split so
    // the dedup window shuffles *only* the (tiny) province stream — a
    // single when() would force a whole-stream Window shuffle.
    val w = Window.partitionBy(col("code")).orderBy(col("seq"))
    val provinces = tagged.filter(col("entity") === "province")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val others = tagged.filter(col("entity") =!= "province")
    provinces.unionByName(others)
      .select("entity", "code", "parent_code", "name", "seq")
  }

  /** Full pipeline: cell tables -> tagged entity rows. */
  def extract(
      cells: DataFrame,
      precomputedMeta: Option[DataFrame] = None): DataFrame =
    classify(codeNamePairs(cells, precomputedMeta))

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
