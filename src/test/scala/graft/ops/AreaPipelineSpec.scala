package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Mirrors the reference's AreaExtractor tests
  * (`tests/test_extractors.py:405-488`).
  */
class AreaPipelineSpec extends SparkSpec {

  private def rowsOf(entity: String, cells: org.apache.spark.sql.DataFrame) = {
    val extracted = AreaPipeline.extract(cells)
    AreaPipeline.entity(extracted, entity)
      .orderBy("seq").drop("seq").collect().map(_.toSeq.toList).toList
  }

  test("matches: area fixture accepted, unmatched/island rejected") {
    assert(AreaPipeline.matchesHeader(Fixtures.dfArea.head))
    assert(!AreaPipeline.matchesHeader(Fixtures.dfAreaUnmatched.head))
    assert(!AreaPipeline.matchesHeader(Fixtures.dfIsland.head))
    assert(!AreaPipeline.matchesHeader(Seq("K O D E")))
    assert(!AreaPipeline.matchesHeader(Nil))
  }

  /** One table's rows exactly as given — no padding, unlike
    * [[CellTables.ofGrid]]. */
  private def raggedCells(grid: Seq[Seq[String]]) = {
    import graft.SparkTestSession.spark.implicits._
    grid.zipWithIndex.map { case (row, i) =>
      graft.schema.RawTableRow(0L, 1, i, i.toLong, row)
    }.toDF()
  }

  /** (entity, code, name) of the dispatched area extraction. */
  private def dispatched(cells: org.apache.spark.sql.DataFrame) =
    Dispatch.extractAll(cells)._1
      .orderBy("seq").select("entity", "code", "name")
      .collect().map(_.toSeq.toList).toList

  test("ragged input extracts byte-identically to its padded grid") {
    import org.apache.spark.sql.functions.{col, size}
    // the area fixture with trailing empty cells dropped (what a
    // lossless interchange format like CellTsv can deliver)
    val padded = CellTables.ofGrid(spark, Fixtures.dfArea)
    val ragged = raggedCells(
      Fixtures.dfArea.map(_.reverse.dropWhile(_ == "").reverse))
    assert(ragged.select(size(col("cells"))).distinct().count() > 1)
    val got = AreaPipeline.extract(ragged)
      .orderBy("seq").select("entity", "code", "name")
      .collect().map(_.toSeq.toList).toList
    val want = AreaPipeline.extract(padded)
      .orderBy("seq").select("entity", "code", "name")
      .collect().map(_.toSeq.toList).toList
    assert(got == want && got.nonEmpty)
  }

  test("data rows wider than a 2-cell header take the width-7 " +
      "variant, name columns {1,4,5,6}") {
    // the reference's frame is as wide as its widest row
    val cells = raggedCells(Seq(
      Seq("K O D E", "NAMA PROVINSI"),
      Seq("", "KAB", "KOTA"),
      Seq("11", "Aceh", "", "", "", "", ""),
      Seq("11.01", "", "", "", "", "Kabupaten Aceh Selatan", ""),
      Seq("11.01.01", "", "", "Not A Name", "", "", "Bakongan")))
    assert(dispatched(cells) == List(
      List("province", "11", "Aceh"),
      List("regency", "11.01", "Kabupaten Aceh Selatan"),
      List("district", "11.01.01", "Bakongan")))
  }

  test("6-cell rows under a shorter header take the width-6 variant, " +
      "name columns {1,3}") {
    val cells = raggedCells(Seq(
      Seq("K O D E", "NAMA PROVINSI", "JUMLAH"),
      Seq("", "", ""),
      Seq("11", "Aceh", "", "", "", ""),
      Seq("11.01", "", "", "Kabupaten Aceh Selatan", "Not A Name", "")))
    assert(dispatched(cells) == List(
      List("province", "11", "Aceh"),
      List("regency", "11.01", "Kabupaten Aceh Selatan")))
  }

  test("extract happy path (test_extract_rows_happy_path)") {
    val cells = CellTables.ofGrid(spark, Fixtures.dfArea)
    val extracted = AreaPipeline.extract(cells).cache()
    assert(extracted.count() == 7)
    assert(rowsOf("province", cells) == List(List("11", "Aceh")))
    assert(rowsOf("regency", cells) ==
      List(List("11.01", "11", "Kabupaten Aceh Selatan")))
    assert(rowsOf("district", cells) ==
      List(List("11.01.01", "11.01", "Bakongan")))
    assert(rowsOf("village", cells) == List(
      List("11.01.01.2001", "11.01.01", "Keude Bakongan"),
      List("11.01.01.2002", "11.01.01", "Ujong Mangki"),
      List("11.01.01.2003", "11.01.01", "Ujong Padang"),
      List("11.01.01.2004", "11.01.01", "Gampong Drien")))
    extracted.unpersist()
  }

  test("extract empty input (test_extract_rows_empty_dataframe)") {
    val cells = CellTables.ofGrid(spark, Nil)
    assert(AreaPipeline.extract(cells).count() == 0)
  }

  test("extract 1-column table yields nothing (insufficient columns)") {
    val cells = CellTables.ofGrid(spark,
      Seq(Seq("K O D E"), Seq("11"), Seq("11.01")))
    assert(AreaPipeline.extract(cells).count() == 0)
  }

  test("6-column variant uses name columns {1,3} (test_extract_rows_six_column_table)") {
    val grid = Seq(
      Seq("K O D E", "NAMA", "COL2", "BACKUP_NAME", "COL4", "COL5"),
      Seq("", "", "", "", "", ""),
      Seq("11", "Aceh", "", "", "", ""),
      Seq("11.01", "", "", "Kabupaten Aceh Selatan", "", ""))
    val cells = CellTables.ofGrid(spark, grid)
    val extracted = AreaPipeline.extract(cells).cache()
    assert(extracted.count() == 2)
    assert(rowsOf("province", cells) == List(List("11", "Aceh")))
    assert(rowsOf("regency", cells) ==
      List(List("11.01", "11", "Kabupaten Aceh Selatan")))
    extracted.unpersist()
  }

  test("duplicate provinces deduped to first occurrence (test_extract_rows_duplicate_province)") {
    val grid = Seq(
      Seq("K O D E", "NAMA", "COL2", "COL3", "COL4", "COL5", "COL6"),
      Seq("", "", "", "", "", "", ""),
      Seq("11", "Aceh", "", "", "", "", ""),
      Seq("11", "Aceh", "", "", "", "", ""))
    val cells = CellTables.ofGrid(spark, grid)
    val extracted = AreaPipeline.extract(cells).cache()
    assert(extracted.count() == 1)
    assert(rowsOf("province", cells) == List(List("11", "Aceh")))
    extracted.unpersist()
  }

  test("province dedup is global across tables in document order " +
      "(test_repeated_extract_and_write_appends_rows + seen-set semantics)") {
    val t1 = Seq(
      Seq("K O D E", "NAMA", "COL2", "COL3", "ALT1", "ALT2", "ALT3"),
      Seq("", "", "", "", "", "", ""),
      Seq("11", "Aceh", "", "", "", "", ""))
    val t2 = Seq(
      Seq("K O D E", "NAMA", "COL2", "COL3", "ALT1", "ALT2", "ALT3"),
      Seq("", "", "", "", "", "", ""),
      Seq("11", "Aceh Again", "", "", "", "", ""),
      Seq("11.02", "", "", "", "Kabupaten Aceh Barat", "", ""))
    val cells = CellTables.ofGrids(spark, Seq(t1, t2))
    assert(rowsOf("province", cells) == List(List("11", "Aceh")))
    assert(rowsOf("regency", cells) ==
      List(List("11.02", "11", "Kabupaten Aceh Barat")))
  }

  test("dispatch routes area table to area, rejects others (P3)") {
    val cells = CellTables.ofGrids(spark,
      Seq(Fixtures.dfArea, Fixtures.dfIsland, Fixtures.dfAreaUnmatched))
    val routes = Dispatch.routes(cells).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(routes(0L) == "area")
    assert(routes(1L) == "island")
    assert(routes(2L) == null)
  }
}
