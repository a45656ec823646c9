package graft.ops

import org.apache.spark.sql.DataFrame
import graft.SparkSpec

/** The first-match routing rule (`cli.py:158-160,183-191`): one
  * decision per table, read alike by [[Dispatch.routes]] and
  * [[Dispatch.extractAll]].
  */
class DispatchSpec extends SparkSpec {

  private def routeOf(cells: DataFrame): Map[Long, String] =
    Dispatch.routes(cells).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** table_id of every extracted row, via its document-order `seq`. */
  private def tablesOf(rows: DataFrame, cells: DataFrame): Set[Long] =
    rows.select("seq").join(cells.select("seq", "table_id"), "seq")
      .select("table_id").distinct().collect().map(_.getLong(0)).toSet

  test("a table both extractors match routes to area only (area wins ties)") {
    // row 0 passes the area predicate (kode, nama provinsi…) AND the
    // island one ("kode pulau" in the row); the data row is a valid
    // island row too, so an island route would extract it
    val tie = Seq(
      Seq("Kode", "Nama Provinsi Pulau", "Kode Pulau", "", "", "", ""),
      Seq("", "", "", "", "", "", ""),
      Seq("11", "Aceh", "11.01.40001", "", "", "", ""))
    val cells = CellTables.ofGrid(spark, tie)
    assert(IslandPipeline.extract(cells).count() == 1)

    assert(routeOf(cells) == Map(0L -> "area"))
    val (area, island) = Dispatch.extractAll(cells)
    assert(area.select("entity", "code", "name").collect()
      .map(_.toSeq.toList).toList == List(List("province", "11", "Aceh")))
    assert(island.count() == 0)
  }

  test("routes and extractAll agree on every table of the fixture corpus") {
    val grids = Seq(Fixtures.dfArea, Fixtures.dfAreaUnmatched,
      Fixtures.dfIsland, Fixtures.dfIslandMessy)
    val cells = CellTables.ofGrids(spark, grids).cache()
    try {
      val routes = routeOf(cells)
      assert(routes.keySet == grids.indices.map(_.toLong).toSet)
      val (area, island) = Dispatch.extractAll(cells)
      val areaTables = tablesOf(area, cells)
      val islandTables = tablesOf(island, cells)
      for ((table, route) <- routes) {
        val got = Seq("area" -> areaTables, "island" -> islandTables)
          .collect { case (family, tables) if tables(table) => family }
        assert(got == Option(route).toSeq,
          s"table $table: routed $route, extracted by $got")
      }
      assert(routes.values.toSet == Set("area", null, "island"))
    } finally cells.unpersist()
  }
}
