package graft.ops

import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import graft.SparkSpec

/** The province first-occurrence dedup (A1, `extractors.py:110-112,
  * 166-169`) settled from the table meta ([[Dispatch.Tables]]): the
  * first province row the area rule KEEPS, over the tables of the
  * call's area family, wins — against the `row_number` window it
  * replaced ([[Reference.firstProvincesWindow]]).
  */
class ProvinceDedupSpec extends SparkSpec {

  private val header = Seq("Kode", "Nama Provinsi / Kabupaten", "", "", "",
    "", "")
  private val numbers = Seq("1", "2", "3", "4", "5", "6", "7")
  private def row(code: String, names: (Int, String)*): Seq[String] =
    names.foldLeft(Seq(code, "", "", "", "", "", "")) {
      case (r, (i, name)) => r.updated(i, name)
    }

  /** (code, name) of the provinces of `rows`, in document order. */
  private def provinces(rows: DataFrame): List[(String, String)] =
    rows.filter(col("entity") === "province").orderBy("seq")
      .select("code", "name").collect()
      .map(r => (r.getString(0), r.getString(1))).toList

  test("the first KEPT province wins across tables of different widths") {
    // at width 6 the names come from cells {1, 3}: the first table's
    // "11" has none, so it is no occurrence, though a width-7 table
    // would read its cell 4
    val narrow = Seq(header.take(6), numbers.take(6),
      row("11", 4 -> "Aceh Lebar").take(6))
    val wide = Seq(header, numbers, row("12", 1 -> "Sumatera Utara"),
      row("11", 4 -> "Aceh"))
    val later = Seq(header, numbers, row("11", 1 -> "Aceh Lagi"),
      row("12", 5 -> "Sumut Lagi"))
    val cells = CellTables.ofGrids(spark, Seq(narrow, wide, later))
    val want = List("12" -> "Sumatera Utara", "11" -> "Aceh")
    assert(provinces(Dispatch.extract(cells)) == want)
    assert(provinces(Dispatch.extractAll(cells)._1) == want)
    assert(provinces(AreaPipeline.extract(cells)) == want)
  }

  test("a forced-family AreaPipeline.extract dedups over every table") {
    val unrouted = Seq(Seq("No", "Daftar", "", "", "", "", ""), numbers,
      row("11", 1 -> "Bukan Aceh"))
    val area = Seq(header, numbers, row("11", 1 -> "Aceh"))
    val cells = CellTables.ofGrids(spark, Seq(unrouted, area))
    assert(provinces(AreaPipeline.extract(cells)) == List("11" -> "Bukan Aceh"))
    assert(provinces(Dispatch.extract(cells)) == List("11" -> "Aceh"))
  }

  test("a 2-character cell 0 in an island or unrouted table never " +
      "suppresses an area province") {
    val island = Seq(
      Seq("No", "Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP",
        "Keterangan", ""),
      Seq("11", "11.01.40001", "Pulau Batukapal", "", "BP", "", ""))
    val unrouted = Seq(Seq("Daftar", "Isi", "", "", "", "", ""), numbers,
      row("11", 1 -> "Lain"))
    val area = Seq(header, numbers, row("11", 1 -> "Aceh"))
    val cells = CellTables.ofGrids(spark, Seq(island, unrouted, area))
    // forced, the island table's row is the first area occurrence
    assert(provinces(AreaPipeline.extract(cells)).head._1 == "11")
    assert(provinces(Dispatch.extract(cells)) == List("11" -> "Aceh"))
    assert(provinces(Dispatch.extractAll(cells)._1) == List("11" -> "Aceh"))
    assert(Dispatch.extractAll(cells)._2.count() == 1)
  }

  test("meta dedup == the province window on random tables, routed and " +
      "forced to area") {
    val rnd = new Random(20261020)
    def any[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val codes = Seq("11", "12", " 13 ", " 11", "1𝟙", "١١", "11.01",
      "1", "")
    val names = Seq("", "", " ", "Aceh", "Sumatera Utara", "\n", "1 ",
      "Kab. Barat")
    def areaTable() = {
      val width = 5 + rnd.nextInt(4)
      header.padTo(width, "").take(width) +: numbers.take(width) +:
        Seq.fill(1 + rnd.nextInt(8))(any(codes) +:
          Seq.fill(width - 1)(any(names)))
    }
    def islandTable() = Seq(
      Seq("No", "Kode Pulau", "Nama Pulau", "BP/TBP")) ++
      Seq.fill(1 + rnd.nextInt(4))(Seq(any(codes), "11.01.40001",
        any(names), "BP"))
    def junkTable() = Seq.fill(2 + rnd.nextInt(4))(
      any(codes) +: Seq.fill(6)(any(names)))
    val grids = Seq.fill(60)(rnd.nextInt(4) match {
      case 0 => islandTable()
      case 1 => junkTable()
      case _ => areaTable()
    })
    val cells = CellTables.ofGrids(spark, grids).cache()
    try {
      for (family <- Seq[Column](col("route"), lit("area"))) {
        def sorted(df: DataFrame) = df.collect().toSeq
          .sortBy(r => (r.getAs[Long]("seq"), r.getAs[String]("entity")))
        val got = sorted(Dispatch.extract(cells, Dispatch.tables(cells, family)))
        val want = sorted(Reference.firstProvincesWindow(
          Reference.passColumns(cells, family)))
        val n = want.count(_.getAs[String]("entity") == "province")
        info(s"$family: $n provinces of ${want.size} rows")
        assert(n >= 3, s"$family: $n provinces")
        assert(got == want, s"$family")
      }
    } finally cells.unpersist()
  }
}
