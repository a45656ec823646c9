package graft.ops

import scala.util.Random
import org.apache.spark.sql.functions.{col, lit}
import graft.SparkSpec
import graft.schema.RawTableRow

/** The row rules ([[AreaPipeline.row]], [[IslandPipeline.row]]) against
  * the `Column` builders they replaced ([[Reference.passColumns]]) on
  * random PDF-ish tables: ragged and null rows, null cells, Unicode
  * whitespace, supplementary-plane digits and letters (code-point
  * lengths and prefixes), shifted island headers, name-equals-code
  * rows, tables no rule claims and a table whose every row is null.
  */
class RowRuleParitySpec extends SparkSpec {

  private val rnd = new Random(20261019)
  private def any[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))

  private val spaces = Seq("", "", " ", "  ", "\u00A0", "\t", "\n", "\u3000")
  private def padded(s: String) = any(spaces) + s + any(spaces)

  private val areaCodes = Seq("11", "11.01", "11.01.01", "11.01.01.2001",
    "1", "1234", "𝟙𝟙", "11.0𝟙",
    "1𝟙.01.01", "١١", "")
  private val islandCodes = Seq("11.01.40001", "11.00.40001",
    "91.71.00012", "11.01.4000", "11.01.400011", "١١.01.40001",
    "11-01-40001", "")
  private val nameParts = Seq("Aceh", "Barat", "123", "7", "\n", "\r\n",
    "\t", " ", "  ", "\u00A0", "Kab.", "désa", "𝒜", "1 ",
    "ab", "K o d e", "Pulau", "\n\n", "\u2028")
  private def name() = (0 until rnd.nextInt(6)).map(_ => any(nameParts)).mkString
  private val statuses = Seq("bp", "BP", " BP", "TBP", "bp/tbp", "b p",
    "BPx", "BP-1", "ßp", "", "Bp")
  private val infos = Seq("ppkt", "PPKT", "ppkẗ", "ket", "", "x ppkt y")
  private val coords = Seq("03°43'12\" LU 96°12'00\" BT",
    "3° 4' 5.678\" S 100°1'2\" E", "junk", "", "0″",
    "03°43′12″ N")

  /** A row of `width` cells, some null. */
  private def cells(width: Int)(f: Int => String): Seq[String] =
    (0 until width).map(i => if (rnd.nextInt(12) == 0) null else f(i))

  private def areaTable(): Seq[Seq[String]] = {
    val width = 2 + rnd.nextInt(8)
    val header = cells(width) {
      case 0 => any(Seq("K o d e", "Kode", "KODE"))
      case 1 => any(Seq("NAMA PROVINSI", "Nama Provinsi / Kab", "Nama Pulau Provinsi"))
      case _ => any(Seq("", "JUMLAH", "kode pulau"))
    }
    header +: Seq.fill(2 + rnd.nextInt(14)) {
      if (rnd.nextInt(15) == 0) null
      else cells(1 + rnd.nextInt(9)) {
        case 0 => padded(any(areaCodes))
        case _ => if (rnd.nextBoolean()) padded(name()) else ""
      }
    }
  }

  private def islandTable(): Seq[Seq[String]] = {
    val columns = rnd.shuffle(Seq("Kode Pulau", "Nama Pulau", "Koordinat",
      "BP/TBP", "Keterangan", "No")).take(2 + rnd.nextInt(5))
    val above = Seq.fill(rnd.nextInt(5))(Seq("Daftar", "Pulau"))
    above ++ (columns +: Seq.fill(2 + rnd.nextInt(14)) {
      val code = padded(any(islandCodes))
      val row = cells(columns.length + rnd.nextInt(2) - 1) { i =>
        columns.lift(i) match {
          case Some("Kode Pulau") => code
          case Some("Nama Pulau") =>
            if (rnd.nextInt(4) == 0) code else padded(name())
          case Some("Koordinat") => padded(any(coords))
          case Some("BP/TBP") => padded(any(statuses))
          case Some("Keterangan") => any(infos)
          case _ => if (rnd.nextBoolean()) code else name()
        }
      }
      if (rnd.nextInt(15) == 0) null else row
    })
  }

  private def junkTable(): Seq[Seq[String]] =
    Seq.fill(1 + rnd.nextInt(6))(cells(1 + rnd.nextInt(7))(_ => name()))

  test("row rules == the Column rule they replaced on random tables, " +
      "routed and forced to each family") {
    val s = spark
    import s.implicits._
    val tables = Seq.fill(240)(rnd.nextInt(3) match {
      case 0 => areaTable()
      case 1 => islandTable()
      case _ => junkTable()
    }) :+ Seq[Seq[String]](null, null, null)
    var seq = 0L
    val rows = tables.zipWithIndex.flatMap { case (t, id) =>
      t.zipWithIndex.map { case (r, i) =>
        seq += 1
        RawTableRow(id.toLong, 1, i, seq, r)
      }
    }
    val input = rows.toDF().repartition(3).cache()
    try {
      for (family <- Seq(col("route"), lit("area"), lit("island"))) {
        val got = Dispatch.pass(input, Dispatch.tables(input, family),
          dedup = false)
        val want = Reference.passColumns(input, family)
        assert(got.schema.map(f => (f.name, f.dataType)) ==
          want.schema.map(f => (f.name, f.dataType)))
        def sorted(df: org.apache.spark.sql.DataFrame) =
          df.collect().toSeq.sortBy(r => (r.getLong(4), r.getString(0)))
        val (g, w) = (sorted(got), sorted(want))
        val entities = w.groupBy(_.getString(0)).map { case (e, rs) => e -> rs.size }
        info(s"$family: $entities")
        assert(entities.values.forall(_ >= 10), s"$family: $entities")
        for ((a, b) <- g.zipAll(w, null, null))
          assert(a == b, s"$family: rule row $a, Column row $b")
      }
    } finally input.unpersist()
  }
}
