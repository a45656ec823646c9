package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import graft.schema.RawTableRow

/** Seeded cell-table corpus for the ETL workloads, generated together
  * with the exact sink output it must produce.
  *
  * Every data cell is a clean value dirtied in one of the ways the
  * reference's cleanse chain undoes (leading row numbers, wrapped
  * lines, stray whitespace, tabs, quote and hemisphere spellings), so
  * the expected CSV rows are the clean values themselves — the oracle
  * never calls the program's own cleanse code.
  */
object EtlGen {

  sealed trait Kind
  case object Area extends Kind
  case object Island extends Kind
  case object Recap extends Kind

  /** Area and island tables alternate, and every tenth table is a
    * recap table no extractor claims (the dispatch reject path).
    */
  private def kindOf(table: Int): Kind =
    if (table % 10 == 9) Recap else if (table % 2 == 0) Area else Island

  /** Output entities in sink order, with their CSV headers. */
  val Entities: Seq[(String, Seq[String])] = Seq(
    "province" -> Seq("code", "name"),
    "regency" -> Seq("code", "province_code", "name"),
    "district" -> Seq("code", "regency_code", "name"),
    "village" -> Seq("code", "district_code", "name"),
    "island" -> Seq("code", "regency_code", "coordinate", "is_populated",
      "is_outermost_small", "name"))

  /** The generated corpus: cell rows in document order, the expected
    * data lines of each entity's CSV (CRLF-free, document order), and
    * the raw name/coordinate cells the cleanse drains run over.
    */
  final case class Corpus(
      rows: IndexedSeq[RawTableRow],
      expected: Map[String, IndexedSeq[String]],
      rawAreaNames: IndexedSeq[String],
      rawIslandNames: IndexedSeq[String],
      rawCoordinates: IndexedSeq[String]) {
    def counts: Map[String, Long] =
      expected.map { case (e, lines) => e -> lines.size.toLong }
  }

  private val Prefixes = Array("Kabupaten", "Kota", "Kecamatan",
    "Desa", "Kelurahan", "Nagari", "Gampong")
  private val Words = Array("Aceh", "Selatan", "Utara", "Barat", "Timur",
    "Tengah", "Raya", "Baru", "Jaya", "Makmur", "Sari", "Indah", "Mulya",
    "Harapan", "Sukamaju", "Tanjung", "Batu", "Sungai", "Bukit", "Lembah",
    "Pematang", "Simpang", "Lubuk", "Padang", "Rantau", "Muara", "Talang",
    "Karang", "Sidomulyo", "Margasari", "Pasir", "Kampung")
  private val IslandWords = Array("Batukapal", "Nebukserdang", "Bateeleblah",
    "Rondo", "Weh", "Breueh", "Simeulue", "Banyak", "Tuangku", "Bangkaru",
    "Lasia", "Babi", "Mangki", "Rusa", "Kayu", "Teluk", "Kecil", "Besar")

  private def pick(r: SplittableRandom, a: Array[String]): String =
    a(r.nextInt(a.length))

  private def areaName(r: SplittableRandom): String = {
    val n = 1 + r.nextInt(3)
    (pick(r, Prefixes) +: Seq.fill(n)(pick(r, Words))).mkString(" ")
  }

  private def islandName(r: SplittableRandom): String =
    (Seq("Pulau") ++ Seq.fill(1 + r.nextInt(2))(pick(r, IslandWords)))
      .mkString(" ")

  /** A clean multi-word name dirtied the way PDF extraction dirties
    * it; the reference cleanse chain maps every variant back.
    */
  private def dirty(r: SplittableRandom, clean: String): String = {
    val sp = clean.indexOf(' ')
    r.nextInt(8) match {
      case 0 => s"${1 + r.nextInt(400)} $clean"
      case 1 => s"  $clean  "
      case 2 => clean.patch(sp, "  ", 1)
      case 3 => clean.patch(sp, "\n", 1)
      case 4 => s"${1 + r.nextInt(400)}\n$clean"
      case 5 => clean.patch(sp, "\t", 1)
      case 6 =>
        // PDF line wrap of a short lowercase tail onto its own line
        val cut = clean.length - 2
        val head = clean.substring(0, cut)
        if (cut >= 16 && !" -".contains(head.last) &&
            clean.substring(cut).forall(_.isLower)) s"$head\n${clean.substring(cut)}"
        else clean
      case _ => clean
    }
  }

  /** Python csv.writer QUOTE_MINIMAL quoting, as the sink writes it. */
  def csvField(s: String): String =
    if (s.exists(c => c == '"' || c == ',' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def line(fields: String*): String = fields.map(csvField).mkString(",")

  private def two(n: Int): String = f"$n%02d"

  /** A DMS coordinate pair in one of several PDF spellings, with its
    * canonical `DD°MM'SS.ss" H DDD°MM'SS.ss" H` form.
    */
  private def coordinate(r: SplittableRandom): (String, String) = {
    val (lat, lon) = (r.nextInt(12), 95 + r.nextInt(46))
    val (m1, m2) = (r.nextInt(60), r.nextInt(60))
    val (s1, s2) = (r.nextInt(60), r.nextInt(60))
    val (c1, c2) = (r.nextInt(100), r.nextInt(100))
    val south = r.nextInt(4) == 0
    val (hLat, hLon) = (if (south) "S" else "N", "E")
    val latD = two(lat)
    val lonD = f"$lon%03d"
    val canonical = s"$latD°${two(m1)}'${two(s1)}.${two(c1)}\" $hLat " +
      s"$lonD°${two(m2)}'${two(s2)}.${two(c2)}\" $hLon"
    val raw = r.nextInt(5) match {
      case 0 =>
        s"$latD°${two(m1)}'${two(s1)}.${two(c1)}\" ${if (south) "LS" else "U"} " +
          s"$lonD°${two(m2)}'${two(s2)}.${two(c2)}\" T"
      case 1 =>
        s"$latD°${two(m1)}'${two(s1)}.${two(c1)}\"\" ${if (south) "S" else "LU"} " +
          s"$lonD°${two(m2)}'${two(s2)}.${two(c2)}\" BT"
      case 2 =>
        s"$latD ° ${two(m1)} ’ ${two(s1)}.${two(c1)}” ${if (south) "LS" else "U"}  " +
          s"$lonD ° ${two(m2)} ’ ${two(s2)}.${two(c2)}” T"
      case 3 =>
        s"${if (south) "S" else "N"} $latD°${two(m1)}'${two(s1)}.${two(c1)}${r.nextInt(10)}\" " +
          s"$lonD°${two(m2)}'${two(s2)}.${two(c2)}\" E"
      case _ =>
        s" $latD°${two(m1)}'${two(s1)}.${two(c1)}\" ${if (south) "S" else "N"}\n" +
          s"$lonD°${two(m2)}'${two(s2)}.${two(c2)}\" E "
    }
    (raw, canonical)
  }

  private val AreaHeader = Seq("K O D E", "NAMA PROVINSI / KABUPATEN / KOTA",
    "JUMLAH", "", "N A M A / J U M L A H", "", "LUAS WILAYAH (Km2)")
  private val AreaNumbering = Seq("", "KAB", "KOTA", "KECAMATAN",
    "KELURAHAN", "D E S A", "")
  private val RecapHeader = Seq("NO", "PROVINSI", "JUMLAH KABUPATEN",
    "JUMLAH KOTA", "JUMLAH KECAMATAN", "JUMLAH DESA")
  private val IslandHeaderA = Seq("No", "Kode Pulau", "Nama Pulau",
    "Koordinat", "BP/TBP", "Keterangan")
  private val IslandHeaderB = Seq("KODE PULAU", "NAMA PULAU", "KOORDINAT",
    "LUAS (Km2)", "BP/TBP", "KETERANGAN")

  private val Provinces = Array(11, 12, 13, 14, 15, 16, 17, 18, 19, 21, 31,
    32, 33, 34, 35, 36, 51, 52, 53, 61, 62, 63, 64, 65, 71, 72, 73, 74, 75,
    76, 81, 82, 91, 92, 94, 95, 96, 97)

  /** Generate `tables` tables of `rowsPerTable` rows for `seed`.
    * Deterministic: per-table streams are split off one seeded root in
    * table order, so the same seed gives the same cells and the same
    * expected outputs.
    */
  def generate(tables: Int, rowsPerTable: Int, seed: Long): Corpus = {
    val root = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val rows = new ArrayBuffer[RawTableRow](tables * rowsPerTable)
    val out = LinkedHashMap(Entities.map(_._1 -> ArrayBuffer.empty[String]): _*)
    val seenProvince = scala.collection.mutable.HashSet.empty[String]
    val rawArea, rawIsland, rawCoord = ArrayBuffer.empty[String]
    var seq = 0L
    for (t <- 0 until tables) {
      val r = root.split()
      val page = t / 4 + 1
      val firstRow = rows.size
      def emit(cells: Seq[String]): Unit = {
        rows += RawTableRow(t.toLong, page, rows.size - firstRow, seq, cells)
        seq += 1
      }
      kindOf(t) match {
        case Recap =>
          emit(RecapHeader)
          for (i <- 1 until rowsPerTable)
            emit(Seq(i.toString, areaName(r), r.nextInt(30).toString,
              r.nextInt(10).toString, r.nextInt(300).toString,
              r.nextInt(5000).toString))
        case Area =>
          emit(AreaHeader)
          emit(AreaNumbering)
          val prov = two(Provinces(r.nextInt(Provinces.length)))
          var reg = 1 + r.nextInt(20)
          var dist = 1 + r.nextInt(20)
          var vill = 2001
          var level = 0 // 0 province, 1 regency, 2 district, 3 village
          for (_ <- 2 until rowsPerTable) {
            val noise = r.nextInt(25)
            if (noise == 0) emit(Seq("", "JUMLAH", "", "", "", "", ""))
            else if (noise == 1)
              emit(Seq(s"$prov.${two(reg)}.", areaName(r), "", "", "", "", ""))
            else {
              val code = level match {
                case 0 => prov
                case 1 => s"$prov.${two(reg)}"
                case 2 => s"$prov.${two(reg)}.${two(dist)}"
                case _ => s"$prov.${two(reg)}.${two(dist)}.$vill"
              }
              val name = areaName(r)
              val raw = dirty(r, name)
              // name in column 1, or (col 1 blank) in column 4
              val cells =
                if (r.nextInt(6) == 0) Seq(code, "", "", "", raw, "", "")
                else Seq(code, raw, "", "", "", "", "")
              emit(if (r.nextInt(4) == 0) cells.updated(0, s" $code ")
                else cells)
              rawArea += raw
              level match {
                case 0 =>
                  if (seenProvince.add(code)) out("province") += line(code, name)
                case 1 => out("regency") += line(code, code.take(2), name)
                case 2 => out("district") += line(code, code.take(5), name)
                case _ => out("village") += line(code, code.take(8), name)
              }
              // walk the hierarchy: mostly villages, periodic climbs
              level = level match {
                case 0 => 1
                case 1 => 2
                case 2 => 3
                case _ =>
                  vill += 1
                  r.nextInt(12) match {
                    case 0 => reg += 1; dist = 1; vill = 2001; 1
                    case 1 | 2 => dist += 1; vill = 2001; 2
                    case 3 if r.nextInt(8) == 0 => 0
                    case _ => 3
                  }
              }
            }
          }
        case Island =>
          val layoutA = r.nextBoolean()
          val titled = r.nextInt(3) == 0
          if (titled) emit(Seq("DAFTAR PULAU", "", "", "", "", ""))
          emit(if (layoutA) IslandHeaderA else IslandHeaderB)
          val prov = two(Provinces(r.nextInt(Provinces.length)))
          val headerRows = if (titled) 2 else 1
          for (i <- headerRows until rowsPerTable) {
            if (r.nextInt(15) == 0) {
              // regency banner row: fails the island-code pattern
              val banner = Seq(s"$prov.${two(1 + r.nextInt(30))}",
                areaName(r), r.nextInt(40).toString, "", "", "")
              emit(if (layoutA) ("" +: banner).take(6) else banner)
            } else {
              val reg = if (r.nextInt(6) == 0) "00" else two(1 + r.nextInt(30))
              val code = s"$prov.$reg.${40000 + r.nextInt(60000)}"
              val name = islandName(r)
              val rawName = dirty(r, name)
              val (rawCoord1, coord) =
                if (r.nextInt(20) == 0) ("", "") else coordinate(r)
              val populated = r.nextInt(3) != 0
              val status = if (populated) Seq("BP", " bp", "BP ")(r.nextInt(3))
                else Seq("TBP", "tbp", "")(r.nextInt(3))
              val outer = r.nextInt(4) == 0
              val info = if (outer) Seq("(PPKT)", "ppkt", "PPKT 2")(r.nextInt(3))
                else Seq("", "-", "Tidak berpenghuni")(r.nextInt(3))
              val data = Seq(code, rawName, rawCoord1,
                if (layoutA) status else f"${r.nextInt(1000) / 100.0}%.4f",
                if (layoutA) info else status)
              val cells =
                if (layoutA) (i - headerRows + 1).toString +: data
                else data :+ info
              emit(cells)
              rawIsland += rawName
              if (rawCoord1.nonEmpty) rawCoord += rawCoord1
              out("island") += line(code, if (reg == "00") "" else code.take(5),
                coord, if (populated) "1" else "0", if (outer) "1" else "0",
                name)
            }
          }
      }
    }
    Corpus(rows.toIndexedSeq,
      out.map { case (e, b) => e -> b.toIndexedSeq }.toMap,
      rawArea.toIndexedSeq, rawIsland.toIndexedSeq, rawCoord.toIndexedSeq)
  }
}
