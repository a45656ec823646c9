package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.Column

/** DMS coordinate canonicalization.
  *
  * Reference semantics: idn-area-etl `utils.py:113-225`
  * (`format_coordinate` and helpers), pinned by the 16-case table in
  * `tests/test_utils.py:112-158`. Output form:
  * `DD°MM'SS.ss" N DDD°MM'SS.ss" E`; when no lat+lon pair parses, the
  * quote/hemisphere/space-normalized input is returned as a fallback.
  *
  * Procedural (regex scan + first-lat/first-lon assembly) — a Scala UDF.
  * Regexes carry `(?U)` so `\s`/`\b` are Unicode-aware like Python `re`.
  */
object Coordinates {

  /** Indonesian hemisphere tokens -> N/S/E/W (`utils.py:121-134`). */
  private val HemiMap = Map(
    "N" -> "N", "S" -> "S", "E" -> "E", "W" -> "W",
    "U" -> "N", "LU" -> "N", "T" -> "E", "BT" -> "E",
    "LS" -> "S", "B" -> "W", "BB" -> "W")

  private val HemiTokenRe = "(?iU)\\b(LU|LS|BT|BB|[NSEWUTB])\\b".r

  /** One flexible DMS pattern: optional leading OR trailing hemisphere
    * (`utils.py:177-186`). Groups: 1=h1, 2=deg, 3=min, 4=sec, 5=h2.
    */
  private val CoordRe = (
    "(?U)(?:([NSEW])\\s*)?" +
    "(\\d{1,3})\\s*°\\s*" +
    "(\\d{1,2})\\s*'\\s*" +
    "(\\d{1,2}(?:\\.\\d+)?)\\s*\"?\\s*" +
    "([NSEW])?").r

  private val QuoteRuns = Pattern.compile("\"{2,}")
  private val PrimeRuns = Pattern.compile("'{2,}")

  /** Smart quotes/primes -> ASCII; collapse duplicated quotes
    * (`utils.py:137-150`).
    */
  private def normalizeQuotes(s: String): String = {
    val ascii = s.replace('’', '\'').replace('‘', '\'').replace('′', '\'')
      .replace('“', '"').replace('”', '"').replace('″', '"')
    PrimeRuns.matcher(QuoteRuns.matcher(ascii).replaceAll("\"")).replaceAll("'")
  }

  private def mapHemispheres(s: String): String =
    HemiTokenRe.replaceAllIn(s, m => HemiMap(m.group(1).toUpperCase))

  private def normalizeSpaces(s: String): String =
    Cleanse.pyStrip(Cleanse.Whitespace.matcher(s).replaceAll(" "))

  /** "3"->"3.00", "3.4"->"3.40", "3.444"->"3.44" (`utils.py:166-173`). */
  private def formatSecondsTwoDecimals(sec: String): String = {
    val (whole, frac) =
      if (sec.contains('.')) { val p = sec.split("\\.", 2); (p(0), p(1)) }
      else (sec, "")
    s"$whole.${(frac + "00").take(2)}"
  }

  /** format_coordinate (`utils.py:189-225`). First lat + first lon win;
    * no pair ⇒ normalized-input fallback; blank ⇒ "".
    */
  def formatCoordinateScala(cell: String): String = {
    if (cell == null || Cleanse.pyStrip(cell).isEmpty) return ""
    val s = normalizeSpaces(mapHemispheres(normalizeQuotes(cell)))
    var lat: String = null
    var lon: String = null
    for (m <- CoordRe.findAllMatchIn(s)) {
      val hemi = if (m.group(1) != null) m.group(1) else m.group(5)
      if (hemi != null) {
        val canonical =
          s"${m.group(2)}°${m.group(3)}'${formatSecondsTwoDecimals(m.group(4))}\" $hemi"
        if ((hemi == "N" || hemi == "S") && lat == null) lat = canonical
        else if ((hemi == "E" || hemi == "W") && lon == null) lon = canonical
      }
    }
    if (lat != null && lon != null) s"$lat $lon" else s
  }

  /** The native Catalyst expression over [[formatCoordinateScala]] (no
    * ScalaUDF boxing, stays in whole-stage codegen).
    */
  def formatCoordinate(c: Column): Column =
    NativeExpressions.formatCoordinate(c)
}
