package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Text-cleansing library.
  *
  * Reference semantics: idn-area-etl `utils.py` (clean_name `utils.py:36-38`,
  * fix_wrapped_name `utils.py:41-65`, normalize_words `utils.py:68-79`) and
  * the pinned unit tables in `tests/test_utils.py:21-106`.
  *
  * Design: each cleanse function is ONE plain Scala function over
  * `String`, the form the ETL row rules ([[graft.ops.AreaPipeline.row]],
  * [[graft.ops.IslandPipeline.row]]) call once per row. The `Column`
  * builders of the same names wrap those functions in native Catalyst
  * nodes ([[NativeExpressions]]) for the registry queries and SQL.
  * Every regex is compiled once, here: `String.replaceAll`/`split`
  * would compile its pattern again on every call.
  *
  * All regexes carry the `(?U)` (UNICODE_CHARACTER_CLASS) flag so that
  * `\s`/`\d` match Unicode whitespace/digits exactly like Python's
  * `str.strip()` / `re` on `str` do — PDF extraction routinely emits
  * NBSP (U+00A0) and friends (`utils.py:33,75,155`).
  */
object Cleanse {

  private val Strip = Pattern.compile("(?U)^\\s+|\\s+$")
  private val Rstrip = Pattern.compile("(?U)\\s+$")
  private[graft] val Whitespace = Pattern.compile("(?U)\\s+")

  /** An ASCII graphic character: never `(?U)\s`, so a string that
    * starts and ends with one has nothing to strip.
    */
  private def graphic(c: Char): Boolean = c > ' ' && c < '\u007f'

  /** Python `str.strip()` (`(?U)` makes `\s` cover NBSP etc. like
    * Python; Spark's `trim` only strips 0x20).
    */
  private[graft] def pyStrip(s: String): String =
    if (s.isEmpty || graphic(s.charAt(0)) && graphic(s.charAt(s.length - 1))) s
    else Strip.matcher(s).replaceAll("")
  private[graft] def pyRstrip(s: String): String =
    if (s.isEmpty || graphic(s.charAt(s.length - 1))) s
    else Rstrip.matcher(s).replaceAll("")

  private val LeadDigitsNewline = Pattern.compile("(?U)^\\d+\n")
  private val NewlineTrailDigits = Pattern.compile("(?U)\n\\d+$")
  private val Newlines = Pattern.compile("\n+")
  private val LeadDigitsSpace = Pattern.compile("(?U)^\\d+\\s+")
  private val SpaceRuns = Pattern.compile("(?U)\\s{2,}")

  /** clean_name (`utils.py:23-38`): strip; drop CR; TAB->space; then the
    * 5 ordered regex passes (leading digits+NL, trailing NL+digits,
    * NL-collapse, leading digits+space, multi-space collapse); strip.
    * Order is load-bearing: digit artifacts are stripped while newlines
    * still exist, so `"1 Bakongan"` -> `"Bakongan"` but `"Limba U I"`
    * survives. Null reads as "". CleanseSpec holds the reference's unit
    * tables; NativeParitySpec pins it to the 9-regex `Column` chain it
    * replaced (`graft.ops.Reference.cleanNameChain`).
    */
  def cleanName(name: String): String = {
    if (name == null) return ""
    var t = pyStrip(name).replace("\r", "").replace('\t', ' ')
    if (t.indexOf('\n') >= 0) {
      t = LeadDigitsNewline.matcher(t).replaceAll("")
      t = NewlineTrailDigits.matcher(t).replaceAll("")
      t = Newlines.matcher(t).replaceAll(" ")
    }
    if (t.nonEmpty && Character.isDigit(t.codePointAt(0)))
      t = LeadDigitsSpace.matcher(t).replaceAll("")
    pyStrip(SpaceRuns.matcher(t).replaceAll(" "))
  }

  /** [[cleanName]] as a native expression; null-propagating like any
    * `Column` function.
    */
  def cleanName(c: Column): Column = NativeExpressions.cleanName(c)

  /** fix_wrapped_name (`utils.py:41-65`): repairs PDF line-wraps.
    * Drops blank lines; merges a <=3-char lowercase-initial fragment
    * line into the previous line iff the previous line is >=16 chars
    * and doesn't end in space/'-'; keeps other newlines.
    */
  def fixWrappedNameScala(name: String, maxLineLength: Int = 16): String = {
    if (name == null || name.isEmpty) return ""
    if (!name.contains('\n')) return pyRstrip(name)
    val fixed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (line <- name.split("\n", -1)) {
      val s = pyRstrip(line)
      if (s.nonEmpty) {
        if (fixed.nonEmpty &&
            fixed.last.length >= maxLineLength &&
            s.length <= 3 &&
            !" -".contains(fixed.last.last) &&
            Character.isLowerCase(s.charAt(0))) {
          fixed(fixed.length - 1) = fixed.last + s
        } else fixed += s
      }
    }
    fixed.mkString("\n")
  }

  /** normalize_words (`utils.py:68-79`): de-spaces PDF-kerned headers —
    * if every whitespace token is a single char (or "/"/"-"), join all
    * tokens ("K o d e" -> "Kode"); else return the stripped input.
    */
  def normalizeWordsScala(words: String): String = {
    if (words == null) return ""
    val s = pyStrip(words)
    if (s.isEmpty) return ""
    val tokens = Whitespace.split(s)
    if (tokens.exists(t => t.length > 1 && t != "/" && t != "-")) s
    else tokens.mkString("")
  }

  // The Column builders use the native Catalyst expressions
  // (NativeExpressions.scala) — the Scala semantics above, codegen'd
  // without the ScalaUDF encoder/boxing layer.
  def fixWrappedName(c: Column): Column = NativeExpressions.fixWrappedName(c)
  def normalizeWords(c: Column): Column = NativeExpressions.normalizeWords(c)

  /** The composed cleanse chain applied to every area name:
    * `normalize_words(clean_name(fix_wrapped_name(s))) if s else ""`
    * (`extractors.py:151`).
    */
  def cleanseName(s: String): String =
    if (s == null || s.isEmpty) ""
    else normalizeWordsScala(cleanName(fixWrappedNameScala(s)))

  def cleanseName(c: Column): Column =
    when(c.isNull || c === "", lit(""))
      .otherwise(normalizeWords(cleanName(fixWrappedName(c))))

  /** Island-side cleanse: `clean_name(fix_wrapped_name(s))` — no
    * normalize_words pass (`extractors.py:279`).
    */
  def cleanseIslandName(s: String): String = cleanName(fixWrappedNameScala(s))

  def cleanseIslandName(c: Column): Column =
    cleanName(fixWrappedName(coalesce(c, lit(""))))

  // ---- code-derived columns (`extractors.py:164-176,244-248,287-291`) ----

  /** Area code lengths (`utils.py:14-17`). */
  val ProvinceCodeLength = 2
  val RegencyCodeLength = 5
  val DistrictCodeLength = 8
  val VillageCodeLength = 13

  /** Island code pattern, e.g. "11.01.40001" (`utils.py:20`). */
  val IslandCodeRegex = "^\\d{2}\\.\\d{2}\\.\\d{5}$"
  private[graft] val IslandCode = Pattern.compile(IslandCodeRegex)

  /** F7: parent prefix for regency/district/village (`extractors.py:171-175`). */
  def parentPrefix(code: Column, parentLen: Int): Column =
    substring(code, 1, parentLen)

  /** F6: island parent "NN.RR" from "NN.RR.XXXXX"; "" when RR=="00"
    * (`extractors.py:244-248,292`).
    */
  def islandParentCode(code: Column): Column =
    when(substring(code, 4, 2) === "00", lit(""))
      .otherwise(substring(code, 1, 5))

  private val PopulatedRegex = "(?U)^\\s*BP\\b"
  private[graft] val Populated = Pattern.compile(PopulatedRegex)

  /** F5: is_populated — status upper-cased matches `^\s*BP\b`
    * (`extractors.py:287-290`). `BP` prefix ⇒ 1, `TBP` ⇒ 0.
    */
  def isPopulated(status: Column): Column =
    when(upper(status).rlike(PopulatedRegex), lit(1)).otherwise(lit(0))

  /** F5: is_outermost_small — info contains "PPKT" (`extractors.py:291`). */
  def isOutermostSmall(info: Column): Column =
    when(upper(info).contains("PPKT"), lit(1)).otherwise(lit(0))

  /** Spark's `upper` on a plain string: the ICU root case mapping that
    * `spark.sql.icu.caseMappings.enabled` (on by default) selects.
    */
  private[graft] def upperCase(s: String): String =
    CollationAwareUTF8String.toUpperCase(UTF8String.fromString(s)).toString
}
