package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleansing expression library.
  *
  * Reference semantics: idn-area-etl `utils.py` (clean_name `utils.py:36-38`,
  * fix_wrapped_name `utils.py:41-65`, normalize_words `utils.py:68-79`) and
  * the pinned unit tables in `tests/test_utils.py:21-106`.
  *
  * Design: everything regex-expressible is a pure `Column` chain
  * (whole-stage-codegen'd, no serialization boundary); only the two
  * genuinely procedural functions (`fixWrappedName`, `normalizeWords`)
  * are Scala UDFs, with the pure-Scala implementation exposed for unit
  * tests and for driver-side header inference.
  *
  * All regexes carry the `(?U)` (UNICODE_CHARACTER_CLASS) flag so that
  * `\s`/`\d` match Unicode whitespace/digits exactly like Python's
  * `str.strip()` / `re` on `str` do — PDF extraction routinely emits
  * NBSP (U+00A0) and friends (`utils.py:33,75,155`).
  */
object Cleanse {

  /** Python-`str.strip()` equivalent (Spark's `trim` only strips 0x20;
    * `(?U)` makes `\s` cover NBSP etc. like Python).
    */
  def pyTrim(c: Column): Column = regexp_replace(c, "(?U)^\\s+|\\s+$", "")

  private[graft] def pyStrip(s: String): String =
    s.replaceAll("(?U)^\\s+|\\s+$", "")
  private[graft] def pyRstrip(s: String): String =
    s.replaceAll("(?U)\\s+$", "")

  /** clean_name (`utils.py:23-38`): strip; drop CR; TAB->space; then the
    * 5 ordered regex passes (leading digits+NL, trailing NL+digits,
    * NL-collapse, leading digits+space, multi-space collapse); strip.
    * Order is load-bearing: digit artifacts are stripped while newlines
    * still exist, so `"1 Bakongan"` -> `"Bakongan"` but `"Limba U I"`
    * survives. Pure built-ins — stays inside codegen.
    *
    * Null-propagating by design (Column semantics) — callers that need
    * "" should wrap with `coalesce(..., lit(""))` or use [[cleanseName]].
    * Parity-pinned against a plain-Scala mirror in NativeParitySpec;
    * CleanseSpec holds the reference's unit tables.
    */
  def cleanName(c: Column): Column = {
    val t0 = pyTrim(c)
    val t1 = regexp_replace(t0, "\r", "")
    val t2 = regexp_replace(t1, "\t", " ")
    val t3 = regexp_replace(t2, "(?U)^\\d+\n", "")
    val t4 = regexp_replace(t3, "(?U)\n\\d+$", "")
    val t5 = regexp_replace(t4, "\n+", " ")
    val t6 = regexp_replace(t5, "(?U)^\\d+\\s+", "")
    val t7 = regexp_replace(t6, "(?U)\\s{2,}", " ")
    pyTrim(t7)
  }

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
    val tokens = s.split("(?U)\\s+")
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
  def cleanseName(c: Column): Column =
    when(c.isNull || c === "", lit(""))
      .otherwise(normalizeWords(cleanName(fixWrappedName(c))))

  /** Island-side cleanse: `clean_name(fix_wrapped_name(s))` — no
    * normalize_words pass (`extractors.py:279`).
    */
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

  /** F7: parent prefix for regency/district/village (`extractors.py:171-175`). */
  def parentPrefix(code: Column, parentLen: Int): Column =
    substring(code, 1, parentLen)

  /** F6: island parent "NN.RR" from "NN.RR.XXXXX"; "" when RR=="00"
    * (`extractors.py:244-248,292`).
    */
  def islandParentCode(code: Column): Column =
    when(substring(code, 4, 2) === "00", lit(""))
      .otherwise(substring(code, 1, 5))

  /** F5: is_populated — status upper-cased matches `^\s*BP\b`
    * (`extractors.py:287-290`). `BP` prefix ⇒ 1, `TBP` ⇒ 0.
    */
  def isPopulated(status: Column): Column =
    when(upper(status).rlike("(?U)^\\s*BP\\b"), lit(1)).otherwise(lit(0))

  /** F5: is_outermost_small — info contains "PPKT" (`extractors.py:291`). */
  def isOutermostSmall(info: Column): Column =
    when(upper(info).contains("PPKT"), lit(1)).otherwise(lit(0))
}
