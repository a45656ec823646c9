package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Transliteration of the reference's pinned unit tables:
  * `tests/test_utils.py:21-106` (clean_name, fix_wrapped_name,
  * normalize_words) plus Unicode-whitespace cases the reference gets
  * for free from Python str semantics.
  */
class CleanseSpec extends AnyFunSuite {
  import Cleanse._

  // ---- clean_name (`tests/test_utils.py:21-43`) ----

  test("clean_name basic cleaning") {
    assert(cleanName("  Kabupaten   Aceh \tSelatan\r\n") ==
      "Kabupaten Aceh Selatan")
  }

  test("clean_name drops numeric header on its own line") {
    val out = cleanName("123\nNama Provinsi\nAceh")
    assert(!out.contains("123"))
    assert(out == "Nama Provinsi Aceh")
  }

  test("clean_name empty / whitespace-only") {
    assert(cleanName("") == "")
    assert(cleanName("   \t  \r\n  ") == "")
  }

  test("clean_name number patterns at both ends") {
    assert(cleanName("123\nSome Name\n456") == "Some Name")
    assert(cleanName("1 Some Name") == "Some Name")
  }

  test("clean_name strips Unicode whitespace (NBSP) like Python strip") {
    assert(cleanName(" Aceh ") == "Aceh")
    assert(cleanName("Aceh  Barat") == "Aceh Barat")
  }

  // ---- fix_wrapped_name (`tests/test_utils.py:46-90`) ----

  test("fix_wrapped_name merges lowercase tail fragments") {
    assert(fixWrappedNameScala("Sibarani Nasampulu/Namungk\nup") ==
      "Sibarani Nasampulu/Namungkup")
    assert(fixWrappedNameScala("Kedungpomahanwet\nan") == "Kedungpomahanwetan")
    assert(fixWrappedNameScala("Kedungpomahankulo\nn") == "Kedungpomahankulon")
    assert(fixWrappedNameScala("Leragawi/Megagiraku\nk") == "Leragawi/Megagirakuk")
    assert(fixWrappedNameScala("Bakungtemenggunga\nn") == "Bakungtemenggungan")
  }

  test("fix_wrapped_name keeps regular breaks") {
    assert(fixWrappedNameScala("Pulau Batee\nUjong") == "Pulau Batee\nUjong")
    assert(fixWrappedNameScala("Ompu Raja Hutapea\nTimur") ==
      "Ompu Raja Hutapea\nTimur")
    assert(fixWrappedNameScala("Teungoh Glumpang\nVII") ==
      "Teungoh Glumpang\nVII")
    assert(fixWrappedNameScala("Perkebunan Sungai\nIyu") ==
      "Perkebunan Sungai\nIyu")
    assert(fixWrappedNameScala("Limba U I") == "Limba U I")
  }

  test("fix_wrapped_name empty / blank / no newline") {
    assert(fixWrappedNameScala("") == "")
    assert(fixWrappedNameScala("   ") == "")
    assert(fixWrappedNameScala("Simple Name") == "Simple Name")
  }

  test("fix_wrapped_name removes empty lines") {
    assert(fixWrappedNameScala("Name\n\n\nSecond") == "Name\nSecond")
    assert(fixWrappedNameScala("Name\n  \n  \nSecond") == "Name\nSecond")
  }

  test("fix_wrapped_name merge edge cases") {
    val longLine = "A" * 16
    assert(fixWrappedNameScala(s"$longLine\nup") == s"${longLine}up")
    assert(fixWrappedNameScala("Short\nlonger") == "Short\nlonger")
    assert(fixWrappedNameScala("Line ends with \nup") == "Line ends with\nup")
    assert(fixWrappedNameScala("Line ends with-\nup") == "Line ends with-\nup")
    assert(fixWrappedNameScala("Line\nUp") == "Line\nUp")
  }

  // ---- normalize_words (`tests/test_utils.py:92-106`) ----

  test("normalize_words joins single characters") {
    assert(normalizeWordsScala("K o d e") == "Kode")
  }

  test("normalize_words keeps valid phrases") {
    assert(normalizeWordsScala("Nama Provinsi") == "Nama Provinsi")
  }

  test("normalize_words allows slash and dash tokens") {
    assert(normalizeWordsScala("N A M A / P R O V I N S I") == "NAMA/PROVINSI")
    assert(normalizeWordsScala("A - B") == "A-B")
  }

  test("normalize_words blank") {
    assert(normalizeWordsScala("   ") == "")
  }

  test("normalize_words NBSP-kerned header") {
    assert(normalizeWordsScala("K o d e") == "Kode")
  }

  // ---- code constants + flag/parent derivations ----

  test("code length constants") {
    assert(ProvinceCodeLength == 2)
    assert(RegencyCodeLength == 5)
    assert(DistrictCodeLength == 8)
    assert(VillageCodeLength == 13)
  }

  test("island code regex") {
    assert("11.01.40001".matches(IslandCodeRegex))
    assert(!"bad.code".matches(IslandCodeRegex))
    assert(!"11.01".matches(IslandCodeRegex))
    assert(!"11.01.4000X".matches(IslandCodeRegex))
  }
}
