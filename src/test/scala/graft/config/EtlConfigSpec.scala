package graft.config

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's config validation tests
  * (`tests/test_config.py`, `config.py:19-27,96-144`).
  */
class EtlConfigSpec extends AnyFunSuite {
  import EtlConfig._

  private val sampleToml =
    """
      |[data.province]
      |batch_size = 500
      |output_headers = "code, name"
      |filename_suffix = "province"
      |
      |[data.island]
      |batch_size = 1000
      |output_headers = [
      |  "code",
      |  "regency_code",
      |  "coordinate",
      |  "is_populated",
      |  "is_outermost_small",
      |  "name",
      |]
      |filename_suffix = "island"
      |""".stripMargin

  test("parses headers from comma string and from list") {
    val cfg = loadString(sampleToml)
    assert(cfg.data("province").outputHeaders == Seq("code", "name"))
    assert(cfg.data("province").batchSize == 500)
    assert(cfg.data("island").outputHeaders == Seq("code", "regency_code",
      "coordinate", "is_populated", "is_outermost_small", "name"))
    assert(cfg.data("island").filenameSuffix == "island")
  }

  test("default suffix is _{area}.csv when absent") {
    val cfg = loadString(
      """
        |[data.province]
        |batch_size = 10
        |output_headers = "code, name"
        |""".stripMargin)
    assert(cfg.data("province").filenameSuffix == "_province.csv")
  }

  test("empty or missing data table raises") {
    intercept[ConfigError](loadString(""))
    intercept[ConfigError](loadString("[other]\nx = 1"))
  }

  test("non-positive batch_size raises") {
    intercept[ConfigError](loadString(
      "[data.province]\nbatch_size = 0\noutput_headers = \"code\""))
    intercept[ConfigError](loadString(
      "[data.province]\nbatch_size = -5\noutput_headers = \"code\""))
  }

  test("empty headers raise") {
    intercept[ConfigError](loadString(
      "[data.province]\nbatch_size = 5\noutput_headers = \"\""))
  }

  test("multi-line arrays tolerate brackets inside quoted strings") {
    val cfg = loadString(
      """|[data.province]
         |batch_size = 5
         |output_headers = [
         |  "code",
         |  "Luas [Km2]",
         |]
         |filename_suffix = "province"
         |""".stripMargin)
    assert(cfg.data("province").outputHeaders == Seq("code", "Luas [Km2]"))
  }

  test("brackets inside TOML literal (single-quoted) strings don't corrupt parsing") {
    val cfg = loadString(
      """|[data.province]
         |batch_size = 5
         |output_headers = "code, name"
         |filename_suffix = "prov [x]"
         |
         |[data.regency]
         |batch_size = 7
         |output_headers = "code, name"
         |filename_suffix = "regency"
         |""".stripMargin)
    assert(cfg.data("province").filenameSuffix == "prov [x]")
    assert(cfg.data("regency").batchSize == 7)
  }

  test("missing file raises ConfigError") {
    intercept[ConfigError](load(Paths.get("/nonexistent/config.toml")))
  }

  test("the reference's shipped idnareaetl.toml parses") {
    // its committed transcription (`src/test/resources`), from the
    // values SURVEY cites (`idnareaetl.toml:1-31`)
    val cfg = load(Paths.get(getClass.getResource("/idnareaetl.toml").toURI))
    assert(cfg.data.keySet ==
      Set("province", "regency", "district", "village", "island"))
    assert(cfg.data("village").batchSize == 2000)
    assert(cfg.data("island").outputHeaders.head == "code")
    assert(cfg == Default)
  }
}
