package graft.config

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** S5 config source: TOML -> validated config (reference
  * `config.py:13-34,75-144`, `idnareaetl.toml:1-31`).
  *
  * Driver-side pure Scala — no Spark involvement. The parser covers the
  * TOML subset the reference's config actually uses ([data.<area>]
  * tables with int / string / string-array values); validation rules
  * mirror `DataConfig.__post_init__` (`config.py:19-27`) and `_parse`
  * (`config.py:96-144`): positive batch_size, non-empty suffix and
  * headers, headers accepted as `"a, b"` string or list, default suffix
  * `_{area}.csv`.
  */
object EtlConfig {

  final case class DataConfig(
      batchSize: Int,
      outputHeaders: Seq[String],
      filenameSuffix: String) {
    if (batchSize <= 0)
      throw ConfigError("batch_size must be a positive integer")
    if (filenameSuffix.isEmpty)
      throw ConfigError("filename_suffix must be a non-empty string")
    if (outputHeaders.isEmpty)
      throw ConfigError("expected_headers must be a non-empty tuple")
  }

  final case class Config(data: Map[String, DataConfig])

  final case class ConfigError(message: String)
      extends RuntimeException(message)

  /** Entity keys the pipelines produce (`config.py:7`). */
  val Areas: Seq[String] =
    Seq("province", "regency", "district", "village", "island")

  /** The reference's shipped `idnareaetl.toml` defaults. */
  val Default: Config = Config(Map(
    "province" -> DataConfig(500, Seq("code", "name"), "province"),
    "regency" -> DataConfig(500, Seq("code", "province_code", "name"),
      "regency"),
    "district" -> DataConfig(1000, Seq("code", "regency_code", "name"),
      "district"),
    "village" -> DataConfig(2000, Seq("code", "district_code", "name"),
      "village"),
    "island" -> DataConfig(1000,
      Seq("code", "regency_code", "coordinate", "is_populated",
        "is_outermost_small", "name"), "island")))

  def load(path: Path): Config = {
    if (!Files.isRegularFile(path))
      throw ConfigError(s"Configuration file not found: $path")
    val raw =
      try parseToml(Files.readAllLines(path).asScala.toSeq)
      catch {
        case e: ConfigError => throw e
        case e: Exception => throw ConfigError(e.toString)
      }
    parse(raw)
  }

  def loadString(content: String): Config =
    parse(parseToml(content.linesIterator.toSeq))

  /** `_parse` (`config.py:96-144`). Raw model: section -> key -> value
    * where value is Int | String | Seq[String].
    */
  def parse(raw: Map[String, Map[String, Any]]): Config = {
    val data = raw.collect {
      case (k, v) if k.startsWith("data.") => k.stripPrefix("data.") -> v
    }
    if (data.isEmpty)
      throw ConfigError("Configuration must contain a non-empty 'data' table")
    val parsed = data.map { case (area, table) =>
      val batchSize = table.get("batch_size") match {
        case Some(i: Int) => i
        case Some(s: String) =>
          try s.toInt
          catch { case _: NumberFormatException =>
            throw ConfigError(s"invalid batch_size for area '$area'") }
        case Some(other) =>
          throw ConfigError(s"invalid batch_size: $other")
        case None => 0
      }
      val headers: Seq[String] = table.get("output_headers") match {
        case Some(s: String) => s.split(",", -1).map(_.trim).toSeq
        case Some(xs: Seq[_]) => xs.map(x => String.valueOf(x).trim)
        case Some(other) =>
          throw ConfigError(
            "output_headers must be a string or a sequence of strings")
        case None => Nil
      }
      val suffix = table.get("filename_suffix") match {
        case Some(s) => String.valueOf(s).trim
        case None => s"_$area.csv"
      }
      area -> DataConfig(batchSize, headers.filter(_.nonEmpty), suffix)
    }
    Config(parsed)
  }

  // ---- minimal TOML subset parser ----

  private val SectionRe = """^\[([A-Za-z0-9_.\-]+)\]$""".r
  private val KeyValRe = """^([A-Za-z0-9_\-]+)\s*=\s*(.+)$""".r

  private[config] def parseToml(
      lines: Seq[String]): Map[String, Map[String, Any]] = {
    var section = ""
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Any]]
    // Join lines so multi-line arrays (the reference's
    // idnareaetl.toml:22-29 output_headers) parse too.
    val joined = joinMultilineArrays(lines.map(stripComment))
    joined.map(_.trim).filter(_.nonEmpty).foreach {
      case SectionRe(name) =>
        section = name
        out.getOrElseUpdate(section,
          scala.collection.mutable.LinkedHashMap.empty[String, Any])
      case KeyValRe(key, value) =>
        out.getOrElseUpdate(section,
          scala.collection.mutable.LinkedHashMap.empty[String, Any])
          .put(key, parseValue(value.trim))
      case other =>
        throw ConfigError(s"unparseable TOML line: $other")
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Walk a line tracking TOML string state — basic `"…"` strings
    * (where `\"` escapes a quote) and literal `'…'` strings (no
    * escapes) — yielding each char with an in-string flag. Shared by
    * comment stripping and bracket counting so both respect the same
    * string grammar.
    */
  private def annotate(line: String): Seq[(Char, Boolean)] = {
    val out = Seq.newBuilder[(Char, Boolean)]
    var quote: Char = 0 // 0 = outside a string; else the open quote
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quote == 0) {
        if (c == '"' || c == '\'') { quote = c; out += ((c, true)) }
        else out += ((c, false))
      } else {
        out += ((c, true))
        if (c == '\\' && quote == '"' && i + 1 < line.length) {
          i += 1; out += ((line.charAt(i), true))
        } else if (c == quote) quote = 0
      }
      i += 1
    }
    out.result()
  }

  private def stripComment(line: String): String =
    annotate(line).takeWhile { case (c, in) => in || c != '#' }
      .map(_._1).mkString

  /** Net bracket depth of a line, ignoring brackets inside quoted
    * strings (an array element like `"Luas [Km2]"` or `'Luas [Km2]'`
    * must not corrupt multi-line array joining).
    */
  private def bracketDepth(line: String): Int =
    annotate(line).foldLeft(0) { case (d, (c, in)) =>
      if (in) d
      else if (c == '[') d + 1
      else if (c == ']') d - 1
      else d
    }

  private def joinMultilineArrays(lines: Seq[String]): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val pending = new StringBuilder
    var depth = 0
    for (line <- lines) {
      val opens = bracketDepth(line)
      if (depth > 0) {
        pending.append(" ").append(line.trim)
        depth += opens
        if (depth <= 0) { out += pending.toString; pending.clear() }
      } else if (opens > 0 && line.contains("=")) {
        pending.append(line.trim)
        depth = opens
        if (depth <= 0) { out += pending.toString; pending.clear() }
      } else out += line
    }
    if (pending.nonEmpty) out += pending.toString
    out.toSeq
  }

  private[config] def parseValue(v: String): Any = {
    if (v.startsWith("[")) {
      val inner = v.stripPrefix("[").stripSuffix("]").trim
      if (inner.isEmpty) Nil
      else splitTopLevel(inner).map(x => parseValue(x.trim) match {
        case s: String => s
        case other => String.valueOf(other)
      })
    } else if (v.startsWith("\"") && v.endsWith("\"") && v.length >= 2) {
      v.substring(1, v.length - 1)
    } else if (v.matches("-?\\d+")) {
      v.toInt
    } else if (v == "true" || v == "false") {
      v.toBoolean
    } else v
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var inStr = false
    val sb = new StringBuilder
    for (c <- s) {
      if (c == '"') { inStr = !inStr; sb.append(c) }
      else if (c == ',' && !inStr) { parts += sb.toString; sb.clear() }
      else sb.append(c)
    }
    if (sb.toString.trim.nonEmpty) parts += sb.toString
    parts.toSeq
  }
}
