package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val Usage = "usage: Verify <sfDir> <outDir> [q1,q2,...]"

  /** (sfDir, outDir, optional query filter), or None on a wrong count. */
  def parseArgs(args: Array[String]): Option[(String, String, Option[Set[String]])] =
    args match {
      case Array(a, b)    => Some((a, b, None))
      case Array(a, b, c) => Some((a, b, Some(c.split(',').toSet)))
      case _              => None
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        Harness.step(spark, "verify", name)(
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
