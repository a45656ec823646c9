package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the Spark plan it builds over an
  * `sfDir` of the synthetic tables, and the DuckDB SQL that must give
  * the same rows. The three travel together, so a query cannot be
  * registered without its oracle.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QueryDef {

  /** Name → definition; fails naming every name declared more than once
    * (a `Map` built blindly would keep one and drop the rest silently).
    */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dupes = defs.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n
    }.toSeq.sorted
    require(dupes.isEmpty,
      s"duplicate registry query name(s): ${dupes.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
