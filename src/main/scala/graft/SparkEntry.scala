package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.ops.{CellTables, Dispatch}
import graft.registry._

/** Driver contract: `entry`, plus a thin index over the query registry.
  *
  * Every registry query is one [[graft.registry.QueryDef]] — name, Spark
  * build and DuckDB oracle SQL side by side — in a per-family object
  * under `graft.registry`; helpers live next to the one family that uses
  * them, or in `registry.Shared`. `queries` and `oracleSql` are derived
  * once from the concatenated definitions, and a name declared twice
  * fails the index instead of silently dropping a query. Where an oracle
  * expression is a composite (the cleanse chain, the language-marker
  * counters), the SQL is GENERATED from the same constants the Spark
  * side uses, so the two can't silently drift.
  *
  * Column names and types are aligned on both sides (the driver's
  * comparator sorts columns by name and hashes values): every computed
  * column is aliased identically, counts are BIGINT on both sides, and
  * no floating-point arithmetic feeds an oracle-compared column except
  * values copied verbatim from the input (min/max/projection) or sums
  * of integer-valued doubles, which are exact.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Runs the
    * REAL pipeline — fixture cell tables through dispatch and both
    * extractor families (area + island) — not a parquet peek.
    */
  def entry(spark: SparkSession): DataFrame = {
    val area: Seq[Seq[String]] = Seq(
      Seq("K o d e", "NAMA PROVINSI / KABUPATEN / KOTA", "2", "3", "4", "5", "6"),
      Seq("1", "2", "3", "4", "5", "6", "7"),
      Seq("11", "ACEH", "", "", "", "", ""),
      Seq("11.01", "KAB. ACEH SELATAN", "", "", "", "", ""),
      Seq("11.01.01", "Bakongan", "", "", "", "", ""),
      Seq("11.01.01.2001", "Keude Bakongan", "", "", "", "", ""))
    val island: Seq[Seq[String]] = Seq(
      Seq("No", "Kode Pulau", "Nama Pulau", "Koordinat", "BP/TBP", "Keterangan"),
      Seq("1", "11.01.40001", "Pulau Batukapal",
        "03°19'03.44\" U 097°07'41.73\" T", "TBP", "PPKT"),
      Seq("2", "11.01.40002", "Pulau Batutunggal",
        "03°24'55.00\" U 097°04'21.00\" T", "BP", ""))
    val cells = CellTables.ofGrids(spark, Seq(area, island))
    val (areaRows, islandRows) = Dispatch.extractAll(cells)
    areaRows.select(col("entity"), col("code"), col("name"))
      .unionByName(islandRows.select(
        lit("island").as("entity"), col("code"), col("name")))
  }

  /** Every registry query, family by family. */
  lazy val defs: Seq[QueryDef] =
    EtlQueries.defs ++ RelationalQueries.defs ++ TextQualityQueries.defs ++
      DedupQueries.defs ++ AnnQueries.defs ++ MultimodalQueries.defs ++
      SamplingQueries.defs ++ GraphQueries.defs ++ EventQueries.defs ++
      TokenizerQueries.defs ++ StatsQueries.defs

  private lazy val index: Map[String, QueryDef] = QueryDef.index(defs)
  private lazy val builds = index.map { case (n, d) => n -> d.build }
  private lazy val oracles = index.map { case (n, d) => n -> d.oracleSql }

  def queries: Map[String, (SparkSession, String) => DataFrame] = builds

  def oracleSql: Map[String, String] = oracles
}
