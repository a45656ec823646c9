package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.ExtractJob

/** Reproducible ETL-throughput measurement (the README "ETL
  * throughput" numbers): synthesizes a deterministic mixed area+island
  * cell corpus — `tables` tables × `rowsPerTable` rows, alternating
  * families, code lengths cycling province/regency/district/village
  * with repeated province codes to exercise the global dedup — writes
  * it as parquet, then times `ExtractJob.run` (the full dispatch +
  * cleanse + classify + five-sink product) in the scale-safe
  * multi-file layout.
  *
  * Usage: `sbt "runMain graft.tools.EtlBench [tables] [rowsPerTable]"`
  * (defaults 2000 × 250 = 500k cell rows).
  */
object EtlBench {
  def main(args: Array[String]): Unit = {
    val tables = args.headOption.map(_.toInt).getOrElse(2000)
    val rowsPerTable = args.drop(1).headOption.map(_.toInt).getOrElse(250)
    val spark = graft.Harness.session()

    val work = Files.createTempDirectory("graft-etlbench-")
    val cellsPath = work.resolve("cells.parquet").toString
    val outPath = work.resolve("out").toString

    // --- synthesize: one header row + one numbering row (area) or one
    // header row (island) per table, then data rows
    val t = col("id") / rowsPerTable
    val r = col("id") % rowsPerTable
    val tableId = t.cast("long")
    val isArea = tableId % 2 === 0
    val k = col("id").cast("long")
    val areaCode = when(k % 4 === 0, lpad((k % 100).cast("string"), 2, "0"))
      .when(k % 4 === 1, lpad(k.cast("string"), 5, "0"))
      .when(k % 4 === 2, lpad(k.cast("string"), 8, "0"))
      .otherwise(lpad(k.cast("string"), 13, "0"))
    val islandCode = concat(
      lpad((k % 90).cast("string"), 2, "0"), lit("."),
      lpad((k % 97).cast("string"), 2, "0"), lit("."),
      lpad((k % 99999).cast("string"), 5, "0"))
    val coord = concat(
      lpad((k % 10).cast("string"), 2, "0"), lit("°"),
      lpad((k % 60).cast("string"), 2, "0"), lit("'"),
      lpad((k % 60).cast("string"), 2, "0"), lit(".00\" U "),
      lpad((k % 140).cast("string"), 3, "0"), lit("°"),
      lpad((k % 59).cast("string"), 2, "0"), lit("'"),
      lpad((k % 59).cast("string"), 2, "0"), lit(".00\" T"))
    val areaCells = when(r === 0, array(
      lit("K o d e"), lit("NAMA PROVINSI / KABUPATEN / KOTA"),
      lit(""), lit(""), lit(""), lit(""), lit("")))
      .when(r === 1, array((1 to 7).map(i => lit(i.toString)): _*))
      .otherwise(array(areaCode, concat(lit("Nama "), k.cast("string")),
        lit(""), lit(""), lit(""), lit(""), lit("")))
    val islandCells = when(r === 0, array(
      lit("No"), lit("Kode Pulau"), lit("Nama Pulau"), lit("Koordinat"),
      lit("BP/TBP"), lit("Keterangan")))
      .otherwise(array(r.cast("string"), islandCode,
        concat(lit("Pulau "), k.cast("string")), coord,
        when(k % 2 === 0, lit("BP")).otherwise(lit("TBP")),
        when(k % 3 === 0, lit("PPKT")).otherwise(lit(""))))
    spark.range(tables.toLong * rowsPerTable)
      .select(tableId.as("table_id"),
        (tableId % 100 + 1).cast("int").as("page"),
        r.cast("int").as("row_idx"), col("id").as("seq"),
        when(isArea, areaCells).otherwise(islandCells).as("cells"))
      .write.mode("overwrite").parquet(cellsPath)

    // --- timed region: the full extract product, scale-safe layout
    val cells = spark.read.parquet(cellsPath)
    val t0 = System.nanoTime()
    val result = ExtractJob.run(cells, outPath, "bench",
      RunEtl.defaultConfig, singleFile = false)
    val sec = (System.nanoTime() - t0) / 1e9
    val total = result.counts.values.sum
    println(s"""{"metric":"etl_multi_file","value":$sec,"unit":"sec",""" +
      s""""cell_rows":${tables.toLong * rowsPerTable},""" +
      s""""entity_rows":$total,"counts":{${
        result.counts.map { case (e, n) => s""""$e":$n""" }.mkString(",")
      }}}""")
    spark.stop()
  }
}
