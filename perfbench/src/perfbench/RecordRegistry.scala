package perfbench

import org.apache.spark.sql.SparkSession

/** Prints `queries.tsv` lines (name, jobs, digest) for the registry
  * slice from a `graft.Verify` dump whose outputs passed the DuckDB
  * oracle (`scripts/check_oracle.py`): the digest each benchmark
  * execution's results must reproduce.
  *
  * Usage: RecordRegistry <verify dump dir> <query>=<jobs> ...
  */
object RecordRegistry {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (arg <- args.drop(1)) {
      val Array(q, jobs) = arg.split("=")
      val rows = spark.read.parquet(s"${args(0)}/$q").collect()
      println(s"$q\t$jobs\t${RegistrySlice.digest(rows)}")
    }
    spark.stop()
  }
}
