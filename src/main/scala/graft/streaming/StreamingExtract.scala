package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.config.EtlConfig
import graft.io.CsvSink
import graft.ops.{CellTables, Dispatch, ExtractJob}

/** Structured-Streaming analog of the reference's manually-driven
  * micro-batch loop (SURVEY §2.9): the chunk loop (`cli.py:170-194`)
  * becomes a file-source stream with `Trigger.AvailableNow`; the
  * buffered incremental sinks (`writer.py:59-73`) become `foreachBatch`
  * appends; the graceful interrupt (`cli.py:30-37`) is `query.stop()`.
  *
  * Each micro-batch runs the SAME batch pipeline as [[ExtractJob]]
  * (the one [[Dispatch.extract]] pass → [[ExtractJob.lines]] with
  * [[EtlConfig.Default]]), so the plan properties (one meta collect,
  * one join-free typed pass) carry over unchanged; the batch's
  * extracted frame is cached once and feeds both the province record
  * and the lines. The run-global `_seen_provinces` set
  * (`extractors.py:110-112,166-169`) is a table
  * of province codes under the checkpoint dir, one entry per batch id:
  * batch B records its own codes, then drops the provinces whose code
  * an entry below B holds. A replayed batch overwrites its own entry
  * and reads the same earlier ones, so it gives the same output.
  */
object StreamingExtract {

  /** File-source stream of cell tables (the post-camelot boundary):
    * new parquet files under `cellsDir` are the "new chunks", read with
    * the fixed [[CellTables.Schema]].
    */
  def readCells(spark: SparkSession, cellsDir: String): DataFrame =
    spark.readStream.schema(CellTables.Schema).parquet(cellsDir)

  /** End-to-end streaming extract: per micro-batch, run the batch
    * dispatch+extract pipeline and hand its rendered lines and the
    * default config's sinks to `sink` (batchId, lines, sinks) — the
    * arguments of [[CsvSink.write]]. The batchId is the CHECKPOINTED
    * micro-batch id — monotonic across restarts, so sinks keying
    * output on it never collide with a previous run's output.
    * `Trigger.AvailableNow` processes the backlog then stops — the
    * chunked-run analog; drop the trigger for a long-lived
    * tail-the-directory job.
    */
  def run(
      cells: DataFrame,
      checkpointDir: String,
      sink: (Long, DataFrame, Seq[CsvSink.Sink]) => Unit): StreamingQuery = {
    val seenDir = new Path(checkpointDir, "seen_provinces").toString
    cells.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = Dispatch.extract(batch).cache()
        try {
          // record this batch's codes first: the table then exists, and
          // a replay overwrites the same entry
          cached.filter(col("entity") === "province").select("code")
            .coalesce(1).write.mode("overwrite")
            .parquet(new Path(seenDir, s"batch_id=$batchId").toString)
          val seen = batch.sparkSession.read.parquet(seenDir)
            .filter(col("batch_id") < batchId)
            .select(lit("province").as("entity"), col("code"))
          val (lines, sinks) = ExtractJob.lines(cached.join(
            broadcast(seen), Seq("entity", "code"), "left_anti"),
            EtlConfig.Default)
          sink(batchId, lines, sinks)
        } finally { cached.unpersist(); () }
      }
      .start()
  }
}
