package graft.tools

import java.nio.file.{Files, Paths}
import graft.io.CsvSink
import graft.streaming.StreamingExtract

/** Streaming CLI entry: tail a directory of cell-table parquet files
  * (the post-camelot boundary) and append per-entity CSV output as new
  * chunks arrive — the reference's chunk loop (`cli.py:170-194`) as a
  * Structured Streaming job.
  *
  * Usage: RunStreamEtl <cellsDir> <destDir> <outputName> [checkpointDir]
  *
  * Runs with `Trigger.AvailableNow`: processes the current backlog then
  * exits (re-run to pick up new files; the checkpoint makes that
  * exactly-once, and a province written by an earlier run on the same
  * checkpoint is not written again). Each micro-batch is one
  * [[CsvSink.write]] into its own `batch_<id>` directory — appends
  * never rewrite prior output — and, like [[graft.ops.ExtractJob]],
  * writes a header-only file for an entity with no rows in the batch.
  */
object RunStreamEtl {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: RunStreamEtl <cellsDir> <destDir> <outputName> [checkpointDir]")
      sys.exit(2)
    }
    val Array(input, dest, name) = args.take(3)
    val ckpt = args.lift(3)
      .getOrElse(Files.createTempDirectory("graft-stream-ckpt-").toString)

    val spark = graft.Harness.session()

    val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
    StreamingExtract.run(
      StreamingExtract.readCells(spark, input),
      ckpt,
      (batchId, lines, sinks) => {
        // keyed by the CHECKPOINTED batch id: re-runs continue the
        // sequence instead of overwriting a previous run's output
        val written = CsvSink.write(lines, sinks,
          Paths.get(dest, s"batch_$batchId").toString, name,
          singleFile = false, CsvSink.seqRange(lines))
        sinks.zip(written).foreach { case (s, (_, n)) =>
          counts.updateWith(s.entity)(c => Some(c.getOrElse(0L) + n))
        }
      }).awaitTermination()

    println(s"Streaming backlog processed; checkpoint: $ckpt")
    counts.toSeq.sortBy(_._1).foreach { case (e, c) => println(s"  $e: $c") }
    spark.stop()
  }
}
