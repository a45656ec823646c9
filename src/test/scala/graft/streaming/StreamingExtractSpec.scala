package graft.streaming

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.functions.col
import graft.SparkSpec
import graft.ops.{CellTables, Fixtures}

/** Streaming semantics (SURVEY §2.9): the foreachBatch chunk loop over
  * a file source, and the run-global first-occurrence province dedup
  * across micro-batches and restarts.
  */
class StreamingExtractSpec extends SparkSpec {

  /** One `Trigger.AvailableNow` run over `srcDir`: every sink's
    * rendered lines, split into fields, in document order; and each
    * sink's headers.
    */
  private def runOnce(srcDir: Path, ckpt: Path)
      : (Map[String, Seq[Seq[String]]], Map[String, Seq[String]]) = {
    val out = TrieMap.empty[String, Seq[Seq[String]]]
    val headers = TrieMap.empty[String, Seq[String]]
    StreamingExtract.run(
      StreamingExtract.readCells(spark, srcDir.toString),
      ckpt.toString,
      (_, lines, sinks) => {
        for (s <- sinks) {
          headers.put(s.entity, s.headers)
          val rows = lines.filter(col("entity") === s.entity)
            .orderBy("seq").select("line").collect()
            .map(_.getString(0).split(",", -1).toSeq).toSeq
          out.updateWith(s.entity)(c => Some(c.getOrElse(Nil) ++ rows))
        }
      }).awaitTermination()
    (out.toMap, headers.toMap)
  }

  test("foreachBatch file-source run extracts each entity per chunk") {
    val srcDir = Files.createTempDirectory("graft-stream-src-")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-")
    // chunk 1 lands before the stream starts (the backlog)
    CellTables.ofGrids(spark, Seq(Fixtures.dfArea))
      .write.mode("append").parquet(srcDir.toString)
    CellTables.ofGrid(spark, Fixtures.dfIsland, tableId = 7L, seqStart = 100L)
      .write.mode("append").parquet(srcDir.toString)

    val counts = scala.collection.concurrent.TrieMap.empty[String, Long]
    val batchIds = scala.collection.concurrent.TrieMap.empty[Long, Unit]
    val q = StreamingExtract.run(
      StreamingExtract.readCells(spark, srcDir.toString),
      ckpt.toString,
      (batchId, lines, sinks) => {
        batchIds.put(batchId, ())
        for (s <- sinks) {
          val n = lines.filter(col("entity") === s.entity).count()
          counts.updateWith(s.entity) { c => Some(c.getOrElse(0L) + n) }
        }
      })
    q.awaitTermination()

    assert(counts("province") >= 1L)
    assert(counts("island") >= 1L)
    assert(counts.keySet ==
      Set("province", "regency", "district", "village", "island"))
    assert(batchIds.keySet.nonEmpty) // checkpointed ids delivered
  }

  test("a province seen by an earlier run on the checkpoint is not written again") {
    val srcDir = Files.createTempDirectory("graft-stream-src-")
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-")
    def chunk(name: String, tableId: Long, seqStart: Long): Unit =
      CellTables.ofGrid(spark, Seq(
        Seq("K O D E", "NAMA PROVINSI", "", "", "", "", ""),
        Seq("", "", "", "", "", "", ""),
        Seq("11", name, "", "", "", "", ""),
        Seq(s"11.0$tableId", s"Kabupaten $name", "", "", "", "", "")),
        tableId = tableId, seqStart = seqStart)
        .write.mode("append").parquet(srcDir.toString)

    // a province-less first run: its batch records an empty entry
    CellTables.ofGrid(spark, Fixtures.dfIsland, tableId = 0L, seqStart = 500L)
      .write.mode("append").parquet(srcDir.toString)
    val (islands, _) = runOnce(srcDir, ckpt)
    chunk("Aceh", 1L, 0L)
    val (first, headers) = runOnce(srcDir, ckpt)
    chunk("Aceh Lagi", 2L, 100L)
    val (second, _) = runOnce(srcDir, ckpt)

    assert(islands("province").isEmpty && islands("island").nonEmpty)
    val provinces = first("province") ++ second("province")
    assert(provinces.map(r => (r(0), r(1))) == Seq(("11", "Aceh")))
    // only provinces are deduped across batches: each run writes its regency
    assert(first("regency").map(_.head) == Seq("11.01"))
    assert(second("regency").map(_.head) == Seq("11.02"))
    // the sinks carry the default config's output headers
    assert(headers("regency") == Seq("code", "province_code", "name"))
  }
}
