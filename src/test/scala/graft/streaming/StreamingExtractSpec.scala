package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.ops.{CellTables, Fixtures}

/** Streaming semantics (SURVEY §2.9): the foreachBatch chunk loop over
  * a file source, and the run-global first-occurrence province dedup
  * across micro-batches and restarts.
  */
class StreamingExtractSpec extends SparkSpec {

  /** One `Trigger.AvailableNow` run over `srcDir`; the sink collects
    * every entity frame's rows.
    */
  private def runOnce(srcDir: Path, ckpt: Path): Map[String, Seq[Row]] = {
    val out = scala.collection.concurrent.TrieMap.empty[String, Seq[Row]]
    StreamingExtract.run(
      StreamingExtract.readCells(spark, srcDir.toString),
      ckpt.toString,
      (_, entity, df) => {
        val rows = df.collect().toSeq
        out.updateWith(entity)(c => Some(c.getOrElse(Nil) ++ rows))
        ()
      }).awaitTermination()
    out.toMap
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
      (batchId, entity, df) => {
        val n = df.count()
        batchIds.put(batchId, ())
        counts.updateWith(entity) { c => Some(c.getOrElse(0L) + n) }
        ()
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
    val islands = runOnce(srcDir, ckpt)
    chunk("Aceh", 1L, 0L)
    val first = runOnce(srcDir, ckpt)
    chunk("Aceh Lagi", 2L, 100L)
    val second = runOnce(srcDir, ckpt)

    assert(islands("province").isEmpty && islands("island").nonEmpty)
    val provinces = first("province") ++ second("province")
    assert(provinces.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("11", "Aceh")))
    // only provinces are deduped across batches: each run writes its regency
    assert(first("regency").map(_.getString(0)) == Seq("11.01"))
    assert(second("regency").map(_.getString(0)) == Seq("11.02"))
    // the sink frames carry the default config's output headers
    assert(first("regency").head.schema.fieldNames.toSeq ==
      Seq("code", "province_code", "name", "seq"))
  }
}
