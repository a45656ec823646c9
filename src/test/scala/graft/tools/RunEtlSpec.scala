package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.SparkSpec
import graft.ops.{CellTables, ExtractJob}

/** The CLI's input step: `--pages` prunes the scan by a predicate built
  * from the range alone — no page-count job before extraction — and
  * keeps exactly the requested pages that exist.
  */
class RunEtlSpec extends SparkSpec {

  /** One area table per page 1..4, each page's codes distinct. */
  private lazy val cellsPath: String = {
    val dir = Files.createTempDirectory("graft-runetl-").resolve("cells")
    val tables = (1 to 4).map { page =>
      val province = s"${10 + page}"
      CellTables.ofGrid(spark, Seq(
        Seq("K O D E", "NAMA PROVINSI", "", "", "", ""),
        Seq("", "", "", "", "", ""),
        Seq(province, s"Province $page", "", "", "", "")),
        tableId = page.toLong, page = page, seqStart = page * 10L)
    }
    tables.reduce(_ unionByName _).write.parquet(dir.toString)
    dir.toString
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("--pages adds no Spark job before the extract's first job") {
    val path = cellsPath
    val plain = jobsDuring(RunEtl.input(spark, path, None))
    var cells: org.apache.spark.sql.DataFrame = null
    val paged = jobsDuring {
      cells = RunEtl.input(spark, path, Some("2-3,9,0"))
    }
    // the parquet read itself may run its schema-inference job; the
    // page pruning must add none
    assert(paged == plain, s"--pages ran ${paged - plain} extra job(s)")
    val dest = Files.createTempDirectory("graft-runetl-out-")
    val extract = jobsDuring {
      ExtractJob.run(cells, dest.toString, "x", RunEtl.defaultConfig,
        singleFile = true)
    }
    assert(extract > 0)
    assert(Files.readAllLines(dest.resolve("x.province.csv")).toArray.toSeq ==
      Seq("code,name", "12,Province 2", "13,Province 3"))
  }

  test("--pages past the last page or on page 0 only selects nothing") {
    for (spec <- Seq("5-9", "0", "7")) {
      val cells = RunEtl.input(spark, cellsPath, Some(spec))
      intercept[ExtractJob.NoMatchingDataException] {
        ExtractJob.run(cells, Files.createTempDirectory("graft-runetl-none-")
          .toString, "x", RunEtl.defaultConfig, singleFile = true)
      }
    }
  }
}
