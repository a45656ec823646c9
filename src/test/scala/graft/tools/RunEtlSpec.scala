package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, concat_ws}
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.SparkSpec
import graft.config.EtlConfig
import graft.ops.{CellTables, ExtractJob}

/** The CLI's input and config steps: the input is read with the fixed
  * cell schema, checked on the driver; `--pages` prunes the scan by a
  * predicate built from the range alone — no job before extraction —
  * and keeps exactly the requested pages that exist; a config the sinks
  * cannot use fails before Spark runs anything.
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
    // the read declares the cell schema (no inference job) and the page
    // pruning adds none
    assert(plain == 0, s"the input step ran $plain job(s)")
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

  test("an input without seq, or whose cells are not array<string>, " +
      "fails naming the column before any job or output file") {
    val good = spark.read.parquet(cellsPath)
    for ((column, bad) <- Seq("seq" -> good.drop("seq"),
        "cells" -> good.withColumn("cells", concat_ws("|", col("cells"))))) {
      val path = Files.createTempDirectory("graft-runetl-bad-")
        .resolve("cells").toString
      bad.write.parquet(path)
      val dest = Files.createTempDirectory("graft-runetl-bad-out-")
        .resolve("out")
      var err: CellTables.SchemaError = null
      val n = jobsDuring {
        err = intercept[CellTables.SchemaError] {
          ExtractJob.run(RunEtl.input(spark, path, None), dest.toString,
            "x", RunEtl.defaultConfig, singleFile = true)
        }
      }
      assert(err.getMessage.contains(s"'$column'"), err.getMessage)
      assert(n == 0, s"$n job(s) before the schema error")
      assert(!Files.exists(dest), s"$dest was written")
    }
  }

  test("a page-partitioned input reads page from its directories") {
    val path = Files.createTempDirectory("graft-runetl-part-")
      .resolve("cells").toString
    spark.read.parquet(cellsPath).write.partitionBy("page").parquet(path)
    val dest = Files.createTempDirectory("graft-runetl-part-out-")
    ExtractJob.run(RunEtl.input(spark, path, Some("2-3")), dest.toString,
      "x", RunEtl.defaultConfig, singleFile = true)
    assert(Files.readAllLines(dest.resolve("x.province.csv")).toArray.toSeq ==
      Seq("code,name", "12,Province 2", "13,Province 3"))
  }

  test("a 2-header regency section is a configuration error before " +
      "any Spark job") {
    val shipped = Paths.get(getClass.getResource("/idnareaetl.toml").toURI)
    val toml = Files.createTempFile("graft-runetl-", ".toml")
    Files.writeString(toml, Files.readString(shipped).replace(
      "[\"code\", \"province_code\", \"name\"]", "[\"code\", \"name\"]"))
    // the file itself parses; the sinks it must drive reject it
    assert(EtlConfig.load(toml).data("regency").outputHeaders ==
      Seq("code", "name"))
    var err: EtlConfig.ConfigError = null
    val n = jobsDuring {
      err = intercept[EtlConfig.ConfigError](RunEtl.config(Some(toml.toString)))
    }
    assert(n == 0, s"$n job(s) before the configuration error")
    assert(err.getMessage.contains("regency"), err.getMessage)
    assert(RunEtl.config(Some(shipped.toString)) == RunEtl.defaultConfig)
    assert(RunEtl.config(None) == RunEtl.defaultConfig)
  }
}
