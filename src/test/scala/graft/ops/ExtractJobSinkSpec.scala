package graft.ops

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.config.EtlConfig

/** The one ordered write behind [[ExtractJob.run]]: its job count, no
  * cache, the sort order above its exchange, its sink-side counts and
  * its empty-input failure.
  */
class ExtractJobSinkSpec extends SparkSpec {

  private def tmpDir(): Path = Files.createTempDirectory("graft-sink-")

  /** The `ExtractJobSpec` three-table fixture. */
  private def threeTables =
    CellTables.ofGrids(spark,
      Seq(Fixtures.dfArea, Fixtures.dfIsland, Fixtures.dfAreaUnmatched))

  /** Jobs that `body` submits. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  /** The executed plan of the first write command `body` runs. */
  private def writePlan(body: => Unit): SparkPlan = {
    val plan = new AtomicReference[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "command") plan.compareAndSet(null, qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    Option(plan.get).getOrElse(fail("no write command ran"))
  }

  /** The sorts between the plan's root and its first shuffle. */
  private def sortsAboveExchange(p: SparkPlan): Seq[SortExec] = p match {
    case a: AdaptiveSparkPlanExec => sortsAboveExchange(a.executedPlan)
    case _: ShuffleQueryStageExec | _: ShuffleExchangeExec => Nil
    case q: QueryStageExec => sortsAboveExchange(q.plan)
    case s: SortExec => s +: s.children.flatMap(sortsAboveExchange)
    case other => other.children.flatMap(sortsAboveExchange)
  }

  private def hasShuffle(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => hasShuffle(a.executedPlan)
    case _: ShuffleQueryStageExec | _: ShuffleExchangeExec => true
    case q: QueryStageExec => hasShuffle(q.plan)
    case other => other.children.exists(hasShuffle)
  }

  private def cachedRdds = spark.sparkContext.getPersistentRDDs.keySet

  test("one ExtractJob.run on the three-table fixture runs a pinned " +
      "number of jobs in both layouts") {
    // the meta aggregate's shuffle and its collect, the sink's shuffle
    // by seq range and the write; no cache fill and no range sample
    for ((singleFile, pinned) <- Seq(false -> 4, true -> 4)) {
      val n = jobs(ExtractJob.run(threeTables, tmpDir().toString, "j",
        EtlConfig.Default, singleFile))
      assert(n == pinned, s"singleFile=$singleFile ran $n jobs")
    }
  }

  test("no cache outlives a run, a zero-row failure or a config error") {
    val before = cachedRdds
    ExtractJob.run(threeTables, tmpDir().toString, "c", EtlConfig.Default)
    assert(cachedRdds == before, "after a run")
    intercept[ExtractJob.NoMatchingDataException] {
      ExtractJob.run(CellTables.ofGrid(spark, Fixtures.dfAreaUnmatched),
        tmpDir().toString, "c", EtlConfig.Default)
    }
    assert(cachedRdds == before, "after NoMatchingDataException")
    for (config <- Seq(EtlConfig.Default.data - "island",
        EtlConfig.Default.data.updated("village",
          EtlConfig.DataConfig(1, Seq("code", "name"), "village")))) {
      val n = jobs(intercept[EtlConfig.ConfigError] {
        ExtractJob.run(threeTables, tmpDir().toString, "c",
          EtlConfig.Config(config))
      })
      assert(n == 0 && cachedRdds == before, s"$n jobs, after ConfigError")
    }
  }

  test("every sort above the write's exchange orders by (entity, seq)") {
    for (singleFile <- Seq(false, true)) {
      val plan = writePlan(ExtractJob.run(threeTables, tmpDir().toString,
        "p", EtlConfig.Default, singleFile))
      val sorts = sortsAboveExchange(plan)
      assert(hasShuffle(plan) && sorts.nonEmpty, plan.toString)
      for (s <- sorts)
        assert(s.sortOrder.map(_.child.references.head.name) ==
          Seq("entity", "seq"), s"singleFile=$singleFile: $s")
    }
  }

  test("sink-side counts equal a groupBy of the rendered lines over " +
      "several range partitions") {
    val cells = CellTables.ofGrids(spark,
      Seq.fill(12)(Seq(Fixtures.dfArea, Fixtures.dfIsland)).flatten)
    val expected = ExtractJob.lines(Dispatch.extract(cells), EtlConfig.Default)._1
      .groupBy("entity").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val dest = tmpDir()
    val result =
      try ExtractJob.run(cells, dest.toString, "n", EtlConfig.Default)
      finally prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(result.counts == EtlConfig.Areas
      .map(e => e -> expected.getOrElse(e, 0L)).toMap)
    val parts = Files.list(dest.resolve("n.village.csv.d")).iterator()
      .asScala.count(_.getFileName.toString.endsWith(".csv"))
    assert(parts > 1, s"$parts village part files: one range partition")
  }

  test("sparse, skewed seq writes document order across part files, " +
      "line for line the single-file output") {
    // one table holds most rows; the others sit 10^9 seqs apart, so
    // the even split of the seq range leaves most parts nearly empty
    val big = Fixtures.dfArea.take(2) ++ (1 to 200).map(i =>
      Seq(f"11.01.${i % 90 + 10}%02d", s"Kecamatan $i", "", "", "", "", ""))
    val grids = Seq(big, Fixtures.dfIsland, Fixtures.dfArea,
      Fixtures.dfIsland, Fixtures.dfArea)
    val cells = grids.zipWithIndex.map { case (g, i) =>
      CellTables.ofGrid(spark, g, i.toLong, 1, i * 1000000000L)
    }.reduce(_ unionByName _)
    val (multi, single) = (tmpDir(), tmpDir())
    ExtractJob.run(cells, multi.toString, "s", EtlConfig.Default)
    ExtractJob.run(cells, single.toString, "s", EtlConfig.Default,
      singleFile = true)
    var multiPart = false
    for (sink <- ExtractJob.sinks(EtlConfig.Default)) {
      val name = s"s.${sink.suffix}.csv"
      val parts = Files.list(multi.resolve(s"$name.d")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".csv")).toSeq
        .sortBy(_.getFileName.toString)
      multiPart ||= parts.size > 1
      val header = sink.headers.mkString(",")
      val lines = Files.readString(single.resolve(name)).split("\r\n").toSeq
      val concatenated = header +: parts.flatMap(p =>
        Files.readString(p).split("\r\n").toSeq.tail)
      assert(concatenated == lines, sink.entity)
    }
    assert(multiPart, "every entity in one part file")
  }

  test("more routed tables than the meta bound fail loudly before the " +
      "pass runs") {
    // two routed tables of three; the bound is one
    var caught: IllegalArgumentException = null
    val n = jobs {
      caught = intercept[IllegalArgumentException] {
        Dispatch.tables(threeTables, col("route"), maxTables = 1)
      }
    }
    for (part <- Seq("Dispatch.tables", "bound of 1", "--pages", "maxTables"))
      assert(caught.getMessage.contains(part), caught.getMessage)
    // the meta aggregate's shuffle and its collect, nothing after
    assert(n <= 2, s"$n jobs")
    assert(Dispatch.tables(threeTables, col("route"), maxTables = 2)
      .metas.map(_.family).sorted == Seq("area", "island"))
  }

  test("empty input ends in NoMatchingDataException, not a hang") {
    val run = Future(ExtractJob.run(threeTables.limit(0),
      tmpDir().toString, "e", EtlConfig.Default))
    intercept[ExtractJob.NoMatchingDataException] {
      Await.result(run, 120.seconds)
    }
  }

  test("a rendered line is byte-identical to DataFrameWriter.csv's " +
      "record") {
    import graft.SparkTestSession.spark.implicits._
    val df = Seq(("a\"b", "x,y", " lead ", null: String, ""),
      ("cr\rlf\n", "plain", "", "z", "q")).toDF("a", "b", "c", "d", "e")
    val lines = df.select(graft.io.CsvSink.line(
      df.columns.map(col).toIndexedSeq: _*)).as[String].collect().toSeq
    val dir = tmpDir().resolve("csv").toString
    df.coalesce(1).write.option("escape", "\"").option("quote", "\"")
      .option("emptyValue", "").option("nullValue", "")
      .option("lineSep", "\r\n").csv(dir)
    val part = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(lines.map(_ + "\r\n").mkString == Files.readString(part))
    assert(lines.head.startsWith("\"a\"\"b\",\"x,y\","), lines.head)
  }
}
