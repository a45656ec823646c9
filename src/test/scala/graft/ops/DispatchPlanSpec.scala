package graft.ops

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec
import graft.config.EtlConfig

/** Physical-plan pins for the dispatch + extract product: the table
  * meta is one aggregate, collected to the driver once per call, and
  * the extract is one typed pass over the cells that looks its table up
  * there — no join, no window, no shuffle — so the product reads the
  * cells twice and its only other shuffle is the sink's.
  */
class DispatchPlanSpec extends SparkSpec {

  /** The final plan of every query `body` runs, as text. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString
          .split("\\+\\- == Initial Plan ==").head)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark)
    spark.listenerManager.register(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def count(regex: String, plan: String): Int =
    regex.r.findAllIn(plan).size

  private val Join = raw"\w*(Join|CartesianProduct)\b"
  private val Shuffle = raw"\bExchange\b"
  private val MetaAggregate = raw"Aggregate\(.*partial_"
  private val Scan = "FileScan|Scan parquet"

  /** A parquet-scanned copy of the three-table fixture corpus. */
  private def scannedCells(): DataFrame = {
    val dir = Files.createTempDirectory("graft-dispatch-plan-")
      .resolve("cells").toString
    CellTables.ofGrids(spark, Seq(Fixtures.dfArea, Fixtures.dfIsland,
      Fixtures.dfAreaUnmatched)).write.parquet(dir)
    CellTables.read(spark, dir)
  }

  /** `Dispatch.extractAll` over the fixture corpus: the plans of the
    * queries it runs while building, and the two family frames. */
  private def extracted(): (Seq[String], DataFrame, DataFrame) = {
    val cells = CellTables.ofGrids(spark,
      Seq(Fixtures.dfArea, Fixtures.dfIsland))
    var frames: (DataFrame, DataFrame) = null
    val built = executedPlans { frames = Dispatch.extractAll(cells) }
    (built, frames._1, frames._2)
  }

  test("dispatch joins are broadcast-only; the cell stream never " +
      "shuffles for routing") {
    // routing is a lookup in the driver-collected meta: the frames plan
    // no join at all, so none can move the cell stream
    val (_, area, island) = extracted()
    for ((name, df) <- Seq("area" -> area, "island" -> island)) {
      val p = graft.tools.Inspect.finalPlan(df)
      for (banned <- Seq(Join, Shuffle, "Window"))
        assert(count(banned, p) == 0, s"$name side plans $banned:\n$p")
    }
  }

  test("each family plans exactly one metadata aggregate and no anti-join") {
    // the routing rule is one aggregate (Dispatch.tableMeta), collected
    // once per call and read by both families; a second per-family meta
    // pass, or an anti-join to enforce area-wins-ties, would re-scan
    // the top rows per family
    val (built, area, island) = extracted()
    assert(built.size == 1, built.mkString("\n"))
    assert(count(MetaAggregate, built.head) == 1, built.head)
    for ((name, df) <- Seq("area" -> area, "island" -> island)) {
      val p = graft.tools.Inspect.finalPlan(df)
      assert(count("Aggregate", p) == 0, s"$name side plans an aggregate:\n$p")
      assert(!p.contains("LeftAnti"), s"$name side plans an anti-join:\n$p")
    }
  }

  test("ExtractJob.run reads scanned cells twice, with one meta " +
      "aggregate, no join and no shuffle before the sink's") {
    val cells = scannedCells()
    val plans = executedPlans(ExtractJob.run(cells,
      Files.createTempDirectory("graft-dispatch-plan-out-").toString, "p",
      EtlConfig.Default))
    // the meta collect, then the write
    assert(plans.size == 2, plans.mkString("\n"))
    val Seq(meta, write) = plans
    assert(count(Scan, meta) == 1 && count(Scan, write) == 1,
      plans.mkString("\n"))
    assert(count(MetaAggregate, meta) == 1, meta)
    assert(count(MetaAggregate, write) == 0, write)
    for (p <- plans) assert(count(Join, p) == 0 && !p.contains("Window"), p)
    // the meta aggregate's exchange, and the sink's split by seq range
    assert(count(Shuffle, meta) == 1, meta)
    assert(count(Shuffle, write) == 1 &&
      write.contains("shufflepartitionidpassthrough"),
      write)
  }

  test("every generated stage of the product's lines stays " +
      "JIT-compilable") {
    // a generated row loop over HotSpot's huge-method limit runs in the
    // bytecode interpreter for the life of the JVM: the row rules stay
    // in plain Scala, not in the generated code
    val cells = scannedCells()
    val lines =
      ExtractJob.lines(Dispatch.extract(cells), EtlConfig.Default)._1
    val stages = graft.tools.Inspect.codegenStages(lines)
    assert(stages.nonEmpty, lines.queryExecution.executedPlan.toString)
    val huge = stages.filter(_.interpreted)
    assert(huge.isEmpty, s"stages over the limit: $huge")
  }
}
