package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.SparkSpec
import graft.config.EtlConfig

/** Physical-plan pins for the dispatch + extract product: routing is
  * one per-table metadata aggregate, broadcast onto the cell stream by
  * the one extract pass, so the ONLY joins in the plan are broadcast
  * hash joins of that tiny meta — a shuffle (sort-merge) join of the
  * cell stream would be a scale regression (the stream side must never
  * move for dispatch).
  */
class DispatchPlanSpec extends SparkSpec {

  private def plans(): (String, String) = {
    val cells = CellTables.ofGrids(spark,
      Seq(Fixtures.dfArea, Fixtures.dfIsland))
    val (area, island) = Dispatch.extractAll(cells)
    (area.queryExecution.executedPlan.toString,
      island.queryExecution.executedPlan.toString)
  }

  test("dispatch joins are broadcast-only; the cell stream never shuffles for routing") {
    val (area, island) = plans()
    for ((name, p) <- Seq("area" -> area, "island" -> island)) {
      assert(p.contains("BroadcastHashJoin"),
        s"$name side must broadcast its meta:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name side must not shuffle the stream for a join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name side:\n$p")
    }
    // the one stream shuffle on the area side is the province
    // first-occurrence window (partitioned by code) — nothing else
    assert(area.contains("Window"), area)
  }

  test("each family plans exactly one metadata aggregate and no anti-join") {
    // the routing rule is one aggregate (Dispatch.tableMeta) that both
    // families read; a second per-family meta pass, or an anti-join to
    // enforce area-wins-ties, would re-scan the top rows per family.
    // FINAL plans: the area side's two province-dedup branches each
    // print the meta broadcast statically, and AQE reuses one stage.
    val cells = CellTables.ofGrids(spark,
      Seq(Fixtures.dfArea, Fixtures.dfIsland))
    val (area, island) = Dispatch.extractAll(cells)
    for ((name, df) <- Seq("area" -> area, "island" -> island)) {
      val p = graft.tools.Inspect.finalPlan(df)
      val metaAggs = p.linesIterator
        .count(l => l.contains("Aggregate(") && l.contains("partial_"))
      assert(metaAggs == 1, s"$name side plans $metaAggs meta aggregates:\n$p")
      assert(!p.contains("LeftAnti"), s"$name side plans an anti-join:\n$p")
    }
  }

  /** The product's lines over a parquet-scanned corpus. */
  private def productLines() = {
    val dir = Files.createTempDirectory("graft-dispatch-plan-")
      .resolve("cells").toString
    CellTables.ofGrids(spark, Seq(Fixtures.dfArea, Fixtures.dfIsland,
      Fixtures.dfAreaUnmatched)).write.parquet(dir)
    ExtractJob.lines(
      Dispatch.extract(CellTables.read(spark, dir)), EtlConfig.Default)._1
  }

  test("the product's lines read scanned cells at most 3 times, with one " +
      "meta aggregate and broadcast-only joins") {
    // the meta aggregate, the province branch and the rest; AQE serves
    // the one meta aggregate stage to both branches' broadcasts
    val lines = productLines()
    val p = graft.tools.Inspect.finalPlan(lines)
    val (scans, _, _) = graft.tools.Inspect.reuseCounts(p)
    assert(scans <= 3, s"$scans cell scans:\n$p")
    val metaAggs = p.linesIterator
      .count(l => l.contains("Aggregate(") && l.contains("partial_"))
    assert(metaAggs == 1, s"$metaAggs meta aggregates:\n$p")
    val joins = raw"\w*(Join|CartesianProduct)\b".r.findAllIn(p).toSet
    assert(joins == Set("BroadcastHashJoin"), s"joins $joins:\n$p")
  }

  test("every generated stage of the product's lines stays JIT-compilable; " +
      "the meta join is on table_id alone") {
    // a generated row loop over HotSpot's huge-method limit runs in the
    // bytecode interpreter for the life of the JVM: the row rules stay
    // in plain Scala, not in the generated code
    val lines = productLines()
    val stages = graft.tools.Inspect.codegenStages(lines)
    assert(stages.nonEmpty)
    val huge = stages.filter(_.interpreted)
    assert(huge.isEmpty, s"stages over the limit: $huge")
    val joins = new AdaptiveSparkPlanHelper {}
      .collect(lines.queryExecution.executedPlan) {
        case j: BroadcastHashJoinExec => j
      }
    assert(joins.nonEmpty)
    for (j <- joins) {
      assert(j.condition.isEmpty, s"join condition ${j.condition}")
      assert((j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
        .toSet == Set("table_id"), j.toString)
    }
  }
}
