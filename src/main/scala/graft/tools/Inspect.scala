package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.debug.codegenStringSeq
import graft.{Harness, SparkEntry}

/** Inspection loop for registry queries, one mode per question:
  *
  *  - `show`: runs each query and prints up to 50 result rows;
  *  - `explain`: prints `explain("formatted")` (pushed filters, read
  *    schemas, broadcast joins, codegen spans, exchange reuse) —
  *    PLANS.md is this mode's output;
  *  - `reuse`: prints how many file scans, query stages and reused
  *    exchanges the FINAL adaptive plan holds — "does this query
  *    recompute a shared subtree or reuse its shuffle?";
  *  - `codegen`: prints each whole-stage-codegen stage of the FINAL
  *    plan with its generated source size and largest compiled method,
  *    flagging the methods over HotSpot's huge-method limit — "does
  *    this query's row loop run interpreted?".
  *
  * Usage: Inspect <show|explain|reuse|codegen> <sfDir> <q1 [q2 ...]|q1,q2,...|ALL>
  */
object Inspect {
  private val Usage = "usage: Inspect <show|explain|reuse|codegen> <sfDir> " +
    "<q1 [q2 ...]|q1,q2,...|ALL>"

  /** HotSpot compiles no method with more bytecode than this
    * (`-XX:+DontCompileHugeMethods`, on by default): a larger generated
    * row loop runs in the interpreter for the life of the JVM.
    */
  val HugeMethodLimit = 8000

  /** One whole-stage-codegen stage: its codegen id, generated source
    * size in chars and largest compiled method in bytes of bytecode.
    */
  final case class CodegenStage(id: Int, sourceChars: Int, maxMethodBytes: Int) {
    def interpreted: Boolean = maxMethodBytes > HugeMethodLimit
  }

  /** The whole-stage-codegen stages of `df`'s FINAL plan
    * (`org.apache.spark.sql.execution.debug.codegenStringSeq`, which
    * compiles each stage's source and reads its bytecode stats).
    */
  def codegenStages(df: DataFrame): Seq[CodegenStage] = {
    finalPlan(df)
    val StageId = raw"^\*\((\d+)\)".r.unanchored
    codegenStringSeq(df.queryExecution.executedPlan).map {
      case (subtree, source, stats) =>
        val id = subtree match { case StageId(n) => n.toInt; case _ => -1 }
        CodegenStage(id, source.length, stats.maxMethodCodeSize)
    }
  }

  /** The FINAL adaptive plan of `df`'s own QueryExecution. A write
    * action executes a CLONED plan, leaving this one unexecuted with
    * isFinalPlan = false, so drive it through the RDD instead — and
    * not via collect(): a per-partition no-op reaches the final plan
    * without collecting wide text columns into one JVM. The dump
    * prints "final" then "initial" sections; only the first is kept.
    */
  def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    df.queryExecution.executedPlan.toString
      .split("\\+\\- == Initial Plan ==").head
  }

  /** (file scans, query stages, reused exchanges) in a final plan.
    * Materialized stage subtrees are collapsed in the dump, so reuse
    * counts BOTH static ReusedExchange nodes and repeated AQE stage ids
    * (reuse under AQE shows as one QueryStage referenced twice).
    */
  def reuseCounts(fin: String): (Int, Int, Int) = {
    val scans = "FileScan|Scan parquet".r.findAllIn(fin).size
    val stages = "(ShuffleQueryStage|BroadcastQueryStage) \\d+".r
      .findAllIn(fin).toSeq
    val reused = "ReusedExchange".r.findAllIn(fin).size +
      (stages.size - stages.distinct.size)
    (scans, stages.size, reused)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3 ||
        !Set("show", "explain", "reuse", "codegen").contains(args(0))) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val Array(mode, sfDir) = args.take(2)
    val spark = Harness.session()
    Harness.queryNames(args.drop(2).toSeq).foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query: $n")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          if (mode == "reuse") {
            val (scans, stages, reused) = reuseCounts(finalPlan(df))
            println(f"AUDIT $n%-28s scans=$scans stages=$stages%d reused=$reused")
          } else if (mode == "codegen") {
            val stages = codegenStages(df)
            stages.foreach { st =>
              println(f"CODEGEN $n%-28s stage=${st.id}%-3d " +
                f"source_chars=${st.sourceChars}%-7d " +
                f"max_method_bytes=${st.maxMethodBytes}%d" +
                (if (st.interpreted) "  INTERPRETED" else ""))
            }
            println(f"CODEGEN_SUMMARY $n%-28s stages=${stages.size}%d " +
              s"interpreted=${stages.count(_.interpreted)}")
          } else {
            println(s"\n========== $n ==========")
            if (mode == "show") df.show(50, truncate = false)
            else df.explain("formatted")
          }
      }
    }
    spark.stop()
  }
}
