package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made the classic
  * `ExpressionUtils` `private[sql]` (the Column API is decoupled from
  * Catalyst for Connect), so third-party native expressions reach it
  * through a shim in the `org.apache.spark.sql` package — the standard
  * pattern for Spark-native extension libraries.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]` in Spark 4 — same shim rationale as above; needed
    * to surface custom logical operators like graft's AsofJoin through
    * the public DataFrame API).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Rebuild a (typically just-checkpointed) frame over its
    * InternalRow RDD with FRESH default statistics, discarding the
    * origin plan's estimate that `Dataset.localCheckpoint` copies
    * into its `LogicalRDD`.
    *
    * Why this exists (r18): Catalyst's size-only estimator computes a
    * JOIN's `sizeInBytes` as the PRODUCT of its children's — so an
    * iterative loop that checkpoints a self-join result and feeds it
    * back SQUARES the carried BigInt estimate every iteration. The
    * numbers stay mathematically harmless but physically explosive:
    * by iteration ~20 the driver spends its time in
    * `BigInteger.multiply` on million-digit integers inside
    * `SizeInBytesOnlyStatsPlanVisitor` (measured: Scc's peel-label jump
    * went 0.3 s → 60+ s per iteration on a 26-node cycle). Dropping
    * originStats caps the estimate at the session default; AQE's
    * runtime statistics make the static estimate irrelevant for
    * these loops anyway. Partitioning/ordering metadata is also
    * dropped — at worst one extra exchange on a node-sized frame.
    */
  def freshStatsFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = df
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]]
    val session = classic.sparkSession
    // reuse the checkpoint's OWN RDD (not queryExecution.toRdd, which
    // wraps it in a fresh scan) so CheckpointUtil.free on the
    // rewrapped frame still reaches the marked blocks
    classic.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd)(session))
      case other =>
        throw new IllegalArgumentException(
          "freshStatsFrame expects a checkpointed frame (LogicalRDD " +
            s"plan), got ${other.nodeName} — checkpoint first")
    }
  }
}
