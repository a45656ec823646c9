package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one checkpoint primitive of `src/main` ([[ckpt]]), lifecycle
  * management for checkpointed frames inside iterative operators
  * (components, SCC, HyperBall, k-core, PageRank, LPA, k-means, PQ
  * training), and the one round loop the convergence-certified ones
  * share ([[rounds]]).
  *
  * `localCheckpoint` pins its blocks in storage memory for the LIFETIME
  * of the session — nothing ever unpersists them implicitly. A
  * BSP-style loop that checkpoints per round therefore leaks one
  * superseded block set per round: harmless in a one-query session,
  * but in a long-lived session (the 188-query bench, or any real
  * cluster running many jobs) dozens of dead checkpoints crowd storage
  * memory until executors spill and every later job pays for it — the
  * r15 driver bench measured `neardup_components` at 6-8× its
  * quiet-session cost from exactly this accumulation.
  *
  * The contract: once round N's checkpoint has MATERIALIZED (its
  * creating action completed — eager checkpoints materialize at the
  * call; lazy ones at their first action), round N−1's blocks can be
  * freed, because N's lineage was truncated AT its own blocks and
  * never reaches back. Operators keep only the frames still reachable
  * from the value they return (their consumers compute from those
  * blocks) — callers that are themselves done with the RESULT can
  * [[free]] it too.
  */
object CheckpointUtil {

  /** Session conf gating the iterative family's checkpoint flavor.
    * Default (unset/false): `localCheckpoint` — blocks live on
    * executors with lineage truncated, the fastest variant and the
    * correct one on `local[*]` where there is no reliable storage.
    * `true`: `Dataset.checkpoint` to the SparkContext's checkpoint
    * directory (`spark.sparkContext.setCheckpointDir` must point at
    * reliable shared storage) — the cluster-honest variant: a lost
    * executor cannot take a round frame with it, because
    * locally-checkpointed blocks have NO recompute path (their
    * lineage is truncated at their own blocks). At 100 TB on a real
    * cluster, flip this on and accept the HDFS round trip per round;
    * every checkpoint in `src/main` — the iterative family and the
    * one-shot barriers of other operators and registry queries alike —
    * goes through [[ckpt]], so the flag reaches them all; see SCALE.md
    * "Checkpoint durability".
    */
  val ReliableConf = "spark.graft.reliableCheckpoints"

  /** Checkpoint with the deployment's durability flavor — the one
    * switch VERDICT r21 #2 asked for. Semantics are identical either
    * way (same rows, same lineage truncation point); only block
    * placement and fault tolerance differ.
    */
  def ckpt(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.conf.getOption(ReliableConf).exists(_.toBoolean))
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Unpersist (non-blocking) every locally-checkpointed RDD appearing
    * as a leaf in the given frames' analyzed plans.
    *
    * Ownership contract: only call this on frames whose EVERY
    * checkpoint leaf you created — a frame derived from a
    * caller-supplied checkpoint would have the caller's blocks freed
    * out from under it (a locally-checkpointed RDD cannot recompute:
    * its lineage is gone). Inside this repo's operators that means:
    * superseded per-round state, and operator-internal scaffolding
    * (edge/adjacency frames) once the loop exits; never a frame passed
    * in as an argument.
    */
  def free(dfs: DataFrame*): Unit =
    dfs.iterator.filter(_ != null).foreach { df =>
      df.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      }
    }

  /** The round loop of the iterative graph operators. Round `r` runs
    * `step(prev)` (`prev` is null in round 1, so the step starts from
    * its own seed), lazily [[ckpt]]s it, resets its plan statistics
    * (`ColumnBridge.freshStatsFrame`: a checkpoint copies its origin's
    * size estimate, and a self-join squares it every round), and runs
    * ONE action, `witness(round)` — a one-row scalar aggregate (a
    * count or an exact sum) — which both materializes the round and
    * returns the loop's convergence witness. The round two back is
    * then freed; the previous one stays for the diagnostics.
    *
    * With `untilRepeat`, the loop stops at the first round whose
    * witness equals the previous one — an exact fixpoint certificate
    * for a monotone step (labels only fall, layers and reach sets
    * only grow). If `maxRounds` pass without that, it throws
    * `IllegalStateException(exhausted(last, prev, "w1 -> w2"))`:
    * `exhausted` (required with `untilRepeat`) gets the last two
    * rounds, both still pinned (`prev` is null when `maxRounds` is 1),
    * so it can count the rows the final round changed, and the last
    * two witnesses; every round is freed before the throw. Without
    * `untilRepeat` it runs exactly `maxRounds` rounds.
    *
    * Returns the final round, which the caller owns (and frees once
    * done with it), and every round's witness in order. Every frame
    * the loop made is freed if a step, an action or the diagnostics
    * throw. `step` must build on `prev` or on the caller's own frames,
    * never on another call's rounds: the loop frees only what it made,
    * so concurrent loops are safe.
    */
  def rounds(
      maxRounds: Int,
      step: DataFrame => DataFrame,
      witness: DataFrame => DataFrame,
      untilRepeat: Boolean = true,
      exhausted: (DataFrame, DataFrame, String) => String = null)
      : (DataFrame, Seq[Any]) = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Any]
    var prev, last, next: DataFrame = null
    var repeated = false
    try {
      while (!repeated && seen.size < maxRounds) {
        next = ColumnBridge.freshStatsFrame(ckpt(step(last), eager = false))
        val w = witness(next).head().get(0)
        repeated = untilRepeat && seen.lastOption.contains(w)
        free(prev)
        prev = last
        last = next
        next = null
        seen += w
      }
      if (untilRepeat && !repeated)
        throw new IllegalStateException(
          exhausted(last, prev, seen.takeRight(2).mkString(" -> ")))
    } catch {
      case e: Throwable =>
        free(prev, last, next)
        throw e
    }
    free(prev)
    (last, seen.toSeq)
  }
}

/** The one bounded driver collect of `src/main`, beside the checkpoint
  * primitive: a collect of a frame whose size the data decides goes
  * through [[collectBounded]].
  */
object DriverCollect {

  /** `df`'s rows on the driver, at most `bound` of them. One job both
    * proves the bound and fetches the rows (`limit(bound + 1)`, not a
    * `count()` that would re-run `df` just to ask permission). More
    * than `bound` rows fail loudly, before anything downstream runs:
    * an `IllegalArgumentException` naming `what`, the bound and
    * `remedy`, how to raise it or shrink the input.
    */
  def collectBounded[T](
      df: Dataset[T], bound: Int, what: String, remedy: String): Array[T] = {
    require(bound >= 1, s"bound must be >= 1, got $bound")
    val rows = df.limit(bound + 1).collect()
    require(rows.length <= bound,
      s"$what exceeds the bound of $bound rows — $remedy")
    rows
  }
}
