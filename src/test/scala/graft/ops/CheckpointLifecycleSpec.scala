package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins the checkpoint-lifecycle contract of every iterative operator
  * (VERDICT r15 "What's wrong #2"): superseded per-round
  * `localCheckpoint` frames must release their pinned blocks as the
  * loop advances, and on return exactly ONE block set — the final
  * frame consumers compute from — may remain pinned; freeing the
  * result returns storage to its pre-call baseline. Without this the
  * 188-query bench session accumulates every round of every iterative
  * query for its lifetime (measured 6-8× inflation on the late-alphabet
  * graph queries in the r15 driver artifact), and on a real cluster
  * each job leaks storage memory until executors spill.
  */
class CheckpointLifecycleSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `op`, materialize its result, and assert the operator left
    * exactly `finalFrames` new pinned block sets (any number when
    * negative), all of which free() back to baseline.
    */
  private def assertLifecycle(finalFrames: Int)(op: => DataFrame): Unit = {
    val before = pinned
    val result = op
    result.count()
    val leaked = pinned -- before
    assert(finalFrames < 0 || leaked.size == finalFrames,
      s"expected $finalFrames pinned final frame(s), found ${leaked.size}")
    CheckpointUtil.free(result)
    assert((pinned -- before).isEmpty,
      "freeing the result must return storage to baseline")
  }

  /** Assert `op` throws an IllegalStateException naming `what` and
    * leaves no pinned blocks behind. */
  private def assertFailureFrees(what: String)(op: => DataFrame): Unit = {
    val before = pinned
    val e = intercept[IllegalStateException](op.collect())
    assert(e.getMessage.contains(what), e.getMessage)
    assert((pinned -- before).isEmpty,
      s"the failure path must not leak pinned blocks: ${e.getMessage}")
  }

  /** Jobs that `body` submits. */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    n.get
  }

  private def chain(n: Long) =
    (1L until n).map(i => (i, i + 1)).toDF("src", "dst")

  // the SccSpec bowtie fixture: core {1,2}, in 3, out 4, an island
  // cycle {5,6} and a tendril 3 -> 7 — trim AND peel both run
  private def cyclic =
    Seq((1L, 2L), (2L, 1L), (3L, 1L), (2L, 4L), (5L, 6L), (6L, 5L),
      (3L, 7L)).toDF("src", "dst")

  // a two-component graph with a 5-chain (forces several jump rounds)
  private def edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")

  test("edgeComponents pins only the final labeling") {
    assertLifecycle(finalFrames = 1) {
      Components.edgeComponents(edges, maxIter = 10)
    }
  }

  test("kcorePeel pins only the final edge frame") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    assertLifecycle(finalFrames = 1) {
      KCore.kcorePeel(tri, k = 2, rounds = 3)
    }
  }

  test("pagerankFixed pins only the final rank frame") {
    assertLifecycle(finalFrames = 1) {
      PageRank.pagerankFixed(edges, iters = 3)
    }
  }

  test("label propagation pins only the final labeling") {
    assertLifecycle(finalFrames = 1) {
      LabelProp.propagate(edges, rounds = 3)
    }
  }

  test("k-means fitAssign pins only the final centroid state") {
    val vecs = (0L until 24L)
      .map(i => (i, Array.fill(4)((i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    assertLifecycle(finalFrames = 1) {
      KMeans.fitAssign(vecs, k = 3, iters = 3, dims = 4)
    }
  }

  test("pq codebook training pins only the final codebook") {
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(16)(d => ((i + d) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    assertLifecycle(finalFrames = 1) {
      Quantization.pqTrainCodebook(vecs, kCode = 4, m = 2, subDim = 8,
        iters = 3)
    }
  }

  test("reliable-checkpoint flag (r22, SCALE.md 'Checkpoint " +
      "durability'): the iterative family produces identical output " +
      "under spark.graft.reliableCheckpoints=true") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def run(): Seq[Seq[String]] = Seq(
      rows(Components.edgeComponents(edges, maxIter = 10)),
      rows(PageRank.pagerankFixed(edges, iters = 3).select("node", "r")),
      rows(Hits.hitsFixed(edges, rounds = 2).select("node", "hub")),
      rows(Scc.stronglyConnected(cyclic)),
      rows(Scc.condensation(cyclic)),
      rows(Scc.bowtie(cyclic)),
      rows(KCore.kcorePeel(cyclic, k = 1, rounds = 2)),
      rows(LabelProp.propagate(cyclic, rounds = 2)),
      rows(HyperBall.auditedNeighborhood(cyclic, maxT = 2)),
      rows(Triangles.summary(cyclic)))
    val local = run()
    spark.conf.set(CheckpointUtil.ReliableConf, "true")
    try {
      val reliable = run()
      assert(reliable == local,
        s"reliable=$reliable\nlocal=$local")
    } finally spark.conf.unset(CheckpointUtil.ReliableConf)
  }

  /** Assert `op`, run under the reliable-checkpoint flag, writes
    * files into a fresh checkpoint directory. */
  private def assertWritesReliableCheckpoints(op: => DataFrame): Unit = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-files")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def files(): Long = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally walk.close()
    }
    val before = files()
    spark.conf.set(CheckpointUtil.ReliableConf, "true")
    try op.collect()
    finally spark.conf.unset(CheckpointUtil.ReliableConf)
    assert(files() > before, s"no checkpoint file written under $dir")
  }

  test("the reliable-checkpoint flag reaches Scc: its checkpoint " +
      "directory gains files during a call") {
    assertWritesReliableCheckpoints(Scc.stronglyConnected(cyclic))
  }

  test("the reliable-checkpoint flag reaches a one-shot barrier outside " +
      "the iterative family: Triangles.summary writes checkpoint files") {
    assertWritesReliableCheckpoints(Triangles.summary(cyclic))
  }

  test("stronglyConnected, condensation and bowtie free back to " +
      "baseline after success") {
    assertLifecycle(finalFrames = -1)(Scc.stronglyConnected(cyclic))
    assertLifecycle(finalFrames = 1)(Scc.condensation(cyclic))
    assertLifecycle(finalFrames = 1)(Scc.bowtie(cyclic))
  }

  test("Scc exhaustion frees every checkpoint before throwing") {
    // a 20-cycle's peel labels need many rounds; one cannot certify
    val ring = (1L to 20L).map(i => (i, i % 20 + 1)).toDF("src", "dst")
    assertFailureFrees("did not converge in 1 round(s)") {
      Scc.stronglyConnected(ring, maxInner = 1)
    }
    // condensation 6 -> {1,2,3} -> {4,5} -> 7 is three layers deep
    val layered = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (6L, 1L), (5L, 7L)).toDF("src", "dst")
    assertFailureFrees("condensation layers did not converge") {
      Scc.condensation(layered, maxDepth = 1)
    }
    assertFailureFrees("bowtie reach set still growing") {
      Scc.bowtie(cyclic, maxDepth = 1)
    }
  }

  test("edgeComponents' plan statistics do not grow with rounds") {
    // a 4-node chain needs 3 rounds (2 to the fixpoint, 1 to certify
    // it) and a 32-node chain 6; every round resets its estimate, so
    // both results carry the same one
    def size(n: Long): BigInt = {
      val labels = Components.edgeComponents(chain(n))
      try labels.queryExecution.optimizedPlan.stats.sizeInBytes
      finally CheckpointUtil.free(labels)
    }
    assert(size(4) == size(32))
  }

  test("job budget: one action per round plus set-up") {
    // Under adaptive execution a round costs its checkpoint's shuffle
    // map stage(s), which run as the checkpoint is taken, plus its
    // witness action (a partial-aggregate map job and the result
    // job). exactNeighborhood(maxT = 3) is 4 rounds: 1 set-up job
    // (the edge distinct) + 1 + 3 × 2 checkpoint jobs + 4 × 2 witness
    // jobs = 16, where an eager checkpoint plus a count per radius
    // ran 21. edgeComponents on a 4-chain is 3 rounds and 16 jobs.
    val hb = jobs(HyperBall.exactNeighborhood(chain(6), maxT = 3).collect())
    val cc = jobs {
      val labels = Components.edgeComponents(chain(4))
      labels.collect()
      CheckpointUtil.free(labels)
    }
    assert(hb <= 16 && cc <= 16,
      s"exactNeighborhood $hb jobs, edgeComponents $cc jobs")
  }

  test("non-convergence diagnostics free every checkpoint before throwing") {
    val before = pinned
    // a 40-chain cannot converge in 1 round of pointer jumping
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Components.edgeComponents(chain, maxIter = 1)
    }
    assert((pinned -- before).isEmpty,
      "the failure path must not leak pinned blocks")
  }

  test("collectBounded fetches up to the bound in one job and fails " +
      "loudly past it") {
    val df = spark.range(5).toDF("id")
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(jobs { rows = DriverCollect.collectBounded(df, 5, "ids", "") } == 1)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    val e = intercept[IllegalArgumentException] {
      DriverCollect.collectBounded(df, 4, "the ids", "raise the cap")
    }
    assert(e.getMessage.contains("the ids exceeds the bound of 4 rows") &&
      e.getMessage.contains("raise the cap"), e.getMessage)
  }
}
