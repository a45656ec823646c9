package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** SemDeDup semantics: within-cluster quantized-cosine edges,
  * transitive grouping, cross-cluster blindness, keep-min-id.
  */
class SemDedupSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  test("semDedup groups transitively within a cluster, not across") {
    // label 0: v1 == v2 exactly; v5 ~ v1 (cos .99) and v6 ~ v5
    // (cos .98) but v6 !~ v1 directly (cos .95) — transitivity must
    // still put {1,2,5,6} in one component. v3 orthogonal. label 1:
    // v4 identical to v1 but in another cluster — never compared.
    val e1 = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val rows = Seq(
      (1L, e1, 0),
      (2L, e1, 0),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (4L, e1, 1),
      (5L, Seq(0.99f, 0.14f, 0.0f, 0.0f), 0),
      (6L, Seq(0.95f, 0.31f, 0.0f, 0.0f), 0))
    // v7: identical to v1 but with a NULL label — unclustered vectors
    // never pair (NULL never equi-joins) and stay singletons
    val input = rows.toDF("vec_id", "embedding", "label")
      .withColumn("label",
        when(col("vec_id") === 7L, lit(null)).otherwise(col("label")))
      .unionByName(Seq((7L, e1, 0)).toDF("vec_id", "embedding", "label")
        .withColumn("label", lit(null).cast("int")))
    val out = SemDedup.semDedup(input)
      .select("vec_id", "component", "is_dup")
      .as[(Long, Long, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == ((1L, 0)))
    assert(out(2L) == ((1L, 1)))
    assert(out(3L) == ((3L, 0)), "orthogonal vector is its own component")
    assert(out(4L) == ((4L, 0)), "identical vector in another cluster untouched")
    assert(out(5L) == ((1L, 1)), "direct 0.99-cosine neighbor joins")
    assert(out(6L) == ((1L, 1)), "transitive member joins through v5")
    assert(out(7L) == ((7L, 0)), "NULL-label vector stays a singleton")
  }

  test("label backfill joins by broadcast in the final adaptive plan") {
    // Statically the components-label side is a checkpointed LogicalRDD
    // with unknown stats, so the backfill plans as SMJ; at runtime AQE
    // must see the tiny edge-incident label frame and convert to a
    // broadcast join. Pin that so the corpus never gets sort-shuffled
    // just to glue labels on (on a pathological all-duplicate corpus
    // AQE would keep the shuffle join — that degradation is the
    // correct behavior, but it must not be the NORMAL plan).
    val df = graft.SparkEntry.queries("semdedup")(
      spark, "/root/testdata/sf0.001")
    val fin = graft.tools.Inspect.finalPlan(df)
    assert(!fin.contains("SortMergeJoin"),
      s"semdedup backfill stayed a sort-merge join:\n$fin")
    assert(fin.contains("BroadcastHashJoin"),
      s"expected a broadcast backfill join:\n$fin")
  }

  test("maxClusterSize guard: mega-cluster skipped, small clusters still dedup") {
    val e1 = Seq(1.0f, 0.0f)
    val e2 = Seq(0.0f, 1.0f)
    val rows = Seq(
      // label 0: 4 identical vectors — a "mega" cluster under cap 3
      (1L, e1, 0), (2L, e1, 0), (3L, e1, 0), (4L, e1, 0),
      // label 1: 2 identical vectors — under the cap, must still dedup
      (5L, e2, 1), (6L, e2, 1))
    val out = SemDedup.semDedup(rows.toDF("vec_id", "embedding", "label"),
      maxClusterSize = 3L)
      .select("vec_id", "component", "is_dup")
      .as[(Long, Long, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // mega-cluster members come back as singletons (no false positives,
    // recall loss confined to the oversized cluster)
    for (id <- 1L to 4L) assert(out(id) == ((id, 0)), s"vec $id")
    assert(out(5L) == ((5L, 0)))
    assert(out(6L) == ((5L, 1)), "small cluster still deduplicates")
  }

  test("cosPct bounds are enforced") {
    val df = Seq((1L, Seq(1.0f), 0)).toDF("vec_id", "embedding", "label")
    intercept[IllegalArgumentException] { SemDedup.semDedup(df, cosPct = 0) }
    intercept[IllegalArgumentException] { SemDedup.semDedup(df, cosPct = 101) }
  }

  test("embedding dimension above the overflow-safe bound raises") {
    // 10000 * qdot^2 overflows Long past ~1853 dims; the per-row guard
    // must fail loudly instead of flipping the edge comparison.
    val big = Seq.fill(SemDedup.MaxDims + 1)(0.1f)
    val df = Seq((1L, big, 0), (2L, big, 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] { SemDedup.semDedup(df).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflow-safe")), s"got: $e")
    // at the bound itself the operator still runs
    val ok = Seq((1L, big.take(SemDedup.MaxDims), 0))
      .toDF("vec_id", "embedding", "label")
    assert(SemDedup.semDedup(ok).count() == 1L)
  }
}
