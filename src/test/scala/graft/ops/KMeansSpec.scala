package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Integer-exact Lloyd semantics: deterministic seeds, cosine-ordered
  * assignment, identical-vector co-assignment, label-count bound.
  */
class KMeansSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  // Three tight direction bundles around the axes, ids arranged so the
  // k lowest ids (the seeds) cover each bundle.
  private def bundles = Seq(
    (0L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 1.0f, 0.03f, 0.0f)),
    (2L, Seq(0.0f, 0.0f, 1.0f, 0.01f)),
    (3L, Seq(0.98f, 0.05f, 0.0f, 0.0f)),
    (4L, Seq(0.02f, 0.97f, 0.0f, 0.0f)),
    (5L, Seq(0.0f, 0.04f, 0.99f, 0.0f)),
    (6L, Seq(0.99f, 0.0f, 0.03f, 0.0f)),
    (7L, Seq(0.0f, 0.99f, 0.0f, 0.02f))
  ).toDF("vec_id", "embedding")

  test("fitAssign sends each vector to its bundle's seed cell") {
    val out = KMeans.fitAssign(bundles, k = 3, iters = 2, dims = 4)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(out.size == 8)
    assert(out(3L) == out(0L) && out(6L) == out(0L),
      "x-axis bundle shares vector 0's cell")
    assert(out(4L) == out(1L) && out(7L) == out(1L),
      "y-axis bundle shares vector 1's cell")
    assert(out(5L) == out(2L), "z-axis bundle shares vector 2's cell")
    assert(Set(out(0L), out(1L), out(2L)).size == 3,
      "the three bundles land in three distinct cells")
  }

  test("identical vectors always co-assign (the SemDedup contract)") {
    val dup = bundles.unionByName(bundles
      .select((col("vec_id") + 100L).as("vec_id"), col("embedding")))
    val out = KMeans.fitAssign(dup, k = 3, iters = 2, dims = 4)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    (0L to 7L).foreach(i =>
      assert(out(i) == out(i + 100L), s"copy of $i lands with it"))
  }

  test("labels stay within the seeded cell ids and runs are stable") {
    val a = KMeans.fitAssign(bundles, k = 3, iters = 2, dims = 4)
      .select("vec_id", "label").as[(Long, Int)].collect().toSet
    val b = KMeans.fitAssign(bundles, k = 3, iters = 2, dims = 4)
      .select("vec_id", "label").as[(Long, Int)].collect().toSet
    assert(a == b, "two fits of the same frame are identical")
    assert(a.map(_._2).subsetOf(Set(0, 1, 2)))
  }

  test("native kmeansLabel assign == composed HOF argmax on the real " +
      "sf0.001 embeddings (labels, tie-breaks, degenerate centroids)") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        Quantization.int8Codes(col("embedding")).as("qvec"))
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        col("qvec").as("cvec"))
      // plus a degenerate all-zero centroid: must never win while any
      // non-degenerate cell exists (scores -Infinity on both paths)
      .unionByName(spark.range(1).select(lit(99).as("cell"),
        array((0 until 64).map(_ => lit(0)): _*).as("cvec")))
    val native = KMeans.assign(corpus, cents)
      .select("vec_id", "label").as[(Long, Int)].collect().sortBy(_._1)
    val composed = Reference.assignComposed(corpus, cents)
      .select("vec_id", "label").as[(Long, Int)].collect().sortBy(_._1)
    assert(native.sameElements(composed))
    assert(native.map(_._2).distinct.length > 1, "labels vary")
    assert(!native.exists(_._2 == 99), "degenerate cell never wins")
  }

  test("iters = 0 reduces to nearest-seed assignment") {
    val out = KMeans.fitAssign(bundles, k = 3, iters = 0, dims = 4)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(out(0L) == 0 && out(1L) == 1 && out(2L) == 2,
      "seeds assign to themselves")
  }
}
