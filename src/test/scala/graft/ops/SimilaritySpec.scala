package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: orthogonal -> 0, parallel -> 1, zero-norm guarded") {
    val d = Seq(
      (1L, Seq(1f, 0f), Seq(0f, 1f)),
      (2L, Seq(2f, 0f), Seq(5f, 0f)),
      (3L, Seq(0f, 0f), Seq(1f, 1f)))
      .toDF("id", "a", "b")
    val r = d.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .orderBy("id").as[(Long, Double)].collect().map(_._2)
    assert(math.abs(r(0)) < 1e-12)
    assert(math.abs(r(1) - 1.0) < 1e-12)
    assert(r(2) == 0.0)
  }

  test("native cosine expression is bit-identical to the HOF formulation") {
    // pseudo-random f32 vectors incl. a zero vector and exact dups —
    // the native single-pass loop must reproduce the HOF result to the
    // last bit (same float-product-then-widen accumulation order)
    val vecs = (0 until 200).map { i =>
      (i.toLong, (0 until 64).map { j =>
        if (i == 7) 0f
        else (((i * 1315423911L + j * 2654435761L) % 1000) - 500) / 250f
      })
    }
    val pairs = vecs.zip(vecs.drop(1) :+ vecs.head).map {
      case ((ia, va), (_, vb)) => (ia, va, vb)
    }.toDF("id", "a", "b")
    val diff = pairs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Reference.cosineHof(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0, "native and HOF cosine must agree exactly")
  }

  test("native cosine stays inside whole-stage codegen") {
    // spark.range source: a literal local relation would be constant-
    // folded away before any codegen span could appear
    val d = spark.range(8).select(
      transform(sequence(lit(0), lit(7)),
        i => (col("id") + i).cast("float")).as("v"))
    val plan = d.select(Similarity.cosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen span; the Project
    // evaluating graft_cosine must carry it (the HOF transform Project
    // below it notably does NOT — that's the interpreted path this
    // expression exists to avoid)
    val cosineLine = plan.linesIterator
      .find(_.contains("graft_cosine")).getOrElse("")
    assert(cosineLine.trim.startsWith("*("), plan)
  }

  test("bruteForceTopK returns exact neighbors in rank order") {
    val corpus = emb(
      0L -> Seq(1f, 0f, 0f),
      1L -> Seq(0.9f, 0.1f, 0f), // closest to 0
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0.5f, 0.5f, 0f))
    val queries = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val top = Similarity.bruteForceTopK(corpus, queries, k = 2)
      .orderBy("rk").select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L, 3L))
  }

  test("hyperplanes are deterministic for a fixed seed") {
    assert(Similarity.hyperplanes(4, 8, 42L) == Similarity.hyperplanes(4, 8, 42L))
    assert(Similarity.hyperplanes(4, 8, 42L) != Similarity.hyperplanes(4, 8, 43L))
  }

  test("lshBucket: identical vectors share a bucket; buckets bounded") {
    val corpus = emb(
      0L -> Seq.fill(64)(1f),
      1L -> Seq.fill(64)(1f),
      2L -> Seq.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))
    val b = Similarity.withBuckets(corpus.withColumn("label", lit(0)), numBits = 8)
      .select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b.values.forall(v => v >= 0 && v < 256))
  }

  test("ivfTopK probes the right cell and finds the duplicate vector") {
    val corpus = emb(
      0L -> Seq.tabulate(64)(_.toFloat),
      1L -> Seq.tabulate(64)(_.toFloat), // exact dup of 0
      2L -> Seq.tabulate(64)(i => (63 - i).toFloat),
      3L -> Seq.tabulate(64)(i => (63 - i).toFloat))
    // two well-separated centroids: ascending-ramp cell vs descending
    val centroids = emb(0L -> Seq.tabulate(64)(_.toFloat),
      1L -> Seq.tabulate(64)(i => (63 - i).toFloat))
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").as("c_vec"))
    val queries = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val top = Similarity.ivfTopK(corpus, queries, centroids, k = 1, nProbe = 1)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L))
    // assignment itself: dups share a cell, ramps split
    val cells = Similarity.ivfAssign(corpus, centroids)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(cells(0L) == cells(1L))
    assert(cells(2L) == cells(3L))
    assert(cells(0L) != cells(2L))
  }

  test("packed-argmax ivfAssign == windowed reference on the real " +
      "sf0.001 embeddings (cells, tie-breaks)") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val centroids = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").as("c_vec"))
    val packedForm = Similarity.ivfAssign(corpus, centroids)
      .select("vec_id", "cell").as[(Long, Int)].collect().sortBy(_._1)
    val windowed = Reference.ivfAssignWindowed(corpus, centroids)
      .select("vec_id", "cell").as[(Long, Int)].collect().sortBy(_._1)
    assert(packedForm.sameElements(windowed))
    assert(packedForm.map(_._2).distinct.length > 1, "cells vary")
  }

  test("planted near-dup vectors keep a safe sign-LSH projection margin") {
    // The cosine_neardup_pairs oracle relies on every planted vector
    // bucketing identically in Spark and DuckDB; that only holds while
    // plane projections stay far from zero (a projection inside float
    // accumulation noise, ~1e-5, could sign-flip between engines).
    // Measured margin at sf0.001/sf0.01 is 6.4e-2 / 5.5e-2 — this pin
    // makes a future regression (new embeddings, changed plant) loud
    // instead of silently desyncing the oracle.
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) + lit(0.25f)),
          slice(col("embedding"), 2, 63)).as("embedding"))
    val planes = Similarity.hyperplanes(numBits = 8, dims = 64)
    val minAbsProj = planted.select(
      least(planes.map(p =>
        abs(Similarity.dot(col("embedding"), typedLit(p)))): _*).as("m"))
      .agg(min(col("m"))).as[Double].head()
    assert(minAbsProj > 0.01,
      s"planted LSH margin collapsed to $minAbsProj (noise floor ~1e-5)")
  }

  test("cosineNearDupPairs finds planted duplicates, skips distinct vectors") {
    val corpus = emb(
      0L -> Seq.tabulate(64)(_.toFloat),
      1L -> Seq.tabulate(64)(i => i.toFloat * 2f), // parallel dup of 0
      2L -> Seq.tabulate(64)(i => (63 - i).toFloat))
    val pairs = Similarity.cosineNearDupPairs(corpus, threshold = 0.99, numBits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("lshTopK finds the duplicate vector as nearest neighbor") {
    val corpus = emb(
      0L -> Seq.tabulate(64)(_.toFloat),
      1L -> Seq.tabulate(64)(_.toFloat), // exact dup of 0
      2L -> Seq.tabulate(64)(i => (63 - i).toFloat))
    val queries = corpus.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val top = Similarity.lshTopK(corpus, queries, k = 1, numBits = 2)
      .select("vec_id").as[Long].collect()
    assert(top.toSeq == Seq(1L))
  }

  test("truncatedRerankTopK with a full-corpus shortlist equals " +
      "bruteForceTopK; requires shortlist >= k") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 40L).map(i =>
      (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = (0L until 3L).map(i =>
      (100L + i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("q_id", "q_vec")
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
      .select("q_id", "vec_id", "rk").as[(Long, Long, Int)].collect().toSet
    val twoStage = Similarity.truncatedRerankTopK(corpus, queries,
      prefixDims = 8, shortlist = 40, k = 5)
      .select("q_id", "vec_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(twoStage == exact,
      "a full-dimension full-shortlist two-stage run is exact by definition")
    // truncated stage 1 with a tight shortlist still returns k rows/query
    val tight = Similarity.truncatedRerankTopK(corpus, queries,
      prefixDims = 2, shortlist = 5, k = 5)
    assert(tight.groupBy("q_id").count().as[(Long, Long)].collect()
      .forall(_._2 == 5L))
    intercept[IllegalArgumentException](
      Similarity.truncatedRerankTopK(corpus, queries, shortlist = 3, k = 5))
  }

  test("mutualTopMatch: only reciprocal argmaxes survive; ties to min id") {
    // logScale 0 → codes are floor(v): a1=[2,0] a2=[0,2]; b10=[1,0]
    // b11=[1,1]. a1's best: b10/b11 tie at 2 → b10. a2's best: b11.
    // b10's best: a1 (mutual ✓). b11's best: a1/a2 tie at 2 → a1,
    // but a1 chose b10 → (a2, b11) NOT mutual. One pair survives.
    val left = Seq((1L, Array(2f, 0f)), (2L, Array(0f, 2f)))
      .toDF("vec_id", "embedding")
    val right = Seq((10L, Array(1f, 0f)), (11L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualTopMatch(left, right, logScale = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 2L)), got.toString)
  }

  test("driftCensus: stable at mass, planted shift drifts, " +
      "appear/vanish drift, small buckets say low_mass") {
    def vecs(n: Int, v: Float) =
      Seq.fill(n)(Seq.fill(4)(v)).toDF("embedding")
    def census(old: org.apache.spark.sql.DataFrame,
        nw: org.apache.spark.sql.DataFrame) =
      Similarity.driftCensus(old, nw, numBits = 2, dims = 4)
        .as[(Int, Long, Long, Long, Boolean, Boolean)].collect().toSeq

    // identical 200-vector snapshots: one bucket, zero shift, judged
    val same = census(vecs(200, 0.5f), vecs(200, 0.5f))
    assert(same.size == 1, same.toString)
    assert(same.head._2 == 200L && same.head._4 == 0L &&
      !same.head._5 && !same.head._6, same.toString)

    // 0.5 → 0.9 per dim: int8 codes 32 → 57, mean shift 25 int8
    // units per dim, far over the 4-unit threshold — and scaling
    // both by the same sign keeps the bucket, so it is ONE judged row
    val shifted = census(vecs(200, 0.5f), vecs(200, 0.9f))
    assert(shifted.size == 1 && shifted.head._5 && !shifted.head._6,
      shifted.toString)
    // l1_num = 25 * 4 dims * 200 * 200 exactly
    assert(shifted.head._4 == 25L * 4 * 200 * 200, shifted.toString)

    // a bucket the new snapshot no longer populates drifts on count
    // asymmetry alone, whatever the means say
    val vanished = census(vecs(200, 0.5f), vecs(200, 0.5f).limit(0))
    assert(vanished.size == 1 && vanished.head._3 == 0L &&
      vanished.head._5, vanished.toString)

    // below judgment mass: the verdict column still computes, but
    // low_mass says not to read it
    val small = census(vecs(5, 0.5f), vecs(5, 0.5f))
    assert(small.size == 1 && small.head._6 && !small.head._5,
      small.toString)
  }
}
