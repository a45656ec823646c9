package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Int8 quantization: exactness of the codes (the property the oracle
  * relies on) and retrieval quality of integer-dot search vs the float
  * cosine baseline on the real sf0.001 embeddings.
  */
class QuantizationSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("int8 codes are exact floor(v * 64) with clamping") {
    val df = Seq((1L, Seq(0.5f, -0.5f, 1.99f, -1.99f, 3.0f, -3.0f, 0.0f,
      0.015625f))).toDF("vec_id", "embedding")
    val codes = df.select(Quantization.int8Codes(col("embedding")))
      .as[Seq[Int]].head()
    // 0.5*64=32; -0.5*64=-32; 1.99f*64 = 127.36 -> 127; -1.99f*64 ->
    // floor(-127.36) = -128; 3.0*64=192 -> clamp 127; -192 -> clamp
    // -128; 0 -> 0; 2^-6*64 = 1
    assert(codes == Seq(32, -32, 127, -128, 127, -128, 0, 1))
  }

  test("integer dot is the exact sum of code products") {
    val df = Seq((1L, Seq(1.0f, -1.0f), Seq(0.5f, 0.25f)))
      .toDF("id", "a", "b")
    val dot = df.select(Quantization.intDot(
      Quantization.int8Codes(col("a")), Quantization.int8Codes(col("b"))))
      .as[Long].head()
    // codes: [64, -64] · [32, 16] = 2048 - 1024 = 1024
    assert(dot == 1024L)
  }

  test("native intDot == composed HOF reference on real embeddings") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(Quantization.int8Codes(col("embedding")).as("q"))
    val bad = corpus
      .select(Quantization.intDot(col("q"), col("q")).as("native"),
        Reference.intDotComposed(col("q"), col("q")).as("composed"))
      .filter(col("native") =!= col("composed"))
      .count()
    assert(bad == 0L)
  }

  test("native int8Codes == composed reference on real embeddings " +
      "and the clamp edges") {
    // edges: ±1.99f·64 = ±127.36 (floor lands inside / on the clamp),
    // ±3·64 = ±192 (clamped both ways), 0
    val edges = Seq(Seq(1.99f, -1.99f, 3.0f, -3.0f, 0.0f))
      .toDF("embedding")
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("embedding"))
      .unionByName(edges)
    val both = vecs.select(
      Quantization.int8Codes(col("embedding")).as("native"),
      Reference.int8CodesComposed(col("embedding")).as("composed"))
    val bad = both.filter(col("native") =!= col("composed")).count()
    assert(bad == 0L)
    assert(both.count() > 1L)
  }

  test("intDot rejects length mismatch and null elements loudly") {
    val mismatch = intercept[Exception] {
      Seq((Seq(1, 2), Seq(1, 2, 3))).toDF("a", "b")
        .select(graft.functions.VectorExprs.intDot(col("a"), col("b")))
        .head()
    }
    def deepMsg(t: Throwable): String =
      Option(t.getCause).fold(t.getMessage)(c => t.getMessage + " | " + deepMsg(c))
    assert(deepMsg(mismatch).contains("length mismatch"))
    val nul = intercept[Exception] {
      spark.range(1)
        .selectExpr("array(1, cast(null as int)) as a", "array(1, 2) as b")
        .select(graft.functions.VectorExprs.intDot(col("a"), col("b")))
        .head()
    }
    assert(deepMsg(nul).contains("array_compact"))
  }

  test("quantized top-k recall vs float cosine baseline is high") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = corpus.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topkMap(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topkMap(Similarity.bruteForceTopK(corpus, queries, k = 10))
    val quant = topkMap(Quantization.quantizedTopK(corpus, queries, k = 10))
    val per = exact.map { case (q, truth) =>
      quant.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val recall = per.sum / per.size
    // int8 at scale 2^6 on ~unit vectors: quantization noise is small
    // relative to neighbor gaps — the top-10 sets mostly survive.
    // (Integer dot ranks by unnormalized similarity; the embeddings
    // are near-constant norm, so the ordering transfers.)
    assert(recall > 0.7, s"quantized recall too low: $recall")
  }

  test("PQ encode: codes in range, identical vectors share a code, " +
      "pack is bijective on the code array, partitioning-invariant") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val copies = corpus.filter(col("vec_id") % 17 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val all = corpus.unionByName(copies)
    val enc = Quantization.pqEncode(all, Quantization.pqCodebook(all))
      .select("vec_id", "codes", "pq_code")
      .as[(Long, Seq[Int], Long)].collect()
    assert(enc.length == all.count())
    // every code is a valid centroid id; the pack is the big-endian
    // base-16 fold of the code array (bijective given the range)
    enc.foreach { case (id, codes, packed) =>
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 16),
        s"vec $id codes out of range: $codes")
      assert(packed == codes.foldLeft(0L)(_ * 16 + _),
        s"vec $id pack mismatch")
    }
    // verbatim copies must encode identically (same embedding -> same
    // codes -> same pq_code) — the property semantic PQ dedup rides
    val byId = enc.map(e => e._1 -> e._3).toMap
    copies.select("vec_id").as[Long].collect().foreach { cid =>
      assert(byId(cid) == byId(cid - 10000000L),
        s"copy $cid differs from its original")
    }
    // content-determined: a different partitioning yields byte-equal
    // codes
    val again = Quantization.pqEncode(
      all.repartition(5), Quantization.pqCodebook(all.repartition(3)))
      .select("vec_id", "pq_code").as[(Long, Long)].collect().toMap
    assert(again == byId)
  }

  test("Lloyd-trained PQ codebooks cut quantization distortion") {
    // The provable Lloyd property is DISTORTION reduction (each
    // assignment and each mean update is non-increasing in
    // Σ‖sub − cent‖²) — recall@10 on this corpus is NOT a valid pin:
    // the synthetic embeddings are structureless, so training moves
    // recall only within noise (measured 0.31 seeded vs 0.30 trained;
    // recorded in the Quantization scaladoc). Assert the objective
    // Lloyd actually optimizes, computed with a driver-side reference
    // over the collected (tiny) codebooks.
    import org.apache.spark.sql.functions._
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    def q8(v: Seq[Float]): Seq[Long] =
      v.map(x =>
        math.max(math.min(math.floor(x.toDouble * 64), 127), -128).toLong)
    val rows = corpus.as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> q8(v) }
    def distortion(cb: org.apache.spark.sql.DataFrame): Long = {
      val cents = cb.select("s", "j", "cvec")
        .as[(Int, Int, Seq[Int])].collect()
        .groupBy(_._1).view
        .mapValues(_.map(c => c._2 -> c._3.map(_.toLong)).toMap).toMap
      rows.map { case (_, v) =>
        (0 until 8).map { s =>
          val sub = v.slice(s * 8, s * 8 + 8)
          cents(s).values.map(c =>
            sub.zip(c).map(t => (t._1 - t._2) * (t._1 - t._2)).sum).min
        }.sum
      }.sum
    }
    val seeded = distortion(Quantization.pqCodebook(corpus))
    val trained = distortion(Quantization.pqTrainCodebook(corpus))
    info(s"PQ total distortion: seeded=$seeded trained=$trained " +
      f"(${100.0 * (seeded - trained) / seeded}%.1f%% cut)")
    assert(trained < seeded,
      s"training did not reduce distortion: $seeded -> $trained")
    corpus.unpersist()
  }

  test("trained codebook stays dense under empty cells; sparse " +
      "codebooks and nibble-colliding kCode error loudly") {
    // 24 vectors drawn from only 3 distinct embeddings: the 16 seeds
    // duplicate patterns, assignment ties go to the lowest j, so 13 of
    // the 16 cells per subspace receive NO members in the refine step.
    // Before the densify fix that round dropped those cells and every
    // later positional element_at lookup misaligned (silent NULL/wrong
    // codes); now empty cells keep their previous centroid.
    val corpus = (0 until 24).map { i =>
      val pat = i % 3
      (i.toLong, Seq.tabulate(64)(d => (pat + 1) * 0.1f + d * 0.001f))
    }.toDF("vec_id", "embedding")
    val trained = Quantization.pqTrainCodebook(corpus, iters = 1)
    assert(trained.count() == 16 * 8,
      "trained codebook must stay dense m x kCode")
    val enc = Quantization.pqEncode(corpus, trained)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect()
    assert(enc.length == 24)
    enc.foreach { case (id, codes) =>
      assert(codes != null && codes.forall(c => c >= 0 && c < 3),
        s"vec $id: only the 3 winning cells may appear, got $codes")
    }
    // a hole in the grid must fail fast, not misalign silently
    val sparse = trained.filter(!(col("s") === 0 && col("j") === 5))
    val err = intercept[Exception] {
      Quantization.pqEncode(corpus, sparse).head()
    }
    def deepMsg(t: Throwable): String =
      Option(t.getCause).fold(t.getMessage)(c => t.getMessage + " | " + deepMsg(c))
    assert(deepMsg(err).contains("dense"), deepMsg(err))
    // kCode > 16 would collide the radix-16 nibble pack
    val bad = intercept[IllegalArgumentException] {
      Quantization.pqEncode(corpus, trained, kCode = 17)
    }
    assert(bad.getMessage.contains("radix 16"))
  }

  test("native pqAssign == composed HOF argmin, row for row, on the " +
      "real sf0.001 embeddings (codes AND tie-breaks)") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        Quantization.int8Codes(col("embedding")).as("qv"))
    val cb = Quantization.pqCodebook(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    // the packCodebook layout, replicated: dense (s, j)-sorted array
    val packed = cb.agg(array_sort(collect_list(
      struct(col("s"), col("j"), col("cvec"), col("nb")))).as("cb"))
    val both = corpus.crossJoin(broadcast(packed))
      .select(col("vec_id"),
        graft.functions.VectorExprs
          .pqAssign(col("qv"), col("cb"), 16, 8, 8).as("native"),
        Reference.pqCodesColComposed(
          col("qv"), col("cb"), 16, 8, 8).as("composed"))
    val bad = both.filter(col("native") =!= col("composed")).count()
    assert(bad == 0L, s"$bad rows diverge between native and composed")
    // and the argmin actually varies (the test has teeth)
    assert(both.select(countDistinct(col("native"))).as[Long].head() > 1L)
  }

  test("ivfPqAdcCounts (fused adc-recall gate, r22) == the per-flavor " +
      "sq8/residual/raw formulation on the real sf0.001 embeddings") {
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = corpus
      .filter(col("vec_id") >= 10 && col("vec_id") < 110)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val cents = graft.tools.RunAnnIndex
      .trainCentroids(corpus, kCells = 8, iters = 1).localCheckpoint()
    val assigned = Similarity.ivfAssign(corpus, cents).localCheckpoint()
    // the pre-r22 formulation: three flavors + (q_id, vec_id) joins
    val exact = Quantization.ivfSq8TopK(corpus, queries, cents,
      topK = 10, nProbe = 2, assigned = Some(assigned))
      .select("q_id", "vec_id").localCheckpoint()
    def hits(residual: Boolean): Long =
      Quantization.ivfPqTopK(corpus, queries, cents,
        topK = 10, nProbe = 2, rerank = 0, residual = residual,
        assigned = Some(assigned))
        .select("q_id", "vec_id")
        .join(exact, Seq("q_id", "vec_id"))
        .count()
    val nPairs = exact.count()
    val (resHits, rawHits) = (hits(residual = true), hits(residual = false))
    val fused = Quantization.ivfPqAdcCounts(assigned, queries, cents,
      topK = 10, nProbe = 2)
      .as[(Long, Long, Long)].head()
    assert(fused == ((nPairs, resHits, rawHits)),
      s"fused=$fused reference=(${nPairs}, $resHits, $rawHits)")
  }

  test("PQ ADC top-k equals a driver-side reference on a small corpus") {
    import org.apache.spark.sql.functions._
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(64).cache()
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Quantization.pqTopK(corpus, queries, topK = 5)
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)))
      .toMap
    // reference: quantize + assign + reconstruct + dot, all in plain
    // Scala from the same corpus rows
    val rows = corpus.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def q8(v: Seq[Float]): Seq[Long] =
      v.map(x => math.max(math.min(math.floor(x.toDouble * 64), 127), -128).toLong)
    val cents = rows.filter(_._1 < 16).map(r => q8(r._2))
    def sub(v: Seq[Long], s: Int) = v.slice(s * 8, s * 8 + 8)
    def dot(a: Seq[Long], b: Seq[Long]) = a.zip(b).map(t => t._1 * t._2).sum
    def recon(v: Seq[Long]): Seq[Long] = (0 until 8).flatMap { s =>
      val best = (0 until 16).maxBy { j =>
        val c = sub(cents(j), s)
        (2 * dot(sub(v, s), c) - dot(c, c), -j)
      }
      sub(cents(best), s)
    }
    val recons = rows.map { case (id, v) => id -> recon(q8(v)) }.toMap
    for (qid <- Seq(0L, 1L, 2L)) {
      val qcodes = q8(rows(qid.toInt)._2)
      val expect = rows.map(_._1).filter(_ != qid)
        .map(id => (id, dot(qcodes, recons(id))))
        .sortBy { case (id, s) => (-s, id) }.take(5)
      assert(got(qid).toSeq == expect.toSeq,
        s"q$qid: got ${got(qid).toSeq}, expect ${expect.toSeq}")
    }
    corpus.unpersist()
  }
}
