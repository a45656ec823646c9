package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Reference, Similarity, TextDedup}

/** Microbenchmarks: each native codegen'd expression vs the composed
  * built-in/higher-order-function reference it replaces, on cached
  * in-memory frames so only expression evaluation is timed. Run with
  * `sbt "Test/runMain graft.tools.MicroBench [rows]"`.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = graft.Harness.session()

    def time(df: DataFrame, label: String, c: Column, n: Long): Double = {
      // max, not sum: band hashes span the full 64-bit range and an
      // ANSI sum over them overflows
      df.select(max(c)).collect() // warm once (JIT/codegen), then time
      val t0 = System.nanoTime()
      df.select(max(c)).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$label%-16s $sec%8.3f s  (${n / sec / 1e6}%6.2f M rows/s)")
      sec
    }

    // ---- cosine: CosineSimExpr vs zip_with/aggregate HOFs
    val dims = 64
    // outer cast matters: float / float-literal promotes to DOUBLE in
    // Spark SQL, and CosineSimExpr is strict about array<float>
    val vec = (salt: Int) => transform(sequence(lit(0), lit(dims - 1)),
      j => (pmod(col("id") * 31 + j * salt, lit(997)).cast("float") / 997f)
        .cast("float"))
    val vecs = spark.range(rows)
      .select(col("id"), vec(7).as("a"), vec(13).as("b"))
      .cache()
    vecs.count() // materialize outside the timed region
    val hofCos = time(vecs, "cosine hof",
      Reference.cosineHof(col("a"), col("b")), rows)
    val natCos = time(vecs, "cosine native",
      Similarity.cosine(col("a"), col("b")), rows)
    println(f"cosine speedup ${hofCos / natCos}%.1fx\n")

    // ---- integer dot (semdedup's pair kernel): IntDotExpr vs the
    // zip_with/aggregate reference, on int8-quantized codes
    val qvecs = vecs.select(col("id"),
      graft.ops.Quantization.int8Codes(col("a")).as("qa"),
      graft.ops.Quantization.int8Codes(col("b")).as("qb"))
      .cache()
    qvecs.count()
    val hofDot = time(qvecs, "intdot hof",
      Reference.intDotComposed(col("qa"), col("qb")), rows)
    val natDot = time(qvecs, "intdot native",
      graft.ops.Quantization.intDot(col("qa"), col("qb")), rows)
    println(f"intdot speedup ${hofDot / natDot}%.1fx\n")
    qvecs.unpersist()
    vecs.unpersist()

    // ---- shingles + minhash bands: native loops vs HOF chains, on
    // synthetic ~40-word documents (text work dominates, as in corpus
    // signature passes)
    val textRows = math.max(rows / 40, 10000L)
    val docs = spark.range(textRows)
      .select(col("id"), concat_ws(" ",
        (0 until 40).map(j =>
          pmod(col("id") * 17 + j, lit(1000)).cast("string")): _*)
        .as("text"))
      .cache()
    docs.count()
    val hofSh = time(docs, "shingles hof",
      size(Reference.shinglesHof(col("text"), 3)), textRows)
    val natSh = time(docs, "shingles native",
      size(TextDedup.shingles(col("text"), 3)), textRows)
    println(f"shingles speedup ${hofSh / natSh}%.1fx\n")

    val hofMh = time(docs, "minhash hof",
      element_at(Reference.minHashBandHashesHof(col("text"), 32, 4, 3), 1),
      textRows)
    val natMh = time(docs, "minhash native",
      element_at(graft.functions.MinHashExprs.minHashBands(
        TextDedup.shingles(col("text"), 3), 32, 4), 1), textRows)
    println(f"minhash speedup ${hofMh / natMh}%.1fx")
    spark.stop()
  }
}
