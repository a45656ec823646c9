package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Reference, TextDedup}

/** The native fused MinHash nodes must be bit-identical to the
  * composed HOF formulation they replace — same xxhash64 folding, same
  * null-shingle and empty-array behavior.
  */
class MinHashExprsSpec extends SparkSpec {

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "one two", // shorter than the shingle width -> whole-text shingle
    "",
    "repeat repeat repeat repeat repeat")

  private def docs = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("native signature == HOF signature, bit for bit") {
    val sh = TextDedup.shingles(col("text"), 3)
    val rows = docs.select(
      TextDedup.minHashSignature(sh, 16).as("native"),
      Reference.minHashSignatureHof(sh, 16).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("native band hashes == HOF band hashes, bit for bit") {
    val rows = docs.select(
      MinHashExprs.minHashBands(
        TextDedup.shingles(col("text"), 3), 32, 4).as("native"),
      Reference.minHashBandHashesHof(col("text"), 32, 4, 3).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("null shingles and empty arrays match the HOF semantics") {
    val df = spark.range(1).selectExpr(
      "array(cast(null as string), 'a b c') as with_null",
      "cast(array() as array<string>) as empty")
    val r = df.select(
      TextDedup.minHashSignature(col("with_null"), 8).as("n1"),
      Reference.minHashSignatureHof(col("with_null"), 8).as("h1"),
      TextDedup.minHashSignature(col("empty"), 8).as("n2"),
      Reference.minHashSignatureHof(col("empty"), 8).as("h2"))
      .head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](2) == r.getSeq[Long](3))
    // empty shingle set: every minimum stays at the Long.MaxValue seed
    assert(r.getSeq[Long](2).forall(_ == Long.MaxValue))
  }

  test("candidate pairs are unchanged by the native swap") {
    // the known near-dup pair from the fixture corpus must survive
    val pairs = TextDedup.minHashCandidates(docs, numHashes = 32,
      rowsPerBand = 4).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }
}
