package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Reference, TextDedup}

/** Native shingling/intersection must match the composed built-in
  * formulations exactly — same tokenization (trailing empties kept),
  * same short-text fallback, same first-occurrence distinct order,
  * same array_intersect null/dup semantics.
  */
class TextExprsSpec extends SparkSpec {

  private val texts = Seq(
    "The quick  brown Fox jumps over the lazy dog",
    "one two",
    "solo",
    "",
    "a b a b a b", // duplicate grams -> distinct must dedup in order
    "  padded   text with   runs  ")

  private def docs = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("native shingles == HOF shingles, order and all") {
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = docs.select(
        TextDedup.shingles(col("text"), n).as("native"),
        Reference.shinglesHof(col("text"), n).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("intersectCount == size(array_intersect) incl. nulls and dups") {
    val cases = Seq(
      ("array('a','b','c')", "array('b','c','d')"),
      ("array('a','a','b')", "array('a')"), // dup in a counts once
      ("array('a', cast(null as string))", "array(cast(null as string))"),
      ("array('a')", "array(cast(null as string))"),
      ("cast(array() as array<string>)", "array('a')"))
    cases.foreach { case (a, b) =>
      val r = spark.range(1)
        .selectExpr(s"$a as a", s"$b as b")
        .select(
          TextExprs.intersectCount(col("a"), col("b")).as("native"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
        .head
      assert(r.getLong(0) == r.getLong(1), s"a=$a b=$b")
    }
  }

  test("hashedShingles == sorted distinct xxhash64 of the string shingles") {
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = docs.select(
        TextExprs.hashedShingles(col("text"), n).as("native"),
        array_sort(transform(
          graft.functions.TextExprs.shingles(col("text"), n),
          s => xxhash64(s))).as("composed"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n")
      }
    }
  }

  test("hashedShingles parity holds on real corpus text") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = corpus.select(
      TextExprs.hashedShingles(TextDedup.normText(col("text")), 3).as("native"),
      array_sort(transform(
        TextDedup.shingles(col("text"), 3), s => xxhash64(s))).as("composed"))
      .filter(not(col("native") === col("composed")))
      .count()
    assert(bad == 0L)
  }

  test("sortedIntersectCount == size(array_intersect) on sorted arrays") {
    val cases = Seq(
      ("array(1L, 3L, 5L)", "array(2L, 3L, 5L, 9L)", 2L),
      ("array(1L, 2L, 3L)", "array(4L, 5L)", 0L),
      ("array(1L, 2L)", "array(1L, 2L)", 2L),
      ("array_remove(array(1L), 1L)", "array(1L)", 0L),
      // containsNull=true TYPE (what parquet reads produce) is fine as
      // long as no actual null slot is hit
      ("cast(array(1L, 3L) as array<bigint>)", "array(3L)", 1L),
      ("array(-5L, 0L, 7L)", "array(-5L, 7L)", 2L))
    cases.foreach { case (a, b, want) =>
      val r = spark.range(1)
        .selectExpr(s"$a as a", s"$b as b")
        .select(TextExprs.sortedIntersectCount(col("a"), col("b")))
        .head
      assert(r.getLong(0) == want, s"a=$a b=$b")
    }
  }

  test("sortedIntersectCount rejects actual null elements at eval (ADVICE r10)") {
    // the linear-merge kernel reads elements with getLong, which would
    // decode a null slot as an undefined 0 — an actual null must fail
    // loudly with a conversion recipe. The nullable element TYPE alone
    // must NOT fail: parquet/JSON array reads carry containsNull=true
    // even when the data has no nulls (covered in the sorted-arrays
    // test above).
    val err = intercept[Exception] {
      spark.range(1)
        .selectExpr("array(cast(null as bigint), 1L) as a", "array(1L) as b")
        .select(TextExprs.sortedIntersectCount(col("a"), col("b")))
        .head
    }
    val msg = Option(err.getCause).fold(err.getMessage)(c =>
      err.getMessage + " | " + c.getMessage)
    assert(msg.contains("array_compact"))
  }

  test("jaccardCountsHashed == jaccardCounts on real corpus pairs") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ids = corpus.select(col("doc_id"))
    val pairs = ids
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      .union(ids.select(
        col("doc_id").as("doc_a"), (col("doc_id") + 2).as("doc_b")))
    val str = TextDedup.jaccardCounts(pairs, corpus)
    val hashed = TextDedup.jaccardCountsHashed(pairs, corpus)
    assert(str.exceptAll(hashed).isEmpty && hashed.exceptAll(str).isEmpty)
  }

  test("jaccardCounts values survive the native swap") {
    val pairs = spark.range(1)
      .selectExpr("cast(0 as long) as doc_a", "cast(4 as long) as doc_b")
    val r = TextDedup.jaccardCounts(pairs, docs, shingleSize = 2).head
    // doc 0 and doc 4 share the bigram count computed by definition
    val sh0 = texts(0).toLowerCase.trim.replaceAll("\\s+", " ")
      .split(" ", -1).sliding(2).map(_.mkString(" ")).toSeq.distinct
    val sh4 = texts(4).toLowerCase.trim.replaceAll("\\s+", " ")
      .split(" ", -1).sliding(2).map(_.mkString(" ")).toSeq.distinct
    val inter = sh0.toSet.intersect(sh4.toSet).size.toLong
    assert(r.getLong(2) == inter)
    assert(r.getLong(3) == sh0.size + sh4.size - inter)
  }
}
