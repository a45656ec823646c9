package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ops.{Reference, Similarity, TextDedup}

/** Seeded fuzz parity: the native expressions must agree with their
  * composed built-in references on hundreds of adversarial inputs —
  * Unicode, empty tokens, runs of spaces, nulls, duplicates, NaN and
  * infinities — evaluated through real Spark plans (codegen path), not
  * just the interpreted eval.
  */
class NativeParitySpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260812L)

  private def randomText(): String = {
    val alphabet = Seq("kota", "désa", "pulau", "統計", "данные", "x",
      "🌊", "a-b", "1", "", " ", "  ", " ")
    (0 until rnd.nextInt(30)).map(_ =>
      alphabet(rnd.nextInt(alphabet.length))).mkString(" ")
  }

  test("shingles + minhash parity on 300 random unicode texts, n=1..4") {
    val s = spark
    import s.implicits._
    val texts = Seq.fill(300)(randomText()).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(5)
    for (n <- 1 to 4) {
      val bad = texts.select(
        TextDedup.shingles(col("text"), n).as("native"),
        Reference.shinglesHof(col("text"), n).as("hof"),
        TextDedup.minHashSignature(TextDedup.shingles(col("text"), n), 16)
          .as("mh_native"),
        Reference.minHashSignatureHof(
          Reference.shinglesHof(col("text"), n), 16).as("mh_hof"))
        .filter(col("native") =!= col("hof") ||
          col("mh_native") =!= col("mh_hof"))
        .count()
      assert(bad == 0L, s"parity broke for n=$n")
    }
  }

  test("intersectCount parity on random arrays with nulls and dups") {
    val pool = Seq("a", "b", "c", "désa", "🌊", "", null)
    val rows = Seq.fill(300) {
      def arr() = Seq.fill(rnd.nextInt(8))(pool(rnd.nextInt(pool.length)))
      Row(arr(), arr())
    }
    val schema = StructType(Seq(
      StructField("a", ArrayType(StringType, containsNull = true)),
      StructField("b", ArrayType(StringType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val bad = df.select(
      TextExprs.intersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(bad == 0L)
  }

  test("dot-product + cosine parity on random float arrays incl. NaN/Inf") {
    // NOTE: FuseHofDotProduct (registered on this session) rewrites the
    // Similarity.dot HOF chain into the same DotProductExpr node the
    // direct column builds, so comparing those two columns alone would
    // be vacuous. The ground truth here is therefore an INDEPENDENT
    // Scala replica of the HOF semantics (zip_with null-pads ragged
    // arrays, aggregate null-poisons, products in FLOAT then widened),
    // and both plan-evaluated columns must match it bit-for-bit.
    val specials = Seq(Float.NaN, Float.PositiveInfinity,
      Float.NegativeInfinity, 0.0f, -0.0f, 1e30f, -1e-30f)
    def vec(n: Int): Seq[java.lang.Float] = Seq.fill(n) {
      val r = rnd.nextInt(10)
      if (r < 7) java.lang.Float.valueOf(rnd.nextFloat() * 2 - 1)
      else if (r < 9) java.lang.Float.valueOf(specials(rnd.nextInt(specials.length)))
      else null // null element -> both sides must yield NULL
    }
    val inputs = (0 until 300).map { i =>
      val n = rnd.nextInt(6)
      val m = if (rnd.nextInt(4) == 0) rnd.nextInt(6) else n // some ragged
      (i, vec(n), vec(m))
    }
    def refDot(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Option[Double] = {
      if (a.length != b.length || a.contains(null) || b.contains(null)) None
      else Some(a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + (x.floatValue * y.floatValue).toDouble
      })
    }
    def refCos(a: Seq[java.lang.Float], b: Seq[java.lang.Float]): Option[Double] =
      refDot(a, b).map { d =>
        val denom = math.sqrt(refDot(a, a).get) * math.sqrt(refDot(b, b).get)
        if (denom == 0.0) 0.0 else d / denom
      }
    val rows = inputs.map { case (i, a, b) => Row(i, a, b) }
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val got = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("fused"), // rewritten by rule
      graft.functions.NativeExpressions.dotProduct(col("a"), col("b"))
        .as("direct"),
      Similarity.cosine(col("a"), col("b")).as("cos"))
      .collect().map(r => r.getInt(0) ->
        (Seq(1, 2, 3).map(i =>
          if (r.isNullAt(i)) None else Some(r.getDouble(i)))))
      .toMap
    def bits(o: Option[Double]): Option[Long] =
      o.map(java.lang.Double.doubleToLongBits)
    inputs.foreach { case (i, a, b) =>
      val Seq(fused, direct, cos) = got(i)
      val wantDot = refDot(a, b)
      assert(bits(fused) == bits(wantDot), s"fused dot mismatch id=$i a=$a b=$b")
      assert(bits(direct) == bits(wantDot), s"direct dot mismatch id=$i a=$a b=$b")
      assert(bits(cos) == bits(refCos(a, b)), s"cosine mismatch id=$i a=$a b=$b")
    }
  }

  test("cleanName column == plain-Scala mirror on 300 random PDF-ish " +
      "names (digits, CR/LF, tabs, NBSP, runs of spaces)") {
    val s = spark
    import s.implicits._
    val parts = Seq("Aceh", "Barat", "123", "7", "\n", "\r\n", "\t",
      " ", "  ", "\u00A0", "Kab.", "désa", "\n\n", "1 ", "")
    val names = Seq.fill(300)(
      (0 until rnd.nextInt(8)).map(_ => parts(rnd.nextInt(parts.length)))
        .mkString) :+ null
    val got = names.toDF("name")
      .select(col("name"), Cleanse.cleanName(col("name")).as("native"),
        graft.ops.Reference.cleanNameChain(col("name")).as("chain"))
      .as[(String, String, String)].collect()
    assert(got.length == names.length)
    got.foreach { case (n, native, chain) =>
      assert(native == chain, s"cleanName diverged on '$n'")
      assert(Cleanse.cleanName(n) == Option(chain).getOrElse(""),
        s"cleanName(String) diverged on '$n'")
    }
  }
}
