package graft.functions

import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkSpec}

/** The native Catalyst expression tier: same semantics as the Scala
  * reference implementations, null propagation, SQL registration via
  * GraftExtensions, and no ScalaUDF node in the plan.
  */
class NativeExpressionsSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private val samples = Seq(
    "K o d e", "NAMA PROVINSI", "Bakongan\nTimur", "",
    "03°19'03.44\" U 097°07'41.73\" T", "1 Bakongan")

  test("native expressions match the Scala reference implementations") {
    val df = samples.toDF("s")
    val rows = df.select(
      NativeExpressions.normalizeWords(col("s")).as("nw"),
      NativeExpressions.fixWrappedName(col("s")).as("fw"),
      NativeExpressions.formatCoordinate(col("s")).as("fc"),
      col("s")).collect()
    rows.foreach { r =>
      val s = r.getAs[String]("s")
      assert(r.getAs[String]("nw") == Cleanse.normalizeWordsScala(s))
      assert(r.getAs[String]("fw") == Cleanse.fixWrappedNameScala(s))
      assert(r.getAs[String]("fc") == Coordinates.formatCoordinateScala(s))
    }
  }

  test("null propagates (nullSafeEval semantics)") {
    val df = Seq[Option[String]](None, Some("x")).toDF("s")
    val out = df.select(NativeExpressions.normalizeWords(col("s")).as("n"))
      .collect().map(r => Option(r.getAs[String]("n")))
    assert(out.toSeq == Seq(None, Some("x")))
  }

  test("GraftExtensions.register exposes the SQL functions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_normalize_words('K o d e') AS a,
        |       graft_fix_wrapped_name('Pematang Pudu Besar\nke') AS b,
        |       graft_format_coordinate('03°19\'03.44" U 097°07\'41.73" T') AS c
        |""".stripMargin).collect()(0)
    assert(r.getAs[String]("a") == "Kode")
    assert(r.getAs[String]("c") ==
      "03°19'03.44\" N 097°07'41.73\" E")
    // a second register leaves one copy of each rule and strategy
    GraftExtensions.register(spark)
    val rules = spark.experimental.extraOptimizations
    Seq(graft.plans.FuseHofDotProduct, graft.plans.RewriteRangeJoin)
      .foreach(rule => assert(rules.count(_ == rule) == 1, rules.toString))
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == graft.plans.AsofJoinStrategy) == 1,
      strategies.toString)
  }

  test("text-native SQL functions: shingles, minhash, intersect count") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_shingles('a b c d', 3) AS sh, " +
        "size(graft_minhash(graft_shingles('a b c d', 3), 8)) AS k, " +
        "graft_intersect_count(array('a','b'), array('b','c')) AS ic, " +
        // SQL form must agree with the Column-API fold exactly
        "graft_simhash(split('a a a b', ' ')) AS sim")
      .head
    assert(r.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(r.getInt(1) == 8)
    assert(r.getLong(2) == 1L)
    assert(r.getLong(3) ==
      graft.functions.SimHashNative.signature(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Seq("a", "a", "a", "b").map(
            org.apache.spark.unsafe.types.UTF8String.fromString))))
    // non-literal n must be rejected, not silently misplanned
    intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b', length('xy'))").collect()
    }
    // hashed flavor: SQL form must agree with the composed xxhash64
    // formulation, and the merge count with the hash-set one
    val h = spark.sql(
      "SELECT graft_hashed_shingles('a b c d', 3) AS hs, " +
        "array_sort(transform(graft_shingles('a b c d', 3), " +
        "  s -> xxhash64(s))) AS composed, " +
        "graft_sorted_intersect_count(array(1L, 3L), array(1L, 2L, 3L)) AS ic")
      .head
    assert(h.getSeq[Long](0) == h.getSeq[Long](1))
    assert(h.getLong(2) == 2L)
  }

  test("wrong-typed arguments fail analysis instead of reading garbage") {
    GraftExtensions.register(spark)
    val bad = Seq(
      // the native nodes read raw float/string storage; double or int
      // arrays would be silently reinterpreted without the type check
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))",
      "SELECT graft_cosine(array(1, 2), array(3, 4))",
      "SELECT graft_intersect_count(array(1, 2), array(2))",
      "SELECT graft_minhash(array(1, 2), 8)",
      "SELECT graft_simhash(array(1, 2))",
      "SELECT graft_shingles(42, 3)",
      "SELECT graft_hashed_shingles(42, 3)",
      "SELECT graft_sorted_intersect_count(array('a'), array('a'))",
      "SELECT graft_normalize_words(7)")
    bad.foreach { q =>
      val e = intercept[Exception](spark.sql(q).collect())
      assert(e.getMessage.contains("requires") ||
        e.getMessage.contains("DATATYPE_MISMATCH"), s"$q -> ${e.getMessage}")
    }
  }

  test("plan contains no ScalaUDF for the cleanse chain") {
    val df = samples.toDF("s")
      .select(Cleanse.cleanseName(col("s")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }
}
