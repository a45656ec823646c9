package graft

import org.apache.spark.sql.functions.{aggregate, col, lit, zip_with}
import org.apache.spark.storage.StorageLevel

/** The shared test session is built by [[Harness.session]], so these
  * pins hold for every main too: the session shape, the registered
  * extensions, and the per-query step's failure and sweep contract.
  */
class HarnessSpec extends SparkSpec {

  test("session shape: shuffle partitions = cores, UI off, UTC") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("graft SQL functions resolve through spark.sql") {
    val got = spark.sql("SELECT graft_normalize_words('K o d e') AS w")
      .head().getString(0)
    assert(got == "Kode")
  }

  test("FuseHofDotProduct is active: the HOF dot plans as graft_dot") {
    val df = spark.range(1)
      .selectExpr("array(float(1), float(2)) AS a",
        "array(float(3), float(4)) AS b")
      .select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0d), (acc, v) => acc + v).as("d"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_dot"), plan)
    assert(df.head().getDouble(0) == 11.0)
  }

  test("step returns None for a query that throws") {
    val got = Harness.step(spark, "spec", "boom") {
      throw new IllegalStateException("boom")
    }
    assert(got.isEmpty)
  }

  test("step times a cached frame and sweeps it afterwards") {
    val df = spark.range(1234).selectExpr("id * 7 AS v")
    val got = Harness.step(spark, "spec", "cached") {
      assert(df.persist(StorageLevel.MEMORY_ONLY).count() == 1234L)
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    }
    assert(got.exists(_ >= 0.0))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    df.unpersist() // drop the cache-manager entry the sweep leaves
  }
}
