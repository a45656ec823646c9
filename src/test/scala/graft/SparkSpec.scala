package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM — Test/fork), built
  * through [[Harness.session]] so the specs check the session shape the
  * mains ship; pinned to `local[4]` so plans do not vary with the host.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session("local[4]")
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkTestSession.spark
}
