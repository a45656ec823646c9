package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.{Harness, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Per-query Spark job count: builds each named registry query, runs
  * it to its final plan (a per-partition no-op over its RDD, as
  * `Inspect reuse` does) and prints the jobs the build and the run
  * submitted together — the job round trips an iterative query pays
  * for. Compare two checkouts query by query, over several runs where
  * adaptive execution re-plans joins by stage completion order (the
  * Scc family varies by a few jobs run to run).
  *
  * Usage: sbt "Test/runMain graft.tools.JobCount <sfDir> <q1,q2,...|ALL>"
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: JobCount <sfDir> <q1 [q2 ...]|q1,q2,...|ALL>")
    val spark = Harness.session()
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    Harness.queryNames(args.drop(1).toSeq).foreach { q =>
      ListenerBridge.drain(spark)
      jobs.set(0)
      SparkEntry.queries(q)(spark, args(0))
        .queryExecution.toRdd.foreachPartition(_ => ())
      ListenerBridge.drain(spark)
      println(f"JOBS $q%-28s ${jobs.get}%d")
    }
    spark.stop()
  }
}
