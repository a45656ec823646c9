package org.apache.spark

/** Access to the live listener bus, which Spark keeps package-private:
  * the tracer waits for it to drain before it reads its counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
