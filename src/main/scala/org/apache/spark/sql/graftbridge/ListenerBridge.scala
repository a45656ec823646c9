package org.apache.spark.sql.graftbridge

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.SparkSession

/** Access to the live listener bus, which Spark keeps `private[spark]`.
  * Query-execution listeners — `Observation` among them — run on the
  * bus thread, so an action can return before they have seen it.
  * Draining the bus makes everything the finished actions reported
  * visible to the driver. A bus that stays busy past Spark's drain
  * timeout (10 s) is left as it is; callers re-check what they waited
  * for.
  */
object ListenerBridge {
  def drain(spark: SparkSession): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty()
    catch { case _: TimeoutException => () }
}
