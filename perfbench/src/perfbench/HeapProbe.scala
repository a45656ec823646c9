package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectorMXBean
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Highest post-GC heap occupancy while it is registered: at the end of
  * every query action it forces a full collection and reads the heap
  * the collection left, as the collector itself reports it. Blocks that
  * an execution caches for its later actions are in every reading.
  */
final class HeapProbe extends QueryExecutionListener {
  @volatile var peakBytes = 0L
  @volatile var readings = 0

  private def read(): Unit = HeapProbe.afterFullGc().foreach { b =>
    peakBytes = math.max(peakBytes, b)
    readings += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = read()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = read()
}

object HeapProbe {
  /** G1's full collector; the JVM runs with `-XX:+UseG1GC`. */
  private lazy val fullGc: GarbageCollectorMXBean =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.collectFirst {
      case b: GarbageCollectorMXBean if b.getName == "G1 Old Generation" => b
    }.getOrElse(throw new IllegalStateException("G1 full collector not found"))

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Heap bytes after a forced full collection, or None when none ran:
    * G1 drops a requested collection that races with another one, so
    * it asks up to three times.
    */
  def afterFullGc(): Option[Long] = {
    val before = fullGc.getCollectionCount
    var tries = 0
    while (fullGc.getCollectionCount == before && tries < 3) {
      System.gc()
      tries += 1
    }
    if (fullGc.getCollectionCount == before) None
    else Some(fullGc.getLastGcInfo.getMemoryUsageAfterGc.asScala.collect {
      case (pool, usage) if heapPools(pool) => usage.getUsed
    }.sum)
  }
}
