package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * A span brackets one call into a layer's public function. While it is
  * open, its id rides the Spark local property [[Tracer.SpanKey]], so
  * every job the call submits is attributed to it; jobs submitted from
  * threads that did not inherit the property fall back to the innermost
  * span open at the job's start time. A [[SparkListener]] folds job,
  * stage, task and block events into per-span counters, and a
  * [[QueryExecutionListener]] adds each query's planning phases, the
  * input bytes its file scans opened, and the time of `count()` actions.
  * The
  * spans stay in memory and are written out once, at the end.
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val activeJobs = new ConcurrentHashMap[Int, Span]()
  private val blockBytes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cachedBytes = 0L

  /** Spans containing wall-clock instant `ms`, innermost last. */
  private def spanAt(ms: Long): Option[Span] = spans.synchronized {
    spans.filter(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))
      .lastOption
  }

  private def resolve(props: java.util.Properties, ms: Long): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(id => spans.synchronized(spans(id.toInt)))
      .orElse(spanAt(ms))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      resolve(e.properties, e.time).foreach { s =>
        jobSpan.put(e.jobId, s)
        activeJobs.put(e.jobId, s)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        s.synchronized(s.jobs += 1)
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      activeJobs.remove(e.jobId)
      Option(jobSpan.get(e.jobId)).foreach { s =>
        val t0: Long = Option(jobStart.get(e.jobId)).map(_.longValue)
          .getOrElse(e.time)
        s.synchronized(s.jobIntervals += ((t0, e.time)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized(s.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val bytes = if (info.storageLevel.useMemory) info.memSize else 0L
        val total = blockBytes.synchronized {
          val prev = Option(blockBytes.put(key, bytes)).map(_.longValue)
            .getOrElse(0L)
          cachedBytes += bytes - prev
          cachedBytes
        }
        activeJobs.values.asScala.toSet.foreach { (s: Span) =>
          s.synchronized(s.cachePeakBytes = math.max(s.cachePeakBytes, total))
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min
        spanAt(start).foreach { s =>
          val scanned = scanBytes(qe.executedPlan)
          s.synchronized {
            s.planMs += phases.values.map(_.durationMs).sum
            s.readBytes += scanned
            if (funcName == "count") s.countMs += durationNs / 1000000
          }
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Input file bytes opened by the file scans this plan executed, each
    * scan node counted once: a cached relation's scan counts for the
    * query that filled the cache, and a reused exchange not again.
    */
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private def scanBytes(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scanBytes(a.executedPlan)
    case q: QueryStageExec => scanBytes(q.plan)
    case _: ReusedExchangeExec => 0L
    case m: InMemoryTableScanExec => scanBytes(m.relation.cachedPlan)
    case f: FileSourceScanExec =>
      if (seenScans.synchronized(seenScans.add(f)))
        f.metrics.get("filesSize").map(_.value).getOrElse(0L)
      else 0L
    case other => (other.children ++ other.subqueries).map(scanBytes).sum
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Drain the listener buses and detach; every event of every span
    * has been folded in when this returns.
    */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` inside a span named `name`, nested under the
    * innermost open span.
    */
  def span[T](name: String)(body: => T): T = {
    val s = spans.synchronized {
      val sp = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += sp
      sp
    }
    open = s :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      spans.synchronized(s.endMs = System.currentTimeMillis())
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def all: IndexedSeq[Span] = spans.synchronized(spans.toIndexedSeq)

  def byName(name: String): Span =
    all.find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no span named $name"))

  /** Counters of `s` summed over its whole subtree. */
  def rollup(s: Span): Totals = {
    val sub = subtree(s)
    Totals(
      wallS = s.wallS,
      jobs = sub.map(_.jobs).sum,
      stages = sub.map(_.stages).sum,
      tasks = sub.map(_.tasks).sum,
      runS = sub.map(_.runMs).sum / 1e3,
      cpuS = sub.map(_.cpuNs).sum / 1e9,
      gcS = sub.map(_.gcMs).sum / 1e3,
      readBytes = sub.map(_.readBytes).sum,
      shuffleWriteBytes = sub.map(_.shuffleWriteBytes).sum,
      planMs = sub.map(_.planMs).sum,
      cachePeakBytes = sub.map(_.cachePeakBytes).max,
      countS = sub.map(_.countMs).sum / 1e3,
      outsideJobsS = math.max(0.0,
        s.wallS - unionMs(sub.flatMap(_.jobIntervals), s.startMs,
          s.endMs) / 1e3))
  }

  def subtree(s: Span): IndexedSeq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(x: Span): IndexedSeq[Span] =
      x +: kids.getOrElse(x.id, IndexedSeq.empty).flatMap(go)
    go(s)
  }

  /** Wall time of `s` not covered by any child span. */
  def selfS(s: Span): Double =
    s.wallS - all.filter(_.parent == s.id).map(_.wallS).sum

  def toJson: String = Json.arr(all.map { s =>
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.wallS, "self_s" -> selfS(s), "jobs" -> s.jobs,
      "stages" -> s.stages, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
      "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
      "read_bytes" -> s.readBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "out_bytes" -> s.outBytes, "plan_ms" -> s.planMs,
      "cache_peak_bytes" -> s.cachePeakBytes)
  })
}

/** Something that can bracket a call in a named span. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

object Spans {
  /** Runs the body untraced. */
  object None extends Spans {
    def span[T](name: String)(body: => T): T = body
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long, val startMs: Long) {
    @volatile var endNs: Long = -1
    @volatile var endMs: Long = -1
    var jobs, stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleWriteBytes, outBytes = 0L
    /** Input file bytes the span's file scans opened (the scan nodes'
      * `filesSize`; task input metrics miss the Parquet reader's
      * vectored reads).
      */
    var readBytes = 0L
    var planMs, countMs, cachePeakBytes = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final case class Totals(wallS: Double, jobs: Int, stages: Int, tasks: Int,
      runS: Double, cpuS: Double, gcS: Double, readBytes: Long,
      shuffleWriteBytes: Long, planMs: Long,
      cachePeakBytes: Long, countS: Double, outsideJobsS: Double) {
    /** Executor run time over the slots the span's wall offered. */
    def slotUtil(cores: Int): Double = if (wallS <= 0) 0.0 else runS / (wallS * cores)
  }

  /** Total length of the union of `[a, b]` intervals clipped to
    * `[lo, hi]`.
    */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  /** Structural check of a recorded span list: ids are positions,
    * parents precede children, children nest inside their parent's
    * interval, and no span has negative self time. Returns the
    * violations.
    */
  def wellFormed(spans: IndexedSeq[Span]): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    spans.zipWithIndex.foreach { case (s, i) =>
      if (s.id != i) bad += s"span ${s.name}: id ${s.id} at position $i"
      if (s.endNs < s.startNs) bad += s"span ${s.name}: not closed"
      if (s.parent >= i) bad += s"span ${s.name}: parent ${s.parent} after it"
      if (s.parent >= 0) {
        val p = spans(s.parent)
        if (s.startNs < p.startNs || s.endNs > p.endNs)
          bad += s"span ${s.name}: outside parent ${p.name}"
      }
    }
    spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id).map(_.wallS).sum
      if (kids > s.wallS + 1e-9) bad += s"span ${s.name}: children exceed it"
    }
    bad.toSeq
  }
}
