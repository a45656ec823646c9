package perfbench

import scala.util.Try

/** Machine-contention evidence recorded next to every run: host CPU
  * steal over the run, `load1` at both ends, and a fixed spin canary
  * whose time depends only on how much CPU this process is getting.
  */
object Contention {

  /** (steal ticks, total ticks) of the aggregate `cpu` line. */
  def cpuTicks(): Option[(Long, Long)] = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }.toOption.flatten

  def load1(): Double = Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ")(0).toDouble finally src.close()
  }.getOrElse(-1.0)

  /** Fixed single-thread probe: 2.5e7 xorshift steps. */
  def spin(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 25000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of three spins. */
  def canary(): Double = Seq(spin(), spin(), spin()).sorted.apply(1)

  final case class Probe(ticks: Option[(Long, Long)], load1: Double, spinS: Double)

  def probe(): Probe = Probe(cpuTicks(), load1(), canary())

  def record(start: Probe, end: Probe): Map[String, Any] = {
    val steal = (for ((s0, t0) <- start.ticks; (s1, t1) <- end.ticks if t1 > t0)
      yield (s1 - s0) * 100.0 / (t1 - t0)).getOrElse(-1.0)
    Map("steal_pct" -> steal, "load1_start" -> start.load1,
      "load1_end" -> end.load1, "spin_start_s" -> start.spinS,
      "spin_end_s" -> end.spinS)
  }
}
