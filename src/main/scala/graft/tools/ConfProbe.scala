package graft.tools

import graft.{Harness, SparkEntry}

/** Session-config A/B harness for optimization rounds: times a set of
  * registry queries (same noop-sink methodology as [[graft.Bench]])
  * under an arbitrary set of extra SparkSession configs, so candidate
  * settings (AQE coalescing policy, join-strategy preferences, ...)
  * can be measured in isolation before being baked into
  * [[graft.Harness.session]]. Never writes any bench artifact — stdout only.
  *
  * Usage: ConfProbe <sfDir> <q1,q2,...|ALL> <reps> [k=v ...]
  */
object ConfProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ConfProbe <sfDir> <q1,q2,...|ALL> <reps> [k=v ...]")
    val sfDir = args(0)
    val reps = args(2).toInt
    val confs = args.drop(3).toSeq.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"bad conf arg (want k=v): $a")
      (a.take(i), a.drop(i + 1))
    }
    val spark = Harness.session(conf = confs)
    Harness.warmup(spark, sfDir)

    val names = Harness.queryNames(Seq(args(1)))
    var total = 0.0
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val times = (1 to reps).flatMap { _ =>
        Harness.step(spark, "probe", n)(Harness.noop(fn(spark, sfDir)))
      }.sorted
      val med = if (times.isEmpty) -1.0 else times(times.size / 2)
      if (med > 0) total += med
      println(f"[probe] $n%-35s med $med%7.3f  " +
        times.map(t => f"$t%.3f").mkString("[", ",", "]"))
    }
    println(f"[probe] TOTAL $total%.3f over ${names.size} queries " +
      s"confs=${confs.map { case (k, v) => s"$k=$v" }.mkString(",")}")
    spark.stop()
  }
}
