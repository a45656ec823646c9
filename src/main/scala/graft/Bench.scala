package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** (steal ticks, total ticks) from the aggregate `cpu` line of
    * /proc/stat — sampled before and after the timed sweep so the
    * emitted JSON carries its own hypervisor-contention evidence
    * (round 14's artifact was inflated 1.6× by 9-26% CPU steal that
    * had to be reconstructed from a ledger afterwards).
    */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.sum)
      } finally src.close()
    } catch { case _: Throwable => None }

  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Fixed, data-independent CPU probe: 1e8 xorshift64 steps on one
    * thread. Its wall time depends ONLY on how much machine this
    * process is actually getting — not on any query, cache, or data —
    * so a series of these interleaved through the sweep localizes a
    * contention episode INSIDE the artifact. Round 16's driver bench
    * was inflated 7-55× in one alphabetical window by contention that
    * `steal_pct` (hypervisor steal only) read as 1.26%: co-tenant
    * memory-bandwidth pressure, cgroup throttling, and host IO are
    * all invisible to /proc/stat steal ticks, but none of them can
    * hide from a pinned spin.
    */
  private def spinProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    // data dependence so the JIT cannot dead-code the loop
    if (x == 0L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The scheduler-path half of the canary: a tiny fixed Spark job
    * (range → sum → noop) whose cost is dominated by task scheduling
    * and executor-thread availability rather than data. Together with
    * [[spinProbe]] it splits "the CPU itself is slow" from "the
    * 32-thread pool can't get scheduled".
    */
  private def sparkProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // modulus keeps the exact sum ~2e13, far inside ANSI Long
    Harness.noop(spark.range(20000000L).selectExpr("sum(id % 1048576)"))
    (System.nanoTime() - t0) / 1e9
  }

  /** The iterative graph family, whose wall time is driver-sync-round
    * scheduling latency (adjudicated r20 — per-round convergence
    * actions over kilobyte frames): clean-to-clean medians drift up to
    * ~1.5× on IDENTICAL code, measurement lottery, not regressions.
    */
  val SyncRoundQueries: Seq[String] = Seq("bowtie_regions", "hits_scores",
    "label_propagation", "pagerank_fixed", "scc_condensation", "scc_labels")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    Harness.warmup(spark, sfDir)

    // Optional comma-separated query-name filter for local iteration
    // (e.g. SPARK_GRAFT_ONLY=p8_code_filter,pipeline_area_e2e).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Timed runs per query (median reported). A single run is too noisy
    // to steer by at the ~0.3 s Spark floor: ±0.3 s of scheduler/GC
    // jitter is 100% of signal, enough to fake a regression or hide a
    // real 30% win. Median-of-3 makes back-to-back benches agree.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val ticks0 = cpuTicks()
    val loadStart = load1()
    // In-band calibration canary: probe before the first query and
    // after every 20th, so a damaged window shows up as inflated
    // canary readings bracketing the inflated queries (queries run in
    // alphabetical order, so `i` maps directly onto the sorted name
    // list). The canaries are NOT part of any query's time.
    val canaryEvery = 20
    val canaries = scala.collection.mutable.ArrayBuffer.empty[String]
    val canarySpins = scala.collection.mutable.ArrayBuffer.empty[Double]
    def canary(done: Int): Unit = {
      // median of 3 spins per point: a single 0.2 s spin carries ±10%
      // scheduler-slice jitter even on an idle machine (the r18 close
      // measured a flat 0.19 series with one 0.211 blip = mf 1.13),
      // which is noise, not contention — the median keeps the probe
      // sensitive to SUSTAINED contention while one stolen slice
      // can no longer poison the close-artifact immutability gate
      val sp = math.round(
        Seq(spinProbe(), spinProbe(), spinProbe()).sorted.apply(1)
          * 1000) / 1000.0
      val sq = math.round(sparkProbe(spark) * 1000) / 1000.0
      canarySpins += sp
      canaries += s"""{"i":$done,"spin":$sp,"spark":$sq}"""
    }
    canary(0)
    var qIdx = 0
    val results = selected.map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        Harness.step(spark, "bench", name)(Harness.noop(fn(spark, sfDir)))
      }
      qIdx += 1
      if (qIdx % canaryEvery == 0) canary(qIdx)
      (name, times.sorted)
    }
    // closing probe, so the last window is bracketed too
    if (qIdx % canaryEvery != 0 || qIdx == 0) canary(qIdx)
    // Per-query spread, not just the median: when a driver-side median
    // diverges from a local one, {med,min,max} distinguishes
    // environment contention (min agrees, max blew out) from a real
    // regression (all three moved). A query that failed SOME reps is
    // flaky — its median is still reported from the successful reps,
    // but it is listed in "flaky" so partial failures are visible in
    // the JSON, not only on stderr; only an all-reps failure gets the
    // -1 sentinel and the "failed" list.
    val qs = results.map { case (k, ts) =>
      val (med, mn, mx) =
        if (ts.isEmpty) (-1.0, -1.0, -1.0)
        else (ts(ts.size / 2), ts.head, ts.last)
      s"\"$k\":{\"med\":$med,\"min\":$mn,\"max\":$mx}"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, ts) if ts.isEmpty => s"\"$k\"" }
      .mkString("[", ",", "]")
    val flaky = results
      .collect { case (k, ts) if ts.nonEmpty && ts.size < reps => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, ts) if ts.nonEmpty => ts(ts.size / 2) }.sum
    // Machine-contention trailer: steal% over the sweep (from the
    // host-wide /proc/stat tick deltas) and 1-min loadavg at both
    // ends. steal_pct <~ 1 means the numbers are the engine's; a
    // steal_pct in the 10-25% band reproduces r14's diffuse 1.5-2×
    // inflation and the run should be graded against a quiet re-run.
    val stealPct = (for ((s0, t0) <- ticks0; (s1, t1) <- cpuTicks()
        if t1 > t0)
      yield math.round((s1 - s0) * 10000.0 / (t1 - t0)) / 100.0)
      .getOrElse(-1.0)
    // machine_factor: the canary series plus its SLOW-SPIKE ratio,
    // max spin over MEDIAN spin (v5; was max/min). Contention can
    // only make a pinned spin SLOWER — r16/r18's damaged windows read
    // 5×+ here — while a sample FASTER than the median is the CPU
    // briefly boosting above its typical clock, which max/min
    // misread as contention: both r19 close attempts on a provably
    // idle box (load1 0.2, nothing running, totals stable within 2%)
    // were quarantined at "1.33" off a single 0.147 s sample against
    // a 0.185 s median and a 0.197 s max. Max/median keeps the real
    // signal (slow spikes) and ignores the false one (fast wobble);
    // the full series still ships in machine_factor for forensics.
    val spins = canarySpins.filter(_ > 0)
    val mfRatio =
      if (spins.nonEmpty)
        math.round(spins.max /
          spins.sorted.apply(spins.size / 2) * 100) / 100.0
      else -1.0
    val env = s""""steal_pct":$stealPct,"load1_start":$loadStart,""" +
      s""""load1_end":${load1()},""" +
      s""""machine_factor":${canaries.mkString("[", ",", "]")},""" +
      s""""mf_spin_ratio":$mfRatio,""" +
      s""""mf_spin_basis":"max_over_median""""
    // Declared variance classes (VERDICT r21 #2), shipped in-band so
    // the artifact carries its own adjudication. Additions-only:
    // per-query {med,min,max} objects and the compact line are
    // unchanged.
    val varianceClasses =
      """"variance_classes":{"sync-round":{"queries":""" +
        SyncRoundQueries.map(q => s""""$q"""").mkString("[", ",", "],") +
        """"allowed_spread_x":1.5,"basis":"driver-sync-round latency """ +
        """lottery (adjudicated r20): clean-to-clean medians drift """ +
        """up to ~1.5x on identical code"}}"""
    // "schema" lets any consumer of the old flat-number format fail
    // loudly instead of silently misreading {med,min,max} objects.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","schema":"graft-bench-v5","queries":$qs,"failed":$failed,"flaky":$flaky,$env,$varianceClasses,"sf":"$sfDir"}"""
    println(fullLine)
    // Persist the full line to a repo file as well: the round driver
    // keeps only a ~2000-char tail of stdout, and round 16's forensic
    // window (which queries inflated, by how much, min vs max) was
    // lost to exactly that truncation. The file survives in the repo
    // regardless of how stdout is clipped.
    //
    // Two disciplines (ADVICE r17 + VERDICT r17 #5):
    //  - the artifact directory resolves from SPARK_GRAFT_BENCH_DIR,
    //    else the nearest ancestor of the cwd containing build.sbt
    //    (the repo root), else the cwd — a Bench launched from
    //    anywhere still lands the forensic file in the repo;
    //  - BENCH_FULL_LATEST.json is the ROUND-CLOSE artifact and only a
    //    CLEAN run (mf_spin_ratio <= 1.15 on the max/median basis,
    //    i.e. the canary saw no
    //    contention window) may overwrite an existing one. A contended
    //    run writes BENCH_FULL_CONTENDED.json instead, so a late
    //    noisy re-run can never clobber the committed idle-machine
    //    numbers (exactly what happened at the r17 close).
    try {
      val dir = sys.env.get("SPARK_GRAFT_BENCH_DIR")
        .map(java.nio.file.Paths.get(_))
        .orElse {
          Iterator.iterate(
              java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
            .takeWhile(_ != null).take(8)
            .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        }
        .getOrElse(java.nio.file.Paths.get("").toAbsolutePath)
      val latest = dir.resolve("BENCH_FULL_LATEST.json")
      // ADVICE r18: a non-clean run NEVER writes LATEST — not even to
      // seed a missing one (a first-run-on-a-noisy-box artifact would
      // masquerade as the committed idle-machine numbers). mfRatio < 0
      // means the canary PROBE failed (no samples), which is an
      // instrumentation gap, not measured contention — say which.
      // 1.15 on max/median: measured clean-idle runs sit at 1.00-1.06
      // (frequency wobble only), real contention reads 1.5-5x+.
      // steal_pct <= 1 additionally (r19): a run with 3% hypervisor
      // steal passed the spin canary (steal hits the 32 Spark threads
      // and the driver scheduling path far harder than one pinned
      // spin thread — driver-sync-heavy queries inflated 4x) — steal
      // is measured in-band anyway, so gate on it; -1 (probe failed,
      // e.g. no /proc/stat) stays non-disqualifying like the old
      // behavior, it is an instrumentation gap, not measured steal.
      // ADVICE r19: with 1-2 spin samples the sorted upper-median IS
      // the max, so max/median degenerates to exactly 1.0 and the
      // canary is blind. A run qualifying as clean needs enough
      // samples for the ratio to mean something; fewer is the same
      // "probe failed / UNVERIFIED" class as no samples at all.
      val minSpinSamples = 4
      val clean = mfRatio >= 0 && mfRatio <= 1.15 &&
        spins.size >= minSpinSamples &&
        (stealPct < 0 || stealPct <= 1.0)
      val target =
        if (clean) latest else dir.resolve("BENCH_FULL_CONTENDED.json")
      if (!clean) {
        val why =
          if (mfRatio < 0) s"canary probe failed (mf_spin_ratio=$mfRatio" +
            ", no usable spin samples) — treat as UNVERIFIED, not contended"
          else if (spins.size < minSpinSamples)
            s"only ${spins.size} spin samples (< $minSpinSamples) — " +
              "max/median is degenerate at this count; " +
              "treat as UNVERIFIED, not contended"
          else if (stealPct > 1.0)
            s"steal_pct=$stealPct > 1 — hypervisor contention"
          else s"mf_spin_ratio=$mfRatio > 1.15 — measured contention"
        System.err.println(s"[bench] $why; NOT touching $latest, " +
          s"writing $target")
      }
      // A SPARK_GRAFT_ONLY-filtered run is an iteration probe, not a
      // close: its "total" covers a subset and must never overwrite
      // (or masquerade as) the round artifacts — a clean 2-query
      // probe did exactly that once. Persist nothing; stdout has
      // both JSON lines.
      if (only.isDefined)
        System.err.println("[bench] SPARK_GRAFT_ONLY filter active — " +
          s"not writing $target")
      else
        java.nio.file.Files.write(target,
          (fullLine + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full-json persist failed: ${e.getMessage}")
    }
    // Truncation-proof summary, printed LAST: the round driver keeps
    // only the tail (~2000 chars) of this program's output, which in
    // round 8 cut the full line's head — losing the total and every
    // query alphabetically before the cut, including the most
    // expensive ones the round was graded on. This compact line is a
    // few hundred bytes, so the tail always contains the total, the
    // ten slowest queries (median-descending), and the failure lists,
    // no matter how the full line is clipped.
    val slowest = results
      .collect { case (k, ts) if ts.nonEmpty => (k, ts(ts.size / 2)) }
      .sortBy(-_._2).take(10)
      .map { case (k, m) => s""""$k":${math.round(m * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    // Distinct metric name so a metric-keyed parser can never
    // double-count the total or mistake the slowest-10 map for the
    // full per-query set (ADVICE r9).
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","schema":"graft-bench-v5-compact","n_queries":${results.size},"slowest":$slowest,"failed":$failed,"flaky":$flaky,$env,"sf":"$sfDir"}""")
    spark.stop()
  }
}
