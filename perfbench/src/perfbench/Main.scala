package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set-up (repeated), a cold execution, untimed
  * warm-up executions (the last one under the heap probe), timed warm
  * executions for `--seconds` (at least [[MinSamples]]), and with
  * `--trace 1` a traced run. The last stdout line is the result object;
  * the line before it is the run's record (samples, contention
  * evidence, input digest).
  *
  * Usage: Main --root <checkout> --workload <name> --seed <n>
  *             --seconds <s> --trace <0|1>
  */
object Main {

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Untimed, checked executions between the cold and the timed ones,
    * while the JIT compiles the hot paths.
    */
  val WarmUps = 3
  /** Timed warm executions at least, however long they take. */
  val MinSamples = 3

  val RegistryDir = "perfbench/registry"

  val EndToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cold_s" -> "s", "throughput_per_s" -> "items/s",
    "setup_s" -> "s", "mem_peak_mb" -> "MB")

  def workload(name: String, seed: Long, root: Path): Workload = name match {
    case "etl_mixed" => new EtlWorkload(60, 250, seed)
    case "curation" => new CurationWorkload(1500, seed, registry(seed, root))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def registry(seed: Long, root: Path): RegistrySlice = {
    val dir = root.resolve(RegistryDir)
    new RegistrySlice(dir.resolve("data"), Registry.load(dir), seed)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Args(root: Path, workload: String, seed: Long, seconds: Double,
      trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Paths.get(need("root")).toAbsolutePath, need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainStartMs = System.currentTimeMillis()
    val probe0 = Contention.probe()
    val wl = workload(a.workload, a.seed, a.root)
    val base = a.root.resolve(".bench_build/perfbench")
    val work = base.resolve(s"work/${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    Files.createDirectories(work)

    var attempted, failed = 0
    val failures = ArrayBuffer.empty[String]
    var execNo = 0
    /** One checked execution; returns its wall seconds. */
    def run(spark: SparkSession): Double = {
      execNo += 1
      val out = work.resolve(s"out-$execNo")
      attempted += 1
      val t0 = System.nanoTime()
      val ok = try {
        wl.execute(spark, out)
        true
      } catch { case e: Exception =>
        failures += s"execution $execNo: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (!ok) failed += 1
      else wl.check(spark, out).foreach { why =>
        failed += 1
        failures += s"execution $execNo: $why"
      }
      Workload.deleteTree(out)
      sec
    }

    // --- set-up, SetupReps times: a fresh session and freshly generated
    // inputs. The first repetition runs from JVM start; the later ones
    // stop the session and start a new one. Then the cold execution: the
    // first one in this JVM, in a session nothing else has run in.
    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[(String, Double)]
    phases += "jvm_to_main_s" -> (mainStartMs - jvmStartMs) / 1e3
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session()
      val t1 = System.nanoTime()
      wl.prepare(spark, work.resolve(s"in-$rep"))
      if (rep == 1) {
        phases ++= Seq("session_s" -> (t1 - t0) / 1e9,
          "prepare_s" -> (System.nanoTime() - t1) / 1e9)
        setups += (System.currentTimeMillis() - jvmStartMs) / 1e3
      } else {
        setups += (System.nanoTime() - t0) / 1e9
        Workload.deleteTree(work.resolve(s"in-${rep - 1}"))
      }
    }
    val coldS = run(spark)

    // --- untimed warm-up; the last execution forces a full GC at every
    // action's end and keeps the highest heap occupancy those GCs leave
    val warmUpS = (1 until WarmUps).map(_ => run(spark))
    val heap = new HeapProbe
    spark.listenerManager.register(heap)
    val probedS = run(spark)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(heap)
    if (heap.readings == 0) {
      failed += 1
      failures += "heap probe: no full collection ran"
    }

    // --- timed warm executions
    val samples = ArrayBuffer.empty[Double]
    val tMeasure = System.nanoTime()
    while (samples.size < MinSamples || (System.nanoTime() - tMeasure) / 1e9 < a.seconds)
      samples += run(spark)
    val wallS = median(samples.toSeq)

    // --- traced run
    val layer: Map[String, Double] = if (!a.trace) Map.empty else {
      val tracer = new Tracer(spark)
      tracer.start()
      val out = work.resolve("trace")
      attempted += 1
      val traced = try {
        Some(tracer.span("trace")(wl.trace(spark, tracer, out)))
      } catch { case e: Exception =>
        failures += s"traced run: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      } finally tracer.stop()
      val checked = traced.flatMap { m =>
        wl.check(spark, out.resolve("e2e")) match {
          case Some(why) => failures += s"traced run: $why"; None
          case None => Some(m)
        }
      }
      val spansFile = base.resolve(s"traces/${a.workload}-seed${a.seed}.json")
      Files.createDirectories(spansFile.getParent)
      Files.write(spansFile, tracer.toJson.getBytes(UTF_8))
      val bad = Tracer.wellFormed(tracer.all)
      failures ++= bad
      if (checked.isEmpty || bad.nonEmpty) failed += 1
      val root = tracer.byName("trace")
      val covered = tracer.all.filter(_.parent >= 0).map(tracer.selfS).sum
      val e2e = tracer.all.find(_.name == wl.e2eSpan).map(_.wallS).getOrElse(0.0)
      checked.getOrElse(Map.empty) ++ Map(
        "trace_overhead_pct" -> (e2e - wallS) / wallS * 100,
        "trace.wall_s" -> root.wallS,
        "trace.coverage_pct" -> covered / root.wallS * 100,
        "trace.uncovered_s" -> tracer.selfS(root))
    }

    spark.stop()
    Workload.deleteTree(work)
    val probe1 = Contention.probe()

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed,
      "items" -> wl.items, "item_unit" -> wl.itemUnit,
      "input_digest" -> wl.inputDigest,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "wall_samples_s" -> samples.toSeq, "wall_s" -> wallS,
      "wall_sample_count" -> samples.size, "cold_s" -> coldS,
      "setup_reps_s" -> setups.toSeq,
      "warm_up_s" -> (warmUpS :+ probedS), "heap_readings" -> heap.readings,
      "first_setup_phases" -> phases.toMap,
      "fail_ratio" -> failed.toDouble / attempted,
      "failures" -> failures.take(20).toSeq,
      "contention" -> Contention.record(probe0, probe1))
    println(Json.obj("record" -> Json.Raw(record)))

    val metrics: Seq[(String, (Double, String))] =
      if (a.trace) Layers.perLayer(Registry.load(a.root.resolve(RegistryDir)).map(_.name))
        .map { case (n, unit) => n -> (layer.getOrElse(n, 0.0), unit) }
      else {
        val value = Map("wall_s" -> wallS, "cold_s" -> coldS,
          "throughput_per_s" -> wl.items / wallS, "setup_s" -> median(setups.toSeq),
          "mem_peak_mb" -> heap.peakBytes / 1e6)
        EndToEnd.map { case (n, unit) => n -> (value(n), unit) }
      }
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, (v, u)) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*))))
    System.out.flush()
  }
}
