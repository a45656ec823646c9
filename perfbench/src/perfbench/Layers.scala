package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The per-layer metric catalogue. A traced run prints every metric in
  * it; a layer the workload never calls reports 0.
  */
object Layers {

  private val Fixed: Seq[(String, String)] = Seq(
    "scan.wall_s" -> "s", "scan.read_mb" -> "MB",
    "dispatch.meta_s" -> "s", "dispatch.tables" -> "count",
    "dispatch.tables_unrouted" -> "count",
    "area.extract_s" -> "s", "area.cpu_us_per_row" -> "us",
    "area.rows_out" -> "count", "area.dedup_shuffle_mb" -> "MB",
    "island.extract_s" -> "s", "island.cpu_us_per_row" -> "us",
    "island.rows_out" -> "count",
    "cleanse.area_name_us_per_row" -> "us",
    "cleanse.island_name_us_per_row" -> "us",
    "coordinates.format_us_per_row" -> "us",
    "sink.province_s" -> "s", "sink.regency_s" -> "s",
    "sink.district_s" -> "s", "sink.village_s" -> "s",
    "sink.island_s" -> "s", "sink.out_mb" -> "MB", "sink.jobs" -> "count",
    "extract_job.build_s" -> "s", "extract_job.jobs" -> "count",
    "extract_job.stages" -> "count", "extract_job.tasks" -> "count",
    "extract_job.plan_ms" -> "ms", "extract_job.exec_cpu_s" -> "s",
    "extract_job.gc_s" -> "s", "extract_job.slot_util" -> "1",
    "extract_job.scan_amplification" -> "1", "extract_job.cache_mb" -> "MB",
    "extract_job.count_s" -> "s",
    "registry.build_s" -> "s", "registry.action_s" -> "s",
    "registry.jobs" -> "count", "registry.stages" -> "count",
    "registry.tasks" -> "count", "registry.plan_ms" -> "ms",
    "registry.exec_cpu_s" -> "s", "registry.slot_util" -> "1",
    "registry.cache_mb" -> "MB",
    "curation.gates_us_per_doc" -> "us", "curation.gate_keep_ratio" -> "1",
    "curation.line_clean_us_per_doc" -> "us", "curation.dedup_s" -> "s",
    "curation.dedup_shuffle_mb" -> "MB", "curation.dedup_keep_ratio" -> "1",
    "curation.redact_s" -> "s", "curation.funnel_s" -> "s",
    "curation.jobs" -> "count", "curation.tasks" -> "count",
    "curation.slot_util" -> "1",
    "sink.shards_s" -> "s", "sink.shards_out_mb" -> "MB",
    "trace_overhead_pct" -> "%", "trace.wall_s" -> "s",
    "trace.coverage_pct" -> "%", "trace.uncovered_s" -> "s")

  def perLayer(registryQueries: Seq[String]): Seq[(String, String)] =
    Fixed ++ registryQueries.flatMap(q => Seq(s"q.$q.build_s" -> "s", s"q.$q.jobs" -> "count"))

  val NamePattern = "[A-Za-z0-9_.-]+"
}

/** The frozen registry slice: `queries.tsv` holds, per query, the jobs
  * one warm execution issued when the slice was chosen and the digest
  * of its oracle-checked result.
  */
object Registry {
  final case class Entry(name: String, jobs: Int, digest: String)

  def load(dir: Path): Seq[Entry] =
    Files.readAllLines(dir.resolve("queries.tsv"), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, j, d) = l.split("\t")
        Entry(n, j.toInt, d)
      }
}
