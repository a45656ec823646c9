package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Cleanse, Coordinates}
import graft.io.CsvSink
import graft.ops.{AreaPipeline, Dispatch, ExtractJob, IslandPipeline, Redaction, Sampling, TextAnalysis, TextDedup}
import graft.tools.{RunCuration, RunEtl}

/** One benchmark workload. `prepare` is set-up (inputs), `execute` is
  * one execution, `check` verifies what it produced, and `trace` is
  * the traced run that yields the per-layer metrics.
  */
trait Workload {
  /** Input items one execution processes, and what they are. */
  def items: Long
  def itemUnit: String
  /** Generate the seeded inputs afresh and write them under `dir`. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Digest of the generated inputs (seed → inputs is deterministic). */
  def inputDigest: String
  def execute(spark: SparkSession, out: Path): Unit
  /** None when the outputs are right, else what is wrong. */
  def check(spark: SparkSession, out: Path): Option[String]
  /** Traced run: layer calls inside `tracer` spans; per-layer metrics. */
  def trace(spark: SparkSession, tracer: Tracer, out: Path): Map[String, Double]
  /** Name of the span holding the traced end-to-end execution. */
  def e2eSpan: String
}

object Workload {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** SHA-256 of the parts, each followed by a 0 byte, as hex. */
  def sha256(parts: Iterator[String]): String = sha256Bytes(parts.map(_.getBytes(UTF_8)))

  def sha256Bytes(parts: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Total size of the regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** `graft.schema.RawTableRow` as a Spark schema. */
  val CellSchema: StructType = StructType(Seq(
    StructField("table_id", LongType, false), StructField("page", IntegerType, false),
    StructField("row_idx", IntegerType, false), StructField("seq", LongType, false),
    StructField("cells", ArrayType(StringType, true), true)))
}

/** The paper's ETL: `ExtractJob.run` over a seeded cell-table corpus,
  * written through the range-partitioned multi-file sink.
  */
final class EtlWorkload(tables: Int, rowsPerTable: Int, seed: Long)
    extends Workload {
  import Workload._

  private var corpus: EtlGen.Corpus = _
  private var cellsPath: String = _
  private var cellBytes = 0L

  def items: Long = tables.toLong * rowsPerTable
  def itemUnit: String = "cell rows"
  def e2eSpan: String = "extract_job"

  def inputDigest: String =
    sha256(EtlGen.generate(tables, rowsPerTable, seed).rows.iterator.map(r =>
      s"${r.table_id}|${r.page}|${r.row_idx}|${r.seq}|${r.cells.mkString("\u0001")}"))

  def prepare(spark: SparkSession, dir: Path): Unit = {
    corpus = EtlGen.generate(tables, rowsPerTable, seed)
    cellsPath = dir.resolve("cells.parquet").toString
    val rows = corpus.rows.map(r => Row(r.table_id, r.page, r.row_idx, r.seq, r.cells))
    // document order across part files, one file per core
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores(spark)), CellSchema)
      .write.mode("overwrite").parquet(cellsPath)
    cellBytes = bytesUnder(dir.resolve("cells.parquet"))
  }

  private def cells(spark: SparkSession): DataFrame = spark.read.parquet(cellsPath)

  def execute(spark: SparkSession, out: Path): Unit =
    ExtractJob.run(cells(spark), out.toString, "bench", RunEtl.defaultConfig,
      singleFile = false)

  /** Data lines of one entity's sink output, in file order. */
  private def sinkLines(out: Path, suffix: String, header: String): Either[String, IndexedSeq[String]] = {
    val d = out.resolve(s"bench.$suffix.csv.d")
    val files =
      if (!Files.isDirectory(d)) Nil
      else scala.util.Using.resource(Files.list(d)) { s =>
        s.iterator().asScala.filter { p =>
          val f = p.getFileName.toString
          f.startsWith("part-") && f.endsWith(".csv")
        }.toSeq.sortBy(_.getFileName.toString)
      }
    if (files.isEmpty || !files.forall(Files.isRegularFile(_)))
      return Left(s"$suffix: sink output missing")
    val lines = IndexedSeq.newBuilder[String]
    for (f <- files) {
      val all = new String(Files.readAllBytes(f), UTF_8).split("\r\n", -1)
      if (all.head != header) return Left(s"$suffix: header ${all.head} in $f")
      if (all.last.nonEmpty) return Left(s"$suffix: $f does not end in CRLF")
      lines ++= all.slice(1, all.length - 1)
    }
    Right(lines.result())
  }

  def check(spark: SparkSession, out: Path): Option[String] =
    EtlGen.Entities.iterator.map { case (entity, headers) =>
      val expected = corpus.expected(entity)
      sinkLines(out, entity, headers.mkString(",")) match {
        case Left(err) => Some(err)
        case Right(got) if got.size != expected.size =>
          Some(s"$entity: ${got.size} rows, expected ${expected.size}")
        case Right(got) =>
          got.indices.find(i => got(i) != expected(i)).map(i =>
            s"$entity row $i: got [${got(i)}], expected [${expected(i)}]")
      }
    }.collectFirst { case Some(err) => err }

  def trace(spark: SparkSession, tracer: Tracer, out: Path): Map[String, Double] = {
    import spark.implicits._
    val input = cells(spark)
    val rows = items.toDouble
    val nCores = cores(spark)
    tracer.span(e2eSpan)(execute(spark, out.resolve("e2e")))
    // the raw cells each cleanse function sees, cached so the drains
    // time the function rather than the scan
    def cachedStrings(xs: IndexedSeq[String]): DataFrame = {
      val df = xs.toDF("s").repartition(nCores).cache()
      df.count()
      df
    }
    val rawArea = cachedStrings(corpus.rawAreaNames)
    val rawIsland = cachedStrings(corpus.rawIslandNames)
    val rawCoord = cachedStrings(corpus.rawCoordinates)
    val (area, island) = Dispatch.extractAll(input)
    val areaCached = area.cache()
    val islandCached = island.cache()
    var tables, unrouted, areaRows, islandRows = 0L
    try {
      tracer.span("sources.scan")(noop(input))
      tracer.span("dispatch.meta") {
        noop(AreaPipeline.tableMeta(input))
        noop(IslandPipeline.tableMeta(input))
      }
      tracer.span("dispatch.routes") {
        val r = Dispatch.routes(input)
          .agg(count(lit(1)), sum(when(col("route").isNull, 1L).otherwise(0L)))
          .head()
        tables = r.getLong(0)
        unrouted = r.getLong(1)
      }
      areaRows = tracer.span("area.extract")(areaCached.count())
      islandRows = tracer.span("island.extract")(islandCached.count())
      tracer.span("cleanse.area_name")(noop(rawArea.select(Cleanse.cleanseName(col("s")))))
      tracer.span("cleanse.island_name")(noop(rawIsland.select(Cleanse.cleanseIslandName(col("s")))))
      tracer.span("coordinates.format")(noop(rawCoord.select(Coordinates.formatCoordinate(col("s")))))
      val sinkDir = out.resolve("layers")
      for ((entity, _) <- EtlGen.Entities) {
        val frame = if (entity == "island") islandCached
          else AreaPipeline.entity(areaCached, entity)
        tracer.span(s"sink.$entity")(CsvSink.write(frame, sinkDir.toString,
          "trace", entity, singleFile = false))
      }
    } finally {
      Seq(areaCached, islandCached, rawArea, rawIsland, rawCoord).foreach(_.unpersist(true))
    }

    val t = tracer.rollup _
    def s(n: String) = tracer.byName(n)
    val cpuPerRow = (n: String, per: Double) => if (per <= 0) 0.0 else t(s(n)).cpuS * 1e6 / per
    val sinks = EtlGen.Entities.map { case (e, _) => t(s(s"sink.$e")) }
    val ej = t(s(e2eSpan))
    Map(
      "scan.wall_s" -> t(s("sources.scan")).wallS,
      "scan.read_mb" -> t(s("sources.scan")).readBytes / 1e6,
      "dispatch.meta_s" -> t(s("dispatch.meta")).wallS,
      "dispatch.tables" -> tables.toDouble,
      "dispatch.tables_unrouted" -> unrouted.toDouble,
      "area.extract_s" -> t(s("area.extract")).wallS,
      "area.cpu_us_per_row" -> cpuPerRow("area.extract", rows),
      "area.rows_out" -> areaRows.toDouble,
      "area.dedup_shuffle_mb" -> t(s("area.extract")).shuffleWriteBytes / 1e6,
      "island.extract_s" -> t(s("island.extract")).wallS,
      "island.cpu_us_per_row" -> cpuPerRow("island.extract", rows),
      "island.rows_out" -> islandRows.toDouble,
      "cleanse.area_name_us_per_row" ->
        cpuPerRow("cleanse.area_name", corpus.rawAreaNames.size),
      "cleanse.island_name_us_per_row" ->
        cpuPerRow("cleanse.island_name", corpus.rawIslandNames.size),
      "coordinates.format_us_per_row" ->
        cpuPerRow("coordinates.format", corpus.rawCoordinates.size),
      "sink.out_mb" -> bytesUnder(out.resolve("layers")) / 1e6,
      "sink.jobs" -> sinks.map(_.jobs).sum.toDouble,
      "extract_job.build_s" -> ej.outsideJobsS,
      "extract_job.jobs" -> ej.jobs.toDouble,
      "extract_job.stages" -> ej.stages.toDouble,
      "extract_job.tasks" -> ej.tasks.toDouble,
      "extract_job.plan_ms" -> ej.planMs.toDouble,
      "extract_job.exec_cpu_s" -> ej.cpuS,
      "extract_job.gc_s" -> ej.gcS,
      "extract_job.slot_util" -> ej.slotUtil(nCores),
      "extract_job.scan_amplification" ->
        (if (cellBytes > 0) ej.readBytes.toDouble / cellBytes else 0.0),
      "extract_job.cache_mb" -> ej.cachePeakBytes / 1e6,
      "extract_job.count_s" -> ej.countS) ++
      EtlGen.Entities.zip(sinks).map { case ((e, _), tot) => s"sink.${e}_s" -> tot.wallS }
  }
}

/** `RunCuration.curate` + `Sampling.writeTrainingShards` over seeded
  * documents with planted duplicates, gate failures and PII. Its traced
  * run also traces the registry slice, the curation family's
  * near-duplicate and leakage-safe-split queries.
  */
final class CurationWorkload(nDocs: Int, seed: Long, registry: RegistrySlice)
    extends Workload {
  import Workload._

  private val Shards = 16

  private var gen: DocGen.Docs = _
  private var docsPath: String = _
  private var funnel: String = ""

  def items: Long = nDocs.toLong
  def itemUnit: String = "documents"
  def e2eSpan: String = "curation.run"

  def inputDigest: String =
    sha256(DocGen.generate(nDocs, seed).docs.iterator.map { case (id, t) => s"$id|$t" })

  def prepare(spark: SparkSession, dir: Path): Unit = {
    gen = DocGen.generate(nDocs, seed)
    docsPath = dir.resolve("docs.parquet").toString
    val rows = gen.docs.map { case (id, text) => Row(id, text) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores(spark)),
      StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false))))
      .write.mode("overwrite").parquet(docsPath)
  }

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(docsPath)

  def execute(spark: SparkSession, out: Path): Unit = {
    val (curated, f) = RunCuration.curate(docs(spark))
    Sampling.writeTrainingShards(curated, col("text"), out.resolve("shards").toString, Shards)
    funnel = f()
  }

  def check(spark: SparkSession, out: Path): Option[String] = {
    if (funnel != gen.funnel.json)
      return Some(s"funnel $funnel, expected ${gen.funnel.json}")
    val back = spark.read.parquet(out.resolve("shards").toString)
    val r = back.agg(
      count(lit(1)), countDistinct(col("doc_id")), sum(col("doc_id")),
      sum(when(col("text").contains("<PHONE>") || col("text").contains("<EMAIL>"), 1L)
        .otherwise(0L)),
      sum(when(col("text").contains("+62812") || col("text").contains("@example.com"), 1L)
        .otherwise(0L)),
      countDistinct(col("shard"))).head()
    val expectedIdSum = gen.keptIds.sum
    if (r.getLong(0) != gen.funnel.nOut || r.getLong(1) != gen.funnel.nOut)
      Some(s"shards hold ${r.getLong(0)} rows / ${r.getLong(1)} ids, expected ${gen.funnel.nOut}")
    else if (r.getLong(2) != expectedIdSum)
      Some(s"kept doc_id sum ${r.getLong(2)}, expected $expectedIdSum")
    else if (r.getLong(3) != gen.piiKept)
      Some(s"${r.getLong(3)} redacted docs, expected ${gen.piiKept}")
    else if (r.getLong(4) != 0L) Some(s"${r.getLong(4)} docs still carry PII")
    else if (r.getLong(5) != Shards) Some(s"${r.getLong(5)} shards written, expected $Shards")
    else None
  }

  def trace(spark: SparkSession, tracer: Tracer, out: Path): Map[String, Double] = {
    val d = docs(spark)
    val n = nDocs.toDouble
    val nCores = cores(spark)
    tracer.span(e2eSpan) {
      val (curated, f) = RunCuration.curate(d)
      tracer.span("sink.shards")(Sampling.writeTrainingShards(curated, col("text"),
        out.resolve("e2e/shards").toString, Shards))
      funnel = tracer.span("curation.funnel")(f())
    }
    tracer.span("curation.gates")(noop(d.select(
      TextAnalysis.gopherKeep(col("text")) && TextAnalysis.c4PageKeep(col("text")))))
    tracer.span("curation.line_clean")(noop(d.select(TextAnalysis.c4LineClean(col("text")))))
    val cleaned = d.withColumn("text", TextAnalysis.c4LineClean(col("text")))
    val dedupOut = tracer.span("curation.dedup")(TextDedup.exactDedupKeepFirst(cleaned).count())
    tracer.span("curation.redact")(noop(Redaction.piiScrub(d)))
    val registryLayer = registry.trace(spark, tracer)
    val t = tracer.rollup _
    def s(x: String) = tracer.byName(x)
    val run = t(s(e2eSpan))
    Map(
      "curation.gates_us_per_doc" -> t(s("curation.gates")).cpuS * 1e6 / n,
      "curation.gate_keep_ratio" -> gen.funnel.nGates / n,
      "curation.line_clean_us_per_doc" -> t(s("curation.line_clean")).cpuS * 1e6 / n,
      "curation.dedup_s" -> t(s("curation.dedup")).wallS,
      "curation.dedup_shuffle_mb" -> t(s("curation.dedup")).shuffleWriteBytes / 1e6,
      "curation.dedup_keep_ratio" -> dedupOut / n,
      "curation.redact_s" -> t(s("curation.redact")).wallS,
      "curation.funnel_s" -> t(s("curation.funnel")).wallS,
      "curation.jobs" -> run.jobs.toDouble,
      "curation.tasks" -> run.tasks.toDouble,
      "curation.slot_util" -> run.slotUtil(nCores),
      "sink.shards_s" -> t(s("sink.shards")).wallS,
      "sink.shards_out_mb" -> bytesUnder(out.resolve("e2e/shards")) / 1e6) ++ registryLayer
  }
}

/** A frozen slice of `SparkEntry.queries` that issues many
  * driver-synchronized jobs per execution, over the committed sf0.01
  * documents table; the seed permutes the query order. Each result is
  * checked against the digest of its oracle-checked dump.
  */
final class RegistrySlice(dataDir: Path, entries: Seq[Registry.Entry], seed: Long) {
  import Workload._

  /** Query names in this run's seeded order. */
  val order: Seq[String] = {
    val r = new java.util.SplittableRandom(seed)
    entries.map(e => (r.nextLong(), e.name)).sortBy(_._1).map(_._2)
  }

  def inputDigest: String = {
    val files = scala.util.Using.resource(Files.list(dataDir)) { s =>
      s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    }
    sha256Bytes(order.iterator.map(_.getBytes(UTF_8)) ++
      files.iterator.flatMap(f => Iterator(f.getFileName.toString.getBytes(UTF_8),
        Files.readAllBytes(f))))
  }

  private def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** One pass over the slice; throws if a result digest is wrong. */
  def run(spark: SparkSession, spans: Spans = Spans.None): Unit =
    for (q <- order) spans.span(s"q.$q") {
      val df = spans.span(s"q.$q.build")(graft.SparkEntry.queries(q)(spark, dataDir.toString))
      val got = RegistrySlice.digest(spans.span(s"q.$q.action")(df.collect()))
      val want = entries.find(_.name == q).get.digest
      if (got != want) throw new IllegalStateException(s"$q: result digest $got, expected $want")
      sweep(spark)
    }

  /** A warm-up pass, then a traced pass; the registry's per-layer metrics. */
  def trace(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    tracer.span("registry.warmup")(run(spark))
    tracer.span("registry.pass")(run(spark, tracer))
    val t = tracer.rollup _
    def s(x: String) = tracer.byName(x)
    val pass = t(s("registry.pass"))
    Map(
      "registry.build_s" -> order.map(q => t(s(s"q.$q.build")).wallS).sum,
      "registry.action_s" -> order.map(q => t(s(s"q.$q.action")).wallS).sum,
      "registry.jobs" -> pass.jobs.toDouble,
      "registry.stages" -> pass.stages.toDouble,
      "registry.tasks" -> pass.tasks.toDouble,
      "registry.plan_ms" -> pass.planMs.toDouble,
      "registry.exec_cpu_s" -> pass.cpuS,
      "registry.slot_util" -> pass.slotUtil(cores(spark)),
      "registry.cache_mb" -> pass.cachePeakBytes / 1e6) ++
      entries.flatMap { e => Seq(
        s"q.${e.name}.build_s" -> t(s(s"q.${e.name}.build")).wallS,
        s"q.${e.name}.jobs" -> t(s(s"q.${e.name}")).jobs.toDouble)
      }
  }
}

object RegistrySlice {
  /** Order-insensitive digest of a result: canonical row strings,
    * sorted, hashed. Doubles are rounded to 10 significant digits so
    * accumulation order cannot change the digest.
    */
  def digest(rows: Array[Row]): String =
    Workload.sha256(rows.iterator.map(r => canon(r)).toSeq.sorted.iterator)

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toPlainString
}
