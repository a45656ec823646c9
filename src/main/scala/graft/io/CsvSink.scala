package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** S6/S7/W1 CSV sink with reference semantics (`writer.py:7-74`,
  * `extractors.py:41-47`):
  *  - one headered CSV per entity, named `{output}.{suffix}.csv`;
  *  - header row written even when there are zero data rows
  *    (pinned by `tests/test_extractors.py:735-744`);
  *  - rows in document order (`seq`), quoting matching Python's
  *    `csv.writer` (QUOTE_MINIMAL, `""` escaping — golden files are
  *    byte-compared, `tests/test_e2e.py:9-21`).
  *
  * Every entity goes out in ONE write (SURVEY S7): the rows arrive
  * already rendered as `(entity, seq, line)`, each tagged with its
  * `part` — its seq's slot in an even split of the caller's seq range
  * into `spark.sql.shuffle.partitions` parts ([[part]]) — and go
  * through one `repartitionById(part)`, one
  * `sortWithinPartitions(entity, seq)` and one
  * `write.partitionBy("entity")` as CRLF text; each `entity=<e>`
  * directory then becomes `{output}.{suffix}.csv.d`. The part is
  * monotone in seq, so part files in name order hold global document
  * order with no sampling job and no cache; a seq range out of balance
  * with the rows costs balance only, never order. `singleFile=true`
  * reproduces the reference's one-file layout through one part and one
  * writer task — correct for golden-parity sizes but a scale-killer, so
  * not the default.
  *
  * The per-entity row counts come from one `Observation` above the
  * exchange, in the write's own job. When AQE proves the exchange empty
  * it drops the observed node, and the observation completes with no
  * metrics: every count is 0.
  */
object CsvSink {

  /** One entity's output: rows tagged `entity` go to
    * `{output}.{suffix}.csv[.d]` under `headers`.
    */
  final case class Sink(entity: String, suffix: String, headers: Seq[String])

  /** One CSV record (no line end) of `cols`, each cast to string: the
    * reference serializes all fields as text (`extractors.py:294-295`
    * stringifies the flag ints). Python csv.writer escapes quotes by
    * doubling (QUOTE_MINIMAL); Spark's default escape is backslash —
    * override both, and write null and empty alike as nothing.
    */
  def line(cols: Column*): Column =
    to_csv(struct(cols.map(_.cast("string")): _*), Map(
      "quote" -> "\"", "escape" -> "\"", "nullValue" -> "",
      "emptyValue" -> "").asJava)

  /** Write one entity stream. `df` must contain a `seq` column (dropped
    * on write) plus the output columns in schema order, which name the
    * header. Its seq range comes from one aggregate over `df`
    * ([[seqRange]]).
    */
  def write(
      df: DataFrame,
      destination: String,
      outputName: String,
      suffix: String,
      singleFile: Boolean = false): Path = {
    val cols = df.columns.filterNot(_ == "seq").toSeq
    write(df.select(lit(suffix).as("entity"), col("seq"),
        line(cols.map(col): _*).as("line")),
      Seq(Sink(suffix, suffix, cols)), destination, outputName,
      singleFile, seqRange(df)).head._1
  }

  /** The lowest and highest `seq` of `df`, from one aggregate; (0, 0)
    * when it has no rows.
    */
  def seqRange(df: DataFrame): (Long, Long) = {
    val r = df.agg(min(col("seq")), max(col("seq"))).head()
    if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
  }

  /** The part of `seq` in an even split of `[lo, hi]` into `n` parts:
    * `floor((seq - lo) * n / (hi - lo + 1))`, clamped to `[0, n)`. In
    * double arithmetic, so no seq range overflows; each step is
    * monotone, so the part never decreases as seq grows.
    */
  private def part(seq: Column, range: (Long, Long), n: Int): Column = {
    val (lo, hi) = range
    val scale = n / (hi.toDouble - lo.toDouble + 1)
    least(greatest(floor((seq.cast("double") - lo.toDouble) * scale), lit(0L)),
      lit(n - 1L)).cast("int")
  }

  /** Write every sink's rows of `lines` (`entity`, `seq`, `line`) in
    * one ordered write; returns each sink's path and row count, in
    * `sinks` order. Every row's entity must name a sink; `seqRange`
    * should span the rows' seqs (one outside it goes to the first or
    * last part).
    */
  def write(
      lines: DataFrame,
      sinks: Seq[Sink],
      destination: String,
      outputName: String,
      singleFile: Boolean,
      seqRange: (Long, Long)): Seq[(Path, Long)] = {
    val headers = sinks.map(s => s.entity -> s.headers.mkString(",")).toMap
    val counted = Observation()
    val metrics = sinks.map(s =>
      count(when(col("entity") === s.entity, 1)).as(s.entity))
    val nParts =
      if (singleFile) 1
      else lines.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Staging dir lives UNDER the destination so the final Files.move
    // is a same-filestore rename — moving a non-empty directory across
    // stores (e.g. tmpfs /tmp -> disk) throws in java.nio.
    Files.createDirectories(Paths.get(destination))
    val tmp = Files.createTempDirectory(Paths.get(destination), ".graft-csv-")
    try {
      import lines.sparkSession.implicits._
      lines.repartitionById(nParts, part(col("seq"), seqRange, nParts))
        .observe(counted, metrics.head, metrics.tail: _*)
        .select("entity", "seq", "line").as[(String, Long, String)]
        // each task's first row of an entity is preceded by a header
        // row sorting first (seq = Long.MinValue); the sort after this
        // typed step restores (entity, seq) order, so the partitioned
        // write plans no sort of its own and no order rests on sort
        // stability
        .mapPartitions { rows =>
          var open = Set.empty[String]
          rows.flatMap { case r @ (e, _, _) =>
            if (open(e)) Iterator(r)
            else { open += e; Iterator((e, Long.MinValue, headers(e)), r) }
          }
        }.toDF("entity", "seq", "line")
        .sortWithinPartitions("entity", "seq").select("entity", "line")
        .write.mode(SaveMode.Overwrite).partitionBy("entity")
        // Python csv.writer terminates rows with CRLF (golden files are
        // byte-compared — see the od dump of expected_island.csv)
        .option("lineSep", "\r\n").text(tmp.toString)
      val n = counted.get
      sinks.map { s =>
        val parts = textParts(tmp.resolve(s"entity=${s.entity}"))
        val header = headers(s.entity) + "\r\n"
        val file = Paths.get(destination, s"$outputName.${s.suffix}.csv")
        val target = if (singleFile) {
          parts.headOption.fold(Files.writeString(file, header))(
            Files.move(_, file, StandardCopyOption.REPLACE_EXISTING))
        } else {
          val dir = Paths.get(s"$file.d")
          FileUtils.deleteDirectory(dir.toFile)
          Files.createDirectories(dir)
          parts.foreach(p => Files.move(p,
            dir.resolve(p.getFileName.toString.stripSuffix("txt") + "csv")))
          // an entity with no rows keeps its header-only part
          if (parts.isEmpty)
            Files.writeString(dir.resolve("part-00000-header.csv"), header)
          dir
        }
        target -> n.getOrElse(s.entity, 0L).asInstanceOf[Long]
      }
    } finally {
      // a failed write must not leak the staging dir under the
      // user-visible destination (repeated failed runs would pile up)
      FileUtils.deleteDirectory(tmp.toFile)
    }
  }

  /** The part files Spark wrote under `dir`, in name (= part) order;
    * none when `dir` does not exist.
    */
  private def textParts(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .filter(_.toString.endsWith(".txt")).toList.sortBy(_.toString))
}
