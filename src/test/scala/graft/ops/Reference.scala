package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleanse, Coordinates, VectorExprs}

/** The composed reference formulations the native operators are
  * parity-pinned against. Each one is built from Spark built-ins
  * (higher-order functions, windows, explode + aggregate) and states
  * the operator's semantics plainly; the production operator in
  * `src/main` must agree with it row for row. None of these runs in
  * the shipped code.
  */
object Reference {

  // ---- Similarity ----------------------------------------------------

  /** [[Similarity.cosine]] as zip_with/aggregate HOFs. The native node
    * null-poisons ragged or null-element input; this form manufactures
    * a 0.0 for the ragged+zero-norm corner (denominator checked first).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val denom = Similarity.l2Norm(a) * Similarity.l2Norm(b)
    when(denom === 0.0d, lit(0.0d)).otherwise(Similarity.dot(a, b) / denom)
  }

  /** [[Similarity.ivfAssign]] as a corpus×k explode and a row_number
    * window per vector: same cosine, same (c_sim DESC, cell ASC) winner.
    */
  def ivfAssignWindowed(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c_sim").desc, col("cell").asc)
    corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cell"),
        Similarity.cosine(col("embedding"), col("c_vec")).as("c_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  // ---- TextDedup -----------------------------------------------------

  /** [[TextDedup.shingles]] as a transform over token slices. */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val tokens = split(TextDedup.normText(text), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(tokens) - n, lit(0))),
      i => concat_ws(" ", slice(tokens, i + 1, lit(n))))
    array_distinct(grams)
  }

  /** Per-shingle hash vector: `xxhash64(seed_i, shingle)` for each of
    * the `numHashes` seeds.
    */
  private def hashVector(s: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, s))

  /** [[TextDedup.minHashSignature]] as ONE `aggregate` fold with an
    * element-wise `least` merge, so the shingle array is evaluated once
    * per row (Catalyst does not CSE across lambda iterations).
    */
  def minHashSignatureHof(shingleArr: Column, numHashes: Int = 32): Column =
    aggregate(
      shingleArr,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, hashVector(s, numHashes), (a, b) => least(a, b)))

  /** [[TextDedup.minHashBands]]'s band-hash column: the signature fold
    * plus per-band `xxhash64` in the `finish` lambda.
    */
  def minHashBandHashesHof(
      text: Column,
      numHashes: Int = 32,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3): Column = {
    val numBands = numHashes / rowsPerBand
    aggregate(
      TextDedup.shingles(text, shingleSize),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, hashVector(s, numHashes), (a, b) => least(a, b)),
      acc => transform(
        sequence(lit(0), lit(numBands - 1)),
        b => xxhash64(slice(acc, b * rowsPerBand + 1, lit(rowsPerBand)))))
  }

  /** [[TextDedup.simHashSignatures]] as explode → `xxhash64` → 64
    * conditional SUMs → sign reassembly. A null text explodes to no
    * row, which is why the native form filters nulls out.
    */
  def simHashSignaturesExplode(docs: DataFrame): DataFrame = {
    val tokenHashes = docs
      .select(col("doc_id"),
        explode(split(TextDedup.normText(col("text")), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"b$b")
    }
    val summed = tokenHashes.groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    summed.select(col("doc_id"), sig.as("simhash"))
  }

  // ---- Quantization --------------------------------------------------

  /** [[Quantization.int8Codes]]: `clamp(floor(v * 2^logScale), -128, 127)`
    * per element.
    */
  def int8CodesComposed(vec: Column, logScale: Int = 6): Column =
    transform(vec, v =>
      greatest(least(floor(v.cast("double") * (1 << logScale)), lit(127L)),
        lit(-128L)).cast("int"))

  /** [[Quantization.intDot]] as zip_with/aggregate. */
  def intDotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** The PQ assignment kernel (`VectorExprs.pqAssign`): per subspace
    * the exact integer L2² argmin over the packed codebook, ties to the
    * lower j.
    */
  def pqCodesColComposed(
      qv: Column, cb: Column, kCode: Int, m: Int, subDim: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sub = slice(qv, s * subDim + 1, lit(subDim))
      val best = array_max(transform(sequence(lit(0), lit(kCode - 1)), j => {
        val c = element_at(cb, s * kCode + j + 1)
        struct(
          (Quantization.intDot(sub, c.getField("cvec")) * 2 - c.getField("nb"))
            .as("score"),
          (j * -1).as("negj"))
      }))
      best.getField("negj") * -1
    })

  // ---- KMeans --------------------------------------------------------

  /** [[KMeans.assign]] as HOFs over the packed centroid row: the
    * signed-square cosine score, -Infinity for an all-zero centroid,
    * ties to the lower cell.
    */
  def assignComposed(q: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = transform(col("cents"), c => struct(
      VectorExprs.intDot(col("qvec"), c.getField("cvec")).as("qd"),
      c.getField("cell").as("cell"),
      c.getField("cnorm2").as("cnorm2")))
    val best = array_max(transform(scored, t => {
      val qd = t.getField("qd")
      val sq = (qd * qd).cast("double")
      val score = when(t.getField("cnorm2") > 0,
        when(qd >= 0, sq).otherwise(sq * -1d) /
          t.getField("cnorm2").cast("double"))
        .otherwise(lit(Double.NegativeInfinity))
      struct(score.as("score"), (t.getField("cell") * -1).as("neg_cell"))
    }))
    q.crossJoin(broadcast(KMeans.packed(centroids)))
      .withColumn("label", best.getField("neg_cell") * -1)
      .drop("cents")
  }

  // ---- TextAnalysis --------------------------------------------------

  /** The native marker-hit sum (`TextExprs.markerHits`) over an
    * already padded and lowercased column.
    */
  def markerHitsComposed(padded: Column, markers: Seq[String]): Column =
    markers.map(m => TextAnalysis.occurrences(padded, m)).reduce(_ + _)

  // ---- Cleanse -------------------------------------------------------

  /** Python `str.strip()` as a regex `Column`. */
  def pyTrim(c: Column): Column = regexp_replace(c, "(?U)^\\s+|\\s+$", "")

  /** clean_name as the 9-regex `Column` chain the ETL ran before
    * [[Cleanse.cleanName]] became one Scala function; null-propagating.
    */
  def cleanNameChain(c: Column): Column = {
    val t0 = pyTrim(c)
    val t1 = regexp_replace(t0, "\r", "")
    val t2 = regexp_replace(t1, "\t", " ")
    val t3 = regexp_replace(t2, "(?U)^\\d+\n", "")
    val t4 = regexp_replace(t3, "(?U)\n\\d+$", "")
    val t5 = regexp_replace(t4, "\n+", " ")
    val t6 = regexp_replace(t5, "(?U)^\\d+\\s+", "")
    val t7 = regexp_replace(t6, "(?U)\\s{2,}", " ")
    pyTrim(t7)
  }

  def cleanseNameChain(c: Column): Column =
    when(c.isNull || c === "", lit(""))
      .otherwise(Cleanse.normalizeWords(cleanNameChain(Cleanse.fixWrappedName(c))))

  def cleanseIslandNameChain(c: Column): Column =
    cleanNameChain(Cleanse.fixWrappedName(coalesce(c, lit(""))))

  // ---- Dispatch ------------------------------------------------------

  /** [[Dispatch.pass]] with both row rules as the `Column` builders it
    * ran before they became Scala functions ([[AreaPipeline.row]],
    * [[IslandPipeline.row]]): the keep rules filter the join, one
    * projection renders both families.
    */
  def passColumns(cells: DataFrame, family: Column): DataFrame = {
    def trimmed(i: Column) =
      pyTrim(coalesce(when(i >= 0, get(col("cells"), i)), lit("")))
    def nonEmpty(i: Int) = {
      val t = trimmed(lit(i))
      when(t === "", lit(null)).otherwise(t)
    }
    val w = col("table_width")
    val areaCode = trimmed(lit(0))
    val len = length(areaCode)
    val areaName = cleanseNameChain(coalesce(
      when(w === 6, coalesce(nonEmpty(1), nonEmpty(3)))
        .when(w >= 7, coalesce(nonEmpty(1), nonEmpty(4), nonEmpty(5),
          nonEmpty(6))), lit("")))
    val areaKept = col("row_idx") >= 2 && (w === 6 || w >= 7) &&
      len.isin(2, 5, 8, 13) && areaName =!= ""
    val areaEntity = when(len === 2, "province").when(len === 5, "regency")
      .when(len === 8, "district").otherwise("village")
    val areaParent = when(len === 5, Cleanse.parentPrefix(areaCode, 2))
      .when(len === 8, Cleanse.parentPrefix(areaCode, 5))
      .when(len === 13, Cleanse.parentPrefix(areaCode, 8))
    val islCode = trimmed(col("code_idx"))
    val islKept = col("header_idx") >= 0 &&
      col("row_idx") > col("header_idx") && islCode.rlike(Cleanse.IslandCodeRegex)
    val nameClean = cleanseIslandNameChain(trimmed(col("name_idx")))
    val nextClean = cleanseIslandNameChain(trimmed(
      when(col("code_idx") >= 0, col("code_idx") + 1).otherwise(1)))
    val islName = when(nameClean === islCode && nextClean =!= "" &&
      nextClean =!= islCode, nextClean).otherwise(nameClean)
    val island = family === "island"
    def pick(area: Column, isl: Column) =
      when(family === "area", area).when(island, isl)
    cells.join(broadcast(Dispatch.tableMeta(cells)), "table_id")
      .filter(pick(areaKept, islKept))
      .select(pick(areaEntity, lit("island")).as("entity"),
        pick(areaCode, islCode).as("code"),
        pick(areaParent, Cleanse.islandParentCode(islCode)).as("parent_code"),
        pick(areaName, islName).as("name"), col("seq"),
        when(island, Coordinates.formatCoordinate(trimmed(col("coord_idx"))))
          .as("coordinate"),
        when(island, Cleanse.isPopulated(upper(trimmed(col("status_idx")))))
          .as("is_populated"),
        when(island, Cleanse.isOutermostSmall(upper(trimmed(col("info_idx")))))
          .as("is_outermost_small"))
  }

  /** The rows of a pass with its provinces deduped to their first
    * occurrence in document order (A1, `extractors.py:110-112,
    * 166-169`) by a `row_number` window partitioned by code: the
    * formulation [[Dispatch.extract]] replaced with first provinces
    * settled from the table meta.
    */
  def firstProvincesWindow(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("code")).orderBy(col("seq"))
    rows.filter(col("entity") === "province")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .unionByName(rows.filter(col("entity") =!= "province"))
  }
}
