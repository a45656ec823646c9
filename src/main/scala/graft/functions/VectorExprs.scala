package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native integer-vector kernels for the quantized embedding path.
  *
  * The composed form (`aggregate(zip_with(a, b, ...))`, parity-pinned
  * in QuantizationSpec) is the semantic reference, but Spark's
  * higher-order functions are CodegenFallback — per-element
  * interpreted lambda dispatch — which matters exactly where this
  * kernel lives: the all-pairs
  * within-cluster loop of SemDeDup-style dedup, millions of 64-dim
  * dot products per partition. The native node is one tight JIT'd
  * loop inside whole-stage codegen.
  */
object VectorNative {

  /** PQ assignment — per subspace `s` (of `m`, `subDim` dims each) the
    * exact integer L2² argmin over the `kCode` centroids of the PACKED
    * codebook (array of `(s, j, cvec, nb)` structs sorted by (s, j),
    * the [[graft.ops.Quantization]] packCodebook layout):
    * `argmax_j 2·dot(sub, cvec_j) − nb_j`, ties to the LOWER j —
    * byte-identical to the composed HOF form (spec-pinned), whose
    * nested interpreted lambdas (m×kCode struct allocations + slice
    * copies per ROW) priced the encode stage of every PQ query. One
    * tight JIT'd loop, no allocation beyond the m-int result.
    */
  def pqAssign(
      qv: ArrayData,
      cb: ArrayData,
      kCode: Int,
      m: Int,
      subDim: Int): ArrayData = {
    if (qv.numElements() != m * subDim)
      throw new IllegalArgumentException(
        s"graft_pq_assign: qv has ${qv.numElements()} elements, " +
          s"need m*subDim = ${m * subDim}")
    if (cb.numElements() != m * kCode)
      throw new IllegalArgumentException(
        s"graft_pq_assign: codebook has ${cb.numElements()} entries, " +
          s"need m*kCode = ${m * kCode}")
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var bestScore = Long.MinValue
      var bestJ = 0
      var j = 0
      while (j < kCode) {
        val e = cb.getStruct(s * kCode + j, 4)
        val cvec = e.getArray(2)
        val nb = e.getLong(3)
        if (cvec.numElements() != subDim)
          throw new IllegalArgumentException(
            s"graft_pq_assign: centroid (s=$s, j=$j) has " +
              s"${cvec.numElements()} dims, need subDim = $subDim")
        var dot = 0L
        var d = 0
        val base = s * subDim
        while (d < subDim) {
          if (qv.isNullAt(base + d) || cvec.isNullAt(d))
            throw new IllegalArgumentException(
              "graft_pq_assign: null array element; quantized codes " +
                "are never null")
          dot += qv.getInt(base + d).toLong * cvec.getInt(d)
          d += 1
        }
        val score = 2L * dot - nb
        // strict >: the first (lowest-j) centroid wins ties, exactly
        // the composed form's max-by-(score, -j)
        if (score > bestScore) { bestScore = score; bestJ = j }
        j += 1
      }
      codes(s) = bestJ
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** Spherical k-means nearest-centroid label over ONE packed
    * centroid row (array of `(cell, cvec, cnorm2)` structs, the
    * [[graft.ops.KMeans]] packed layout): `argmax sign(qd)·qd²/cnorm2`
    * with exact integer `qd`, one correctly-rounded IEEE division per
    * cell, degenerate (cnorm2 ≤ 0) cells scoring −∞, ties to the
    * LOWER cell id — byte-identical to the composed
    * `array_max(transform(...))` form (spec-pinned), minus its
    * per-row m-struct allocation + interpreted lambda dispatch.
    * Returns null on an empty centroid array, like `array_max`.
    */
  def kmeansLabel(qv: ArrayData, cents: ArrayData): Any = {
    val k = cents.numElements()
    if (k == 0) return null
    var bestScore = 0.0d
    var bestCell = 0
    var first = true
    var i = 0
    while (i < k) {
      val e = cents.getStruct(i, 3)
      val cell = e.getInt(0)
      val cvec = e.getArray(1)
      val cnorm2 = e.getLong(2)
      val score =
        if (cnorm2 > 0) {
          val qd = intDot(qv, cvec)
          val sq = (qd * qd).toDouble
          (if (qd >= 0) sq else -sq) / cnorm2.toDouble
        } else Double.NegativeInfinity
      if (first || java.lang.Double.compare(score, bestScore) > 0 ||
          (java.lang.Double.compare(score, bestScore) == 0 &&
            cell < bestCell)) {
        bestScore = score
        bestCell = cell
        first = false
      }
      i += 1
    }
    bestCell
  }

  /** Int8 quantization codes — `clamp(floor(v · 2^logScale), -128,
    * 127)` per element, exactly the [[graft.ops.Quantization]]
    * composed form (float→double widening is exact, the power-of-two
    * scale multiplies the exponent only, floor of an exact double is
    * exact — see Quantization's object doc). Stricter than the HOF
    * only on malformed input: a null element throws here (the HOF
    * would carry a null element that every downstream intDot rejects
    * anyway — the [[graft.ops.Similarity.cosine]] convention).
    */
  def int8Codes(v: ArrayData, logScale: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](n)
    val scale = (1 << logScale).toDouble
    var i = 0
    while (i < n) {
      if (v.isNullAt(i))
        throw new IllegalArgumentException(
          "graft_int8_codes: null array element; embeddings are " +
            "never null")
      val f = math.floor(v.getFloat(i).toDouble * scale)
      out(i) =
        if (f > 127.0d) 127
        else if (f < -128.0d) -128
        else f.toInt
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def intDot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"graft_int_dot: length mismatch (${n} vs ${b.numElements()})")
    var i = 0
    var s = 0L
    while (i < n) {
      // nullable element TYPES pass analysis (parquet list reads carry
      // containsNull=true); an actual null slot has no defined value
      // and must fail loudly, not read as 0
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(
          "graft_int_dot: null array element; drop nulls upstream " +
            "(e.g. array_compact) — quantized codes are never null")
      s += a.getInt(i).toLong * b.getInt(i)
      i += 1
    }
    s
  }
}

/** `(array<int>, array<int>)` equal-length → `bigint` exact integer
  * dot product. 64 dims × 127² stays far inside long range.
  */
case class IntDotExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (left.dataType, "two array<int> arguments", isIntArray),
      (right.dataType, "two array<int> arguments", isIntArray))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_int_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.intDot(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorNative.intDot($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotExpr =
    copy(left = newLeft, right = newRight)
}

/** `(array<int> qv, array<struct> packed-codebook)` → `array<int>` of
  * `m` PQ centroid assignments (see [[VectorNative.pqAssign]]).
  */
case class PqAssignExpr(
    left: Expression,
    right: Expression,
    kCode: Int,
    m: Int,
    subDim: Int)
    extends BinaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (left.dataType, "array<int> codes as the first argument", isIntArray),
      (right.dataType, "a packed codebook array<struct> as the second " +
        "argument", {
        case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.StructType, _) => true
        case _ => false
      }))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_assign"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.pqAssign(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], kCode, m, subDim)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorNative.pqAssign(" +
        s"$a, $b, $kCode, $m, $subDim);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssignExpr =
    copy(left = newLeft, right = newRight)
}

/** `(array<int> qvec, array<struct> packed-centroids)` → `int` nearest
  * spherical-k-means cell (see [[VectorNative.kmeansLabel]]). Nullable:
  * an empty centroid array yields null, like the composed `array_max`.
  */
case class KMeansLabelExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (left.dataType, "array<int> codes as the first argument", isIntArray),
      (right.dataType, "a packed centroid array<struct> as the second " +
        "argument", {
        case org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.StructType, _) => true
        case _ => false
      }))
  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kmeans_label"
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorNative.kmeansLabel(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""Object ${ev.value}Obj =
         |  graft.functions.VectorNative.kmeansLabel($a, $b);
         |if (${ev.value}Obj == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Integer) ${ev.value}Obj).intValue();
         |}""".stripMargin)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KMeansLabelExpr =
    copy(left = newLeft, right = newRight)
}

/** `array<float>` → `array<int>` int8 quantization codes (see
  * [[VectorNative.int8Codes]]).
  */
case class Int8CodesExpr(child: Expression, logScale: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (child.dataType, "an array<float> embedding", isFloatArray))
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_int8_codes"
  override def nullSafeEval(v: Any): Any =
    VectorNative.int8Codes(v.asInstanceOf[ArrayData], logScale)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorNative.int8Codes($v, $logScale);")
  override protected def withNewChildInternal(
      newChild: Expression): Int8CodesExpr =
    copy(child = newChild)
}

object VectorExprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def intDot(a: Column, b: Column): Column =
    ColumnBridge.column(IntDotExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def int8Codes(v: Column, logScale: Int): Column =
    ColumnBridge.column(Int8CodesExpr(
      ColumnBridge.expression(v), logScale))
  def pqAssign(qv: Column, cb: Column, kCode: Int, m: Int, subDim: Int)
      : Column =
    ColumnBridge.column(PqAssignExpr(
      ColumnBridge.expression(qv), ColumnBridge.expression(cb),
      kCode, m, subDim))
  def kmeansLabel(qv: Column, cents: Column): Column =
    ColumnBridge.column(KMeansLabelExpr(
      ColumnBridge.expression(qv), ColumnBridge.expression(cents)))
}
