package graft.functions

import java.util.{LinkedHashSet => JLinkedHashSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fused text-shingling primitives.
  *
  * The composed formulation — `array_distinct(transform(sequence(...),
  * i => concat_ws(" ", slice(split(text, " "), i+1, n))))`, parity-
  * pinned in TextExprsSpec — is built-ins only, but every
  * higher-order function in the chain evaluates its lambda through the
  * interpreted path and allocates an intermediate array per row
  * (sequence, transform results, per-gram slices). For corpus-scale
  * shingling (every dedup/decontamination/Jaccard query starts here)
  * that interpreter overhead dominates the actual string work. These
  * nodes compute identical results in one pass with a single output
  * allocation, while keeping the normalization prefix
  * (`lower`/`regexp_replace`) on the codegen'd built-in path.
  */
object TextNative {

  private val SPACE = UTF8String.fromString(" ")

  /** Distinct word `n`-grams of a normalized text, first-occurrence
    * order — bit-compatible with the HOF chain:
    * `split(text, " ", -1)` token semantics (trailing empties kept),
    * grams `i ∈ [0, max(T-n, 0)]` of width `min(n, T-i)` joined with
    * one space (short texts: one whole-text shingle), `array_distinct`
    * first-occurrence dedup.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.split(SPACE, -1)
    val t = tokens.length
    val last = math.max(t - n, 0)
    val seen = new JLinkedHashSet[UTF8String](math.min(last + 1, 1024))
    var i = 0
    while (i <= last) {
      val width = math.min(n, t - i)
      val gram =
        if (width == 1) tokens(i)
        else {
          val parts = new Array[UTF8String](width)
          System.arraycopy(tokens, i, parts, 0, width)
          UTF8String.concatWs(SPACE, parts: _*)
        }
      seen.add(gram)
      i += 1
    }
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Σ over `markers` of non-overlapping occurrence counts in
    * `" " + lower(text) + " "` — the language-id / stopword scoring
    * kernel. Parity with the composed chain — per marker,
    * `(length(padded) - length(replace(padded, m, ''))) / length(m)` —
    * holds exactly: `replace` removes non-overlapping matches scanning
    * left to right, which is the same set this greedy `indexOf` loop
    * advancing by the marker's width counts, and the composed form's
    * double division is exact because the char delta is always a
    * multiple of the marker length. `UTF8String.toLowerCase` is the
    * very function Spark's `lower()` applies, so case folding cannot
    * diverge. One lowercase + one String conversion per row replaces
    * |markers| full-string `replace` allocations (~20 for the combined
    * stopword set).
    */
  def markerHits(text: UTF8String, markers: Array[String]): Long = {
    val s = " " + text.toLowerCase.toString + " "
    var total = 0L
    var i = 0
    while (i < markers.length) {
      val m = markers(i)
      var from = s.indexOf(m)
      while (from >= 0) { total += 1; from = s.indexOf(m, from + m.length) }
      i += 1
    }
    total
  }

  /** Sorted distinct `xxhash64` values (seed 42 — the same
    * `XXH64.hashUnsafeBytes` call Spark's built-in `xxhash64()` applies
    * to a string) of the word n-grams of a normalized text. The
    * fixed-width long form exists for SHUFFLE-HEAVY consumers
    * (candidate-pair Jaccard verification): a shingle set that crosses
    * an exchange as `array<string>` moves every gram's bytes; as a
    * sorted `array<long>` it moves 8 bytes per gram and intersects by
    * linear merge with zero per-element hashing or allocation on the
    * probe side. Distinctness is applied on the HASHES (sort + adjacent
    * dedup) — equal to string-distinctness unless two distinct grams
    * collide in 64 bits, which also bounds the semantic caveat: a
    * collision can only ever MERGE two grams (intersection overcount of
    * 1 against ~2^-64·|A|·|B| odds), never drop one.
    */
  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    val tokens = text.split(SPACE, -1)
    val t = tokens.length
    val last = math.max(t - n, 0)
    val arr = new Array[Long](last + 1)
    var i = 0
    while (i <= last) {
      val width = math.min(n, t - i)
      val gram =
        if (width == 1) tokens(i)
        else {
          val parts = new Array[UTF8String](width)
          System.arraycopy(tokens, i, parts, 0, width)
          UTF8String.concatWs(SPACE, parts: _*)
        }
      arr(i) = XXH64.hashUnsafeBytes(
        gram.getBaseObject, gram.getBaseOffset, gram.numBytes, 42L)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    var r = 1
    while (r <= last) {
      if (arr(r) != arr(w)) { w += 1; arr(w) = arr(r) }
      r += 1
    }
    val out =
      if (w + 1 == arr.length) arr else java.util.Arrays.copyOf(arr, w + 1)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Intersection size of two SORTED distinct long arrays — one linear
    * merge, no hash set, no boxing. Pairs with [[hashedShingles]].
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      // null slots have no defined sort position and would decode as
      // an undefined 0 via getLong — refuse them with a recipe rather
      // than miscounting (nullable element TYPES pass analysis because
      // parquet reads carry containsNull=true even when data has none)
      if (a.isNullAt(i) || b.isNullAt(j))
        throw new IllegalArgumentException(
          "graft_sorted_intersect_count: null array element; drop nulls " +
            "first (e.g. array_compact(col)) or rebuild the arrays with " +
            "graft_hashed_shingles, whose output is sorted, distinct " +
            "and null-free")
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** `size(array_intersect(a, b))` as one pass: the number of distinct
    * elements of `a` (nulls counted once, matching array_intersect)
    * that also occur in `b`.
    */
  def intersectCount(a: ArrayData, b: ArrayData): Long = {
    val nb = b.numElements()
    val inB = new java.util.HashSet[UTF8String](math.max(16, nb * 2))
    var bNull = false
    var j = 0
    while (j < nb) {
      if (b.isNullAt(j)) bNull = true else inB.add(b.getUTF8String(j))
      j += 1
    }
    val seen = new java.util.HashSet[UTF8String]()
    var aNullCounted = false
    var count = 0L
    val na = a.numElements()
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bNull && !aNullCounted) { count += 1; aNullCounted = true }
      } else {
        val v = a.getUTF8String(i)
        if (inB.contains(v) && seen.add(v)) count += 1
      }
      i += 1
    }
    count
  }
}

/** `string` (pre-normalized) → `array<string>` distinct word n-grams. */
case class ShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with GraftTypeChecks {
  require(n >= 1, "shingle width must be positive")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override def nullSafeEval(input: Any): Any =
    TextNative.shingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.shingles($c, $n);")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `(array<string>, array<string>)` → `bigint` distinct-intersection
  * size; one hash pass instead of materializing `array_intersect`.
  */
case class IntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (left.dataType, "two array<string> arguments", isStringArray),
      (right.dataType, "two array<string> arguments", isStringArray))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextNative.intersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextNative.intersectCount($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** `string` (pre-normalized) → sorted `array<bigint>` of distinct
  * 64-bit shingle hashes — the shuffle-narrow form of [[ShinglesExpr]].
  */
case class HashedShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with GraftTypeChecks {
  require(n >= 1, "shingle width must be positive")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hashed_shingles"
  override def nullSafeEval(input: Any): Any =
    TextNative.hashedShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.hashedShingles($c, $n);")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `(array<bigint>, array<bigint>)` both SORTED distinct → `bigint`
  * intersection size by linear merge. Inputs must come from
  * [[HashedShinglesExpr]] (or any sorted-distinct producer) — unsorted
  * input silently undercounts, so the builders in [[TextExprs]] are the
  * supported construction path.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  // Nullable-ELEMENT array types are accepted: arrays read back from
  // parquet/JSON carry containsNull=true even when no null ever
  // occurs, and rejecting the TYPE made the function unusable on
  // stored shingle arrays (ADVICE r10). An ACTUAL null slot still
  // fails — loudly, at eval, with a conversion recipe — instead of
  // silently decoding as 0.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes(
      (left.dataType, "two array<bigint> arguments", isLongArray),
      (right.dataType, "two array<bigint> arguments", isLongArray))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    TextNative.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextNative.sortedIntersectCount($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** `string` raw text → `bigint` total marker hits (word-bounded via
  * the space padding baked into the markers and the added borders).
  */
case class MarkerHitsExpr(child: Expression, markers: Seq[String])
    extends UnaryExpression with GraftTypeChecks {
  require(markers.nonEmpty && markers.forall(_.nonEmpty),
    "markers must be non-empty strings")
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_marker_hits"
  @transient private lazy val markerArr: Array[String] = markers.toArray
  override def nullSafeEval(input: Any): Any =
    TextNative.markerHits(input.asInstanceOf[UTF8String], markerArr)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhMarkers", markerArr,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextNative.markerHits($c, $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object TextExprs {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def shingles(normText: Column, n: Int): Column =
    col(ShinglesExpr(expr(normText), n))
  def hashedShingles(normText: Column, n: Int): Column =
    col(HashedShinglesExpr(expr(normText), n))
  def intersectCount(a: Column, b: Column): Column =
    col(IntersectCountExpr(expr(a), expr(b)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    col(SortedIntersectCountExpr(expr(a), expr(b)))
  def markerHits(text: Column, markers: Seq[String]): Column =
    col(MarkerHitsExpr(expr(text), markers))
}
