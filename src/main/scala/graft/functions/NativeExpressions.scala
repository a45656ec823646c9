package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Explicit input-type validation for the natively-implemented nodes.
  * These expressions read raw `ArrayData`/`UTF8String` storage
  * (`getFloat`, `getUTF8String`), so a wrong-typed argument reaching
  * eval would produce silently garbage values, not an error — and SQL
  * registration (`GraftExtensions`) makes them user-reachable with
  * arbitrary argument types. Each node therefore rejects at analysis.
  */
trait GraftTypeChecks { self: Expression =>
  protected def requireTypes(
      checks: (DataType, String, DataType => Boolean)*): TypeCheckResult = {
    checks.collectFirst {
      case (dt, what, ok) if !ok(dt) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires $what, got ${dt.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
  protected val isFloatArray: DataType => Boolean = {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected val isStringArray: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  protected val isLongArray: DataType => Boolean = {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => true
    case _ => false
  }
  // Strict variant for kernels that read elements with getLong and
  // would decode a null slot as an undefined 0 instead of failing.
  protected val isNonNullLongArray: DataType => Boolean = {
    case ArrayType(org.apache.spark.sql.types.LongType, containsNull) =>
      !containsNull
    case _ => false
  }
  protected val isIntArray: DataType => Boolean = {
    case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
    case _ => false
  }
  protected val isString: DataType => Boolean = _ == StringType
}

/** Native Catalyst expressions for the cleanse functions — the (b)
  * tier of the engine's extension ladder: a custom
  * `Expression` with `doGenCode` beats a Scala UDF because it skips the
  * ScalaUDF machinery entirely (no encoder round-trip, no
  * `Option`/null boxing, no lambda dispatch) and participates in
  * whole-stage codegen: the generated Java calls the static Scala
  * helper directly on the `UTF8String` input.
  *
  * The string algorithms themselves stay in [[Cleanse]] /
  * [[Coordinates]] (single source of truth, unit-tested against the
  * reference's pinned tables); these nodes are the codegen wrappers.
  */
abstract class StringMapExpression extends UnaryExpression with GraftTypeChecks {
  /** Fully-qualified static method `String => String` to invoke. */
  def staticCall: String
  def eval(s: String): String

  override def checkInputDataTypes(): TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(eval(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"$staticCall($c.toString()))")
}

/** `clean_name` (`utils.py:23-38`) as a codegen'd expression. */
case class CleanNameExpr(child: Expression) extends StringMapExpression {
  override def staticCall: String = "graft.functions.Cleanse.cleanName"
  override def eval(s: String): String = Cleanse.cleanName(s)
  override def prettyName: String = "graft_clean_name"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `normalize_words` (`utils.py:68-79`) as a codegen'd expression. */
case class NormalizeWordsExpr(child: Expression) extends StringMapExpression {
  override def staticCall: String =
    "graft.functions.Cleanse.normalizeWordsScala"
  override def eval(s: String): String = Cleanse.normalizeWordsScala(s)
  override def prettyName: String = "graft_normalize_words"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `fix_wrapped_name` (`utils.py:41-65`) as a codegen'd expression. */
case class FixWrappedNameExpr(child: Expression) extends StringMapExpression {
  override def staticCall: String =
    "graft.functions.NativeExpressions.fixWrappedNameStatic"
  override def eval(s: String): String = Cleanse.fixWrappedNameScala(s)
  override def prettyName: String = "graft_fix_wrapped_name"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `format_coordinate` (`utils.py:189-225`) as a codegen'd expression. */
case class FormatCoordinateExpr(child: Expression) extends StringMapExpression {
  override def staticCall: String =
    "graft.functions.Coordinates.formatCoordinateScala"
  override def eval(s: String): String = Coordinates.formatCoordinateScala(s)
  override def prettyName: String = "graft_format_coordinate"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Single-pass cosine similarity over two FLOAT-array columns, as a
  * codegen'd binary expression — the ANN hot path.
  *
  * Why native: the HOF formulation (`aggregate(zip_with(a,b,*))` for
  * the dot plus two self-dots for the norms) materializes three
  * intermediate arrays per row and evaluates its lambdas through the
  * interpreted HigherOrderFunction path; this node is one fused loop
  * in generated Java inside whole-stage codegen. On well-formed
  * embeddings (equal-length, no null elements) semantics mirror the
  * HOF version bit-for-bit: products are computed in FLOAT then
  * widened, accumulation is in double, zero denominator → 0.0 — so
  * swapping it under the oracled ANN queries changes nothing but
  * time. Malformed input null-poisons exactly like [[DotProductExpr]]
  * (and like the HOF chain itself): mismatched lengths or any null
  * element → NULL, never a silently-plausible number — the function
  * is SQL-reachable (`graft_cosine`), so arbitrary arrays can arrive.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    requireTypes(
      (left.dataType, "two array<float> arguments", isFloatArray),
      (right.dataType, "two array<float> arguments", isFloatArray))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i); val yi = y.getFloat(i)
      dot += (xi * yi).toDouble // float product then widen = HOF order
      na += (xi * xi).toDouble
      nb += (yi * yi).toDouble
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    float $xi = $a.getFloat($i);
         |    float $yi = $b.getFloat($i);
         |    $dot += (double) ($xi * $yi);
         |    $na += (double) ($xi * $xi);
         |    $nb += (double) ($yi * $yi);
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom =
         |      java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Single-pass dot product over two FLOAT-array columns — the fusion
  * target of [[graft.plans.FuseHofDotProduct]], which rewrites the
  * composed `aggregate(zip_with(a, b, _*_), 0.0, _+_)` higher-order-
  * function pattern into this node so naive user code gets the
  * codegen'd loop automatically.
  *
  * Semantics replicate the HOF chain exactly, including its null
  * behavior: mismatched array lengths → null (zip_with pads with null,
  * the aggregate absorbs it), any null element → null, products
  * computed in FLOAT then widened into a double accumulator.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftTypeChecks {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    requireTypes(
      (left.dataType, "two array<float> arguments", isFloatArray),
      (right.dataType, "two array<float> arguments", isFloatArray))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i); val yi = y.getFloat(i)
      dot += (xi * yi).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    float $xi = $a.getFloat($i);
         |    float $yi = $b.getFloat($i);
         |    $dot += (double) ($xi * $yi);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object NativeExpressions {
  /** Static single-arg bridge (the Scala default-arg method is not
    * directly callable from generated Java).
    */
  def fixWrappedNameStatic(s: String): String = Cleanse.fixWrappedNameScala(s)

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Column builders over the native nodes. */
  def cleanName(c: Column): Column = col(CleanNameExpr(expr(c)))
  def normalizeWords(c: Column): Column = col(NormalizeWordsExpr(expr(c)))
  def fixWrappedName(c: Column): Column = col(FixWrappedNameExpr(expr(c)))
  def formatCoordinate(c: Column): Column = col(FormatCoordinateExpr(expr(c)))
  def cosineSim(a: Column, b: Column): Column =
    col(CosineSimExpr(expr(a), expr(b)))
  def dotProduct(a: Column, b: Column): Column =
    col(DotProductExpr(expr(a), expr(b)))
}
