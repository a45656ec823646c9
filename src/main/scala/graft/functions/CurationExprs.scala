package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-curation native expressions Spark has no built-in for.
  *
  *  - Unicode NFC normalization: crawled text mixes precomposed and
  *    combining-mark forms of the same grapheme, which breaks every
  *    downstream equality — exact dedup keys, shingle hashes, join
  *    keys. Spark exposes no normalizer; this node wraps
  *    `java.text.Normalizer` (the JDK's Unicode implementation) as a
  *    codegen'd expression. DuckDB's `nfc_normalize` implements the
  *    same standard algorithm, which gives the query an exact oracle.
  *  - Deflate size: the compressed-size/raw-size ratio is the classic
  *    cheap redundancy signal (boilerplate and template spam compress
  *    far better than prose). The node runs a single-shot JDK
  *    `Deflater` at a FIXED level so the value is deterministic for a
  *    given zlib build; treat cross-version output as an opaque
  *    signal, not a portable constant (rows-only under the gate).
  */
object CurationNative {

  def nfc(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  // one zlib state per task thread, reset() per row: a fresh Deflater
  // allocates ~256 KB of native memory through JNI, and paying that
  // allocate/free cycle per document would dominate the actual
  // compression work on a corpus-scale scan. reset() restores the
  // initial dictionary/state, so output is identical to a fresh
  // instance. Deflater is not thread-safe but is never shared here.
  private val deflaters =
    ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(6, false))

  def deflateSize(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = deflaters.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** Unicode NFC normalization as a codegen'd expression. */
case class NfcNormalizeExpr(child: Expression) extends StringMapExpression {
  override def staticCall: String = "graft.functions.CurationNative.nfc"
  override def eval(s: String): String = CurationNative.nfc(s)
  override def prettyName: String = "graft_nfc"
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Single-shot zlib-deflate byte count of a string column. */
case class DeflateSizeExpr(child: Expression)
    extends UnaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_deflate_size"
  override def nullSafeEval(input: Any): Any =
    CurationNative.deflateSize(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CurationNative.deflateSize($c);")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** String identity that is structurally opaque to the optimizer: no
  * Catalyst simplification rule matches a graft-owned class, and its
  * canonicalized form differs from its child's, so a subtree wrapped
  * in this node can never be folded or subexpression-eliminated into
  * its unwrapped twin — not by any current rule, and not by one a
  * future Spark adds for built-ins (rules dispatch on Spark's own
  * expression classes). The `compression_signal` deterministic-repeat
  * audit builds its second codec run through this barrier so "the
  * codec ran twice" is enforced by construction, not by the absence of
  * a `substring(s, 1, length(s))` fold rule (ADVICE r9).
  */
case class OpaqueIdentityExpr(child: Expression)
    extends UnaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_opaque_identity"
  override def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $c;")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object CurationExprs {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def nfcNormalize(c: Column): Column = col(NfcNormalizeExpr(expr(c)))
  def deflateSize(c: Column): Column = col(DeflateSizeExpr(expr(c)))
  def opaqueIdentity(c: Column): Column = col(OpaqueIdentityExpr(expr(c)))
}
