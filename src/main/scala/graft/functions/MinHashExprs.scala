package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native fused MinHash: signature fold + LSH banding as one codegen'd
  * loop over the shingle array.
  *
  * The composed formulation (parity-pinned in MinHashExprsSpec) — an
  * `aggregate` whose merge is `zip_with(acc, transform(seeds,
  * xxhash64(i, s)), least)` — is semantically exact but runs on the
  * interpreted `ArrayAggregate`/`HigherOrderFunction` path and
  * allocates three `numHashes`-wide arrays per shingle (the seed
  * sequence, the hash vector, the zipped minimum). For a corpus
  * signature pass that is the entire cost. This node computes the
  * identical result with zero per-shingle allocation: one static Java
  * call per row, `numHashes` running minima in a local `long[]`.
  *
  * Hash parity with the HOF chain (pinned by spec, bit-for-bit):
  *  - `xxhash64(i, s)` folds its children left-to-right from seed 42:
  *    `XXH64.hashInt(i, 42)` then `XXH64.hashUTF8String(s, ·)` — the
  *    per-seed prefix `hashInt(i, 42)` is precomputed once per
  *    expression instance;
  *  - a NULL shingle contributes nothing to `xxhash64` (Spark hash
  *    functions skip null children), so its hash vector is exactly the
  *    seed prefixes;
  *  - the band hash `xxhash64(slice(sig, …))` over `array<bigint>`
  *    folds `XXH64.hashLong` over the band's rows from seed 42.
  */
object MinHashNative {

  /** Per-seed hash prefix: `xxhash64(i, s)` == `hashUTF8String(s,
    * hashInt(i, 42))`, so `hashInt(i, 42)` is the whole effect of the
    * seed ordinal.
    */
  def seeds(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))

  /** MinHash signature: per-seed minimum of the shingle hashes. */
  def signature(
      shingles: ArrayData, seeds: Array[Long]): Array[Long] = {
    val numHashes = seeds.length
    val acc = new Array[Long](numHashes)
    java.util.Arrays.fill(acc, Long.MaxValue)
    val n = shingles.numElements()
    var k = 0
    while (k < n) {
      if (shingles.isNullAt(k)) {
        var i = 0
        while (i < numHashes) {
          if (seeds(i) < acc(i)) acc(i) = seeds(i)
          i += 1
        }
      } else {
        val s = shingles.getUTF8String(k)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashUTF8String(s, seeds(i))
          if (h < acc(i)) acc(i) = h
          i += 1
        }
      }
      k += 1
    }
    acc
  }

  def signatureArray(shingles: ArrayData, seeds: Array[Long]): ArrayData =
    new GenericArrayData(signature(shingles, seeds))

  /** Signature + banding: band b = `xxhash64` fold over its
    * `rowsPerBand` signature rows.
    */
  def bands(
      shingles: ArrayData, seeds: Array[Long],
      rowsPerBand: Int): ArrayData = {
    val sig = signature(shingles, seeds)
    val numBands = sig.length / rowsPerBand
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 42L
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) { h = XXH64.hashLong(sig(j), h); j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}

abstract class MinHashExprBase extends UnaryExpression with GraftTypeChecks {
  def numHashes: Int
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "an array<string> argument", isStringArray))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient protected lazy val seeds: Array[Long] =
    MinHashNative.seeds(numHashes)
  protected def seedsRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("mhSeeds", seeds, "long[]")
}

/** `array<string>` shingles → `array<bigint>` MinHash signature. */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends MinHashExprBase {
  override def prettyName: String = "graft_minhash"
  override def nullSafeEval(a: Any): Any =
    MinHashNative.signatureArray(a.asInstanceOf[ArrayData], seeds)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = seedsRef(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashNative.signatureArray($c, $s);")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** `array<string>` shingles → `array<bigint>` LSH band hashes. */
case class MinHashBandsExpr(
    child: Expression, numHashes: Int, rowsPerBand: Int)
    extends MinHashExprBase {
  require(numHashes % rowsPerBand == 0, "bands must tile the signature")
  override def prettyName: String = "graft_minhash_bands"
  override def nullSafeEval(a: Any): Any =
    MinHashNative.bands(a.asInstanceOf[ArrayData], seeds, rowsPerBand)
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = seedsRef(ctx)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashNative.bands($c, $s, $rowsPerBand);")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object MinHashExprs {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def minHashSignature(shingles: Column, numHashes: Int): Column =
    col(MinHashSignatureExpr(expr(shingles), numHashes))
  def minHashBands(
      shingles: Column, numHashes: Int, rowsPerBand: Int): Column =
    col(MinHashBandsExpr(expr(shingles), numHashes, rowsPerBand))
}
