package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

object BpeExprs {
  /** Flat-table encode dump over NORMALIZED text: `struct<n_tokens,
    * ids_csv, head_ids>`, one plan node at any merge count. Parity-
    * pinned against the replace-chain encode in BpeMinerSpec.
    */
  def encodeDump(normText: Column, table: BpeMergeTable): Column =
    ColumnBridge.column(
      BpeEncodeExpr(ColumnBridge.expression(normText), table))

  /** Flat-table token count over normalized text. */
  def encodeCount(normText: Column, table: BpeMergeTable): Column =
    ColumnBridge.column(
      BpeCountExpr(ColumnBridge.expression(normText), table))
}

/** Immutable BPE merge automaton shared by the flat-encode
  * expressions: rank-ordered merge triples `(leftId, rightId, outId)`
  * over integer SYMBOL IDS, with an O(1) pair→rank lookup.
  *
  * The point of this class is that ENCODE COST IS DECOUPLED FROM
  * MERGE COUNT (VERDICT r17 #1): the previous formulation replayed
  * the merge table as a chain of `rounds` codegen'd whole-text
  * `StringReplace`s — fine at rounds=16, impossible at a real
  * tokenizer's 30k–100k merges (the expression tree itself explodes
  * long before the data does). Here the merge table is ONE reference
  * object (broadcast to executors inside the serialized expression),
  * the plan is flat (a single expression node at any table size), and
  * the per-word cost is `O(len · merges-that-fire)`, independent of
  * the table's total rank count — the standard priority-merge BPE
  * encoder (the GPT-2 `bpe()` loop).
  *
  * Correctness contract (why priority merging == the trainer's
  * rank-order replace chain): applying merge rank r can only mint the
  * fresh symbol `out(r)`, and every pair containing `out(r)` has rank
  * > r in any PROPERLY TRAINED table (a merge's components must exist
  * before its round) — so no application can (re)create a pair of
  * rank ≤ r, the loop fires ranks in strictly increasing order with
  * one leftmost-non-overlapping pass each, and that is exactly the
  * chain semantics. Tables violating components-before-products would
  * diverge; both factories below construct only valid ones.
  *
  * Two id dialects, one engine:
  *  - [[BpeMergeTable.fromRawMerges]] — the self-mined machine form
  *    ([[graft.ops.BpeMiner.rawMerges]]): every symbol is a single
  *    codepoint (base char or an earlier round's U+E000+rank
  *    placeholder), `out(r)` = `0xE000 + r`, so emitted ids equal the
  *    replace-chain encode's codepoint dump bit-for-bit.
  *  - [[BpeMergeTable.fromSymbolMerges]] — imported GPT-2-format
  *    `merges.txt` pairs, where symbols are token STRINGS and the
  *    merge product is their concatenation. Multi-codepoint tokens
  *    are interned to minted ids above 0x110000 (outside Unicode, so
  *    they can never collide with a base char).
  */
final class BpeMergeTable(
    val lIds: Array[Int],
    val rIds: Array[Int],
    val outIds: Array[Int]) extends Serializable {
  require(lIds.length == rIds.length && rIds.length == outIds.length,
    "merge arrays must align")
  require(lIds.length >= 1, "merge table must be non-empty")
  // ids pack into (l << 21 | r) lookup keys: 21 bits covers Unicode
  // (0x10FFFF) plus ~1M minted ids above it
  private def idOk(i: Int) = i >= 0 && i < (1 << 21)
  require(lIds.forall(idOk) && rIds.forall(idOk) && outIds.forall(idOk),
    "symbol ids must fit in 21 bits")

  def size: Int = lIds.length

  /** pair(l,r) → lowest rank minting it. Duplicate pairs at higher
    * ranks are dead by construction (the lowest rank's pass leaves no
    * occurrence and none can reform), matching chain semantics.
    * Transient lazy: rebuilt once per executor after deserialization.
    */
  @transient private lazy val rankOf: java.util.HashMap[Long, Integer] = {
    val m = new java.util.HashMap[Long, Integer](lIds.length * 2)
    var i = 0
    while (i < lIds.length) {
      val k = (lIds(i).toLong << 21) | rIds(i).toLong
      if (!m.containsKey(k)) m.put(k, Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** Priority-merge one word held in `ids[start, start+n)` IN PLACE;
    * returns the merged symbol count (compacted into the same span).
    */
  private def mergeWord(ids: Array[Int], start: Int, n0: Int): Int = {
    var n = n0
    var continue = n >= 2
    while (continue) {
      // the lowest-rank pair present anywhere in the word
      var best = Int.MaxValue
      var i = 0
      while (i < n - 1) {
        val r = rankOf.get(
          (ids(start + i).toLong << 21) | ids(start + i + 1).toLong)
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        // one leftmost-non-overlapping pass of that rank (the shared
        // `replace` convention)
        val l = lIds(best); val rr = rIds(best); val o = outIds(best)
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && ids(start + i) == l && ids(start + i + 1) == rr) {
            ids(start + w) = o; i += 2
          } else {
            ids(start + w) = ids(start + i); i += 1
          }
          w += 1
        }
        n = w
        continue = n >= 2
      }
    }
    n
  }

  /** Priority-merge an arbitrary symbol-id span `ids[0, n)` IN PLACE
    * and return the merged symbol count — the entry point for
    * pre-tokenizers that segment text themselves (the GPT-2
    * byte-level path feeds one byte-mapped pretoken at a time; the
    * space-split paths below stay on their own word loops).
    */
  def mergeSpan(ids: Array[Int], n: Int): Int = mergeWord(ids, 0, n)

  /** One pass over normalized text: codepoints in, space-delimited
    * words priority-merged in place, merged ids appended to the csv /
    * head / count — the flat-table equivalent of replaying the merge
    * chain and dumping its code points (parity-pinned in
    * BpeMinerSpec), emitting `struct<n_tokens, ids_csv, head_ids>`.
    */
  def dump(s: UTF8String): InternalRow = {
    val str = s.toString
    val len = str.length
    // all codepoints once; words are merged within their own spans
    val cps = new Array[Int](len)
    var nc = 0
    var ci = 0
    while (ci < len) {
      val cp = str.codePointAt(ci)
      ci += Character.charCount(cp)
      cps(nc) = cp
      nc += 1
    }
    val csv = new java.lang.StringBuilder(len * 3)
    val head = new java.lang.StringBuilder(48)
    var n = 0L
    var i = 0
    while (i < nc) {
      if (cps(i) == ' ') i += 1
      else {
        var j = i
        while (j < nc && cps(j) != ' ') j += 1
        val m = mergeWord(cps, i, j - i)
        var k = 0
        while (k < m) {
          val id = cps(i + k)
          if (n > 0) csv.append(',')
          csv.append(id)
          if (n < 8) {
            if (n > 0) head.append(',')
            head.append(id)
          }
          n += 1
          k += 1
        }
        i = j
      }
    }
    new GenericInternalRow(Array[Any](n,
      UTF8String.fromString(csv.toString),
      UTF8String.fromString(head.toString)))
  }

  /** Token COUNT only — the packing/fertility column, skipping the
    * csv/head allocations entirely.
    */
  def countTokens(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Int](len)
    var nc = 0
    var ci = 0
    while (ci < len) {
      val cp = str.codePointAt(ci)
      ci += Character.charCount(cp)
      cps(nc) = cp
      nc += 1
    }
    var n = 0L
    var i = 0
    while (i < nc) {
      if (cps(i) == ' ') i += 1
      else {
        var j = i
        while (j < nc && cps(j) != ' ') j += 1
        n += mergeWord(cps, i, j - i)
        i = j
      }
    }
    n
  }

  // value equality over the arrays, so expression canonicalization /
  // CSE and plan caching treat equal tables as equal
  override def equals(other: Any): Boolean = other match {
    case t: BpeMergeTable =>
      java.util.Arrays.equals(lIds, t.lIds) &&
        java.util.Arrays.equals(rIds, t.rIds) &&
        java.util.Arrays.equals(outIds, t.outIds)
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * java.util.Arrays.hashCode(lIds) +
      java.util.Arrays.hashCode(rIds)) + java.util.Arrays.hashCode(outIds)
  override def toString: String = s"BpeMergeTable(${lIds.length} merges)"
}

object BpeMergeTable {
  /** PUA placeholder base — merge rank r's product id, matching
    * [[graft.ops.BpeMiner.placeholder]].
    */
  val PlaceholderBase = 0xE000

  /** Minted-id base for imported multi-codepoint tokens: just above
    * Unicode, so no base character can collide.
    */
  val MintBase = 0x110000

  /** Self-mined dialect: `(l, r)` single-codepoint symbol pairs in
    * rank order, product = `0xE000 + rank`.
    */
  def fromRawMerges(merges: Seq[(String, String)]): BpeMergeTable = {
    def cpOf(s: String, what: String, rank: Int): Int = {
      require(s != null && s.nonEmpty &&
          s.length == Character.charCount(s.codePointAt(0)),
        s"raw merge $what at rank $rank must be a single codepoint, " +
          s"got '$s' — multi-codepoint tokens are the IMPORTED dialect " +
          "(fromSymbolMerges)")
      s.codePointAt(0)
    }
    val n = merges.length
    val l = new Array[Int](n); val r = new Array[Int](n)
    val o = new Array[Int](n)
    var i = 0
    merges.foreach { case (ls, rs) =>
      l(i) = cpOf(ls, "left", i + 1)
      r(i) = cpOf(rs, "right", i + 1)
      o(i) = PlaceholderBase + i
      i += 1
    }
    new BpeMergeTable(l, r, o)
  }

  /** Imported dialect (GPT-2-format `merges.txt` semantics): token
    * STRINGS whose merge product is their concatenation. Single-
    * codepoint tokens intern as their codepoint; each rank's product
    * mints `0x110000 + rank`; a multi-codepoint token that is not any
    * earlier rank's product (a dead merge — it can never occur in a
    * symbol stream) mints a unique id after the products.
    */
  def fromSymbolMerges(merges: Seq[(String, String)]): BpeMergeTable = {
    val n = merges.length
    val interned = new java.util.HashMap[String, Integer](n * 2)
    var nextDead = MintBase + n
    def intern(tok: String, rank: Int): Int = {
      require(tok != null && tok.nonEmpty,
        s"empty token in imported merge at rank $rank")
      if (tok.length == Character.charCount(tok.codePointAt(0)))
        tok.codePointAt(0)
      else {
        val got = interned.get(tok)
        if (got != null) got.intValue()
        else {
          val id = nextDead; nextDead += 1
          interned.put(tok, Integer.valueOf(id))
          id
        }
      }
    }
    val l = new Array[Int](n); val r = new Array[Int](n)
    val o = new Array[Int](n)
    var i = 0
    merges.foreach { case (ls, rs) =>
      l(i) = intern(ls, i + 1)
      r(i) = intern(rs, i + 1)
      val product = ls + rs
      val id = MintBase + i
      // first definition wins, like the rank map: a duplicate later
      // product is dead anyway
      if (!interned.containsKey(product))
        interned.put(product, Integer.valueOf(id))
      o(i) = interned.get(product).intValue()
      i += 1
    }
    new BpeMergeTable(l, r, o)
  }
}

/** `string` (NORMALIZED text — [[graft.ops.TextDedup.normText]]'s
  * contract: single-space separated, no PUA chars) →
  * `struct<n_tokens, ids_csv, head_ids>` against a [[BpeMergeTable]]
  * reference object: ONE plan node at any merge count. Parity-pinned
  * against the replayed merge chain in BpeMinerSpec.
  */
case class BpeEncodeExpr(child: Expression, table: BpeMergeTable)
    extends UnaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("ids_csv", StringType, nullable = false),
    StructField("head_ids", StringType, nullable = false)))
  override def prettyName: String = "graft_bpe_encode"
  override def nullSafeEval(input: Any): Any =
    table.dump(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.dump($c);")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** The count-only sibling of [[BpeEncodeExpr]]: `string` → `bigint`
  * token count, skipping the id materialization — the packing /
  * fertility column.
  */
case class BpeCountExpr(child: Expression, table: BpeMergeTable)
    extends UnaryExpression with GraftTypeChecks {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    requireTypes((child.dataType, "a string argument", isString))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bpe_count"
  override def nullSafeEval(input: Any): Any =
    table.countTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countTokens($c);")
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}
