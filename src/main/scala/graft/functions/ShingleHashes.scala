package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the suite's TOKEN-SHINGLE HASH pass
  * — the derivation at the base of the whole dedup family (inverted
  * index, minhash/LSH bands, pair graph, dup-run postings, n-gram
  * decontamination, stop-shingle audits), with whole-stage codegen.
  *
  * Two registered forms over a token array `toks` and a literal
  * window width `w`:
  *
  *   - `shingle_hashes(toks, w)` ≡
  *     `array_distinct(transform(sequence(1, size(toks) - w + 1),
  *        i -> xxhash64(concat_ws(' ', slice(toks, i, w)))))`
  *     (first-occurrence order, exactly array_distinct's);
  *   - `shingle_hashes_all(toks, w)` ≡ the same `transform` WITHOUT
  *     the array_distinct — the positional form whose posexplode
  *     index is the 0-based shingle start (the dup-run postings
  *     shape).
  *
  * Bit-identical to the declarative nest by construction: the
  * w-token window joins through `UTF8String.concatWs` (the exact
  * runtime of Catalyst's ConcatWs, including its skip-null semantics)
  * and hashes through `XXH64.hashUnsafeBytes` at seed 42 (the exact
  * runtime of 1-arg xxhash64 over a string). ShingleHashesSpec pins
  * both forms against the declarative expressions on synthetic and
  * corpus input, order included.
  *
  * Why a custom expression (optimization guide §"eliminate non-codegen
  * expressions in the hot path"): higher-order functions evaluate on
  * Catalyst's INTERPRETED path — per position the lambda allocates a
  * slice array, an interpreted concat, and an interpreted hash call,
  * and array_distinct re-walks the result; this is the single biggest
  * per-row cost in every shingling query (q259's whole derivation was
  * one 1.9 s job dominated by it). The kernel is one fused loop.
  *
  * Inputs shorter than w tokens return an EMPTY array — every caller
  * filters `size(toks) >= w` first (the declarative form is undefined
  * there: `sequence(1, 0)` DESCENDS, the round-6 gotcha). A NULL
  * array returns NULL; NULL elements follow concat_ws's skip. */
case class ShingleHashes(child: Expression, width: Int, distinct: Boolean)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if width >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes needs width >= 1, got $width")
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String =
    if (distinct) "shingle_hashes" else "shingle_hashes_all"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[ArrayData], width, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static call per row — the loop lives in compiled bytecode
      // and the expression stays inside the enclosing codegen stage
      s"${ev.value} = graft.functions.ShingleHashes.compute($c, $width, $distinct);"
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  private val Space = UTF8String.fromString(" ")

  /** The fused shingling loop shared by eval and codegen. */
  def compute(toks: ArrayData, width: Int, distinct: Boolean): ArrayData = {
    val n = toks.numElements()
    if (n < width) return new GenericArrayData(Array.emptyLongArray)
    val m = n - width + 1
    val out = new Array[Long](m)
    val window = new Array[UTF8String](width)
    var k = 0
    val seen = if (distinct) new java.util.HashSet[java.lang.Long](m * 2) else null
    var i = 0
    while (i < m) {
      var j = 0
      while (j < width) { window(j) = toks.getUTF8String(i + j); j += 1 }
      val s = UTF8String.concatWs(Space, window: _*)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      if (distinct) { if (seen.add(h)) { out(k) = h; k += 1 } }
      else { out(k) = h; k += 1 }
      i += 1
    }
    new GenericArrayData(if (k == m) out else java.util.Arrays.copyOf(out, k))
  }
}
