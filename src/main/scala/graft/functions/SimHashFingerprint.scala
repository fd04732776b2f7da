package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression computing a Charikar SimHash fingerprint
  * from an array of token hashes in ONE pass, with whole-stage codegen.
  *
  * Semantics are IDENTICAL to q36's declarative form — `bits` scalar
  * `aggregate(hs, 0L, (acc, h) -> acc ± 1)` bit-vote folds plus the
  * when/bitwiseOR reassembly — all-integer math, so bit-identity is
  * exact by construction (pinned by SimHashFingerprintSpec). Empty
  * arrays fold to fingerprint 0 exactly like the empty aggregate()
  * seeds.
  *
  * Why a custom expression: the declarative form walks the token-hash
  * array once PER BIT (60 lambda-evaluated HOF folds per row — HOFs
  * also have no codegen, so the projection runs interpreted); this
  * kernel is one element-major loop over a `bits`-counter table inside
  * the enclosing WholeStageCodegen stage. */
case class SimHashFingerprint(child: Expression, bits: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bits >= 1 && bits <= 64 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"simhash_fp needs 1 <= bits <= 64, got $bits")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"simhash_fp expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash_fp"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](bits)
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      var b = 0
      while (b < bits) {
        votes(b) += (if (((x >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      j += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val x = ctx.freshName("x")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $c.numElements();
         |long[] $votes = new long[$bits];
         |for (int $j = 0; $j < $n; $j++) {
         |  long $x = $c.getLong($j);
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $votes[$b] += (((($x >> $b) & 1L) == 1L) ? 1L : -1L);
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashFingerprint =
    copy(child = newChild)
}
