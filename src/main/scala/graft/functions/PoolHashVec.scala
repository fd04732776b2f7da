package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression for the suite's POOLED TOKEN VECTOR
  * (q231's chunk/query embedding derivation), with whole-stage
  * codegen: dim i ∈ 1..k of a reduced-token-hash array `hs` is
  *
  *   (Σ_j (hs[j] · i) % 2003 − 1001) / size(hs)
  *
  * — mean-pooled deterministic token vectors, exactly the declarative
  * form
  *
  *   transform(sequence(1, k), i ->
  *     aggregate(hs, CAST(0 AS BIGINT),
  *       (a, h) -> a + h * i % 2003 - 1001) / CAST(size(hs) AS DOUBLE))
  *
  * (PoolHashVecSpec pins kernel ≡ declarative on the corpus fixture,
  * so swapping it into a query changes the physical plan only and the
  * DuckDB oracle keeps passing bit-for-bit).
  *
  * Why a custom expression (optimization guide §"eliminate non-codegen
  * expressions in the hot path"): higher-order functions run on
  * Catalyst's INTERPRETED path — the transform×aggregate nest
  * evaluates a boxed lambda per (dim, token), k·|hs| invocations per
  * row, and q231 pays it for every overlapping chunk of the corpus.
  * This kernel is one fused primitive-long loop inside the enclosing
  * WholeStageCodegen stage.
  *
  * Contract: `hs` must carry PRE-REDUCED non-negative hashes
  * (< 100003, the q231 projection) — the long products then stay far
  * from overflow, so Java and ANSI-SQL arithmetic agree. All
  * accumulation is exact integer; the final division is one IEEE
  * double op (sums are ≤ |hs|·1001 ≪ 2^53). Empty or null-element
  * inputs return NULL (the q231 chunker never produces either — every
  * chunk holds ≥ 1 token). */
case class PoolHashVec(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"pool_hash_vec needs k >= 1, got $k")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"pool_hash_vec expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pool_hash_vec"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val sums = new Array[Long](k)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) return null
      val h = arr.getLong(j)
      var i = 0
      while (i < k) {
        sums(i) += h * (i + 1) % 2003 - 1001
        i += 1
      }
      j += 1
    }
    val out = new Array[Double](k)
    var i = 0
    while (i < k) { out(i) = sums(i).toDouble / n.toDouble; i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val sums = ctx.freshName("sums")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sums = new long[$k];
         |  boolean $bad = false;
         |  for (int $j = 0; $j < $n && !$bad; $j++) {
         |    if ($c.isNullAt($j)) { $bad = true; break; }
         |    long $h = $c.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      $sums[$i] += $h * ($i + 1) % 2003L - 1001L;
         |    }
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    double[] $out = new double[$k];
         |    for (int $i = 0; $i < $k; $i++) {
         |      $out[$i] = (double) $sums[$i] / (double) $n;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PoolHashVec =
    copy(child = newChild)
}
