package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression computing the FULL k-function minhash
  * signature of a shingle-hash set in ONE pass, with whole-stage
  * codegen.
  *
  * Semantics are IDENTICAL to the declarative form used by q35's
  * signature stage — k columns of
  * `array_min(transform(shs, x -> xxhash64(i, x)))` — because the
  * kernel reuses Catalyst's own XXH64 chain (seed 42, int arg then
  * long arg, exactly what the two-argument xxhash64(i, x) computes),
  * so swapping it in changes the physical plan only and the oracle
  * keeps passing bit-for-bit (pinned by MinhashSignatureSpec).
  *
  * Why a custom expression: the declarative form walks the array k
  * times per row and `transform` allocates an intermediate array per
  * (row, hash fn) — 48 arrays of ~100 longs per document. This kernel
  * is one fused element-major loop with a k-long output and a
  * per-partition precomputed seed table, inside the enclosing
  * WholeStageCodegen stage. */
case class MinhashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(s"minhash_sig needs k >= 1, got $k")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  // seed_i = xxhash64's hash of the int literal i under the default
  // seed 42 — the accumulated-seed chain the 2-arg xxhash64(i, x)
  // feeds into hashing x
  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null // mirror array_min's null on empty input
    val out = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      var i = 0
      while (i < k) {
        val h = XXH64.hashLong(x, seeds(i))
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val seedsRef = ctx.addMutableState("long[]", "minhashSeeds",
        v => s"""$v = new long[$k];
                |for (int i = 0; i < $k; i++) {
                |  $v[i] = $xxh.hashInt(i, 42L);
                |}""".stripMargin, forceInline = false)
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val x = ctx.freshName("x")
      val h = ctx.freshName("h")
      s"""
         |int $n = $c.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $out = new long[$k];
         |  java.util.Arrays.fill($out, Long.MAX_VALUE);
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $x = $c.getLong($j);
         |    for (int $i = 0; $i < $k; $i++) {
         |      long $h = $xxh.hashLong($x, $seedsRef[$i]);
         |      if ($h < $out[$i]) $out[$i] = $h;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}
