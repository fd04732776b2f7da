package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the CHARACTER n-GRAM pass (q240's
  * Cavnar-Trenkle bigram profiles), with whole-stage codegen:
  *
  *   `char_grams(text, w)` ≡
  *   `transform(sequence(1, length(text) - w + 1),
  *      i -> substring(text, i, w))`
  *
  * — every width-w character window of the string, in order.
  * Bit-identical by construction: the window slices through
  * `UTF8String.substringSQL` (the exact runtime of Catalyst's
  * `substring` — character-based, UTF-8 aware). CharGramsSpec pins
  * the kernel against the declarative form on synthetic and corpus
  * input.
  *
  * Why a custom expression (optimization guide §4): the transform
  * lambda evaluates interpreted per position — a sequence array, a
  * boxed index, an interpreted substring call — and q240 pays it for
  * every character of the corpus. Inputs shorter than w characters
  * return an EMPTY array (callers filter `length(text) >= w`, the
  * same sequence-descends guard as the token kernels); NULL input
  * returns NULL. */
case class CharGrams(child: Expression, width: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if width >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType =>
      TypeCheckResult.TypeCheckFailure(s"char_grams needs width >= 1, got $width")
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_grams expects a string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "char_grams"

  override def nullSafeEval(input: Any): Any =
    CharGrams.compute(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharGrams.compute($c, $width);")

  override protected def withNewChildInternal(newChild: Expression): CharGrams =
    copy(child = newChild)
}

object CharGrams {

  /** The fused gram loop shared by eval and codegen. */
  def compute(s: UTF8String, width: Int): GenericArrayData = {
    val n = s.numChars()
    if (n < width) return new GenericArrayData(new Array[Any](0))
    val m = n - width + 1
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      // substringSQL is 1-based and character-counted — exactly
      // Catalyst's substring(text, i, w)
      out(i) = s.substringSQL(i + 1, width)
      i += 1
    }
    new GenericArrayData(out)
  }
}
