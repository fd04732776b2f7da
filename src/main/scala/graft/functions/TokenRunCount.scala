package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression counting segmentation tokens in ONE
  * UTF-8 byte walk, with whole-stage codegen — q202's kernel.
  *
  * Token rule (the engine-proof fertility segmentation): a token is a
  * maximal run of ASCII letters [A-Za-z], OR a maximal run of ASCII
  * digits [0-9], OR any single non-space char outside those classes
  * (space class = the explicit ASCII set [ \t\n\f\r]). CJK text
  * therefore tokenizes char-by-char — the Latin-centric-tokenizer
  * cost signal q202 exists to surface.
  *
  * Semantics are IDENTICAL to the declarative per-char class fold
  * (split('') + aggregate with the enc = n·4 + prevClass integer
  * accumulator) that the DuckDB oracle replays — pinned by
  * TokenRunCountSpec — except STRICTLY BETTER off the BMP: the byte
  * walk counts one "other" token per CODEPOINT (a UTF-8 leading byte
  * 0xC2-0xF4 counts, continuation bytes 0x80-0xBF are skipped),
  * matching DuckDB's codepoint semantics exactly, where the split('')
  * form would count a surrogate pair twice.
  *
  * Why a custom expression: the HOF fold allocates one 1-char string
  * per input char and runs interpreted (HOFs have no codegen) —
  * ~13× slower at sf0.1; this kernel is a branch-per-byte loop inside
  * the enclosing WholeStageCodegen stage, no allocation at all. */
case class TokenRunCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_runs expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_runs"

  override def nullSafeEval(input: Any): Any = {
    val bs = input.asInstanceOf[UTF8String].getBytes
    var n = 0L
    var prev = 0
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xFF
      if (b < 0x80 || b >= 0xC0) { // skip UTF-8 continuation bytes
        val cls =
          if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) 1
          else if (b >= '0' && b <= '9') 2
          else if (b == ' ' || b == '\t' || b == '\n' || b == '\f' || b == '\r') 0
          else 3
        if (cls == 3) n += 1L
        else if ((cls == 1 || cls == 2) && cls != prev) n += 1L
        prev = cls
      }
      i += 1
    }
    java.lang.Long.valueOf(n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bs = ctx.freshName("bs")
      val n = ctx.freshName("n")
      val prev = ctx.freshName("prev")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val cls = ctx.freshName("cls")
      s"""
         |byte[] $bs = $c.getBytes();
         |long $n = 0L;
         |int $prev = 0;
         |for (int $i = 0; $i < $bs.length; $i++) {
         |  int $b = $bs[$i] & 0xFF;
         |  if ($b < 0x80 || $b >= 0xC0) {
         |    int $cls;
         |    if (($b >= 'A' && $b <= 'Z') || ($b >= 'a' && $b <= 'z')) $cls = 1;
         |    else if ($b >= '0' && $b <= '9') $cls = 2;
         |    else if ($b == ' ' || $b == '\\t' || $b == '\\n' ||
         |             $b == '\\f' || $b == '\\r') $cls = 0;
         |    else $cls = 3;
         |    if ($cls == 3) $n++;
         |    else if (($cls == 1 || $cls == 2) && $cls != $prev) $n++;
         |    $prev = $cls;
         |  }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenRunCount =
    copy(child = newChild)
}
