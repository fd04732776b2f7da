package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the TF-IDF family's tokenize +
  * per-doc term-count pass (round-17, optimization-guide §2.3
  * "aggregate before you shuffle" / §4 "eliminate non-codegen work in
  * the hot path").
  *
  * `token_counts(text)` ≡ the per-doc aggregation of
  * `explode(split(text, ' '))`: a struct
  *
  *   (n_all    BIGINT,   -- total tokens, empties included
  *                       --   = size(split(text, ' '))
  *    n_ne     BIGINT,   -- non-empty tokens
  *                       --   = size(filter(split(text,' '), w -> length(w) > 0))
  *    tcs      ARRAY<STRUCT<token STRING, cnt BIGINT>>)
  *                       -- one entry per DISTINCT token (empty-string
  *                       -- token included), first-occurrence order,
  *                       -- cnt = occurrences in this doc
  *
  * The declarative tf shape (`explode` → per-occurrence rows →
  * `groupBy(doc_id, token)`) materializes one UnsafeRow per token
  * OCCURRENCE and probes the hash aggregate once per occurrence
  * before the partial agg shrinks anything; this kernel is the same
  * hash-count as ONE compiled loop per document, so the Generate only
  * ever emits the per-doc DISTINCT (token, cnt) pairs — the frame the
  * old plan produced only after its exchange. Counts are exact
  * integers, so equivalence is row-set equality, pinned by
  * TokenCountsSpec on synthetic edges (empty text, doubled/leading/
  * trailing spaces, multibyte) and the corpus fixture.
  *
  * Tokenization is bit-exact with `split(text, ' ')`: the same
  * `UTF8String.split(pattern, -1)` runtime Catalyst's StringSplit
  * calls (trailing empty strings kept, "" splits to [""]). NULL text
  * returns NULL (the explode of a null array emitted no rows; callers
  * read fields of a NULL struct as NULL and the downstream explode
  * drops them identically). */
case class TokenCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_counts expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = TokenCounts.schema
  override def nullable: Boolean = true
  override def prettyName: String = "token_counts"

  override def nullSafeEval(input: Any): Any =
    TokenCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static call per row — the loop lives in compiled bytecode
      // and the expression stays inside the enclosing codegen stage
      s"${ev.value} = graft.functions.TokenCounts.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {

  private[functions] val schema: StructType = StructType(Seq(
    StructField("n_all", LongType, nullable = false),
    StructField("n_ne", LongType, nullable = false),
    StructField("tcs", ArrayType(StructType(Seq(
      StructField("token", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
      containsNull = false), nullable = false)))

  private val Space = UTF8String.fromString(" ")

  /** The fused tokenize-and-count loop shared by eval and codegen. */
  def compute(text: UTF8String): InternalRow = {
    // the exact split(text, ' ') runtime (regex path, limit -1:
    // trailing empties kept, "" -> [""])
    val toks = text.split(Space, -1)
    var nAll = 0L
    var nNe = 0L
    // first-occurrence order, value-based UTF8String keys (split
    // returns fresh copies, never views into a reused buffer)
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]](
      toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      nAll += 1L
      if (t.numBytes > 0) nNe += 1L
      val slot = counts.get(t)
      if (slot == null) counts.put(t, Array(1L)) else slot(0) += 1L
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0)))
      k += 1
    }
    new GenericInternalRow(Array[Any](nAll, nNe, new GenericArrayData(out)))
  }
}
