package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.plans.{AsOfJoinStrategy, PushFilterThroughAsOfJoin, PushLimitThroughAsOfJoin}

/** The one registry of graft's native Catalyst surface: the codegen
  * functions, the as-of join planner strategy and the two optimizer
  * rules that see through the custom node. `graft.GraftSession.local`
  * installs it in every session it builds
  * (`spark.sql.extensions=graft.functions.GraftExtensions`), and any
  * pure-SQL or third-party session can load it the same way.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      extensions.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    extensions.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // Catalyst cannot push filters or limits through a custom node by
    // itself
    extensions.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    extensions.injectOptimizerRule(_ => PushLimitThroughAsOfJoin)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def nArgs(name: String, n: Int, exprs: Seq[Expression]): Unit =
    require(exprs.length == n, s"$name takes $n argument(s), got ${exprs.length}")

  /** `name(x, n)` where n is an integer literal: it sizes, or is baked
    * into, the generated kernel. A BIGINT literal is accepted; a
    * non-foldable n or a wrong arity gets a readable error, not a
    * ClassCastException. */
  private def withLiteralInt(name: String)(f: (Expression, Int) => Expression): Builder =
    exprs => {
      nArgs(name, 2, exprs)
      require(exprs(1).foldable, s"$name(x, n) needs a literal n")
      f(exprs(0), exprs(1).eval() match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"$name: n must be an integer literal, got $other")
      })
    }

  private def unary(name: String)(f: Expression => Expression): Builder =
    exprs => { nArgs(name, 1, exprs); f(exprs(0)) }

  private val functions: Seq[(String, Class[_], Builder)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], exprs => {
      nArgs("cosine_sim", 2, exprs); CosineSimilarity(exprs(0), exprs(1))
    }),
    ("minhash_sig", classOf[MinhashSignature],
      withLiteralInt("minhash_sig")(MinhashSignature(_, _))),
    ("simhash_fp", classOf[SimHashFingerprint],
      withLiteralInt("simhash_fp")(SimHashFingerprint(_, _))),
    ("pool_hash_vec", classOf[PoolHashVec],
      withLiteralInt("pool_hash_vec")(PoolHashVec(_, _))),
    ("char_grams", classOf[CharGrams],
      withLiteralInt("char_grams")(CharGrams(_, _))),
    ("shingle_hashes", classOf[ShingleHashes],
      withLiteralInt("shingle_hashes")(ShingleHashes(_, _, true))),
    ("shingle_hashes_all", classOf[ShingleHashes],
      withLiteralInt("shingle_hashes_all")(ShingleHashes(_, _, false))),
    ("token_counts", classOf[TokenCounts], unary("token_counts")(TokenCounts(_))),
    ("token_runs", classOf[TokenRunCount], unary("token_runs")(TokenRunCount(_))))
}
