package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, IntegerLiteral, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalLimit, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: push left-side conjuncts of a Filter through
  * [[AsOfJoin]]. Catalyst cannot see through a custom node, so without
  * this rule `asof.filter(left_pred)` evaluates AFTER the join — the
  * predicate never reaches the parquet scan and the join processes
  * rows the query immediately discards. Only LEFT-side deterministic
  * predicates are safe: every left row survives the join exactly once
  * (left-outer semantics), so filtering before ≡ filtering after;
  * right-side predicates are NOT pushable (the null-extended
  * non-match rows would change).
  *
  * Registered via `GraftExtensions.injectOptimizerRule`, so it runs in
  * the operator-optimization batch alongside Catalyst's own pushdowns.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j @ AsOfJoin(l, _, _, _, _, _, _, _)) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(l.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(push.reduce(And), l))
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Optimizer rule: push a LocalLimit through [[AsOfJoin]] to its LEFT
  * child — the same move Spark's own LimitPushDown makes for the
  * preserved side of outer joins, legal here because the as-of join
  * emits EXACTLY one row per left row (matched or null-extended),
  * never filtering and never duplicating. Without it,
  * `asof.limit(n)` merges and shuffles the full right side for left
  * rows the limit immediately discards; with it the left exchange
  * carries n rows. An un-ordered limit is an arbitrary-subset
  * contract in Spark, so pushing cannot change observable semantics.
  * The guard stops re-application once the child is already limited. */
object PushLimitThroughAsOfJoin extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case ll @ LocalLimit(IntegerLiteral(n), j @ AsOfJoin(l, _, _, _, _, _, _, _)) =>
      l match {
        case LocalLimit(IntegerLiteral(m), _) if m <= n => ll
        case _ => ll.copy(child = j.copy(left = LocalLimit(ll.limitExpr, l)))
      }
  }
}
