package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, GenericInternalRow,
  JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF (backward) join as a first-class Catalyst operator — the
  * whole-operator custom surface from SURVEY §7.3: logical node +
  * planner strategy + physical merge-scan, registered through
  * `GraftExtensions`.
  *
  * Semantics: for every left row, append the SINGLE right row with the
  * same key and the greatest right-ts ≤ left-ts; no match → right side
  * null (left-outer as-of, DuckDB `ASOF LEFT JOIN` ≡ pandas
  * `merge_asof` backward).
  *
  * Why a custom operator instead of the union+window rewrite (q54):
  * the rewrite materializes BOTH event streams through one window and
  * carries every right column forward through the frame; the native
  * operator is a single forward merge over the two sorted,
  * co-partitioned children — O(n+m) per partition, no window state,
  * no union, and the requirements (hash on key, sort by (key, ts))
  * are declared to EnsureRequirements, so Catalyst plans the minimal
  * exchanges exactly as it would for a sort-merge join. At 100 TB both
  * sides shuffle once on the key — same cost envelope as any
  * co-partitioned join, with AQE free to COALESCE the exchanges
  * (they are ordinary shuffle exchanges). AQE skew-join SPLITTING does
  * not apply — OptimizeSkewedJoin only matches SMJ/SHJ — and must not:
  * the per-partition merge requires every row of a key in one
  * partition. A skewed key here means a hot time series; the mitigation
  * is upstream (e.g. sub-key bucketing by coarse time range), not plan
  * surgery.
  */
/** Match direction, mirroring pandas merge_asof / DuckDB's ASOF
  * inequality choice: Backward = greatest right ts ≤ left ts (the
  * default), Forward = smallest right ts ≥ left ts, Nearest = whichever
  * of the two is closer in time (tie → backward). All three run on the
  * SAME single forward merge — direction only changes which cursor
  * provides the match, never the scan shape or the distribution/
  * ordering contract. */
sealed trait AsOfDirection
object AsOfDirection {
  case object Backward extends AsOfDirection
  case object Forward extends AsOfDirection
  case object Nearest extends AsOfDirection
}

/** `tolerance`: optional maximum |left ts − right ts| in the ts type's
  * INTERNAL units (micros for timestamp, days for date, the raw value
  * for numerics) — pandas `merge_asof(tolerance=)` / the bounded-ASOF
  * production form, where a stale match is worse than no match. A
  * candidate farther than the bound null-extends instead of matching.
  * Enforced as a post-pick distance check in the merge — the cursor
  * discipline is unchanged, and for backward/forward the rejected
  * candidate is by construction the CLOSEST one on that side, so no
  * earlier/later row could qualify either. */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    direction: AsOfDirection = AsOfDirection.Backward,
    tolerance: Option[Double] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] into [[AsOfJoinExec]]; everything else falls
  * through to the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, dir, tol) =>
      AsOfJoinExec(lk, rk, lts, rts, planLater(l), planLater(r), dir, tol) :: Nil
    case _ => Nil
  }
}

/** Physical as-of merge: children are hash-distributed on the key and
  * sorted by (key, ts) — both REQUIRED, never done by hand, so
  * EnsureRequirements inserts (and AQE optimizes) the exchanges/sorts.
  * Each partition then runs one forward scan: the right cursor only
  * advances, keeping the latest right row whose (key, ts) is ≤ the
  * current left row — O(n+m) time, O(1) state (one buffered row). */
case class AsOfJoinExec(
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    left: SparkPlan, right: SparkPlan,
    direction: AsOfDirection = AsOfDirection.Backward,
    tolerance: Option[Double] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
    ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output; val rOut = right.output
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val outAttrs = output
    val lkExpr = leftKey; val rkExpr = rightKey
    val ltsExpr = leftTs; val rtsExpr = rightTs
    val dir = direction
    val tol = tolerance
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(lkExpr, lOut)
      val lts = BindReferences.bindReference(ltsExpr, lOut)
      val rk = BindReferences.bindReference(rkExpr, rOut)
      val rts = BindReferences.bindReference(rtsExpr, rOut)
      val joined = new JoinedRow
      val rightNulls = new GenericInternalRow(rOut.length)
      // bind against the NULLABILITY-ADJUSTED output attrs, not the raw
      // child attrs: a non-nullable right column bound as non-nullable
      // would codegen without the isNullAt check and read 0 instead of
      // NULL for unmatched rows
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      // |left ts - right ts| for Nearest: internal ts representations
      // are numbers (timestamp/date = micros/days, numerics as-is);
      // values this close together subtract exactly in a double
      def tsDist(a: Any, b: Any): Double = (a, b) match {
        case (x: java.lang.Number, y: java.lang.Number) =>
          math.abs(x.doubleValue() - y.doubleValue())
        case _ => throw new IllegalStateException(
          s"asof nearest: non-numeric ts representation ${a.getClass}")
      }
      new Iterator[InternalRow] {
        // rCur: the copied latest right row with (key, ts) ≤ the current
        // left (key, ts) — the BACKWARD candidate; rNext: the first
        // un-consumed right row, which after the scan loop is the
        // FORWARD candidate (same key, ts > left ts) or the next key.
        // Keys/ts of rCur are evaluated on the COPY (safe against
        // buffer reuse).
        private var rNext: InternalRow = if (rIter.hasNext) rIter.next() else null
        private var rCur: InternalRow = null
        private var rCurKey: Any = null
        private var rCurTs: Any = null
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lkV = lk.eval(l); val ltsV = lts.eval(l)
          if (lkV == null || ltsV == null) return proj(joined(l, rightNulls))
          var scan = true
          while (scan && rNext != null) {
            val rkV = rk.eval(rNext); val rtsV = rts.eval(rNext)
            if (rkV == null || rtsV == null) {
              // null key/ts can never match; sorted nulls-first, so
              // they all drain here at the front
              rNext = if (rIter.hasNext) rIter.next() else null
            } else {
              val c = keyOrd.compare(rkV, lkV)
              if (c < 0) {
                // keys are ascending on both sides: this right key is
                // done for good
                rCur = null; rCurKey = null; rCurTs = null
                rNext = if (rIter.hasNext) rIter.next() else null
              } else if (c == 0 && tsOrd.compare(rtsV, ltsV) <= 0) {
                rCur = rNext.copy(); rCurKey = rk.eval(rCur); rCurTs = rts.eval(rCur)
                rNext = if (rIter.hasNext) rIter.next() else null
              } else scan = false // right is ahead of this left row
            }
          }
          val back = rCurKey != null && keyOrd.compare(rCurKey, lkV) == 0
          // forward candidate: an exact-ts right row was consumed into
          // rCur (distance 0 — it IS the minimal ≥); otherwise the
          // un-consumed cursor if it is still on this key
          val fwd: InternalRow =
            if (back && tsOrd.compare(rCurTs, ltsV) == 0) rCur
            else if (rNext != null && {
              val rkV = rk.eval(rNext)
              rkV != null && keyOrd.compare(rkV, lkV) == 0
            }) rNext
            else null
          val m: InternalRow = dir match {
            case AsOfDirection.Backward => if (back) rCur else null
            case AsOfDirection.Forward => fwd
            case AsOfDirection.Nearest => (back, fwd) match {
              case (false, _) => fwd
              case (true, null) => rCur
              case (true, f) =>
                // tie → backward, matching pandas merge_asof and the
                // (abs-diff, right-ts) argmin oracle formulation
                if (tsDist(ltsV, rCurTs) <= tsDist(ltsV, rts.eval(f))) rCur else f
            }
          }
          // tolerance: the picked candidate is the closest admissible
          // one for its direction (backward → latest ≤, forward →
          // earliest ≥, nearest → min distance), so if IT exceeds the
          // bound, nothing qualifies — null-extend
          val within: InternalRow =
            if (m != null && tol.exists(t => tsDist(ltsV, rts.eval(m)) > t)) null
            else m
          proj(joined(l, if (within != null) within else rightNulls))
        }
      }
    }
  }
}
