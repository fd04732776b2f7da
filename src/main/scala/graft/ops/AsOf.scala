package graft.ops

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import graft.plans.{AsOfDirection, AsOfJoin}

/** User-facing API for the native as-of join (see
  * [[graft.plans.AsOfJoinExec]] for semantics and scale design).
  *
  * Columns are resolved by NAME against each side's analyzed output,
  * so callers never touch Catalyst expressions. The planner strategy
  * and the filter/limit pushdown rules come from
  * [[graft.functions.GraftExtensions]], which every
  * `graft.GraftSession` installs; this helper only builds the plan.
  *
  * Directions mirror pandas `merge_asof` / DuckDB's ASOF inequality:
  * backward (right ts ≤ left ts, the default), forward (right ts ≥
  * left ts), nearest (closer of the two; tie → backward).
  *
  * `tolerance` mirrors pandas `merge_asof(tolerance=)`: the maximum
  * admissible |left ts − right ts| in the ts type's INTERNAL units
  * (MICROSECONDS for timestamp, days for date, the raw value for
  * numerics) — a candidate farther than the bound null-extends instead
  * of matching, because in production a stale match is worse than no
  * match. Requires a numerically-representable ts type, like
  * nearest. */
object AsOf {

  def joinBackward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      tolerance: Option[Double] = None): DataFrame =
    join(left, right, leftKey, rightKey, leftTs, rightTs,
      AsOfDirection.Backward, tolerance)

  def joinForward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      tolerance: Option[Double] = None): DataFrame =
    join(left, right, leftKey, rightKey, leftTs, rightTs,
      AsOfDirection.Forward, tolerance)

  def joinNearest(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      tolerance: Option[Double] = None): DataFrame =
    join(left, right, leftKey, rightKey, leftTs, rightTs,
      AsOfDirection.Nearest, tolerance)

  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      direction: AsOfDirection,
      tolerance: Option[Double] = None): DataFrame = {
    val spark = left.sparkSession
    def attr(df: DataFrame, name: String) =
      df.queryExecution.analyzed.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asof: column $name not found in [${df.columns.mkString(", ")}]"))
    // self-join safety: a custom node gets no DeduplicateRelations
    // pass, so if the two sides share attribute ids (same DataFrame or
    // a common subplan), re-alias the right side to mint fresh ids
    val leftPlan = left.queryExecution.analyzed
    val rightRaw = right.queryExecution.analyzed
    val rightDf =
      if (leftPlan.outputSet.intersect(rightRaw.outputSet).isEmpty) right
      else right.toDF(right.columns: _*)
    val lk = attr(left, leftKey); val rk = attr(rightDf, rightKey)
    val lts = attr(left, leftTs); val rts = attr(rightDf, rightTs)
    require(lk.dataType == rk.dataType,
      s"asof: key types differ (${lk.dataType.simpleString} vs ${rk.dataType.simpleString})")
    require(lts.dataType == rts.dataType,
      s"asof: ts types differ (${lts.dataType.simpleString} vs ${rts.dataType.simpleString})")
    // Nearest (and any tolerance bound) computes |left ts - right ts|
    // on the INTERNAL values, which only works when they are numbers
    // (numeric, timestamp = micros, date = days). Backward/Forward
    // without tolerance need only an ordering. Reject unsupported
    // combinations at plan time — the alternative is a per-row crash
    // mid-merge after the exchanges already ran.
    if (direction == AsOfDirection.Nearest || tolerance.isDefined) {
      import org.apache.spark.sql.types._
      val ok = lts.dataType match {
        case _: NumericType | TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }
      require(ok, s"asof: ts type ${lts.dataType.simpleString} has no numeric " +
        "distance (needed for nearest/tolerance); use backward/forward without " +
        "tolerance, or cast the ts to a numeric/timestamp type")
    }
    tolerance.foreach(t => require(t >= 0,
      s"asof: tolerance must be non-negative, got $t"))
    val plan = AsOfJoin(leftPlan, rightDf.queryExecution.analyzed,
      lk, rk, lts, rts, direction, tolerance)
    GraftSqlBridge.ofRows(spark, plan)
  }
}
