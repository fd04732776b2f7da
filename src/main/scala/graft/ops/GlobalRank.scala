package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global row numbers / running sums over a total order —
  * the two-phase range-partition pattern, built as ONE logical plan.
  *
  * The scale problem: an unpartitioned `Window.orderBy(...)` funnels
  * the entire dataset through a single WindowExec task; at 100 TB that
  * task never finishes. The classic fix is range-partition on the sort
  * key, number rows locally per partition, and add per-partition prefix
  * offsets. The TRAP in that fix is computing the offsets with a
  * driver-side `collect()` of the per-partition counts: that splits the
  * computation into two ACTIONS over the same range exchange, and
  * `repartitionByRange` samples its partition bounds with a
  * per-execution seed — the two actions can disagree on the layout and
  * silently corrupt every rank (a `.cache()` only masks it until
  * eviction). See the round-4 fix in [[Quantiles]] (commit `898b510`).
  *
  * Here everything is one plan: the offsets branch and the ranked
  * branch share the SAME range exchange (ReuseExchange dedupes them —
  * one execution, one layout), and the prefix sums run as a window
  * over a table of (range partition, group) CELLS ([[cellSums]]),
  * which has at most partitions + groups − 1 rows — never one row per
  * data row. Nothing is collected, and there is no SECOND ACTION
  * anywhere. One core, [[rangeRanked]], serves both the global row
  * numbers ([[withRowNumbers]]: one group of all rows) and the exact
  * quantiles' in-group ranks ([[Quantiles]]).
  *
  * The sorted/numbered intermediate IS cached (`MEMORY_AND_DISK` via
  * `.cache()`), for a different reason than the rejected two-action
  * layout ever had: exchange reuse dedupes only the SHUFFLE — every
  * consumer branch of the exchange (the cells aggregate, the ranked
  * rows, and whatever a composing caller adds) re-runs its own
  * sortWithinPartitions over the full data, each a full-data sort
  * (measured 3× the whole query cost at sf0.1 when a composed plan
  * fanned out to several branches). Caching the narrow sorted
  * projection makes the scan + sort + shuffle happen once; the
  * branches re-read the cached blocks. If a block is evicted
  * mid-query, the branch recomputes THROUGH THE SAME materialized
  * exchange (partition bounds cannot diverge within one execution;
  * only tie order can shift, and callers' asserts trip on any rank
  * inconsistency), so this cache is an operational dedup —
  * correctness never depends on it.
  */
object GlobalRank {

  /** All rows of a tiny cells table share this constant partition key
    * when there are no groups — single-partition ON PURPOSE (≤ one row
    * per DATA partition flows through the window) without WindowExec's
    * "No Partition Defined" warning drowning real log anomalies. It
    * must be derived from a column, not `lit(0)`: Spark 4's
    * EliminateWindowPartitions strips foldable partition expressions,
    * which would restore the empty spec and the warning. */
  private[ops] def constKey(pidCol: Column): Column = pmod(pidCol, lit(1))

  /** Sums of `c` over a table of (range partition `pidCol`, group)
    * cells — at most partitions + groups − 1 rows, since groups are
    * contiguous in the range order: per cell, over the group's EARLIER
    * cells (0 for the first) and over all of them. No groups ⇒ one
    * group of all cells, partitioned by [[constKey]]. */
  private[ops] def cellSums(pidCol: String, groupCols: Seq[String], c: Column): (Column, Column) = {
    val w = (if (groupCols.isEmpty) Window.partitionBy(constKey(col(pidCol)))
             else Window.partitionBy(groupCols.map(col): _*)).orderBy(col(pidCol))
    (coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
      sum(c).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Inner join on `keys` with NULL-SAFE equality — a plain equi-join
    * would silently drop any group whose key is NULL (the groupBy
    * side emits the null group; the join back would not match it).
    * `broadcastRight` marks the right side for broadcast. */
  private[ops] def nullSafeJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], broadcastRight: Boolean = false): DataFrame = {
    val renamed = keys.foldLeft(right)((df, k) => df.withColumnRenamed(k, s"_ns_$k"))
    val r = if (broadcastRight) broadcast(renamed) else renamed
    val cond = keys.map(k => col(k) <=> col(s"_ns_$k")).reduce(_ && _)
    left.join(r, cond).drop(keys.map(k => s"_ns_$k"): _*)
  }

  /** [[rangeRanked]]'s result: the cached range-sorted table `local`
    * (the input's columns and `_gr_mid`) and its rows `withRank`, the
    * input's columns plus `_gr_n`, the group's size, and `_gr_rank`,
    * the row's 0-based rank in its group. */
  private[ops] case class Ranked(local: DataFrame, withRank: DataFrame)

  /** The range-rank core: ranks every row of `df` within its group of
    * `groupCols` (none ⇒ one group of all rows) over the order of
    * `sortCols`, which must begin with the group columns so each group
    * is contiguous in the range order. One range exchange, one local
    * sort, and `monotonically_increasing_id` over the cached sorted
    * table: it encodes exactly (partition id << 33) + position as a
    * narrow codegen'd projection, where a `Window.partitionBy(pid)`
    * would re-shuffle and re-sort data the exchange just ordered. A
    * cell's ids are consecutive, so a row's rank is its id minus its
    * cell's first id plus the group's rows in earlier cells — one
    * aggregate to the cells table, one window over it, one join back. */
  private[ops] def rangeRanked(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column]): Ranked = {
    val gcols: Seq[Column] = groupCols.map(col)
    val pid = shiftright(col("_gr_mid"), 33)
    // the position has 33 bits, and a partition would need 8.5 billion
    // rows to carry into the partition bits — fail loud rather than
    // rank wrong if the partitioning is ever that degenerate
    val local = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_gr_mid", monotonically_increasing_id())
      .withColumn("_gr_mid", when(pid =!= spark_partition_id(), raise_error(lit(
        "global rank: a range partition exceeds 2^33 rows — repartition " +
          "finer first"))).otherwise(col("_gr_mid")))
      .cache() // see object doc: dedups the per-branch sort, not the exchange
    val cells = local.groupBy(pid.as("_gr_pid") +: gcols: _*)
      .agg(count(lit(1)).as("_gr_cnt"), min(col("_gr_mid")).as("_gr_m0"))
    val (earlier, size) = cellSums("_gr_pid", groupCols, col("_gr_cnt"))
    val offsets = cells.select(col("_gr_pid") +: gcols :+
      (earlier - col("_gr_m0")).as("_gr_base") :+ size.as("_gr_n"): _*)
    // ungrouped, the offsets table has one row per partition — broadcast
    // it. Grouped, it has a row per group, which callers may make huge
    // (per-user quantiles) — no forced broadcast; AQE picks BHJ when the
    // runtime size is small and a shuffle join when it is not.
    val withRank = nullSafeJoin(local.withColumn("_gr_pid", pid), offsets,
        "_gr_pid" +: groupCols, broadcastRight = groupCols.isEmpty)
      .withColumn("_gr_rank", col("_gr_mid") + col("_gr_base"))
      .drop("_gr_mid", "_gr_pid", "_gr_base")
    Ranked(local, withRank)
  }

  /** Adds a 1-based global row number `rnCol` over the total order of
    * `sortCols` (and optionally the total row count `totalCol`, the
    * same long on every row) to `df` — the ungrouped [[rangeRanked]].
    * Ties in `sortCols` get arbitrary but CONSISTENT numbers — pass a
    * tie-breaking column for determinism. */
  def withRowNumbers(
      df: DataFrame,
      sortCols: Seq[Column],
      rnCol: String,
      totalCol: Option[String] = None): DataFrame = {
    val ranked = rangeRanked(df, Nil, sortCols).withRank
      .withColumn(rnCol, col("_gr_rank") + 1)
    totalCol.fold(ranked.drop("_gr_n"))(t => ranked.withColumnRenamed("_gr_n", t))
      .drop("_gr_rank")
  }

  /** Adds the global running sum `outCol` of long column `valueCol`
    * (inclusive of the current row) over the total order of `sortCols`
    * — distributed, one plan.
    *
    * The local cumulative sum runs as a narrow `mapPartitions` in the
    * order the range exchange already produced (a
    * `Window.partitionBy(pid)` would re-shuffle and re-sort); the
    * per-partition totals then turn local into global sums through the
    * same bounded cells-table window as [[withRowNumbers]].
    * `valueCol` must be a non-null long — filter/coalesce first. A
    * NULL raises in-plan with a readable message (same fail-loud
    * stance as the weighted-quantile negative-weight check) instead
    * of surfacing as an opaque executor NPE from `getLong`. */
  def withRunningSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      outCol: String): DataFrame =
    withRunningSums(df, sortCols, Seq(valueCol -> outCol))

  /** Multi-column form of [[withRunningSum]]: every (valueCol, outCol)
    * pair gets its global running sum over ONE range exchange, one
    * local sort, one narrow cumulative pass, and one offsets join —
    * callers needing several cumulative columns on the same order
    * (the KS statistic's two sample counts, debit/credit balances)
    * previously paid a full re-exchange per column. */
  def withRunningSums(
      df: DataFrame,
      sortCols: Seq[Column],
      valueOuts: Seq[(String, String)]): DataFrame = {
    require(valueOuts.nonEmpty, "withRunningSums needs at least one (value, out) pair")
    val guarded = valueOuts.foldLeft(df) { case (d, (v, _)) =>
      d.withColumn(v, when(col(v).isNull, raise_error(lit(
        s"running sum: NULL in value column '$v' — filter/coalesce first")))
        .otherwise(col(v)))
    }
    val parted = guarded.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_gr_pid", spark_partition_id())
    val vIdxs: Array[Int] =
      valueOuts.map { case (v, _) => parted.schema.fieldIndex(v) }.toArray
    val outSchema = valueOuts.indices.foldLeft(parted.schema)((sc, i) =>
      sc.add(s"_gr_lcw$i", LongType, false))
    val nVals = vIdxs.length
    val local = parted.mapPartitions { it =>
      val accs = new Array[Long](nVals)
      it.map { r =>
        val extra = new Array[Any](nVals)
        var i = 0
        while (i < nVals) { accs(i) += r.getLong(vIdxs(i)); extra(i) = accs(i); i += 1 }
        Row.fromSeq(r.toSeq ++ extra)
      }
    }(Encoders.row(outSchema))
      .cache() // see object doc: dedups the per-branch sort, not the exchange
    // partition total = sum of the VALUES, not max of the cumsum — the
    // two agree only for non-negative values, and this helper makes no
    // sign assumption (a running net-balance is a legitimate caller)
    val totalAggs = valueOuts.zipWithIndex.map { case ((v, _), i) =>
      sum(col(v)).as(s"_gr_t$i") }
    val totals = local.groupBy(col("_gr_pid")).agg(totalAggs.head, totalAggs.tail: _*)
    val offsets = valueOuts.indices.foldLeft(totals)((d, i) =>
        d.withColumn(s"_gr_off$i",
          cellSums("_gr_pid", Nil, col(s"_gr_t$i"))._1))
      .select(col("_gr_pid") +: valueOuts.indices.map(i => col(s"_gr_off$i")): _*)
    val joined = valueOuts.zipWithIndex
      .foldLeft(local.join(broadcast(offsets), "_gr_pid")) {
        case (d, ((_, out), i)) =>
          d.withColumn(out, col(s"_gr_lcw$i") + col(s"_gr_off$i"))
      }
    joined.drop("_gr_pid" +:
      valueOuts.indices.flatMap(i => Seq(s"_gr_lcw$i", s"_gr_off$i")): _*)
  }
}
