package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed row numbers / running sums over a total order —
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
  * anywhere. One core, [[rangeRanked]], serves every rank and running
  * sum: row numbers and running sums, global or within groups
  * ([[withRowNumbers]], [[withRunningSums]]), and the exact and
  * weighted quantiles' in-group ranks and weights ([[Quantiles]]).
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
    * (the input's columns, each summed column's local running sum
    * `_gr_lc<i>` and `_gr_mid`) and its rows `withRank`, the input's
    * columns plus `_gr_n`, the group's size, `_gr_rank`, the row's
    * 0-based rank in its group, and for the i-th summed column
    * `_gr_sum<i>`, the row's running sum in its group (inclusive), and
    * `_gr_tot<i>`, the group's total. */
  private[ops] case class Ranked(local: DataFrame, withRank: DataFrame)

  /** The range-rank core: ranks every row of `df` within its group of
    * `groupCols` (none ⇒ one group of all rows) over the order of
    * `sortCols`, and sums each long column of `sumCols` along the same
    * order. The range order is the group columns, then `sortCols`, so
    * each group is contiguous in it. One range exchange, one local
    * sort, and `monotonically_increasing_id` over the cached sorted
    * table: it encodes exactly (partition id << 33) + position as a
    * narrow codegen'd projection, where a `Window.partitionBy(pid)`
    * would re-shuffle and re-sort data the exchange just ordered. A
    * cell's ids are consecutive, so a row's rank is its id minus its
    * cell's first id plus the group's rows in earlier cells — one
    * aggregate to the cells table, one window over it, one join back.
    * A sum works the same way: [[localSums]] runs it per cell, and the
    * group's sums over earlier cells come from the same window. */
  private[ops] def rangeRanked(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], sumCols: Seq[String] = Nil): Ranked = {
    val gcols: Seq[Column] = groupCols.map(col)
    val order = gcols ++ sortCols
    val pid = shiftright(col("_gr_mid"), 33)
    // the position has 33 bits, and a partition would need 8.5 billion
    // rows to carry into the partition bits — fail loud rather than
    // rank wrong if the partitioning is ever that degenerate. The sums
    // run before the id, so the cells' partition id is still the id's.
    val local = localSums(df.repartitionByRange(order: _*)
        .sortWithinPartitions(order: _*), groupCols, sumCols)
      .withColumn("_gr_mid", monotonically_increasing_id())
      .withColumn("_gr_mid", when(pid =!= spark_partition_id(), raise_error(lit(
        "global rank: a range partition exceeds 2^33 rows — repartition " +
          "finer first"))).otherwise(col("_gr_mid")))
      .cache() // see object doc: dedups the per-branch sort, not the exchange
    val sums = sumCols.indices
    val cells = local.groupBy(pid.as("_gr_pid") +: gcols: _*)
      .agg(count(lit(1)).as("_gr_cnt"), min(col("_gr_mid")).as("_gr_m0") +:
        sums.map(i => sum(col(sumCols(i))).as(s"_gr_cs$i")): _*)
    val (earlier, size) = cellSums("_gr_pid", groupCols, col("_gr_cnt"))
    val sumOffsets = sums.flatMap { i =>
      val (e, t) = cellSums("_gr_pid", groupCols, col(s"_gr_cs$i"))
      Seq(e.as(s"_gr_off$i"), t.as(s"_gr_tot$i"))
    }
    val offsets = cells.select((col("_gr_pid") +: gcols :+
      (earlier - col("_gr_m0")).as("_gr_base") :+ size.as("_gr_n")) ++ sumOffsets: _*)
    // ungrouped, the offsets table has one row per partition — broadcast
    // it. Grouped, it has a row per group, which callers may make huge
    // (per-user quantiles) — no forced broadcast; AQE picks BHJ when the
    // runtime size is small and a shuffle join when it is not.
    val ranked = nullSafeJoin(local.withColumn("_gr_pid", pid), offsets,
        "_gr_pid" +: groupCols, broadcastRight = groupCols.isEmpty)
      .withColumn("_gr_rank", col("_gr_mid") + col("_gr_base"))
    val withRank = sums.foldLeft(ranked)((d, i) =>
        d.withColumn(s"_gr_sum$i", col(s"_gr_lc$i") + col(s"_gr_off$i")))
      .drop(Seq("_gr_mid", "_gr_pid", "_gr_base") ++
        sums.flatMap(i => Seq(s"_gr_lc$i", s"_gr_off$i")): _*)
    Ranked(local, withRank)
  }

  /** `sorted` plus `_gr_lc<i>`, the running sum of `sumCols(i)` over
    * each partition's rows in order, restarting at each change of the
    * `groupCols` key (compared with `==`, so a NULL key is a group) —
    * one narrow pass over the order the range exchange produced. The
    * summed columns must be non-null longs: a NULL raises a readable
    * error instead of an opaque executor NPE. No sums ⇒ `sorted`. */
  private def localSums(sorted: DataFrame, groupCols: Seq[String],
      sumCols: Seq[String]): DataFrame =
    if (sumCols.isEmpty) sorted else {
      val schema = sorted.schema
      sumCols.foreach(v => require(schema(v).dataType == LongType,
        s"running sum: value column '$v' must be a long, not ${schema(v).dataType}"))
      val keyIdx = groupCols.map(schema.fieldIndex).toArray
      val valIdx = sumCols.map(schema.fieldIndex).toArray
      val names = sumCols.toArray
      val width = schema.length
      val outSchema = sumCols.indices.foldLeft(schema)((sc, i) =>
        sc.add(s"_gr_lc$i", LongType, false))
      sorted.mapPartitions { it =>
        val acc = new Array[Long](valIdx.length)
        var key: Seq[Any] = null
        it.map { r =>
          val k = keyIdx.toSeq.map(r.get)
          if (k != key) { java.util.Arrays.fill(acc, 0L); key = k }
          val out = new Array[Any](width + valIdx.length)
          var i = 0
          while (i < width) { out(i) = r.get(i); i += 1 }
          i = 0
          while (i < valIdx.length) {
            if (r.isNullAt(valIdx(i))) throw new IllegalArgumentException(
              s"running sum: NULL in value column '${names(i)}' — filter/coalesce first")
            acc(i) += r.getLong(valIdx(i)); out(width + i) = acc(i); i += 1
          }
          Row.fromSeq(out.toSeq)
        }
      }(Encoders.row(outSchema))
    }

  /** Adds a 1-based row number `rnCol` over the total order of
    * `sortCols` (and optionally the row count `totalCol`) to `df`.
    * With `groupCols`, rows are numbered within their group and
    * `totalCol` is the group's size. Ties in `sortCols` get arbitrary
    * but CONSISTENT numbers — pass a tie-breaking column for
    * determinism. */
  def withRowNumbers(
      df: DataFrame,
      sortCols: Seq[Column],
      rnCol: String,
      totalCol: Option[String] = None,
      groupCols: Seq[String] = Nil): DataFrame = {
    val ranked = rangeRanked(df, groupCols, sortCols).withRank
      .withColumn(rnCol, col("_gr_rank") + 1)
    totalCol.fold(ranked.drop("_gr_n"))(t => ranked.withColumnRenamed("_gr_n", t))
      .drop("_gr_rank")
  }

  /** Adds the running sum `outCol` of long column `valueCol`
    * (inclusive of the current row) over the total order of
    * `sortCols` — distributed, one plan. `valueCol` must be a non-null
    * long — filter/coalesce first. See [[withRunningSums]]. */
  def withRunningSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: String,
      outCol: String,
      groupCols: Seq[String] = Nil): DataFrame =
    withRunningSums(df, sortCols, Seq(valueCol -> outCol), groupCols)

  /** Multi-column form of [[withRunningSum]]: every (valueCol, outCol)
    * pair gets its running sum over ONE range exchange, one local
    * sort and one narrow cumulative pass ([[rangeRanked]]) — callers
    * needing several cumulative columns on the same order (the KS
    * statistic's two sample counts, debit/credit balances) pay one
    * exchange. With `groupCols`, each sum runs within its group. The
    * sum's total — the group's, or with no groups the whole input's —
    * rides along as `<outCol>_total`, from the same cells window, so
    * a caller never folds the input a second time for it. */
  def withRunningSums(
      df: DataFrame,
      sortCols: Seq[Column],
      valueOuts: Seq[(String, String)],
      groupCols: Seq[String] = Nil): DataFrame = {
    require(valueOuts.nonEmpty, "withRunningSums needs at least one (value, out) pair")
    val ranked = rangeRanked(df, groupCols, sortCols, valueOuts.map(_._1)).withRank
    valueOuts.zipWithIndex.foldLeft(ranked) { case (d, ((_, out), i)) =>
      d.withColumn(out, col(s"_gr_sum$i"))
        .withColumn(s"${out}_total", col(s"_gr_tot$i"))
    }.drop(Seq("_gr_n", "_gr_rank") ++ valueOuts.indices.flatMap(i =>
      Seq(s"_gr_sum$i", s"_gr_tot$i")): _*)
  }
}
