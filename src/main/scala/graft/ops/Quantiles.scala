package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact linear-interpolation quantiles (the `percentile` /
  * `quantile_cont` semantics) computed WITHOUT a per-group value
  * buffer.
  *
  * Spark's `percentile` is a TypedImperativeAggregate that buffers a
  * value→count map per group — O(distinct values) executor memory, an
  * unbounded agg buffer on mostly-distinct doubles at 100 TB. This
  * operator instead ranks rows within their group and picks the two
  * rank-adjacent values each quantile interpolates between with a
  * plain conditional aggregation. Ranks come from one range exchange
  * on (group, value), a local sort and `monotonically_increasing_id`
  * over the cached sorted table; a window over the small table of
  * (range partition, group) cells turns those ids into in-group ranks
  * and group sizes (the range-rank core [[GlobalRank.rangeRanked]],
  * which also numbers and sums the rows of [[GlobalRank.withRowNumbers]]
  * and [[GlobalRank.withRunningSums]]). Nothing
  * is buffered per group, nothing is collected to the driver, and a
  * skewed group spreads over many range partitions instead of one
  * window task.
  *
  * Interpolation matches `percentile` exactly: pos = q·(n−1),
  * result = v[⌊pos⌋] + (v[⌈pos⌉] − v[⌊pos⌋])·(pos − ⌊pos⌋) — the same
  * double arithmetic, so results are bit-identical to the buffering
  * aggregate (and to DuckDB's quantile_cont).
  *
  * Rows whose value is NULL are ignored (as `percentile` does); a
  * group whose values are ALL null is absent from the output (where
  * `percentile` would emit a null row) — callers here never feed such
  * groups. A NULL group KEY is an ordinary group (null-safe joins
  * throughout), matching groupBy semantics.
  *
  * Rank integrity is ASSERTED in-plan: the per-group rank span must
  * tile exactly 0..n−1. Correctness rests on the offsets branch and
  * the ranked branch reading ONE layout of the range exchange; if that
  * ever fails — `spark.sql.exchange.reuse` disabled, canonicalization
  * divergence — every rank silently shifts. The span check turns that
  * silent corruption into a loud error for the price of two extra
  * aggregate columns. */
object Quantiles {
  import GlobalRank.{nullSafeJoin, rangeRanked}

  /** The rows of `df` with a non-null `valueCol`, as `_v` double,
    * ranked within their group of `groupCols` by value through the
    * shared range-rank core ([[GlobalRank.rangeRanked]]): `_gr_rank`
    * (0-based) and `_gr_n` (group size) — one plan, one range
    * exchange, one sort (cached; see the object doc). */
  private def groupRanked(
      df: DataFrame, groupCols: Seq[String], valueCol: String): GlobalRank.Ranked = {
    val gcols: Seq[Column] = groupCols.map(col)
    rangeRanked(df.select(gcols :+ col(valueCol).cast("double").as("_v"): _*)
      .filter(col("_v").isNotNull), groupCols, Seq(col("_v")))
  }

  /** Quantile bounds per group from [[groupRanked]] rows, with the
    * rank-span integrity assert woven in (see object doc). `extras`
    * are additional (outName, aggregate-over-`_v`) columns that ride
    * the SAME grouped aggregate — callers that previously paid a
    * separate groupBy pass over the input for per-group moments
    * (count/mean/stddev) fold it into the pass the quantiles already
    * make (round-17, guide §2.4). Note the fold ORDER over `_v` is
    * the range-partitioned sorted order, not the scan order — exact
    * for counts, last-ulp-class for float moments, the tolerance
    * class every r6-rounded consumer already absorbs cross-engine. */
  private def boundsOf(withRank: DataFrame, groupCols: Seq[String],
      qs: Seq[(String, Double)],
      extras: Seq[(String, Column)] = Nil): DataFrame = {
    val gcols: Seq[Column] = groupCols.map(col)
    def pos(q: Double): Column = lit(q) * (col("_gr_n") - 1).cast("double")
    val picks = qs.flatMap { case (name, q) =>
      Seq(
        max(when(col("_gr_rank") === floor(pos(q)).cast("long"), col("_v"))).as(s"_${name}_lo"),
        max(when(col("_gr_rank") === ceil(pos(q)).cast("long"), col("_v"))).as(s"_${name}_hi"))
    } ++ Seq(max(col("_gr_n")).as("_n_out"), max(col("_gr_rank")).as("_max_gr")) ++
      extras.map { case (name, c) => c.as(s"_x_$name") }
    val agged =
      if (groupCols.isEmpty) withRank.agg(picks.head, picks.tail: _*)
      else withRank.groupBy(gcols: _*).agg(picks.head, picks.tail: _*)
    // assert_true yields NULL on success; the filter keeps the check in
    // the executed plan (an unreferenced guard column would be pruned)
    val guarded = agged.filter(assert_true(col("_max_gr") === col("_n_out") - 1,
      lit("exact quantiles: per-group ranks do not tile 0..n-1 — the range " +
        "exchange executed with divergent layouts (is spark.sql.exchange.reuse " +
        "disabled?)")).isNull)
    val posOut = (q: Double) => lit(q) * (col("_n_out") - 1).cast("double")
    guarded.select(gcols ++ qs.map { case (name, q) =>
      (col(s"_${name}_lo") +
        (col(s"_${name}_hi") - col(s"_${name}_lo")) *
          (posOut(q) - floor(posOut(q)))).as(name)
    } ++ extras.map { case (name, _) => col(s"_x_$name").as(name) }: _*)
  }

  /** One row per group: `groupCols ++ qs.map(_._1) ++ extras names`
    * with each named column holding the exact q-quantile of
    * `valueCol` (and each extra its aggregate over the group's `_v`
    * rows — see [[boundsOf]]). `groupCols` empty ⇒ a single global
    * row. */
  def exactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[(String, Double)],
      extras: Seq[(String, Column)] = Nil): DataFrame =
    boundsOf(groupRanked(df, groupCols, valueCol).withRank, groupCols, qs,
      extras)

  /** Every (non-null-value) input row, annotated with its group's exact
    * quantiles: `groupCols :+ valueCol :+ qs names`. The winsorize /
    * clip-to-band shape: downstream clips and re-aggregates WITHOUT
    * re-scanning the table — rows and bounds both hang off the same
    * range exchange, so the whole pipeline reads the source once. The
    * bounds table is one row per group and broadcast back onto the
    * rows. */
  def withQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val gcols: Seq[Column] = groupCols.map(col)
    val gr = groupRanked(df, groupCols, valueCol)
    val bounds = boundsOf(gr.withRank, groupCols, qs)
    // the row side needs no ranks — read the cached sorted table
    // directly, skipping the offsets join
    val rows = gr.local.select(gcols :+ col("_v").as(valueCol): _*)
    if (groupCols.isEmpty) rows.crossJoin(broadcast(bounds))
    else nullSafeJoin(rows, bounds, groupCols, broadcastRight = true)
  }

  /** Equi-depth (equal-frequency) binning: every row labeled with its
    * group's exact NTILE(k) bucket over `valueCol`, aggregated to one
    * row per (group, bin) with count/lo/hi/mean — the feature-binning
    * and drift-histogram shape where equal-WIDTH buckets (q116) would
    * put 99% of a skewed column in one bar. Runs on the same
    * single-scan rank machinery; the bucket is the SQL NTILE closed
    * form (first n mod k buckets hold ceil(n/k) rows), so the result
    * is engine-exact. Ties in `valueCol` may split across adjacent
    * bins differently per engine, but swapping EQUAL values between
    * bins changes no aggregate — the output is tie-stable. */
  def equiDepthBins(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int): DataFrame = {
    val gcols: Seq[Column] = groupCols.map(col)
    val rn = col("_gr_rank") + 1
    val base = expr(s"_gr_n div $k"); val rem = col("_gr_n") % k
    val bigSpan = rem * (base + lit(1L))
    val bin = (when(rn <= bigSpan,
        floor((rn - 1).cast("double") / (base + lit(1L)).cast("double")))
      .otherwise(rem +
        floor((rn - bigSpan - 1).cast("double") / base.cast("double")))
      .cast("long") + 1).as("bin")
    groupRanked(df, groupCols, valueCol).withRank
      .select(gcols ++ Seq(bin, col("_v")): _*)
      .groupBy(gcols :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"), min(col("_v")).as("lo"),
        max(col("_v")).as("hi"), avg(col("_v")).as("mean"))
  }

  /** Exact WEIGHTED quantiles (type-1 / lower: the smallest value
    * whose running weight reaches q·totalWeight), per group. The
    * importance-weighted variant quota/temperature sampling cutoffs
    * need.
    *
    * Same bounded-state design as [[exactQuantiles]], with weighted
    * ranks instead of row ranks: the range-rank core
    * ([[GlobalRank.rangeRanked]]) sums the weights within each group
    * over the (group, value) order, giving every row its running
    * weight and its group's total weight. Weights must be integral
    * (exact cumulative sums; a double running weight would make the
    * q·W threshold crossing float-order-dependent and
    * engine-divergent) and NON-NEGATIVE — a negative weight breaks the
    * monotonicity of the running weight and would silently mis-pick
    * the threshold crossing, so it raises instead (same fail-loud
    * stance as the 2^33 partition-size check). NULL group keys are
    * retained, matching groupBy semantics. */
  def weightedQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      weightCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val gcols: Seq[Column] = groupCols.map(col)
    val v = df.select(gcols ++ Seq(col(valueCol).cast("double").as("_v"),
        col(weightCol).cast("long").as("_w")): _*)
      .filter(col("_v").isNotNull && col("_w").isNotNull)
      .withColumn("_w", when(col("_w") < 0, raise_error(concat(
        lit("weighted quantiles: negative weight "), col("_w").cast("string"),
        lit(" — running cumulative weight must be monotone"))))
        .otherwise(col("_w")))
    // `_gr_sum0` is a row's running weight in its group, `_gr_tot0` the
    // group's total weight
    val weighted = rangeRanked(v, groupCols, Seq(col("_v")), Seq("_w")).withRank
    val picks = qs.map { case (name, q) =>
      min(when(col("_gr_sum0").cast("double") >= lit(q) * col("_gr_tot0").cast("double"),
        col("_v"))).as(name)
    } :+ max(col("_gr_sum0")).as("_max_cw") :+ max(col("_gr_tot0")).as("_tw_out") :+
      sum(col("_w")).as("_w_sum")
    val agged =
      if (groupCols.isEmpty) weighted.agg(picks.head, picks.tail: _*)
      else weighted.groupBy(gcols: _*).agg(picks.head, picks.tail: _*)
    // same integrity stance as boundsOf: each group's final running
    // weight must equal its total from the offsets table (else the local
    // running sum missed a group boundary, or the two branches saw
    // different exchange layouts), and that total must equal the group's
    // weights summed directly over its rows
    agged.filter(assert_true(
      col("_max_cw") === col("_tw_out") && col("_tw_out") === col("_w_sum"),
      lit("weighted quantiles: running weights do not reach the group's weight " +
        "sum — divergent exchange layouts or a missed group boundary")).isNull)
      .drop("_max_cw", "_tw_out", "_w_sum")
  }
}
