package graft.ops

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables, r2, r4, r6, r2n, r4n, r6n}

/** Round-2 coverage widening: statistical aggregates (correlation /
  * covariance / variance / skewness / kurtosis / median / arg-extrema),
  * boolean + bitwise aggregates, rank-family window functions
  * (ntile / percent_rank / cume_dist / first / last / nth), full-outer
  * and cross joins, MapType + struct/JSON round-trips, array
  * normalization, and higher-order fold/zip functions.
  *
  * The reference computes only mean/std profiles
  * (`drift_detector.py:23-24`) — everything here is the Spark-built-in
  * generalization of that profiling surface (SURVEY.md §2.4-2.8), each
  * shape a single partial+final hash aggregate or a single window pass:
  * no extra shuffles, no driver materialization, all codegen-friendly,
  * so every query scales linearly with input on a real cluster.
  */
object Statistics {

  /** The q166 Welch aggregate over any events frame — shared with the
    * streaming twin ([[graft.streaming.EventStreams.welchDrift]]):
    * one conditional aggregate pass producing both samples'
    * (n, mean, s²), then t and the Welch–Satterthwaite df as a
    * projection. All six partial aggregates are sum-mergeable, so the
    * identical code runs batch or Complete-mode streaming. */
  private[graft] def welchSummary(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val v = col("value").cast("double")
    val click = when(col("event_type") === "click", v)
    val purch = when(col("event_type") === "purchase", v)
    val se1 = col("s1") / col("n1")
    val se2 = col("s2") / col("n2")
    events
      .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull)
      .agg(
        count(click).cast("double").as("n1"), avg(click).as("m1"),
        var_samp(click).as("s1"),
        count(purch).cast("double").as("n2"), avg(purch).as("m2"),
        var_samp(purch).as("s2"))
      .select(
        col("n1").cast("long").as("n_click"),
        col("n2").cast("long").as("n_purchase"),
        r6(col("m1") - col("m2")).as("mean_diff"),
        r6((col("m1") - col("m2")) / sqrt(se1 + se2)).as("t_stat"),
        r6(pow(se1 + se2, 2) /
          (pow(se1, 2) / (col("n1") - 1) + pow(se2, 2) / (col("n2") - 1)))
          .as("welch_df"))
  }

  val queries: Map[String, Q] = Map(

    /** Two-sample Kolmogorov-Smirnov statistic between the click and
      * purchase value distributions — the distribution-drift test the
      * reference's mean/std comparison cannot see (equal means, shifted
      * shape). EXACT and distributed: D = sup|F₁−F₂| is attained at a
      * jump of either ECDF, so evaluating at every distinct value of
      * the pooled sample (each point's left-limit equals the previous
      * point's value, which is also evaluated) is the full sup. Shape:
      * groupBy distinct value (map-side combined) → BOTH cumulative
      * sample counts from one multi-column global running sum
      * ([[GlobalRank.withRunningSums]]: one range exchange, never an
      * unpartitioned window), whose totals n₁, n₂ ride along → max
      * of |c₁/n₁ − c₂/n₂|. */
    "q136_ks_test" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull)
        .select(col("value").cast("double").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("i1"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("i2"))
      val g = ev.groupBy(col("v")).agg(sum(col("i1")).as("n1v"), sum(col("i2")).as("n2v"))
      GlobalRank.withRunningSums(g, Seq(col("v")),
          Seq("n1v" -> "c1", "n2v" -> "c2"))
        .agg(r6n(max(abs(col("c1").cast("double") / col("c1_total") -
          col("c2").cast("double") / col("c2_total")))).as("ks_d"),
          max(col("c1_total")).as("n1"), max(col("c2_total")).as("n2"))
    }),

    /** Exact rank-based ROC-AUC (Mann-Whitney U with MIDRANKS for
      * ties) of `value` as a predictor of event_type = 'error' — the
      * model-quality / feature-screening aggregate, fully distributed:
      * per distinct value one combined count row, ONE global running
      * sum ([[GlobalRank.withRunningSum]]) turns it into midranks, and
      * a single final aggregate folds U, n⁺, n⁻ together — no
      * totals are needed at all (the identity
      * AUC = (Σ n⁺_v·midrank_v − n⁺(n⁺+1)/2)/(n⁺n⁻) needs only sums).
      * Midranks are dyadic rationals, so every sum is EXACT in
      * doubles — bit-identical across engines and summation orders. */
    "q138_rank_auc" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("value").cast("double").as("v"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("pos"))
      val g = ev.groupBy(col("v")).agg(
        sum(col("pos")).as("n1v"),
        count(lit(1)).as("nv"))
      val c = GlobalRank.withRunningSum(g, Seq(col("v")), "nv", "cnv")
      val mid = col("cnv").cast("double") - col("nv").cast("double") +
        (col("nv").cast("double") + 1.0) / 2.0
      c.agg(sum(col("n1v").cast("double") * mid).as("rsum"),
          sum(col("n1v")).as("np"), sum(col("nv") - col("n1v")).as("nn"))
        .select(
          r6n((col("rsum") - col("np").cast("double") * (col("np").cast("double") + 1.0) / 2.0) /
            (col("np").cast("double") * col("nn").cast("double"))).as("auc"),
          col("np").as("n_pos"), col("nn").as("n_neg"))
    }),

    /** Rolling z-score anomaly screen — the windowed generalization of
      * the reference's static mean/std drift check: each event scores
      * against the TRAILING hour of its own type (RANGE frame over
      * integer epoch-micros — the cross-engine-exact frame bound), and
      * the report counts |z| > 3 flags per type. event_type has a
      * HANDFUL of values, so a window partitioned on it alone would
      * sort each type's entire history in one task — the classic
      * low-cardinality window scale-killer. Instead: TILE-AND-HALO.
      * Bucket rows by (event_type, hour); a trailing-hour frame for a
      * row in bucket B can only reach rows in buckets B and B-1, so
      * replicating every row ONCE into its successor bucket as a halo
      * makes the frame computable entirely inside the (type, bucket)
      * partition. Halo rows feed frames but are dropped before the
      * report, so each event is scored exactly once. All shuffles are
      * keyed on (event_type, bkt) — partition count grows with data
      * volume (types x hours), never one-task-per-type. Frame contents
      * and their us-ascending accumulation order are identical to the
      * flat window, so results are bit-identical. Warm-up rows
      * (window n < 30) and zero-variance windows are excluded from
      * flagging on both engines. */
    "q143_rolling_anomaly" -> ((s: SparkSession, dir: String) => {
      val hourUs = 3600000000L
      val base = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"),
          unix_micros(col("ts")).as("us"))
        .withColumn("bkt", expr(s"us DIV ${hourUs}L"))
      val tiled = base.withColumn("halo", lit(false))
        .unionByName(base
          .withColumn("bkt", col("bkt") + lit(1L))
          .withColumn("halo", lit(true)))
      val w = Window.partitionBy(col("event_type"), col("bkt"))
        .orderBy(col("us"))
        .rangeBetween(-hourUs, Window.currentRow)
      val scored = tiled
        .select(col("event_type"), col("v"), col("halo"),
          avg(col("v")).over(w).as("m"),
          stddev_samp(col("v")).over(w).as("sd"),
          count(lit(1)).over(w).as("wn"))
        .filter(!col("halo"))
      scored.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_if(col("wn") >= 30 && col("sd") > 0 &&
            abs((col("v") - col("m")) / col("sd")) > 3).as("n_anomalies"))
        .select(col("event_type"), col("n_events"), col("n_anomalies"),
          r6(col("n_anomalies").cast("double") / col("n_events")).as("anomaly_rate"))
        .orderBy(col("event_type"))
    }),

    /** Ingestion rate limiting: keep at most 5 events per (user, hour),
      * drop the overflow — the deterministic throttling primitive for
      * a feed with hot keys. The window partitions on the HIGH-
      * cardinality (user_id, hour) pair, so state is one counter per
      * key per hour and the sort is per tiny partition; the total
      * order (ts, event_id) makes kept/dropped reproducible. Report:
      * retention per event type. */
    "q144_rate_limit" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"), col("hr"))
        .orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          date_trunc("hour", col("ts")).as("hr"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count_if(col("rn") <= 5).as("n_kept"),
          count_if(col("rn") > 5).as("n_dropped"))
        .orderBy(col("event_type"))
    }),

    /** Chi-square test of independence between document source and
      * language — the CATEGORICAL drift screen beside q136's numeric
      * KS test (a crawl whose language mix shifts per source fails
      * this before any mean moves). Distributed shape: one map-side-
      * combined count per observed (source, lang) cell, then two
      * BROADCAST joins against the tiny row/column marginal tables and
      * ONE final aggregate. The zero-observed cells every textbook
      * formula iterates are folded away algebraically:
      * Σ_all (o−e)²/e = n·Σ_obs o²/(nr·nc) − n, since empty cells
      * contribute nothing to the left sum's o² term — so no dense
      * cross join, no totals broadcast (the q138 stance), and the
      * post-shuffle data is bounded by |sources|·|langs| regardless of
      * corpus size. Cramér's V normalizes for table size. */
    "q164_chi_square" -> ((s: SparkSession, dir: String) => {
      val cells = Tables(s, dir, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      val rowTot = cells.groupBy(col("source")).agg(sum(col("o")).as("nr"))
      val colTot = cells.groupBy(col("lang")).agg(sum(col("o")).as("nc"))
      cells
        .join(broadcast(rowTot), "source")
        .join(broadcast(colTot), "lang")
        .agg(
          sum(col("o").cast("double") * col("o") /
            (col("nr").cast("double") * col("nc"))).as("sfrac"),
          sum(col("o")).as("n"),
          countDistinct(col("source")).as("r"),
          countDistinct(col("lang")).as("c"))
        .select(
          r6n(col("n").cast("double") * col("sfrac") - col("n")).as("chi2"),
          ((col("r") - 1) * (col("c") - 1)).as("dof"),
          col("n"),
          r6n(sqrt((col("n") * col("sfrac") - col("n")) /
            (col("n").cast("double") * least(col("r") - 1, col("c") - 1))))
            .as("cramers_v"))
    }),

    /** Hourly-count autocorrelation per event type at lags 1-3 — the
      * seasonality/burstiness screen on an ingest feed (a daily cycle
      * shows as positive lag-24 ACF; retry storms as high lag-1). The
      * series is DENSIFIED first: per-type min/max hour from one tiny
      * aggregate, `sequence`-exploded to the full hour range, observed
      * counts left-joined in and missing hours kept as TRUE ZEROS
      * (skipping empty hours silently biases every lag). Pairing is an
      * equi-join of the series against itself on (type, hour+lag) —
      * shuffles keyed on (type, hour), which GROWS with the time span,
      * never one-task-per-type — and each (type, lag) folds to one
      * Pearson correlation. Post-aggregation volume is types x hours:
      * at 100 TB the raw scan dominates and everything after the first
      * groupBy is control-plane-sized. */
    "q165_autocorrelation" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .select(col("event_type"), (unix_micros(col("ts")) / 3600000000L)
          .cast("long").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      val dense = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1)")).as("hr"))
        .join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val lagged = dense.select(col("event_type"),
          explode(expr("array(1L, 2L, 3L)")).as("lag"),
          (col("hr") - col("lag")).as("hr"), col("c").as("c_lead"))
      dense.join(lagged, Seq("event_type", "hr"))
        .groupBy(col("event_type"), col("lag"))
        .agg(r6n(corr(col("c").cast("double"), col("c_lead").cast("double")))
            .as("acf"),
          count(lit(1)).as("n_pairs"))
        .orderBy(col("event_type"), col("lag"))
    }),

    /** Welch's unequal-variance t-test on click vs purchase values —
      * the MEAN-shift drift screen completing the trio (q136 KS =
      * shape, q164 chi-square = categorical mix, this = location).
      * ONE single-pass conditional aggregate produces both samples'
      * (n, mean, s²) simultaneously — no split, no join, no second
      * scan — then t and the Welch-Satterthwaite degrees of freedom
      * are a 1-row projection. The whole query is one partial+final
      * aggregate: linear scan at any scale. */
    "q166_welch_t" -> ((s: SparkSession, dir: String) =>
      welchSummary(Tables(s, dir, "events"))),

    /** First-order Markov transition matrix over each user's event
      * stream — the next-event-prediction baseline and the
      * behavioral-drift fingerprint (a bot cohort shows as a
      * transition row collapsing onto one column). `lead` over the
      * HIGH-cardinality user partition pairs consecutive events
      * (total order by (ts, event_id) — reproducible under ties),
      * one map-side-combined count per (from, to) cell, and the
      * row-normalizing totals arrive by BROADCAST join of the
      * type-cardinality marginal table. Transition probabilities are
      * SMALL-DENOMINATOR rationals (n_ab/n_a), so both engines round
      * with the +1e-12 nudge to keep exact half-ties off the r6
      * grid. */
    "q171_session_markov" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val cells = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
      cells.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n").cast("double") / col("n_from") + 1e-12, 6).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    /** Time-weighted average (TWAP) of each user's value stream — the
      * irregular-sampling average where the plain mean over-weights
      * burst periods (the feature-engineering primitive for sensor /
      * price / telemetry features). Each sample holds until the next
      * one (`lead` over the HIGH-cardinality user partition, total
      * order by (ts, event_id)), weights are exact integer
      * microsecond spans, and the final per-user fold compares TWAP
      * against the unweighted mean so the burst bias is visible.
      * Single window pass + one map-side-combined aggregate; only
      * users with ≥ 2 samples have a defined span. */
    "q176_twap" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("value").cast("double").as("v"), unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          r6(sum(col("v") * (col("next_us") - col("us")).cast("double")) /
            sum(col("next_us") - col("us")).cast("double")).as("twap"),
          r6(avg(col("v"))).as("plain_mean"),
          count(lit(1)).as("n_spans"),
          sum(col("next_us") - col("us")).as("span_us"))
        .orderBy(col("user_id"))
    }),

    /** Per-group OLS trend — value regressed on event-time hours per
      * event type: the drift-SLOPE screen (is the error-value level
      * drifting up?) completing the location/shape/mix trio with a
      * direction. The `regr_slope/intercept/r2` aggregates are
      * codegen'd single-pass moment folds (n, Σx, Σy, Σxy, Σx², Σy²)
      * — one map-side-combined aggregate, no window, no join, linear
      * scan at any scale. Hours-scale x keeps the moments well-
      * conditioned; r6 absorbs engine ulp differences in the moment
      * algebra. */
    "q180_group_ols" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          col("value").cast("double").as("v"),
          (unix_micros(col("ts")).cast("double") / 3600.0e6).as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(expr("regr_slope(v, x)")).as("slope_per_hour"),
          r6(expr("regr_intercept(v, x)")).as("intercept"),
          r6(expr("regr_r2(v, x)")).as("r2"))
        .orderBy(col("event_type"))
    }),

    /** Top session path trigrams — the product-analytics "what do
      * users actually do" sequence census: sessions cut at 30-minute
      * gaps (a lag-flag running sum inside the HIGH-cardinality user
      * partition — no sessionizer state, one window pass), then each
      * in-session (t, t+1, t+2) type trigram counts toward the global
      * top 20. Both windows partition on user (then user+session) —
      * cardinality grows with data — and the trigram aggregate is
      * map-side combined into at most |types|³ cells. Top-k plans as
      * TakeOrderedAndProject with a total (n desc, trigram) order. */
    "q181_path_trigrams" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      val sess = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap",
          when(col("us") - lag(col("us"), 1).over(w) > gapUs, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_idx",
          sum(col("gap")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val w2 = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("us"), col("event_id"))
      sess
        .withColumn("t2", lead(col("event_type"), 1).over(w2))
        .withColumn("t3", lead(col("event_type"), 2).over(w2))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("t1"), asc("t2"), asc("t3"))
        .limit(20)
    }),

    /** Exponentially time-decayed engagement score per user — the
      * feature-store primitive that beats both the plain sum (never
      * forgets) and a cutoff window (cliff at the boundary): each
      * event contributes value·2^(−age/half-life) toward a fixed
      * reference instant with a 7-day half-life. Closed-form per row
      * (no recurrence, no state, no ordering requirement — unlike
      * EWMA-per-step the decay target is a constant), so the whole
      * query is ONE map-side-combined aggregate per user: linear scan
      * at any scale, and trivially incremental (yesterday's score
      * just decays by a constant factor before merging today's). */
    "q183_decayed_score" -> ((s: SparkSession, dir: String) => {
      val refUs = 1706745600000000L // 2024-02-01 00:00:00 UTC
      val halfLifeUs = 7.0 * 86400.0e6
      val age = (lit(refUs) - unix_micros(col("ts"))).cast("double")
      Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          r6(sum(col("value") * pow(lit(0.5), age / halfLifeUs)))
            .as("decayed_score"),
          r6(sum(col("value"))).as("plain_sum"))
        .orderBy(col("user_id"))
    }),

    /** Join-key SKEW report — the pre-flight diagnostic for every
      * shuffle in this engine: per candidate join key, cardinality,
      * the Herfindahl concentration Σp² (1/HHI ≈ effective key
      * count), the hottest key's share (the salting trigger), and
      * normalized entropy. Everything derives from ONE count-per-key
      * aggregation per column via moment identities — HHI = Σc²/N²,
      * top share = max(c)/N, H = (ln N − Σ c·ln c / N)/ln k — so no
      * joins, no totals broadcast, no second pass; three key columns
      * union three tiny result rows. This is the measurement behind
      * the repo's salting/AQE-skew machinery: a top-share over ~1/p
      * means one reducer owns the key. */
    "q185_key_skew" -> ((s: SparkSession, dir: String) => {
      def stats(df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Column,
          label: String) = {
        val n = sum(col("c")).cast("double")
        df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
            r6n(sum(col("c") * col("c")).cast("double") / (n * n)).as("hhi"),
            r6n(max(col("c")).cast("double") / n).as("top1_share"),
            r6((log(n) - sum(col("c").cast("double") * log(col("c").cast("double"))) / n) /
              log(count(lit(1)).cast("double"))).as("norm_entropy"))
          .select(lit(label).as("key_col"), col("n_keys"), col("n_rows"),
            col("hhi"), col("top1_share"), col("norm_entropy"))
      }
      val li = Tables(s, dir, "lineitem")
      stats(li, col("l_partkey"), "lineitem.l_partkey")
        .unionByName(stats(li, col("l_suppkey"), "lineitem.l_suppkey"))
        .unionByName(stats(Tables(s, dir, "events"), col("user_id"), "events.user_id"))
        .orderBy(col("key_col"))
    }),

    /** Windowed conversion attribution — signup → purchase WITHIN 24
      * hours, by signup day: the funnel metric with a time constraint
      * (q85's funnel counts any later purchase; marketing attribution
      * wants a bounded window). The purchase probe is an equi-join on
      * the HIGH-cardinality user key with the 24-hour range as a
      * join-level filter (the q126 PIT shape — per-user purchase
      * lists are small, never a time-range cross join), a per-signup
      * max-flag dedups multiple in-window purchases, and the daily
      * rate takes the +1e-12 nudge (small-count rationals). */
    "q186_conversion_window" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val ev = Tables(s, dir, "events")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          date_trunc("day", col("ts")).as("day"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      signups
        .join(purchases,
          Seq("user_id"), "left")
        .withColumn("hit",
          col("p_us").isNotNull && col("p_us") > col("us") &&
            col("p_us") <= col("us") + dayUs)
        .groupBy(col("day"), col("event_id"))
        .agg(max(when(col("hit"), 1L).otherwise(0L)).as("converted"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_signups"),
          sum(col("converted")).as("n_converted"))
        .select(col("day"), col("n_signups"), col("n_converted"),
          round(col("n_converted").cast("double") / col("n_signups") + 1e-12, 6)
            .as("conv_rate"))
        .orderBy(col("day"))
    }),

    /** Hour-over-hour trending screen — which event types are rising
      * fastest right now: hourly counts self-joined on (type, hour−1)
      * (the q165 pairing — shuffles keyed on (type, hour), which
      * grows with the span), the rise ratio +1e-12-nudged, and the
      * top 10 biggest risers with a minimum-volume floor (ratios on
      * tiny counts are noise, the floor is the classic trending-feed
      * guard). Total (ratio, type, hour) order makes the cut
      * reproducible. */
    "q189_trending" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      val prev = hourly.select(col("event_type"), (col("hr") + 1L).as("hr"),
        col("c").as("c_prev"))
      hourly.join(prev, Seq("event_type", "hr"))
        .filter(col("c") >= 3 && col("c_prev") >= 3)
        .select(col("event_type"), col("hr"), col("c"), col("c_prev"),
          round(col("c").cast("double") / col("c_prev") + 1e-12, 6).as("rise"))
        .orderBy(desc("rise"), asc("event_type"), asc("hr"))
        .limit(10)
    }),

    /** Bivariate statistics per group — one pass, one shuffle on the
      * 3-value group key; partial aggregation makes the shuffle O(groups). */
    "q63_corr_covar" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
          r4(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("covar_s"),
          r4(covar_pop(col("l_quantity"), col("l_extendedprice"))).as("covar_p"),
          r4(var_samp(col("l_quantity"))).as("var_s"),
          r4(var_pop(col("l_quantity"))).as("var_p"),
          r6(stddev_pop(col("l_quantity"))).as("std_p"))
        .orderBy(col("l_returnflag"))
    }),

    /** Higher moments per group. Oracle recomputes Spark's population
      * skewness m3/m2^1.5 and excess kurtosis m4/m2²-3 from raw power
      * sums (l_quantity is small-magnitude so the naive moment formula
      * is numerically safe in the oracle). */
    "q64_skew_kurt" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          r6(skewness(col("l_quantity"))).as("skew"),
          r6(kurtosis(col("l_quantity"))).as("kurt"))
        .orderBy(col("l_returnflag"))
    }),

    /** Exact interpolated median + arg-extrema (max_by/min_by keyed on
      * the unique o_orderkey so cross-engine tie-breaking cannot
      * diverge — o_totalprice has duplicate values within groups). */
    "q65_median_argmax" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          r4(median(col("o_totalprice"))).as("median_price"),
          max_by(col("o_orderstatus"), col("o_orderkey")).as("latest_status"),
          min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"))
        .orderBy(col("o_orderpriority"))
    }),

    /** Boolean + bitwise aggregates per nation — O(1) state per group,
      * so the combine tree stays trivially small at any scale. */
    "q66_bool_bit_aggs" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          bool_and(col("c_acctbal") > -500).as("all_above"),
          bool_or(col("c_acctbal") > 9000).as("any_rich"),
          count_if(col("c_acctbal") > 0).as("n_positive"),
          expr("bit_xor(c_custkey)").as("xor_keys"),
          expr("bit_and(c_custkey)").as("and_keys"),
          expr("bit_or(c_custkey)").as("or_keys"))
        .orderBy(col("c_nationkey"))
    }),

    /** Rank-family window functions over a total order (custkey
      * tie-break): ntile quartiles, percent_rank, cume_dist —
      * computed DISTRIBUTED. An unpartitioned Window funnels every row
      * into one partition (Spark's WindowExec), the classic global-rank
      * scale trap; instead [[graft.ops.GlobalRank.withRowNumbers]]:
      * range-partition by the sort key, rank locally, add per-partition
      * prefix offsets — all ONE plan over one range exchange (the
      * former collect+cache two-action layout could see divergent
      * per-execution range bounds; see GlobalRank's doc). The rank
      * family derives from the global row number and the total count n
      * in closed form because the order is total (custkey tie-break ⇒
      * no peers). */
    "q67_ntile_ranks" -> ((s: SparkSession, dir: String) => {
      val ranked = graft.ops.GlobalRank.withRowNumbers(
        Tables(s, dir, "customer").select(col("c_custkey"), col("c_acctbal")),
        Seq(col("c_acctbal"), col("c_custkey")), "rn", totalCol = Some("n"))
      // exact ntile(k): the first n%k buckets hold ceil(n/k) rows.
      // n < k is safe (rem = n, so every row lands in the when-branch
      // and gets its own bucket, matching SQL NTILE; the otherwise
      // branch's division by base = 0 is never taken — CaseWhen
      // short-circuits, and double division cannot raise anyway);
      // n == 1 needs the percent_rank denominator clamped — SQL
      // defines it as 0 then, and (rn-1)/max(n-1,1) = 0/1 delivers
      // exactly that.
      val k = 4L
      val base = expr(s"n div $k"); val rem = col("n") % k
      val bigSpan = rem * (base + lit(1L))
      ranked.select(col("c_custkey"),
          (when(col("rn") <= bigSpan,
              floor((col("rn") - 1).cast("double") / (base + lit(1L)).cast("double")))
            .otherwise(rem +
              floor((col("rn") - bigSpan - 1).cast("double") / base.cast("double")))
            .cast("long") + 1).as("quartile"),
          r6n((col("rn") - 1).cast("double") /
            greatest(col("n") - 1, lit(1L)).cast("double")).as("pct_rank"),
          r6n(col("rn").cast("double") / col("n").cast("double")).as("cum_dist"))
        .orderBy(col("c_custkey"))
    }),

    /** first/last/nth value over the full segment, WITHOUT the naive
      * full-partition window: c_mktsegment has five values, so
      * `first/last/nth_value OVER (PARTITION BY segment)` would sort
      * every segment's entire customer set in one task — the same
      * low-cardinality window scale-killer as the old q143. Instead,
      * rank-filter BOTH ends of the total order (rn <= 3 ascending
      * covers first and third; rn <= 1 descending covers last): the
      * planner turns each filter into a partial WindowGroupLimit, so
      * every map task ships at most k rows per segment into the
      * window shuffle, and the final per-segment sort sees O(k x
      * cluster width) rows regardless of data volume. The two limited
      * ends then fold to one row per segment in a plain aggregate. */
    "q68_first_last_nth" -> ((s: SparkSession, dir: String) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
      val asc = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val dsc = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").desc)
      val lo = cust.withColumn("rn", row_number().over(asc))
        .filter(col("rn") <= 3)
      val hi = cust.withColumn("rn", row_number().over(dsc))
        .filter(col("rn") <= 1).withColumn("rn", lit(-1))
      lo.unionByName(hi)
        .groupBy(col("c_mktsegment"))
        .agg(
          min(when(col("rn") === 1, col("c_custkey"))).as("poorest_key"),
          min(when(col("rn") === -1, col("c_custkey"))).as("richest_key"),
          min(when(col("rn") === 3, col("c_custkey"))).as("third_key"))
        .orderBy(col("c_mktsegment"))
    }),

    /** Full-outer join of two aggregated sides (customer count vs
      * supplier count per nation) — both sides pre-aggregated before
      * the join so the shuffle carries one row per key, not raw rows. */
    "q69_full_outer" -> ((s: SparkSession, dir: String) => {
      val cust = Tables(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
      val supp = Tables(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk2")).agg(count(lit(1)).as("n_supp"))
      cust.join(supp, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy(col("nationkey"))
    }),

    /** Cross join of two tiny dimensions (5 regions × order statuses).
      * Both sides are broadcast-sized; Spark plans a nested-loop with
      * broadcast — safe because cardinality is bounded by dims, never
      * by fact-table size. */
    "q70_cross_join" -> ((s: SparkSession, dir: String) => {
      val statuses = Tables(s, dir, "orders")
        .select(col("o_orderstatus").as("st")).distinct()
      Tables(s, dir, "region").select(col("r_name"))
        .crossJoin(broadcast(statuses))
        .select(concat_ws("-", col("r_name"), col("st")).as("combo"))
        .orderBy(col("combo"))
    }),

    /** MapType surface: per-region map of nation → customer count via
      * map_from_entries over a sorted entry list; read back with
      * map_keys / map_values + a higher-order fold. The map is built
      * from a pre-aggregated side (≤25 entries per region). */
    "q71_map_funcs" -> ((s: SparkSession, dir: String) => {
      val perNation = Tables(s, dir, "customer")
        .join(Tables(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name")).agg(count(lit(1)).as("cnt"))
      perNation
        .groupBy(col("r_name"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("n_name"), col("cnt"))))).as("m"))
        .select(col("r_name"),
          array_join(map_keys(col("m")), ",").as("nations"),
          expr("aggregate(map_values(m), 0L, (a, x) -> a + x)").as("total_cust"),
          size(col("m")).cast("long").as("n_nations"))
        .orderBy(col("r_name"))
    }),

    /** Struct → JSON → struct round-trip: to_json on a named struct,
      * then the id extracted back out of the JSON string. */
    "q72_struct_json" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") < 5)
        .select(col("o_orderkey"),
          to_json(struct(col("o_orderkey").as("id"),
            col("o_orderstatus").as("st"))).as("js"))
        .withColumn("id_back", get_json_object(col("js"), "$.id").cast("long"))
        .orderBy(col("o_orderkey"))
    }),

    /** Array normalization over tokenized documents: distinct count,
      * sorted prefix, membership test — all per-row array expressions
      * inside whole-stage codegen (no explode, no shuffle). */
    "q73_array_ops" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          array_join(slice(array_sort(array_distinct(col("toks"))), 1, 5), " ").as("first5"),
          array_contains(col("toks"), "the").as("has_the"))
        .orderBy(col("doc_id"))
    }),

    /** SCD1 upsert (MERGE semantics) without a table format: base ∪
      * updates resolved by full-outer join + coalesce, updates winning.
      * Updates touch 10% of keys and insert new ones; the report
      * aggregates the merged state. At scale the join shuffles on the
      * merge key — the same shape Delta/Iceberg MERGE plans to. */
    "q84_upsert" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_nationkey").as("nk"),
          col("c_acctbal").as("bal"))
      val updates = base.filter(col("k") % 10 === 0)
        .select(col("k"), col("nk"), (col("bal") + 100).as("bal"))
        .unionByName(base.filter(col("k") % 100 === 0)
          .select((col("k") + 10000000L).as("k"), col("nk"), lit(0.0).as("bal")))
      base.as("b").join(updates.as("u"), col("b.k") === col("u.k"), "full_outer")
        .select(coalesce(col("u.k"), col("b.k")).as("k"),
          coalesce(col("u.nk"), col("b.nk")).as("nk"),
          coalesce(col("u.bal"), col("b.bal")).as("bal"))
        .groupBy(col("nk").as("c_nationkey"))
        .agg(count(lit(1)).as("n_rows"), r2(sum(col("bal"))).as("sum_bal"))
        .orderBy(col("c_nationkey"))
    }),

    /** Ordered-sequence funnel: users whose event-type sequence (total
      * order: ts, event_id) matches signup → … → click → … → purchase.
      * collect_list is made deterministic by array_sort over the full
      * (ts, event_id, type) struct; per-user sequences are small and
      * bounded, so the grouped state never skews a partition. */
    "q85_funnel" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), " ").as("path"))
        .filter(col("path").rlike("signup.*click.*purchase"))
        .select(col("user_id"), col("n_events"))
        .orderBy(col("user_id"))
    }),

    /** Outer generator: explode_outer preserves rows whose array is
      * empty (docs with no 8-char token emit a null row) — LATERAL VIEW
      * OUTER semantics, the shape that keeps per-document bookkeeping
      * alive through a tokenize-and-flatten stage. */
    "q88_explode_outer" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode_outer(expr(
          "filter(split(text, ' '), t -> length(t) >= 8)")).as("long_tok"))
        .orderBy(col("doc_id"), asc_nulls_first("long_tok"))
    }),

    /** unpivot(pivot(x)) round-trip: the wide per-status priority
      * counts from the q47 shape melted back to long form — equals the
      * plain GROUP BY the oracle runs. */
    "q89_unpivot" -> ((s: SparkSession, dir: String) => {
      val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", priorities)
        .agg(count(lit(1)))
        .unpivot(Array(col("o_orderstatus")),
          priorities.map(p => col(s"`$p`")).toArray,
          "o_orderpriority", "n")
        .filter(col("n").isNotNull)
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    /** Higher-order predicates + positional access over token arrays —
      * exists / forall / array_position / get / regexp_extract_all, all
      * per-row inside codegen (no shuffle). array_position is
      * null-normalized (Spark returns 0 for absent, DuckDB NULL). */
    "q90_hof_predicates" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"), col("text"))
        .select(col("doc_id"),
          expr("exists(toks, t -> t = 'join')").as("has_join"),
          expr("forall(toks, t -> length(t) <= 6)").as("all_short"),
          // absent → 0 in BOTH engines (Spark array_position and
          // DuckDB list_position agree on the 0-for-missing convention)
          array_position(col("toks"), "join").as("join_pos"),
          expr("get(toks, 2)").as("third_tok"),
          size(expr("regexp_extract_all(text, '[a-z]{8}', 0)")).cast("long").as("n_oct"))
        .orderBy(col("doc_id"))
    }),

    /** Event-time RANGE frame: per user, events in the trailing hour
      * (RANGE 3600s PRECEDING on epoch seconds — peers included by
      * value, not by row, which is what makes the frame deterministic
      * under ties and correct under event-time gaps). */
    "q91_range_frame" -> ((s: SparkSession, dir: String) => {
      // order by exact integer MICROSECONDS on both engines — casting
      // the timestamp to long would truncate to seconds while DuckDB's
      // epoch() keeps fractional seconds, shifting frame boundaries for
      // sub-second timestamps (bit at sf0.1, invisible at sf0.01)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_last_hour"),
          r2(sum(col("value")).over(w)).as("sum_last_hour"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    /** Per-group top-k without a global sort: row_number ≤ k lets
      * Spark plan WindowGroupLimit — each partition keeps a k-row heap
      * per group before the window sort, so the shuffle carries O(k ×
      * groups) rows. PlanQualitySpec asserts the pushdown. */
    "q92_topk_per_group" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn").cast("long").as("rn"),
          col("o_orderkey"), r2(col("o_totalprice")).as("price"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    /** Higher-order functions: sequence + zip_with + aggregate fold.
      * Computes Σ i·(n+1-i) for n = max quantity per group; the oracle
      * uses the closed form n(n+1)(n+2)/6, so the check is exact. */
    "q74_seq_fold" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(max(col("l_quantity")).cast("int").as("n"))
        .select(col("l_returnflag"), col("n").cast("long").as("n"),
          expr("""aggregate(
            zip_with(sequence(1, n), reverse(sequence(1, n)), (a, b) -> a * b),
            0L, (acc, x) -> acc + x)""").as("weighted_sum"))
        .orderBy(col("l_returnflag"))
    }),

    /** Spearman rank correlation between quantity and price per return
      * flag — the monotone-association screen Pearson (q63) misses on
      * nonlinear-but-monotone drift. Midranks are derived WITHOUT any
      * low-cardinality window: per-(flag, value) counts get ONE
      * in-flag running sum over (flag, value) order ([[GlobalRank]] —
      * one range exchange), and rows pick up their midranks through
      * two value-keyed equi-joins. Spearman
      * is then plain corr over the midrank pairs. Midranks are exact
      * .0/.5 doubles, so the only cross-engine float is the final
      * correlation — r6 on both sides. */
    "q198_spearman" -> ((s: SparkSession, dir: String) => {
      // BOTH variables' midranks from ONE GlobalRank exchange
      // (round-17, guide §2.4): the per-(flag, value) count tables are
      // tagged and unioned, and the running count rides one range
      // exchange over (tag, flag, value), restarting at each (tag,
      // flag) group — every midrank is an exact .0/.5 double.
      def cnts(valueCol: String, tag: String) = Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("g"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(tag).as("w"), col("g"), col("v"), col("cnt"))
      val mr = GlobalRank.withRunningSum(
          cnts("l_quantity", "q").unionByName(cnts("l_extendedprice", "p")),
          Seq(col("v")), "cnt", "ccum", Seq("w", "g"))
        .select(col("w"), col("g"), col("v"),
          ((col("ccum") - col("cnt")).cast("double") +
            (col("cnt").cast("double") + 1.0) / 2.0).as("mr"))
      val mrQ = mr.filter(col("w") === "q")
        .select(col("g"), col("v"), col("mr").as("mr_qty"))
      val mrP = mr.filter(col("w") === "p")
        .select(col("g"), col("v"), col("mr").as("mr_price"))
      // join ORDER matters: price midranks first (high-cardinality
      // (g, price) keys distribute the 600k-row shuffle evenly), then
      // the ~150-row quantity table by BROADCAST — the old
      // quantity-first order funneled the full fact shuffle onto 150
      // keys for no benefit
      Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").as("qv"), col("l_extendedprice").as("pv"))
        .join(mrP.withColumnRenamed("v", "pv"), Seq("g", "pv"))
        .join(broadcast(mrQ.withColumnRenamed("v", "qv")), Seq("g", "qv"))
        .groupBy(col("g").as("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          r6n(corr(col("mr_qty"), col("mr_price"))).as("spearman"),
          r6(corr(col("qv").cast("double"), col("pv").cast("double"))).as("pearson"))
        .orderBy(col("l_returnflag"))
    }),

    /** Benjamini-Hochberg FDR over per-type temporal drift tests —
      * the multiple-comparisons discipline a fleet of drift screens
      * needs (m tests at alpha each inflate false alarms; BH caps the
      * expected false-discovery RATE). Per event type: Welch z between
      * the first and second half of that type's own time span (the
      * half-split join is a type-keyed equi-join against the per-type
      * min/max fold — never a global collect), p is the subgaussian
      * tail bound exp(-z²/2) (monotone in |z|, cross-engine exact
      * after r6 — documented as a bound, not the exact normal tail).
      * The BH step-up runs over the m-row type table folded into ONE
      * row (collect_list → sort_array → indexed transform — the q177
      * tiny-marginal pattern, no constant-key window, no broadcast
      * BNLJ), then explodes back flagged. */
    "q199_bh_fdr" -> ((s: SparkSession, dir: String) => {
      val spans = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("us0"),
          max(unix_micros(col("ts"))).as("us1"))
        .select(col("event_type"), ((col("us0") + col("us1")) / 2).as("mid"))
      val v = col("value").cast("double")
      val h1 = when(col("h") === 1, v)
      val h2 = when(col("h") === 2, v)
      val stats = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .join(broadcast(spans), "event_type")
        .select(col("event_type"), col("value"),
          when(unix_micros(col("ts")) <= col("mid"), 1).otherwise(2).as("h"))
        .groupBy(col("event_type"))
        .agg(count(h1).cast("double").as("n1"), avg(h1).as("m1"), var_samp(h1).as("s1"),
          count(h2).cast("double").as("n2"), avg(h2).as("m2"), var_samp(h2).as("s2"))
        .filter(col("n1") >= 2 && col("n2") >= 2)
        .select(col("event_type"), col("n1").cast("long").as("n_first"),
          col("n2").cast("long").as("n_second"),
          r6((col("m1") - col("m2")) /
            sqrt(col("s1") / col("n1") + col("s2") / col("n2"))).as("z"))
        .select(col("event_type"), col("n_first"), col("n_second"), col("z"),
          r6(exp(col("z") * col("z") * -0.5)).as("p_bound"))
      stats.agg(collect_list(struct(col("p_bound"), col("event_type"),
          col("n_first"), col("n_second"), col("z"))).as("ts"))
        .select(sort_array(col("ts")).as("ts"))
        .select(col("ts"), size(col("ts")).as("m"),
          expr("""array_max(filter(transform(ts, (t, i) ->
            CASE WHEN t.p_bound <= 0.25 * (i + 1) / size(ts)
                 THEN i + 1 ELSE 0 END), k -> k > 0))""").as("kmax"))
        .select(posexplode(col("ts")).as(Seq("i", "t")), col("kmax"))
        .select(col("t.event_type").as("event_type"),
          col("t.n_first").as("n_first"), col("t.n_second").as("n_second"),
          col("t.z").as("z"), col("t.p_bound").as("p_bound"),
          (col("i") + 1).cast("long").as("k"),
          (col("kmax").isNotNull && col("i") + 1 <= col("kmax")).as("flagged"))
        .orderBy(col("k"))
    }),

    /** Mann-Whitney U with tie correction — the nonparametric
      * location test completing the drift trio's robustness story
      * (q166's Welch t assumes near-normal means; U only needs ranks).
      * Same distributed-midrank shape as q138's AUC: per-value counts,
      * ONE global running sum for the cumulative, then U, the
      * tie-corrected variance, and the normal-approximation z all fold
      * in a single final aggregate — no broadcast, no window, linear
      * at any scale. */
    "q200_mann_whitney" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull)
        .select(col("value").cast("double").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("c1"))
      val g = ev.groupBy(col("v"))
        .agg(sum(col("c1")).as("n1v"), count(lit(1)).as("nv"))
      val c = GlobalRank.withRunningSum(g, Seq(col("v")), "nv", "cnv")
      val mid = col("cnv").cast("double") - col("nv").cast("double") +
        (col("nv").cast("double") + 1.0) / 2.0
      c.agg(sum(col("n1v").cast("double") * mid).as("r1"),
          sum(col("n1v")).cast("double").as("n1"),
          sum(col("nv") - col("n1v")).cast("double").as("n2"),
          // nv cast BEFORE cubing: the long product overflows once one
          // value has ~2.1M duplicates (ANSI throws); double keeps the
          // fold exact to 2^53 and both engines mirror the op order
          sum(col("nv").cast("double") * col("nv") * col("nv") - col("nv"))
            .as("tie"))
        .select(col("n1").cast("long").as("n_click"),
          col("n2").cast("long").as("n_purchase"),
          r2n(col("r1") - col("n1") * (col("n1") + 1.0) / 2.0).as("u_stat"),
          r6n((col("r1") - col("n1") * (col("n1") + 1.0) / 2.0 -
              col("n1") * col("n2") / 2.0) /
            sqrt(col("n1") * col("n2") / 12.0 *
              (col("n1") + col("n2") + 1.0 -
                col("tie") / ((col("n1") + col("n2")) *
                  (col("n1") + col("n2") - 1.0))))).as("z"))
    }),

    /** DAU/WAU stickiness — daily actives over trailing-7-day actives
      * per day, the canonical engagement ratio. Exact distinct users
      * per rolling window WITHOUT a window function: each (user, day)
      * active pair replicates to the ≤ 7 window-END days it counts
      * toward (the q201 gap-explode stance — a 7× blowup of the
      * already-aggregated pairs, not of raw events), then one
      * countDistinct per window day. Shuffles are keyed on the day —
      * cardinality grows with the span, never one task per metric. */
    "q223_stickiness" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val active = Tables(s, dir, "events")
        .select(col("user_id"),
          (unix_micros(col("ts")) / dayUs).cast("long").as("day"))
        .distinct()
        .cache()
      val span = active.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val dau = active.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val wau = active.join(broadcast(span))
        .select(col("user_id"),
          explode(expr("sequence(day, least(day + 6, d1))")).as("day"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .join(broadcast(span))
        .filter(col("day") >= col("d0") + 6) // full windows only
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau") + 1e-12, 4)
            .as("stickiness"))
        .orderBy(col("day"))
    }),

    /** Naive lag-1 forecast error per event type — the baseline every
      * forecasting effort must beat (and the drift signal when it
      * suddenly degrades): predict each hour's count with the
      * previous hour's, report MAE and sMAPE over the dense hourly
      * grid (missing hours are true zeros, so a quiet-hour gap is a
      * real forecast miss, not a skipped row). One (type, hour+1)
      * self-pairing equi-join on the aggregated series — the q165/
      * q189 pairing shape, shuffles keyed on (type, hour). */
    "q224_naive_forecast" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .select(col("event_type"), (unix_micros(col("ts")) / 3600000000L)
          .cast("long").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      val dense = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
        .join(hourly, Seq("event_type", "hr"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .cache()
      val prev = dense.select(col("event_type"), (col("hr") + 1).as("hr"),
        col("c").as("c_prev"))
      dense.join(prev, Seq("event_type", "hr"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          round(avg(abs(col("c") - col("c_prev")).cast("double")) + 1e-12, 4)
            .as("mae"),
          round(avg(when(col("c") + col("c_prev") > 0,
            abs(col("c") - col("c_prev")).cast("double") * 2.0 /
              (col("c") + col("c_prev")).cast("double")).otherwise(lit(0.0)))
            + 1e-12, 6).as("smape"))
        .orderBy(col("event_type"))
    }),

    /** Gini concentration of user activity — the inequality summary
      * behind "10% of users generate 90% of events": G =
      * (2·Σ i·xᵢ)/(n·Σ xᵢ) − (n+1)/n over the ascending-sorted
      * per-user counts. The global sort-rank comes from ONE
      * [[GlobalRank.withRowNumbers]] range exchange (never an
      * unpartitioned window); ties break by user id, which cannot
      * change the value (swapping equal xᵢ preserves Σ i·xᵢ). All
      * sums are exact integers — the only float is the final ratio,
      * r6 on both engines. */
    "q215_gini_activity" -> ((s: SparkSession, dir: String) => {
      val counts = Tables(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      GlobalRank.withRowNumbers(counts, Seq(col("x"), col("user_id")), "i")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("total"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("n").as("n_users"), col("total").as("total_events"),
          r6n(lit(2.0) * col("ix").cast("double") /
              (col("n").cast("double") * col("total").cast("double")) -
            (col("n").cast("double") + 1.0) / col("n").cast("double"))
            .as("gini"))
    }),

    /** Revenue Lorenz curve — "the top 10% of orders carry X% of
      * revenue" at each decile, the actionable view of q215's scalar
      * Gini. Prices convert to EXACT integer cents (floor(p·100+0.5),
      * the cross-engine integer-rounding stance), so the descending
      * cumulative revenue and the order counter ride ONE
      * [[GlobalRank.withRunningSums]] range exchange with integer
      * state; decile rows pick out by exact integer rank match
      * against the one-row total fold (broadcast, allowlisted
      * class). */
    "q222_revenue_lorenz" -> ((s: SparkSession, dir: String) => {
      val ord = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          lit(1L).as("one"))
      val cum = GlobalRank.withRunningSums(ord,
        Seq((-col("cents")).as("negc"), col("o_orderkey")),
        Seq("cents" -> "cum_rev", "one" -> "rn"))
      val tot = ord.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
      val targets = tot
        .select(col("n"), col("total"), explode(expr("sequence(1, 10)")).as("k"))
        .select(col("k").cast("long").as("decile"),
          expr("CAST((k * n) DIV 10 AS BIGINT)").as("rn"), col("total"))
      cum.join(broadcast(targets), "rn")
        .select(col("decile"), col("rn").as("n_orders"),
          r6(col("cum_rev").cast("double") / col("total")).as("rev_share"))
        .orderBy(col("decile"))
    }),

    /** Kaplan-Meier signup→purchase survival curve — time-to-convert
      * WITH censoring, which q208's converted-only percentiles cannot
      * see (users who never purchased still carry information up to
      * the observation end). Discrete hour grid: d_t = conversions at
      * hour t, the at-risk count n_t and the survival product both
      * derive from the q201 gap-explode trick (each aggregated hour
      * row replicates to the span-bounded hours it influences, then
      * one equi-keyed aggregate — no inequality join, no
      * unpartitioned window, no cumulative-product recursion: S(t) =
      * exp(Σ ln(1−d/n)) with the sum grouped per t). Censoring time
      * is the global max event time (one-row broadcast, allowlisted
      * class). Emitted only at death times, the standard KM table. */
    "q216_km_survival" -> ((s: SparkSession, dir: String) => {
      val hourUs = 3600000000L
      val ev = Tables(s, dir, "events")
      val tEnd = ev.agg(max(unix_micros(col("ts"))).as("t_end"))
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("s_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      // the after-signup predicate lives IN the left join: a user
      // whose purchases all precede signup must stay as a censored
      // row (null first_p), not vanish through a post-join filter
      val perUser = signups.join(
          purchases.withColumnRenamed("user_id", "p_uid"),
          col("p_uid") === col("user_id") && col("p_us") > col("s_us"),
          "left")
        .groupBy(col("user_id"), col("s_us"))
        .agg(min(col("p_us")).as("first_p"))
        .join(broadcast(tEnd))
        .select(col("user_id"),
          when(col("first_p").isNotNull,
            ((col("first_p") - col("s_us")) / hourUs).cast("long"))
            .as("dur"),
          ((col("t_end") - col("s_us")) / hourUs).cast("long").as("cens"))
        .select(col("user_id"), col("dur"),
          coalesce(least(col("dur"), col("cens")), col("cens")).as("obs"))
      val deaths = perUser.filter(col("dur").isNotNull)
        .groupBy(col("dur").as("t")).agg(count(lit(1)).as("d"))
      val ends = perUser.groupBy(col("obs").as("t")).agg(count(lit(1)).as("e"))
      val tMax = deaths.agg(max(col("t")).as("t_max"))
      val total = perUser.agg(count(lit(1)).as("n_total"))
      // at-risk n_t = total − #users whose observation ended before t:
      // each obs-end hour replicates to the death hours AFTER it
      val endedBefore = ends.join(broadcast(tMax))
        .filter(col("t") < col("t_max"))
        .select(explode(expr("sequence(t + 1, t_max)")).as("t"), col("e"))
        .groupBy(col("t")).agg(sum(col("e")).as("ended"))
      val atRisk = deaths.join(endedBefore, Seq("t"), "left")
        .join(broadcast(total))
        .select(col("t"), col("d"),
          (col("n_total") - coalesce(col("ended"), lit(0L))).as("n_risk"))
      // survival: each death hour's ln(1−d/n) replicates to hours ≥ it
      // d = n_risk (everyone remaining converts) makes the factor 0:
      // ln(0) diverges between engines (Spark null, DuckDB error), so
      // the absorbing zero becomes a −1e4 sentinel — exp underflows
      // to exactly 0.0 in IEEE double on both engines
      val lnTerms = atRisk.join(broadcast(tMax))
        .select(explode(expr("sequence(t, t_max)")).as("t"),
          when(col("d") < col("n_risk"),
            log(lit(1.0) - col("d").cast("double") / col("n_risk")))
            .otherwise(lit(-1e4)).as("lnf"))
        .groupBy(col("t")).agg(sum(col("lnf")).as("lnS"))
      atRisk.join(lnTerms, Seq("t"))
        .select(col("t").as("t_hr"), col("n_risk"), col("d").as("n_deaths"),
          r6(exp(col("lnS"))).as("survival"))
        .orderBy(col("t_hr"))
    }),

    /** Bot-regularity screen — the inter-arrival coefficient of
      * variation per user: humans are bursty (CV ≈ 1 for Poisson,
      * higher with sessions), schedulers and bots are metronomic
      * (CV → 0). Gaps come from ONE lead pass over the
      * high-cardinality user partition (total order by (ts, id) — the
      * q171 stance), the per-user moments are one map-side-combined
      * aggregate, and the top-20 most-regular cut ranks on the
      * r6-rounded CV with the id tie-break. The min-events floor
      * keeps small-sample CVs (noise) out of the ranking. */
    "q213_bot_regularity" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("gap", (lead(col("us"), 1).over(w) - col("us")).cast("double"))
        .filter(col("gap").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          avg(col("gap")).as("mean_gap"),
          stddev_samp(col("gap")).as("sd_gap"))
        .filter(col("n_gaps") >= 20 && col("mean_gap") > 0)
        .select(col("user_id"), col("n_gaps"),
          // mean gap is an exact integer rational — it can land on the
          // half-millisecond rounding grid, hence the +1e-12 nudge
          round(col("mean_gap") / 1000000.0 + 1e-12, 3).as("mean_gap_s"),
          r6n(col("sd_gap") / col("mean_gap")).as("cv"))
        .orderBy(col("cv"), col("user_id"))
        .limit(20)
    }),

    /** Weekday/hour seasonality profile per event type — weekend
      * share plus the peak activity hour (argmax over the 24-cell
      * hour histogram as TWO codegen hash aggregates — max count,
      * join back, min hour — the q203 stance, never a struct-max
      * SortAggregate). The shape a capacity planner reads before
      * trusting any hourly anomaly screen: a "spike" at the daily
      * peak is seasonality, not drift. */
    "q214_seasonality" -> ((s: SparkSession, dir: String) => {
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
        .groupBy(col("event_type"), col("dow"), col("hod"))
        .agg(count(lit(1)).as("c"))
        .cache()
      val byHour = cells.groupBy(col("event_type"), col("hod"))
        .agg(sum(col("c")).as("ch"))
      val peak = byHour.groupBy(col("event_type")).agg(max(col("ch")).as("ch"))
        .join(byHour, Seq("event_type", "ch"))
        .groupBy(col("event_type"))
        .agg(min(col("hod")).as("peak_hour"), max(col("ch")).as("peak_n"))
      cells.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n"),
          sum(when(col("dow").isin(1, 7), col("c")).otherwise(0L)).as("wkend"))
        .join(broadcast(peak), "event_type")
        .select(col("event_type"), col("n"),
          round(col("wkend").cast("double") / col("n") + 1e-12, 6)
            .as("weekend_share"),
          col("peak_hour").cast("long").as("peak_hour"),
          round(col("peak_n").cast("double") / col("n") + 1e-12, 6)
            .as("peak_hour_share"))
        .orderBy(col("event_type"))
    }),

    /** Theil-Sen robust trend per event type — the median of pairwise
      * hourly-mean slopes: one wild hour drags q180's OLS slope
      * arbitrarily far, but moves the slope MEDIAN by at most one
      * rank. Pair generation self-joins the HOURLY AGGREGATE (never
      * raw rows) on the type key with h2 > h1 — pair count is
      * span-bounded (H² per type over hour-cardinality rows, ~10⁵
      * pairs for a two-week span; for unbounded retention, window the
      * span first). The median lands via the exact distributed
      * quantile machinery ([[Quantiles.exactQuantiles]]); OLS over
      * the same hourly means is reported alongside so the
      * outlier-sensitivity gap is visible. */
    "q206_theil_sen" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"),
          (unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
        .agg(avg(col("value").cast("double")).as("m"))
        .cache()
      val slopes = hourly.select(col("event_type"), col("hr").as("h1"), col("m").as("m1"))
        .join(hourly.select(col("event_type"), col("hr").as("h2"), col("m").as("m2")),
          "event_type")
        .filter(col("h2") > col("h1"))
        .select(col("event_type"),
          ((col("m2") - col("m1")) / (col("h2") - col("h1")).cast("double"))
            .as("slope"))
      val ts = Quantiles.exactQuantiles(slopes, Seq("event_type"), "slope",
        Seq("ts_slope" -> 0.5))
      val ols = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          expr("regr_slope(m, cast(hr as double))").as("ols"))
      // LEFT join: a single-hour type has no slope pairs — it must
      // surface with NULL slopes (as the oracle's empty-subquery
      // NULL does), not vanish
      ols.join(ts, Seq("event_type"), "left")
        .select(col("event_type"), col("n_hours"),
          r6(col("ts_slope")).as("ts_slope"), r6(col("ols")).as("ols_slope"))
        .orderBy(col("event_type"))
    }),

    /** Median/MAD robust outlier screen per event type — the
      * breakdown-proof alternative to mean±3σ (q143's z) and the IQR
      * fence (q129): median and MAD have 50% breakdown, so the
      * outliers being screened cannot drag the screen itself. Two
      * passes of the exact distributed quantile machinery (median,
      * then median absolute deviation), cuts broadcast by type, and
      * the robust z = 0.6745·(v−med)/MAD is flagged on its r6-rounded
      * value (the cross-engine float-compare stance). Zero-MAD
      * types (> half the values identical) are reported but not
      * flagged — the robust z is undefined there. */
    "q207_mad_outliers" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"))
      val med = Quantiles.exactQuantiles(ev, Seq("event_type"), "v",
        Seq("med" -> 0.5))
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("v"), col("med"),
          abs(col("v") - col("med")).as("adev"))
      val mad = Quantiles.exactQuantiles(dev, Seq("event_type"), "adev",
        Seq("mad" -> 0.5))
      val rz = round(lit(0.6745) * (col("v") - col("med")) / col("mad"), 6)
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(max(col("med"))).as("median"),
          r6(max(col("mad"))).as("mad"),
          sum(when(col("mad") > 0 && abs(rz) > 3.5, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    /** Conversion LATENCY percentiles by signup day — q186 counts the
      * 24 h conversions; this reports how fast they convert (p50/p90
      * minutes to the FIRST qualifying purchase), the product-health
      * metric behind activation dashboards. Same user-keyed equi-join
      * shape as q186; the first-purchase pick is a min aggregate (no
      * window), latencies are exact integer-microsecond differences
      * scaled to minutes, and the day-grouped percentiles ride the
      * exact distributed quantile machinery. */
    "q208_conversion_latency" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val ev = Tables(s, dir, "events")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          date_trunc("day", col("ts")).as("day"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      val firstConv = signups.join(purchases, Seq("user_id"))
        .filter(col("p_us") > col("us") && col("p_us") <= col("us") + dayUs)
        .groupBy(col("day"), col("event_id"), col("us"))
        .agg(min(col("p_us")).as("first_us"))
        .select(col("day"),
          ((col("first_us") - col("us")).cast("double") / 60000000.0)
            .as("latency_min"))
        .cache() // feeds both the quantile pass and the per-day count
      Quantiles.exactQuantiles(firstConv, Seq("day"), "latency_min",
        Seq("p50_min" -> 0.5, "p90_min" -> 0.9))
        .join(firstConv.groupBy(col("day")).agg(count(lit(1)).as("n_converted")),
          "day")
        .select(col("day"), col("n_converted"),
          r4n(col("p50_min")).as("p50_min"), r4n(col("p90_min")).as("p90_min"))
        .orderBy(col("day"))
    }),

    /** Population Stability Index per event type — THE industry drift
      * score for deployed models: each type's SECOND time-half is
      * binned by the FIRST half's own exact deciles (type-7
      * interpolated cuts from [[Quantiles.exactQuantiles]] — one rank
      * pass over the reference rows) and PSI = Σ (q−p)·ln(q/p) over
      * the 10 bins. The half-split reuses the q199 per-type
      * min/max-fold equi-join; cut rows are type-cardinality and
      * BROADCAST; the bin index is a pure projection (count of cuts
      * below the value — cut/value comparisons are exact doubles:
      * interpolated cuts only coincide with a sample when the
      * interpolation is degenerate, and then they are bit-equal in
      * both engines); bins densify per type via a 1..10 sequence so
      * structurally-empty bins still contribute their smoothed term.
      * Laplace smoothing ((c+0.5)/(n+5)) keeps empty-bin PSI finite
      * and identical cross-engine. */
    "q204_psi_drift" -> ((s: SparkSession, dir: String) => {
      val spans = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(min(unix_micros(col("ts"))).as("us0"),
          max(unix_micros(col("ts"))).as("us1"))
        .select(col("event_type"), ((col("us0") + col("us1")) / 2).as("mid"))
      val halved = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .join(broadcast(spans), "event_type")
        .select(col("event_type"), col("value").cast("double").as("v"),
          when(unix_micros(col("ts")) <= col("mid"), 1).otherwise(2).as("h"))
        .cache()
      val cutNames = (1 to 9).map(i => s"c$i" -> i / 10.0)
      val cuts = Quantiles.exactQuantiles(
        halved.filter(col("h") === 1), Seq("event_type"), "v", cutNames)
      val binCol = (1 to 9).map(i =>
        when(col("v") > col(s"c$i"), 1).otherwise(0)).reduce(_ + _) + 1
      val counts = halved.join(broadcast(cuts), "event_type")
        .groupBy(col("event_type"), binCol.as("bin"), col("h"))
        .agg(count(lit(1)).as("c"))
      val dense = counts.groupBy(col("event_type"))
        .agg(sum(when(col("h") === 1, col("c")).otherwise(0L)).as("n1"),
          sum(when(col("h") === 2, col("c")).otherwise(0L)).as("n2"))
        .select(col("event_type"), col("n1"), col("n2"),
          explode(expr("sequence(1, 10)")).as("bin"))
        .join(counts.filter(col("h") === 1)
          .select(col("event_type"), col("bin"), col("c").as("c1")),
          Seq("event_type", "bin"), "left")
        .join(counts.filter(col("h") === 2)
          .select(col("event_type"), col("bin"), col("c").as("c2")),
          Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("n1"), col("n2"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"))
      val p = (col("c1").cast("double") + 0.5) / (col("n1").cast("double") + 5.0)
      val q = (col("c2").cast("double") + 0.5) / (col("n2").cast("double") + 5.0)
      dense.groupBy(col("event_type"))
        .agg(max(col("n1")).as("n_ref"), max(col("n2")).as("n_cur"),
          r6(sum((q - p) * log(q / p))).as("psi"))
        .orderBy(col("event_type"))
    }),

    /** EWMA control chart over the hourly event-rate series — the
      * smoothed anomaly screen that reacts faster than q143's rolling
      * z (EWMA weights recent hours geometrically) while staying
      * fully declarative: the recursive ewma_t unrolls over a FINITE
      * 48-hour horizon (weight lambda(1-lambda)^gap, normalized over
      * the available gaps so series starts are unbiased; the dropped
      * tail mass is (1-lambda)^48 ≈ 3e-8 — negligible). Shape: dense
      * per-(type, hour) grid (q165's sequence densify — missing hours
      * are true zeros), each source hour replicates to the <= 48
      * target hours it influences (a pure projection explode), one
      * (type, hour)-keyed aggregate forms the weighted mean, and an
      * equi-join back to the grid scores each hour. Every shuffle key
      * is (type, hour) — cardinality grows with the data, never
      * one-task-per-type. Deviations are r6-rounded with id
      * tie-breaks before the top-k, the cross-engine float-ranking
      * stance. */
    "q201_ewma_chart" -> ((s: SparkSession, dir: String) => {
      ewmaFrame(Tables(s, dir, "events"))
        .select(col("event_type"), col("hr"), col("c"),
          r6(col("ewma")).as("ewma"),
          r6(col("c").cast("double") - col("ewma")).as("dev"))
        .orderBy(r6(abs(col("dev"))).desc, col("event_type"), col("hr"))
        .limit(20)
    }),

    /** Spike ATTRIBUTION — the drill-down that turns q201's "hour X
      * is anomalous" into "driven by THESE users": for the top-3
      * EWMA-deviation hours, each contributing user's spike share is
      * scored against their baseline share of that type (lift =
      * spike share / baseline share — a bot burst shows lift ≫ 1 on
      * a handful of ids, an organic surge shows lift ≈ 1 everywhere).
      * The spike list is a 3-row TakeOrderedAndProject broadcast into
      * ONE events-scan join; per-user counts map-side combine; the
      * top-3-per-spike rank is WindowGroupLimit-capped; shares and
      * lifts are integer rationals, +1e-12-nudged and ranked on their
      * r6 values with id tie-breaks (the cross-engine float stance). */
    "q212_spike_attribution" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      val dev6 = r6(col("c").cast("double") - col("ewma"))
      val spikes = ewmaFrame(ev)
        .orderBy(r6(abs(dev6)).desc, col("event_type"), col("hr"))
        .limit(3)
        .select(col("event_type"), col("hr"))
      val se = ev.select(col("event_type"),
          (unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"),
          col("user_id"))
        .join(broadcast(spikes), Seq("event_type", "hr"))
      val uh = se.groupBy(col("event_type"), col("hr"), col("user_id"))
        .agg(count(lit(1)).as("n_u"))
      val ht = uh.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("n_u")).as("n_h"))
      val ub = ev.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("b_u"))
      val tt = ev.groupBy(col("event_type")).agg(count(lit(1)).as("b_t"))
      val lifted = uh
        .join(broadcast(ht), Seq("event_type", "hr"))
        .join(ub, Seq("event_type", "user_id"))
        .join(broadcast(tt), Seq("event_type"))
        .select(col("event_type"), col("hr"), col("user_id"), col("n_u"),
          round(col("n_u").cast("double") / col("n_h") + 1e-12, 6)
            .as("spike_share"),
          round((col("n_u") * col("b_t")).cast("double") /
            (col("n_h") * col("b_u")).cast("double") + 1e-12, 6).as("lift"))
      val w = Window.partitionBy(col("event_type"), col("hr"))
        .orderBy(desc("lift"), asc("user_id"))
      lifted.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy(col("event_type"), col("hr"), col("rn"))
    }),

    /** Per-type upper CUSUM over the daily count series — the
      * change-point screen that catches a SUSTAINED small shift the
      * q201 EWMA band misses (CUSUM accumulates evidence; EWMA
      * forgets it). The recursion S_t = max(0, S_{t-1} + z_t - k) is
      * NOT computed recursively: the closed form
      * S_t = cs_t − min(0, min_{j≤t} cs_j) (cs = prefix sum of
      * z_t − k) turns it into two prefix folds, and both ride the
      * q216 gap-explode stance — each day row replicates to the
      * span-bounded days it influences, then ONE equi-keyed
      * aggregate. Rows after the first groupBy are types × days²/2:
      * bounded by the TIME SPAN, independent of the 100 TB row
      * count, and the shuffles are keyed on (type, day) — never one
      * task per type, no constant-cardinality window anywhere.
      * Standardization stats come from a 5-row broadcast; alarm
      * decisions compare the NUDGED r6 value in both engines so the
      * threshold crossing is grid-stable. */
    "q233_cusum_shift" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val daily = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / dayUs).cast("long").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
      val g = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"),
          map_from_entries(array_sort(collect_list(struct(col("day"), col("c")))))
            .as("mp"))
        .withColumn("n_days", col("d1") - col("d0") + 1)
        // Σc / Σc² over the DENSE grid equal the sparse sums (zero days
        // contribute nothing) but the COUNT is the span — so mean/sd of
        // the zero-padded series come without materializing the grid.
        // The explicit sum/sumsq formula (not stddev_samp) is mirrored
        // verbatim in the oracle: identical arithmetic, no Welford-vs-
        // textbook float divergence.
        .withColumn("m", col("sc").cast("double") / col("n_days"))
        .withColumn("sd", sqrt(
          (col("sc2").cast("double") - col("sc").cast("double") * col("sc") /
            col("n_days")) / (col("n_days") - 1.0)))
        .filter(col("sd") > 0)
      g.withColumn("fold", expr("""
          aggregate(
            transform(sequence(d0, d1),
              dd -> (CAST(coalesce(try_element_at(mp, dd), 0L) AS DOUBLE) - m)
                      / sd - 0.25D),
            named_struct(
              's', CAST(0.0 AS DOUBLE), 'mx', CAST(0.0 AS DOUBLE),
              'na', CAST(0 AS BIGINT), 'fa', CAST(NULL AS BIGINT),
              'i', CAST(0 AS BIGINT)),
            (acc, x) -> named_struct(
              's', greatest(0.0D, acc.s + x),
              'mx', greatest(acc.mx, greatest(0.0D, acc.s + x)),
              'na', acc.na + IF(round(greatest(0.0D, acc.s + x) + 1e-12, 6)
                      > 3.0D, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
              'fa', coalesce(acc.fa,
                IF(round(greatest(0.0D, acc.s + x) + 1e-12, 6) > 3.0D,
                   d0 + acc.i, CAST(NULL AS BIGINT))),
              'i', acc.i + 1))"""))
        .select(col("event_type"), col("n_days"),
          round(col("fold.mx") + 1e-12, 6).as("max_cusum"),
          col("fold.na").as("n_alarms"),
          col("fold.fa").as("first_alarm_day"))
        .orderBy(col("event_type"))
    }),

    /** Kruskal-Wallis rank ANOVA across ALL event types' value
      * distributions — the k-sample generalization of q200's
      * Mann-Whitney, and the right omnibus test when q235's F-test
      * assumptions (normality, equal variance) fail. Midranks ride
      * the SAME machinery as q200: group by distinct value (map-side
      * combined — the shuffle carries distinct values, not rows),
      * ONE [[GlobalRank.withRunningSum]] range exchange, midrank =
      * cnv − nv + (nv+1)/2. Doubled midranks (2·cnv − nv + 1) keep
      * every per-group rank sum an EXACT LONG, and the per-group H
      * terms are scaled BEFORE the 5-term fold (term =
      * r2g·3/(N(N+1))·r2g/n_g, each O(N)) so no intermediate exceeds
      * double precision — the final sum is order-robust to the last
      * ulp in both engines. */
    "q234_kruskal_wallis" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("value").cast("double").as("v"), col("event_type").as("g"))
      val vg = ev.groupBy(col("v"), col("g")).agg(count(lit(1)).as("n_gv"))
      val vv = vg.groupBy(col("v")).agg(sum(col("n_gv")).as("nv"))
      val c = GlobalRank.withRunningSum(vv, Seq(col("v")), "nv", "cnv")
      val vgm = vg.join(
        c.select(col("v"), (lit(2) * col("cnv") - col("nv") + 1).as("mid2")),
        "v")
      val grp = vgm.groupBy(col("g"))
        .agg(sum(col("n_gv")).as("n_g"),
          sum(col("n_gv") * col("mid2")).as("r2g"))
      val tot = c.agg(sum(col("nv")).as("n"),
        // double BEFORE cubing (overflow at ~2.1M dupes of one value)
        sum(col("nv").cast("double") * col("nv") * col("nv") - col("nv"))
          .as("tie"))
      val terms = grp.join(broadcast(tot))
        .select(col("n"), col("tie"), col("n_g"),
          ((col("r2g").cast("double") * 3.0 /
            (col("n") * (col("n") + 1.0))) * col("r2g") / col("n_g")).as("term"))
      terms
        .groupBy(col("n"), col("tie"))
        .agg(count(lit(1)).as("k_groups"), sum(col("term")).as("st"))
        .select(col("k_groups"), col("n"),
          r6n(col("st") - lit(3.0) * (col("n") + 1.0)).as("h"),
          r6n((col("st") - lit(3.0) * (col("n") + 1.0)) /
            (lit(1.0) - col("tie").cast("double") /
              (col("n").cast("double") * col("n") * col("n") - col("n"))))
            .as("h_tie_corrected"),
          r6n((col("st") - lit(3.0) * (col("n") + 1.0)) / (col("n") - 1.0))
            .as("epsilon_sq"))
    }),

    /** One-way ANOVA F across event-type value distributions — the
      * classical mean-separation omnibus next to q234's rank version
      * (run both: agreement says the effect is real, disagreement
      * says it lives in the tails). Pure two-level aggregation: one
      * per-group pass for (n, mean, s²) — six sum-mergeable partials,
      * map-side combined — then a k-row fold using the
      * Σn·m² − (Σn·m)²/N identity for the between-group sum of
      * squares, so NO second data pass and no grand-mean broadcast
      * join. Floats flow through data-volume folds of parquet
      * doubles (the q166 Welch stance): off-grid in practice, plain
      * r6. */
    "q235_anova_oneway" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("g"), col("value").cast("double").as("v"))
      val grp = ev.groupBy(col("g"))
        .agg(count(lit(1)).as("n_g"), avg(col("v")).as("m_g"),
          var_samp(col("v")).as("s_g"))
      val ssb = col("sb2") - col("sb") * col("sb") / col("n")
      grp.agg(count(lit(1)).as("k_groups"), sum(col("n_g")).as("n"),
          sum(col("n_g") * col("m_g")).as("sb"),
          sum(col("n_g") * col("m_g") * col("m_g")).as("sb2"),
          sum((col("n_g") - 1) * col("s_g")).as("ssw"))
        .select(col("k_groups"), col("n"),
          r6((ssb / (col("k_groups") - 1.0)) /
            (col("ssw") / (col("n") - col("k_groups")).cast("double")))
            .as("f_stat"),
          r6(ssb / (ssb + col("ssw"))).as("eta_sq"))
    }),

    /** Kendall's tau-b between order quantity and discount depth —
      * the tie-robust monotone-association check behind "do bigger
      * lines get deeper discounts?" (q198's Spearman answers with
      * midranks; tau answers with PAIR counts, and the two disagreeing
      * flags outlier leverage). NEVER all-pairs over rows: both
      * variables live on FIXED small domains (quantity 1-50, discount
      * in cents 0-10), so one map-side-combined groupBy reduces 100 TB
      * of lines to a ≤ 550-cell contingency table, and the
      * concordant/discordant counts come from the cells via the
      * gap-explode stance — each cell replicates to the grid positions
      * strictly below it (≤ domain² positions per cell, bounded by the
      * VALUE DOMAIN, not the data), then one equi-keyed join back onto
      * the cells. Everything is exact integer until the final
      * tau = (C−D)/√((n0−n1)(n0−n2)) projection (deterministic IEEE,
      * nudged r6). */
    "q236_kendall_tau" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("q"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("d"))
      val cells = li.groupBy(col("q"), col("d")).agg(count(lit(1)).as("o"))
      val qd = cells.agg(min(col("q")).as("q0"), max(col("q")).as("q1"),
        min(col("d")).as("d0"), max(col("d")).as("d1"))
      val withB = cells.join(broadcast(qd))
      // G(i,j) = Σ_{k>i, l>j} o_kl : cell (k,l) lands on all (i,j) below it
      val gTab = withB.filter(col("q") > col("q0") && col("d") > col("d0"))
        .select(explode(expr("sequence(q0, q - 1)")).as("qi"), col("d"),
          col("d0"), col("o"))
        .select(col("qi"), explode(expr("sequence(d0, d - 1)")).as("di"),
          col("o"))
        .groupBy(col("qi"), col("di")).agg(sum(col("o")).as("gt"))
      // Hd(i,j) = Σ_{k>i, l<j} o_kl
      val hTab = withB.filter(col("q") > col("q0") && col("d") < col("d1"))
        .select(explode(expr("sequence(q0, q - 1)")).as("qi"), col("d"),
          col("d1"), col("o"))
        .select(col("qi"), explode(expr("sequence(d + 1, d1)")).as("di"),
          col("o"))
        .groupBy(col("qi"), col("di")).agg(sum(col("o")).as("ht"))
      val cd = cells
        .join(gTab, col("q") === col("qi") && col("d") === col("di"), "left")
        .drop("qi", "di")
        .join(hTab, col("q") === col("qi") && col("d") === col("di"), "left")
        .agg(sum(col("o")).as("n"),
          // double BEFORE the product: o * cumulated-count is a long
          // multiply bounded only by n^2 (same overflow class as the
          // tie terms); integer-valued doubles stay exact to 2^53
          sum(col("o").cast("double") * coalesce(col("gt"), lit(0L))).as("nc"),
          sum(col("o").cast("double") * coalesce(col("ht"), lit(0L))).as("nd"))
      // doubles BEFORE the products: tq*(tq-1) and n*(n-1) are long
      // multiplies that overflow at the row counts the docstring
      // targets; double keeps them exact to 2^53 with mirrored op order
      val rowT = cells.groupBy(col("q")).agg(sum(col("o")).as("tq"))
        .agg(sum(col("tq").cast("double") * (col("tq") - 1) / 2).as("n1"))
      val colT = cells.groupBy(col("d")).agg(sum(col("o")).as("td"))
        .agg(sum(col("td").cast("double") * (col("td") - 1) / 2).as("n2"))
      // nc/nd fold in doubles to dodge the ANSI long-multiply overflow
      // (exact to 2^53 — beyond ~9e15 concordances the fold would lose
      // ulps where HUGEINT math would not; at that scale switch the
      // cell counts to DECIMAL), then cast back to BIGINT on OUTPUT so
      // the published schema keeps its integer pair-count columns
      cd.join(broadcast(rowT)).join(broadcast(colT))
        .select(col("n"), col("nc").cast("long").as("concordant"),
          col("nd").cast("long").as("discordant"),
          r6n((col("nc") - col("nd")).cast("double") /
            sqrt((col("n").cast("double") * (col("n") - 1) / 2 - col("n1")) *
              (col("n").cast("double") * (col("n") - 1) / 2 - col("n2"))))
            .as("tau_b"))
    }),

    /** RFM customer segmentation — the classical
      * recency/frequency/monetary quintile grid, the behavioral
      * counterpart of q150's cohort view. Every score is an INTEGER
      * RANK bucket ((rank−1)·5 DIV n + 1), never a float quantile
      * cut: ranks come from three [[GlobalRank.withRowNumbers]]
      * range exchanges over the ALREADY per-customer-aggregated
      * table (input cardinality = customers, not orders), totally
      * ordered by (metric, custkey) so both engines agree on every
      * boundary. Ranking on last-active day ascending makes the
      * recency score need NO corpus max-date subtraction. Monetary
      * sums ride exact integer cents (the q222 stance). */
    "q241_rfm_segments" -> ((s: SparkSession, dir: String) => {
      val rfm = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          (unix_micros(col("o_orderdate")) / 86400000000L).cast("long")
            .as("day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("o_custkey"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
          sum(col("cents")).as("cents"))
      // ALL THREE dimensions' ranks from ONE GlobalRank exchange
      // (round-17, the q198 tagged-union stance): the per-customer
      // triple unpivots to (w, v) rows, one range exchange over
      // (w, v, custkey) numbers every dimension's rows within their
      // tag, and the tag's size is the customer count. One pivot
      // groupBy on custkey reassembles the three scores; all
      // arithmetic stays exact integers.
      val u = rfm.select(col("o_custkey"), explode(array(
          struct(lit("r").as("w"), col("last_day").as("v")),
          struct(lit("f").as("w"), col("freq").as("v")),
          struct(lit("m").as("w"), col("cents").as("v")))).as("e"))
        .select(col("o_custkey"), col("e.w").as("w"), col("e.v").as("v"))
      val scored = GlobalRank.withRowNumbers(u,
          Seq(col("v"), col("o_custkey")), "rn", Some("n"), Seq("w"))
        .select(col("o_custkey"), col("w"), col("v"),
          expr("CAST((rn - 1) * 5 DIV n AS BIGINT) + 1").as("q"))
        .groupBy(col("o_custkey"))
        .agg(max(when(col("w") === "r", col("q"))).as("r_q"),
          max(when(col("w") === "f", col("q"))).as("f_q"),
          max(when(col("w") === "m", col("q"))).as("m_q"),
          max(when(col("w") === "m", col("v"))).as("cents"))
        .select(col("r_q"), col("f_q"), col("m_q"), col("cents"))
      scored
        .select(
          when(col("r_q") >= 4 && col("f_q") >= 4 && col("m_q") >= 4,
            "champion")
            .when(col("r_q") <= 2 && col("f_q") >= 4, "at_risk_loyal")
            .when(col("r_q") >= 4 && col("f_q") <= 2, "recent_light")
            .otherwise("regular").as("segment"),
          col("r_q"), col("f_q"), col("m_q"), col("cents"))
        .groupBy(col("segment"), col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_customers"),
          r6n(avg(col("cents"))).as("avg_cents"))
        .orderBy(col("segment"), col("r_q"), col("f_q"), col("m_q"))
    }),

    /** Per-user event-type entropy census — how PREDICTABLE each
      * user's behavior mix is (a bot pinned to one action scores 0;
      * a uniform 5-type user scores ln 5), bucketed into 0.01-nat
      * bands (this corpus's uniform mixers span only ~1.51-1.61 nats). Two map-side-combined aggregates (user × type, then
      * user) and one final census groupBy — shuffles keyed on
      * user_id, nothing driver-side. Band assignment floors the
      * NUDGED r6 entropy so the band boundary is grid-stable in both
      * engines (the q238 flag stance). */
    "q242_session_entropy" -> ((s: SparkSession, dir: String) => {
      val ut = Tables(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val uh = ut.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
          sum(col("c") * log(col("c").cast("double"))).as("clc"))
        // H = ln n − (Σ c·ln c)/n : one log per (user, type) plus a
        // closed-form finish — no per-row p=c/n materialization
        .select(col("user_id"), col("n_types"),
          (log(col("n").cast("double")) - col("clc") / col("n")).as("h"))
      uh.select(col("n_types"),
          floor(round(col("h") + 1e-12, 6) / 0.01).cast("long").as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_users"),
          r6n(avg(col("n_types").cast("double"))).as("avg_types"))
        .orderBy(col("band"))
    }),

    /** Fano factor + Goh-Barabási burstiness per event type over the
      * DENSE hourly series — the dispersion fingerprint that
      * separates Poisson traffic (F≈1) from bursty retry storms
      * (F≫1). Like q233, the zero-hour-padded mean/variance need NO
      * grid materialization: Σc and Σc² over the dense series equal
      * the sparse sums while the count is the span — one
      * map-side-combined groupBy and a 5-row projection. The
      * explicit sum/sumsq variance formula is mirrored verbatim in
      * the oracle. */
    "q243_fano_burstiness" -> ((s: SparkSession, dir: String) => {
      val hourly = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / 3600000000L).cast("long").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"),
          sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"))
        .withColumn("nh", col("h1") - col("h0") + 1)
        .withColumn("m", col("sc").cast("double") / col("nh"))
        .withColumn("v",
          (col("sc2").cast("double") - col("sc").cast("double") * col("sc") /
            col("nh")) / (col("nh") - 1.0))
        .filter(col("m") > 0 && col("nh") > 1)
        .select(col("event_type"), col("nh").as("n_hours"),
          r6n(col("m")).as("mean_per_hour"),
          r6n(col("v") / col("m")).as("fano"),
          r6n((sqrt(col("v")) - col("m")) / (sqrt(col("v")) + col("m")))
            .as("burstiness"))
        .orderBy(col("event_type"))
    }),

    /** Cliff's delta effect-size matrix across ALL event-type pairs —
      * the magnitude companion to q200's significance test (at 100 TB
      * everything is "significant"; delta = P(a > b) − P(a < b) says
      * whether the difference MATTERS, with the Romano et al. 2006
      * negligible/small/medium/large bands). All 10 pairwise deltas
      * from ONE pass: per-distinct-value conditional counts (the
      * shuffle carries distinct values, not rows), then ONE
      * [[GlobalRank.withRunningSums]] range exchange computes all
      * five per-type cumulative columns together, and every pair's
      * U = Σ_v n_a·(below_b) + n_a·n_b/2 folds in a single aggregate
      * — never a per-pair rank pass, never all-pairs over rows.
      * Every per-row term is a half-integer (exactly representable),
      * so the U sums are EXACT in both engines; delta is an
      * integer-rational → nudged r6, and the band compares the
      * ROUNDED value so the boundary cannot flip. */
    "q248_cliffs_delta" -> ((s: SparkSession, dir: String) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pairs = for {
        i <- types.indices; j <- i + 1 until types.size
      } yield (types(i), types(j))
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isin(types: _*))
        .select(col("event_type").as("t"), col("value").cast("double").as("v"))
      val nAggs = types.map(t => count_if(col("t") === t).as(s"n_$t"))
      val g = ev.groupBy(col("v")).agg(nAggs.head, nAggs.tail: _*)
      val c = GlobalRank.withRunningSums(g, Seq(col("v")),
        types.map(t => s"n_$t" -> s"c_$t"))
      val uAggs = pairs.map { case (a, b) =>
        sum(col(s"n_$a").cast("double") *
            (col(s"c_$b") - col(s"n_$b")).cast("double") +
          col(s"n_$a").cast("double") * col(s"n_$b").cast("double") / 2.0)
          .as(s"u_${a}_$b")
      } ++ types.map(t => sum(col(s"n_$t")).as(s"tot_$t"))
      val one = c.agg(uAggs.head, uAggs.tail: _*)
      one.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(a).as("type_a"), lit(b).as("type_b"),
            col(s"tot_$a").as("n_a"), col(s"tot_$b").as("n_b"),
            r6n(lit(2.0) * col(s"u_${a}_$b") /
              (col(s"tot_$a").cast("double") * col(s"tot_$b")) - 1.0)
              .as("delta"))
        }: _*)).as("r"))
        .select(col("r.type_a"), col("r.type_b"), col("r.n_a"), col("r.n_b"),
          col("r.delta"),
          when(abs(col("r.delta")) < 0.147, "negligible")
            .when(abs(col("r.delta")) < 0.33, "small")
            .when(abs(col("r.delta")) < 0.474, "medium")
            .otherwise("large").as("magnitude"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    /** Brown-Forsythe variance-homogeneity test — the assumption
      * check for q235's ANOVA itself (a significant F with unequal
      * variances is an artifact), in the robust median-centered form
      * (Levene's mean-centered W collapses under the heavy tails this
      * corpus has). Group medians come from the exact-quantile
      * machinery ([[Quantiles.withQuantiles]] — every row re-reads
      * the SAME cached range exchange, medians broadcast back onto
      * the rows, one source scan total); the F fold on |x − med| is
      * q235's two-level aggregation verbatim. Floats are volume
      * folds over parquet doubles: plain r6. */
    "q249_brown_forsythe" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("g"), col("value").cast("double").as("v"))
      val z = Quantiles.withQuantiles(ev, Seq("g"), "v", Seq(("med", 0.5)))
        .select(col("g"), abs(col("v") - col("med")).as("z"))
      val grp = z.groupBy(col("g"))
        .agg(count(lit(1)).as("n_g"), avg(col("z")).as("m_g"),
          var_samp(col("z")).as("s_g"))
      val ssb = col("sb2") - col("sb") * col("sb") / col("n")
      grp.agg(count(lit(1)).as("k_groups"), sum(col("n_g")).as("n"),
          sum(col("n_g") * col("m_g")).as("sb"),
          sum(col("n_g") * col("m_g") * col("m_g")).as("sb2"),
          sum((col("n_g") - 1) * col("s_g")).as("ssw"))
        .select(col("k_groups"), col("n"),
          r6((ssb / (col("k_groups") - 1.0)) /
            (col("ssw") / (col("n") - col("k_groups")).cast("double")))
            .as("w_stat"))
    }),

    /** Theil-T inequality decomposition of customer spend by nation —
      * the property Gini (q215) famously lacks: T splits EXACTLY into
      * a between-nations term plus a spend-weighted within-nation sum,
      * so "is revenue concentration a geography story or a
      * whale-customer story?" gets a number for each part. Two fact
      * passes (nation moments, then per-row (x/μ_g)ln(x/μ_g) terms
      * against the broadcast nation table — bounded by the nation
      * domain); the global μ and both summary terms fold over the
      * 25-row nation table via the q177 collect-explode (no 1-row
      * broadcast join anywhere). Spend rides exact integer cents
      * (q222 stance); ln terms are off-grid libm folds (plain r6);
      * the income share is an integer rational → nudged r6. */
    "q250_theil_decomposition" -> ((s: SparkSession, dir: String) => {
      val spend = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
          .as("cents"))
        .filter(col("cents") > 0)
      val cn = Tables(s, dir, "customer")
        .join(broadcast(Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val x = spend.join(cn, col("o_custkey") === col("c_custkey"))
        .select(col("n_name"), col("cents")).cache()
      val na = x.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"))
      val tg = x.join(broadcast(na), "n_name")
        .select(col("n_name"), col("n_g"), col("s_g"),
          (col("cents").cast("double") * col("n_g") / col("s_g")).as("r"))
        .groupBy(col("n_name"))
        .agg(max(col("n_g")).as("n_g"), max(col("s_g")).as("s_g"),
          sum(col("r") * log(col("r"))).as("tsum"))
      val enriched = tg
        .agg(collect_list(struct(col("n_name"), col("n_g"), col("s_g"),
          (col("tsum") / col("n_g")).as("theil_w"))).as("gs"))
        .withColumn("n", expr("aggregate(gs, 0L, (a, g) -> a + g.n_g)"))
        .withColumn("s_tot", expr("aggregate(gs, 0L, (a, g) -> a + g.s_g)"))
        .select(explode(col("gs")).as("g"), col("n"), col("s_tot"))
        .select(col("g.n_name").as("n_name"), col("g.n_g").as("n_g"),
          col("g.s_g").as("s_g"), col("g.theil_w").as("theil_w"),
          col("n"), col("s_tot"))
        .cache()
      val nilL = lit(null).cast("long")
      val nilD = lit(null).cast("double")
      val natRows = enriched.select(col("n_name").as("scope"),
        col("n_g").as("n_cust"), col("s_g").as("total_cents"),
        r6n(col("s_g").cast("double") / col("s_tot")).as("income_share"),
        r6(col("theil_w")).as("theil"))
      val share = col("s_g").cast("double") / col("s_tot")
      val muRatio = (col("s_g").cast("double") / col("n_g")) /
        (col("s_tot").cast("double") / col("n"))
      val summary = enriched
        .agg(sum(share * col("theil_w")).as("w"),
          sum(share * log(muRatio)).as("b"))
        .select(explode(array(
          struct(lit("_between").as("scope"), nilL.as("n_cust"),
            nilL.as("total_cents"), nilD.as("income_share"),
            r6(col("b")).as("theil")),
          struct(lit("_total").as("scope"), nilL.as("n_cust"),
            nilL.as("total_cents"), nilD.as("income_share"),
            r6(col("w") + col("b")).as("theil")),
          struct(lit("_within").as("scope"), nilL.as("n_cust"),
            nilL.as("total_cents"), nilD.as("income_share"),
            r6(col("w")).as("theil")))).as("r"))
        .select(col("r.*"))
      natRows.unionByName(summary).orderBy(col("scope"))
    }),

    /** Pettitt changepoint test per event type — the NONPARAMETRIC
      * complement to q233's CUSUM (CUSUM assumes the pre-shift
      * mean/σ and accumulates z-scores; Pettitt asks only "do the
      * ranks before t and after t look exchangeable?", so a
      * heavy-tailed count series cannot fake or mask a shift), with
      * the changepoint LOCATION and the closed-form significance
      * 2·exp(−6K²/(n³+n²)). Rides the q233 one-row-per-type stance:
      * the span-bounded daily series collects into a day→count map,
      * and the O(span²) midrank construction + the U_t =
      * 2Σr_i − t(n+1) prefix scan run as ONE per-row expression fold
      * — rows after the first groupBy are |types|, work is bounded by
      * the TIME SPAN squared (data-independent), and no
      * constant-cardinality window exists anywhere. Doubled midranks
      * keep everything an exact LONG until the final exp. */
    "q256_pettitt" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val daily = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / dayUs).cast("long").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
      val g = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          map_from_entries(array_sort(collect_list(struct(col("day"), col("c")))))
            .as("mp"))
        .withColumn("n", col("d1") - col("d0") + 1)
        .filter(col("n") > 2)
      g.withColumn("xs", expr(
          "transform(sequence(d0, d1), dd -> coalesce(try_element_at(mp, dd), 0L))"))
        .withColumn("r2s", expr(
          """transform(xs, x -> CAST(2 * size(filter(xs, y -> y < x))
            |  + size(filter(xs, y -> y = x)) + 1 AS BIGINT))""".stripMargin))
        .withColumn("fold", expr("""
          aggregate(r2s,
            named_struct('cum', CAST(0 AS BIGINT), 'k', CAST(-1 AS BIGINT),
                         'ad', CAST(NULL AS BIGINT), 'i', CAST(0 AS BIGINT)),
            (acc, r) -> named_struct(
              'cum', acc.cum + r,
              'k', IF(acc.i + 1 < n
                      AND abs(acc.cum + r - (acc.i + 1) * (n + 1)) > acc.k,
                    abs(acc.cum + r - (acc.i + 1) * (n + 1)), acc.k),
              'ad', IF(acc.i + 1 < n
                      AND abs(acc.cum + r - (acc.i + 1) * (n + 1)) > acc.k,
                    d0 + acc.i, acc.ad),
              'i', acc.i + 1))"""))
        .select(col("event_type"), col("n").as("n_days"),
          col("fold.k").as("k_stat"), col("fold.ad").as("change_day"),
          r6(least(lit(1.0), lit(2.0) * exp(lit(-6.0) * col("fold.k") *
            col("fold.k") /
            (col("n") * col("n") * col("n") + col("n") * col("n"))
              .cast("double")))).as("p_approx"))
        .orderBy(col("event_type"))
    }),

    /** One-pass Poisson-bootstrap confidence interval for each type's
      * mean value — the error bar every drift threshold should be
      * judged against, computed WITHOUT resampling passes: each row
      * draws a deterministic Poisson(1) weight per replica (the
      * online-bootstrap identity — multinomial resampling converges
      * to iid Poisson(1) weights as n grows), so 32 bootstrap
      * replicas cost one 32× row explode folded map-side into
      * |types|·33 cells. "Randomness" is the repo's sha-256 uniform
      * (q78/q134 stance): a 15-hex window of sha2(id:group) stepped
      * through the Poisson(1) CDF ladder as literal HEX thresholds
      * (fixed-length lowercase hex sorts numerically — no base-16
      * parse, no float) — byte-identical in both engines, and ~3×
      * cheaper than the conv() integer path (measured). The ladder
      * TRUNCATES at weight 5 (the ELSE arm): the ~0.37% tail of true
      * Poisson(1) weights ≥ 6 collapses to exactly 5, a deliberate
      * deterministic bias of < 0.1% on replicate means (mirrored in
      * the oracle, so cross-engine checks see identical values;
      * extend the threshold list if tail fidelity ever matters).
      * Replica
      * b = −1 carries weight
      * 1 everywhere: the point estimate rides the SAME aggregate, no
      * second pass, no join. The CI is the 2nd/31st order statistic
      * of the 32 replicate means (~94% percentile interval), sorted
      * on the NUDGED ROUNDED mean with replica tie-break so the
      * order — and hence the interval — cannot flip on a last-ulp
      * fold difference. */
    "q257_bootstrap_ci" -> ((s: SparkSession, dir: String) => {
      val thr = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462, 0.9963401531726563)
      // all 32 weights are computed BEFORE the explode, so each row
      // hashes 8 digests (one sha-256 feeds FOUR replicas — 64 hex
      // chars = 4 disjoint 15-hex windows) instead of 32, and the
      // explode carries finished weights, not hash work. The CDF
      // ladder compares the 15-hex window STRING against literal hex
      // thresholds — fixed-length lowercase hex sorts numerically, so
      // no base-16 integer parse (conv was the measured hot spot) and
      // no float in sight; both engines compare the same bytes. The
      // b = -1 unit-weight replica is the prepended array slot.
      val hexThr = thr.map(t =>
        f"${(t * math.pow(2.0, 60)).toLong}%015x")
      val ladder = hexThr.zipWithIndex.reverse
        .foldLeft("5L") { case (acc, (h, i)) =>
          s"IF(hx < '$h', ${i}L, $acc)" }
      val wts = expr(
        s"""flatten(transform(sequence(0, 7), g ->
           |  transform(sequence(0, 3), sl ->
           |    aggregate(array(substring(sha2(concat(
           |        CAST(event_id AS STRING), ':', CAST(g AS STRING)), 256),
           |      sl * 15 + 1, 15)),
           |      CAST(0 AS BIGINT), (a, hx) -> $ladder))))""".stripMargin)
      // round-16: the old shape posexploded the 32 finished weights to
      // 33× the rows and re-grouped twice — (event_type, b), then
      // event_type with a collect_list+sort shuffle. The per-replica
      // sums are 64 independent columnar aggregates of ONE grouped
      // scan: a single groupBy(event_type) computes them all (1
      // exchange instead of 2, zero row multiplication), and the
      // 32-slot replica-mean array sorts locally. Values identical:
      // each sum folds the same rows in the same per-partition order,
      // replica means are r6n-rounded as before, and the sw > 0 guard
      // becomes the per-slot null that `filter` drops.
      val aggs = Seq(count(lit(1)).as("n_events"), sum(col("v")).as("sv")) ++
        (0 until 32).flatMap { b => Seq(
          sum(element_at(col("w"), b + 1) * col("v")).as(s"swv$b"),
          sum(element_at(col("w"), b + 1)).as(s"sw$b")) }
      val msArr = array_sort(filter(array((0 until 32).map { b =>
        when(col(s"sw$b") > 0,
          struct(r6n(col(s"swv$b") / col(s"sw$b")).as("m"),
            lit(b).as("b"))) }: _*), x => x.isNotNull))
      Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"),
          wts.as("w"))
        .groupBy(col("event_type"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("event_type"), col("n_events"),
          r6n(col("sv") / col("n_events")).as("mean"), msArr.as("ms"))
        .select(col("event_type"), col("n_events"), col("mean"),
          // try_element_at: a type so sparse that replicas drop under
          // the sw > 0 guard yields NULL bounds (matching the
          // oracle's ms[31]) instead of an ANSI index error
          expr("try_element_at(ms, 2).m").as("ci_lo"),
          expr("try_element_at(ms, 31).m").as("ci_hi"))
        .orderBy(col("event_type"))
    }),

    /** Hill tail-index estimator over per-user activity — the
      * "HOW heavy is the tail?" number behind every salting, quota,
      * and skew decision the repo measures qualitatively (q185's
      * top-1 share, q215's Gini say concentration exists; α says
      * whether the tail is power-law and how fast it fattens as the
      * corpus grows — α ≤ 2 means per-key variance diverges and
      * today's hottest key is NOT the worst one a 100× crawl will
      * see). Classical Hill over the top k = 100 order statistics:
      * α̂ = k / Σ ln(x_i/x_{k+1}); the tail set is a
      * TakeOrderedAndProject on (count desc, user_id) — bounded rows
      * regardless of scale — and with x_{k+1} = the min of the
      * (k+1)-set, Σ ln(x_i/x_min) folds as Σ ln x − (k+1)·ln x_min
      * in ONE aggregate (the boundary term ln(x_min/x_min) = 0).
      * Degenerate flat tails (denominator 0) yield NULL, not a
      * division error. ln folds are off-grid: plain r6. */
    "q261_hill_tail_index" -> ((s: SparkSession, dir: String) => {
      val tail = Tables(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("user_id"))
        .limit(101)
      tail.agg(count(lit(1)).as("k1"),
          sum(log(col("cnt").cast("double"))).as("slog"),
          min(col("cnt")).as("xmin"))
        .select((col("k1") - 1).as("k"),
          col("xmin").as("x_tail_min"),
          r6(col("slog") - col("k1") * log(col("xmin").cast("double")))
            .as("sum_log_ratio"),
          when(col("slog") - col("k1") * log(col("xmin").cast("double")) > 0,
            r6((col("k1") - 1.0) /
              (col("slog") - col("k1") * log(col("xmin").cast("double")))))
            .as("alpha"))
    }),

    /** Two-proportion z-test on purchase rate, first vs second half
      * of the span — the PROPORTIONS member of the drift family
      * (q166's Welch compares means, q164's chi-square compares whole
      * mixes; "did the conversion RATE move?" is its own question
      * with its own pooled-variance statistic). One conditional
      * aggregate pass (four sum-mergeable counts — map-side combined,
      * one row out), halves split on the span midpoint from the same
      * pass's min/max via the q199 half-split shape; z and the
      * subgaussian tail bound exp(−z²/2) are 1-row projections (the
      * bound stance q199 documents). Rates are integer rationals →
      * nudged r6. */
    "q269_prop_ztest" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(unix_micros(col("ts")).as("us"),
          (col("event_type") === "purchase").cast("long").as("hit"))
      val span = ev.agg(min(col("us")).as("u0"), max(col("us")).as("u1"))
      val f = ev.join(broadcast(span))
        .withColumn("h2", (col("us") * 2 >= col("u0") + col("u1")).cast("long"))
        .agg(count_if(col("h2") === 0).as("n1"),
          sum(when(col("h2") === 0, col("hit")).otherwise(0L)).as("x1"),
          count_if(col("h2") === 1).as("n2"),
          sum(when(col("h2") === 1, col("hit")).otherwise(0L)).as("x2"))
      val p1 = col("x1").cast("double") / col("n1")
      val p2 = col("x2").cast("double") / col("n2")
      val pp = (col("x1") + col("x2")).cast("double") / (col("n1") + col("n2"))
      val z = (p1 - p2) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n1") + lit(1.0) / col("n2")))
      f.select(col("n1"), col("x1"), col("n2"), col("x2"),
        r6n(p1).as("rate_first_half"), r6n(p2).as("rate_second_half"),
        r6n(z).as("z"),
        r6(exp(lit(-0.5) * z * z)).as("p_bound"))
    }),

    /** Churn by activity decile — do power users actually churn less?
      * Users active in the FIRST half of the span, churned = absent
      * from the second half, bucketed by their first-half activity
      * decile (an INTEGER rank bucket from ONE [[GlobalRank]] range
      * exchange over the per-user aggregate — the q241 quintile
      * stance, no float cuts). The per-decile answer is what a
      * retention intervention actually targets (q150's cohort matrix
      * is time-sliced, not behavior-sliced). Churn flag from a
      * second-half distinct-user anti probe (left join + null check,
      * user-keyed); everything integer until the nudged rate. */
    "q270_churn_by_decile" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val span = ev.agg(min(col("us")).as("u0"), max(col("us")).as("u1"))
      val tagged = ev.join(broadcast(span))
        .withColumn("h2", (col("us") * 2 >= col("u0") + col("u1")))
      val firstHalf = tagged.filter(!col("h2"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("acts"))
      val second = tagged.filter(col("h2"))
        .select(col("user_id")).distinct()
        .withColumn("alive", lit(1L))
      val ranked = graft.ops.GlobalRank.withRowNumbers(
          firstHalf, Seq(col("acts"), col("user_id")), "rn", Some("nu"))
        .withColumn("decile",
          expr("CAST((rn - 1) * 10 DIV nu AS BIGINT) + 1"))
      ranked.join(second, Seq("user_id"), "left")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"),
          min(col("acts")).as("min_acts"), max(col("acts")).as("max_acts"),
          count_if(col("alive").isNull).as("n_churned"))
        .select(col("decile"), col("n_users"), col("min_acts"),
          col("max_acts"), col("n_churned"),
          r6n(col("n_churned").cast("double") / col("n_users"))
            .as("churn_rate"))
        .orderBy(col("decile"))
    }),

    /** Order↔lineitem financial reconciliation — the cross-table
      * consistency check every warehouse runs before trusting revenue
      * numbers (the reference's DQ engine checks columns in
      * isolation; the expensive bugs live BETWEEN tables): per order,
      * the header total against the sum of line charges
      * price·(1−disc)·(1+tax), censused into exact / ≤1% / ≤5% /
      * worse / missing-lines buckets. Both sides fold to EXACT
      * integer cents per line (floor(x·100 + 0.5), the q222 stance)
      * before any comparison; the relative-gap bucket boundaries
      * compare the NUDGED rounded ratio in both engines. One
      * order-keyed aggregate + one join — shuffles keyed on the
      * order, linear at any scale. */
    "q271_order_reconciliation" -> ((s: SparkSession, dir: String) => {
      val line = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(expr(
          """CAST(floor(l_extendedprice * (1 - l_discount) *
            |  (1 + l_tax) * 100 + 0.5) AS BIGINT)""".stripMargin))
          .as("line_cents"))
      val rel = r6n(abs(col("o_cents") - col("line_cents")).cast("double") /
        col("o_cents"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("o_cents"))
        .join(line, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_cents"), col("line_cents"),
          when(col("line_cents").isNull, "missing_lines")
            .when(col("o_cents") === col("line_cents"), "exact")
            .when(rel <= 0.01, "within_1pct")
            .when(rel <= 0.05, "within_5pct")
            .otherwise("worse").as("bucket"),
          coalesce(abs(col("o_cents") - col("line_cents")), col("o_cents"))
            .as("gap_cents"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("gap_cents")).as("total_gap_cents"))
        .orderBy(col("bucket"))
    }),

    /** Feature-staleness audit — for every purchase, how OLD was the
      * most recent prior click the as-of join (q54) would serve as
      * its feature row? p50/p90/p99 staleness plus the unmatched
      * fraction: the number that decides whether a feature store
      * needs fresher snapshots, and the first thing to check when
      * "training features look fine but serving is stale". The
      * last-carried-forward window runs in the high-cardinality USER
      * partition (q54's shape); staleness is exact integer
      * microseconds converted once; the percentile row rides the
      * bounded-state exact-quantile machinery and meets the 1-row
      * match-rate fold on a broadcast (q30 class, allowlisted). */
    "q272_feature_staleness" -> ((s: SparkSession, dir: String) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val purchases = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          when(col("event_type") === "click", col("ts")).as("click_ts"))
        .withColumn("asof_ts",
          last(col("click_ts"), ignoreNulls = true).over(byUser))
        .filter(col("event_type") === "purchase")
        .select(
          ((unix_micros(col("ts")) - unix_micros(col("asof_ts"))).cast("double")
            / 60000000.0).as("stale_min"))
        .cache()
      val rate = purchases.agg(count(lit(1)).as("n_purchases"),
        count(col("stale_min")).as("n_matched"))
      Quantiles.exactQuantiles(
          purchases.filter(col("stale_min").isNotNull), Seq.empty,
          "stale_min", Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)))
        .crossJoin(broadcast(rate))
        .select(col("n_purchases"), col("n_matched"),
          r6n(col("n_matched").cast("double") / col("n_purchases"))
            .as("match_rate"),
          r6n(col("p50")).as("p50_min"), r6n(col("p90")).as("p90_min"),
          r6n(col("p99")).as("p99_min"))
    }),

    /** Seasonal-naive forecast baseline — same-hour-last-week
      * (lag-168) MAE against q224's lag-1 naive, per type over the
      * dense zero-padded hourly grid: if the seasonal baseline wins
      * (improvement > 1), the series has real weekly structure and
      * any forecaster must beat THIS number, not lag-1; if it loses,
      * "seasonality" claims about the series are noise. Rides the
      * q233 one-row-per-type map stance — both absolute-error sums
      * fold over the span-bounded hour sequence in ONE per-row
      * expression, and both are EXACT LONGS (|c_t − c_lag| of
      * integer counts), so the MAEs are integer rationals → nudged
      * r6, flat-series division guarded to NULL. */
    "q275_seasonal_naive" -> ((s: SparkSession, dir: String) => {
      val hourUs = 3600000000L
      val hourly = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / hourUs).cast("long").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
      val g = hourly.groupBy(col("event_type"))
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"),
          map_from_entries(array_sort(collect_list(struct(col("hr"), col("c")))))
            .as("mp"))
        .withColumn("nh", col("h1") - col("h0") + 1)
        .filter(col("nh") > 168)
      g.withColumn("fold", expr("""
          aggregate(sequence(h0 + 168, h1),
            named_struct('n', CAST(0 AS BIGINT),
              's168', CAST(0 AS BIGINT), 's1', CAST(0 AS BIGINT)),
            (acc, t) -> named_struct(
              'n', acc.n + 1,
              's168', acc.s168 + abs(coalesce(try_element_at(mp, t), 0L)
                - coalesce(try_element_at(mp, t - 168L), 0L)),
              's1', acc.s1 + abs(coalesce(try_element_at(mp, t), 0L)
                - coalesce(try_element_at(mp, t - 1L), 0L))))"""))
        .select(col("event_type"), col("nh").as("n_hours"),
          col("fold.n").as("n_scored"),
          col("fold.s168").as("sae_seasonal"),
          col("fold.s1").as("sae_naive1"),
          r6n(col("fold.s168").cast("double") / col("fold.n"))
            .as("mae_seasonal"),
          r6n(col("fold.s1").cast("double") / col("fold.n"))
            .as("mae_naive1"),
          when(col("fold.s168") > 0,
            r6n(col("fold.s1").cast("double") / col("fold.s168")))
            .as("improvement"))
        .orderBy(col("event_type"))
    }),

    /** Per-source KS conformance — each source's doc-length
      * distribution against the WHOLE corpus, the "which crawl is
      * shaped differently?" screen (q136 compares two named samples;
      * a pipeline owner needs the per-source sweep). Exact sup
      * distance: every per-source CDF and the corpus CDF jump only at
      * corpus-distinct values, so ONE
      * [[GlobalRank.withRunningSums]] range exchange over the
      * distinct-value table carries ALL per-source cumulative counts
      * plus the corpus's — source count is domain-bounded (collected
      * once, control-plane, the k-means-init stance) — and their
      * totals, and D_s is one max fold of |cum_s/n_s − cum/n|. The
      * decision flag compares the NUDGED rounded D against the
      * 1.36·√((n+n_s)/(n·n_s)) large-sample critical value rounded the
      * same way, so the boundary is grid-stable in both engines. */
    "q277_source_ks_profile" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      // source list: domain-bounded, collected once (the k-means-init
      // control-plane stance) to mint one cumulative column per source
      val sources = docs.select(col("source")).distinct()
        .orderBy(col("source")).collect().map(_.getString(0)).toSeq
      val idx = sources.indices
      val nAggs = count(lit(1)).as("nv") +:
        idx.map(i => count_if(col("source") === sources(i)).as(s"n$i"))
      val g = docs.select(col("source"), col("n_chars").as("v"))
        .groupBy(col("v")).agg(nAggs.head, nAggs.tail: _*)
      val c = GlobalRank.withRunningSums(g, Seq(col("v")),
        ("nv" -> "cv") +: idx.map(i => s"n$i" -> s"c$i"))
      val dAggs: Seq[org.apache.spark.sql.Column] = idx.map(i =>
        max(abs(col(s"c$i").cast("double") / col(s"c${i}_total") -
          col("cv").cast("double") / col("cv_total"))).as(s"d$i")) ++
        Seq(max(col("cv_total")).as("nn")) ++
        idx.map(i => max(col(s"c${i}_total")).as(s"tt$i"))
      val one = c.agg(dAggs.head, dAggs.tail: _*)
      one.select(explode(array(idx.map { i =>
          struct(lit(sources(i)).as("source"), col(s"tt$i").as("n_docs"),
            r6n(col(s"d$i")).as("d_stat"),
            r6n(lit(1.36) *
              sqrt((col("nn") + col(s"tt$i")).cast("double") /
                (col("nn") * col(s"tt$i")))).as("crit_136"))
        }: _*)).as("r"))
        .select(col("r.source"), col("r.n_docs"), col("r.d_stat"),
          col("r.crit_136"),
          (col("r.d_stat") > col("r.crit_136")).cast("long").as("flagged"))
        .orderBy(col("source"))
    }),

    /** Holt linear-trend smoothing (double exponential, α=0.5 β=0.25)
      * of daily event volume per type — the TREND-aware forecaster
      * the naive baselines (q224 last-value, q275 seasonal-naive)
      * deliberately are not, and the level+slope state the EWMA chart
      * (q201) cannot carry: a steadily growing feed has every EWMA
      * emission lagging below the data, while Holt's trend term
      * absorbs the slope. The recursion runs as the q233 fold stance:
      * daily counts collapse to a per-type (day → count) map bounded
      * by span-in-days (a domain property, not data volume), and
      * level/trend/SSE fold once over the DENSE day sequence in a
      * single aggregate HOF — no window, no driver loop; the oracle
      * replays the identical fold with a struct-state list_reduce.
      * Dyadic smoothing constants (0.5, 0.25, 0.75) multiply exactly
      * in both engines; init l₀=y₀, b₀=0 documented. Holt's one-step
      * SSE is compared against the naive carry-forward SSE — an
      * integer (Σ of squared integer deltas), emitted as BIGINT. */
    "q339_holt_trend" -> ((s: SparkSession, dir: String) => {
      val dayUs = 86400000000L
      val daily = Tables(s, dir, "events")
        .select(col("event_type"),
          (unix_micros(col("ts")) / dayUs).cast("long").as("day"))
        .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("c"))
      val g = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          map_from_entries(array_sort(collect_list(struct(col("day"), col("c")))))
            .as("mp"))
        .withColumn("n_days", col("d1") - col("d0") + 1)
        .filter(col("n_days") >= 2) // the recursion needs a second point
      g.withColumn("fold", expr("""
          aggregate(
            transform(sequence(d0 + 1, d1),
              dd -> CAST(coalesce(try_element_at(mp, dd), 0L) AS DOUBLE)),
            named_struct(
              'l', CAST(try_element_at(mp, d0) AS DOUBLE),
              'b', CAST(0.0 AS DOUBLE),
              'sse', CAST(0.0 AS DOUBLE),
              'prev', CAST(try_element_at(mp, d0) AS DOUBLE),
              'sn', CAST(0.0 AS DOUBLE)),
            (acc, y) -> named_struct(
              'l', 0.5D * y + 0.5D * (acc.l + acc.b),
              'b', 0.25D * (0.5D * y + 0.5D * (acc.l + acc.b) - acc.l)
                     + 0.75D * acc.b,
              'sse', acc.sse + (y - acc.l - acc.b) * (y - acc.l - acc.b),
              'prev', y,
              'sn', acc.sn + (y - acc.prev) * (y - acc.prev)))"""))
        .select(col("event_type"), col("n_days"),
          r6n(col("fold.l")).as("level"),
          r6n(col("fold.b")).as("trend"),
          r6n(col("fold.l") + lit(3.0) * col("fold.b")).as("forecast_h3"),
          r6n(col("fold.sse")).as("sse_holt"),
          col("fold.sn").cast("long").as("sse_naive"))
        .orderBy(col("event_type"))
    }),

    /** Simpson's-paradox audit on the value-over-time trend — the
      * confounding check that decides whether q180's per-type slopes
      * or a pooled slope is the honest headline: when the pooled
      * regression's sign disagrees with a type's own slope, the
      * aggregate trend is a composition artifact (types with
      * different base rates entering/leaving the window), not a real
      * drift. Per type: its own slope; pooled: one extra grouped fold
      * over the SAME scan shape; the flag compares r6-ROUNDED slopes
      * (cross-engine boundary stance). The pooled row is the q136
      * 1-row bounded-BNLJ class. */
    "q348_simpson_audit" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          col("value").cast("double").as("v"),
          (unix_micros(col("ts")).cast("double") / 3600.0e6).as("x"))
      val per = base.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          r6(expr("regr_slope(v, x)")).as("group_slope"))
      val pooled = base.agg(r6(expr("regr_slope(v, x)")).as("pooled_slope"))
      per.crossJoin(broadcast(pooled))
        .select(col("event_type"), col("n"), col("group_slope"),
          col("pooled_slope"),
          (col("group_slope") * col("pooled_slope") < 0.0).cast("long")
            .as("sign_flip"))
        .orderBy(col("event_type"))
    }),

    /** Capture-recapture POPULATION estimate — "how many users exist
      * that we have never seen": two disjoint observation windows
      * (the first and last quarter of the event span) are the two
      * captures, and the Lincoln-Petersen / Chapman estimators read
      * the total population off the overlap. The estimator the
      * dedup-universe and audience-size questions share. Per-user
      * membership flags fold from ONE user-keyed aggregate against
      * the 1-row span fold (q136 bounded-BNLJ class); everything
      * integer until the two nudged estimates. */
    "q384_capture_recapture" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val span = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .select(col("lo"), ((col("hi") - col("lo")) / 4).cast("long").as("qs"),
          col("hi"))
      val flags = ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(max((col("us") < col("lo") + col("qs")).cast("long")).as("c1"),
          max((col("us") >= col("hi") - col("qs")).cast("long")).as("c2"))
      flags.agg(count(lit(1)).as("true_distinct"),
          sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          sum(col("c1") * col("c2")).as("m"))
        .select(col("n1"), col("n2"), col("m"), col("true_distinct"),
          r2n(col("n1").cast("double") * col("n2") / col("m"))
            .as("lincoln_petersen"),
          r2n((col("n1") + 1).cast("double") * (col("n2") + 1) /
            (col("m") + 1) - 1.0).as("chapman"))
    }),

    /** Delete-one-GROUP jackknife — the resampling variance q257's
      * bootstrap cannot give when the resampling unit must be a
      * whole SOURCE (documents within a crawl are correlated, so
      * doc-level replicas understate the variance of any per-corpus
      * mean): leave each source out once, re-read the mean doc
      * length in closed form from (total − group) integer sums, and
      * fold the g pseudo-replicas into the jackknife SE. One grouped
      * aggregate + the 1-row totals fold; g is the schema-bounded
      * source count. */
    "q386_jackknife_sources" -> ((s: SparkSession, dir: String) => {
      val per = Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("ns"), sum(col("n_chars")).as("ts"))
      val tot = per.agg(sum(col("ns")).as("n"), sum(col("ts")).as("t"),
        count(lit(1)).as("g"))
      val loo = per.crossJoin(broadcast(tot))
        .select(col("g"), col("n"), col("t"),
          ((col("t") - col("ts")).cast("double") /
            (col("n") - col("ns")).cast("double")).as("theta_i"))
      loo.groupBy(col("g"), col("n"), col("t"))
        .agg(avg(col("theta_i")).as("tb"),
          sum(col("theta_i") * col("theta_i")).as("s2"),
          count(lit(1)).as("gi"))
        .select(col("g").as("n_sources"),
          r6n(col("t").cast("double") / col("n")).as("theta"),
          r6n((col("g") - 1).cast("double") / col("g") *
            (col("s2") - col("g") * col("tb") * col("tb"))).as("jack_var"),
          r6n(sqrt((col("g") - 1).cast("double") / col("g") *
            (col("s2") - col("g") * col("tb") * col("tb")))).as("jack_se"))
    }),

    /** Outlier-screen AGREEMENT matrix — the meta-audit over the
      * suite's three per-type value screens (the z band, the IQR
      * fence, the MAD robust z): per screen pair, how many events
      * both flag, either flags, and the Jaccard of the flag sets.
      * High agreement = the screens are redundant (drop the expensive
      * one); low agreement = they see DIFFERENT pathologies and a
      * production pipeline needs the union. Q1/median/Q3 come from
      * ONE exact-quantile pass (three quantiles share one range
      * exchange), MAD from one more over the deviations; all flag
      * boundaries compare on the nudged/r6 grid both engines share
      * (the q207/q292 stance). */
    "q400_outlier_screen_agreement" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("v"))
        .cache()
      // mu/sd ride the quantile pass's grouped aggregate (round-17,
      // Quantiles extras — the separate moments groupBy over ev and
      // its broadcast join disappear; floats land on the nudged r6
      // grid as before)
      val qs = Quantiles.exactQuantiles(ev, Seq("event_type"), "v",
        Seq("q1" -> 0.25, "med" -> 0.5, "q3" -> 0.75),
        Seq("mu" -> avg(col("_v")), "sd" -> stddev_pop(col("_v"))))
      val dev = ev.join(broadcast(qs), "event_type")
        .select(col("event_type"), col("v"), col("q1"), col("q3"), col("med"),
          col("mu"), col("sd"), abs(col("v") - col("med")).as("adev"))
      val mad = Quantiles.exactQuantiles(dev, Seq("event_type"), "adev",
        Seq("mad" -> 0.5))
      val zr = round(abs(col("v") - col("mu")) / col("sd") + lit(1e-12), 6)
      val rz = round(lit(0.6745) * (col("v") - col("med")) / col("mad"), 6)
      val flags = dev
        .join(broadcast(mad), "event_type")
        .select(
          (col("sd") > 0 && zr > 3.0).as("f_z"),
          (col("v") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
            col("v") > col("q3") + (col("q3") - col("q1")) * 1.5).as("f_iqr"),
          (col("mad") > 0 && abs(rz) > 3.5).as("f_mad"))
      val a = flags.agg(
        count_if(col("f_z")).as("nz"), count_if(col("f_iqr")).as("ni"),
        count_if(col("f_mad")).as("nm"),
        count_if(col("f_z") && col("f_iqr")).as("bzi"),
        count_if(col("f_z") && col("f_mad")).as("bzm"),
        count_if(col("f_iqr") && col("f_mad")).as("bim"))
      a.selectExpr(
          """stack(3,
            |  'iqr-mad', ni, nm, bim,
            |  'z-iqr', nz, ni, bzi,
            |  'z-mad', nz, nm, bzm) AS (screen_pair, n_a, n_b, n_both)"""
            .stripMargin)
        .select(col("screen_pair"), col("n_a"), col("n_b"), col("n_both"),
          when(col("n_a") + col("n_b") - col("n_both") > 0,
            r6n(col("n_both").cast("double") /
              (col("n_a") + col("n_b") - col("n_both"))))
            .otherwise(lit(0.0)).as("jaccard"))
        .orderBy(col("screen_pair"))
    }),

    /** Stationary distribution of q171's session Markov chain — the
      * steady state the per-step transition matrix only implies:
      * where user sessions SPEND their time, the weighting that turns
      * "click→view is likely" into "views are 40% of the long-run
      * stream" (the demand forecast for per-event-type capacity).
      * The transition counts are q171's exact shape (per-user lead
      * over the (ts, event_id) total order); the chain itself is a
      * TYPE×TYPE model table (schema-bounded, ≤ ~25 rows), so the
      * power iteration runs on the DRIVER over collected counts (the
      * q122-centroid control-plane stance) — 8 fixed iterations from
      * the uniform start, each matvec folding in SORTED from-type
      * order so the oracle's ORDER BY-pinned list_reduce replays the
      * identical float fold. No convergence test: both engines run
      * the same 8 steps, so the output is bit-comparable whether or
      * not the chain has mixed. */
    "q411_markov_stationary" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val trans = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val fromTotals = trans.groupBy(_._1).map { case (f, rs) =>
        (f, rs.map(_._3).sum) }
      val states = trans.map(_._1).distinct.sorted
      val k = states.length
      // P(from)(to) = n * 1.0 / n_from — the exact division both
      // engines perform on the same integers
      val p: Map[(String, String), Double] = trans.map { case (f, t, n) =>
        ((f, t), n * 1.0 / fromTotals(f)) }.toMap
      var pi: Map[String, Double] = states.map(_ -> 1.0 / k).toMap
      (1 to 8).foreach { _ =>
        pi = states.map { to =>
          // fold in sorted from-type order (the oracle's pinned order)
          to -> states.foldLeft(0.0) { (acc, f) =>
            p.get((f, to)).fold(acc)(pr => acc + pi(f) * pr) }
        }.toMap
      }
      import s.implicits._
      states.map { st =>
        (st, fromTotals.getOrElse(st, 0L), pi(st)) }.toSeq
        .toDF("event_type", "n_transitions_out", "pi_raw")
        .select(col("event_type"), col("n_transitions_out"),
          r6n(col("pi_raw")).as("stationary_p"))
        .orderBy(col("event_type"))
    }),

    /** Exact audience-overlap matrix between event types — the
      * small-domain ground truth q294's KMV sketches approximate for
      * source pairs: pairwise Jaccard of the distinct USER sets, the
      * "do the same people click and purchase" signal behind funnel
      * and mixture decisions. The (type, user) distinct table is one
      * aggregate; the pair meet is ONE user-keyed equi self-join over
      * the schema-bounded type domain (never a user×user product),
      * set sizes arrive by broadcast of the ≤ |types| size table. */
    "q412_event_audience_overlap" -> ((s: SparkSession, dir: String) => {
      val tu = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("user_id").as("u"))
        .distinct().cache()
      val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("sz"))
      val inter = tu.as("a")
        .join(tu.as("b").hint("shuffle_hash"),
          col("a.u") === col("b.u") && col("a.t") < col("b.t"))
        .groupBy(col("a.t").as("t1"), col("b.t").as("t2"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("t").as("t1"), col("sz").as("s1"))), "t1")
        .join(broadcast(sizes.select(col("t").as("t2"), col("sz").as("s2"))), "t2")
        .select(col("t1"), col("t2"), col("n_inter"), col("s1"), col("s2"),
          r6n(col("n_inter").cast("double") /
            (col("s1") + col("s2") - col("n_inter"))).as("jaccard"))
        .orderBy(col("t1"), col("t2"))
    })
  )

  /** q201's pre-ranking EWMA frame — (event_type, hr, c, ewma) over
    * the dense hourly grid — shared with the streaming twin
    * ([[graft.streaming.EventStreams.ewmaChart]]) and its
    * batch-equivalence spec. */
  private[graft] def ewmaFrame(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hourly = events
      .select(col("event_type"), (unix_micros(col("ts")) / 3600000000L)
        .cast("long").as("hr"))
      .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))
    val dense = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      .join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val contrib = dense.select(col("event_type"), col("hr"), col("c"),
        explode(expr("sequence(0L, 47L)")).as("gap"))
      .select(col("event_type"), (col("hr") + col("gap")).as("hr"),
        (col("c").cast("double") * lit(0.3) * pow(lit(0.7), col("gap"))).as("wc"),
        (lit(0.3) * pow(lit(0.7), col("gap"))).as("w"))
    val ewma = contrib.groupBy(col("event_type"), col("hr"))
      .agg((sum(col("wc")) / sum(col("w"))).as("ewma"))
    dense.join(ewma, Seq("event_type", "hr"))
  }

  val oracles: Map[String, String] = Map(
    "q143_rolling_anomaly" ->
      """WITH s AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v, epoch_us(ts) AS us
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_type, v,
        |  avg(v) OVER tw AS m, stddev_samp(v) OVER tw AS sd,
        |  count(*) OVER tw AS wn
        |  FROM s
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |CAST(sum(CASE WHEN wn >= 30 AND sd > 0 AND abs((v - m) / sd) > 3
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |round(sum(CASE WHEN wn >= 30 AND sd > 0 AND abs((v - m) / sd) > 3
        |  THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS anomaly_rate
        |FROM w GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q144_rate_limit" ->
      """WITH r AS (
        |  SELECT event_type,
        |  row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |    ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(sum(CASE WHEN rn > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM r GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q138_rank_auc" ->
      """WITH s AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS pos
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT v, CAST(sum(pos) AS BIGINT) AS n1v, CAST(count(*) AS BIGINT) AS nv
        |  FROM s GROUP BY v),
        |c AS (SELECT v, n1v, nv, sum(nv) OVER (ORDER BY v) AS cnv FROM g),
        |a AS (SELECT
        |  sum(CAST(n1v AS DOUBLE) *
        |    (CAST(cnv AS DOUBLE) - CAST(nv AS DOUBLE) + (CAST(nv AS DOUBLE) + 1.0) / 2.0)) AS rsum,
        |  CAST(sum(n1v) AS BIGINT) AS np, CAST(sum(nv - n1v) AS BIGINT) AS nn
        |  FROM c)
        |SELECT
        |round((rsum - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0) /
        |  (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) + 1e-12, 6) AS auc,
        |np AS n_pos, nn AS n_neg
        |FROM a""".stripMargin,

    "q136_ks_test" ->
      """WITH s AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS i1,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |g AS (SELECT v, CAST(sum(i1) AS BIGINT) AS n1v, CAST(sum(i2) AS BIGINT) AS n2v
        |  FROM s GROUP BY v),
        |c AS (SELECT v,
        |  sum(n1v) OVER (ORDER BY v) AS c1, sum(n2v) OVER (ORDER BY v) AS c2 FROM g),
        |t AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1, CAST(sum(n2v) AS BIGINT) AS n2 FROM g)
        |SELECT
        |round(max(abs(CAST(c1 AS DOUBLE) / t.n1 - CAST(c2 AS DOUBLE) / t.n2)) + 1e-12, 6) AS ks_d,
        |t.n1, t.n2
        |FROM c, t GROUP BY t.n1, t.n2""".stripMargin,

    // same zero-cell-free identity: chi2 = n * sum(o^2/(nr*nc)) - n
    "q164_chi_square" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY source, lang),
        |rt AS (SELECT source, CAST(sum(o) AS BIGINT) AS nr FROM cells GROUP BY source),
        |ct AS (SELECT lang, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY lang),
        |a AS (
        |  SELECT
        |  sum(CAST(o AS DOUBLE) * o / (CAST(nr AS DOUBLE) * nc)) AS sfrac,
        |  CAST(sum(o) AS BIGINT) AS n,
        |  CAST(count(DISTINCT cells.source) AS BIGINT) AS r,
        |  CAST(count(DISTINCT cells.lang) AS BIGINT) AS c
        |  FROM cells JOIN rt USING (source) JOIN ct USING (lang))
        |SELECT round(n * sfrac - n + 1e-12, 6) AS chi2,
        |(r - 1) * (c - 1) AS dof, n,
        |round(sqrt((n * sfrac - n) / (CAST(n AS DOUBLE) * least(r - 1, c - 1))) + 1e-12, 6)
        |  AS cramers_v
        |FROM a""".stripMargin,

    "q165_autocorrelation" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(h0, h1)) AS hr
        |  FROM (SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |        FROM hourly GROUP BY event_type)),
        |dense AS (
        |  SELECT g.event_type, g.hr, coalesce(h.c, 0) AS c
        |  FROM grid g LEFT JOIN hourly h
        |    ON h.event_type = g.event_type AND h.hr = g.hr),
        |lagged AS (
        |  SELECT event_type, lag, hr - lag AS hr, c AS c_lead
        |  FROM dense, unnest([1, 2, 3]) AS l(lag))
        |SELECT d.event_type, CAST(g.lag AS BIGINT) AS lag,
        |round(corr(CAST(d.c AS DOUBLE), CAST(g.c_lead AS DOUBLE)) + 1e-12, 6) AS acf,
        |CAST(count(*) AS BIGINT) AS n_pairs
        |FROM dense d JOIN lagged g ON g.event_type = d.event_type AND g.hr = d.hr
        |GROUP BY d.event_type, g.lag
        |ORDER BY d.event_type NULLS FIRST, lag NULLS FIRST""".stripMargin,

    "q166_welch_t" ->
      """WITH a AS (
        |  SELECT
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) AS n1,
        |  avg(CASE WHEN event_type = 'click' THEN CAST(value AS DOUBLE) END) AS m1,
        |  var_samp(CASE WHEN event_type = 'click' THEN CAST(value AS DOUBLE) END) AS s1,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE) AS n2,
        |  avg(CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE) END) AS m2,
        |  var_samp(CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE) END) AS s2
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL)
        |SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
        |round(m1 - m2, 6) AS mean_diff,
        |round((m1 - m2) / sqrt(s1 / n1 + s2 / n2), 6) AS t_stat,
        |round(pow(s1 / n1 + s2 / n2, 2) /
        |  (pow(s1 / n1, 2) / (n1 - 1) + pow(s2 / n2, 2) / (n2 - 1)), 6) AS welch_df
        |FROM a""".stripMargin,

    "q189_trending" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, a.hr, a.c, b.c AS c_prev,
        |round(a.c / CAST(b.c AS DOUBLE) + 1e-12, 6) AS rise
        |FROM hourly a JOIN hourly b
        |  ON b.event_type = a.event_type AND b.hr = a.hr - 1
        |WHERE a.c >= 3 AND b.c >= 3
        |ORDER BY rise DESC, a.event_type, a.hr
        |LIMIT 10""".stripMargin,

    "q186_conversion_window" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |per AS (
        |  SELECT s.day, s.event_id,
        |  max(CASE WHEN p.p_us IS NOT NULL AND p.p_us > s.us
        |    AND p.p_us <= s.us + 86400000000 THEN 1 ELSE 0 END) AS converted
        |  FROM s LEFT JOIN p ON p.user_id = s.user_id
        |  GROUP BY s.day, s.event_id)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_signups,
        |CAST(sum(converted) AS BIGINT) AS n_converted,
        |round(sum(converted) / CAST(count(*) AS DOUBLE) + 1e-12, 6) AS conv_rate
        |FROM per GROUP BY day
        |ORDER BY day NULLS FIRST""".stripMargin,

    "q185_key_skew" ->
      """WITH a AS (
        |  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |b AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |e AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |u AS (
        |  SELECT 'lineitem.l_partkey' AS key_col,
        |  CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
        |  round(sum(c * c) / (CAST(sum(c) AS DOUBLE) * sum(c)) + 1e-12, 6) AS hhi,
        |  round(max(c) / CAST(sum(c) AS DOUBLE) + 1e-12, 6) AS top1_share,
        |  round((ln(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c)) /
        |    ln(CAST(count(*) AS DOUBLE)), 6) AS norm_entropy
        |  FROM a
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey',
        |  CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
        |  round(sum(c * c) / (CAST(sum(c) AS DOUBLE) * sum(c)), 6),
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 6),
        |  round((ln(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c)) /
        |    ln(CAST(count(*) AS DOUBLE)), 6)
        |  FROM b
        |  UNION ALL
        |  SELECT 'events.user_id',
        |  CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
        |  round(sum(c * c) / (CAST(sum(c) AS DOUBLE) * sum(c)), 6),
        |  round(max(c) / CAST(sum(c) AS DOUBLE), 6),
        |  round((ln(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c)) /
        |    ln(CAST(count(*) AS DOUBLE)), 6)
        |  FROM e)
        |SELECT * FROM u
        |ORDER BY key_col NULLS FIRST""".stripMargin,

    "q183_decayed_score" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |round(sum(CAST(value AS DOUBLE) *
        |  pow(0.5, (1706745600000000 - epoch_us(ts)) / (7.0 * 86400e6))), 6)
        |  AS decayed_score,
        |round(sum(CAST(value AS DOUBLE)), 6) AS plain_sum
        |FROM events WHERE value IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin,

    "q181_path_trigrams" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |g AS (
        |  SELECT *, sum(gap) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM s),
        |t AS (
        |  SELECT event_type AS t1,
        |  lead(event_type, 1) OVER w2 AS t2,
        |  lead(event_type, 2) OVER w2 AS t3
        |  FROM g
        |  WINDOW w2 AS (PARTITION BY user_id, session_idx
        |    ORDER BY us, event_id))
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |GROUP BY t1, t2, t3
        |ORDER BY n DESC, t1, t2, t3
        |LIMIT 20""".stripMargin,

    "q180_group_ols" ->
      """WITH s AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |  CAST(epoch_us(ts) AS DOUBLE) / 3600.0e6 AS x
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |round(regr_slope(v, x), 6) AS slope_per_hour,
        |round(regr_intercept(v, x), 6) AS intercept,
        |round(regr_r2(v, x), 6) AS r2
        |FROM s GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q176_twap" ->
      """WITH s AS (
        |  SELECT user_id, CAST(value AS DOUBLE) AS v, epoch_us(ts) AS us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS next_us
        |  FROM events WHERE value IS NOT NULL)
        |SELECT user_id,
        |round(sum(v * CAST(next_us - us AS DOUBLE)) /
        |  sum(CAST(next_us - us AS DOUBLE)), 6) AS twap,
        |round(avg(v), 6) AS plain_mean,
        |CAST(count(*) AS BIGINT) AS n_spans,
        |CAST(sum(next_us - us) AS BIGINT) AS span_us
        |FROM s WHERE next_us IS NOT NULL
        |GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin,

    "q171_session_markov" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS to_type
        |  FROM events),
        |cells AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
        |  FROM cells GROUP BY from_type)
        |SELECT from_type, to_type, n,
        |round(CAST(n AS DOUBLE) / n_from + 1e-12, 6) AS p
        |FROM cells JOIN t USING (from_type)
        |ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""".stripMargin,

    "q63_corr_covar" ->
      """SELECT l_returnflag,
        |round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
        |round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
        |round(var_samp(l_quantity), 4) AS var_s,
        |round(var_pop(l_quantity), 4) AS var_p,
        |round(stddev_pop(l_quantity), 6) AS std_p
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    // Spark: population skewness m3/m2^1.5, excess kurtosis m4/m2^2-3
    "q64_skew_kurt" ->
      """SELECT l_returnflag, n,
        |round((m3a - 3*mu*m2a + 2*mu*mu*mu) / pow(m2a - mu*mu, 1.5), 6) AS skew,
        |round((m4a - 4*mu*m3a + 6*mu*mu*m2a - 3*mu*mu*mu*mu)
        |      / pow(m2a - mu*mu, 2) - 3, 6) AS kurt
        |FROM (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  avg(l_quantity) AS mu, avg(l_quantity*l_quantity) AS m2a,
        |  avg(l_quantity*l_quantity*l_quantity) AS m3a,
        |  avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4a
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q65_median_argmax" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |round(median(o_totalprice), 4) AS median_price,
        |arg_max(o_orderstatus, o_orderkey) AS latest_status,
        |arg_min(o_orderstatus, o_orderkey) AS first_status
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,

    "q66_bool_bit_aggs" ->
      """SELECT c_nationkey,
        |bool_and(c_acctbal > -500) AS all_above,
        |bool_or(c_acctbal > 9000) AS any_rich,
        |CAST(count(*) FILTER (WHERE c_acctbal > 0) AS BIGINT) AS n_positive,
        |CAST(bit_xor(c_custkey) AS BIGINT) AS xor_keys,
        |CAST(bit_and(c_custkey) AS BIGINT) AS and_keys,
        |CAST(bit_or(c_custkey) AS BIGINT) AS or_keys
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey NULLS FIRST""".stripMargin,

    "q67_ntile_ranks" ->
      """SELECT c_custkey,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |round(percent_rank() OVER w + 1e-12, 6) AS pct_rank,
        |round(cume_dist() OVER w + 1e-12, 6) AS cum_dist
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST)
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,

    "q68_first_last_nth" ->
      """SELECT DISTINCT c_mktsegment,
        |first_value(c_custkey) OVER w AS poorest_key,
        |last_value(c_custkey) OVER w AS richest_key,
        |nth_value(c_custkey, 3) OVER w AS third_key
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,

    "q69_full_outer" ->
      """SELECT coalesce(c.nk, s.nk) AS nationkey, n_cust, n_supp FROM
        |(SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
        | FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |(SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
        | FROM supplier GROUP BY 1) s
        |ON c.nk = s.nk
        |ORDER BY nationkey NULLS FIRST""".stripMargin,

    "q70_cross_join" ->
      """SELECT r_name || '-' || st AS combo
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders)
        |ORDER BY combo NULLS FIRST""".stripMargin,

    "q71_map_funcs" ->
      """SELECT r_name,
        |string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |CAST(sum(cnt) AS BIGINT) AS total_cust,
        |CAST(count(*) AS BIGINT) AS n_nations
        |FROM (
        |  SELECT r_name, n_name, count(*) AS cnt
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |GROUP BY r_name
        |ORDER BY r_name NULLS FIRST""".stripMargin,

    "q72_struct_json" ->
      """SELECT o_orderkey,
        |to_json(struct_pack(id := o_orderkey, st := o_orderstatus)) AS js,
        |o_orderkey AS id_back
        |FROM orders WHERE o_orderkey < 5
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,

    "q73_array_ops" ->
      """SELECT doc_id,
        |CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ' ') AS first5,
        |list_contains(string_split(text, ' '), 'the') AS has_the
        |FROM documents
        |ORDER BY doc_id NULLS FIRST""".stripMargin,

    "q84_upsert" ->
      """WITH base AS (SELECT c_custkey AS k, c_nationkey AS nk, c_acctbal AS bal
        |              FROM customer),
        |upd AS (SELECT k, nk, bal + 100 AS bal FROM base WHERE k % 10 = 0
        |        UNION ALL
        |        SELECT k + 10000000, nk, 0.0 FROM base WHERE k % 100 = 0),
        |merged AS (
        |  SELECT coalesce(u.k, b.k) AS k, coalesce(u.nk, b.nk) AS nk,
        |         coalesce(u.bal, b.bal) AS bal
        |  FROM base b FULL OUTER JOIN upd u ON b.k = u.k)
        |SELECT nk AS c_nationkey, CAST(count(*) AS BIGINT) AS n_rows,
        |round(sum(bal), 2) AS sum_bal
        |FROM merged GROUP BY nk
        |ORDER BY c_nationkey NULLS FIRST""".stripMargin,

    "q85_funnel" ->
      """SELECT user_id, n_events FROM (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id)
        |WHERE regexp_matches(path, 'signup.*click.*purchase')
        |ORDER BY user_id NULLS FIRST""".stripMargin,

    "q88_explode_outer" ->
      """SELECT d.doc_id, t.tok AS long_tok
        |FROM documents d
        |LEFT JOIN (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> length(x) >= 8)) AS tok
        |  FROM documents) t
        |ON d.doc_id = t.doc_id
        |ORDER BY d.doc_id NULLS FIRST, long_tok NULLS FIRST""".stripMargin,

    "q89_unpivot" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q90_hof_predicates" ->
      """SELECT doc_id,
        |list_contains(string_split(text, ' '), 'join') AS has_join,
        |len(list_filter(string_split(text, ' '), t -> length(t) <= 6))
        |  = len(string_split(text, ' ')) AS all_short,
        |CAST(list_position(string_split(text, ' '), 'join') AS BIGINT) AS join_pos,
        |string_split(text, ' ')[3] AS third_tok,
        |CAST(len(regexp_extract_all(text, '[a-z]{8}')) AS BIGINT) AS n_oct
        |FROM documents
        |ORDER BY doc_id NULLS FIRST""".stripMargin,

    "q91_range_frame" ->
      """SELECT user_id, event_id, ts,
        |CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
        |round(sum(value) OVER w, 2) AS sum_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id NULLS FIRST, ts NULLS FIRST, event_id NULLS FIRST""".stripMargin,

    "q92_topk_per_group" ->
      """SELECT o_orderpriority, rn, o_orderkey, round(o_totalprice, 2) AS price
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST)
        |    AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority NULLS FIRST, rn NULLS FIRST""".stripMargin,

    "q74_seq_fold" ->
      """SELECT l_returnflag, n, CAST(n*(n+1)*(n+2)/6 AS BIGINT) AS weighted_sum
        |FROM (SELECT l_returnflag, CAST(max(l_quantity) AS BIGINT) AS n
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q198_spearman" ->
      """WITH ranked AS (
        |  SELECT l_returnflag AS g,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |    + (CAST(count(*) OVER (PARTITION BY l_returnflag, l_quantity)
        |       AS DOUBLE) - 1) / 2.0 AS mr_qty,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |    + (CAST(count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
        |       AS DOUBLE) - 1) / 2.0 AS mr_price,
        |  CAST(l_quantity AS DOUBLE) AS qv, CAST(l_extendedprice AS DOUBLE) AS pv
        |  FROM lineitem)
        |SELECT g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |round(corr(mr_qty, mr_price) + 1e-12, 6) AS spearman,
        |round(corr(qv, pv), 6) AS pearson
        |FROM ranked GROUP BY 1
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q199_bh_fdr" ->
      """WITH spans AS (
        |  SELECT event_type,
        |  (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |halves AS (
        |  SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
        |  CASE WHEN epoch_us(e.ts) <= s.mid THEN 1 ELSE 2 END AS h
        |  FROM events e JOIN spans s ON s.event_type = e.event_type
        |  WHERE e.value IS NOT NULL),
        |stats AS (
        |  SELECT event_type,
        |  CAST(count(CASE WHEN h = 1 THEN 1 END) AS DOUBLE) AS n1,
        |  avg(CASE WHEN h = 1 THEN v END) AS m1,
        |  var_samp(CASE WHEN h = 1 THEN v END) AS s1,
        |  CAST(count(CASE WHEN h = 2 THEN 1 END) AS DOUBLE) AS n2,
        |  avg(CASE WHEN h = 2 THEN v END) AS m2,
        |  var_samp(CASE WHEN h = 2 THEN v END) AS s2
        |  FROM halves GROUP BY 1
        |  HAVING count(CASE WHEN h = 1 THEN 1 END) >= 2
        |    AND count(CASE WHEN h = 2 THEN 1 END) >= 2),
        |tests AS (
        |  SELECT event_type, CAST(n1 AS BIGINT) AS n_first,
        |  CAST(n2 AS BIGINT) AS n_second,
        |  round((m1 - m2) / sqrt(s1 / n1 + s2 / n2), 6) AS z
        |  FROM stats),
        |pb AS (
        |  SELECT *, round(exp(z * z * -0.5), 6) AS p_bound FROM tests),
        |kd AS (
        |  SELECT *, row_number() OVER (ORDER BY p_bound, event_type,
        |    n_first, n_second, z) AS k,
        |  count(*) OVER () AS m FROM pb),
        |km AS (
        |  SELECT max(CASE WHEN p_bound <= 0.25 * k / m THEN k END) AS kmax
        |  FROM kd)
        |SELECT event_type, n_first, n_second, z, p_bound,
        |CAST(k AS BIGINT) AS k,
        |(kmax IS NOT NULL AND k <= kmax) AS flagged
        |FROM kd, km
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q200_mann_whitney" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c1
        |  FROM events
        |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |ranked AS (
        |  SELECT v, sum(c1) AS n1v, count(*) AS nv,
        |  sum(count(*)) OVER (ORDER BY v) AS cnv
        |  FROM ev GROUP BY v),
        |folded AS (
        |  SELECT
        |  sum(n1v * (CAST(cnv AS DOUBLE) - nv + (nv + 1) / 2.0)) AS r1,
        |  CAST(sum(n1v) AS DOUBLE) AS n1,
        |  CAST(sum(nv - n1v) AS DOUBLE) AS n2,
        |  sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS tie
        |  FROM ranked)
        |SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
        |round(r1 - n1 * (n1 + 1) / 2.0 + 1e-12, 2) AS u_stat,
        |round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
        |  sqrt(n1 * n2 / 12.0 * (n1 + n2 + 1.0
        |    - tie / ((n1 + n2) * (n1 + n2 - 1.0)))) + 1e-12, 6) AS z
        |FROM folded""".stripMargin,

    "q223_stickiness" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM active),
        |dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau
        |  FROM active GROUP BY 1),
        |wx AS (
        |  SELECT a.user_id,
        |  unnest(generate_series(a.day, least(a.day + 6, s.d1))) AS day
        |  FROM active a, span s),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM wx GROUP BY 1)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
        |CAST(w.wau AS BIGINT) AS wau,
        |round(d.dau * 1.0 / w.wau + 1e-12, 4) AS stickiness
        |FROM dau d JOIN wau w ON w.day = d.day, span s
        |WHERE d.day >= s.d0 + 6
        |ORDER BY d.day NULLS FIRST""".stripMargin,

    "q224_naive_forecast" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(min(hr), max(hr))) AS hr
        |  FROM hourly GROUP BY event_type),
        |dense AS (
        |  SELECT g.event_type, g.hr, coalesce(h.c, 0) AS c
        |  FROM grid g LEFT JOIN hourly h
        |    ON h.event_type = g.event_type AND h.hr = g.hr),
        |paired AS (
        |  SELECT a.event_type, a.c, b.c AS c_prev
        |  FROM dense a JOIN dense b
        |    ON b.event_type = a.event_type AND b.hr = a.hr - 1)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |round(avg(CAST(abs(c - c_prev) AS DOUBLE)) + 1e-12, 4) AS mae,
        |round(avg(CASE WHEN c + c_prev > 0
        |  THEN abs(c - c_prev) * 2.0 / (c + c_prev) ELSE 0.0 END) + 1e-12, 6)
        |  AS smape
        |FROM paired GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q222_revenue_lorenz" ->
      """WITH ord AS (
        |  SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |cum AS (
        |  SELECT row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn,
        |  sum(cents) OVER (ORDER BY cents DESC, o_orderkey) AS cum_rev
        |  FROM ord),
        |tot AS (SELECT count(*) AS n, sum(cents) AS total FROM ord),
        |targets AS (
        |  SELECT CAST(g.k AS BIGINT) AS decile, (g.k * t.n) // 10 AS rn,
        |  t.total
        |  FROM (SELECT unnest(generate_series(1, 10)) AS k) g, tot t)
        |SELECT tg.decile, CAST(c.rn AS BIGINT) AS n_orders,
        |round(c.cum_rev / CAST(tg.total AS DOUBLE), 6) AS rev_share
        |FROM cum c JOIN targets tg ON tg.rn = c.rn
        |ORDER BY tg.decile NULLS FIRST""".stripMargin,

    "q215_gini_activity" ->
      """WITH x AS (
        |  SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM x)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |CAST(sum(x) AS BIGINT) AS total_events,
        |round(2.0 * sum(i * x) / (count(*) * CAST(sum(x) AS DOUBLE))
        |  - (count(*) + 1.0) / count(*) + 1e-12, 6) AS gini
        |FROM ranked""".stripMargin,

    "q216_km_survival" ->
      """WITH tend AS (SELECT max(epoch_us(ts)) AS t_end FROM events),
        |s AS (SELECT user_id, min(epoch_us(ts)) AS s_us
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |pu AS (
        |  SELECT s.user_id, s.s_us, min(p.p_us) AS first_p
        |  FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.p_us > s.s_us
        |  GROUP BY 1, 2),
        |obs AS (
        |  SELECT user_id,
        |  CASE WHEN first_p IS NOT NULL
        |       THEN (first_p - s_us) // 3600000000 END AS dur,
        |  coalesce(
        |    CASE WHEN first_p IS NOT NULL
        |         THEN (first_p - s_us) // 3600000000 END,
        |    (t.t_end - s_us) // 3600000000) AS obs
        |  FROM pu, tend t),
        |d AS (SELECT dur AS t, count(*) AS d FROM obs
        |  WHERE dur IS NOT NULL GROUP BY 1),
        |e AS (SELECT obs AS t, count(*) AS e FROM obs GROUP BY 1),
        |tmax AS (SELECT max(t) AS t_max FROM d),
        |tot AS (SELECT count(*) AS n_total FROM obs),
        |endedx AS (
        |  SELECT unnest(generate_series(e.t + 1, tm.t_max)) AS t, e.e
        |  FROM e, tmax tm WHERE e.t < tm.t_max),
        |endedb AS (SELECT t, sum(e) AS ended FROM endedx GROUP BY 1),
        |atrisk AS (
        |  SELECT d.t, d.d, tot.n_total - coalesce(eb.ended, 0) AS n_risk
        |  FROM d LEFT JOIN endedb eb ON eb.t = d.t, tot),
        |lnx AS (
        |  SELECT unnest(generate_series(a.t, tm.t_max)) AS t,
        |  CASE WHEN a.d < a.n_risk
        |       THEN ln(1.0 - a.d / CAST(a.n_risk AS DOUBLE))
        |       ELSE -1e4 END AS lnf
        |  FROM atrisk a, tmax tm),
        |lns AS (SELECT t, sum(lnf) AS lnS FROM lnx GROUP BY 1)
        |SELECT a.t AS t_hr, CAST(a.n_risk AS BIGINT) AS n_risk,
        |CAST(a.d AS BIGINT) AS n_deaths,
        |round(exp(l.lnS), 6) AS survival
        |FROM atrisk a JOIN lns l ON l.t = a.t
        |ORDER BY t_hr NULLS FIRST""".stripMargin,

    "q213_bot_regularity" ->
      """WITH g AS (
        |  SELECT user_id,
        |  CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS DOUBLE) AS gap
        |  FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n_gaps, avg(gap) AS mg,
        |  stddev_samp(gap) AS sd
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 20 AND avg(gap) > 0)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        |round(mg / 1000000.0 + 1e-12, 3) AS mean_gap_s,
        |round(sd / mg + 1e-12, 6) AS cv
        |FROM a
        |ORDER BY round(sd / mg + 1e-12, 6) NULLS FIRST, user_id NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q214_seasonality" ->
      """WITH cells AS (
        |  SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hod,
        |  count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |byhour AS (
        |  SELECT event_type, hod, sum(c) AS ch FROM cells GROUP BY 1, 2),
        |peak AS (
        |  SELECT b.event_type, min(b.hod) AS peak_hour, max(b.ch) AS peak_n
        |  FROM byhour b
        |  JOIN (SELECT event_type, max(ch) AS mch FROM byhour GROUP BY 1) m
        |    ON m.event_type = b.event_type AND b.ch = m.mch
        |  GROUP BY 1)
        |SELECT c.event_type, CAST(sum(c.c) AS BIGINT) AS n,
        |round(sum(CASE WHEN c.dow IN (0, 6) THEN c.c ELSE 0 END) * 1.0
        |  / sum(c.c) + 1e-12, 6) AS weekend_share,
        |CAST(p.peak_hour AS BIGINT) AS peak_hour,
        |round(max(p.peak_n) * 1.0 / sum(c.c) + 1e-12, 6) AS peak_hour_share
        |FROM cells c JOIN peak p ON p.event_type = c.event_type
        |GROUP BY 1, p.peak_hour
        |ORDER BY c.event_type NULLS FIRST""".stripMargin,

    "q206_theil_sen" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  avg(CAST(value AS DOUBLE)) AS m
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type,
        |  (b.m - a.m) / CAST(b.hr - a.hr AS DOUBLE) AS slope
        |  FROM hourly a JOIN hourly b
        |    ON b.event_type = a.event_type AND b.hr > a.hr)
        |SELECT h.event_type, CAST(count(DISTINCT h.hr) AS BIGINT) AS n_hours,
        |round((SELECT quantile_cont(slope, 0.5) FROM slopes s
        |       WHERE s.event_type = h.event_type), 6) AS ts_slope,
        |round(regr_slope(h.m, CAST(h.hr AS DOUBLE)), 6) AS ols_slope
        |FROM hourly h GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q207_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |med AS (
        |  SELECT event_type, quantile_cont(v, 0.5) AS med
        |  FROM ev GROUP BY 1),
        |dev AS (
        |  SELECT ev.event_type, ev.v, med.med, abs(ev.v - med.med) AS adev
        |  FROM ev JOIN med ON med.event_type = ev.event_type),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |round(max(d.med), 6) AS median, round(max(m.mad), 6) AS mad,
        |CAST(sum(CASE WHEN m.mad > 0 AND
        |  abs(round(0.6745 * (d.v - d.med) / m.mad, 6)) > 3.5
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m ON m.event_type = d.event_type
        |GROUP BY 1
        |ORDER BY d.event_type NULLS FIRST""".stripMargin,

    "q208_conversion_latency" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
        |  FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT s.day, s.event_id,
        |  (min(p.p_us) - s.us) / 60000000.0 AS latency_min
        |  FROM s JOIN p ON p.user_id = s.user_id
        |    AND p.p_us > s.us AND p.p_us <= s.us + 86400000000
        |  GROUP BY s.day, s.event_id, s.us)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_converted,
        |round(quantile_cont(latency_min, 0.5) + 1e-12, 4) AS p50_min,
        |round(quantile_cont(latency_min, 0.9) + 1e-12, 4) AS p90_min
        |FROM conv GROUP BY 1
        |ORDER BY day NULLS FIRST""".stripMargin,

    "q204_psi_drift" ->
      """WITH spans AS (
        |  SELECT event_type,
        |  (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |halved AS (
        |  SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
        |  CASE WHEN epoch_us(e.ts) <= s.mid THEN 1 ELSE 2 END AS h
        |  FROM events e JOIN spans s ON s.event_type = e.event_type
        |  WHERE e.value IS NOT NULL),
        |cuts AS (
        |  SELECT event_type,
        |  quantile_cont(v, 0.1) AS c1, quantile_cont(v, 0.2) AS c2,
        |  quantile_cont(v, 0.3) AS c3, quantile_cont(v, 0.4) AS c4,
        |  quantile_cont(v, 0.5) AS c5, quantile_cont(v, 0.6) AS c6,
        |  quantile_cont(v, 0.7) AS c7, quantile_cont(v, 0.8) AS c8,
        |  quantile_cont(v, 0.9) AS c9
        |  FROM halved WHERE h = 1 GROUP BY 1),
        |binned AS (
        |  SELECT hv.event_type, hv.h,
        |  1 + (CASE WHEN v > c1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > c9 THEN 1 ELSE 0 END) AS bin
        |  FROM halved hv JOIN cuts ct ON ct.event_type = hv.event_type),
        |counts AS (
        |  SELECT event_type, bin, h, count(*) AS c
        |  FROM binned GROUP BY 1, 2, 3),
        |totals AS (
        |  SELECT event_type,
        |  sum(CASE WHEN h = 1 THEN c ELSE 0 END) AS n1,
        |  sum(CASE WHEN h = 2 THEN c ELSE 0 END) AS n2
        |  FROM counts GROUP BY 1),
        |grid AS (
        |  SELECT t.event_type, t.n1, t.n2, g.bin
        |  FROM totals t, (SELECT unnest(generate_series(1, 10)) AS bin) g),
        |dense AS (
        |  SELECT g.event_type, g.n1, g.n2, g.bin,
        |  coalesce(a.c, 0) AS c1n, coalesce(b.c, 0) AS c2n
        |  FROM grid g
        |  LEFT JOIN counts a ON a.event_type = g.event_type
        |    AND a.bin = g.bin AND a.h = 1
        |  LEFT JOIN counts b ON b.event_type = g.event_type
        |    AND b.bin = g.bin AND b.h = 2)
        |SELECT event_type, CAST(max(n1) AS BIGINT) AS n_ref,
        |CAST(max(n2) AS BIGINT) AS n_cur,
        |round(sum(
        |  ((c2n + 0.5) / (n2 + 5.0) - (c1n + 0.5) / (n1 + 5.0)) *
        |  ln(((c2n + 0.5) / (n2 + 5.0)) / ((c1n + 0.5) / (n1 + 5.0)))), 6)
        |  AS psi
        |FROM dense GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q201_ewma_chart" ->
      s"""WITH $duckEwmaCtes
         |SELECT event_type, hr, c, round(ewma, 6) AS ewma,
         |round(c - ewma, 6) AS dev
         |FROM frame
         |ORDER BY round(abs(round(c - ewma, 6)), 6) DESC,
         |  event_type NULLS FIRST, hr NULLS FIRST
         |LIMIT 20""".stripMargin,

    "q212_spike_attribution" ->
      s"""WITH $duckEwmaCtes,
         |spikes AS (
         |  SELECT event_type, hr FROM frame
         |  ORDER BY round(abs(round(c - ewma, 6)), 6) DESC,
         |    event_type NULLS FIRST, hr NULLS FIRST
         |  LIMIT 3),
         |se AS (
         |  SELECT e.event_type, s.hr, e.user_id
         |  FROM events e JOIN spikes s ON s.event_type = e.event_type
         |    AND s.hr = epoch_us(e.ts) // 3600000000),
         |uh AS (
         |  SELECT event_type, hr, user_id, count(*) AS n_u
         |  FROM se GROUP BY 1, 2, 3),
         |ht AS (SELECT event_type, hr, sum(n_u) AS n_h FROM uh GROUP BY 1, 2),
         |ub AS (SELECT event_type, user_id, count(*) AS b_u
         |  FROM events GROUP BY 1, 2),
         |tt AS (SELECT event_type, count(*) AS b_t FROM events GROUP BY 1),
         |lifted AS (
         |  SELECT uh.event_type, uh.hr, uh.user_id, uh.n_u,
         |  round(uh.n_u * 1.0 / ht.n_h + 1e-12, 6) AS spike_share,
         |  round((uh.n_u * tt.b_t) / CAST(ht.n_h * ub.b_u AS DOUBLE) + 1e-12, 6)
         |    AS lift
         |  FROM uh
         |  JOIN ht ON ht.event_type = uh.event_type AND ht.hr = uh.hr
         |  JOIN ub ON ub.event_type = uh.event_type AND ub.user_id = uh.user_id
         |  JOIN tt ON tt.event_type = uh.event_type)
         |SELECT event_type, hr, user_id, CAST(n_u AS BIGINT) AS n_u,
         |spike_share, lift, CAST(rn AS BIGINT) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type, hr
         |    ORDER BY lift DESC, user_id) AS rn
         |  FROM lifted)
         |WHERE rn <= 3
         |ORDER BY event_type NULLS FIRST, hr NULLS FIRST, rn""".stripMargin,

    "q233_cusum_shift" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS c FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1,
        |  sum(c) AS sc, sum(c * c) AS sc2 FROM daily GROUP BY 1),
        |st AS (
        |  SELECT event_type, d0, d1, d1 - d0 + 1 AS n_days,
        |  CAST(sc AS DOUBLE) / (d1 - d0 + 1) AS m,
        |  sqrt((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * sc / (d1 - d0 + 1))
        |    / ((d1 - d0 + 1) - 1.0)) AS sd
        |  FROM g),
        |grid AS (
        |  SELECT event_type, m, sd,
        |  unnest(generate_series(d0, d1)) AS day
        |  FROM st WHERE sd > 0),
        |x AS (
        |  SELECT gr.event_type, gr.day,
        |  (CAST(coalesce(d.c, 0) AS DOUBLE) - gr.m) / gr.sd - 0.25 AS x
        |  FROM grid gr LEFT JOIN daily d
        |    ON d.event_type = gr.event_type AND d.day = gr.day),
        |cs AS (
        |  SELECT event_type, day,
        |  sum(x) OVER (PARTITION BY event_type ORDER BY day) AS cs
        |  FROM x),
        |sv AS (
        |  SELECT event_type, day, cs - least(0.0,
        |    min(cs) OVER (PARTITION BY event_type ORDER BY day)) AS s
        |  FROM cs)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |round(max(s) + 1e-12, 6) AS max_cusum,
        |CAST(sum(CASE WHEN round(s + 1e-12, 6) > 3.0 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_alarms,
        |min(CASE WHEN round(s + 1e-12, 6) > 3.0 THEN day END)
        |  AS first_alarm_day
        |FROM sv GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q234_kruskal_wallis" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DOUBLE) AS v, event_type AS g
        |  FROM events WHERE value IS NOT NULL),
        |vg AS (SELECT v, g, count(*) AS n_gv FROM ev GROUP BY 1, 2),
        |vv AS (SELECT v, sum(n_gv) AS nv FROM vg GROUP BY 1),
        |c AS (
        |  SELECT v, nv, sum(nv) OVER (ORDER BY v) AS cnv FROM vv),
        |m AS (SELECT v, 2 * cnv - nv + 1 AS mid2 FROM c),
        |grp AS (
        |  SELECT vg.g, sum(vg.n_gv) AS n_g, sum(vg.n_gv * m.mid2) AS r2g
        |  FROM vg JOIN m ON m.v = vg.v GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(nv) AS BIGINT) AS n,
        |  sum(CAST(nv AS DOUBLE) * nv * nv - nv) AS tie FROM vv),
        |terms AS (
        |  SELECT t.n, t.tie,
        |  (CAST(g.r2g AS DOUBLE) * 3.0 / (t.n * (t.n + 1.0))) * g.r2g / g.n_g
        |    AS term
        |  FROM grp g, tot t),
        |f AS (
        |  SELECT n, tie, CAST(count(*) AS BIGINT) AS k_groups,
        |  sum(term) AS st FROM terms GROUP BY 1, 2)
        |SELECT k_groups, n,
        |round(st - 3.0 * (n + 1.0) + 1e-12, 6) AS h,
        |round((st - 3.0 * (n + 1.0)) /
        |  (1.0 - tie / (CAST(n AS DOUBLE) * n * n - n)) + 1e-12, 6)
        |  AS h_tie_corrected,
        |round((st - 3.0 * (n + 1.0)) / (n - 1.0) + 1e-12, 6) AS epsilon_sq
        |FROM f""".stripMargin,

    "q235_anova_oneway" ->
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |grp AS (
        |  SELECT g, count(*) AS n_g, avg(v) AS m_g, var_samp(v) AS s_g
        |  FROM ev GROUP BY 1),
        |f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |  CAST(sum(n_g) AS BIGINT) AS n,
        |  sum(n_g * m_g) AS sb, sum(n_g * m_g * m_g) AS sb2,
        |  sum((n_g - 1) * s_g) AS ssw FROM grp)
        |SELECT k_groups, n,
        |round(((sb2 - sb * sb / n) / (k_groups - 1.0)) /
        |  (ssw / CAST(n - k_groups AS DOUBLE)), 6) AS f_stat,
        |round((sb2 - sb * sb / n) / ((sb2 - sb * sb / n) + ssw), 6) AS eta_sq
        |FROM f""".stripMargin,

    "q236_kendall_tau" ->
      """WITH li AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |  CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d FROM lineitem),
        |cells AS (SELECT q, d, count(*) AS o FROM li GROUP BY 1, 2),
        |cd AS (
        |  SELECT sum(CAST(a.o AS DOUBLE) * b.o)
        |    FILTER (b.q > a.q AND b.d > a.d) AS nc,
        |  sum(CAST(a.o AS DOUBLE) * b.o)
        |    FILTER (b.q > a.q AND b.d < a.d) AS nd
        |  FROM cells a, cells b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |rt AS (SELECT sum(CAST(tq AS DOUBLE) * (tq - 1) / 2) AS n1
        |  FROM (SELECT sum(o) AS tq FROM cells GROUP BY q)),
        |ct AS (SELECT sum(CAST(td AS DOUBLE) * (td - 1) / 2) AS n2
        |  FROM (SELECT sum(o) AS td FROM cells GROUP BY d))
        |SELECT t.n, CAST(c.nc AS BIGINT) AS concordant,
        |CAST(c.nd AS BIGINT) AS discordant,
        |round(CAST(c.nc - c.nd AS DOUBLE) /
        |  sqrt((CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - r.n1) *
        |       (CAST(t.n AS DOUBLE) * (t.n - 1) / 2 - c2.n2)) + 1e-12, 6)
        |  AS tau_b
        |FROM cd c, tot t, rt r, ct c2""".stripMargin,

    "q241_rfm_segments" ->
      """WITH rfm AS (
        |  SELECT o_custkey, max(epoch_us(o_orderdate) // 86400000000)
        |    AS last_day,
        |  count(*) AS freq,
        |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |nc AS (SELECT count(*) AS n FROM rfm),
        |ranked AS (
        |  SELECT cents,
        |  row_number() OVER (ORDER BY last_day, o_custkey) AS rr,
        |  row_number() OVER (ORDER BY freq, o_custkey) AS rf,
        |  row_number() OVER (ORDER BY cents, o_custkey) AS rm
        |  FROM rfm),
        |scored AS (
        |  SELECT CAST((rr - 1) * 5 // n AS BIGINT) + 1 AS r_q,
        |  CAST((rf - 1) * 5 // n AS BIGINT) + 1 AS f_q,
        |  CAST((rm - 1) * 5 // n AS BIGINT) + 1 AS m_q, cents
        |  FROM ranked, nc)
        |SELECT CASE
        |  WHEN r_q >= 4 AND f_q >= 4 AND m_q >= 4 THEN 'champion'
        |  WHEN r_q <= 2 AND f_q >= 4 THEN 'at_risk_loyal'
        |  WHEN r_q >= 4 AND f_q <= 2 THEN 'recent_light'
        |  ELSE 'regular' END AS segment,
        |r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_customers,
        |round(avg(cents) + 1e-12, 6) AS avg_cents
        |FROM scored GROUP BY 1, 2, 3, 4
        |ORDER BY segment NULLS FIRST, r_q, f_q, m_q""".stripMargin,

    "q242_session_entropy" ->
      """WITH ut AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |uh AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
        |  ln(CAST(sum(c) AS DOUBLE)) -
        |    sum(c * ln(CAST(c AS DOUBLE))) / sum(c) AS h
        |  FROM ut GROUP BY 1)
        |SELECT CAST(floor(round(h + 1e-12, 6) / 0.01) AS BIGINT) AS band,
        |CAST(count(*) AS BIGINT) AS n_users,
        |round(avg(CAST(n_types AS DOUBLE)) + 1e-12, 6) AS avg_types
        |FROM uh GROUP BY 1
        |ORDER BY band""".stripMargin,

    "q243_fano_burstiness" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  count(*) AS c FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, min(hr) AS h0, max(hr) AS h1,
        |  sum(c) AS sc, sum(c * c) AS sc2 FROM hourly GROUP BY 1),
        |st AS (
        |  SELECT event_type, h1 - h0 + 1 AS nh,
        |  CAST(sc AS DOUBLE) / (h1 - h0 + 1) AS m,
        |  (CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * sc / (h1 - h0 + 1))
        |    / ((h1 - h0 + 1) - 1.0) AS v
        |  FROM g)
        |SELECT event_type, CAST(nh AS BIGINT) AS n_hours,
        |round(m + 1e-12, 6) AS mean_per_hour,
        |round(v / m + 1e-12, 6) AS fano,
        |round((sqrt(v) - m) / (sqrt(v) + m) + 1e-12, 6) AS burstiness
        |FROM st WHERE m > 0 AND nh > 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q248_cliffs_delta" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val tpairs = for {
        i <- types.indices; j <- i + 1 until types.size
      } yield (types(i), types(j))
      val nCols = types
        .map(t => s"count(*) FILTER (t = '$t') AS n_$t").mkString(", ")
      val cCols = types
        .map(t => s"sum(n_$t) OVER (ORDER BY v) AS c_$t").mkString(", ")
      val uCols = tpairs.map { case (a, b) =>
        s"sum(CAST(n_$a AS DOUBLE) * (c_$b - n_$b) + " +
          s"CAST(n_$a AS DOUBLE) * n_$b / 2.0) AS u_${a}_$b"
      }.mkString(", ")
      val tCols = types.map(t => s"sum(n_$t) AS tot_$t").mkString(", ")
      val rows = tpairs.map { case (a, b) =>
        s"SELECT '$a' AS type_a, '$b' AS type_b, " +
          s"CAST(tot_$a AS BIGINT) AS n_a, CAST(tot_$b AS BIGINT) AS n_b, " +
          s"round(2.0 * u_${a}_$b / (tot_$a * CAST(tot_$b AS DOUBLE)) " +
          s"- 1.0 + 1e-12, 6) AS delta FROM onerow"
      }.mkString("\nUNION ALL ")
      s"""WITH ev AS (
         |  SELECT event_type AS t, CAST(value AS DOUBLE) AS v FROM events
         |  WHERE value IS NOT NULL
         |  AND event_type IN (${types.map("'" + _ + "'").mkString(", ")})),
         |g AS (SELECT v, $nCols FROM ev GROUP BY v),
         |c AS (SELECT *, $cCols FROM g),
         |onerow AS (SELECT $uCols, $tCols FROM c),
         |allpairs AS ($rows)
         |SELECT type_a, type_b, n_a, n_b, delta,
         |CASE WHEN abs(delta) < 0.147 THEN 'negligible'
         |     WHEN abs(delta) < 0.33 THEN 'small'
         |     WHEN abs(delta) < 0.474 THEN 'medium'
         |     ELSE 'large' END AS magnitude
         |FROM allpairs
         |ORDER BY type_a NULLS FIRST, type_b NULLS FIRST""".stripMargin
    },

    "q249_brown_forsythe" ->
      """WITH ev AS (
        |  SELECT event_type AS g, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT g, quantile_cont(v, 0.5) AS med FROM ev GROUP BY 1),
        |z AS (SELECT ev.g, abs(ev.v - med.med) AS z
        |      FROM ev JOIN med ON med.g = ev.g),
        |grp AS (SELECT g, count(*) AS n_g, avg(z) AS m_g, var_samp(z) AS s_g
        |        FROM z GROUP BY 1),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |      CAST(sum(n_g) AS BIGINT) AS n,
        |      sum(n_g * m_g) AS sb, sum(n_g * m_g * m_g) AS sb2,
        |      sum((n_g - 1) * s_g) AS ssw FROM grp)
        |SELECT k_groups, n,
        |round(((sb2 - sb * sb / n) / (k_groups - 1.0)) /
        |  (ssw / CAST(n - k_groups AS DOUBLE)), 6) AS w_stat
        |FROM f""".stripMargin,

    "q250_theil_decomposition" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |x AS (
        |  SELECT n_name, cents FROM spend
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  WHERE cents > 0),
        |na AS (SELECT n_name, count(*) AS n_g, sum(cents) AS s_g
        |       FROM x GROUP BY 1),
        |tg AS (
        |  SELECT x.n_name, max(na.n_g) AS n_g, max(na.s_g) AS s_g,
        |  sum((CAST(cents AS DOUBLE) * na.n_g / na.s_g) *
        |      ln(CAST(cents AS DOUBLE) * na.n_g / na.s_g)) AS tsum
        |  FROM x JOIN na ON na.n_name = x.n_name GROUP BY 1),
        |nr AS (SELECT n_name, n_g, s_g, tsum / n_g AS theil_w FROM tg),
        |tot AS (SELECT sum(n_g) AS n, sum(s_g) AS s FROM nr),
        |nrows AS (
        |  SELECT n_name AS scope, CAST(n_g AS BIGINT) AS n_cust,
        |  CAST(s_g AS BIGINT) AS total_cents,
        |  round(CAST(s_g AS DOUBLE) / t.s + 1e-12, 6) AS income_share,
        |  round(theil_w, 6) AS theil
        |  FROM nr, tot t),
        |parts AS (
        |  SELECT sum((CAST(s_g AS DOUBLE) / t.s) * theil_w) AS w,
        |  sum((CAST(s_g AS DOUBLE) / t.s) *
        |      ln((CAST(s_g AS DOUBLE) / n_g) / (CAST(t.s AS DOUBLE) / t.n)))
        |    AS b
        |  FROM nr, tot t),
        |summ AS (
        |  SELECT '_between' AS scope, CAST(NULL AS BIGINT) AS n_cust,
        |  CAST(NULL AS BIGINT) AS total_cents,
        |  CAST(NULL AS DOUBLE) AS income_share, round(b, 6) AS theil
        |  FROM parts
        |  UNION ALL SELECT '_total', CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), round(w + b, 6)
        |  FROM parts
        |  UNION ALL SELECT '_within', CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), round(w, 6)
        |  FROM parts)
        |SELECT * FROM nrows
        |UNION ALL SELECT * FROM summ
        |ORDER BY scope NULLS FIRST""".stripMargin,

    "q256_pettitt" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS c FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |      FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT event_type, unnest(generate_series(d0, d1)) AS day
        |  FROM g WHERE d1 - d0 + 1 > 2),
        |x AS (
        |  SELECT gr.event_type, gr.day, coalesce(d.c, 0) AS x
        |  FROM grid gr LEFT JOIN daily d
        |    ON d.event_type = gr.event_type AND d.day = gr.day),
        |r AS (
        |  SELECT event_type, day, x,
        |  2 * (rank() OVER (PARTITION BY event_type ORDER BY x) - 1)
        |    + count(*) OVER (PARTITION BY event_type, x) + 1 AS r2,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |  count(*) OVER (PARTITION BY event_type) AS n
        |  FROM x),
        |u AS (
        |  SELECT event_type, day, i, n,
        |  sum(r2) OVER (PARTITION BY event_type ORDER BY day)
        |    - i * (n + 1) AS u
        |  FROM r),
        |k AS (
        |  SELECT event_type, max(n) AS n,
        |  max(abs(u)) FILTER (i < n) AS k FROM u GROUP BY 1),
        |res AS (
        |  SELECT k.event_type, k.n, k.k,
        |  min(CASE WHEN u.i < u.n AND abs(u.u) = k.k THEN u.day END)
        |    AS change_day
        |  FROM k JOIN u ON u.event_type = k.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |CAST(k AS BIGINT) AS k_stat, change_day,
        |round(least(1.0, 2.0 * exp(-6.0 * k * k /
        |  CAST(n * n * n + n * n AS DOUBLE))), 6) AS p_approx
        |FROM res ORDER BY event_type NULLS FIRST""".stripMargin,

    "q257_bootstrap_ci" -> {
      val hexThr = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462, 0.9963401531726563)
        .map(t => f"${(t * math.pow(2.0, 60)).toLong}%015x")
      s"""WITH eb AS (
        |  SELECT event_id, event_type, CAST(value AS DOUBLE) AS v,
        |  unnest(generate_series(-1, 31)) AS b
        |  FROM events WHERE value IS NOT NULL),
        |h AS (
        |  SELECT event_type, b, v,
        |  CASE WHEN b >= 0 THEN
        |    substr(sha256(CAST(event_id AS VARCHAR) || ':' ||
        |      CAST(b // 4 AS VARCHAR)), (b % 4) * 15 + 1, 15)
        |  END AS hx
        |  FROM eb),
        |wt AS (
        |  SELECT event_type, b, v,
        |  CASE WHEN b = -1 THEN 1
        |       WHEN hx < '${hexThr(0)}' THEN 0
        |       WHEN hx < '${hexThr(1)}' THEN 1
        |       WHEN hx < '${hexThr(2)}' THEN 2
        |       WHEN hx < '${hexThr(3)}' THEN 3
        |       WHEN hx < '${hexThr(4)}' THEN 4
        |       ELSE 5 END AS w
        |  FROM h),
        |rm AS (
        |  SELECT event_type, b,
        |  round(sum(w * v) / sum(w) + 1e-12, 6) AS m,
        |  count(*) AS cnt
        |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
        |ci AS (
        |  SELECT event_type,
        |  list(m ORDER BY m, b) FILTER (b >= 0) AS ms,
        |  max(CASE WHEN b = -1 THEN m END) AS mean,
        |  max(CASE WHEN b = -1 THEN cnt END) AS n_events
        |  FROM rm GROUP BY 1)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events, mean,
        |ms[2] AS ci_lo, ms[31] AS ci_hi
        |FROM ci ORDER BY event_type NULLS FIRST""".stripMargin
    },

    "q261_hill_tail_index" ->
      """WITH tail AS (
        |  SELECT cnt FROM (
        |    SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |  ORDER BY cnt DESC, user_id LIMIT 101),
        |f AS (
        |  SELECT count(*) AS k1, sum(ln(CAST(cnt AS DOUBLE))) AS slog,
        |  min(cnt) AS xmin FROM tail)
        |SELECT CAST(k1 - 1 AS BIGINT) AS k,
        |CAST(xmin AS BIGINT) AS x_tail_min,
        |round(slog - k1 * ln(CAST(xmin AS DOUBLE)), 6) AS sum_log_ratio,
        |CASE WHEN slog - k1 * ln(CAST(xmin AS DOUBLE)) > 0
        |  THEN round((k1 - 1.0) / (slog - k1 * ln(CAST(xmin AS DOUBLE))), 6)
        |END AS alpha
        |FROM f""".stripMargin,

    "q269_prop_ztest" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) AS us,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        |  FROM events),
        |span AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
        |f AS (
        |  SELECT
        |  sum(CASE WHEN us * 2 < u0 + u1 THEN 1 ELSE 0 END) AS n1,
        |  sum(CASE WHEN us * 2 < u0 + u1 THEN hit ELSE 0 END) AS x1,
        |  sum(CASE WHEN us * 2 >= u0 + u1 THEN 1 ELSE 0 END) AS n2,
        |  sum(CASE WHEN us * 2 >= u0 + u1 THEN hit ELSE 0 END) AS x2
        |  FROM ev, span),
        |g AS (
        |  SELECT n1, x1, n2, x2,
        |  CAST(x1 AS DOUBLE) / n1 AS p1, CAST(x2 AS DOUBLE) / n2 AS p2,
        |  CAST(x1 + x2 AS DOUBLE) / (n1 + n2) AS pp
        |  FROM f)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
        |CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
        |round(p1 + 1e-12, 6) AS rate_first_half,
        |round(p2 + 1e-12, 6) AS rate_second_half,
        |round((p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
        |  + 1e-12, 6) AS z,
        |round(exp(-0.5 *
        |  ((p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))) *
        |  ((p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)))), 6)
        |  AS p_bound
        |FROM g""".stripMargin,

    "q270_churn_by_decile" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |span AS (SELECT min(us) AS u0, max(us) AS u1 FROM ev),
        |fh AS (
        |  SELECT user_id, count(*) AS acts FROM ev, span
        |  WHERE us * 2 < u0 + u1 GROUP BY 1),
        |sh AS (
        |  SELECT DISTINCT user_id FROM ev, span WHERE us * 2 >= u0 + u1),
        |nu AS (SELECT count(*) AS nu FROM fh),
        |ranked AS (
        |  SELECT user_id, acts,
        |  CAST((row_number() OVER (ORDER BY acts, user_id) - 1) * 10
        |    // nu.nu AS BIGINT) + 1 AS decile
        |  FROM fh, nu)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
        |CAST(min(acts) AS BIGINT) AS min_acts,
        |CAST(max(acts) AS BIGINT) AS max_acts,
        |CAST(count(*) FILTER (sh.user_id IS NULL) AS BIGINT) AS n_churned,
        |round(count(*) FILTER (sh.user_id IS NULL) * 1.0 / count(*)
        |  + 1e-12, 6) AS churn_rate
        |FROM ranked LEFT JOIN sh ON sh.user_id = ranked.user_id
        |GROUP BY 1
        |ORDER BY decile NULLS FIRST""".stripMargin,

    "q271_order_reconciliation" ->
      """WITH line AS (
        |  SELECT l_orderkey,
        |  sum(CAST(floor(l_extendedprice * (1 - l_discount) *
        |    (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS line_cents
        |  FROM lineitem GROUP BY 1),
        |o AS (
        |  SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_cents
        |  FROM orders),
        |j AS (
        |  SELECT o_cents, line_cents,
        |  CASE WHEN line_cents IS NULL THEN 'missing_lines'
        |    WHEN o_cents = line_cents THEN 'exact'
        |    WHEN round(abs(o_cents - line_cents) * 1.0 / o_cents
        |      + 1e-12, 6) <= 0.01 THEN 'within_1pct'
        |    WHEN round(abs(o_cents - line_cents) * 1.0 / o_cents
        |      + 1e-12, 6) <= 0.05 THEN 'within_5pct'
        |    ELSE 'worse' END AS bucket,
        |  coalesce(abs(o_cents - line_cents), o_cents) AS gap_cents
        |  FROM o LEFT JOIN line ON l_orderkey = o_orderkey)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        |CAST(sum(gap_cents) AS BIGINT) AS total_gap_cents
        |FROM j GROUP BY 1
        |ORDER BY bucket NULLS FIRST""".stripMargin,

    "q272_feature_staleness" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN event_type = 'click' THEN ts END AS click_ts
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |lcf AS (
        |  SELECT user_id, ts, event_type,
        |  last_value(click_ts IGNORE NULLS) OVER w AS asof_ts
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT (epoch_us(ts) - epoch_us(asof_ts)) / 60000000.0
        |    AS stale_min
        |  FROM lcf WHERE event_type = 'purchase'),
        |r AS (SELECT count(*) AS n_purchases, count(stale_min) AS n_matched
        |      FROM p),
        |q AS (
        |  SELECT quantile_cont(stale_min, 0.5) AS p50,
        |  quantile_cont(stale_min, 0.9) AS p90,
        |  quantile_cont(stale_min, 0.99) AS p99
        |  FROM p WHERE stale_min IS NOT NULL)
        |SELECT CAST(n_purchases AS BIGINT) AS n_purchases,
        |CAST(n_matched AS BIGINT) AS n_matched,
        |round(n_matched * 1.0 / n_purchases + 1e-12, 6) AS match_rate,
        |round(p50 + 1e-12, 6) AS p50_min,
        |round(p90 + 1e-12, 6) AS p90_min,
        |round(p99 + 1e-12, 6) AS p99_min
        |FROM r, q""".stripMargin,

    "q275_seasonal_naive" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |  count(*) AS c FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, min(hr) AS h0, max(hr) AS h1
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT event_type, h1 - h0 + 1 AS nh,
        |  unnest(generate_series(h0 + 168, h1)) AS t
        |  FROM g WHERE h1 - h0 + 1 > 168),
        |x AS (
        |  SELECT gr.event_type, gr.nh,
        |  abs(coalesce(cur.c, 0) - coalesce(l168.c, 0)) AS e168,
        |  abs(coalesce(cur.c, 0) - coalesce(l1.c, 0)) AS e1
        |  FROM grid gr
        |  LEFT JOIN hourly cur
        |    ON cur.event_type = gr.event_type AND cur.hr = gr.t
        |  LEFT JOIN hourly l168
        |    ON l168.event_type = gr.event_type AND l168.hr = gr.t - 168
        |  LEFT JOIN hourly l1
        |    ON l1.event_type = gr.event_type AND l1.hr = gr.t - 1)
        |SELECT event_type, CAST(max(nh) AS BIGINT) AS n_hours,
        |CAST(count(*) AS BIGINT) AS n_scored,
        |CAST(sum(e168) AS BIGINT) AS sae_seasonal,
        |CAST(sum(e1) AS BIGINT) AS sae_naive1,
        |round(sum(e168) * 1.0 / count(*) + 1e-12, 6) AS mae_seasonal,
        |round(sum(e1) * 1.0 / count(*) + 1e-12, 6) AS mae_naive1,
        |CASE WHEN sum(e168) > 0
        |  THEN round(sum(e1) * 1.0 / sum(e168) + 1e-12, 6) END
        |  AS improvement
        |FROM x GROUP BY 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q277_source_ks_profile" ->
      """WITH dv AS (
        |  SELECT n_chars AS v, count(*) AS nv FROM documents GROUP BY 1),
        |cvt AS (SELECT v, nv, sum(nv) OVER (ORDER BY v) AS cv FROM dv),
        |sv AS (SELECT source, n_chars AS v, count(*) AS ns
        |       FROM documents GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |grid AS (SELECT s.source, d.v, d.cv FROM srcs s CROSS JOIN cvt d),
        |j AS (
        |  SELECT g.source, g.v, g.cv, coalesce(sv.ns, 0) AS ns
        |  FROM grid g LEFT JOIN sv
        |    ON sv.source = g.source AND sv.v = g.v),
        |k AS (
        |  SELECT source, v, cv,
        |  sum(ns) OVER (PARTITION BY source ORDER BY v) AS cs,
        |  sum(ns) OVER (PARTITION BY source) AS t
        |  FROM j),
        |tot AS (SELECT count(*) AS n FROM documents),
        |d AS (
        |  SELECT k.source, max(k.t) AS n_docs,
        |  max(abs(CAST(k.cs AS DOUBLE) / k.t - CAST(k.cv AS DOUBLE) / tot.n))
        |    AS dd
        |  FROM k, tot GROUP BY 1)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |round(dd + 1e-12, 6) AS d_stat,
        |round(1.36 * sqrt(CAST(tot.n + n_docs AS DOUBLE) / (tot.n * n_docs))
        |  + 1e-12, 6) AS crit_136,
        |CAST(CASE WHEN round(dd + 1e-12, 6) >
        |  round(1.36 * sqrt(CAST(tot.n + n_docs AS DOUBLE) /
        |    (tot.n * n_docs)) + 1e-12, 6)
        |  THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM d, tot
        |ORDER BY source NULLS FIRST""".stripMargin,

    // the identical left fold as a per-type RECURSIVE CTE over the
    // indexed dense-day series — one step per day, each step's
    // arithmetic textually mirroring Spark's aggregate HOF merge.
    // (A struct-state list_reduce was tried and REVERTED: DuckDB
    // 1.0's reduce mutates the struct accumulator in place field by
    // field, so from the second step on, later fields read already-
    // updated earlier fields — measured b/sse divergence.)
    "q339_holt_trend" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |  count(*) AS c FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT g.event_type, g.d1 - g.d0 + 1 AS n_days,
        |  unnest(generate_series(g.d0, g.d1)) AS day
        |  FROM g WHERE g.d1 - g.d0 + 1 >= 2),
        |dense AS (
        |  SELECT gr.event_type, gr.n_days,
        |  row_number() OVER (PARTITION BY gr.event_type ORDER BY gr.day)
        |    AS idx,
        |  CAST(coalesce(d.c, 0) AS DOUBLE) AS y
        |  FROM grid gr LEFT JOIN daily d
        |    ON d.event_type = gr.event_type AND d.day = gr.day),
        |f(event_type, i, l, b, sse, prev, sn) AS (
        |  SELECT event_type, 1, y, CAST(0.0 AS DOUBLE),
        |  CAST(0.0 AS DOUBLE), y, CAST(0.0 AS DOUBLE)
        |  FROM dense WHERE idx = 1
        |  UNION ALL
        |  SELECT f.event_type, f.i + 1,
        |  0.5 * d.y + 0.5 * (f.l + f.b),
        |  0.25 * (0.5 * d.y + 0.5 * (f.l + f.b) - f.l) + 0.75 * f.b,
        |  f.sse + (d.y - f.l - f.b) * (d.y - f.l - f.b),
        |  d.y,
        |  f.sn + (d.y - f.prev) * (d.y - f.prev)
        |  FROM f JOIN dense d
        |    ON d.event_type = f.event_type AND d.idx = f.i + 1)
        |SELECT f.event_type, CAST(n.n_days AS BIGINT) AS n_days,
        |round(f.l + 1e-12, 6) AS level,
        |round(f.b + 1e-12, 6) AS trend,
        |round(f.l + 3.0 * f.b + 1e-12, 6) AS forecast_h3,
        |round(f.sse + 1e-12, 6) AS sse_holt,
        |CAST(f.sn AS BIGINT) AS sse_naive
        |FROM f JOIN (SELECT event_type, max(n_days) AS n_days
        |             FROM dense GROUP BY 1) n
        |  ON n.event_type = f.event_type AND f.i = n.n_days
        |ORDER BY f.event_type NULLS FIRST""".stripMargin,

    // same q180-family regr_slope folds; the flag compares the
    // rounded slopes on both engines
    "q348_simpson_audit" ->
      """WITH s AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |  CAST(epoch_us(ts) AS DOUBLE) / 3600.0e6 AS x
        |  FROM events WHERE value IS NOT NULL),
        |per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(regr_slope(v, x), 6) AS group_slope
        |  FROM s GROUP BY 1),
        |pooled AS (SELECT round(regr_slope(v, x), 6) AS pooled_slope FROM s)
        |SELECT event_type, n, group_slope, pooled_slope,
        |CAST(CASE WHEN group_slope * pooled_slope < 0.0
        |  THEN 1 ELSE 0 END AS BIGINT) AS sign_flip
        |FROM per, pooled
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    // the same quarter-span capture windows, per-user membership
    // flags, Lincoln-Petersen + Chapman arithmetic
    "q384_capture_recapture" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |sp AS (
        |  SELECT min(us) AS lo, (max(us) - min(us)) // 4 AS qs,
        |  max(us) AS hi FROM e),
        |fl AS (
        |  SELECT user_id,
        |  max(CASE WHEN us < sp.lo + sp.qs THEN 1 ELSE 0 END) AS c1,
        |  max(CASE WHEN us >= sp.hi - sp.qs THEN 1 ELSE 0 END) AS c2
        |  FROM e, sp GROUP BY 1),
        |a AS (
        |  SELECT count(*) AS true_distinct, sum(c1) AS n1, sum(c2) AS n2,
        |  sum(c1 * c2) AS m FROM fl)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |CAST(m AS BIGINT) AS m,
        |CAST(true_distinct AS BIGINT) AS true_distinct,
        |round(CAST(n1 AS DOUBLE) * n2 / m + 1e-12, 2) AS lincoln_petersen,
        |round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0 + 1e-12, 2)
        |  AS chapman
        |FROM a""".stripMargin,

    // the same leave-one-source-out closed form over integer sums
    "q386_jackknife_sources" ->
      """WITH per AS (
        |  SELECT source, count(*) AS ns, sum(n_chars) AS ts
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(ns) AS n, sum(ts) AS t, count(*) AS g FROM per),
        |loo AS (
        |  SELECT tot.g, tot.n, tot.t,
        |  CAST(tot.t - per.ts AS DOUBLE) / CAST(tot.n - per.ns AS DOUBLE)
        |    AS theta_i
        |  FROM per, tot),
        |a AS (
        |  SELECT g, n, t, avg(theta_i) AS tb,
        |  sum(theta_i * theta_i) AS s2, count(*) AS gi
        |  FROM loo GROUP BY g, n, t)
        |SELECT CAST(g AS BIGINT) AS n_sources,
        |round(CAST(t AS DOUBLE) / n + 1e-12, 6) AS theta,
        |round(CAST(g - 1 AS DOUBLE) / g * (s2 - g * tb * tb) + 1e-12, 6)
        |  AS jack_var,
        |round(sqrt(CAST(g - 1 AS DOUBLE) / g * (s2 - g * tb * tb))
        |  + 1e-12, 6) AS jack_se
        |FROM a""".stripMargin,

    // the same three screens with the same grid boundaries (nudged z
    // round, raw IQR fence arithmetic in the identical op order, the
    // q207 rounded robust z), one fused fold, unpivoted
    "q400_outlier_screen_agreement" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |qs AS (
        |  SELECT event_type, quantile_cont(v, 0.25) AS q1,
        |  quantile_cont(v, 0.5) AS med, quantile_cont(v, 0.75) AS q3
        |  FROM ev GROUP BY 1),
        |ms AS (
        |  SELECT event_type, avg(v) AS mu, stddev_pop(v) AS sd
        |  FROM ev GROUP BY 1),
        |dev AS (
        |  SELECT ev.event_type, ev.v, qs.q1, qs.q3, qs.med,
        |  abs(ev.v - qs.med) AS adev
        |  FROM ev JOIN qs USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1),
        |f AS (
        |  SELECT
        |  (ms.sd > 0 AND round(abs(d.v - ms.mu) / ms.sd + 1e-12, 6) > 3.0)
        |    AS f_z,
        |  (d.v < d.q1 - (d.q3 - d.q1) * 1.5
        |   OR d.v > d.q3 + (d.q3 - d.q1) * 1.5) AS f_iqr,
        |  (mad.mad > 0
        |   AND abs(round(0.6745 * (d.v - d.med) / mad.mad, 6)) > 3.5)
        |    AS f_mad
        |  FROM dev d JOIN ms USING (event_type) JOIN mad USING (event_type)),
        |a AS (
        |  SELECT count(*) FILTER (f_z) AS nz,
        |  count(*) FILTER (f_iqr) AS ni,
        |  count(*) FILTER (f_mad) AS nm,
        |  count(*) FILTER (f_z AND f_iqr) AS bzi,
        |  count(*) FILTER (f_z AND f_mad) AS bzm,
        |  count(*) FILTER (f_iqr AND f_mad) AS bim
        |  FROM f),
        |u AS (
        |  SELECT 'iqr-mad' AS screen_pair, ni AS n_a, nm AS n_b, bim AS n_both
        |    FROM a
        |  UNION ALL SELECT 'z-iqr', nz, ni, bzi FROM a
        |  UNION ALL SELECT 'z-mad', nz, nm, bzm FROM a)
        |SELECT screen_pair, CAST(n_a AS BIGINT) AS n_a,
        |CAST(n_b AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both,
        |CASE WHEN n_a + n_b - n_both > 0
        |  THEN round(n_both * 1.0 / (n_a + n_b - n_both) + 1e-12, 6)
        |  ELSE 0.0 END AS jaccard
        |FROM u
        |ORDER BY screen_pair NULLS FIRST""".stripMargin,

    // same q171 transition counts, same n*1.0/n_from division, and the
    // 8 power-iteration matvecs unrolled as CTEs — each fold pinned to
    // the sorted from-type order (list_reduce over ORDER BY from_type),
    // matching the driver loop's sorted foldLeft bit-for-bit
    "q411_markov_stationary" -> {
      val iters = (1 to 8).map { i =>
        s"""p$i AS (
           |  SELECT t.to_type AS type,
           |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |    list(pi.pr * t.p ORDER BY t.from_type)), (a, x) -> a + x)
           |    AS pr
           |  FROM p${i - 1} pi JOIN trans t ON t.from_type = pi.type
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (
         |  SELECT event_type,
         |  lead(event_type) OVER (PARTITION BY user_id
         |    ORDER BY epoch_us(ts), event_id) AS to_type
         |  FROM events),
         |cnt AS (
         |  SELECT event_type AS from_type, to_type, count(*) AS n
         |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT from_type, sum(n) AS n_from FROM cnt GROUP BY 1),
         |trans AS (
         |  SELECT cnt.from_type, cnt.to_type, n * 1.0 / n_from AS p
         |  FROM cnt JOIN tot USING (from_type)),
         |states AS (SELECT DISTINCT from_type AS type FROM cnt),
         |p0 AS (
         |  SELECT type, 1.0 / (SELECT count(*) FROM states) AS pr
         |  FROM states),
         |$iters
         |SELECT s.type AS event_type,
         |CAST(t.n_from AS BIGINT) AS n_transitions_out,
         |round(coalesce(p8.pr, 0.0) + 1e-12, 6) AS stationary_p
         |FROM states s
         |JOIN tot t ON t.from_type = s.type
         |LEFT JOIN p8 ON p8.type = s.type
         |ORDER BY event_type NULLS FIRST""".stripMargin
    },

    "q412_event_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sizes AS (SELECT t, count(*) AS sz FROM tu GROUP BY 1),
        |inter AS (
        |  SELECT a.t AS t1, b.t AS t2, count(*) AS n_inter
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT t1, t2, CAST(n_inter AS BIGINT) AS n_inter,
        |CAST(s1.sz AS BIGINT) AS s1, CAST(s2.sz AS BIGINT) AS s2,
        |round(CAST(n_inter AS DOUBLE) / (s1.sz + s2.sz - n_inter) + 1e-12, 6)
        |  AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.t = t1
        |JOIN sizes s2 ON s2.t = t2
        |ORDER BY t1 NULLS FIRST, t2 NULLS FIRST""".stripMargin
  )

  /** q201's EWMA frame as shared oracle CTEs ending in
    * `frame(event_type, hr, c, ewma)` — reused by the q212 spike
    * drill-down so both oracles bin and smooth identically. A def,
    * not a val: the oracles map above interpolates it during
    * construction, and a val declared below it would still be null
    * at that point. */
  private def duckEwmaCtes: String =
    """hourly AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |  CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT event_type, unnest(generate_series(min(hr), max(hr))) AS hr
      |  FROM hourly GROUP BY event_type),
      |dense AS (
      |  SELECT g.event_type, g.hr, coalesce(h.c, 0) AS c
      |  FROM grid g LEFT JOIN hourly h
      |    ON h.event_type = g.event_type AND h.hr = g.hr),
      |gaps AS (SELECT unnest(generate_series(0, 47)) AS gap),
      |contrib AS (
      |  SELECT d.event_type, d.hr + g.gap AS hr,
      |  d.c * 0.3 * power(0.7, g.gap) AS wc,
      |  0.3 * power(0.7, g.gap) AS w
      |  FROM dense d, gaps g),
      |ewma AS (
      |  SELECT event_type, hr, sum(wc) / sum(w) AS ewma
      |  FROM contrib GROUP BY 1, 2),
      |frame AS (
      |  SELECT d.event_type, d.hr, d.c, e.ewma
      |  FROM dense d JOIN ewma e
      |    ON e.event_type = d.event_type AND e.hr = d.hr)""".stripMargin
}
