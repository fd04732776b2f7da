package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Q, Tables, r2, r6, r6n}

/** Round-9 inferential / decision statistics: Benford digit audit,
  * Gini concentration, Cramér–von Mises two-sample distance, Wald's
  * SPRT sequential decision, and score-calibration (reliability bins
  * + Brier components). Shared stances: integer or literal-embedded
  * constants wherever a boundary could flip cross-engine, GlobalRank
  * for anything cumulative (never an unpartitioned window), one
  * map-side-combined aggregate per scan.
  */
object Inference {

  /** Benford expected first-digit shares log10(1 + 1/d), computed
    * once on the driver and embedded as LITERALS in both engines (the
    * q44 hyperplane stance) — no cross-engine libm in any plan. */
  private val benford: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** First decimal digit of a positive double: floor to BIGINT, cast
    * to string, take the first character — INTEGER formatting is
    * exact and identical on any engine (it is float formatting that
    * differs), so no log10 and no division ladder is needed. (A
    * nested CASE halving ladder was tried first and REVERTED: each
    * level references its operand three times, so 18 textual levels
    * build a 3^18-node expression — the driver OOMs composing the
    * string.) */
  private def firstDigitSql(x: String): String =
    s"CAST(substr(CAST(CAST(floor($x) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)"

  private def firstDigitSpark(x: String): String =
    s"CAST(substring(CAST(CAST(floor($x) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"

  /** Wilcoxon signed-rank kernel over a long column `d` of paired
    * differences: zero diffs drop per the classic procedure; |d|
    * midranks ride ONE GlobalRank exchange DOUBLED so every rank sum
    * is an exact LONG (the q234 stance); the tie-corrected variance
    * is carried as its ×48 integer numerator. Returns one row
    * (n_pairs, w_plus, z) with z = (W+ − n(n+1)/4)/σ — with
    * w2 = 2·W+ that is (2·w2 − n(n+1))/(4σ); the null MEAN of w2 is
    * n(n+1)/2, subtracted ONCE (round-9 shipped it subtracted twice,
    * mirrored in the oracle so the gate stayed green while the
    * statistic was biased by −n(n+1)/(4σ); WilcoxonSpec now pins the
    * sign on known samples). Factored out of q312 so the kernel is
    * unit-testable on constructed diffs. */
  def wilcoxonSignedRank(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nz = pairs.filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"), signum(col("d")).cast("long").as("sg"))
    val g = nz.groupBy(col("ad"))
      .agg(count(lit(1)).as("nv"), count_if(col("sg") === 1).as("np"))
    val c = GlobalRank.withRunningSum(g, Seq(col("ad")), "nv", "cnv")
    // doubled midrank: 2r = 2·cnv − 2·nv + nv + 1 = 2cnv − nv + 1
    val mid2 = col("cnv") * 2 - col("nv") + 1
    c.agg(sum(col("nv")).as("n"),
        sum(col("np") * mid2).as("w2"),
        // tie fold in doubles BEFORE the cubes (ANSI long-overflow
        // stance; exact to 2^53, mirrored in the oracle)
        sum(col("nv").cast("double") * col("nv").cast("double") *
          col("nv").cast("double") - col("nv").cast("double")).as("tie3"))
      .select(col("n").as("n_pairs"),
        (col("w2").cast("double") / 2.0).as("w_plus_raw"),
        col("w2"), col("tie3"))
      .select(col("n_pairs"), r6n(col("w_plus_raw")).as("w_plus"),
        r6n((col("w2") * 2 - col("n_pairs") * (col("n_pairs") + 1)).cast("double") /
          (lit(4.0) * sqrt(
            (col("n_pairs").cast("double") * (col("n_pairs") + 1) *
              (col("n_pairs") * 2 + 1) * 2.0 - col("tie3")) /
              48.0))).as("z"))
  }

  val queries: Map[String, Q] = Map(

    /** Benford first-digit audit of order totals — the classic
      * fabricated-data / unit-mixing screen a DQ pipeline runs on any
      * financial column: organic multi-scale amounts follow
      * P(d) = log10(1+1/d); a flat or spiked digit histogram flags
      * synthetic, truncated, or re-priced data. The first digit
      * derives by INTEGER halving (no log10/format in-plan — a
      * near-power-of-ten float could round differently per engine);
      * the Benford expectations ride both plans as driver literals.
      * One scan, one 9-bucket combine: scan-speed at any corpus. */
    "q288_benford_audit" -> ((s: SparkSession, dir: String) => {
      val expCase = benford.foldLeft(lit(null).cast("double")) {
        case (acc, (d, p)) => when(col("digit") === d, lit(p)).otherwise(acc)
      }
      Tables(s, dir, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .select(expr(firstDigitSpark("o_totalprice")).as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("digit"), lit(1)))))
        .select(col("digit"), col("n"),
          r6n(col("n").cast("double") / col("total")).as("share"),
          r6(expCase).as("benford_share"),
          r6n(col("n").cast("double") / col("total") - expCase).as("deviation"))
        .orderBy(col("digit"))
    }),

    /** Gini concentration of customer revenue — the inequality scalar
      * behind quota, fraud, and dependency-risk reads ("12% of
      * customers are 60% of revenue"). Distributed exactly:
      * per-customer revenue (one map-side combine), a GLOBAL rank
      * over (revenue, custkey) via [[GlobalRank.withRowNumbers]] (one
      * range exchange, never a WindowExec funnel), then ONE aggregate
      * folds Σi·xᵢ, Σx, n into Gini = (2Σi·xᵢ − (n+1)Σx)/(nΣx); the
      * tie order can't matter (equal x swap freely in Σi·xᵢ). The
      * top-decile share reuses the same ranked rows with an integer
      * cut. */
    "q289_gini_concentration" -> ((s: SparkSession, dir: String) => {
      val rev = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val ranked = GlobalRank.withRowNumbers(rev,
        Seq(col("rev"), col("o_custkey")), "rn", Some("n"))
      ranked.agg(
          max(col("n")).as("n_customers"),
          sum(col("rev")).as("tot"),
          sum(col("rn").cast("double") * col("rev")).as("iwx"),
          sum(when(col("rn") > col("n") - expr("n DIV 10"), col("rev"))
            .otherwise(lit(0.0))).as("top_rev"))
        .select(col("n_customers"), r2(col("tot")).as("total_rev"),
          r6((lit(2.0) * col("iwx") -
            (col("n_customers") + 1).cast("double") * col("tot")) /
            (col("n_customers").cast("double") * col("tot"))).as("gini"),
          r6(col("top_rev") / col("tot")).as("top_decile_share"))
    }),

    /** Cramér–von Mises two-sample distance between error-event and
      * non-error value distributions — the L² companion to the KS
      * sup-norm (q33 family): T = (n·m/N²)·Σ_obs (F₁−F₂)², sensitive
      * to body-wide shifts KS's single supremum misses. Same
      * distributed shape as the KS/AUC rank machinery: one combined
      * count row per distinct value, BOTH cumulative counts in ONE
      * [[GlobalRank.withRunningSums]] exchange, one final fold. The
      * ecdf convention (right-continuous, evaluated at each
      * observation) is mirrored exactly in the oracle. */
    "q290_cvm_two_sample" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("value").cast("double").as("v"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      val g = ev.groupBy(col("v"))
        .agg(sum(col("e")).as("c1v"), count(lit(1)).as("cv"))
        .withColumn("c2v", col("cv") - col("c1v"))
      val c = GlobalRank.withRunningSums(g, Seq(col("v")),
        Seq("c1v" -> "f1", "c2v" -> "f2"))
      // the totals n1/n2 fold into the SAME aggregate via the
      // expansion Σcv(F1−F2)² = A/n1² − 2B/(n1n2) + C/n2² with
      // A=Σcv·f1², B=Σcv·f1·f2, C=Σcv·f2² — no totals broadcast, no
      // window funnel (the q138/q164 identity stance). Products go
      // through DOUBLE before multiplying (ANSI long-overflow guard,
      // exact to 2^53; op order mirrored in the oracle).
      val cd = (n: String) => col(n).cast("double")
      c.agg(sum(col("c1v")).as("n1"), sum(col("c2v")).as("n2"),
          sum(cd("cv") * cd("f1") * cd("f1")).as("a"),
          sum(cd("cv") * cd("f1") * cd("f2")).as("b"),
          sum(cd("cv") * cd("f2") * cd("f2")).as("cc"))
        .select(col("n1"), col("n2"),
          r6n((cd("n1") * cd("n2")) /
            ((cd("n1") + cd("n2")) * (cd("n1") + cd("n2"))) *
            (col("a") / (cd("n1") * cd("n1")) -
             lit(2.0) * col("b") / (cd("n1") * cd("n2")) +
             col("cc") / (cd("n2") * cd("n2")))).as("t_cvm"))
    }),

    /** Wald SPRT over the event stream, per type — the SEQUENTIAL
      * decision primitive (accept/reject with bounded error at the
      * earliest possible n) that batch tests can't give: testing
      * H₁: P(value > 50) = 0.6 vs H₀: 0.4 at α = β = 0.05, the
      * log-likelihood walk is ln(1.5)·(2S−n), so the WHOLE TEST IS AN
      * INTEGER WALK W = 2S−n with decision at the first |W| ≥ 8
      * (⌈ln19/ln1.5⌉) — no float anywhere, engine-proof by
      * construction. Per-type cumulative sums over (ts, event_id)
      * order ride ONE in-type [[GlobalRank.withRunningSums]] exchange
      * — never a per-type WindowExec funnel, which would put a fifth
      * of a 100 TB stream in one task. */
    "q291_sprt_sequential" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("ts"), col("event_id"),
          when(col("value") > 50.0, 1L).otherwise(-1L).as("step"),
          lit(1L).as("one"))
      val walk = GlobalRank.withRunningSums(ev,
          Seq(col("ts"), col("event_id")), Seq("step" -> "w", "one" -> "n"),
          Seq("t"))
        .select(col("t"), col("w"), col("n"))
      val hit = walk.filter(abs(col("w")) >= 8)
        .groupBy(col("t"))
        .agg(min(struct(col("n"), col("w"))).as("first"))
        .select(col("t"), col("first.n").as("n_at_decision"),
          col("first.w").as("w_at_decision"))
      walk.groupBy(col("t")).agg(count(lit(1)).as("n_events"))
        .join(hit, Seq("t"), "left")
        .select(col("t").as("event_type"), col("n_events"),
          coalesce(col("n_at_decision"), lit(0L)).as("n_at_decision"),
          coalesce(col("w_at_decision"), lit(0L)).as("w_at_decision"),
          when(col("w_at_decision") >= 8, "accept_h1")
            .when(col("w_at_decision") <= -8, "accept_h0")
            .otherwise("inconclusive").as("decision"))
        .orderBy(col("event_type"))
    }),

    /** Autocorrelation + Ljung-Box over the daily event-count series —
      * the time-series memory diagnostic behind seasonality and
      * forecasting choices (q275's seasonal-naive baseline assumes
      * lag-7 structure; this MEASURES it). The daily series is
      * calendar-bounded at any corpus volume (100 TB of events still
      * aggregates to #days rows), so it folds to ONE row whose array
      * column carries the day-ordered counts; all ten lags derive as
      * pure sequential HOF folds over that array (identical op order
      * to the oracle's list_reduce), and the Ljung-Box statistic
      * accumulates the same folds per prefix. One scan, one
      * calendar-bounded aggregate, a 10-row explode. */
    "q297_acf_ljungbox" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("c"))
      val series = daily.agg(expr(
        "transform(array_sort(collect_list(struct(day, c))), t -> t.c)").as("xs"))
      // element_at, NOT xs[i]: Spark's bracket indexing is 0-based
      // while the oracle's DuckDB lists are 1-based
      val acfOf = (k: String) =>
        s"""aggregate(transform(sequence(1, size(xs) - $k),
           |  i -> (element_at(xs, i) - m) * (element_at(xs, i + $k) - m)),
           |  0D, (a, x) -> a + x) / den""".stripMargin
      series
        .select(col("xs"), explode(expr("sequence(1, 10)")).as("lag"))
        .withColumn("m", expr(
          "aggregate(xs, 0D, (a, x) -> a + x) / size(xs)"))
        .withColumn("den", expr(
          "aggregate(transform(xs, x -> (x - m) * (x - m)), 0D, (a, x) -> a + x)"))
        .withColumn("acf", expr(acfOf("lag")))
        .withColumn("lb", expr(
          s"""cast(size(xs) as double) * (size(xs) + 2) *
             |aggregate(transform(sequence(1, lag),
             |  j -> (${acfOf("j")}) * (${acfOf("j")}) / (size(xs) - j)),
             |  0D, (a, x) -> a + x)""".stripMargin))
        .select(col("lag").cast("long").as("lag"),
          r6n(col("acf")).as("acf"), r6n(col("lb")).as("ljung_box"))
        .orderBy(col("lag"))
    }),

    /** k-anonymity / l-diversity audit — the privacy screen a
      * training-data pipeline runs before releasing joined user data:
      * under quasi-identifiers (nation, account-balance band), how
      * many equivalence classes are smaller than k (re-identifiable)
      * and how many rows they expose, for k ∈ {2, 5, 10}; plus the
      * l-diversity failure (classes with a single sensitive value —
      * here market segment — where membership leaks the attribute).
      * One QI combine bounded by the QI domain, a 3-way literal
      * explode, integer everything (FloatAudit-clean shares via
      * nudged rounding). */
    "q298_kanon_audit" -> ((s: SparkSession, dir: String) => {
      val groups = Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("band"),
          col("c_mktsegment").as("seg"))
        .groupBy(col("nat"), col("band"))
        .agg(count(lit(1)).as("sz"), countDistinct(col("seg")).as("nseg"))
      groups
        .select(col("sz"), col("nseg"), explode(expr("array(2, 5, 10)")).as("k"))
        .groupBy(col("k").cast("long").as("k"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("sz")).as("n_rows"),
          count_if(col("sz") < col("k")).as("groups_below_k"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          count_if(col("nseg") === 1).as("groups_l1"),
          sum(when(col("nseg") === 1, col("sz")).otherwise(0L)).as("rows_l1"))
        .select(col("k"), col("n_groups"), col("groups_below_k"),
          col("rows_at_risk"),
          r6n(col("rows_at_risk").cast("double") / col("n_rows"))
            .as("risk_share"),
          col("groups_l1"), col("rows_l1"))
        .orderBy(col("k"))
    }),

    /** Per-user action-mix entropy census — the bot/script screen: a
      * user whose events are one type has H = 0 (scripted), an
      * organic user mixes. H folds from integer counts by the
      * order-free identity H = ln(n) − (Σc·ln c)/n (one per-user
      * combine, no per-user float sum ordering to disagree on), and
      * the census keys on the INTEGER distinct-type count with mean-H
      * per class — no float banding boundary anywhere. */
    "q299_user_entropy" -> ((s: SparkSession, dir: String) => {
      val ut = Tables(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val perUser = ut.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_ev"),
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .as("clnc"))
        .select(col("user_id"), col("n_types"), col("n_ev"),
          (log(col("n_ev").cast("double")) -
            col("clnc") / col("n_ev").cast("double")).as("h"))
      perUser.groupBy(col("n_types"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("n_ev")).as("total_events"),
          r6(avg(col("h"))).as("mean_entropy"),
          r6(max(col("h"))).as("max_entropy"))
        .orderBy(col("n_types"))
    }),

    /** Inter-arrival burstiness per event type — Poisson-ness of the
      * arrival process (capacity planning reads assume CV ≈ 1;
      * CV ≫ 1 means bursts, CV ≪ 1 a scheduler): per-type
      * microsecond gaps between consecutive events. Per-type
      * consecutive pairing WITHOUT a per-type window funnel: each
      * event's within-type index is an in-type row number from ONE
      * [[GlobalRank.withRowNumbers]] exchange, and gaps come from the
      * (type, i) ⋈ (type, i+1) equi-join. Gap moments are integer
      * micros (mean gap an exact rational, nudged); CV passes
      * through one sqrt — off-grid, plain r6. */
    "q300_interarrival_burstiness" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type").as("t"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val idx = GlobalRank.withRowNumbers(ev,
          Seq(col("ts"), col("event_id")), "i", groupCols = Seq("t"))
        .select(col("t"), col("i"), col("us"))
      val gaps = idx.as("a")
        .join(idx.as("b"), col("a.t") === col("b.t") &&
          col("a.i") + 1 === col("b.i"))
        .select(col("a.t").as("t"), (col("b.us") - col("a.us")).as("g"))
      gaps.groupBy(col("t"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
          sum(col("g").cast("double") * col("g").cast("double")).as("sg2"))
        .select(col("t").as("event_type"), col("n_gaps"),
          // BIGINT micro mean: at 1e10-microsecond magnitudes a 6-dp
          // double round is below the ulp — integer division is the
          // engine-proof form (the q202 micro-ratio stance)
          expr("sg DIV n_gaps").as("mean_gap_us"),
          r6n(sqrt(col("sg2") / col("n_gaps") -
            (col("sg").cast("double") / col("n_gaps")) *
            (col("sg").cast("double") / col("n_gaps"))) /
            (col("sg").cast("double") / col("n_gaps"))).as("cv"))
        .orderBy(col("event_type"))
    }),

    /** Q-Q decile shift profile between document-corpus halves — the
      * drift LOCALIZER: KS/PSI say "the length distribution moved";
      * this says WHERE (per decile boundary, by how many characters).
      * A DISCRETE rank convention (value at rank ⌊p(n−1)⌋+1) keeps
      * every output an integer — no interpolation float, no
      * cross-engine quantile_cont op-order dependency, FloatAudit
      * clean. Per-half ranks and sizes from ONE range exchange
      * ([[GlobalRank.withRowNumbers]] within each half over
      * (half, value, id) — never a per-half WindowExec funnel). */
    "q301_qq_shift" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(2)).as("h"), col("n_chars"),
          col("doc_id"))
      val picks = GlobalRank.withRowNumbers(d,
          Seq(col("n_chars"), col("doc_id")), "r", Some("nh"), Seq("h"))
        .select(col("h"), col("n_chars"),
          explode(expr("sequence(1, 9)")).as("p"),
          col("r"), col("nh"))
        .filter(col("r") ===
          floor(col("p").cast("double") / 10.0 * (col("nh") - 1)).cast("long") + 1)
      picks.groupBy((col("p") * 10).cast("long").as("pct"))
        .agg(max(when(col("h") === 0, col("n_chars"))).as("q_even"),
          max(when(col("h") === 1, col("n_chars"))).as("q_odd"))
        .select(col("pct"), col("q_even"), col("q_odd"),
          (col("q_odd") - col("q_even")).as("shift"))
        .orderBy(col("pct"))
    }),

    /** Mann-Kendall trend test per event type — the significance
      * sibling of the suite's Theil-Sen slope (a slope without a
      * significance statement cannot gate an alert): S = Σ_{i<j}
      * sign(x_j − x_i) over the daily count series, tie-corrected
      * variance, z with the ±1 continuity correction. The pair grid
      * is span-bounded (the q256 Pettitt stance — O(span²) per type
      * regardless of corpus volume), S and the variance are EXACT
      * INTEGERS (var carried as its ×18 numerator), and the trend
      * flag compares the ROUNDED z in both engines. */
    "q305_mann_kendall" -> ((s: SparkSession, dir: String) => {
      val daily = Tables(s, dir, "events")
        .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c")).cache()
      val sTab = daily.as("a")
        .join(daily.as("b"),
          col("a.t") === col("b.t") && col("a.day") < col("b.day"))
        .groupBy(col("a.t").as("t"))
        .agg(sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"))
      val ties = daily.groupBy(col("t"), col("c")).agg(count(lit(1)).as("tc"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("nv"), sum(col("tc")).as("n"),
          sum(col("tc") * (col("tc") - 1) * (col("tc") * 2 + 5)).as("tieterm"))
      val z = {
        val varD = (col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
          col("tieterm")).cast("double") / 18.0
        when(col("s_stat") > 0, (col("s_stat") - 1).cast("double") / sqrt(varD))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double") / sqrt(varD))
          .otherwise(lit(0.0))
      }
      sTab.join(ties, "t")
        .select(col("t").as("event_type"), col("n").as("n_days"),
          col("s_stat"),
          (col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("tieterm"))
            .as("var18"),
          r6n(z).as("z"),
          (abs(r6n(z)) > 1.96).cast("long").as("trend"))
        .orderBy(col("event_type"))
    }),

    /** Join-key skew pre-flight — the shuffle-planning audit every
      * big join should run before it OOMs one reducer at 3 a.m.: for
      * each candidate lineitem join key, the group-size profile (max,
      * top-1 share, skew factor max/mean) that decides between a
      * plain hash join, AQE skew splitting, and salting. One
      * map-side-combined count per key + a bounded second-level fold,
      * tagged rows unioned — integers until the nudged ratios. */
    "q309_join_key_skew" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      def profile(key: String) =
        li.groupBy(col(key).as("k")).agg(count(lit(1)).as("g"))
          .agg(count(lit(1)).as("n_keys"), sum(col("g")).as("n_rows"),
            max(col("g")).as("max_group"))
          .select(lit(key).as("join_key"), col("n_keys"), col("n_rows"),
            col("max_group"),
            r6n(col("max_group").cast("double") / col("n_rows"))
              .as("top1_share"),
            r6n(col("max_group").cast("double") *
              col("n_keys").cast("double") / col("n_rows").cast("double"))
              .as("skew_factor"))
      Seq("l_orderkey", "l_partkey", "l_suppkey").map(profile)
        .reduce(_ unionAll _)
        .orderBy(col("join_key"))
    }),

    /** Correlation-structure drift between corpus halves — the
      * STRUCTURAL drift signal value-level tests never see: two
      * snapshots can hold every marginal fixed while the
      * relationship BETWEEN signals rewires (a new boilerplate
      * injector makes length stop tracking token count). Pearson r
      * for the three pairs of per-doc integer signals (chars,
      * tokens, distinct tokens), per half, from ONE aggregate
      * grouped by half (moment folds, doubles before products — the
      * ANSI overflow stance), then a 2-row pivot join and the per-pair
      * delta. Nudged integer rationals throughout. */
    "q311_correlation_drift" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(pmod(col("doc_id"), lit(2)).as("h"),
          col("n_chars").cast("double").as("x1"),
          size(split(col("text"), " ")).cast("double").as("x2"),
          size(array_distinct(split(col("text"), " "))).cast("double").as("x3"))
      def corrOf(a: String, b: String) = {
        val (n, sa, sb, sab, sa2, sb2) = (col("n"), col(s"s$a"), col(s"s$b"),
          col(s"s$a$b"), col(s"s$a$a"), col(s"s$b$b"))
        (n * sab - sa * sb) /
          nullif(sqrt((n * sa2 - sa * sa) * (n * sb2 - sb * sb)), lit(0.0))
      }
      val m = d.groupBy(col("h"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
          sum(col("x3")).as("sx3"),
          sum(col("x1") * col("x1")).as("sx1x1"),
          sum(col("x2") * col("x2")).as("sx2x2"),
          sum(col("x3") * col("x3")).as("sx3x3"),
          sum(col("x1") * col("x2")).as("sx1x2"),
          sum(col("x1") * col("x3")).as("sx1x3"),
          sum(col("x2") * col("x3")).as("sx2x3"))
        .select(col("h"),
          corrOf("x1", "x2").as("r12"), corrOf("x1", "x3").as("r13"),
          corrOf("x2", "x3").as("r23"))
      val rows = m.select(col("h"), explode(array(
          struct(lit("chars_tokens").as("pair"), col("r12").as("r")),
          struct(lit("chars_types").as("pair"), col("r13").as("r")),
          struct(lit("tokens_types").as("pair"), col("r23").as("r")))).as("t"))
        .select(col("h"), col("t.pair").as("pair"), col("t.r").as("r"))
      rows.groupBy(col("pair"))
        .agg(max(when(col("h") === 0, col("r"))).as("re"),
          max(when(col("h") === 1, col("r"))).as("ro"))
        .select(col("pair"), r6n(col("re")).as("r_even"),
          r6n(col("ro")).as("r_odd"),
          r6n(abs(col("re") - col("ro"))).as("abs_delta"))
        .orderBy(col("pair"))
    }),

    /** Wilcoxon signed-rank test on paired per-user activity — the
      * PAIRED member of the rank-test family (MW-U compares two
      * groups; this asks whether the SAME users shifted between their
      * own early and late halves, immune to between-user volume
      * skew). Each user's span midpoint comes from a user-keyed
      * aggregate (equi-join back — no global-scalar broadcast); zero
      * diffs drop per the classic procedure; |d| midranks ride ONE
      * GlobalRank exchange DOUBLED so every rank sum is an exact
      * LONG (the q234 stance); the tie-corrected variance is carried
      * as its ×48 integer numerator. */
    "q312_wilcoxon_signed" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val mids = ev.groupBy(col("user_id"))
        .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
        .select(col("user_id"), expr("(mn + mx) DIV 2").as("mid"))
      val pairs = ev.join(mids, "user_id")
        .groupBy(col("user_id"))
        .agg(count_if(col("us") <= col("mid")).as("x"),
          count_if(col("us") > col("mid")).as("y"))
        .select(col("user_id"), (col("y") - col("x")).as("d"))
      wilcoxonSignedRank(pairs)
    }),

    /** McNemar's test between two detector variants on the SAME
      * documents — the paired-binary comparison an unpaired
      * proportion test gets wrong (shared docs correlate the
      * errors): only the DISAGREEMENT cells matter, χ² with
      * continuity correction = (|b−c|−1)²/(b+c). Here: the q41
      * stop-ratio English detector at thresholds 0.04 vs 0.06. One
      * fused confusion aggregate; integer cells; nullif guards the
      * never-disagree degeneracy. */
    "q313_mcnemar" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select((col("lang") === "en").as("en"),
          (size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
            .cast("double") /
            size(split(col("text"), " ")).cast("double")).as("sr"))
        .select(((col("sr") >= 0.04) === col("en")).as("aok"),
          ((col("sr") >= 0.06) === col("en")).as("bok"))
      d.agg(count(lit(1)).as("n"),
          count_if(col("aok") && !col("bok")).as("b"),
          count_if(!col("aok") && col("bok")).as("c"))
        .select(col("n"), col("b"), col("c"),
          r6n((abs(col("b") - col("c")) - 1).cast("double") *
            (abs(col("b") - col("c")) - 1).cast("double") /
            nullif((col("b") + col("c")).cast("double"), lit(0.0)))
            .as("chi2_cc"))
    }),

    /** Stratification design effect — does sampling documents
      * proportionally BY SOURCE beat simple random sampling for
      * estimating mean length? DEFF = Σ W_h·S_h² / S² < 1 exactly
      * when sources differ in mean (between-source variance is
      * removed by the design) — the number that justifies (or
      * retires) a stratified q96-style sampler. One per-source
      * moment pass; the global terms fold from the SAME per-source
      * sums (no second scan, no broadcast); sample variances via
      * n/(n−1) corrections, single-doc strata contribute zero. */
    "q315_design_effect" -> ((s: SparkSession, dir: String) => {
      val per = Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("nh"), sum(col("n_chars").cast("double")).as("sh"),
          sum(col("n_chars").cast("double") * col("n_chars").cast("double"))
            .as("sh2"))
      per.agg(sum(col("nh")).as("n"), count(lit(1)).as("n_strata"),
          sum(col("sh")).as("sx"), sum(col("sh2")).as("sx2"),
          sum(when(col("nh") > 1,
            (col("sh2") - col("sh") * col("sh") / col("nh")) / (col("nh") - 1) *
              col("nh")).otherwise(lit(0.0))).as("wvar"))
        .select(col("n").as("n_docs"), col("n_strata"),
          r6n((col("sx2") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("s2_overall"),
          r6n(col("wvar") / col("n")).as("s2_within"),
          r6n(col("wvar") / col("n") /
            nullif((col("sx2") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1), lit(0.0))).as("deff"))
    }),

    /** Data-contract proposal — the profiling-to-governance bridge
      * the reference's healing loop closes by hand (its agent RELAXES
      * a violated contract; this PROPOSES one from the data, so the
      * first contract is evidence-based instead of guessed): per
      * numeric column, null fraction, discrete-rank p01/p99 (value at
      * rank ⌊p(n−1)⌋+1 — picked verbatim, no interpolation float),
      * and suggested bounds with a 10% span margin. Ranks ride one
      * GlobalRank range exchange per column; two columns union. */
    "q318_contract_proposal" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
      def propose(name: String, c: org.apache.spark.sql.Column) = {
        val vals = ev.select(c.cast("double").as("v"))
        val stats = vals.agg(count(lit(1)).as("n_rows"),
          count_if(col("v").isNull).as("n_null"))
        val nn = vals.filter(col("v").isNotNull)
        val ranked = GlobalRank.withRowNumbers(nn, Seq(col("v")), "rn", Some("nn"))
        val picks = ranked
          .select(col("v"), col("rn"),
            explode(expr("array(1, 99)")).as("p"), col("nn"))
          .filter(col("rn") ===
            floor(col("p").cast("double") / 100.0 * (col("nn") - 1)).cast("long") + 1)
          .agg(max(when(col("p") === 1, col("v"))).as("p01"),
            max(when(col("p") === 99, col("v"))).as("p99"))
        stats.crossJoin(picks)
          .select(lit(name).as("column"), col("n_rows"), col("n_null"),
            r6n(col("n_null").cast("double") / col("n_rows")).as("null_frac"),
            r6n(col("p01")).as("p01"), r6n(col("p99")).as("p99"),
            r6n(col("p01") - (col("p99") - col("p01")) * 0.1).as("sug_lo"),
            r6n(col("p99") + (col("p99") - col("p01")) * 0.1).as("sug_hi"),
            expr("n_rows DIV 2").as("sug_row_min"))
      }
      propose("value", col("value"))
        .unionAll(propose("user_id", col("user_id")))
        .orderBy(col("column"))
    }),

    /** Per-source sample-size planner — "how many documents must a QA
      * reviewer sample from each source to estimate mean length
      * within ±1% at 95%?": the CLT requirement n* = (1.96·CV/0.01)²
      * from the same one-pass moments as the design-effect audit,
      * next to the source's actual size — coverage < 1 flags sources
      * too small to certify at that precision at all. One grouped
      * moment pass; n* ceiling on an off-grid float; ratios nudged. */
    "q320_sample_size_plan" -> ((s: SparkSession, dir: String) => {
      val per = Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("double")).as("sx"),
          sum(col("n_chars").cast("double") * col("n_chars").cast("double"))
            .as("sx2"))
        .filter(col("n") > 1)
      val mean = col("sx") / col("n")
      val sd = sqrt((col("sx2") - col("sx") * col("sx") / col("n")) /
        (col("n") - 1))
      val nReq = ceil(pow(lit(1.96) * sd / mean / lit(0.01), 2.0)).cast("long")
      per.select(col("source"), col("n").as("n_docs"),
          r6n(mean).as("mean_chars"), r6n(sd / mean).as("cv"),
          nReq.as("n_required"),
          r6n(col("n").cast("double") / nReq.cast("double")).as("coverage"))
        .orderBy(col("source"))
    }),

    /** Score calibration audit — reliability bins + Brier components
      * for a deterministic logistic score of order value predicting
      * high priority: the "is this model's 0.7 actually 70%?" read
      * that AUC (q138) cannot give (AUC is rank-only; a miscalibrated
      * monotone score keeps its AUC). Bins cut on the r6-ROUNDED
      * score in BOTH engines so a last-ulp exp() difference cannot
      * flip a boundary (the cross-engine float-ranking rule applied
      * to binning). Per bin: volume, mean score (accumulated floats,
      * off-grid), empirical rate (integer rational, nudged), Brier
      * contribution. One scan, bounded combine. */
    "q292_brier_calibration" -> ((s: SparkSession, dir: String) => {
      val score = lit(1.0) /
        (lit(1.0) + exp(-(col("o_totalprice") / lit(100000.0) - lit(2.5))))
      val y = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
        .otherwise(0L)
      Tables(s, dir, "orders")
        .select(r6(score).as("s6"), y.as("y"),
          (score - y.cast("double")).as("err"))
        .select(least(floor(col("s6") * 10).cast("long"), lit(9L)).as("bin"),
          col("s6"), col("y"), (col("err") * col("err")).as("sq"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          r6n(avg(col("s6"))).as("mean_score"),
          r6n(avg(col("y").cast("double"))).as("event_rate"),
          r6(sum(col("sq"))).as("brier_sum"))
        .orderBy(col("bin"))
    }),

    /** Yuen's trimmed-mean two-sample test (20% trim) on doc length
      * between two sources — the ROBUST location comparison the
      * existing arsenal lacks: Welch (q166) is wrecked by the heavy
      * length tail, Mann-Whitney (q200) answers a stochastic-
      * dominance question, not "how far apart are the typical
      * lengths". Trimming is by RANK over a (value, doc_id) total
      * order — deterministic under ties — and in-group ranks and
      * sizes come from ONE GlobalRank range exchange (a window
      * partitioned on the handful of sources would funnel each group
      * through one task). The
      * winsorized variance folds as Σw/Σw² over CLAMPED INTEGER
      * lengths, so every input to the t and df formulas is an
      * integer-derived IEEE-exact double: the only float work is the
      * final division/sqrt chain, mirrored op-for-op in the oracle.
      * d_j = s²w·(n−1)/(h(h−1)) simplifies to (Σw²−(Σw)²/n)/(h(h−1))
      * — the shorter form both engines compute. */
    "q338_yuen_trimmed" -> ((s: SparkSession, dir: String) => {
      val d0 = Tables(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source").as("g"), col("n_chars").as("v"), col("doc_id"))
      val r = GlobalRank.withRowNumbers(d0,
          Seq(col("v"), col("doc_id")), "r", Some("n"), Seq("g"))
        .select(col("g"), col("v"), col("r"), col("n"),
          floor(col("n") / lit(5)).cast("long").as("k"))
      // clamp boundaries: the order statistics at rank k+1 and n-k
      val lo = r.filter(col("r") === col("k") + lit(1L))
        .select(col("g"), col("v").as("lov"))
      val hi = r.filter(col("r") === col("n") - col("k"))
        .select(col("g"), col("v").as("hiv"))
      val w = r.join(broadcast(lo), "g").join(broadcast(hi), "g")
        .select(col("g"), col("n"), col("k"),
          greatest(least(col("v"), col("hiv")), col("lov")).as("wv"),
          when(col("r") > col("k") && col("r") <= col("n") - col("k"),
            col("v")).as("tv"))
      val gstats = w.groupBy(col("g"))
        .agg(max(col("n")).as("n"), sum(col("tv")).as("ts"),
          count(col("tv")).as("h"),
          sum(col("wv")).as("sw"), sum(col("wv") * col("wv")).as("sw2"))
        .select(col("g"), col("n"), col("h"),
          (col("ts").cast("double") / col("h")).as("tm"),
          ((col("sw2").cast("double") - col("sw").cast("double") * col("sw") /
            col("n")) / (col("h") * (col("h") - lit(1L)))).as("d"))
      val a = gstats.filter(col("g") === "src0")
        .select(col("n").as("n_a"), col("h").as("h_a"),
          col("tm").as("tm_a"), col("d").as("d_a"))
      val b = gstats.filter(col("g") === "src1")
        .select(col("n").as("n_b"), col("h").as("h_b"),
          col("tm").as("tm_b"), col("d").as("d_b"))
      val se2 = col("d_a") + col("d_b")
      a.crossJoin(broadcast(b))
        .select(lit("src0").as("src_a"), lit("src1").as("src_b"),
          col("n_a"), col("h_a"), r6n(col("tm_a")).as("trimmed_mean_a"),
          col("n_b"), col("h_b"), r6n(col("tm_b")).as("trimmed_mean_b"),
          r6n((col("tm_a") - col("tm_b")) / sqrt(se2)).as("yuen_t"),
          r6n(se2 * se2 /
            (col("d_a") * col("d_a") / (col("h_a") - lit(1L)) +
             col("d_b") * col("d_b") / (col("h_b") - lit(1L)))).as("df_welch"))
    }),

    /** Exact 1-D Wasserstein-1 (earth-mover) distance between two
      * sources' doc-length distributions — the MAGNITUDE companion to
      * the KS screen (q136/q277 report the largest CDF gap; W1 =
      * ∫|F₁−F₂| reports how much mass must move how far, the number
      * a rebalancing decision actually needs). Construction: distinct
      * lengths with per-source counts, BOTH cumulative sums AND the
      * row index from ONE GlobalRank exchange (withRunningSums), the
      * successor value by an rn-keyed equi-join (no lead() window —
      * a global lead funnels everything through one task), and every
      * summand (value gap × |ca·N_b − cb·N_a|) an INTEGER-valued
      * double — the fold is order-independent-exact below 2^53
      * (gap·N₁·N₂ per term; at larger scales the same identity holds
      * in the oracle, so the gate would catch an overflow). KS rides
      * along from the same terms for one-query contrast. The totals
      * N_a, N_b ride the same exchange as the running sums. */
    "q346_wasserstein_lengths" -> ((s: SparkSession, dir: String) => {
      val g = Tables(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .groupBy(col("n_chars").as("v"))
        .agg(count_if(col("source") === "src0").as("na"),
          count_if(col("source") === "src1").as("nb"))
        .withColumn("one", lit(1L))
      val c = GlobalRank.withRunningSums(g, Seq(col("v")),
        Seq("na" -> "ca", "nb" -> "cb", "one" -> "rn"))
      val nxt = c.select(col("v").as("vn"), (col("rn") - lit(1L)).as("rn"))
      val dint = abs(col("ca").cast("double") * col("tnb") -
        col("cb").cast("double") * col("tna"))
      val terms = c.select(col("v"), col("ca"), col("cb"), col("rn"),
          col("ca_total").as("tna"), col("cb_total").as("tnb"))
        .join(nxt, "rn") // the max value has no successor row; its
        // |F1-F2| is identically 0, so dropping it changes nothing
        .select(((col("vn") - col("v")).cast("double") * dint).as("term"),
          dint.as("dint"), col("tna"), col("tnb"))
      terms.agg(max(col("tna")).as("tna"), max(col("tnb")).as("tnb"),
          count(lit(1)).as("n_steps"), sum(col("term")).as("st"),
          max(col("dint")).as("mx"))
        .select(col("tna").as("n_a"), col("tnb").as("n_b"), col("n_steps"),
          r6n(col("st") / (col("tna").cast("double") * col("tnb")))
            .as("w1_distance"),
          r6n(col("mx") / (col("tna").cast("double") * col("tnb")))
            .as("ks_d"))
    }),

    /** Expected calibration error of a scoring model — the audit a
      * quality-classifier gate needs BEFORE its scores can be read as
      * probabilities (q308's operating curve ranks thresholds; ECE
      * asks whether score 0.8 actually means 80%): a deterministic
      * logistic score (standardized o_totalprice) is binned into ten
      * confidence deciles and each bin compares mean confidence
      * against observed label frequency, ECE = Σ (n_b/N)·|acc−conf|.
      * One scan + a 10-row reliability table: the score needs the
      * ONE-ROW (μ, σ) fold (q136 bounded-BNLJ class), the ECE fold
      * crosses back as a second 1-row broadcast over the 10-row bin
      * table. Accuracy is an exact integer rational; mean confidence
      * and ECE are nudged-rounded libm folds. The label (order
      * fulfilled) is independent of the demo score's construction —
      * miscalibration here is EXPECTED and the point: the table is
      * the evidence a recalibration (Platt/isotonic) decision reads. */
    "q351_ece_calibration" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      val stats = o.agg(avg(col("o_totalprice")).as("mu"),
        stddev_samp(col("o_totalprice")).as("sd"))
      val scored = o.select(
          (col("o_orderstatus") === "F").cast("long").as("y"),
          col("o_totalprice"))
        .crossJoin(broadcast(stats))
        .select(col("y"), (lit(1.0) /
          (lit(1.0) + exp(-(col("o_totalprice") - col("mu")) / col("sd"))))
          .as("conf"))
      val bins = scored
        .groupBy(least(floor(col("conf") * 10), lit(9L)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n_orders"),
          avg(col("conf")).as("mconf"),
          avg(col("y").cast("double")).as("acc"))
        .cache()
      val ece = bins.agg((sum(col("n_orders") * abs(col("acc") - col("mconf")))
        / sum(col("n_orders"))).as("e"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n_orders"),
          r6n(col("mconf")).as("mean_conf"),
          r6n(col("acc")).as("accuracy"),
          r6n(abs(col("acc") - col("mconf"))).as("gap"),
          r6n(col("e")).as("ece"))
        .orderBy(col("bin"))
    }),

    /** Isotonic recalibration of the q351 reliability table — the
      * FIX the ECE audit motivates, WITHOUT an iterative PAV solver:
      * over the ≤10 occupied confidence bins, the isotonic fit has
      * the closed minimax form fit(b) = max_{i≤b} min_{j≥b}
      * avg(y over bins i..j), so the whole regression is two nested
      * folds over the bin grid. Everything after binning is EXACT
      * integer arithmetic: per-bin label sums and counts fold to
      * prefix arrays via the q177 collect-explode stance (the bin
      * table is domain-bounded at 10 rows — no window, no BNLJ), and
      * every candidate average is one IEEE division of exact longs,
      * so min/max comparisons are bit-identical cross-engine. Output:
      * per occupied bin, raw accuracy vs the (monotone by
      * construction) calibrated probability. */
    "q355_isotonic_calibration" -> ((s: SparkSession, dir: String) => {
      val o = Tables(s, dir, "orders")
      val stats = o.agg(avg(col("o_totalprice")).as("mu"),
        stddev_samp(col("o_totalprice")).as("sd"))
      val scored = o.select(
          (col("o_orderstatus") === "F").cast("long").as("y"),
          col("o_totalprice"))
        .crossJoin(broadcast(stats))
        .select(col("y"), (lit(1.0) /
          (lit(1.0) + exp(-(col("o_totalprice") - col("mu")) / col("sd"))))
          .as("conf"))
      val bins = scored
        .groupBy(least(floor(col("conf") * 10), lit(9L)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      bins
        .agg(sort_array(collect_list(struct(col("bin"), col("n"),
          col("sy")))).as("g"))
        .select(explode(expr(
          """transform(sequence(1, size(g)), b -> named_struct(
            |  'bin', g[b-1].bin, 'n_orders', g[b-1].n, 'sy', g[b-1].sy,
            |  'cal', array_max(transform(sequence(1, b), i ->
            |    array_min(transform(sequence(b, size(g)), j ->
            |      cast(aggregate(slice(g, i, j - i + 1), 0L,
            |             (a, x) -> a + x.sy) AS double) /
            |      cast(aggregate(slice(g, i, j - i + 1), 0L,
            |             (a, x) -> a + x.n) AS double)))))))"""
            .stripMargin)).as("t"))
        .select(col("t.bin").as("bin"), col("t.n_orders").as("n_orders"),
          r6n(col("t.sy").cast("double") / col("t.n_orders"))
            .as("accuracy"),
          r6n(col("t.cal")).as("calibrated"))
        .orderBy(col("bin"))
    }),

    /** Split-conformal prediction intervals with a coverage audit —
      * the DISTRIBUTION-FREE uncertainty contract (finite-sample
      * ≥ 90% coverage guarantee, no normality assumption — the
      * honest alternative when q201/q257's parametric bands are in
      * doubt): a per-type location model fits on one event slice,
      * the calibration slice's absolute residuals give q̂ = the
      * ⌈0.9·(n+1)⌉-th smallest score, and the held-out slice reports
      * empirical coverage of |v − m| ≤ q̂. The order statistic is
      * EXACT at scale: residuals round to the r6 grid (the
      * cross-engine float-ranking stance — everything after is
      * integer counting), the distinct-score grid gets ONE in-type
      * running sum over the (type, score) range order
      * ([[graft.ops.GlobalRank]]) — no per-type WindowExec funnel, no
      * O(distinct)-per-group percentile buffer. The conformal rank
      * ⌈0.9(n+1)⌉ is pure integer arithmetic in both engines. */
    "q356_conformal_coverage" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      e.filter(pmod(col("event_id"), lit(5)) === 0)
        .join(conformalModel(s, dir), "event_type")
        .select(col("event_type"), col("n_fit"), col("n_cal"),
          col("k_rank"), col("qhat"),
          r6n(abs(col("value") - col("mfit"))).as("st"))
        .groupBy(col("event_type"))
        .agg(max(col("n_fit")).as("n_fit"), max(col("n_cal")).as("n_cal"),
          max(col("k_rank")).as("k_rank"), max(col("qhat")).as("qhat"),
          count(lit(1)).as("n_test"),
          count_if(col("st") <= col("qhat")).as("n_covered"))
        .select(col("event_type"), col("n_fit"), col("n_cal"),
          col("k_rank"), col("qhat"), col("n_test"), col("n_covered"),
          r6n(col("n_covered").cast("double") / col("n_test"))
            .as("coverage"))
        .orderBy(col("event_type"))
    }),

    /** Empirical-Bayes (James-Stein) shrinkage of per-source means —
      * the partial-pooling estimate a mixture decision should read
      * instead of raw per-source averages (a 50-doc source's mean is
      * mostly noise; shrinkage pulls it toward the grand mean in
      * proportion to its noise share): one-way random-effects method
      * of moments, σ² from within-source scatter, τ² from the
      * between-source mean square over the unbalanced-design n₀,
      * weight w_s = τ²/(τ² + σ²/n_s). ONE corpus scan folds to
      * per-source (n, Σy, Σy²); every scalar after that derives from
      * the SOURCE-DOMAIN-bounded table via the q177 collect-explode
      * stance (sorted array, deterministic fold order — no 1-row
      * BNLJ, no window). Sums cast to double BEFORE the fold (the
      * round-8 2^53 stance); outputs are nudged-rounded folds. */
    "q357_james_stein" -> ((s: SparkSession, dir: String) => {
      val per = Tables(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("double").as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"))
      val w = col("tau2") / (col("tau2") + col("sig2") / col("x.n"))
      per
        .agg(sort_array(collect_list(struct(col("source"), col("n"),
          col("sy"), col("syy")))).as("g"))
        .select(col("g"),
          expr("aggregate(g, 0L, (a, x) -> a + x.n)").as("nn"),
          size(col("g")).cast("long").as("m"),
          expr("aggregate(g, 0D, (a, x) -> a + x.sy)").as("yy"),
          expr("aggregate(g, 0D, (a, x) -> a + (x.syy - x.sy * x.sy / x.n))")
            .as("ssw"),
          expr("aggregate(g, 0D, (a, x) -> a + x.sy * x.sy / x.n)").as("sb1"),
          expr("aggregate(g, 0D, (a, x) -> a + cast(x.n AS double) * x.n)")
            .as("sn2"))
        .select(col("g"),
          (col("yy") / col("nn")).as("grand"),
          (col("ssw") / (col("nn") - col("m"))).as("sig2"),
          (col("sb1") - col("yy") * col("yy") / col("nn")).as("ssb"),
          col("m"),
          ((col("nn") - col("sn2") / col("nn")) / (col("m") - lit(1L)))
            .as("n0"))
        .withColumn("tau2", greatest(lit(0.0),
          (col("ssb") / (col("m") - lit(1L)) - col("sig2")) / col("n0")))
        .select(explode(col("g")).as("x"), col("grand"), col("sig2"),
          col("tau2"))
        .select(col("x.source").as("source"), col("x.n").as("n"),
          r6n(col("x.sy") / col("x.n")).as("raw_mean"),
          r6n(w).as("shrink_weight"),
          r6n(w * (col("x.sy") / col("x.n")) +
            (lit(1.0) - w) * col("grand")).as("shrunk_mean"))
        .orderBy(col("source"))
    }),

    /** Neyman-optimal stratified sampling allocation — the labeling-
      * budget counterpart of q315 (which scores a DESIGN after the
      * fact) and q320 (which sizes a TOTAL): how to SPLIT a 1000-label
      * budget across sources, n_s ∝ N_s·σ_s, so the stratified mean's
      * variance is minimized — high-variance strata earn labels,
      * uniform boilerplate sources don't, and the boost-vs-
      * proportional column is the decision delta. One scan folds to
      * per-source (n, Σy, Σy²); σ_s uses the explicit moment formula
      * (NOT the builtin stddev — mirrored op order beats engine
      * aggregate internals), and the Σ N_t·σ_t normalizer folds over
      * the sorted SOURCE-DOMAIN-bounded array (q177 stance — no
      * 1-row BNLJ). Integer allocations via floor(x + 0.5) (the
      * cross-engine rounding stance). */
    "q359_neyman_allocation" -> ((s: SparkSession, dir: String) => {
      val B = 1000.0
      val per = Tables(s, dir, "documents")
        .select(col("source"), col("n_chars").cast("double").as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("source"), col("n"),
          sqrt((col("syy") - col("sy") * col("sy") / col("n")) /
            (col("n") - lit(1L))).as("sd"))
      val ns = col("x.n").cast("double") * col("x.sd")
      per
        .agg(sort_array(collect_list(struct(col("source"), col("n"),
          col("sd")))).as("g"))
        .select(col("g"),
          expr("aggregate(g, 0L, (a, x) -> a + x.n)").as("nn"),
          expr("aggregate(g, 0D, (a, x) -> a + cast(x.n AS double) * x.sd)")
            .as("z"))
        .select(explode(col("g")).as("x"), col("nn"), col("z"))
        .select(col("x.source").as("source"), col("x.n").as("n_docs"),
          r6n(col("x.sd")).as("sd"),
          r6n(ns / col("z")).as("neyman_share"),
          floor(lit(B) * (ns / col("z")) + lit(0.5)).cast("long")
            .as("alloc_neyman"),
          floor(lit(B) * col("x.n") / col("nn") + lit(0.5)).cast("long")
            .as("alloc_prop"),
          r6n((ns / col("z")) /
            (col("x.n").cast("double") / col("nn"))).as("boost"))
        .orderBy(col("source"))
    }),

    /** Huber M-estimator of location — the robust mean between q207's
      * MAD (discards everything past the fence) and the raw average
      * (lets one outlier own the estimate): three unrolled IRLS
      * rounds of w = min(1, c/|x − μ|), c = 1.345·(MAD/0.6745). The
      * 1.345 95%-efficiency constant is defined against a ROBUST
      * scale estimate — a classical stddev is itself inflated by the
      * outliers being downweighted, weakening the estimator exactly
      * under contamination — so the scale rides q207's MAD machinery
      * (two exact-quantile passes over the cached scan), falling back
      * to 1.345·σ only for degenerate types where MAD = 0 (> half the
      * values identical — the Huber ψ is flat there anyway). Each IRLS
      * round is one grouped aggregate + one broadcast join of the
      * per-type scalar table back onto the scan. The weight function
      * is CONTINUOUS in μ, so the last-ulp float-fold differences
      * between engines cannot flip any branch; the fixed 3-round
      * budget is mirrored in the oracle's unrolled CTEs. Output per
      * type: n, raw mean, Huber location, shift. */
    "q377_huber_location" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value")).cache()
      // materialize ONCE before the fan-out (round-17): SIX branches
      // read ev (the med rank pass, the deviation pass, base, three
      // IRLS re-aggregations) and AQE submits their leaf stages
      // together — each racing the unpopulated cache re-ran the scan
      // (the q231/q244 signature; ~60 stage-jobs for a 6-pass query)
      ev.count()
      // n/mu0/sd ride the median pass's grouped aggregate (round-17,
      // Quantiles extras — one fewer full pass over ev; count exact,
      // the float moments land on the r6 grid as before)
      val medx = Quantiles.exactQuantiles(ev, Seq("event_type"), "value",
        Seq("med" -> 0.5),
        Seq("n" -> count(lit(1)), "mu0" -> avg(col("_v")),
          "sd" -> stddev_pop(col("_v"))))
      val mad = Quantiles.exactQuantiles(
        ev.join(broadcast(medx.select(col("event_type"), col("med"))),
            "event_type")
          .select(col("event_type"), abs(col("value") - col("med")).as("adev")),
        Seq("event_type"), "adev", Seq("mad" -> 0.5))
      val base = medx
        .join(broadcast(mad), "event_type")
        .select(col("event_type"), col("n"), col("mu0"),
          when(col("mad") > 0, lit(1.345) * col("mad") / lit(0.6745))
            .otherwise(col("sd") * lit(1.345)).as("c"))
      // min(1, c/|d|) written branch-first so |d| = 0 never divides
      // (DuckDB double/0 is NaN, Spark's differs — neither is wanted);
      // at the |d| = c boundary both branches emit ~1, so a last-ulp
      // disagreement in c cannot move the estimate
      def w(mu: org.apache.spark.sql.Column) =
        when(abs(col("value") - mu) <= col("c"), lit(1.0))
          .otherwise(col("c") / abs(col("value") - mu))
      val it = (1 to 3).foldLeft(
          base.select(col("event_type"), col("c"), col("mu0").as("mu"))) {
        (cur, _) =>
          ev.join(broadcast(cur), "event_type")
            .groupBy(col("event_type"), col("c"))
            .agg((sum(w(col("mu")) * col("value")) / sum(w(col("mu"))))
              .as("mu"))
            .select(col("event_type"), col("c"), col("mu"))
      }
      base.join(it.select(col("event_type"), col("mu")), "event_type")
        .select(col("event_type"), col("n"),
          r6n(col("mu0")).as("mean_raw"),
          r6n(col("mu")).as("huber_mu"),
          r6n(col("mu") - col("mu0")).as("shift"))
        .orderBy(col("event_type"))
    }),

    /** CUPED variance reduction — the A/B-test power lever: per user,
      * the metric over the LATER half of the global time span is
      * adjusted by its own EARLIER-half covariate, and the closed
      * form var_adj = var_post·(1 − ρ²) reads off ONE user-level
      * moment fold (θ, both variances, and the reduction share from
      * the same six sums — no second scan, no residual pass). The
      * time midpoint is exact integer microseconds from the 1-row
      * span fold (q136 bounded-BNLJ class). Missing-period users
      * carry an exact 0 (standard CUPED: the covariate is defined
      * for everyone). */
    "q378_cuped" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
      val span = ev.agg(((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      val perUser = ev.crossJoin(broadcast(span))
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("us") < col("mid"), col("value"))),
            lit(0.0)).as("pre"),
          coalesce(sum(when(col("us") >= col("mid"), col("value"))),
            lit(0.0)).as("post"))
      perUser.agg(count(lit(1)).as("nu"),
          avg(col("pre")).as("mp"), avg(col("post")).as("mq"),
          covar_pop(col("pre"), col("post")).as("cv"),
          var_pop(col("pre")).as("vp"), var_pop(col("post")).as("vq"))
        .select(col("nu").as("n_users"),
          r6n(col("cv") / col("vp")).as("theta"),
          r6n(col("vq")).as("var_raw"),
          r6n(col("vq") - col("cv") * col("cv") / col("vp")).as("var_adj"),
          r6n(col("cv") * col("cv") / (col("vp") * col("vq")))
            .as("var_reduction"))
    }),

    /** Difference-in-differences — the quasi-experimental estimate a
      * rollout readout needs when treatment was not randomized over
      * time: deterministic treatment (user_id parity), pre/post by
      * the same global midpoint as q378, cell means from ONE fused
      * conditional aggregate, DiD = (T₂−T₁) − (C₂−C₁). Everything is
      * a single scan + the 1-row span fold. */
    "q379_diff_in_diff" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .select((col("user_id") % 2 === 0).as("treat"), col("value"),
          unix_micros(col("ts")).as("us"))
      val span = ev.agg(((min(col("us")) + max(col("us"))) / 2)
        .cast("long").as("mid"))
      def cell(t: Boolean, post: Boolean) = {
        val p = if (post) col("us") >= col("mid") else col("us") < col("mid")
        val f = (if (t) col("treat") else !col("treat")) && p
        (avg(when(f, col("value"))), count_if(f))
      }
      val ((tPost, nTPost), (tPre, nTPre)) = (cell(t = true, post = true),
        cell(t = true, post = false))
      val ((cPost, nCPost), (cPre, nCPre)) = (cell(t = false, post = true),
        cell(t = false, post = false))
      ev.crossJoin(broadcast(span))
        .agg(tPre.as("t_pre"), tPost.as("t_post"),
          cPre.as("c_pre"), cPost.as("c_post"),
          nTPre.as("n_t_pre"), nTPost.as("n_t_post"),
          nCPre.as("n_c_pre"), nCPost.as("n_c_post"))
        .select(r6n(col("t_pre")).as("t_pre"), r6n(col("t_post")).as("t_post"),
          r6n(col("c_pre")).as("c_pre"), r6n(col("c_post")).as("c_post"),
          col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
          r6n((col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
            .as("did"))
    }),

    /** Frequent event-type TRIGRAMS over per-user journeys — the
      * sequence-mining read behind "what do users actually DO in
      * order" (q226's Markov transitions are memoryless pairs; a
      * trigram separates browse→click→purchase from
      * click→browse→purchase): per user, the (ts, event_id)-ordered
      * action sequence folds to its consecutive type triples; output
      * is the top-20 by occurrence with distinct-user support.
      * Per-user sequence state is bounded by the per-user history
      * length (constant under the corpus-growth model — user
      * population scales, histories don't; the q128/sessionize
      * stance); the trigram key is a '>'-joined string so the
      * (count desc, trigram) cut is engine-portable. */
    "q398_event_trigrams" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), col("event_type"))
      val seqs = ev.groupBy(col("user_id"))
        .agg(expr(
          """transform(array_sort(collect_list(
            |  struct(us, event_id, event_type))), x -> x.event_type)"""
            .stripMargin).as("sq"))
      seqs.filter(size(col("sq")) >= 3)
        .select(col("user_id"), explode(expr(
          """transform(sequence(1, size(sq) - 2),
            |  i -> concat_ws('>', element_at(sq, i),
            |    element_at(sq, i + 1), element_at(sq, i + 2)))"""
            .stripMargin)).as("tri"))
        .groupBy(col("tri"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(desc("n_occurrences"), col("tri"))
        .limit(20)
    })
  )

  /** The split-conformal MODEL table (event_type, n_fit, mfit, n_cal,
    * k_rank, q̂) — the batch-calibrated artifact q356 evaluates and
    * [[graft.streaming.EventStreams.conformalCoverage]] serves live:
    * per-type location fit on the fit slice, the ⌈0.9(n+1)⌉-th
    * smallest r6-rounded calibration residual via ONE in-type
    * GlobalRank running sum over the (type, score) grid, whose type
    * total is n_cal (no per-type window funnel). */
  private[graft] def conformalModel(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val m = e.filter(pmod(col("event_id"), lit(5)).isin(1, 2, 3))
      .groupBy(col("event_type"))
      .agg(avg(col("value")).as("mfit"), count(lit(1)).as("n_fit"))
    val cal = e.filter(pmod(col("event_id"), lit(5)) === 4)
      .join(m, "event_type")
      .select(col("event_type"), r6n(abs(col("value") - col("mfit")))
        .as("sc"))
    val g = cal.groupBy(col("event_type"), col("sc"))
      .agg(count(lit(1)).as("cnt"))
    val qhat = graft.ops.GlobalRank.withRunningSum(
        g, Seq(col("sc")), "cnt", "cum", Seq("event_type"))
      .withColumnRenamed("cum_total", "n_cal")
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("event_type"))
      .agg(min(col("sc")).as("qhat"), max(col("n_cal")).as("n_cal"),
        max(col("k")).as("k_rank"))
    m.join(qhat, "event_type")
      .select(col("event_type"), col("n_fit"), col("mfit"),
        col("n_cal"), col("k_rank"), col("qhat"))
  }

  val oracles: Map[String, String] = Map(

    "q288_benford_audit" -> {
      val expCase = benford.map { case (d, p) =>
        s"WHEN digit = $d THEN CAST($p AS DOUBLE)" }.mkString(" ")
      s"""WITH d AS (
         |  SELECT ${firstDigitSql("o_totalprice")} AS digit
         |  FROM orders WHERE o_totalprice >= 1.0),
         |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |t AS (SELECT sum(n) AS total FROM g)
         |SELECT digit, n,
         |round(n * 1.0 / total + 1e-12, 6) AS share,
         |round(CASE $expCase END, 6) AS benford_share,
         |round(n * 1.0 / total - CASE $expCase END + 1e-12, 6) AS deviation
         |FROM g CROSS JOIN t
         |ORDER BY digit NULLS FIRST""".stripMargin
    },

    "q289_gini_concentration" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY 1),
        |r AS (
        |  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS rn,
        |  count(*) OVER () AS n
        |  FROM rev)
        |SELECT CAST(max(n) AS BIGINT) AS n_customers,
        |round(sum(rev), 2) AS total_rev,
        |round((2.0 * sum(rn * rev) - (max(n) + 1) * sum(rev))
        |  / (max(n) * sum(rev)), 6) AS gini,
        |round(sum(CASE WHEN rn > max_n - max_n // 10 THEN rev ELSE 0.0 END)
        |  / sum(rev), 6) AS top_decile_share
        |FROM (SELECT rev, rn, n, max(n) OVER () AS max_n FROM r)""".stripMargin,

    "q290_cvm_two_sample" ->
      """WITH ev AS (
        |  SELECT CAST(value AS DOUBLE) AS v,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS e
        |  FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT v, CAST(sum(e) AS BIGINT) AS c1v,
        |  CAST(count(*) AS BIGINT) AS cv
        |  FROM ev GROUP BY 1),
        |c AS (
        |  SELECT v, c1v, cv, cv - c1v AS c2v,
        |  sum(c1v) OVER (ORDER BY v) AS f1,
        |  sum(cv - c1v) OVER (ORDER BY v) AS f2
        |  FROM g),
        |f AS (
        |  SELECT CAST(sum(c1v) AS BIGINT) AS n1, CAST(sum(c2v) AS BIGINT) AS n2,
        |  sum(CAST(cv AS DOUBLE) * CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)) AS a,
        |  sum(CAST(cv AS DOUBLE) * CAST(f1 AS DOUBLE) * CAST(f2 AS DOUBLE)) AS b,
        |  sum(CAST(cv AS DOUBLE) * CAST(f2 AS DOUBLE) * CAST(f2 AS DOUBLE)) AS c2
        |  FROM c)
        |SELECT n1, n2,
        |round((n1 * 1.0 * n2) / ((n1 * 1.0 + n2) * (n1 * 1.0 + n2))
        |  * (a / (n1 * 1.0 * n1) - 2.0 * b / (n1 * 1.0 * n2)
        |     + c2 / (n2 * 1.0 * n2)) + 1e-12, 6) AS t_cvm
        |FROM f""".stripMargin,

    "q291_sprt_sequential" ->
      """WITH ev AS (
        |  SELECT event_type AS t, ts, event_id,
        |  CASE WHEN value > 50.0 THEN 1 ELSE -1 END AS step
        |  FROM events),
        |w AS (
        |  SELECT t,
        |  sum(step) OVER (PARTITION BY t ORDER BY ts, event_id) AS w,
        |  row_number() OVER (PARTITION BY t ORDER BY ts, event_id) AS n
        |  FROM ev),
        |hit AS (
        |  SELECT t, n AS n_at_decision, w AS w_at_decision FROM (
        |    SELECT t, n, w,
        |    row_number() OVER (PARTITION BY t ORDER BY n) AS rk
        |    FROM w WHERE abs(w) >= 8)
        |  WHERE rk = 1),
        |tot AS (SELECT t, CAST(count(*) AS BIGINT) AS n_events FROM ev GROUP BY 1)
        |SELECT tot.t AS event_type, n_events,
        |CAST(coalesce(n_at_decision, 0) AS BIGINT) AS n_at_decision,
        |CAST(coalesce(w_at_decision, 0) AS BIGINT) AS w_at_decision,
        |CASE WHEN w_at_decision >= 8 THEN 'accept_h1'
        |     WHEN w_at_decision <= -8 THEN 'accept_h0'
        |     ELSE 'inconclusive' END AS decision
        |FROM tot LEFT JOIN hit ON hit.t = tot.t
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q297_acf_ljungbox" -> {
      val acfOf = (k: String) =>
        s"""(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |  list_transform(generate_series(1, n - $k),
           |    i -> (xs[i] - m) * (xs[i + $k] - m))), (a, x) -> a + x) / den)""".stripMargin
      s"""WITH daily AS (
         |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS c
         |  FROM events GROUP BY 1),
         |s AS (SELECT list(c ORDER BY day) AS xs FROM daily),
         |l AS (SELECT unnest(generate_series(1, 10)) AS lag),
         |base AS (
         |  SELECT lag, xs, len(xs) AS n,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs), (a, x) -> a + x)
         |    / len(xs) AS m
         |  FROM s CROSS JOIN l),
         |wden AS (
         |  SELECT lag, xs, n, m,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(xs, x -> (x - m) * (x - m))), (a, x) -> a + x) AS den
         |  FROM base)
         |SELECT CAST(lag AS BIGINT) AS lag,
         |round(${acfOf("lag")} + 1e-12, 6) AS acf,
         |round(CAST(n AS DOUBLE) * (n + 2) *
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(1, lag),
         |      j -> ${acfOf("j")} * ${acfOf("j")} / (n - j))),
         |    (a, x) -> a + x) + 1e-12, 6) AS ljung_box
         |FROM wden
         |ORDER BY lag NULLS FIRST""".stripMargin
    },

    "q298_kanon_audit" ->
      """WITH g AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
        |  CAST(count(*) AS BIGINT) AS sz,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nseg
        |  FROM customer GROUP BY 1, 2),
        |e AS (SELECT sz, nseg, unnest([2, 5, 10]) AS k FROM g)
        |SELECT CAST(k AS BIGINT) AS k,
        |CAST(count(*) AS BIGINT) AS n_groups,
        |CAST(count(*) FILTER (sz < k) AS BIGINT) AS groups_below_k,
        |CAST(coalesce(sum(sz) FILTER (sz < k), 0) AS BIGINT) AS rows_at_risk,
        |round(coalesce(sum(sz) FILTER (sz < k), 0) * 1.0 / sum(sz) + 1e-12, 6)
        |  AS risk_share,
        |CAST(count(*) FILTER (nseg = 1) AS BIGINT) AS groups_l1,
        |CAST(coalesce(sum(sz) FILTER (nseg = 1), 0) AS BIGINT) AS rows_l1
        |FROM e GROUP BY 1
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q299_user_entropy" ->
      """WITH ut AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |pu AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS n_ev,
        |  ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h
        |  FROM ut GROUP BY 1)
        |SELECT n_types, CAST(count(*) AS BIGINT) AS n_users,
        |CAST(sum(n_ev) AS BIGINT) AS total_events,
        |round(avg(h), 6) AS mean_entropy,
        |round(max(h), 6) AS max_entropy
        |FROM pu GROUP BY 1
        |ORDER BY n_types NULLS FIRST""".stripMargin,

    "q300_interarrival_burstiness" ->
      """WITH idx AS (
        |  SELECT event_type AS t, epoch_us(ts) AS us,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY ts, event_id) AS i
        |  FROM events),
        |gaps AS (
        |  SELECT a.t, b.us - a.us AS g
        |  FROM idx a JOIN idx b ON a.t = b.t AND a.i + 1 = b.i),
        |m AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(g) AS BIGINT) AS sg,
        |  sum(CAST(g AS DOUBLE) * CAST(g AS DOUBLE)) AS sg2
        |  FROM gaps GROUP BY 1)
        |SELECT t AS event_type, n_gaps,
        |CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
        |round(sqrt(sg2 / n_gaps - (sg * 1.0 / n_gaps) * (sg * 1.0 / n_gaps))
        |  / (sg * 1.0 / n_gaps) + 1e-12, 6) AS cv
        |FROM m
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q301_qq_shift" ->
      """WITH d AS (
        |  SELECT doc_id % 2 AS h, n_chars, doc_id FROM documents),
        |r AS (
        |  SELECT h, n_chars,
        |  row_number() OVER (PARTITION BY h ORDER BY n_chars, doc_id) AS r,
        |  count(*) OVER (PARTITION BY h) AS nh
        |  FROM d),
        |picks AS (
        |  SELECT h, n_chars, p
        |  FROM r, unnest(generate_series(1, 9)) AS t(p)
        |  WHERE r = CAST(floor(p / 10.0 * (nh - 1)) AS BIGINT) + 1)
        |SELECT CAST(p * 10 AS BIGINT) AS pct,
        |CAST(max(CASE WHEN h = 0 THEN n_chars END) AS BIGINT) AS q_even,
        |CAST(max(CASE WHEN h = 1 THEN n_chars END) AS BIGINT) AS q_odd,
        |CAST(max(CASE WHEN h = 1 THEN n_chars END)
        |  - max(CASE WHEN h = 0 THEN n_chars END) AS BIGINT) AS shift
        |FROM picks GROUP BY 1
        |ORDER BY pct NULLS FIRST""".stripMargin,

    "q305_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT a.t, CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.t = b.t AND a.day < b.day
        |  GROUP BY 1),
        |ties AS (
        |  SELECT t, CAST(sum(tc) AS BIGINT) AS n,
        |  CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tieterm
        |  FROM (SELECT t, c, count(*) AS tc FROM daily GROUP BY 1, 2)
        |  GROUP BY 1),
        |j AS (
        |  SELECT st.t, s_stat, n,
        |  n * (n - 1) * (2 * n + 5) - tieterm AS var18
        |  FROM st JOIN ties ON ties.t = st.t)
        |SELECT t AS event_type, n AS n_days, s_stat,
        |CAST(var18 AS BIGINT) AS var18,
        |round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
        |           WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
        |           ELSE 0.0 END + 1e-12, 6) AS z,
        |CAST(CASE WHEN abs(round(CASE WHEN s_stat > 0
        |        THEN (s_stat - 1) / sqrt(var18 / 18.0)
        |      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
        |      ELSE 0.0 END + 1e-12, 6)) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS trend
        |FROM j
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q309_join_key_skew" -> {
      def prof(key: String) =
        s"""SELECT '$key' AS join_key, CAST(count(*) AS BIGINT) AS n_keys,
           |CAST(sum(g) AS BIGINT) AS n_rows, CAST(max(g) AS BIGINT) AS max_group,
           |round(max(g) * 1.0 / sum(g) + 1e-12, 6) AS top1_share,
           |round(max(g) * 1.0 * count(*) / sum(g) + 1e-12, 6) AS skew_factor
           |FROM (SELECT $key, count(*) AS g FROM lineitem GROUP BY 1)""".stripMargin
      s"""${prof("l_orderkey")}
         |UNION ALL
         |${prof("l_partkey")}
         |UNION ALL
         |${prof("l_suppkey")}
         |ORDER BY join_key NULLS FIRST""".stripMargin
    },

    "q311_correlation_drift" -> {
      def corr(a: String, b: String) =
        s"""(n * s$a$b - s$a * s$b)
           | / nullif(sqrt((n * s$a$a - s$a * s$a) * (n * s$b$b - s$b * s$b)), 0.0)"""
          .stripMargin.replace("\n", " ")
      s"""WITH d AS (
         |  SELECT doc_id % 2 AS h,
         |  CAST(n_chars AS DOUBLE) AS x1,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS x3
         |  FROM documents WHERE text IS NOT NULL),
         |m AS (
         |  SELECT h, CAST(count(*) AS DOUBLE) AS n,
         |  sum(x1) AS sx1, sum(x2) AS sx2, sum(x3) AS sx3,
         |  sum(x1 * x1) AS sx1x1, sum(x2 * x2) AS sx2x2, sum(x3 * x3) AS sx3x3,
         |  sum(x1 * x2) AS sx1x2, sum(x1 * x3) AS sx1x3, sum(x2 * x3) AS sx2x3
         |  FROM d GROUP BY 1),
         |c AS (
         |  SELECT h, ${corr("x1", "x2")} AS r12, ${corr("x1", "x3")} AS r13,
         |  ${corr("x2", "x3")} AS r23
         |  FROM m),
         |rows_ AS (
         |  SELECT h, 'chars_tokens' AS pair, r12 AS r FROM c
         |  UNION ALL SELECT h, 'chars_types', r13 FROM c
         |  UNION ALL SELECT h, 'tokens_types', r23 FROM c)
         |SELECT pair,
         |round(max(CASE WHEN h = 0 THEN r END) + 1e-12, 6) AS r_even,
         |round(max(CASE WHEN h = 1 THEN r END) + 1e-12, 6) AS r_odd,
         |round(abs(max(CASE WHEN h = 0 THEN r END)
         |  - max(CASE WHEN h = 1 THEN r END)) + 1e-12, 6) AS abs_delta
         |FROM rows_ GROUP BY 1
         |ORDER BY pair NULLS FIRST""".stripMargin
    },

    "q312_wilcoxon_signed" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |mids AS (
        |  SELECT user_id, (min(us) + max(us)) // 2 AS mid
        |  FROM ev GROUP BY 1),
        |pairs AS (
        |  SELECT e.user_id,
        |  CAST(count(*) FILTER (us > mid) AS BIGINT)
        |    - CAST(count(*) FILTER (us <= mid) AS BIGINT) AS d
        |  FROM ev e JOIN mids m ON m.user_id = e.user_id
        |  GROUP BY 1),
        |nz AS (SELECT abs(d) AS ad, sign(d) AS sg FROM pairs WHERE d <> 0),
        |g AS (
        |  SELECT ad, CAST(count(*) AS BIGINT) AS nv,
        |  CAST(count(*) FILTER (sg = 1) AS BIGINT) AS np
        |  FROM nz GROUP BY 1),
        |c AS (
        |  SELECT ad, nv, np, sum(nv) OVER (ORDER BY ad) AS cnv FROM g),
        |f AS (
        |  SELECT CAST(sum(nv) AS BIGINT) AS n,
        |  CAST(sum(np * (cnv * 2 - nv + 1)) AS BIGINT) AS w2,
        |  sum(CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE)
        |    - CAST(nv AS DOUBLE)) AS tie3
        |  FROM c)
        |SELECT n AS n_pairs,
        |round(w2 / 2.0 + 1e-12, 6) AS w_plus,
        |round((w2 * 2 - n * (n + 1)) * 1.0
        |  / (4.0 * sqrt((CAST(n AS DOUBLE) * (n + 1) * (n * 2 + 1) * 2.0 - tie3)
        |      / 48.0)) + 1e-12, 6) AS z
        |FROM f""".stripMargin,

    "q313_mcnemar" ->
      """WITH d AS (
        |  SELECT (lang = 'en') AS en,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 1.0
        |    / len(string_split(text, ' ')) AS sr
        |  FROM documents WHERE text IS NOT NULL),
        |cells AS (
        |  SELECT ((sr >= 0.04) = en) AS aok, ((sr >= 0.06) = en) AS bok FROM d)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |CAST(count(*) FILTER (aok AND NOT bok) AS BIGINT) AS b,
        |CAST(count(*) FILTER (NOT aok AND bok) AS BIGINT) AS c,
        |round((abs(count(*) FILTER (aok AND NOT bok)
        |    - count(*) FILTER (NOT aok AND bok)) - 1) * 1.0
        |  * (abs(count(*) FILTER (aok AND NOT bok)
        |    - count(*) FILTER (NOT aok AND bok)) - 1)
        |  / nullif(count(*) FILTER (aok AND NOT bok)
        |    + count(*) FILTER (NOT aok AND bok), 0) + 1e-12, 6) AS chi2_cc
        |FROM cells""".stripMargin,

    "q315_design_effect" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nh,
        |  sum(CAST(n_chars AS DOUBLE)) AS sh,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS sh2
        |  FROM documents GROUP BY 1),
        |f AS (
        |  SELECT CAST(sum(nh) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_strata,
        |  sum(sh) AS sx, sum(sh2) AS sx2,
        |  sum(CASE WHEN nh > 1
        |    THEN (sh2 - sh * sh / nh) / (nh - 1) * nh ELSE 0.0 END) AS wvar
        |  FROM per)
        |SELECT n AS n_docs, n_strata,
        |round((sx2 - sx * sx / n) / (n - 1) + 1e-12, 6) AS s2_overall,
        |round(wvar / n + 1e-12, 6) AS s2_within,
        |round(wvar / n / nullif((sx2 - sx * sx / n) / (n - 1), 0.0) + 1e-12, 6)
        |  AS deff
        |FROM f""".stripMargin,

    "q318_contract_proposal" -> {
      def prop(name: String, c: String) =
        s"""SELECT '$name' AS "column", n_rows, n_null,
           |round(n_null * 1.0 / n_rows + 1e-12, 6) AS null_frac,
           |round(p01 + 1e-12, 6) AS p01, round(p99 + 1e-12, 6) AS p99,
           |round(p01 - (p99 - p01) * 0.1 + 1e-12, 6) AS sug_lo,
           |round(p99 + (p99 - p01) * 0.1 + 1e-12, 6) AS sug_hi,
           |CAST(n_rows // 2 AS BIGINT) AS sug_row_min
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_null
           |  FROM events) s
           |CROSS JOIN (
           |  SELECT max(CASE WHEN p = 1 THEN v END) AS p01,
           |  max(CASE WHEN p = 99 THEN v END) AS p99
           |  FROM (
           |    SELECT v, rn, nn, p
           |    FROM (
           |      SELECT CAST($c AS DOUBLE) AS v,
           |      row_number() OVER (ORDER BY CAST($c AS DOUBLE)) AS rn,
           |      count(*) OVER () AS nn
           |      FROM events WHERE $c IS NOT NULL) r,
           |    unnest([1, 99]) AS t(p)
           |    WHERE rn = CAST(floor(p / 100.0 * (nn - 1)) AS BIGINT) + 1)) q"""
          .stripMargin
      s"""${prop("value", "value")}
         |UNION ALL
         |${prop("user_id", "user_id")}
         |ORDER BY "column" NULLS FIRST""".stripMargin
    },

    "q320_sample_size_plan" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(n_chars AS DOUBLE)) AS sx,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS sx2
        |  FROM documents GROUP BY 1
        |  HAVING count(*) > 1)
        |SELECT source, n AS n_docs,
        |round(sx / n + 1e-12, 6) AS mean_chars,
        |round(sqrt((sx2 - sx * sx / n) / (n - 1)) / (sx / n) + 1e-12, 6) AS cv,
        |CAST(ceil(pow(1.96 * sqrt((sx2 - sx * sx / n) / (n - 1))
        |  / (sx / n) / 0.01, 2.0)) AS BIGINT) AS n_required,
        |round(n * 1.0 / CAST(ceil(pow(1.96 * sqrt((sx2 - sx * sx / n) / (n - 1))
        |  / (sx / n) / 0.01, 2.0)) AS BIGINT) + 1e-12, 6) AS coverage
        |FROM per
        |ORDER BY source NULLS FIRST""".stripMargin,

    "q292_brier_calibration" ->
      """WITH s AS (
        |  SELECT round(1.0 / (1.0 + exp(-(o_totalprice / 100000.0 - 2.5))), 6)
        |    AS s6,
        |  1.0 / (1.0 + exp(-(o_totalprice / 100000.0 - 2.5))) AS sc,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END
        |    AS y
        |  FROM orders)
        |SELECT least(CAST(floor(s6 * 10) AS BIGINT), 9) AS bin,
        |CAST(count(*) AS BIGINT) AS n,
        |round(avg(s6) + 1e-12, 6) AS mean_score,
        |round(avg(y * 1.0) + 1e-12, 6) AS event_rate,
        |round(sum((sc - y) * (sc - y)), 6) AS brier_sum
        |FROM s GROUP BY 1
        |ORDER BY bin NULLS FIRST""".stripMargin,

    // same rank-trim construction: row_number over (v, doc_id) per
    // group, clamp at the k+1 / n-k order statistics, integer Σw/Σw²
    // winsorized fold, then the identical t/df division-sqrt chain
    "q338_yuen_trimmed" ->
      """WITH d AS (
        |  SELECT source AS g, n_chars AS v, doc_id
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |r AS (
        |  SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v, doc_id) AS r,
        |  count(*) OVER (PARTITION BY g) AS n
        |  FROM d),
        |k AS (SELECT g, v, r, n, n // 5 AS k FROM r),
        |lo AS (SELECT g, v AS lov FROM k WHERE r = k + 1),
        |hi AS (SELECT g, v AS hiv FROM k WHERE r = n - k),
        |w AS (
        |  SELECT k.g, k.n,
        |  greatest(least(k.v, hi.hiv), lo.lov) AS wv,
        |  CASE WHEN k.r > k.k AND k.r <= k.n - k.k THEN k.v END AS tv
        |  FROM k JOIN lo ON lo.g = k.g JOIN hi ON hi.g = k.g),
        |g1 AS (
        |  SELECT g, max(n) AS n, sum(tv) AS ts, count(tv) AS h,
        |  sum(wv) AS sw, sum(wv * wv) AS sw2
        |  FROM w GROUP BY 1),
        |s AS (
        |  SELECT g, n, h, CAST(ts AS DOUBLE) / h AS tm,
        |  (CAST(sw2 AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n) / (h * (h - 1))
        |    AS d
        |  FROM g1)
        |SELECT 'src0' AS src_a, 'src1' AS src_b,
        |CAST(a.n AS BIGINT) AS n_a, CAST(a.h AS BIGINT) AS h_a,
        |round(a.tm + 1e-12, 6) AS trimmed_mean_a,
        |CAST(b.n AS BIGINT) AS n_b, CAST(b.h AS BIGINT) AS h_b,
        |round(b.tm + 1e-12, 6) AS trimmed_mean_b,
        |round((a.tm - b.tm) / sqrt(a.d + b.d) + 1e-12, 6) AS yuen_t,
        |round((a.d + b.d) * (a.d + b.d)
        |  / (a.d * a.d / (a.h - 1) + b.d * b.d / (b.h - 1)) + 1e-12, 6)
        |  AS df_welch
        |FROM s a, s b WHERE a.g = 'src0' AND b.g = 'src1'""".stripMargin,

    // same distinct-value grid, cumulative counts, successor gap, and
    // integer-valued |ca·Nb − cb·Na| summands
    "q346_wasserstein_lengths" ->
      """WITH d AS (
        |  SELECT n_chars AS v, source FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |g AS (
        |  SELECT v, count(*) FILTER (source = 'src0') AS na,
        |  count(*) FILTER (source = 'src1') AS nb
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT v, sum(na) OVER (ORDER BY v) AS ca,
        |  sum(nb) OVER (ORDER BY v) AS cb,
        |  lead(v) OVER (ORDER BY v) AS vn
        |  FROM g),
        |tot AS (SELECT sum(na) AS tna, sum(nb) AS tnb FROM g),
        |t AS (
        |  SELECT (vn - v) * abs(CAST(ca AS DOUBLE) * tnb
        |    - CAST(cb AS DOUBLE) * tna) AS term,
        |  abs(CAST(ca AS DOUBLE) * tnb - CAST(cb AS DOUBLE) * tna) AS dint,
        |  tna, tnb
        |  FROM c, tot WHERE vn IS NOT NULL)
        |SELECT CAST(max(tna) AS BIGINT) AS n_a,
        |CAST(max(tnb) AS BIGINT) AS n_b,
        |CAST(count(*) AS BIGINT) AS n_steps,
        |round(sum(term) / (CAST(max(tna) AS DOUBLE) * max(tnb)) + 1e-12, 6)
        |  AS w1_distance,
        |round(max(dint) / (CAST(max(tna) AS DOUBLE) * max(tnb)) + 1e-12, 6)
        |  AS ks_d
        |FROM t""".stripMargin,

    // identical standardized-logistic score, decile binning, and
    // count-weighted |acc − conf| fold
    "q351_ece_calibration" ->
      """WITH s AS (
        |  SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
        |  FROM orders),
        |sc AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |  1.0 / (1.0 + exp(-(o_totalprice - mu) / sd)) AS conf
        |  FROM orders, s),
        |b AS (
        |  SELECT CAST(least(floor(conf * 10), 9) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  avg(conf) AS mconf, avg(CAST(y AS DOUBLE)) AS acc
        |  FROM sc GROUP BY 1),
        |e AS (
        |  SELECT sum(n_orders * abs(acc - mconf)) / sum(n_orders) AS ece
        |  FROM b)
        |SELECT bin, n_orders,
        |round(mconf + 1e-12, 6) AS mean_conf,
        |round(acc + 1e-12, 6) AS accuracy,
        |round(abs(acc - mconf) + 1e-12, 6) AS gap,
        |round(ece + 1e-12, 6) AS ece
        |FROM b, e ORDER BY bin NULLS FIRST""".stripMargin,

    // same binning, dense bin index, and the identical minimax
    // fit(b) = max_{i<=b} min_{j>=b} avg(i..j) over exact long sums
    "q355_isotonic_calibration" ->
      """WITH s AS (
        |  SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sd
        |  FROM orders),
        |sc AS (
        |  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |  1.0 / (1.0 + exp(-(o_totalprice - mu) / sd)) AS conf
        |  FROM orders, s),
        |b0 AS (
        |  SELECT CAST(least(floor(conf * 10), 9) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
        |  FROM sc GROUP BY 1),
        |b AS (
        |  SELECT bin, n, sy, row_number() OVER (ORDER BY bin) AS idx
        |  FROM b0),
        |seg AS (
        |  SELECT i.idx AS i, j.idx AS j,
        |  CAST(sum(k.sy) AS DOUBLE) / CAST(sum(k.n) AS DOUBLE) AS a
        |  FROM b i JOIN b j ON j.idx >= i.idx
        |  JOIN b k ON k.idx BETWEEN i.idx AND j.idx
        |  GROUP BY 1, 2),
        |mn AS (
        |  SELECT bb.idx AS bidx, seg.i AS i, min(seg.a) AS mnv
        |  FROM b bb JOIN seg ON seg.i <= bb.idx AND seg.j >= bb.idx
        |  GROUP BY 1, 2),
        |cal AS (SELECT bidx, max(mnv) AS cal FROM mn GROUP BY 1)
        |SELECT b.bin, b.n AS n_orders,
        |round(CAST(b.sy AS DOUBLE) / b.n + 1e-12, 6) AS accuracy,
        |round(cal.cal + 1e-12, 6) AS calibrated
        |FROM b JOIN cal ON cal.bidx = b.idx
        |ORDER BY bin NULLS FIRST""".stripMargin,

    // same slice rule, r6-rounded residual grid, per-type rank via
    // the window cumsum, and the integer ⌈0.9(n+1)⌉ conformal rank
    "q356_conformal_coverage" ->
      """WITH m AS (
        |  SELECT event_type, avg(value) AS mfit,
        |  CAST(count(*) AS BIGINT) AS n_fit
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id % 5 IN (1, 2, 3)
        |  GROUP BY 1),
        |cal AS (
        |  SELECT e.event_type, round(abs(value - mfit) + 1e-12, 6) AS sc
        |  FROM events e JOIN m USING (event_type)
        |  WHERE value IS NOT NULL AND event_id % 5 = 4),
        |g AS (SELECT event_type, sc, count(*) AS cnt FROM cal GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, sc, cnt,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY sc) AS rk
        |  FROM g),
        |b AS (
        |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_cal,
        |  CAST((9 * (sum(cnt) + 1) + 9) // 10 AS BIGINT) AS k
        |  FROM g GROUP BY 1),
        |q AS (
        |  SELECT c.event_type, min(sc) AS qhat, max(b.n_cal) AS n_cal,
        |  max(b.k) AS k_rank
        |  FROM c JOIN b USING (event_type)
        |  WHERE c.rk >= b.k GROUP BY 1),
        |t AS (
        |  SELECT e.event_type, round(abs(value - mfit) + 1e-12, 6) AS st
        |  FROM events e JOIN m USING (event_type)
        |  WHERE value IS NOT NULL AND event_id % 5 = 0)
        |SELECT q.event_type, m.n_fit, q.n_cal, q.k_rank, q.qhat AS qhat,
        |CAST(count(*) AS BIGINT) AS n_test,
        |CAST(count_if(st <= qhat) AS BIGINT) AS n_covered,
        |round(count_if(st <= qhat) * 1.0 / count(*) + 1e-12, 6) AS coverage
        |FROM t
        |JOIN q USING (event_type) JOIN m USING (event_type)
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY q.event_type NULLS FIRST""".stripMargin,

    // same per-source (n, Σy, Σy²) fold, the same method-of-moments
    // σ²/τ²/n₀ scalars, and the identical w·raw + (1−w)·grand combine
    "q357_james_stein" ->
      """WITH p AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(n_chars AS DOUBLE)) AS sy,
        |  sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS syy
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(count(*) AS BIGINT) AS m, sum(sy) AS yy,
        |  sum(syy - sy * sy / n) AS ssw,
        |  sum(sy * sy / n) AS sb1,
        |  sum(CAST(n AS DOUBLE) * n) AS sn2 FROM p),
        |sc AS (
        |  SELECT nn, m, yy / nn AS grand, ssw / (nn - m) AS sig2,
        |  sb1 - yy * yy / nn AS ssb,
        |  (nn - sn2 / nn) / (m - 1) AS n0 FROM t),
        |sc2 AS (
        |  SELECT *, greatest(0, (ssb / (m - 1) - sig2) / n0) AS tau2
        |  FROM sc)
        |SELECT p.source, p.n,
        |round(p.sy / p.n + 1e-12, 6) AS raw_mean,
        |round(tau2 / (tau2 + sig2 / p.n) + 1e-12, 6) AS shrink_weight,
        |round(tau2 / (tau2 + sig2 / p.n) * (p.sy / p.n)
        |  + (1 - tau2 / (tau2 + sig2 / p.n)) * grand + 1e-12, 6)
        |  AS shrunk_mean
        |FROM p, sc2 ORDER BY p.source NULLS FIRST""".stripMargin,

    // identical explicit-moment σ, N·σ normalizer, and floor(x + 0.5)
    // integer allocations
    "q359_neyman_allocation" ->
      """WITH p AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  sqrt((sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE))
        |    - sum(CAST(n_chars AS DOUBLE)) * sum(CAST(n_chars AS DOUBLE))
        |      / count(*)) / (count(*) - 1)) AS sd
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  sum(CAST(n AS DOUBLE) * sd) AS z FROM p)
        |SELECT p.source, p.n AS n_docs,
        |round(sd + 1e-12, 6) AS sd,
        |round(CAST(p.n AS DOUBLE) * sd / z + 1e-12, 6) AS neyman_share,
        |CAST(floor(1000.0 * (CAST(p.n AS DOUBLE) * sd / z) + 0.5)
        |  AS BIGINT) AS alloc_neyman,
        |CAST(floor(1000.0 * p.n / nn + 0.5) AS BIGINT) AS alloc_prop,
        |round((CAST(p.n AS DOUBLE) * sd / z)
        |  / (CAST(p.n AS DOUBLE) / nn) + 1e-12, 6) AS boost
        |FROM p, t ORDER BY p.source NULLS FIRST""".stripMargin,

    // the same c = 1.345*sigma, the same branch-first weight (no
    // division at |d| = 0), three unrolled IRLS rounds
    "q377_huber_location" -> {
      def round(prev: String, out: String) =
        s"""$out AS (
           |  SELECT e.event_type, b.c,
           |  sum(CASE WHEN abs(e.value - $prev.mu) <= b.c THEN 1.0
           |      ELSE b.c / abs(e.value - $prev.mu) END * e.value)
           |  / sum(CASE WHEN abs(e.value - $prev.mu) <= b.c THEN 1.0
           |      ELSE b.c / abs(e.value - $prev.mu) END) AS mu
           |  FROM e
           |  JOIN b ON b.event_type = e.event_type
           |  JOIN $prev ON $prev.event_type = e.event_type
           |  GROUP BY e.event_type, b.c)""".stripMargin
      s"""WITH e AS (
         |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
         |md AS (
         |  SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM e GROUP BY 1),
         |ma AS (
         |  SELECT e.event_type, quantile_cont(abs(e.value - md.med), 0.5) AS mad
         |  FROM e JOIN md ON md.event_type = e.event_type GROUP BY 1),
         |b AS (
         |  SELECT e.event_type, count(*) AS n, avg(e.value) AS mu0,
         |  CASE WHEN max(ma.mad) > 0 THEN 1.345 * max(ma.mad) / 0.6745
         |       ELSE stddev_pop(e.value) * 1.345 END AS c
         |  FROM e JOIN ma ON ma.event_type = e.event_type GROUP BY 1),
         |i0 AS (SELECT event_type, c, mu0 AS mu FROM b),
         |${round("i0", "i1")},
         |${round("i1", "i2")},
         |${round("i2", "i3")}
         |SELECT b.event_type, CAST(b.n AS BIGINT) AS n,
         |round(b.mu0 + 1e-12, 6) AS mean_raw,
         |round(i3.mu + 1e-12, 6) AS huber_mu,
         |round(i3.mu - b.mu0 + 1e-12, 6) AS shift
         |FROM b JOIN i3 ON i3.event_type = b.event_type
         |ORDER BY b.event_type NULLS FIRST""".stripMargin
    },

    // the same integer-microsecond midpoint, per-user pre/post sums
    // with exact zeros, the one-fold closed form
    "q378_cuped" ->
      """WITH e AS (
        |  SELECT user_id, value, epoch_us(ts) AS us FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |u AS (
        |  SELECT user_id,
        |  coalesce(sum(value) FILTER (us < m.mid), 0.0) AS pre,
        |  coalesce(sum(value) FILTER (us >= m.mid), 0.0) AS post
        |  FROM e, m GROUP BY 1),
        |a AS (
        |  SELECT count(*) AS nu,
        |  covar_pop(pre, post) AS cv,
        |  var_pop(pre) AS vp, var_pop(post) AS vq
        |  FROM u)
        |SELECT CAST(nu AS BIGINT) AS n_users,
        |round(cv / vp + 1e-12, 6) AS theta,
        |round(vq + 1e-12, 6) AS var_raw,
        |round(vq - cv * cv / vp + 1e-12, 6) AS var_adj,
        |round(cv * cv / (vp * vq) + 1e-12, 6) AS var_reduction
        |FROM a""".stripMargin,

    // the same parity treatment, the same midpoint, one fused
    // conditional aggregate
    "q379_diff_in_diff" ->
      """WITH e AS (
        |  SELECT (user_id % 2 = 0) AS treat, value, epoch_us(ts) AS us
        |  FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
        |a AS (
        |  SELECT
        |  avg(value) FILTER (treat AND us < m.mid) AS t_pre,
        |  avg(value) FILTER (treat AND us >= m.mid) AS t_post,
        |  avg(value) FILTER (NOT treat AND us < m.mid) AS c_pre,
        |  avg(value) FILTER (NOT treat AND us >= m.mid) AS c_post,
        |  count(*) FILTER (treat AND us < m.mid) AS n_t_pre,
        |  count(*) FILTER (treat AND us >= m.mid) AS n_t_post,
        |  count(*) FILTER (NOT treat AND us < m.mid) AS n_c_pre,
        |  count(*) FILTER (NOT treat AND us >= m.mid) AS n_c_post
        |  FROM e, m)
        |SELECT round(t_pre + 1e-12, 6) AS t_pre,
        |round(t_post + 1e-12, 6) AS t_post,
        |round(c_pre + 1e-12, 6) AS c_pre,
        |round(c_post + 1e-12, 6) AS c_post,
        |CAST(n_t_pre AS BIGINT) AS n_t_pre,
        |CAST(n_t_post AS BIGINT) AS n_t_post,
        |CAST(n_c_pre AS BIGINT) AS n_c_pre,
        |CAST(n_c_post AS BIGINT) AS n_c_post,
        |round((t_post - t_pre) - (c_post - c_pre) + 1e-12, 6) AS did
        |FROM a""".stripMargin,

    // the same (ts, event_id)-ordered per-user sequences, the same
    // '>'-joined trigram keys, the same (count desc, trigram) cut
    "q398_event_trigrams" ->
      """WITH s AS (
        |  SELECT user_id,
        |  list(event_type ORDER BY epoch_us(ts), event_id) AS sq
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT user_id,
        |  unnest(list_transform(generate_series(1, len(sq) - 2),
        |    i -> sq[i] || '>' || sq[i + 1] || '>' || sq[i + 2])) AS tri
        |  FROM s WHERE len(sq) >= 3)
        |SELECT tri, CAST(count(*) AS BIGINT) AS n_occurrences,
        |CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM t GROUP BY 1
        |ORDER BY n_occurrences DESC, tri LIMIT 20""".stripMargin
  )
}
