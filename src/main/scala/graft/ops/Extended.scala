package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables, r2, r4, r6, r2n, r4n, r6n}

/** Extended operator coverage: pivot, SQL-surface queries (scalar +
  * EXISTS subqueries through spark.sql), explicit GROUPING SETS,
  * approximate distinct (HLL), and embedding near-dup pairs.
  */
object Extended {


  val queries: Map[String, Q] = Map(

    /** Pivot: order counts by status × priority. Pivot values are
      * declared explicitly — at scale an implicit pivot would need a
      * distinct-collect driver roundtrip; declaring them keeps the plan
      * a single pass. */
    "q47_pivot" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("n_urgent"),
          coalesce(col("2-HIGH"), lit(0L)).as("n_high"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("n_medium"),
          coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("n_notspec"),
          coalesce(col("5-LOW"), lit(0L)).as("n_low"))
        .orderBy(col("o_orderstatus"))
    }),

    /** SQL surface: scalar subquery + correlated EXISTS, executed via
      * spark.sql over registered views (Catalyst decorrelates the
      * EXISTS into a left-semi join — same plan as q05's DataFrame
      * form). */
    "q48_sql_subquery" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders").createOrReplaceTempView("v_orders")
      Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |round(sum(o_totalprice), 2) AS sum_price
          |FROM v_orders
          |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM v_orders)
          |  AND EXISTS (SELECT 1 FROM v_lineitem
          |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    }),

    /** Explicit GROUPING SETS with grouping_id — beyond rollup/cube. */
    "q49_grouping_sets" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |cast(grouping(l_returnflag) AS BIGINT) AS g_flag,
          |cast(grouping(l_linestatus) AS BIGINT) AS g_status,
          |count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
          |FROM v_lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    /** HLL approximate distinct vs exact — rows-only check (HLL sketch
      * values are engine-specific by design); the spec asserts the
      * relative error bound instead. */
    /** HLL++ distinct estimate vs exact. The sketch value itself is
      * engine-specific, so the oracle checks what IS cross-engine
      * checkable: the exact count (DuckDB recomputes it) and that the
      * estimate lands within 3× the declared 2% rsd of that exact
      * count (the oracle pins `within_bound = true` — a fair assertion
      * against DuckDB's independently computed ground truth). */
    "q50_approx_distinct" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) /
            col("exact_parts") <= 0.06).as("within_bound"))
        .orderBy(col("l_returnflag"))
    }),

    /** The SKETCH path to quantiles — approx_percentile's
      * PercentileDigest is a mergeable bounded-size sketch (the
      * map-side combine / executor-merge shape that costs one narrow
      * pass at any scale), complementing the exact two-phase rank path
      * of q55. Like q50's HLL: the oracle recomputes the exact
      * quantile independently and asserts the sketch landed within
      * the accuracy bound (relative rank error 1/accuracy = 1% of the
      * value RANGE; asserted via the value band of ranks ±3% around
      * the target — generous but engine-fair). */
    "q112_sketch_percentiles" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
      val sketch = li.groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 100)").as("ap"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("p50a"), element_at(col("ap"), 2).as("p95a"))
      val bands = Quantiles.exactQuantiles(li, Seq("l_returnflag"), "l_extendedprice",
        Seq("p47" -> 0.47, "p53" -> 0.53, "p92" -> 0.92, "p98" -> 0.98))
      sketch.join(bands, Seq("l_returnflag"))
        .select(col("l_returnflag"),
          (col("p50a") >= col("p47") && col("p50a") <= col("p53")).as("p50_within"),
          (col("p95a") >= col("p92") && col("p95a") <= col("p98")).as("p95_within"))
        .orderBy(col("l_returnflag"))
    }),

    /** Equi-width value histogram — the profiling shape for numeric
      * columns: ONE pass, bucket index from closed-form arithmetic
      * (floor over fixed bounds, clamped tails), map-side combined so
      * the shuffle is 22 rows at any scale. Fixed bounds beat a
      * min/max pre-pass at 100 TB (one scan instead of two); out-of-
      * range values land in the clamp buckets, which double as the
      * "your assumed range is wrong" signal. */
    "q116_value_histogram" -> ((s: SparkSession, dir: String) => {
      val bucket = least(greatest(
        floor((col("value") + lit(100.0)) / lit(10.0)), lit(-1.0)), lit(20.0))
        .cast("long")
      Tables(s, dir, "events")
        .select(col("value"), bucket.as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"))
        .orderBy(col("bucket"))
    }),

    /** Multi-table analytic join (TPC-H Q3 shape): a 3-table
      * filter-join-aggregate-topk where the value at 100 TB is what
      * Catalyst does unprompted — both dimension filters pushed into
      * the scans, the join keyed on orderkey with the SMALLER filtered
      * side build-hashed, aggregation partially applied map-side, and
      * the top 10 via TakeOrderedAndProject (never a global sort). */
    "q113_ship_priority" -> ((s: SparkSession, dir: String) => {
      val cust = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ords = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15 00:00:00")))
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      cust.join(ords, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    /** Skew-proof aggregation via salting ([[Salting.saltedSumCount]]):
      * groupBy(key) decomposed into groupBy(key, salt).partial →
      * groupBy(key).final. events.event_type has ~5 values over the
      * whole table — exactly the hot-key shape where a plain groupBy
      * makes 5 straggler reduce tasks at 100 TB while every other core
      * idles; the salt spreads each key over 16 partials first. Result
      * is bit-identical in the integer count and round-stable in the
      * double sum (algebraic aggregates only). */
    "q114_salted_agg" -> ((s: SparkSession, dir: String) => {
      Salting.saltedSumCount(
          Tables(s, dir, "events").select(col("event_type"), col("value")),
          "event_type", "value")
        .select(col("event_type"), round(col("total"), 2).as("total"), col("n"),
          round(col("total") / col("n"), 6).as("avg_value"))
        .orderBy(col("event_type"))
    }),

    /** Exact weighted quantiles ([[Quantiles.weightedQuantiles]]):
      * type-1 weighted p50/p90 of event value with integer importance
      * weights — the cutoff computation behind importance-weighted
      * quota sampling. Weighted ranks run on the same bounded-state
      * two-phase machinery as q55 (the per-(partition, group) offset
      * table is ≤ partitions + groups − 1 rows because groups are
      * contiguous under range partitioning). */
    "q120_weighted_quantiles" -> ((s: SparkSession, dir: String) => {
      Quantiles.weightedQuantiles(
          Tables(s, dir, "events")
            .select(col("event_type"), col("value"),
              (lit(1L) + pmod(col("event_id"), lit(10L))).as("wt")),
          Seq("event_type"), "value", "wt",
          Seq("wp50" -> 0.5, "wp90" -> 0.9))
        .orderBy(col("event_type"))
    }),

    /** Six-table analytic join (TPC-H Q5 shape) — local supplier
      * volume: revenue from lineitems where the customer and supplier
      * share a nation, within one region and year. The interesting
      * part at 100 TB is what the optimizer does with a DECLARED
      * 6-way join: region/nation broadcast down the dim chain, the
      * c_nationkey = s_nationkey cross-filter applied as a join-level
      * predicate (not a post-product filter), both fact filters pushed
      * to scans, and the join order rearranged so the shrinking side
      * feeds the next build. Nothing here is hand-scheduled. */
    "q119_local_supplier_volume" -> ((s: SparkSession, dir: String) => {
      val region = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables(s, dir, "nation")
      val cust = Tables(s, dir, "customer")
      val ords = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
      val li = Tables(s, dir, "lineitem")
      val supp = Tables(s, dir, "supplier")
      region
        .join(nation, col("n_regionkey") === col("r_regionkey"))
        .join(cust, col("c_nationkey") === col("n_nationkey"))
        .join(ords, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("s_suppkey") === col("l_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    /** TPC-H Q7-shape volume shipping: lineitem revenue flowing
      * between two specific nations, in BOTH directions, by ship
      * year. The planning shape the suite lacked: the nation dim
      * joins TWICE in different roles (supplier's nation vs
      * customer's nation), with a disjunctive cross-filter
      * ((n1=A ∧ n2=B) ∨ (n1=B ∧ n2=A)) that must stay a join-level
      * predicate. Both nation broadcasts carry 2 rows after pushdown
      * (the OR's operand set {A, B} prunes each role's scan via an
      * In-filter), so the fact table streams once through a chain of
      * broadcast probes — no shuffle of lineitem at any scale. */
    "q123_volume_shipping" -> ((s: SparkSession, dir: String) => {
      val (na, nb) = ("NATION_3", "NATION_7")
      val n1 = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
        .filter(col("supp_nation").isin(na, nb))
      val n2 = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
        .filter(col("cust_nation").isin(na, nb))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(Tables(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("n1_key") === col("s_nationkey"))
        .join(broadcast(n2), col("n2_key") === col("c_nationkey"))
        .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
          (col("supp_nation") === nb && col("cust_nation") === na))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    /** Cohort retention matrix — the canonical product-analytics
      * query: users cohorted by the week of their FIRST event, each
      * cohort's distinct-user activity tracked per week since. Two
      * aggregation passes (first-event per user, then per (cohort,
      * week) distinct users — both map-side combined and keyed on
      * user/cohort, never a window) plus one join of events to their
      * user's first timestamp (AQE broadcast when the user dim is
      * small, shuffle otherwise). Retention is the per-row ratio to
      * the cohort's week-0 size via a self-join on week 0 — cohort
      * cardinality rows, not data rows. */
    "q150_cohort_retention" -> ((s: SparkSession, dir: String) => {
      val ev = Tables(s, dir, "events").select(col("user_id"), col("ts"))
      val firsts = ev.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
      val act = ev.join(firsts, "user_id")
        .select(date_trunc("week", col("first_ts")).as("cohort_week"),
          floor(datediff(col("ts"), col("first_ts")) / 7).cast("long").as("week_n"),
          col("user_id"))
        .groupBy(col("cohort_week"), col("week_n"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val base = act.filter(col("week_n") === 0)
        .select(col("cohort_week"), col("n_active").as("cohort_size"))
      act.join(base, "cohort_week")
        .select(col("cohort_week"), col("week_n"), col("n_active"), col("cohort_size"),
          r6n(col("n_active").cast("double") / col("cohort_size")).as("retention"))
        .orderBy(col("cohort_week"), col("week_n"))
    }),

    /** TPC-H Q10 shape (returned-item reporting): which customers
      * returned the most revenue in a two-quarter window. Fact scan
      * carries both pushed filters (returnflag on lineitem, the date
      * window on orders); customer/nation resolve as broadcast-or-AQE
      * hash joins; top-20 is TakeOrderedAndProject, never a global
      * sort. Ordering on the 2-dp-rounded revenue + custkey tiebreak
      * (cross-engine stable). */
    "q141_returned_items" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp(lit("1996-07-01 00:00:00"))
      Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables(s, dir, "nation")),
          col("n_nationkey") === col("c_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(desc("revenue"), asc("c_custkey"))
        .limit(20)
    }),

    /** TPC-H Q14 shape (promotion effect): the share of 1996 revenue
      * from PROMO-type parts, by ship month. One filtered fact scan
      * joined to part on the part key (no forced broadcast — part
      * grows with the corpus; AQE picks BHJ when its runtime size
      * allows), conditional aggregation for the promo share. */
    "q142_promo_share" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp(lit("1997-01-01 00:00:00"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables(s, dir, "part"), col("p_partkey") === col("l_partkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) * 100.0 /
            sum(rev), 6).as("promo_pct"),
          round(sum(rev), 2).as("total_revenue"))
        .orderBy(col("ship_month"))
    }),

    /** TPC-H Q18 shape (large-volume orders): the classic
      * IN-(aggregating-subquery) decorrelation — "orders whose total
      * lineitem quantity exceeds 150" becomes a pre-aggregated HAVING
      * table joined back to orders, never a per-order subquery probe.
      * The having table is order-cardinality (one row per qualifying
      * order) and joins on the order key; top-k plans as
      * TakeOrderedAndProject with the (qty desc, key) tie-break total
      * on both engines. */
    "q155_large_orders" -> ((s: SparkSession, dir: String) => {
      val big = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 150)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), r2(col("o_totalprice")).as("o_totalprice"),
          col("total_qty").cast("long").as("total_qty"))
        .orderBy(desc("total_qty"), asc("o_orderkey"))
        .limit(20)
    }),

    /** TPC-H Q21 shape (suppliers who kept orders waiting): supplier s
      * is blamed for an order when the order involves at least two
      * suppliers, s shipped LATE (> 90 days after the order date —
      * this schema has no receipt/commit dates), and s is the ONLY
      * late supplier. The doubly-correlated EXISTS / NOT-EXISTS pair
      * decorrelates into ONE per-order aggregate (distinct suppliers,
      * distinct late suppliers) joined back to the distinct late
      * (order, supplier) pairs — two scans of the same cached
      * fact-side projection, no correlated probe per row, every join
      * on the high-cardinality order key. */
    "q156_waiting_blame" -> ((s: SparkSession, dir: String) => {
      // dedupe to the (order, supplier) grain ONCE (round-17, §2.4):
      // the old shape kept per-lineitem rows cached and paid two
      // countDistinct buffers over them plus a separate distinct for
      // the late side; one pair-level aggregate (late = max over the
      // pair's lines) feeds both the per-order stats and the late
      // slice as plain counts/filters — identical integers.
      val ls = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          1).otherwise(0)).as("late"))
        .cache()
      ls.count() // two consumers below — materialize before the race
      val stats = ls.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          count_if(col("late") === 1).as("n_late"))
      ls.filter(col("late") === 1)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(stats, Seq("l_orderkey"))
        .filter(col("n_supp") >= 2 && col("n_late") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("l_suppkey"))
        .limit(20)
    }),

    /** TPC-H Q22 shape (global-relation anti join): customers richer
      * than the positive-balance average with no order since 2000 —
      * the churned-high-value segment. The scalar subquery folds to a
      * ONE-ROW aggregate broadcast into the filter (provably 1 row at
      * any scale — the q133/q136 stance, allowlisted), the "no recent
      * orders" predicate is a left-anti join on the customer key
      * against the date-filtered fact (filter pushed to the scan),
      * and the threshold is r6-rounded on BOTH engines so a last-ulp
      * average difference cannot flip a boundary customer. */
    "q157_rich_inactive" -> ((s: SparkSession, dir: String) => {
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val avgPos = cust.filter(col("c_acctbal") > 0)
        .agg(r6(avg(col("c_acctbal"))).as("thresh"))
      val recent = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
        .select(col("o_custkey"))
      cust.join(broadcast(avgPos))
        .filter(col("c_acctbal") > col("thresh"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), r2(sum(col("c_acctbal"))).as("total_bal"))
        .orderBy(col("c_nationkey"))
    }),

    /** TPC-H Q17 shape (small-quantity-order revenue): the classic
      * CORRELATED SCALAR AVG subquery — "lineitems under 20% of their
      * part's average quantity" — decorrelated into one per-part
      * aggregate joined back to the same fact slice. The brand filter
      * reduces part to a key list FIRST so both the threshold build
      * and the probe scan only the qualifying slice; that slice is
      * CACHED (it feeds two consumers), the threshold table is
      * part-cardinality (AQE broadcasts it at this selectivity, and
      * the join key keeps it shuffle-correct at any scale), and the
      * threshold itself is exact cross-engine: per-part quantity sums
      * are integer-valued doubles, so avg and the 0.2 multiple are
      * bit-identical IEEE ops in both engines. */
    "q167_small_qty_revenue" -> ((s: SparkSession, dir: String) => {
      val keys = Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
      val li = Tables(s, dir, "lineitem")
        .join(keys, col("p_partkey") === col("l_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .cache()
      val thresh = li.groupBy(col("l_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_cap"))
      li.join(thresh, Seq("l_partkey"))
        .filter(col("l_quantity") < col("qty_cap"))
        .agg(r6(sum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
          count(lit(1)).as("n_small"))
    }),

    /** TPC-H Q19 shape (disjunctive predicate join): three
      * brand/size/quantity disjuncts OR-ed across BOTH relations. The
      * part-only half of each disjunct is pushed BELOW the join (the
      * union of the three brand+size slices reaches the part scan as
      * one pushed filter), so the join builds only on qualifying
      * parts; the mixed part x lineitem half evaluates as a post-join
      * codegen filter. One equi-join on the part key — the OR never
      * degenerates into a cartesian or three separate scans. */
    "q168_brand_disjunction" -> ((s: SparkSession, dir: String) => {
      val p = Tables(s, dir, "part").filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)))
      Tables(s, dir, "lineitem")
        .join(p, col("p_partkey") === col("l_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30)))
        .groupBy(col("p_brand"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }),

    /** TPC-H Q8 shape (national market share): one nation's share of
      * ECONOMY-part revenue sold into the AMERICA region, by order
      * year. The nation dimension plays TWO roles — the customer's
      * nation anchors the market (filtered through region before the
      * fact join, so the probe side shrinks first), the supplier's
      * nation feeds the share numerator as a conditional aggregate
      * (no second pass, no self-join on the fact). Dimensions
      * broadcast; the only shuffles are the fact-side equi-joins on
      * order/customer/supplier keys and the final year aggregate. */
    "q173_market_share" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1995-01-01 00:00:00"))
      val hi = to_timestamp(lit("1997-01-01 00:00:00"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val nation = Tables(s, dir, "nation")
      val custNations = nation
        .join(broadcast(Tables(s, dir, "region").filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val suppNations = nation
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part").filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey")), col("p_partkey") === col("l_partkey"))
        .join(Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(custNations), col("cn_key") === col("c_nationkey"))
        .join(Tables(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(suppNations), col("sn_key") === col("s_nationkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          r6(sum(when(col("supp_nation") === "NATION_1", rev).otherwise(lit(0.0))) /
            sum(rev)).as("mkt_share"),
          r2(sum(rev)).as("total_revenue"))
        .orderBy(col("o_year"))
    }),

    /** Market-basket lift — top co-purchased part pairs with the
      * lift statistic n_ab·N/(n_a·n_b) (lift > 1 = genuinely
      * associated, not just both popular). The pair generation is a
      * SELF-JOIN ON THE ORDER KEY, so the blowup is bounded by
      * C(basket, 2) per order (baskets are schema-bounded small) and
      * every shuffle is keyed on order or part — never all-pairs over
      * the part dimension. (order, part) dedups first so multi-line
      * items count once; part supports arrive by broadcast of the
      * part-cardinality count table; N is one control-plane count.
      * Support ≥ 3 screens noise; ordering is total. */
    "q184_basket_lift" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().cache()
      val nOrders = li.select(col("o")).distinct().count().toDouble
      val supp = li.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      val pairs = li.as("a")
        .join(li.as("b").hint("shuffle_hash"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(broadcast(supp.select(col("p").as("p1"), col("n_p").as("n_1"))), "p1")
        .join(broadcast(supp.select(col("p").as("p2"), col("n_p").as("n_2"))), "p2")
        .select(col("p1"), col("p2"), col("n_ab"),
          r6n(col("n_ab").cast("double") * nOrders /
            (col("n_1").cast("double") * col("n_2"))).as("lift"))
        .orderBy(desc("n_ab"), asc("p1"), asc("p2"))
        .limit(15)
    }),

    /** Adamic-Adar link prediction over the part co-purchase graph —
      * the "never bought together, but share many co-purchase
      * neighbors" recommendation screen (Adamic-Adar 2003): score =
      * Σ_w 1/ln(deg w) over common neighbors w, down-weighting the
      * hub middles a raw common-neighbor count overweights. Built
      * entirely from bounded joins: pair generation self-joins ON THE
      * ORDER KEY (C(basket,2) per order, the q184 stance) with
      * support ≥ 2; the wedge join a-w-b keys on the MIDDLE part, and
      * its fan-out is capped by excluding middles with degree > 512
      * (the DfCap analogue — a hub middle contributes ≤ 1/ln(512) ≈
      * 0.16 per wedge while generating deg² of them, so the cap
      * bounds every join key's blowup at any scale while barely
      * moving scores; mirrored in the oracle). The middle's degree
      * rides ON the wedge arm (one equi join, no per-wedge lookup),
      * existing edges leave via an equi anti join, and the top-20 is
      * TakeOrderedAndProject on the NUDGED rounded score with id
      * tie-breaks so the cut is engine-stable. Graph joins hinted
      * shuffle_hash — the edge list's static size estimate reads
      * "small" and a broadcast plan could not exist at 100 TB.
      *
      * SHAPE A/B, round 13: the round-12 verdict proposed replacing
      * the a-w-b wedge self-join with sorted per-middle adjacency
      * arrays (collect_list + posexplode/slice generators) so the
      * deg²-row wedge set never shuffles. MEASURED at the record
      * config and rejected: ×1 2.41 s / ×30 47.5 s / ×100 226.2 s,
      * exponent 1.30 — strictly worse constants at every scale AND
      * the same super-linear tail, because the binding resource was
      * never the wedge shuffle but the final (a,b) hash aggregate's
      * heap draw, which both shapes share (BASELINE.md's direct counts
      * pin the data term exactly linear; 96g A/B isolates the residual
      * as heap).
      * The join shape stays; the committed scaling record runs the
      * heap-per-core protocol (SCALING.json, ScaleStress.minHeapG —
      * a cluster scales heap OUT with the data; a fixed 48g heap
      * serving ×100 the per-core data models no real deployment). */
    "q244_adamic_adar" -> ((s: SparkSession, dir: String) => {
      val hubCap = 512
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().cache()
      val e = li.as("a")
        .join(li.as("b").hint("shuffle_hash"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("d1"), col("b.p").as("d2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("d1"), col("d2")).cache()
      // materialize ONCE before the fan-out (round-17, the q231/q283
      // single-materialization stance): e feeds FOUR concurrent
      // consumers (both union branches of `edges`→deg/aw/wedge arm,
      // plus the anti join), and AQE submits their stages together —
      // each racing the unpopulated cache re-ran the self-join +
      // aggregate. The raced subtree here is the query's most
      // expensive stage, exactly the case where the extra action wins
      // (and the reason q244 ran FASTER at 8 cores than 32 in the
      // round-16 scaling block: the duplicates burned the idle cores).
      e.count()
      val edges = e.unionByName(
        e.select(col("d2").as("d1"), col("d1").as("d2")))
      val deg = edges.groupBy(col("d1").as("w")).agg(count(lit(1)).as("dg"))
      val aw = edges.select(col("d1").as("a"), col("d2").as("w"))
        .join(deg.filter(col("dg") <= hubCap).hint("shuffle_hash"), "w")
      val wedges = aw.join(
          edges.select(col("d1").as("w"), col("d2").as("b"))
            .hint("shuffle_hash"),
          Seq("w"))
        .filter(col("a") < col("b"))
      val cand = wedges.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"),
          sum(lit(1.0) / log(col("dg"))).as("score"))
      cand.join(e.hint("shuffle_hash"),
          cand("a") === e("d1") && cand("b") === e("d2"), "left_anti")
        .select(col("a").as("p1"), col("b").as("p2"), col("n_common"),
          r6n(col("score")).as("aa_score"))
        .orderBy(desc("aa_score"), col("p1"), col("p2"))
        .limit(20)
    }),

    /** Frequent 3-itemsets — the Apriori step past q184's pairs:
      * part triples co-purchased in ≥ 2 orders, the bundle signal
      * pair lift misses (A-B, B-C, A-C can each be popular while
      * A-B-C never co-occurs). Generation is two SELF-JOINS ON THE
      * ORDER KEY with an ascending-id chain (a < b < c), so the
      * per-order blowup is C(basket, 3) — bounded by the
      * schema-small basket, never part-domain-wide — and every
      * shuffle keys on the order or the triple. Support is exact
      * integer; the top-15 is TakeOrderedAndProject on a total
      * order. */
    "q268_triple_itemsets" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().cache()
      li.as("a")
        .join(li.as("b").hint("shuffle_hash"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .join(li.as("c").hint("shuffle_hash"),
          col("b.o") === col("c.o") && col("b.p") < col("c.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"),
          col("c.p").as("p3"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(desc("support"), col("p1"), col("p2"), col("p3"))
        .limit(15)
    }),

    /** Co-purchase graph degree census — the structural summary
      * behind every graph-op cost estimate in the suite (q244's
      * wedge fan-out, q172's wedge count, q203's propagation load all
      * scale with the DEGREE DISTRIBUTION, not the edge count):
      * vertices and endpoint mass per log₂(degree) bucket. A tail
      * bucket growing faster than the corpus is the early warning
      * that hub caps (the q244 512 cap) will start binding.
      * Integer-only output; the bucket index is length(bin(d)) − 1
      * (exact floor(log₂), the q259 stance). */
    "q274_degree_census" -> ((s: SparkSession, dir: String) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct().cache()
      val e = li.as("a")
        .join(li.as("b").hint("shuffle_hash"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("d1"), col("b.p").as("d2"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("d1"), col("d2"))
      val deg = e.select(col("d1").as("v"))
        .unionByName(e.select(col("d2").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      deg.select(col("dg"),
          (length(expr("bin(dg)")) - 1).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vertices"),
          sum(col("dg")).as("endpoint_sum"),
          max(col("dg")).as("max_degree"))
        .orderBy(col("bucket"))
    }),

    /** Referential-integrity audit — orphan foreign keys across every
      * relationship in the star schema, the conformance check a DQ
      * pipeline runs before trusting any join (an orphan rate > 0
      * silently deletes fact rows from every inner join downstream).
      * Each relationship is ONE left join on its key with a null-probe
      * count — total and orphan counts come from the same pass, dims
      * deduplicate before probing, and the five tiny result rows
      * union. All joins are keyed equi-joins; the big fact sides
      * shuffle on their own keys exactly as the production joins
      * would. */
    "q190_fk_audit" -> ((s: SparkSession, dir: String) => {
      def audit(fact: org.apache.spark.sql.DataFrame, fk: String,
          dim: org.apache.spark.sql.DataFrame, pk: String, label: String) =
        fact.select(col(fk).as("k"))
          .join(dim.select(col(pk).as("k")).distinct()
            .withColumn("hit", lit(1)), Seq("k"), "left")
          .agg(count(lit(1)).as("n_rows"),
            count_if(col("hit").isNull).as("n_orphans"))
          .select(lit(label).as("relation"), col("n_rows"), col("n_orphans"),
            r6n(col("n_orphans").cast("double") / col("n_rows")).as("orphan_rate"))
      val li = Tables(s, dir, "lineitem")
      audit(li, "l_orderkey", Tables(s, dir, "orders"), "o_orderkey",
          "lineitem->orders")
        .unionByName(audit(li, "l_partkey", Tables(s, dir, "part"), "p_partkey",
          "lineitem->part"))
        .unionByName(audit(li, "l_suppkey", Tables(s, dir, "supplier"), "s_suppkey",
          "lineitem->supplier"))
        .unionByName(audit(Tables(s, dir, "orders"), "o_custkey",
          Tables(s, dir, "customer"), "c_custkey", "orders->customer"))
        .unionByName(audit(Tables(s, dir, "customer"), "c_nationkey",
          Tables(s, dir, "nation"), "n_nationkey", "customer->nation"))
        .orderBy(col("relation"))
    }),

    /** SCD2 (type-2 dimension) incremental merge — the
      * validity-interval sibling of q84's SCD1 upsert: the purchase
      * history BEFORE the cutoff becomes the existing dimension
      * (open rows = each user's latest purchase), the later purchases
      * arrive as a change batch, and [[graft.ops.Scd2.merge]] closes
      * the open rows at each key's first new change and chains the
      * batch. The oracle is the merge CONTRACT itself: DuckDB builds
      * the history from ALL changes at once (one lead() pass) —
      * incremental merge must equal full rebuild row-for-row. */
    "q124_scd2_merge" -> ((s: SparkSession, dir: String) => {
      val p = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val hist = graft.ops.Scd2.build(
        p.filter(col("ts") < cut), "user_id", "ts", "event_id")
      graft.ops.Scd2.merge(hist, p.filter(col("ts") >= cut),
          "user_id", "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("value"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_id"))
    }),

    /** Point-in-time (feature-store) join: each click enriched with
      * the purchase-history VERSION that was valid at the click's
      * event time — the training-data join that prevents feature
      * leakage (joining "current" state would leak the future). The
      * SCD2 intervals from [[graft.ops.Scd2.build]] partition each
      * user's timeline, so the equi-join on user plus the
      * [valid_from, valid_to) range predicate matches at most one
      * version per click; Spark plans it as a hash join with the
      * range as a post-probe filter — never a cartesian. Clicks
      * before a user's first purchase null-extend (left join), which
      * IS the honest training value for "no history yet". (The
      * native as-of join computes the same backward match from the
      * raw stream; this shape is for when the dimension is already
      * materialized as SCD2 — one pass over the history table
      * instead of re-sorting the full change log.) */
    "q126_pit_join" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
      val hist = graft.ops.Scd2.build(
        e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("h_user"), col("ts"),
            col("event_id").as("version_id"), col("value").as("h_value")),
        "h_user", "ts", "version_id")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
      clicks.join(hist,
          col("h_user") === col("user_id") &&
          col("c_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("c_ts") < col("valid_to")), "left")
        .select(col("click_id"), col("user_id"), col("version_id"),
          graft.r6(col("h_value")).as("h_value"),
          graft.r6n(col("c_ts").cast("double") - col("valid_from").cast("double"))
            .as("age_sec"))
        .orderBy(col("click_id"))
    }),

    /** Incremental stats maintenance — the aggregation analogue of the
      * SCD merges: per-event-type moment state (n, sum, min, max, M2)
      * built from the history before the cutoff, then the later events
      * fold in via [[graft.ops.IncrementalAgg.merge]] (Chan's parallel
      * M2 update across TIME instead of across partitions; raw history
      * is never rescanned). The oracle is the contract again: the
      * merged state's derived stats must equal DuckDB aggregating the
      * FULL stream in one pass. Variance (= M2/n) is compared instead
      * of raw M2 so the 6-decimal round sits ~6 orders above the
      * float-merge noise. */
    "q128_incremental_stats" -> ((s: SparkSession, dir: String) => {
      import graft.ops.IncrementalAgg
      val e = Tables(s, dir, "events").select(col("event_type"), col("ts"), col("value"))
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val merged = IncrementalAgg.merge(
        IncrementalAgg.state(e.filter(col("ts") < cut), "event_type", "value"),
        IncrementalAgg.state(e.filter(col("ts") >= cut), "event_type", "value"),
        "event_type")
      merged.select(col("event_type"), col("n"),
          graft.r6(col("sum") / col("n")).as("mean"),
          graft.r6(col("m2") / col("n")).as("var_pop"),
          graft.r6(col("min")).as("min_v"), graft.r6(col("max")).as("max_v"))
        .orderBy(col("event_type"))
    }),

    /** Benford first-significant-digit profile of l_extendedprice —
      * the classic fabricated-data / unit-drift DQ screen, one
      * scan-speed aggregation. Digit extraction is STRING-based
      * (first char of the floored integer part), not log10-based:
      * both engines agree on string conversion bit-for-bit, while
      * libm log10 rounding at exact powers of ten could flip a floor
      * cross-engine. Emits observed share vs the Benford expectation
      * log10(1+1/d) and the absolute gap per digit. */
    "q125_benford" -> ((s: SparkSession, dir: String) => {
      // the grand total rides a single-partition window over the
      // ≤9-row digit table (non-foldable constant key — see
      // GlobalRank.constKey for why not lit(0))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("digit").cast("int"), lit(1)))
      val expected = log10(lit(1) + lit(1.0) / col("digit").cast("double"))
      Tables(s, dir, "lineitem")
        .filter(col("l_extendedprice") >= 1)
        .select(substring(floor(col("l_extendedprice")).cast("string"), 1, 1)
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("frac", col("n").cast("double") /
          sum(col("n")).over(wAll).cast("double"))
        .select(col("digit"), col("n"), r6(col("frac")).as("frac"),
          r6(expected).as("benford"),
          r6(abs(col("frac") - expected)).as("abs_gap"))
        .orderBy(col("digit"))
    }),

    /** Exact interpolated percentiles (≡ DuckDB `quantile_cont`,
      * linear interpolation), computed via [[Quantiles.exactQuantiles]]
      * — two-phase global ranks instead of Spark's `percentile`
      * TypedImperativeAggregate, whose value→count buffer is
      * O(distinct) executor memory per group on mostly-distinct
      * doubles like l_extendedprice. Same doubles out, bounded state:
      * still exact at 100 TB (approx_percentile remains the cheaper
      * option when an error band is acceptable). */
    "q55_percentiles" -> ((s: SparkSession, dir: String) => {
      Quantiles.exactQuantiles(
        Tables(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
        .select(col("l_returnflag"), round(col("p25"), 4).as("p25"),
          round(col("p50"), 4).as("p50"), round(col("p75"), 4).as("p75"),
          round(col("p95"), 4).as("p95"))
        .orderBy(col("l_returnflag"))
    }),

    /** Regex surface: extract + replace + match over the JSON props
      * string (raw regex, not the JSON parser — both engines PCRE-ish). */
    "q56_regex" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k_val"),
          length(regexp_replace(col("props"), "[0-9]", "")).cast("long").as("len_no_digits"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k_val")).as("sum_k"),
          round(avg(col("len_no_digits")) + 1e-12, 4).as("avg_len_no_digits"))
        .orderBy(col("event_type"))
    }),

    /** Collect-style aggregation rendered engine-portably: the sorted
      * member list per group as a joined string (Spark collect_list +
      * sort_array ≡ DuckDB string_agg ORDER BY). */
    "q58_collect_agg" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_orderstatus"))
        .agg(array_join(sort_array(collect_list(
          concat_ws(":", col("o_orderpriority"), col("n")))), ",").as("priority_counts"))
        .orderBy(col("o_orderstatus"))
    }),

    /** posexplode (Generator with position) over the embedding arrays:
      * per-dimension corpus statistics. */
    "q59_posexplode" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("v").cast("double")), 6).as("avg_v"),
          round(stddev_samp(col("v").cast("double")), 6).as("std_v"))
        .orderBy(col("dim"))
    }),

    /** Null-handling scalar functions: nullif / coalesce / nvl2-style. */
    "q60_null_funcs" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "customer")
        .select(
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER")).as("seg"),
          when(nullif(col("c_mktsegment"), lit("BUILDING")).isNull, 0.0)
            .otherwise(col("c_acctbal")).as("bal"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"), round(sum(col("bal")), 2).as("sum_bal"))
        .orderBy(col("seg"))
    }),

    /** Date arithmetic: interval addition and day differences. */
    "q61_date_arith" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          max(col("l_shipdate") + expr("INTERVAL 30 DAYS")).as("max_ship_plus_30d"),
          round(avg(datediff(col("l_shipdate"),
            to_timestamp(lit("1995-01-01 00:00:00"))).cast("double")) + 1e-12, 4).as("avg_days_since_95"))
        .orderBy(col("l_returnflag"))
    }),

    /** Embedding near-dup pairs: EXACT all pairs with cosine ≥ 0.3
      * (this corpus is near-orthogonal random, so 0.3 is the
      * meaningful tail; q44/q86 are the approximate scale paths).
      * The O(n²) pair space is inherent to exact ground truth, but the
      * PLAN is not a cartesian: vectors are triangle-block-paired —
      * each row goes to block b = vec_id mod B and is replicated to
      * the B(B+1)/2 unordered block-pair keys it participates in, so
      * the product runs as a shuffled EQUI-join on (ka, kb). Every
      * unordered vector pair materializes exactly once (off-diagonal
      * blocks once by construction; diagonal blocks deduped by
      * d1 < d2), work spreads over B(B+1)/2 independent tasks, and AQE
      * can coalesce/split the exchange like any other shuffle. The
      * suite-wide invariant (enforced by PlanQualitySpec) is no
      * UNBOUNDED nested-loop/cartesian plan — a handful of queries do
      * plan BroadcastNestedLoopJoins whose broadcast side is provably
      * bounded (fixed probe/centroid counts), each allowlisted there;
      * this query's point is that the O(n²) pair space itself needs no
      * nested loop at all. B is a session knob (`graft.embed.blocks`,
      * default 8): raise it with cluster width — fan-out per row is
      * B+1 replicas and task count grows as B(B+1)/2. */
    "q51_embed_neardup" -> ((s: SparkSession, dir: String) => {
      val B = s.conf.getOption("graft.embed.blocks").map(_.toInt).getOrElse(8)
      val e = Tables(s, dir, "embeddings")
      // left role: own block is ka, partner block kb ranges upward
      val a = e.select(col("vec_id").as("d1"), col("embedding").as("emb_a"),
          pmod(col("vec_id"), lit(B)).cast("int").as("ka"))
        .withColumn("kb", explode(sequence(col("ka"), lit(B - 1))))
      // right role: own block is kb, partner block ka ranges downward
      val b = e.select(col("vec_id").as("d2"), col("embedding").as("emb_b"),
          pmod(col("vec_id"), lit(B)).cast("int").as("kb"))
        .withColumn("ka", explode(sequence(lit(0), col("kb"))))
      a.hint("shuffle_hash")
        .join(b, Seq("ka", "kb"))
        .filter(col("ka") =!= col("kb") || col("d1") < col("d2"))
        .select(least(col("d1"), col("d2")).as("d1"),
          greatest(col("d1"), col("d2")).as("d2"),
          expr("cosine_sim(emb_a, emb_b)").as("cs"))
        .filter(col("cs") >= 0.3)
        .select(col("d1"), col("d2"), r6(col("cs")).as("cos_sim"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** TPC-H Q2 shape (min-cost supplier): for every ECONOMY part of
      * size <= 10, the ASIA-region supplier with the LOWEST observed
      * average unit price. This schema has no partsupp, so the offer
      * relation derives from lineitem history — per (part, supplier)
      * avg(extendedprice/quantity). The classic correlated-MIN
      * subquery decorrelates into a row_number window partitioned on
      * the HIGH-cardinality part key (never a float-equality join
      * back to the min — the r6-rounded (cost, suppkey) order makes
      * the pick total and cross-engine stable, the q147 ranking
      * stance). Dimension chain region->nation->supplier broadcasts;
      * the only big shuffles are the fact join on the part key and
      * the (part, supplier) aggregate. */
    "q191_min_cost_supplier" -> ((s: SparkSession, dir: String) => {
      val asiaSupp = Tables(s, dir, "supplier")
        .join(Tables(s, dir, "nation"), col("n_nationkey") === col("s_nationkey"))
        .join(Tables(s, dir, "region")
          .filter(col("r_name") === "ASIA"), col("r_regionkey") === col("n_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val slice = Tables(s, dir, "part")
        .filter(col("p_type") === "ECONOMY" && col("p_size") <= 10)
        .select(col("p_partkey"), col("p_name"))
      val offers = Tables(s, dir, "lineitem")
        .join(slice, col("p_partkey") === col("l_partkey"))
        .join(broadcast(asiaSupp), col("s_suppkey") === col("l_suppkey"))
        .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"), col("n_name"))
        .agg(r6(avg(col("l_extendedprice") / col("l_quantity"))).as("unit_cost"))
      val w = Window.partitionBy(col("p_partkey"))
        .orderBy(col("unit_cost"), col("s_suppkey"))
      offers.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("unit_cost"))
        .orderBy(desc("s_acctbal"), asc("p_partkey"))
        .limit(20)
    }),

    /** TPC-H Q9 shape (product-type profit): profit on 'plate' parts
      * by supplier nation and order year. Cost has no partsupp side
      * here, so it is modeled as 60% of retail — profit =
      * rev - 0.6 * p_retailprice * l_quantity. The p_name LIKE filter
      * prunes part FIRST (the join builds only on qualifying parts);
      * supplier->nation broadcasts; orders joins on the order key for
      * the year. One aggregate over (nation, year) at the end — no
      * re-shuffle between the joins, AQE picks the join strategy. */
    "q192_profit_by_nation" -> ((s: SparkSession, dir: String) => {
      val plates = Tables(s, dir, "part")
        .filter(col("p_name").like("%plate%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val sn = Tables(s, dir, "supplier")
        .join(Tables(s, dir, "nation"), col("n_nationkey") === col("s_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      Tables(s, dir, "lineitem")
        .join(plates, col("p_partkey") === col("l_partkey"))
        .join(broadcast(sn), col("s_suppkey") === col("l_suppkey"))
        .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        // per-row profits are 6-decimal rationals, so the group sum can
        // land EXACTLY on the half-cent grid while the two engines'
        // accumulation orders differ by ~1e-9 — nudge by 1e-6 (> the
        // ordering error, < the 1e-6 rational grid step) on both sides
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
            lit(0.6) * col("p_retailprice") * col("l_quantity")) + 1e-6, 2).as("profit"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), desc("o_year"))
    }),

    /** TPC-H Q11 shape (important stock): parts whose EUROPE-supplied
      * revenue exceeds TWICE the mean per-part share — the
      * scale-correct form of Q11's 0.0001/SF threshold (a fixed
      * fraction empties as the part count grows; the mean-relative
      * cut keeps the head at any sf). The global (total, n_parts)
      * folds to a ONE-ROW aggregate broadcast into the HAVING filter
      * (provably 1 row at any scale — the q157 stance, allowlisted);
      * the per-part aggregate and the fact join shuffle on
      * high-cardinality keys. The value slice is cached: it feeds
      * both the per-part aggregate and the scalar total, one scan. */
    "q193_important_parts" -> ((s: SparkSession, dir: String) => {
      val eurSupp = Tables(s, dir, "supplier")
        .join(Tables(s, dir, "nation"), col("n_nationkey") === col("s_nationkey"))
        .join(Tables(s, dir, "region")
          .filter(col("r_name") === "EUROPE"), col("r_regionkey") === col("n_regionkey"))
        .select(col("s_suppkey"))
      val vals = Tables(s, dir, "lineitem")
        .join(broadcast(eurSupp), col("s_suppkey") === col("l_suppkey"))
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("val"))
        .cache()
      val byPart = vals.groupBy(col("l_partkey")).agg(sum(col("val")).as("value"))
      val total = vals.agg(sum(col("val")).as("grand"),
        countDistinct(col("l_partkey")).cast("double").as("n_parts"))
      byPart.join(broadcast(total))
        .filter(col("value") > col("grand") * 2.0 / col("n_parts"))
        .select(col("l_partkey"), r2(col("value")).as("value"),
          r6(col("value") / col("grand")).as("share"))
        .orderBy(desc("value"), asc("l_partkey"))
        .limit(25)
    }),

    /** TPC-H Q12 shape (late-shipment priority mix): 1996 lineitems
      * shipped more than 60 days after their order date, bucketed by
      * line status (the schema's shipmode stand-in), counting
      * critical (1-URGENT / 2-HIGH) vs other order priorities. One
      * fact scan with the date filter PUSHED, one join on the order
      * key, one conditional aggregate — the whole query is a single
      * shuffle pair. */
    "q194_late_priority" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp(lit("1997-01-01 00:00:00"))
      val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderdate"), col("o_orderpriority")),
          col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(sum(when(crit, 1L).otherwise(0L)).as("n_critical"),
          sum(when(crit, 0L).otherwise(1L)).as("n_other"))
        .orderBy(col("l_linestatus"))
    }),

    /** TPC-H Q15 shape (top supplier view): suppliers whose 1996-Q1
      * revenue EQUALS the maximum — the view-vs-max self-reference,
      * tie-aware by contract (all maximizers return). The max folds
      * to a ONE-ROW aggregate broadcast into the filter; revenue is
      * r2-rounded on BOTH sides of the comparison (and in both
      * engines) so a last-ulp summation difference cannot break the
      * equality. The per-supplier revenue table is cached — it feeds
      * the max and the final filter from one scan. */
    "q195_top_supplier" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp(lit("1996-04-01 00:00:00"))
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("total_rev"))
        .cache()
      val mx = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(mx)).filter(col("total_rev") === col("max_rev"))
        .join(Tables(s, dir, "supplier"), col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev"))
        .orderBy(col("s_suppkey"))
    }),

    /** TPC-H Q16 shape (supplier diversity census): distinct supplier
      * counts per (brand, type, size) over the observed part-supplier
      * pairs, excluding Brand#12, PROMO parts, and negative-balance
      * suppliers (the complaint-supplier NOT IN, decorrelated to a
      * broadcast LEFT-ANTI join — never a per-row probe). The pair
      * relation is the DISTINCT (partkey, suppkey) projection of the
      * fact — map-side combined before the dimension joins. */
    "q196_supplier_census" -> ((s: SparkSession, dir: String) => {
      val pairs = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val parts = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#12" && col("p_type") =!= "PROMO")
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val complained = Tables(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      pairs
        .join(parts, col("p_partkey") === col("l_partkey"))
        .join(broadcast(complained), col("s_suppkey") === col("l_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
        .limit(20)
    }),

    /** Supply concentration per part type — the supplier-side HHI
      * (Σ share² over supplier quantity shares) with the top-1 share
      * alongside: a type sourced 0.9 from one supplier is a
      * single-point-of-failure, whatever its supplier COUNT says.
      * Two map-side-combined rollups ((type, supplier), then type) —
      * the HHI folds from Σq² and (Σq)² without materializing
      * shares, and the top-1 share is the q203-stance two-aggregate
      * argmax. All integer sums until the final ratios. */
    "q226_supply_concentration" -> ((s: SparkSession, dir: String) => {
      val bySupp = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_type"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("q"))
        .cache()
      val byType = bySupp.groupBy(col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          sum(col("q")).as("qt"), sum(col("q") * col("q")).as("q2"),
          max(col("q")).as("qmax"))
      byType.select(col("p_type"), col("n_suppliers"),
          r6(col("q2") / (col("qt") * col("qt"))).as("hhi"),
          r6(col("qmax") / col("qt")).as("top1_share"))
        .orderBy(col("p_type"))
    }),

    /** New-part census — parts whose FIRST shipment falls in the last
      * quarter of the observed span, by brand: the assortment-growth
      * view (which brands are actually launching). Per-part first
      * ship date is one map-side-combined min; the span cutoff is a
      * one-row fold broadcast (allowlisted class); integer-exact
      * comparisons throughout. */
    "q227_new_parts" -> ((s: SparkSession, dir: String) => {
      val firstShip = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(min(unix_micros(col("l_shipdate"))).as("first_us"))
      val span = Tables(s, dir, "lineitem")
        .agg(min(unix_micros(col("l_shipdate"))).as("s0"),
          max(unix_micros(col("l_shipdate"))).as("s1"))
        // DIV: Spark's `/` is fractional division — a .75 cutoff vs
        // DuckDB's floored integer would flip boundary parts
        .select(expr("(s0 * 1 + s1 * 3) DIV 4").as("cutoff"))
      firstShip.join(broadcast(span))
        .join(Tables(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(when(col("first_us") >= col("cutoff"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("p_brand"), col("n_parts"), col("n_new"),
          round(col("n_new").cast("double") / col("n_parts") + 1e-12, 4)
            .as("new_rate"))
        .orderBy(col("p_brand"))
    }),

    /** Price dispersion audit — the top-15 parts by unit-price
      * coefficient of variation across their lineitems: high CV means
      * inconsistent pricing (or data quality trouble) for the same
      * part. One map-side-combined moment aggregate per part; the
      * top-k ranks on the r6-rounded CV with the part-key tie-break
      * (the cross-engine float-ranking stance) and plans as
      * TakeOrderedAndProject. */
    "q228_price_dispersion" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit"))
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), avg(col("unit")).as("mu"),
          stddev_samp(col("unit")).as("sd"))
        .filter(col("n") >= 5 && col("mu") > 0)
        .select(col("l_partkey"), col("n"), r2(col("mu")).as("mean_unit_price"),
          r6(col("sd") / col("mu")).as("cv"))
        .orderBy(desc("cv"), asc("l_partkey"))
        .limit(15)
    }),

    /** Basket-size economics — revenue by lineitems-per-order: do
      * bigger baskets carry the business? Two map-side-combined
      * aggregates (order rollup, then size rollup) and a one-row
      * total fold carried through the TINY size table as a broadcast
      * (size cardinality is bounded by the basket domain). Average
      * revenue per order is a small-denominator rational at small
      * sf — +1e-12-nudged on both engines. */
    "q225_basket_economics" -> ((s: SparkSession, dir: String) => {
      val perOrder = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("basket_size"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .cache()
      val bySize = perOrder.groupBy(col("basket_size"))
        .agg(count(lit(1)).as("n_orders"), sum(col("rev")).as("size_rev"))
      val total = perOrder.agg(sum(col("rev")).as("total_rev"))
      bySize.join(broadcast(total))
        .select(col("basket_size"), col("n_orders"),
          r2(col("size_rev")).as("revenue"),
          round(col("size_rev") / col("n_orders") + 1e-12, 2).as("avg_order_rev"),
          r6(col("size_rev") / col("total_rev")).as("rev_share"))
        .orderBy(col("basket_size"))
    }),

    /** Discount elasticity per part type — does a deeper discount
      * actually move quantity? regr_slope(quantity, discount) per
      * p_type with the r² alongside so a non-relationship reads as
      * noise, not signal. One fact-dimension equi-join and one
      * map-side-combined moment aggregate (regr_* are single-pass
      * codegen folds in both engines) — linear at any scale. */
    "q217_discount_elasticity" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "part").select(col("p_partkey"), col("p_type")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"),
          r6(expr("regr_slope(l_quantity, l_discount)")).as("qty_per_discount"),
          r6(expr("regr_r2(l_quantity, l_discount)")).as("r2"),
          r6(avg(col("l_discount"))).as("avg_discount"))
        .orderBy(col("p_type"))
    }),

    /** Order-to-ship latency percentiles by order priority — the SLA
      * report: p50/p90/p99 days from order date to each lineitem's
      * ship date, per priority class. Latencies are exact integer-day
      * differences; the priority-grouped percentiles ride the exact
      * distributed quantile machinery (one rank pass, never a
      * per-group percentile buffer). A premium priority whose p99
      * matches 5-LOW's is the reference's incident story told from
      * the data side. */
    "q218_ship_latency" -> ((s: SparkSession, dir: String) => {
      // cached: the latency table feeds BOTH the quantile rank pass
      // and the per-priority count — uncached, the fact-orders join
      // runs twice
      val lat = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate"))
            .cast("double").as("lat_days"))
        .cache()
      Quantiles.exactQuantiles(lat, Seq("o_orderpriority"), "lat_days",
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
        .join(lat.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")),
          "o_orderpriority")
        .select(col("o_orderpriority"), col("n"),
          r4n(col("p50")).as("p50_days"), r4n(col("p90")).as("p90_days"),
          r4n(col("p99")).as("p99_days"))
        .orderBy(col("o_orderpriority"))
    }),

    /** Behavioral fingerprint rings — users with the same event-type
      * activity PROFILE (which types, at which order of magnitude):
      * organic users differ, scripted account farms collapse onto a
      * handful of fingerprints. Counts band by DECIMAL DIGIT COUNT
      * (an exact integer-string property — a log2 band would sit on
      * the ln(8)/ln(2) float boundary and flip between engines;
      * exact counts never collide at all). The fingerprint is a sha2
      * of the sorted "type:band" profile built INSIDE one per-user
      * aggregate + projection (collect → sort → hash — no second
      * shuffle); rings group on the 8-byte-prefix digest, reporting
      * rings of ≥ 3 users with example ids. The exchange carries
      * digests, never profiles (the q140/q188 stance). */
    "q219_fingerprint_rings" -> ((s: SparkSession, dir: String) => {
      val prof = Tables(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(concat_ws(":", col("event_type"),
          length(col("c").cast("string"))))).as("hist"))
        .select(col("user_id"),
          sha2(concat_ws("|", col("hist")), 256).as("fp"),
          size(col("hist")).cast("long").as("n_types"))
      prof.groupBy(col("fp"))
        .agg(count(lit(1)).as("ring_size"), min(col("user_id")).as("example_user"),
          max(col("n_types")).as("n_types"))
        .filter(col("ring_size") >= 3)
        .select(substring(col("fp"), 1, 16).as("fp16"), col("ring_size"),
          col("example_user"), col("n_types"))
        .orderBy(desc("ring_size"), asc("fp16"))
        .limit(20)
    }),

    /** TPC-H Q20 shape (dominant-share suppliers): AMERICA-region
      * suppliers who shipped more than 30% of some 'red' part's total
      * 1996 quantity. The nested IN/correlated-subquery chain
      * decorrelates into two aggregates over ONE cached fact slice —
      * per (part, supplier) quantity and per part total — joined on
      * the part key; qualifying (part, supplier) pairs then LEFT-SEMI
      * the supplier dimension. Every join is an equi-join on a key
      * that grows with the data; nothing is correlated per row. */
    "q197_dominant_suppliers" -> ((s: SparkSession, dir: String) => {
      val lo = to_timestamp(lit("1996-01-01 00:00:00"))
      val hi = to_timestamp(lit("1997-01-01 00:00:00"))
      val redKeys = Tables(s, dir, "part")
        .filter(col("p_name").like("red%")).select(col("p_partkey"))
      val slice = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(redKeys, col("p_partkey") === col("l_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .cache()
      val perSupp = slice.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val perPart = slice.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
      val dominant = perSupp.join(perPart, Seq("l_partkey"))
        .filter(col("qty") > col("total_qty") * 0.3)
        .select(col("l_suppkey")).distinct()
      Tables(s, dir, "supplier")
        .join(Tables(s, dir, "nation"), col("n_nationkey") === col("s_nationkey"))
        .join(Tables(s, dir, "region")
          .filter(col("r_name") === "AMERICA"), col("r_regionkey") === col("n_regionkey"))
        .join(dominant, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_suppkey"))
    }),

    /** Price-index panel — Laspeyres / Paasche / Fisher per ship
      * year against the 1996 base basket: the econ-style deflator a
      * revenue dashboard needs before comparing years (raw revenue
      * mixes price moves with volume moves; the index isolates
      * price). Unit price per (year, part) is the value-weighted
      * Σext/Σqty; only parts present in BOTH the base and the target
      * year enter (the matched-basket convention). Two grouped
      * aggregates + one part-keyed equi-join — shuffles keyed on
      * partkey, scales as the dimension does; fisher = √(L·P) is
      * IEEE-exact sqrt over already-folded terms. */
    "q380_price_index" -> ((s: SparkSession, dir: String) => {
      val py = Tables(s, dir, "lineitem")
        .select(year(col("l_shipdate")).cast("long").as("yr"),
          col("l_partkey"), col("l_extendedprice"), col("l_quantity"))
        .groupBy(col("yr"), col("l_partkey"))
        .agg(sum(col("l_extendedprice")).as("ext"),
          sum(col("l_quantity")).as("qty"))
        .select(col("yr"), col("l_partkey"),
          (col("ext") / col("qty")).as("p"), col("qty").as("q"))
        .cache() // base-year slice and the panel join both read it
      val base = py.filter(col("yr") === 1996)
        .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
      py.join(base, "l_partkey")
        .groupBy(col("yr"))
        .agg(count(lit(1)).as("n_parts"),
          (sum(col("p") * col("q0")) / sum(col("p0") * col("q0"))).as("lasp"),
          (sum(col("p") * col("q")) / sum(col("p0") * col("q"))).as("paas"))
        .select(col("yr").as("year"), col("n_parts"),
          r6n(col("lasp")).as("laspeyres"),
          r6n(col("paas")).as("paasche"),
          r6n(sqrt(col("lasp") * col("paas"))).as("fisher"))
        .orderBy(col("year"))
    }),

    /** Referential-integrity ORPHAN census — the DQ rule family the
      * reference's per-table checks (data_quality_checks.py) cannot
      * express: per foreign-key edge of the schema, child rows whose
      * key finds no parent (NULL keys count as orphans on both
      * engines: anti-join null keys never match, NOT EXISTS likewise).
      * Seven edges, each one anti-join + 1-row fold, unioned — at
      * 100 TB each edge is one shuffled (or dim-broadcast) anti-join,
      * the exact plan an FK validation job runs. */
    "q401_fk_orphans" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val orphans = child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphan"))))
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphan"),
            r6n(col("n_orphan").cast("double") / col("n_child"))
              .as("orphan_rate"))
      }
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      val p = Tables(s, dir, "part")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      Seq(
        edge("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        edge("lineitem.partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.suppkey->supplier", li, "l_suppkey", sup, "s_suppkey"),
        edge("orders.custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("supplier.nationkey->nation", sup, "s_nationkey", n, "n_nationkey"),
        edge("nation.regionkey->region", n, "n_regionkey", r, "r_regionkey"))
        .reduce(_ unionByName _)
        .orderBy(col("fk_edge"))
    }),

    /** FK fan-out PROFILE — the distribution complement of q185's
      * scalar skew summaries (HHI/top1/entropy) and q401's orphan
      * census: per FK edge, the histogram of CHILDREN PER PARENT in
      * log₂ buckets (the q274 integer stance), INCLUDING the
      * zero-children parents (bucket −1 — customers who never
      * ordered, parts never sold: the dimension-side dead weight an
      * inner-join plan silently drops). This is the shape that sizes
      * join fan-out at 100 TB: AQE's skew handling keys on exactly
      * this tail, and a bucket whose child mass grows faster than
      * the corpus is the early warning q274 gives for the co-purchase
      * graph, here for the schema's own joins. One aggregate per
      * edge (child side, map-side combined) + one left join from the
      * parent table; output is ≤ edges × ~20 bucket rows. */
    "q410_fk_fanout_profile" -> ((s: SparkSession, dir: String) => {
      def profile(parent: DataFrame, pk: String, child: DataFrame,
          ck: String, label: String): DataFrame = {
        val cnt = child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("c"))
        parent.select(col(pk).as("k"))
          .join(cnt, Seq("k"), "left")
          .select(coalesce(col("c"), lit(0L)).as("c"))
          .select(when(col("c") === 0, lit(-1L))
            .otherwise(expr("CAST(length(bin(c)) - 1 AS BIGINT)"))
            .as("bucket"), col("c"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_parents"), sum(col("c")).as("n_children"))
          .select(lit(label).as("fk_edge"), col("bucket"),
            col("n_parents"), col("n_children"))
      }
      val li = Tables(s, dir, "lineitem")
      Seq(
        profile(Tables(s, dir, "customer"), "c_custkey",
          Tables(s, dir, "orders"), "o_custkey", "orders_per_customer"),
        profile(Tables(s, dir, "orders"), "o_orderkey",
          li, "l_orderkey", "lineitems_per_order"),
        profile(Tables(s, dir, "part"), "p_partkey",
          li, "l_partkey", "lineitems_per_part"),
        profile(Tables(s, dir, "supplier"), "s_suppkey",
          li, "l_suppkey", "lineitems_per_supplier"))
        .reduce(_ unionByName _)
        .orderBy(col("fk_edge"), col("bucket"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q47_pivot" ->
      """SELECT o_orderstatus,
        |count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
        |count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS n_high,
        |count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS n_medium,
        |count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS n_notspec,
        |count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS n_low
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus NULLS FIRST""".stripMargin,

    "q48_sql_subquery" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,

    "q49_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |cast(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |cast(grouping(l_linestatus) AS BIGINT) AS g_status,
        |count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q58_collect_agg" ->
      """SELECT o_orderstatus,
        |string_agg(concat_ws(':', o_orderpriority, n), ',' ORDER BY concat_ws(':', o_orderpriority, n)) AS priority_counts
        |FROM (SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |      FROM orders GROUP BY 1, 2)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus NULLS FIRST""".stripMargin,

    "q59_posexplode" ->
      """SELECT dim, count(*) AS n, round(avg(v), 6) AS avg_v,
        |round(stddev_samp(v), 6) AS std_v
        |FROM (SELECT cast(i - 1 AS BIGINT) AS dim, cast(embedding[i] AS DOUBLE) AS v
        |      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i))
        |GROUP BY dim
        |ORDER BY dim NULLS FIRST""".stripMargin,

    "q60_null_funcs" ->
      """SELECT coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        |count(*) AS n,
        |round(sum(CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NULL THEN 0.0
        |               ELSE c_acctbal END), 2) AS sum_bal
        |FROM customer
        |GROUP BY 1
        |ORDER BY seg NULLS FIRST""".stripMargin,

    "q61_date_arith" ->
      """SELECT l_returnflag,
        |max(l_shipdate + INTERVAL 30 DAY) AS max_ship_plus_30d,
        |round(avg(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', l_shipdate)) + 1e-12, 4) AS avg_days_since_95
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q55_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q56_regex" ->
      """SELECT event_type, count(*) AS n,
        |cast(sum(k_val) AS BIGINT) AS sum_k,
        |round(avg(len_no_digits) + 1e-12, 4) AS avg_len_no_digits
        |FROM (SELECT event_type,
        |      cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_val,
        |      cast(length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT) AS len_no_digits
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    // the HLL estimate is engine-internal; the oracle independently
    // recomputes the exact count and asserts the engine's estimate
    // stayed within bound (within_bound must come out true)
    "q50_approx_distinct" ->
      """SELECT l_returnflag,
        |CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |true AS within_bound
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    // the sketch values are engine-internal; the oracle pins the
    // independently recomputed accuracy verdict (q50 pattern)
    "q112_sketch_percentiles" ->
      """SELECT l_returnflag, true AS p50_within, true AS p95_within
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "q114_salted_agg" ->
      """SELECT event_type, round(sum(value), 2) AS total,
        |count(*) AS n, round(sum(value) / count(*), 6) AS avg_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q116_value_histogram" ->
      """SELECT least(greatest(floor((value + 100.0) / 10.0), -1.0), 20.0)::BIGINT AS bucket,
        |count(*) AS n, round(min(value), 6) AS lo, round(max(value), 6) AS hi
        |FROM events
        |GROUP BY 1
        |ORDER BY bucket NULLS FIRST""".stripMargin,

    // type-1 weighted quantile: smallest value whose running integer
    // weight reaches q*W. ROWS-frame cumsum — tied values order
    // arbitrarily, but the selected min value is tie-invariant
    "q120_weighted_quantiles" ->
      """WITH w AS (SELECT event_type, value, 1 + event_id % 10 AS wt FROM events),
        |c AS (SELECT event_type, value, wt,
        |      sum(wt) OVER (PARTITION BY event_type ORDER BY value
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |      sum(wt) OVER (PARTITION BY event_type) AS tw FROM w)
        |SELECT event_type,
        |min(CASE WHEN cw >= 0.5 * tw THEN value END) AS wp50,
        |min(CASE WHEN cw >= 0.9 * tw THEN value END) AS wp90
        |FROM c GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    // the merge CONTRACT as oracle: incremental SCD2 merge must equal
    // the history rebuilt from the full change stream in one pass
    "q124_scd2_merge" ->
      """SELECT user_id, event_id, value, ts AS valid_from,
        |lead(ts) OVER w AS valid_to,
        |(lead(ts) OVER w IS NULL) AS is_current
        |FROM events
        |WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST,
        |  event_id NULLS FIRST)
        |ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST,
        |  event_id NULLS FIRST""".stripMargin,

    "q126_pit_join" ->
      """WITH hist AS (
        |  SELECT user_id AS h_user, event_id AS version_id, value AS h_value,
        |  ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST,
        |    event_id NULLS FIRST) AS valid_to
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, c.user_id, h.version_id,
        |round(h.h_value, 6) AS h_value,
        |round(epoch(c.ts) - epoch(h.valid_from) + 1e-12, 6) AS age_sec
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click') c
        |LEFT JOIN hist h
        |  ON h.h_user = c.user_id AND c.ts >= h.valid_from
        | AND (h.valid_to IS NULL OR c.ts < h.valid_to)
        |ORDER BY click_id NULLS FIRST""".stripMargin,

    // contract oracle: merged incremental state ≡ one-pass aggregation
    "q128_incremental_stats" ->
      """SELECT event_type, count(value) AS n,
        |round(avg(value), 6) AS mean,
        |round(var_pop(value), 6) AS var_pop,
        |round(min(value), 6) AS min_v,
        |round(max(value), 6) AS max_v
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q125_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS digit
        |  FROM lineitem WHERE l_extendedprice >= 1),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |t AS (SELECT sum(n) AS total FROM g)
        |SELECT digit, n,
        |round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS frac,
        |round(log10(1 + 1.0 / CAST(digit AS DOUBLE)), 6) AS benford,
        |round(abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |  - log10(1 + 1.0 / CAST(digit AS DOUBLE))), 6) AS abs_gap
        |FROM g, t
        |ORDER BY digit NULLS FIRST""".stripMargin,

    "q150_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
        |a AS (
        |  SELECT CAST(date_trunc('week', f.first_ts) AS TIMESTAMP) AS cohort_week,
        |  CAST(floor(date_diff('day', f.first_ts, e.ts) / 7.0) AS BIGINT) AS week_n,
        |  e.user_id
        |  FROM events e JOIN f USING (user_id)),
        |act AS (
        |  SELECT cohort_week, week_n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM a GROUP BY 1, 2),
        |base AS (
        |  SELECT cohort_week, n_active AS cohort_size FROM act WHERE week_n = 0)
        |SELECT act.cohort_week, act.week_n, act.n_active, base.cohort_size,
        |round(act.n_active * 1.0 / base.cohort_size + 1e-12, 6) AS retention
        |FROM act JOIN base USING (cohort_week)
        |ORDER BY cohort_week NULLS FIRST, week_n NULLS FIRST""".stripMargin,

    "q141_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC NULLS LAST, c_custkey NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q155_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |round(o_totalprice, 2) AS o_totalprice,
        |CAST(total_qty AS BIGINT) AS total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_qty DESC NULLS LAST, o_orderkey NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q156_waiting_blame" ->
      """WITH lo AS (
        |  SELECT l_orderkey, l_suppkey,
        |  l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |stats AS (
        |  SELECT l_orderkey,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late
        |  FROM lo GROUP BY l_orderkey),
        |blamed AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lo WHERE is_late)
        |SELECT b.l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |FROM blamed b JOIN stats s ON b.l_orderkey = s.l_orderkey
        |WHERE s.n_supp >= 2 AND s.n_late = 1
        |GROUP BY b.l_suppkey
        |ORDER BY numwait DESC NULLS LAST, b.l_suppkey NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q190_fk_audit" ->
      """WITH
        |r1 AS (SELECT 'lineitem->orders' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON o.o_orderkey = l.l_orderkey),
        |r2 AS (SELECT 'lineitem->part',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |    ON p.p_partkey = l.l_partkey),
        |r3 AS (SELECT 'lineitem->supplier',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
        |    ON s.s_suppkey = l.l_suppkey),
        |r4 AS (SELECT 'orders->customer',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = o.o_custkey),
        |r5 AS (SELECT 'customer->nation',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = c.c_nationkey),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |  SELECT * FROM r3 UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5)
        |SELECT relation, n_rows, n_orphans,
        |round(n_orphans / CAST(n_rows AS DOUBLE) + 1e-12, 6) AS orphan_rate
        |FROM u
        |ORDER BY relation NULLS FIRST""".stripMargin,

    "q410_fk_fanout_profile" -> {
      def prof(parent: String, pk: String, child: String, ck: String,
          label: String) =
        s"""SELECT '$label' AS fk_edge,
           |CASE WHEN c = 0 THEN -1
           |  ELSE CAST(length(bin(c)) - 1 AS BIGINT) END AS bucket,
           |CAST(count(*) AS BIGINT) AS n_parents,
           |CAST(sum(c) AS BIGINT) AS n_children
           |FROM (
           |  SELECT coalesce(cnt.c, 0) AS c
           |  FROM $parent p LEFT JOIN (
           |    SELECT $ck AS k, count(*) AS c FROM $child GROUP BY 1) cnt
           |    ON cnt.k = p.$pk)
           |GROUP BY 1, 2""".stripMargin
      Seq(
        prof("customer", "c_custkey", "orders", "o_custkey",
          "orders_per_customer"),
        prof("orders", "o_orderkey", "lineitem", "l_orderkey",
          "lineitems_per_order"),
        prof("part", "p_partkey", "lineitem", "l_partkey",
          "lineitems_per_part"),
        prof("supplier", "s_suppkey", "lineitem", "l_suppkey",
          "lineitems_per_supplier"))
        .mkString("", "\nUNION ALL\n",
          "\nORDER BY fk_edge NULLS FIRST, bucket NULLS FIRST")
    },

    "q184_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n_orders FROM li),
        |supp AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM li GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT p1, p2, n_ab,
        |round(n_ab * n.n_orders / (s1.n_p * CAST(s2.n_p AS DOUBLE)) + 1e-12, 6) AS lift
        |FROM pairs
        |JOIN supp s1 ON s1.p = p1
        |JOIN supp s2 ON s2.p = p2, n
        |ORDER BY n_ab DESC, p1, p2
        |LIMIT 15""".stripMargin,

    "q244_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        |  SELECT a.p AS d1, b.p AS d2
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (SELECT d1 AS s, d2 AS t FROM e UNION ALL SELECT d2, d1 FROM e),
        |deg AS (SELECT s AS w, count(*) AS dg FROM edges GROUP BY 1),
        |wed AS (
        |  SELECT aw.s AS a, wb.t AS b, d.dg AS dg
        |  FROM edges aw
        |  JOIN deg d ON d.w = aw.t AND d.dg <= 512
        |  JOIN edges wb ON wb.s = aw.t AND aw.s < wb.t),
        |cand AS (
        |  SELECT a, b, count(*) AS n_common, sum(1.0 / ln(dg)) AS score
        |  FROM wed GROUP BY 1, 2),
        |fresh AS (
        |  SELECT c.a, c.b, c.n_common, c.score FROM cand c
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM e WHERE e.d1 = c.a AND e.d2 = c.b))
        |SELECT a AS p1, b AS p2, CAST(n_common AS BIGINT) AS n_common,
        |round(score + 1e-12, 6) AS aa_score
        |FROM fresh
        |ORDER BY aa_score DESC, p1, p2 LIMIT 20""".stripMargin,

    "q268_triple_itemsets" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem)
        |SELECT a.p AS p1, b.p AS p2, c.p AS p3,
        |CAST(count(*) AS BIGINT) AS support
        |FROM li a
        |JOIN li b ON a.o = b.o AND a.p < b.p
        |JOIN li c ON b.o = c.o AND b.p < c.p
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2
        |ORDER BY support DESC, p1, p2, p3 LIMIT 15""".stripMargin,

    "q274_degree_census" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS (
        |  SELECT a.p AS d1, b.p AS d2
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT v, count(*) AS dg FROM (
        |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e)
        |  GROUP BY 1)
        |SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS bucket,
        |CAST(count(*) AS BIGINT) AS n_vertices,
        |CAST(sum(dg) AS BIGINT) AS endpoint_sum,
        |CAST(max(dg) AS BIGINT) AS max_degree
        |FROM deg GROUP BY 1
        |ORDER BY bucket NULLS FIRST""".stripMargin,

    "q173_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |round(sum(CASE WHEN sn.n_name = 'NATION_1'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) /
        |  sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
        |JOIN orders ON o_orderkey = l_orderkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = cn.n_regionkey AND r_name = 'AMERICA'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |GROUP BY 1
        |ORDER BY o_year NULLS FIRST""".stripMargin,

    "q167_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#23'),
        |t AS (
        |  SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_cap
        |  FROM li GROUP BY l_partkey)
        |SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly,
        |CAST(count(*) AS BIGINT) AS n_small
        |FROM li JOIN t USING (l_partkey)
        |WHERE l_quantity < qty_cap""".stripMargin,

    "q168_brand_disjunction" ->
      """SELECT p_brand,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY p_brand
        |ORDER BY p_brand NULLS FIRST""".stripMargin,

    "q157_rich_inactive" ->
      """WITH t AS (
        |  SELECT round(avg(c_acctbal), 6) AS thresh
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |round(sum(c_acctbal), 2) AS total_bal
        |FROM customer, t
        |WHERE c_acctbal > thresh
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey NULLS FIRST""".stripMargin,

    "q142_promo_share" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
        |round(sum(CASE WHEN p_type = 'PROMO'
        |  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0 /
        |  sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1
        |ORDER BY ship_month NULLS FIRST""".stripMargin,

    "q123_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST,
        |  l_year NULLS FIRST""".stripMargin,

    "q119_local_supplier_volume" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND l_orderkey = o_orderkey AND s_suppkey = l_suppkey
        |  AND s_nationkey = c_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC NULLS LAST, n_name NULLS FIRST""".stripMargin,

    "q113_ship_priority" ->
      """SELECT o_orderkey, o_orderdate,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC NULLS LAST, o_orderkey NULLS FIRST
        |LIMIT 10""".stripMargin,

    "q51_embed_neardup" ->
      """SELECT d1, d2, round(cs, 6) AS cos_sim FROM (
        |  SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  list_aggregate(list_transform(generate_series(1, 64),
        |    i -> cast(a.embedding[i] AS DOUBLE) * cast(b.embedding[i] AS DOUBLE)), 'sum')
        |  / sqrt(
        |    list_aggregate(list_transform(generate_series(1, 64),
        |      i -> cast(a.embedding[i] AS DOUBLE) * cast(a.embedding[i] AS DOUBLE)), 'sum')
        |    * list_aggregate(list_transform(generate_series(1, 64),
        |      i -> cast(b.embedding[i] AS DOUBLE) * cast(b.embedding[i] AS DOUBLE)), 'sum')) AS cs
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE cs >= 0.3
        |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin,

    "q191_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
        |  round(avg(l_extendedprice / l_quantity), 6) AS unit_cost
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey
        |    AND p_type = 'ECONOMY' AND p_size <= 10
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'ASIA'
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |    ORDER BY unit_cost, s_suppkey) AS rn
        |  FROM offers)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
        |FROM ranked WHERE rn = 1
        |ORDER BY s_acctbal DESC NULLS LAST, p_partkey NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q192_profit_by_nation" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |round(sum(l_extendedprice * (1 - l_discount)
        |  - 0.6 * p_retailprice * l_quantity) + 1e-6, 2) AS profit,
        |CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%plate%'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2
        |ORDER BY n_name NULLS FIRST, o_year DESC NULLS LAST""".stripMargin,

    "q193_important_parts" ->
      """WITH vals AS (
        |  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'),
        |by_part AS (
        |  SELECT l_partkey, sum(val) AS value FROM vals GROUP BY 1),
        |total AS (SELECT sum(val) AS grand,
        |  CAST(count(DISTINCT l_partkey) AS DOUBLE) AS n_parts FROM vals)
        |SELECT l_partkey, round(value, 2) AS value,
        |round(value / grand, 6) AS share
        |FROM by_part, total
        |WHERE value > grand * 2.0 / n_parts
        |ORDER BY value DESC NULLS LAST, l_partkey NULLS FIRST
        |LIMIT 25""".stripMargin,

    "q194_late_priority" ->
      """SELECT l_linestatus,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
        |CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  THEN 0 ELSE 1 END) AS BIGINT) AS n_other
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1
        |ORDER BY l_linestatus NULLS FIRST""".stripMargin,

    "q195_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM rev
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey NULLS FIRST""".stripMargin,

    "q196_supplier_census" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pairs
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC NULLS LAST, p_brand NULLS FIRST,
        |  p_type NULLS FIRST, p_size NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q226_supply_concentration" ->
      """WITH by_supp AS (
        |  SELECT p_type, l_suppkey, sum(l_quantity) AS q
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1, 2)
        |SELECT p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |round(sum(q * q) / (sum(q) * sum(q)), 6) AS hhi,
        |round(max(q) / sum(q), 6) AS top1_share
        |FROM by_supp GROUP BY 1
        |ORDER BY p_type NULLS FIRST""".stripMargin,

    "q227_new_parts" ->
      """WITH first_ship AS (
        |  SELECT l_partkey, min(epoch_us(l_shipdate)) AS first_us
        |  FROM lineitem GROUP BY 1),
        |span AS (
        |  SELECT (min(epoch_us(l_shipdate)) * 1 + max(epoch_us(l_shipdate)) * 3)
        |    // 4 AS cutoff
        |  FROM lineitem)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
        |CAST(sum(CASE WHEN first_us >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_new,
        |round(sum(CASE WHEN first_us >= cutoff THEN 1 ELSE 0 END) * 1.0
        |  / count(*) + 1e-12, 4) AS new_rate
        |FROM first_ship
        |JOIN part ON p_partkey = l_partkey, span
        |GROUP BY 1
        |ORDER BY p_brand NULLS FIRST""".stripMargin,

    "q228_price_dispersion" ->
      """WITH u AS (
        |  SELECT l_partkey, l_extendedprice / l_quantity AS unit
        |  FROM lineitem),
        |m AS (
        |  SELECT l_partkey, count(*) AS n, avg(unit) AS mu,
        |  stddev_samp(unit) AS sd
        |  FROM u GROUP BY 1
        |  HAVING count(*) >= 5 AND avg(unit) > 0)
        |SELECT l_partkey, CAST(n AS BIGINT) AS n,
        |round(mu, 2) AS mean_unit_price, round(sd / mu, 6) AS cv
        |FROM m
        |ORDER BY round(sd / mu, 6) DESC NULLS LAST, l_partkey NULLS FIRST
        |LIMIT 15""".stripMargin,

    "q225_basket_economics" ->
      """WITH per_order AS (
        |  SELECT l_orderkey, count(*) AS basket_size,
        |  sum(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem GROUP BY 1),
        |total AS (SELECT sum(rev) AS total_rev FROM per_order)
        |SELECT basket_size, CAST(count(*) AS BIGINT) AS n_orders,
        |round(sum(rev), 2) AS revenue,
        |round(sum(rev) / count(*) + 1e-12, 2) AS avg_order_rev,
        |round(sum(rev) / max(t.total_rev), 6) AS rev_share
        |FROM per_order, total t
        |GROUP BY 1
        |ORDER BY basket_size NULLS FIRST""".stripMargin,

    "q217_discount_elasticity" ->
      """SELECT p_type, CAST(count(*) AS BIGINT) AS n,
        |round(regr_slope(l_quantity, l_discount), 6) AS qty_per_discount,
        |round(regr_r2(l_quantity, l_discount), 6) AS r2,
        |round(avg(l_discount), 6) AS avg_discount
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |GROUP BY 1
        |ORDER BY p_type NULLS FIRST""".stripMargin,

    "q218_ship_latency" ->
      """WITH lat AS (
        |  SELECT o_orderpriority,
        |  CAST(date_diff('day', o_orderdate, l_shipdate) AS DOUBLE) AS lat_days
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |round(quantile_cont(lat_days, 0.5) + 1e-12, 4) AS p50_days,
        |round(quantile_cont(lat_days, 0.9) + 1e-12, 4) AS p90_days,
        |round(quantile_cont(lat_days, 0.99) + 1e-12, 4) AS p99_days
        |FROM lat GROUP BY 1
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,

    "q219_fingerprint_rings" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |prof AS (
        |  SELECT user_id,
        |  list_sort(list(event_type || ':' ||
        |    CAST(len(CAST(c AS VARCHAR)) AS VARCHAR))) AS hist
        |  FROM counts GROUP BY 1),
        |fps AS (
        |  SELECT user_id, sha256(array_to_string(hist, '|')) AS fp,
        |  CAST(len(hist) AS BIGINT) AS n_types
        |  FROM prof)
        |SELECT substr(fp, 1, 16) AS fp16, CAST(count(*) AS BIGINT) AS ring_size,
        |min(user_id) AS example_user, max(n_types) AS n_types
        |FROM fps GROUP BY fp
        |HAVING count(*) >= 3
        |ORDER BY ring_size DESC, fp16 NULLS FIRST
        |LIMIT 20""".stripMargin,

    "q197_dominant_suppliers" ->
      """WITH slice AS (
        |  SELECT l_partkey, l_suppkey, l_quantity
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_name LIKE 'red%'
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'),
        |per_supp AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        |  FROM slice GROUP BY 1, 2),
        |per_part AS (
        |  SELECT l_partkey, sum(l_quantity) AS total_qty
        |  FROM slice GROUP BY 1),
        |dominant AS (
        |  SELECT DISTINCT s.l_suppkey
        |  FROM per_supp s JOIN per_part p ON s.l_partkey = p.l_partkey
        |  WHERE s.qty > p.total_qty * 0.3)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey AND r_name = 'AMERICA'
        |WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
        |ORDER BY s_suppkey NULLS FIRST""".stripMargin,

    // the same value-weighted unit prices, 1996 matched basket,
    // identical fold order in all three index ratios
    "q380_price_index" ->
      """WITH py AS (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_partkey,
        |  sum(l_extendedprice) / sum(l_quantity) AS p,
        |  sum(l_quantity) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |b AS (
        |  SELECT l_partkey, p AS p0, q AS q0 FROM py WHERE yr = 1996)
        |SELECT py.yr AS year, CAST(count(*) AS BIGINT) AS n_parts,
        |round(sum(py.p * b.q0) / sum(b.p0 * b.q0) + 1e-12, 6) AS laspeyres,
        |round(sum(py.p * py.q) / sum(b.p0 * py.q) + 1e-12, 6) AS paasche,
        |round(sqrt((sum(py.p * b.q0) / sum(b.p0 * b.q0)) *
        |           (sum(py.p * py.q) / sum(b.p0 * py.q))) + 1e-12, 6)
        |  AS fisher
        |FROM py JOIN b ON b.l_partkey = py.l_partkey
        |GROUP BY py.yr
        |ORDER BY year NULLS FIRST""".stripMargin,

    // the same seven edges; NOT EXISTS is null-safe like the anti-join
    "q401_fk_orphans" -> {
      def edge(name: String, child: String, ck: String,
          parent: String, pk: String) =
        s"""SELECT '$name' AS fk_edge,
           |CAST((SELECT count(*) FROM $child) AS BIGINT) AS n_child,
           |CAST((SELECT count(*) FROM $child c
           |  WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |    WHERE p.$pk = c.$ck)) AS BIGINT) AS n_orphan,
           |round((SELECT count(*) FROM $child c
           |  WHERE NOT EXISTS (SELECT 1 FROM $parent p
           |    WHERE p.$pk = c.$ck)) * 1.0
           |  / (SELECT count(*) FROM $child) + 1e-12, 6) AS orphan_rate"""
          .stripMargin
      Seq(
        edge("lineitem.orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("lineitem.partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edge("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edge("orders.custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("customer.nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("supplier.nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        edge("nation.regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge NULLS FIRST")
    }
  )
}
