package graft

import org.apache.spark.sql.functions._
import graft.ops.AsOf

/** The native as-of join operator (custom LogicalPlan + Strategy +
  * merge-scan SparkPlan): semantics against the union+window
  * formulation, edge cases, and the physical plan contract. */
class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  test("native as-of equals the q54 union+window formulation on events") {
    val native = llm.CorpusOps.queries("q99_asof_native")(spark, sf)
    val window = ops.Advanced.queries("q54_asof_join")(spark, sf)
    assert(native.schema.fieldNames.sameElements(window.schema.fieldNames))
    assert(native.exceptAll(window).isEmpty && window.exceptAll(native).isEmpty,
      "native operator and window rewrite must agree row-for-row")
  }

  test("edge cases: no match, exact-ts match, shared quote, late rights ignored") {
    val trades = Seq(
      (1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 10L, "t3"), (3L, 5L, "t4"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      (1L, 10L, "q1"), (1L, 15L, "q2"), (2L, 11L, "q3"))
      .toDF("sym", "q_ts", "quote")
    val out = AsOf.joinBackward(trades, quotes, "sym", "sym", "t_ts", "q_ts")
      .select(col("trade"), col("quote")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "t1" -> "q1", // exact-ts quote matches (<=)
      "t2" -> "q2", // latest prior of several
      "t3" -> null, // sym 2's only quote is LATER than the trade
      "t4" -> null)) // sym 3 has no quotes at all
  }

  test("multiple lefts reuse the same right; duplicate left timestamps ok") {
    val l = Seq((7L, 10L, "a"), (7L, 10L, "b"), (7L, 30L, "c"))
      .toDF("k", "ts", "tag")
    val r = Seq((7L, 1L, "early"), (7L, 25L, "mid"))
      .toDF("k", "rts", "rtag")
    val out = AsOf.joinBackward(l, r, "k", "k", "ts", "rts")
      .select(col("tag"), col("rtag")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toSet
    assert(out == Set("a" -> "early", "b" -> "early", "c" -> "mid"))
  }

  test("randomized equivalence with a declarative reference formulation") {
    // seeded, so failures reproduce; shapes include duplicate keys,
    // duplicate right timestamps ACROSS keys, and keys on one side only
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 3) {
      val l = Seq.fill(200)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(100000)))
        .toDF("k", "ts", "payload")
      val r = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(100000)))
        // near-dup rights with the same (k, ts) would make the match
        // nondeterministic in ANY formulation — dedup to the max payload
        .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSeq
        .toDF("rk", "rts", "rpayload")
      val native = AsOf.joinBackward(l, r, "k", "rk", "ts", "rts")
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      // reference: per left row, the matching right row with max rts
      val best = l.join(r, col("k") === col("rk") && col("rts") <= col("ts"))
        .groupBy(col("k"), col("ts"), col("payload"))
        .agg(max(col("rts")).as("best_rts"))
      val matched = best
        .join(r, col("k") === col("rk") && col("best_rts") === col("rts"))
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      val unmatched = l.join(r,
          col("k") === col("rk") && col("rts") <= col("ts"), "left_anti")
        .select(col("k"), col("ts"), col("payload"),
          lit(null).cast("int").as("rpayload"))
      val expected = matched.unionByName(unmatched)
      assert(native.exceptAll(expected).isEmpty &&
        expected.exceptAll(native).isEmpty,
        s"trial $trial: native as-of must equal the reference join")
    }
  }

  test("forward direction: earliest right at-or-after; exact ts wins") {
    val trades = Seq(
      (1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 12L, "t3"), (3L, 5L, "t4"))
      .toDF("sym", "t_ts", "trade")
    val quotes = Seq(
      (1L, 10L, "q1"), (1L, 15L, "q2"), (2L, 11L, "q3"))
      .toDF("sym", "q_ts", "quote")
    val out = AsOf.joinForward(trades, quotes, "sym", "sym", "t_ts", "q_ts")
      .select(col("trade"), col("quote")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map(
      "t1" -> "q1", // exact-ts quote matches (>=, distance 0)
      "t2" -> null, // sym 1 has no quote at/after 20
      "t3" -> null, // sym 2's only quote precedes the trade
      "t4" -> null)) // sym 3 has no quotes at all
  }

  test("nearest direction: closer side wins, tie prefers backward") {
    val l = Seq((1L, 10L, "a"), (1L, 14L, "b"), (1L, 16L, "c"), (2L, 50L, "d"))
      .toDF("k", "ts", "tag")
    val r = Seq((1L, 8L, "back"), (1L, 21L, "fwd"), (1L, 12L, "mid"))
      .toDF("k", "rts", "rtag")
    val out = AsOf.joinNearest(l, r, "k", "k", "ts", "rts")
      .select(col("tag"), col("rtag")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(out == Map(
      "a" -> "back", // |10-8|=2 ties |10-12|=2 → backward wins
      "b" -> "mid", // |14-12|=2 beats |14-21|=7
      "c" -> "mid", // |16-12|=4 beats |16-21|=5
      "d" -> null)) // key 2 has no rights
  }

  test("randomized forward/nearest equivalence with declarative argmin references") {
    val rnd = new scala.util.Random(46L)
    for (trial <- 1 to 3) {
      val l = Seq.fill(200)((rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(100000))).toDF("k", "ts", "payload")
      val r = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(100000)))
        .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSeq
        .toDF("rk", "rts", "rpayload")

      // FORWARD reference: per left row, the matching right with MIN rts >= ts
      val fBest = l.join(r, col("k") === col("rk") && col("rts") >= col("ts"))
        .groupBy(col("k"), col("ts"), col("payload"))
        .agg(min(col("rts")).as("best_rts"))
      val fMatched = fBest
        .join(r, col("k") === col("rk") && col("best_rts") === col("rts"))
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      val fUnmatched = l.join(r,
          col("k") === col("rk") && col("rts") >= col("ts"), "left_anti")
        .select(col("k"), col("ts"), col("payload"),
          lit(null).cast("int").as("rpayload"))
      val fExpected = fMatched.unionByName(fUnmatched)
      val fNative = AsOf.joinForward(l, r, "k", "rk", "ts", "rts")
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      assert(fNative.exceptAll(fExpected).isEmpty &&
        fExpected.exceptAll(fNative).isEmpty,
        s"trial $trial: forward as-of must equal the min->=-join reference")

      // NEAREST reference: argmin of (|rts - ts|, rts) — rts ascending
      // tie-break = backward candidate first (rts <= ts sorts before
      // the equidistant rts > ts)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("k"), col("ts"), col("payload"))
        .orderBy(abs(col("rts") - col("ts")).asc, col("rts").asc)
      val nMatched = l.join(r, col("k") === col("rk"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      val nUnmatched = l.join(r, col("k") === col("rk"), "left_anti")
        .select(col("k"), col("ts"), col("payload"),
          lit(null).cast("int").as("rpayload"))
      val nExpected = nMatched.unionByName(nUnmatched)
      val nNative = AsOf.joinNearest(l, r, "k", "rk", "ts", "rts")
        .select(col("k"), col("ts"), col("payload"), col("rpayload"))
      assert(nNative.exceptAll(nExpected).isEmpty &&
        nExpected.exceptAll(nNative).isEmpty,
        s"trial $trial: nearest as-of must equal the argmin reference")
    }
  }

  test("tolerance: bound enforced per direction; edge-inclusive; rejects bad input") {
    val l = Seq((1L, 100L, "a"), (1L, 200L, "b"), (1L, 300L, "c"))
      .toDF("k", "ts", "tag")
    val r = Seq((1L, 95L, "r95"), (1L, 170L, "r170"), (1L, 301L, "r301"))
      .toDF("k", "rts", "rtag")
    def run(dir: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String, String, String, Option[Double]) => org.apache.spark.sql.DataFrame,
        tol: Double): Map[String, String] =
      dir(l, r, "k", "k", "ts", "rts", Some(tol))
        .select(col("tag"), col("rtag")).collect()
        .map(x => x.getString(0) -> x.getString(1)).toMap
    // backward, tol=5: a→r95 (gap 5, INCLUSIVE edge), b's latest ≤ is
    // r170 (gap 30 > 5 → null; r95 is even farther so the post-pick
    // check is exhaustive), c's latest ≤ is r170 (gap 130 → null)
    assert(run(AsOf.joinBackward, 5.0) ==
      Map("a" -> "r95", "b" -> null, "c" -> null))
    // forward, tol=1: a's earliest ≥ is r170 (70 → null),
    // c→r301 (gap 1, inclusive), b's earliest ≥ is r301 (101 → null)
    assert(run(AsOf.joinForward, 1.0) ==
      Map("a" -> null, "b" -> null, "c" -> "r301"))
    // nearest, tol=30: a→r95 (5), b→r170 (30, inclusive edge beats 101
    // forward), c→r301 (1)
    assert(run(AsOf.joinNearest, 30.0) ==
      Map("a" -> "r95", "b" -> "r170", "c" -> "r301"))
    // without tolerance everything matches — the bound is the only change
    assert(run((a, b, c, d, e, f, _) => AsOf.joinBackward(a, b, c, d, e, f),
      0.0) == Map("a" -> "r95", "b" -> "r170", "c" -> "r170"))
    // negative tolerance fails fast at plan time
    val neg = intercept[IllegalArgumentException] {
      AsOf.joinBackward(l, r, "k", "k", "ts", "rts", Some(-1.0))
    }
    assert(neg.getMessage.contains("non-negative"))
    // tolerance on a non-numeric ts type fails fast at plan time
    val ls = Seq((1L, "x", "a")).toDF("k", "ts", "tag")
    val rs = Seq((1L, "w", "b")).toDF("k", "rts", "rtag")
    val bad = intercept[IllegalArgumentException] {
      AsOf.joinBackward(ls, rs, "k", "k", "ts", "rts", Some(5.0))
    }
    assert(bad.getMessage.contains("numeric distance"))
  }

  test("tolerance randomized: equals the bounded declarative argmax reference") {
    val rnd = new scala.util.Random(8675309L)
    val tol = 25.0
    val l = Seq.fill(300)((rnd.nextInt(15).toLong, rnd.nextInt(500).toLong,
      rnd.nextInt(100000))).toDF("k", "ts", "payload")
    val r = Seq.fill(200)((rnd.nextInt(18).toLong, rnd.nextInt(500).toLong,
      rnd.nextInt(100000)))
      .groupBy(t => (t._1, t._2)).values.map(_.maxBy(_._3)).toSeq
      .toDF("rk", "rts", "rpayload")
    val cond = col("k") === col("rk") && col("rts") <= col("ts") &&
      col("ts") - col("rts") <= tol
    val best = l.join(r, cond)
      .groupBy(col("k"), col("ts"), col("payload"))
      .agg(max(col("rts")).as("best_rts"))
    val matched = best
      .join(r, col("k") === col("rk") && col("best_rts") === col("rts"))
      .select(col("k"), col("ts"), col("payload"), col("rpayload"))
    val unmatched = l.join(r, cond, "left_anti")
      .select(col("k"), col("ts"), col("payload"),
        lit(null).cast("int").as("rpayload"))
    val expected = matched.unionByName(unmatched)
    val native = AsOf.joinBackward(l, r, "k", "rk", "ts", "rts", Some(tol))
      .select(col("k"), col("ts"), col("payload"), col("rpayload"))
    assert(native.exceptAll(expected).isEmpty &&
      expected.exceptAll(native).isEmpty,
      "bounded backward as-of must equal the bounded argmax reference")
  }

  test("self as-of join (same DataFrame both sides) re-aliases and works") {
    val ev = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "tag")
    // each row matched to the latest row (incl. itself) of its key
    val out = AsOf.joinBackward(ev, ev, "k", "k", "ts", "ts")
      .collect()
    assert(out.length == 3)
    // latest-at-or-before itself IS itself
    out.foreach(r => assert(r.getString(2) == r.getString(5)))
  }

  test("mismatched key or ts types fail fast with a clear error") {
    val l = Seq((1L, 1L)).toDF("k", "ts")
    val r = Seq((1, 1L)).toDF("k", "ts") // Int key vs Long key
    val e = intercept[IllegalArgumentException] {
      AsOf.joinBackward(l, r, "k", "k", "ts", "ts")
    }
    assert(e.getMessage.contains("key types differ"))
  }

  test("left-side filters push through the custom node to the parquet scan") {
    val e = Tables(spark, sf, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val joined = AsOf.joinBackward(purchases, clicks,
      "user_id", "c_user", "ts", "c_ts")
    val filtered = joined.filter(col("user_id") < 50)
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(user_id,50)"),
      s"left predicate must reach the scan's PushedFilters:\n$plan")
    // semantics unchanged: post-join filter ≡ pre-join filter
    val pre = AsOf.joinBackward(purchases.filter(col("user_id") < 50), clicks,
      "user_id", "c_user", "ts", "c_ts")
    assert(filtered.exceptAll(pre).isEmpty && pre.exceptAll(filtered).isEmpty)
  }

  test("limit pushes through the as-of join to the left child") {
    // spark.range, not a local Seq: the injected rule runs before
    // ConvertToLocalRelation, which would fold the pushed LocalLimit
    // into a LocalRelation child and hide it from the plan check
    val ids = spark.range(1, 5001)
    val l = ids.select((col("id") % 20).as("k"), col("id").as("ts"),
      col("id").cast("int").as("v"))
    val r = ids.select((col("id") % 20).as("rk"), (col("id") - 1).as("rts"),
      col("id").cast("int").as("w"))
    val limited = AsOf.joinBackward(l, r, "k", "rk", "ts", "rts").limit(7)
    // optimized plan must carry a limit BELOW the join on the left side
    val opt = limited.queryExecution.optimizedPlan
    val joinNode = opt.collectFirst { case j: graft.plans.AsOfJoin => j }
    assert(joinNode.isDefined, s"as-of node lost:\n$opt")
    assert(joinNode.get.left.collectFirst {
      case ll: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => ll
    }.isDefined, s"limit not pushed to the left child:\n$opt")
    // semantics: exactly 7 rows, each a correct as-of match
    val rows = limited.collect()
    assert(rows.length == 7)
    rows.foreach { row =>
      assert(row.getLong(4) <= row.getLong(1), "matched rts must be <= ts")
    }
    // idempotence: re-optimizing must not stack another limit
    val again = limited.limit(7)
    val opt2 = again.queryExecution.optimizedPlan
    val limits = opt2.collect {
      case ll: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => ll
    }
    assert(limits.size <= 3, s"rule must not stack limits:\n$opt2")
  }

  test("physical plan contains AsOfJoinExec with planner-inserted exchanges") {
    val l = Seq((1L, 1L, "x")).toDF("k", "ts", "v")
    val r = Seq((1L, 1L, "y")).toDF("k", "rts", "w")
    val df = AsOf.joinBackward(l, r, "k", "k", "ts", "rts")
    df.collect() // force AQE to finalize the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan) // SparkPlan.nodeName strips "Exec"
    assert(plan.contains("Exchange") || plan.contains("ShuffleQueryStage"),
      s"EnsureRequirements must insert the key exchanges:\n$plan")
  }
}
