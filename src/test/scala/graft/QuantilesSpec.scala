package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.ops.Quantiles

import scala.util.Random

/** [[graft.ops.Quantiles.exactQuantiles]] vs Spark's buffering
  * `percentile` aggregate. The two interpolate between the SAME
  * bracketing values; formulas differ only in ulp-level double
  * association (ours matches DuckDB's quantile_cont
  * `lo + (hi-lo)*frac`; Spark's is the symmetric
  * `(1-frac)*lo + frac*hi`), so agreement is asserted to 1e-9 on
  * randomized data and EXACTLY on hand-computed fixtures. */
class QuantilesSpec extends SparkSuite {

  private val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75,
    "p00" -> 0.0, "p95" -> 0.95, "p100" -> 1.0)

  test("grouped quantiles match percentile on randomized data with ties, skew, and tiny groups") {
    import spark.implicits._
    val rnd = new Random(42)
    // group g0: large, mostly-distinct; g1: heavy ties; g2: single row;
    // g3: two rows; g4: all-identical values; plus nulls sprinkled in
    val rows: Seq[(String, Option[Double])] =
      (1 to 2000).map(_ => "g0" -> Some(rnd.nextDouble() * 1000 - 500)) ++
      (1 to 500).map(_ => "g1" -> Some((rnd.nextInt(7) + 1).toDouble)) ++
      Seq("g2" -> Some(3.14)) ++
      Seq("g3" -> Some(1.0), "g3" -> Some(2.0)) ++
      (1 to 40).map(_ => "g4" -> Some(9.9)) ++
      (1 to 30).map(i => s"g${i % 5}" -> Option.empty[Double])
    val df = rnd.shuffle(rows).toDF("g", "v")

    val got = Quantiles.exactQuantiles(df, Seq("g"), "v", qs)
      .collect().map(r => r.getString(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    val wantCols = qs.map { case (n, q) => expr(s"percentile(v, $q)").as(n) }
    val want = df.groupBy(col("g")).agg(wantCols.head, wantCols.tail: _*)
      .collect().map(r => r.getString(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap

    assert(got.keySet === want.keySet)
    for (g <- want.keySet; i <- qs.indices)
      assert(math.abs(got(g)(i) - want(g)(i)) < 1e-9,
        s"group $g ${qs(i)._1}: got ${got(g)(i)} want ${want(g)(i)}")
  }

  test("global (ungrouped) quantiles match percentile") {
    import spark.implicits._
    val rnd = new Random(7)
    val df = (1 to 3000).map(_ => rnd.nextGaussian() * 50).toDF("v")
    val got = Quantiles.exactQuantiles(df, Seq.empty, "v", qs).collect().head
    val wantCols = qs.map { case (n, q) => expr(s"percentile(v, $q)").as(n) }
    val want = df.agg(wantCols.head, wantCols.tail: _*).collect().head
    for (i <- qs.indices)
      assert(math.abs(got.getDouble(i) - want.getDouble(i)) < 1e-9, qs(i)._1)
  }

  test("hand-computed fixture is exact (incl. interpolation and endpoints)") {
    import spark.implicits._
    // values 10,20,30,40: p25 → pos=0.75 → 10+0.75*10=17.5; p50 → 25;
    // p100 → 40; p00 → 10
    val df = Seq("a" -> 10.0, "a" -> 40.0, "a" -> 20.0, "a" -> 30.0).toDF("g", "v")
    val r = Quantiles.exactQuantiles(df, Seq("g"), "v",
      Seq("p00" -> 0.0, "p25" -> 0.25, "p50" -> 0.5, "p100" -> 1.0)).collect().head
    assert(r.getDouble(1) === 10.0)
    assert(r.getDouble(2) === 17.5)
    assert(r.getDouble(3) === 25.0)
    assert(r.getDouble(4) === 40.0)
  }

  test("a NULL group key is an ordinary group, matching percentile-over-groupBy") {
    import spark.implicits._
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 10.0), (None, 30.0))
      .toDF("g", "v")
    val got = Quantiles.exactQuantiles(df, Seq("g"), "v", Seq("p50" -> 0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(got == Map(Some("a") -> 2.0, None -> 20.0),
      s"null group must survive the rank joins: $got")
    val wgot = Quantiles.weightedQuantiles(
        df.withColumn("w", lit(1L)), Seq("g"), "v", "w", Seq("wp50" -> 0.5))
      .collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(wgot == Map(Some("a") -> 1.0, None -> 10.0),
      s"null group must survive the weighted path too: $wgot")
  }

  test("null values are ignored; all-null group is absent") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)), ("b", None))
      .toDF("g", "v")
    val out = Quantiles.exactQuantiles(df, Seq("g"), "v", Seq("p50" -> 0.5))
    val rows = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows === Map("a" -> 2.0))
  }

  test("results are independent of the input partition layout") {
    import spark.implicits._
    val rnd = new Random(11)
    val base = (1 to 1500).map(_ => ("g" + rnd.nextInt(4), rnd.nextDouble() * 100))
    val reference = Quantiles.exactQuantiles(
      base.toDF("g", "v"), Seq("g"), "v", qs).collect()
      .map(r => r.getString(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    // the rank machinery leans on repartitionByRange + MID internals —
    // any layout sensitivity is a correctness bug, not a perf one
    for (parts <- Seq(1, 3, 17, 64)) {
      val df = rnd.shuffle(base).toDF("g", "v").repartition(parts)
      val got = Quantiles.exactQuantiles(df, Seq("g"), "v", qs).collect()
        .map(r => r.getString(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
      assert(got == reference, s"layout with $parts input partitions changed the result")
    }
  }

  test("weighted quantiles match a brute-force reference, independent of layout") {
    import spark.implicits._
    val rnd = new Random(5)
    val rows = (1 to 1200).map(_ =>
      ("g" + rnd.nextInt(3), rnd.nextInt(200).toDouble, (1 + rnd.nextInt(9)).toLong))
    // brute force: per group sort by value, walk the prefix weights
    def brute(q: Double): Map[String, Double] =
      rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.sortBy(_._2)
        val total = sorted.map(_._3).sum
        var acc = 0L
        g -> sorted.collectFirst {
          case (_, v, w) if { acc += w; acc >= q * total } => v
        }.get
      }
    val expect50 = brute(0.5); val expect90 = brute(0.9)
    for (parts <- Seq(1, 7, 40)) {
      val df = rnd.shuffle(rows).toDF("g", "v", "w").repartition(parts)
      val got = Quantiles.weightedQuantiles(df, Seq("g"), "v", "w",
        Seq("wp50" -> 0.5, "wp90" -> 0.9)).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      got.foreach { case (g, (p50, p90)) =>
        assert(p50 == expect50(g), s"$parts parts, group $g p50: $p50 vs ${expect50(g)}")
        assert(p90 == expect90(g), s"$parts parts, group $g p90: $p90 vs ${expect90(g)}")
      }
      assert(got.keySet == expect50.keySet)
    }
  }

  test("plan carries no TypedImperativeAggregate percentile buffer") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("g" + i % 3, i.toDouble)).toDF("g", "v")
    val plan = Quantiles.exactQuantiles(df, Seq("g"), "v", Seq("p50" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percentile("), "exact quantile must not fall back to percentile")
  }

  test("exactQuantiles, withQuantiles and equiDepthBins do not depend on the shuffle partition count") {
    import spark.implicits._
    val rnd = new Random(23)
    // one 3,000-row group with heavy ties (values repeat ~15 times, so
    // tie runs straddle range-partition boundaries), 1-2-row groups that
    // share a partition, a NULL key, and NULL values to ignore
    val rows: Seq[(Option[String], Option[Double])] =
      (1 to 3000).map(_ => Some("big") -> Some(rnd.nextInt(200) * 0.5)) ++
      Seq("s1" -> 1, "s2" -> 2, "s3" -> 1, "s4" -> 2, "s5" -> 2).flatMap { case (g, n) =>
        (1 to n).map(i => Some(g) -> Some(i * 1.25 + g.last.asDigit)) } ++
      (1 to 40).map(_ => None -> Some(rnd.nextInt(10).toDouble)) ++
      (1 to 20).map(i => Some(if (i % 2 == 0) "big" else "s1") -> Option.empty[Double])
    val df = rnd.shuffle(rows).toDF("g", "v").repartition(5)
    val groups = rows.filter(_._2.isDefined).groupBy(_._1)
      .map { case (g, rs) => g -> rs.flatMap(_._2).sorted }
    // weightedQuantiles reads an integral weight derived from the value
    // (every v·4 is an integer; weight 0 included)
    def weight(v: Double): Long = Math.floorMod((v * 4).toLong, 7L)
    val wdf = df.withColumn("w", pmod((col("v") * 4).cast("long"), lit(7L)))
    val wantWeighted: Map[Option[String], Seq[Double]] = groups.map { case (g, vs) =>
      val total = vs.map(weight).sum
      g -> qs.map { case (_, q) =>
        vs.scanLeft(0L)(_ + weight(_)).tail.zip(vs)
          .collectFirst { case (cw, v) if cw.toDouble >= q * total.toDouble => v }.get
      }
    }

    val k = 4
    // SQL NTILE(k) over each group's sorted values, then count/lo/hi/mean
    val wantBins: Map[(Option[String], Long), (Long, Double, Double, Double)] =
      groups.toSeq.flatMap { case (g, vs) =>
        val n = vs.length; val base = n / k; val rem = n % k
        vs.zipWithIndex.map { case (v, i) =>
          val rn = i + 1
          val bin = if (rn <= rem * (base + 1)) (rn - 1) / (base + 1) + 1
                    else rem + (rn - rem * (base + 1) - 1) / base + 1
          (g, bin.toLong) -> v
        }
      }.groupBy(_._1).map { case (key, xs) =>
        val vs = xs.map(_._2)
        key -> (vs.length.toLong, vs.min, vs.max, vs.sum / vs.length)
      }
    val wantCols = qs.map { case (n, q) => expr(s"percentile(v, $q)").as(n) }
    val want = df.groupBy(col("g")).agg(wantCols.head, wantCols.tail: _*).collect()
      .map(r => Option(r.getString(0)) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def quantilesOf(out: DataFrame): Seq[(Option[String], Seq[Double])] =
      out.select(col("g") +: qs.map(q => col(q._1)): _*).collect().toSeq
        .map(r => Option(r.getString(0)) -> qs.indices.map(i => r.getDouble(i + 1)))

    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled").map(key => key -> conf.get(key))
    try {
      // AQE would coalesce these few rows into one range partition
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      for (parts <- Seq(1, 3, 32)) {
        conf.set("spark.sql.shuffle.partitions", parts.toString)
        if (parts == 32) {
          // the fixture exercises what it claims: the big group spans
          // many range partitions and the small groups share one
          val span = df.filter(col("v").isNotNull).repartitionByRange(col("g"), col("v"))
            .withColumn("p", spark_partition_id())
            .groupBy(col("g")).agg(countDistinct(col("p")).as("p"))
            .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
          assert(span(Some("big")) >= 16, s"big group spans too few partitions: $span")
          assert(span.filter(_._1.exists(_.startsWith("s"))).values.forall(_ == 1L),
            s"small groups must not be split: $span")
        }

        val exact = quantilesOf(Quantiles.exactQuantiles(df, Seq("g"), "v", qs))
        assert(exact.map(_._1).toSet == want.keySet, s"$parts partitions: groups")
        for ((g, got) <- exact; i <- qs.indices)
          assert(close(got(i), want(g)(i)),
            s"$parts partitions, group $g ${qs(i)._1}: ${got(i)} vs ${want(g)(i)}")

        val annotated = Quantiles.withQuantiles(df, Seq("g"), "v", qs)
        val perRow = quantilesOf(annotated)
        assert(perRow.length == groups.values.map(_.length).sum, s"$parts partitions: rows")
        for ((g, got) <- perRow; i <- qs.indices)
          assert(close(got(i), want(g)(i)), s"$parts partitions, row of group $g ${qs(i)._1}")
        val rowValues = annotated.select(col("g"), col("v")).collect()
          .groupBy(r => Option(r.getString(0)))
          .map { case (g, rs) => g -> rs.map(_.getDouble(1)).sorted.toSeq }
        assert(rowValues == groups, s"$parts partitions: annotated rows differ from the input")

        val weighted = quantilesOf(Quantiles.weightedQuantiles(wdf, Seq("g"), "v", "w", qs))
        assert(weighted.length == wantWeighted.size && weighted.toMap == wantWeighted,
          s"$parts partitions: weighted quantiles ${weighted.toMap} vs $wantWeighted")

        val bins = Quantiles.equiDepthBins(df, Seq("g"), "v", k).collect()
          .map(r => (Option(r.getString(0)), r.getLong(1)) ->
            (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
        assert(bins.keySet == wantBins.keySet, s"$parts partitions: bins ${bins.keySet}")
        for ((key, (n, lo, hi, mean)) <- bins) {
          val (wn, wlo, whi, wmean) = wantBins(key)
          assert(n == wn && lo == wlo && hi == whi && close(mean, wmean),
            s"$parts partitions, bin $key: ${(n, lo, hi, mean)} vs ${wantBins(key)}")
        }
        spark.catalog.clearCache()
      }
    } finally saved.foreach { case (key, v) => conf.set(key, v) }
  }

  test("a warm q207_mad_outliers run stays at or below 14 Spark jobs") {
    // the benchmark's warm state: a second run in the same session, the
    // first run's cached sorted tables still in place. Ranked through the
    // per-(range partition, group) offsets table, it takes 14 jobs at
    // sf0.001 in this suite's session; more means the plan grew.
    def run(): Unit = SparkEntry.queries("q207_mad_outliers")(spark, sf).write
      .format("noop").mode("overwrite").save()
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    // the bus delivers queued events to the listeners registered at
    // delivery time: drain before registering and before reading
    val jobs = try {
      run()
      GraftSqlBridge.drainListenerBus(sc)
      sc.addSparkListener(listener)
      run()
      GraftSqlBridge.drainListenerBus(sc)
      started.get
    } finally { sc.removeSparkListener(listener); spark.catalog.clearCache() }
    info(s"warm q207 jobs: $jobs")
    assert(jobs <= 14, s"a warm q207 ran $jobs jobs")
  }
}
