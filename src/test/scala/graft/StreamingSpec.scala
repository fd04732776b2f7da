package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming specs: each windowed streaming query must converge to its
  * batch twin's result when fed the full events directory (batch-
  * equivalence is the correctness oracle for streaming operators). */
class StreamingSpec extends SparkSuite {

  private lazy val eventsDir: String =
    EventStreams.stageAsDirectory(s"$sf/events.parquet")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }

  test("streaming tumbling counts converge to the batch time-bucket result") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.tumblingCounts(stream), "tumbling", "append")
    // append mode with watermark emits only windows the watermark has
    // passed; processAllAvailable on a static dir finalizes all but the
    // last open window(s). Compare on the emitted subset.
    val streamed = spark.table("tumbling")
      .groupBy("w_start").agg(sum("n").as("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Tables(spark, sf, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w_start"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (w, n) =>
      assert(batch.get(w).contains(n), s"window $w: streamed $n vs batch ${batch.get(w)}")
    }
  }

  test("streaming session windows match batch sessionization boundaries") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.sessionCounts(stream), "sessions", "append")
    val streamed = spark.table("sessions")
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    // batch twin: q31_sessionize (30-min gap sessions)
    val batch = ops.Profiling.queries("q31_sessionize")(spark, sf)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // every finalized streaming session must be a batch session
    val missing = streamed.filterNot(batch.contains)
    assert(missing.isEmpty, s"sessions not in batch result: ${missing.take(5).toSeq}")
  }

  test("dq trend monitor alerts once per threshold crossing, matching batch math") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val alerts = EventStreams.dqTrend(spark, events, threshold = 0.2, minSeen = 10)
      .collect()
    // alerts must report a fraction actually above threshold with enough
    // evidence, and at most a handful per user (re-arm semantics)
    alerts.foreach { a =>
      assert(a.error_fraction > 0.2 && a.n_seen >= 10, a.toString)
    }
    val perUser = alerts.groupBy(_.user_id).view.mapValues(_.length)
    assert(perUser.values.forall(_ <= 5), s"too many alerts: $perUser")
    // cross-check one alerting user against a batch prefix computation
    alerts.headOption.foreach { a =>
      val prefix = Tables(spark, sf, "events")
        .filter(col("user_id") === a.user_id)
        .orderBy(col("ts"), col("event_id"))
        .limit(a.n_seen.toInt)
      val errs = prefix.filter(col("event_type") === "error").count()
      assert(math.abs(errs.toDouble / a.n_seen - a.error_fraction) < 1e-12)
    }
  }

  test("stateful flatMapGroupsWithState sessionization equals batch sessions") {
    import spark.implicits._
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    // run the stateful operator in one batch-like pass (single group call)
    val sessions = EventStreams.statefulSessionize(spark, events)
    // closed sessions only (the last session per user stays open in state):
    val stateful = sessions.collect()
      .map(s => (s.user_id, s.session_start, s.n_events)).toSet
    val batch = ops.Profiling.queries("q31_sessionize")(spark, sf)
      .select("user_id", "session_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(stateful.nonEmpty)
    val missing = stateful.diff(batch)
    assert(missing.isEmpty, s"stateful sessions not in batch: ${missing.take(5)}")
  }

  test("streaming dedup-within-watermark drops repeated content keys, keeps all distinct ones") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.dedupWithinWatermark(stream), "deduped", "append")
    val streamed = spark.table("deduped")
    val batchDistinct = Tables(spark, sf, "events")
      .select(sha2(concat_ws("|", col("user_id"), col("event_type"), col("value")), 256))
      .distinct().count()
    val n = streamed.count()
    // one directory = one micro-batch here, so every distinct key
    // survives exactly once; at minimum no over-delivery, no total loss
    assert(n == batchDistinct,
      s"streaming dedup kept $n rows, batch-distinct says $batchDistinct")
    assert(streamed.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("foreachBatch upsert state table converges to latest event per key") {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_upsert").resolve("state").toString
    val stream = EventStreams.readEvents(spark, eventsDir)
    val q = EventStreams.upsertLatestPerKey(stream, statePath)
    q.processAllAvailable(); q.stop()
    val state = spark.read.parquet(statePath)
    // batch twin: latest (ts, event_id) per (user_id, event_type)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(desc("ts"), desc("event_id"))
    val expected = Tables(spark, sf, "events")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
    assert(state.count() == expected.count())
    assert(state.except(expected).isEmpty && expected.except(state).isEmpty,
      "state table must equal the batch-computed latest-per-key")
  }

  test("foreachBatch upsert never regresses on a late micro-batch with older events") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_upsert_ooo")
    val statePath = Files.createTempDirectory("graft_upsert_ooo_state")
      .resolve("state").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // file 1: the NEWER event arrives first; file 2: a late event with an
    // OLDER event time for the same key arrives in a later micro-batch
    def stageFile(name: String, modEpochMs: Long,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_upsert_part")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = srcDir.resolve(name)
      Files.copy(part, dest)
      dest.toFile.setLastModified(modEpochMs)
    }
    val t0 = System.currentTimeMillis() - 600000
    stageFile("f1.parquet", t0,
      Seq((2L, ts("2024-01-01 10:00:00"), 1L, "click", 2.0),
          (10L, ts("2024-01-01 08:00:00"), 2L, "view", 5.0)))
    stageFile("f2.parquet", t0 + 60000,
      Seq((1L, ts("2024-01-01 09:00:00"), 1L, "click", 1.0),
          (11L, ts("2024-01-01 08:30:00"), 2L, "view", 6.0)))
    val schema = spark.read.parquet(srcDir.resolve("f1.parquet").toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val q = EventStreams.upsertLatestPerKey(stream, statePath)
    q.processAllAvailable(); q.stop()
    val state = spark.read.parquet(statePath)
      .select("user_id", "event_type", "last_ts", "last_event_id", "last_value")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getLong(3), r.getDouble(4))).toSet
    assert(state == Set(
      (1L, "click", ts("2024-01-01 10:00:00"), 2L, 2.0),
      (2L, "view", ts("2024-01-01 08:30:00"), 11L, 6.0)),
      s"late older event must not regress state; got $state")
  }

  test("stream-stream join attributes purchases to in-window clicks like batch") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.purchaseClickAttribution(stream), "attrib", "append")
    val streamed = spark.table("attrib")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = EventStreams
      .purchaseClickAttribution(Tables(spark, sf, "events"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "fixture must contain in-window purchase-click pairs")
    // an inner stream-stream join emits a pair once BOTH sides have
    // arrived and may withhold pairs still inside the final open
    // watermark window; on a static directory processAllAvailable
    // emits everything whose watermark passed — every emitted pair
    // must be a batch pair, and the emitted set must cover all batch
    // pairs whose event times the final watermark passed
    assert(streamed.subsetOf(batch),
      s"streamed pairs must be batch pairs; extra: ${streamed -- batch}")
    assert(streamed.nonEmpty, "join must emit matured pairs")
  }

  test("stream-static enrichment broadcasts the profile and flags outliers like batch") {
    val profile = Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("profile_n"), avg("value").as("profile_avg"))
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.enrichAgainstStatic(stream, profile), "enriched", "append")
    val streamed = spark.table("enriched")
    assert(streamed.count() == Tables(spark, sf, "events").count(),
      "left join must not drop or duplicate events")
    // recompute the flag in batch and compare the outlier id sets
    val batchOutliers = Tables(spark, sf, "events").join(profile, "user_id")
      .filter(abs(col("value")) > abs(col("profile_avg")) * 3)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val streamOutliers = streamed.filter(col("is_outlier"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamOutliers == batchOutliers)
  }

  test("streaming value histogram converges to the batch q116 buckets") {
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.valueHistogram(stream), "vhist", "complete")
    val streamed = spark.table("vhist").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val batch = ops.Extended.queries("q116_value_histogram")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    // q116 rounds lo/hi to 6 decimals for the oracle; round here too
    def r6m(m: Map[Long, (Long, Double, Double)]) =
      m.view.mapValues { case (n, lo, hi) =>
        (n, math.rint(lo * 1e6) / 1e6, math.rint(hi * 1e6) / 1e6) }.toMap
    assert(r6m(streamed) == r6m(batch),
      s"histogram drift: streamed ${streamed.size} buckets vs batch ${batch.size}")
  }

  test("live incident feed: streaming dashboard metrics track batch across appends") {
    import graft.incidents.IncidentLog
    import graft.incidents.IncidentLog.Incident
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_stream").toString
    def inc(id: String, stage: String, status: String) =
      Incident(id, "p", "d", stage, status, "", "", "{}", "{}")
    IncidentLog.append(spark, dir, inc("baseline-001", "baseline", "success"))
    IncidentLog.append(spark, dir, inc("drifted-002", "drifted", "failed"))

    val feed = IncidentLog.readIncidentStream(spark, dir)
    val q = IncidentLog.metricsStream(feed).writeStream
      .outputMode("complete").format("memory").queryName("inc_metrics").start()
    val facets = IncidentLog.facetCountsStream(IncidentLog.readIncidentStream(spark, dir))
      .writeStream.outputMode("complete").format("memory").queryName("inc_facets").start()
    try {
      q.processAllAvailable(); facets.processAllAvailable()
      def streamedMetrics() = {
        val r = spark.table("inc_metrics").collect().head
        IncidentLog.Metrics(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      assert(streamedMetrics() == IncidentLog.metrics(IncidentLog.read(spark, dir)))

      // the feed must be LIVE: new appends update the counters without
      // restarting the query (the reference re-reads the file per
      // dashboard interaction; here the micro-batch picks it up)
      IncidentLog.append(spark, dir, inc("healing-003", "healing", "healing_actions_applied"))
      IncidentLog.append(spark, dir, inc("post-healing-004", "post_healing", "healed_success"))
      q.processAllAvailable(); facets.processAllAvailable()
      val m = streamedMetrics()
      assert(m == IncidentLog.metrics(IncidentLog.read(spark, dir)))
      assert(m.total == 4 && m.healed == 1)

      val facetRows = spark.table("inc_facets").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(facetRows == Map(
        ("baseline", "success") -> 1L, ("drifted", "failed") -> 1L,
        ("healing", "healing_actions_applied") -> 1L,
        ("post_healing", "healed_success") -> 1L))
    } finally { q.stop(); facets.stop() }
  }

  test("streaming incremental stats sink converges to the batch moment state") {
    val statePath = java.nio.file.Files
      .createTempDirectory("graft_inc_stats").resolve("state").toString
    // maxFilesPerTrigger forces MULTIPLE micro-batches, so the merge
    // path (not just the first-batch bootstrap) is exercised — the
    // staged dir is one file, so split the events into two stage files
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_stats_src")
    val e = Tables(spark, sf, "events")
    e.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$dir/p0")
    e.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = EventStreams.incrementalStatsSink(stream, "event_type", "value", statePath)
    q.processAllAvailable(); q.stop()
    val state = spark.read.parquet(statePath).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum"), r.getAs[Double]("m2"))).toMap
    val batch = graft.ops.IncrementalAgg.state(e, "event_type", "value").collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum"), r.getAs[Double]("m2"))).toMap
    assert(state.keySet == batch.keySet)
    state.foreach { case (k, (n, s, m2)) =>
      val (bn, bs, bm2) = batch(k)
      assert(n == bn, s"$k n: $n vs $bn")
      assert(math.abs(s - bs) < 1e-9 && math.abs(m2 - bm2) < 1e-6,
        s"$k: sum $s vs $bs, m2 $m2 vs $bm2")
    }
  }

  test("streaming point-in-time enrichment equals the batch q126 interval join") {
    val e = Tables(spark, sf, "events")
    val hist = graft.ops.Scd2.build(
      e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("h_user"), col("ts"),
          col("event_id").as("version_id"), col("value").as("h_value")),
      "h_user", "ts", "version_id")
    val stream = EventStreams.readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
    runToMemory(EventStreams.enrichPointInTime(stream, hist), "pit", "append")
    val streamed = spark.table("pit")
      .select(col("event_id"), col("version_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val batch = ops.Extended.queries("q126_pit_join")(spark, sf)
      .select(col("click_id"), col("version_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed PIT versions must equal batch: sizes ${streamed.size}/${batch.size}")
  }

  private def mgShard(u: Long, shards: Int): Int =
    math.floorMod(java.lang.Long.hashCode(u), shards)

  test("streaming Misra-Gries: eviction, bounded state, guarantee on a skewed stream") {
    import spark.implicits._
    // 1 whale (500 events) + 100 minnows (3 each) — far more distinct
    // users than capacity, so the decrement-all eviction must fire
    val k = 8; val shards = 2
    def ev(id: Long, u: Long) = EventStreams.Event(id,
      new java.sql.Timestamp(1700000000000L + id * 1000), u, "click", 1.0)
    var id = 0L
    val rows = new scala.util.Random(42).shuffle(
      ((1 to 500).map(_ => 0L) ++ (1L to 100L).flatMap(u => Seq(u, u, u))).toList)
      .map { u => id += 1; ev(id, u) }
    val cands = EventStreams
      .heavyHitterCandidates(spark, rows.toDS(), k, shards).collect()
    // bounded state: at most k candidates per shard
    cands.groupBy(_.shard).foreach { case (s, cs) =>
      assert(cs.length <= k, s"shard $s tracks ${cs.length} > $k") }
    // eviction really happened: far fewer candidates than distinct users
    assert(cands.length < 101, "eviction must discard most minnows")
    // the whale's shard stream: 500 whale + its minnows' events
    val shardTotals = rows.groupBy(e => mgShard(e.user_id, shards))
      .view.mapValues(_.size.toLong).toMap
    val whaleSlack = shardTotals(mgShard(0L, shards)).toDouble / (k + 1)
    assert(500.0 > whaleSlack, "fixture sanity: whale must be MG-guaranteed")
    val whale = cands.find(_.user_id == 0L)
    assert(whale.isDefined, "whale above the MG bound must be tracked")
    assert(whale.get.est <= 500 && whale.get.est >= 500 - whaleSlack,
      s"whale estimate ${whale.get.est} outside [${500 - whaleSlack}, 500]")
  }

  test("streaming Misra-Gries candidates verify to the exact heavy hitters (q110 twin)") {
    import spark.implicits._
    val k = 16; val shards = 4
    val events = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[EventStreams.Event]
    val cands = EventStreams.heavyHitterCandidates(spark, events, k, shards).collect()
    val counts = Tables(spark, sf, "events").groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shardTotals = counts.groupBy { case (u, _) => mgShard(u, shards) }
      .view.mapValues(_.values.sum).toMap
    // every user above their shard's MG bound is guaranteed present,
    // with an estimate inside [c - n_s/(k+1), c]
    val est = cands.map(c => c.user_id -> c.est).toMap
    counts.foreach { case (u, c) =>
      val slack = shardTotals(mgShard(u, shards)).toDouble / (k + 1)
      if (c > slack) {
        assert(est.contains(u), s"user $u (count $c > bound $slack) missing")
        assert(est(u) <= c && est(u) >= c - slack,
          s"user $u estimate ${est(u)} outside [${c - slack}, $c]")
      }
    }
    // sketch-then-verify (q110's second phase, batch): exact-counting
    // only the candidate set reproduces the exact heavy-hitter set
    val total = counts.values.sum
    val exactHeavy = counts.filter(_._2 > total.toDouble / k).keySet
    assert(exactHeavy.nonEmpty, "fixture sanity: heavy users must exist at k=16")
    val verified = est.keySet.filter(u => counts(u) > total.toDouble / k)
    assert(verified == exactHeavy,
      s"verified candidates must equal exact heavy hitters; " +
        s"missing ${exactHeavy -- verified}, extra ${verified -- exactHeavy}")
  }

  test("KLL sketch state stays bounded and deterministic under permutation-heavy feeds") {
    import graft.streaming.{KllOps, KllState}
    val k = 32
    val empty = KllState(Array(Array.empty), Array(0), 0L)
    // 100k values in a hostile order (interleaved high/low)
    val vals = (0 until 100000).map(i => if (i % 2 == 0) i.toDouble else (100000 - i).toDouble)
    val s = KllOps.update(empty, vals.iterator, k)
    assert(s.n == 100000L)
    val resident = s.levels.map(_.length).sum
    val levels = s.levels.length
    assert(levels <= 14, s"levels $levels should be ~log2(n/k)")
    assert(resident <= k * levels,
      s"resident $resident must be bounded by k*levels = ${k * levels}")
    // deterministic: same feed -> bit-identical estimates
    val s2 = KllOps.update(empty, vals.iterator, k)
    assert(KllOps.estimate(s, Seq(0.25, 0.5, 0.75)) ==
      KllOps.estimate(s2, Seq(0.25, 0.5, 0.75)))
    // rank band on the known uniform distribution
    val Seq(p25, p50, p75) = KllOps.estimate(s, Seq(0.25, 0.5, 0.75))
    assert(math.abs(p25 - 25000) < 5000 && math.abs(p50 - 50000) < 5000 &&
      math.abs(p75 - 75000) < 5000, s"estimates ($p25, $p50, $p75) out of band")
    // incremental: one feed in two chunks equals state size bounds too
    val sA = KllOps.update(empty, vals.iterator.take(50000), k)
    val sB = KllOps.update(sA, vals.iterator.drop(50000), k)
    assert(sB.n == 100000L)
    assert(sB.levels.map(_.length).sum <= k * sB.levels.length)
  }

  test("streaming rolling anomaly counter converges to the batch q143 report") {
    import spark.implicits._
    // order-sensitive operator: split micro-batches on a TIME boundary
    // (not id parity) so the feed arrives in event-time order
    val dir = java.nio.file.Files.createTempDirectory("graft_roll_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val evs = normalized.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[EventStreams.Event]
    val q = EventStreams.rollingAnomalies(spark, evs).toDF()
      .writeStream.outputMode("append").format("memory").queryName("roll").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("roll").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) =>
        val last = rs.maxBy(_.getAs[Long]("n_events"))
        t -> (last.getAs[Long]("n_events"), last.getAs[Long]("n_anomalies"))
      }
    val batch = SparkEntry.queries("q143_rolling_anomaly")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_anomalies"))).toMap
    assert(streamed == batch, s"streaming $streamed must equal batch $batch")
  }

  test("streaming Markov transitions converge to the batch q171 transition counts") {
    // two time-split files force per-user state to carry a last-type
    // across the micro-batch boundary — the cross-batch contract
    val dir = java.nio.file.Files.createTempDirectory("graft_markov_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    runToMemory(EventStreams.markovTransitions(spark, normalized).toDF(), "markov")
    val streamed = spark.table("markov").collect()
      .groupBy(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")))
      .map { case (k, rs) => k -> rs.length.toLong }
    val batch = SparkEntry.queries("q171_session_markov")(spark, sf).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        r.getAs[Long]("n")).toMap
    assert(streamed == batch, s"streaming $streamed must equal batch $batch")
  }

  test("streaming EWMA chart matches the batch q201 frame across a time-split boundary") {
    // time-split files: hour counts must carry across the micro-batch
    // boundary (a mid-hour cut forces a re-emission of the cut hour),
    // and zero hours between the batches' frontiers must still emit
    val dir = java.nio.file.Files.createTempDirectory("graft_ewma_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    runToMemory(EventStreams.ewmaChart(spark, normalized).toDF(), "ewma")
    // an hour's count only grows under the time-ordered feed — the
    // row with the max count is the last emission for that hour
    val streamed = spark.table("ewma").collect()
      .groupBy(r => (r.getAs[String]("event_type"), r.getAs[Long]("hr")))
      .map { case (k, rs) =>
        val last = rs.maxBy(_.getAs[Long]("c"))
        k -> (last.getAs[Long]("c"), last.getAs[Double]("ewma"))
      }
    val batch = graft.ops.Statistics.ewmaFrame(Tables(spark, sf, "events"))
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hr")) ->
        (r.getAs[Long]("c"), r.getAs[Double]("ewma"))).toMap
    assert(streamed.keySet == batch.keySet,
      s"hour grids differ: stream-only=${streamed.keySet -- batch.keySet} " +
        s"batch-only=${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (k, (c, ew)) =>
      assert(c == batch(k)._1, s"count mismatch at $k: $c vs ${batch(k)._1}")
      assert(math.abs(ew - batch(k)._2) < 1e-6,
        s"ewma mismatch at $k: $ew vs ${batch(k)._2}")
    }
  }

  test("streaming SPRT converges to the batch q291 decisions across a time-split boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sprt_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    runToMemory(EventStreams.sprtDecisions(spark, normalized).toDF(), "sprt")
    val streamed = spark.table("sprt").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.maxBy(_.getAs[Long]("n_events")) }
    val batch = SparkEntry.queries("q291_sprt_sequential")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(streamed.keySet == batch.keySet,
      s"type sets differ: stream=${streamed.keySet} batch=${batch.keySet}")
    streamed.foreach { case (t, r) =>
      val b = batch(t)
      assert(r.getAs[Long]("n_events") == b.getAs[Long]("n_events"),
        s"n_events mismatch at $t")
      assert(r.getAs[Long]("n_at_decision") == b.getAs[Long]("n_at_decision"),
        s"n_at_decision mismatch at $t: ${r.getAs[Long]("n_at_decision")} vs " +
          s"${b.getAs[Long]("n_at_decision")}")
      assert(r.getAs[Long]("w_at_decision") == b.getAs[Long]("w_at_decision"),
        s"w_at_decision mismatch at $t")
      assert(r.getAs[String]("decision") == b.getAs[String]("decision"),
        s"decision mismatch at $t")
    }
  }

  test("streaming CUSUM monitor converges to the batch q233 rows across a time-split boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cusum_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    runToMemory(EventStreams.cusumShift(spark, normalized).toDF(), "cusum")
    // n_events grows monotonically — the max-n_events row per type is
    // the emission after the final micro-batch (the converged summary)
    val streamed = spark.table("cusum").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.maxBy(_.getAs[Long]("n_events")) }
    val batch = SparkEntry.queries("q233_cusum_shift")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(streamed.keySet == batch.keySet,
      s"type sets differ: stream=${streamed.keySet} batch=${batch.keySet}")
    streamed.foreach { case (t, r) =>
      val b = batch(t)
      assert(r.getAs[Long]("n_days") == b.getAs[Long]("n_days"),
        s"n_days mismatch at $t")
      assert(math.abs(r.getAs[Double]("max_cusum") -
          b.getAs[Double]("max_cusum")) < 1e-6,
        s"max_cusum mismatch at $t: ${r.getAs[Double]("max_cusum")} vs " +
          s"${b.getAs[Double]("max_cusum")}")
      assert(r.getAs[Long]("n_alarms") == b.getAs[Long]("n_alarms"),
        s"n_alarms mismatch at $t")
      assert(r.getAs[java.lang.Long]("first_alarm_day") ==
          b.getAs[java.lang.Long]("first_alarm_day"),
        s"first_alarm_day mismatch at $t")
    }
  }

  test("streaming Holt trend smoother converges to the batch q339 rows across a time-split boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft_holt_src")
    val e = Tables(spark, sf, "events")
    val cut = e.agg(expr("percentile_approx(cast(ts as long), 0.5)")).head.getLong(0)
    e.filter(col("ts").cast("long") < cut).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("ts").cast("long") >= cut).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String, mtime: Long): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = java.nio.file.Paths.get(s"$dir/$name")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val t0 = System.currentTimeMillis()
    move("p0", "f0.parquet", t0 - 60000); move("p1", "f1.parquet", t0)
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    runToMemory(EventStreams.holtTrend(spark, normalized).toDF(), "holt")
    // n_events grows monotonically — keep the post-final-batch row
    val streamed = spark.table("holt").collect()
      .groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.maxBy(_.getAs[Long]("n_events")) }
    val batch = SparkEntry.queries("q339_holt_trend")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(streamed.keySet == batch.keySet,
      s"type sets differ: stream=${streamed.keySet} batch=${batch.keySet}")
    streamed.foreach { case (t, r) =>
      val b = batch(t)
      assert(r.getAs[Long]("n_days") == b.getAs[Long]("n_days"),
        s"n_days mismatch at $t")
      Seq("level", "trend", "forecast_h3", "sse_holt").foreach { c =>
        assert(math.abs(r.getAs[Double](c) - b.getAs[Double](c)) < 1e-6,
          s"$c mismatch at $t: ${r.getAs[Double](c)} vs ${b.getAs[Double](c)}")
      }
      assert(r.getAs[Long]("sse_naive") == b.getAs[Long]("sse_naive"),
        s"sse_naive mismatch at $t")
    }
  }

  test("streaming Welch drift screen (Complete mode) converges to the batch q166 row") {
    val dir = java.nio.file.Files.createTempDirectory("graft_welch_src")
    val e = Tables(spark, sf, "events")
    e.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("event_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    runToMemory(EventStreams.welchDrift(spark, raw), "welch", "complete")
    // Complete mode: the table holds the LATEST emission = full feed
    val got = spark.table("welch").collect()
    assert(got.length == 1)
    val batch = SparkEntry.queries("q166_welch_t")(spark, sf).collect().head
    assert(got.head.getAs[Long]("n_click") == batch.getAs[Long]("n_click"))
    assert(got.head.getAs[Long]("n_purchase") == batch.getAs[Long]("n_purchase"))
    assert(math.abs(got.head.getAs[Double]("t_stat") -
      batch.getAs[Double]("t_stat")) < 1e-9)
    assert(math.abs(got.head.getAs[Double]("welch_df") -
      batch.getAs[Double]("welch_df")) < 1e-9)
  }

  test("streaming curation funnel (Complete mode) converges to the batch q140 counts") {
    // the q140 fused aggregate IS the streaming query — Complete-mode
    // global aggregation over a document stream; two files force the
    // incremental-maintenance path
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_src")
    val d = Tables(spark, sf, "documents")
    d.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/p0")
    d.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    // leg 1: the fused count_if aggregate (distinct aggs are forbidden
    // on streams, so the dedup stage rides leg 2)
    val q = graft.llm.TextAnalysis.curationCounts(stream, withDedup = false)
      .writeStream.outputMode("complete").format("memory").queryName("funnel").start()
    // leg 2: dedup stage via state-backed dropDuplicates + count
    val q2 = stream.filter(graft.llm.TextAnalysis.funnelSurvivor)
      .select(sha2(col("text"), 256).as("h")).dropDuplicates("h")
      .agg(count(lit(1)).as("deduped"))
      .writeStream.outputMode("complete").format("memory").queryName("funnel_dedup").start()
    q.processAllAvailable(); q2.processAllAvailable(); q.stop(); q2.stop()
    val streamed = spark.table("funnel").collect().last.toSeq ++
      spark.table("funnel_dedup").collect().last.toSeq
    val batch = graft.llm.TextAnalysis.curationCounts(d).collect().head.toSeq
    assert(streamed == batch,
      s"streaming funnel $streamed must equal batch $batch")
  }

  test("streaming quantile sketch tracks the exact batch quantiles within the rank band") {
    import spark.implicits._
    // two staged files + maxFilesPerTrigger=1 -> two micro-batches, so
    // the sketch state MERGES across batches instead of bootstrapping
    val dir = java.nio.file.Files.createTempDirectory("graft_qsketch_src")
    val e = Tables(spark, sf, "events")
    e.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/p0")
    e.filter(col("event_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val normalized =
      if (schema.fields.exists(f => f.name == "ts" &&
          f.dataType == org.apache.spark.sql.types.LongType))
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    val evs = normalized.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[EventStreams.Event]
    val q = EventStreams.quantileSketch(spark, evs).toDF()
      .writeStream.outputMode("append").format("memory").queryName("qsketch").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("qsketch").collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    // per key: one emission per micro-batch that saw it, with growing n
    // (proves the state actually carried over, not re-bootstrapped)
    byType.foreach { case (t, rs) =>
      assert(rs.length >= 2, s"$t: expected an emission per micro-batch, got ${rs.length}")
      val ns = rs.map(_.getAs[Long]("n")).sorted
      assert(ns.distinct.length == ns.length && ns.last > ns.head,
        s"$t: n must strictly grow across micro-batches, got ${ns.mkString(",")}")
    }
    val exact = e.select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val eps = 0.05
    exact.foreach { case (t, vals) =>
      val fin = byType(t).maxBy(_.getAs[Long]("n"))
      assert(fin.getAs[Long]("n") == vals.length,
        s"$t: final n ${fin.getAs[Long]("n")} vs exact ${vals.length}")
      Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75").foreach { case (qq, colName) =>
        val est = fin.getAs[Double](colName)
        val rLo = vals.count(_ < est)
        val rHi = vals.count(_ <= est)
        val target = qq * vals.length
        assert(target >= rLo - eps * vals.length && target <= rHi + eps * vals.length,
          s"$t $colName=$est: rank [$rLo,$rHi] vs target $target ± ${eps * vals.length}")
      }
    }
  }

  test("streaming near-dup pairs equal the batch q35 pair set across micro-batches") {
    // two staged files + maxFilesPerTrigger=1 -> pairs whose members
    // arrive in DIFFERENT micro-batches prove the bucket state carries
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_src")
    val d = Tables(spark, sf, "documents")
    d.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/p0")
    d.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    runToMemory(EventStreams.nearDupPairs(spark, stream).toDF(), "neardup")
    // at-least-once per shared band: dedup on the pair key
    val streamed = spark.table("neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = SparkEntry.queries("q35_dedup_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.nonEmpty, "fixture should contain >= 0.8-jaccard pairs")
    assert(streamed.keySet == batch.keySet,
      s"missing: ${batch.keySet.diff(streamed.keySet)}; extra: ${streamed.keySet.diff(batch.keySet)}")
    streamed.foreach { case (k, raw) =>
      assert(math.abs(raw - batch(k)) <= 5e-5 + 1e-9,
        s"pair $k: streamed jaccard $raw vs batch (r4) ${batch(k)}")
    }
    spark.catalog.clearCache()
  }

  test("streaming conformal coverage converges to the batch q356 counts") {
    // batch-calibrated model (the serve artifact), pinned before the
    // stream starts — the static join side must not re-derive per batch
    val model = ops.Inference.conformalModel(spark, sf).cache()
    assert(model.count() > 0, "conformal model must calibrate on the fixture")
    val stream = EventStreams.readEvents(spark, eventsDir)
    runToMemory(EventStreams.conformalCoverage(spark, stream, model),
      "conf_cov", "complete")
    def toMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_test"), r.getAs[Long]("n_covered")))).toMap
    val streamed = toMap(spark.table("conf_cov").collect())
    val batch = toMap(
      SparkEntry.queries("q356_conformal_coverage")(spark, sf).collect())
    assert(streamed == batch,
      s"live conformal counts $streamed diverge from batch $batch")
    model.unpersist()
    spark.catalog.clearCache()
  }
}
