package graft

import org.apache.spark.sql.functions._
import graft.ops.GlobalRank

/** Direct unit coverage of the single-plan global-order machinery the
  * rank/quantile/packing operators ride (the oracle checks cover them
  * end-to-end; this pins the helper itself under hostile layouts). */
class GlobalRankSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(1123L)
  // duplicates on v force the tie-break column to carry the ordering
  private val rows = Seq.tabulate(5000)(i => (rnd.nextInt(500).toLong, i.toLong))

  test("withRowNumbers: contiguous 1..N ranks in sort order, under any input layout") {
    val expected: Array[Long] =
      rows.sortBy { case (v, id) => (v, id) }.map(_._2).toArray
    for (parts <- Seq(1, 3, 32)) {
      val df = rows.toDF("v", "id").repartition(parts)
      val got = GlobalRank.withRowNumbers(df, Seq(col("v"), col("id")), "rn",
          totalCol = Some("total"))
        .select(col("rn"), col("id"), col("total")).collect()
      assert(got.length == rows.length)
      assert(got.forall(_.getLong(2) == rows.length), "totalCol must be N on every row")
      val byRank = got.sortBy(_.getLong(0))
      assert(byRank.map(_.getLong(0)).sameElements(
          Array.tabulate(rows.length)(i => i + 1L)),
        s"ranks must tile 1..N exactly (layout $parts)")
      assert(byRank.map(_.getLong(1)).sameElements(expected),
        s"rank order must equal the (v, id) total order (layout $parts)")
      spark.catalog.clearCache()
    }
  }

  test("withRunningSum: equals the sequential prefix sum, under any input layout") {
    // NEGATIVE values included: a partition's total is its LAST cumsum,
    // not its max — this distribution makes the two disagree
    val signed = rows.map { case (v, id) => (v - 250L, id) }
    val ref: Array[Long] = // sum of v ordered by id
      signed.sortBy(_._2).scanLeft(0L)(_ + _._1).tail.toArray
    for (parts <- Seq(1, 7)) {
      val df = signed.toDF("v", "id").repartition(parts)
      val got = GlobalRank.withRunningSum(df, Seq(col("id")), "v", "run")
        .select(col("id"), col("run")).collect()
        .sortBy(_.getLong(0)).map(_.getLong(1))
      assert(got.sameElements(ref), s"running sum diverges (layout $parts)")
      spark.catalog.clearCache()
    }
  }

  test("empty input yields empty output, no crash") {
    val df = Seq.empty[(Long, Long)].toDF("v", "id")
    assert(GlobalRank.withRowNumbers(df, Seq(col("v")), "rn").count() == 0)
    assert(GlobalRank.withRunningSum(df, Seq(col("id")), "v", "run").count() == 0)
  }

  test("withRunningSum: a NULL value raises a readable error, not an executor NPE") {
    val df = Seq((Some(1L), 1L), (None: Option[Long], 2L), (Some(3L), 3L))
      .toDF("v", "id")
    val ex = intercept[Exception] {
      GlobalRank.withRunningSum(df, Seq(col("id")), "v", "run").count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("NULL in value column 'v'")),
      s"expected the fail-loud guard message, got: ${messages(ex)}")
  }

  test("withRunningSums: multi-column equals column-by-column, signed values included") {
    val df = Seq((3L, -5L, 1L), (1L, 2L, 2L), (-4L, 7L, 3L), (10L, -1L, 4L))
      .toDF("a", "b", "id")
    val multi = GlobalRank.withRunningSums(df, Seq(col("id")),
        Seq("a" -> "ca", "b" -> "cb"))
      .select(col("id"), col("ca"), col("cb")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val single = {
      val s1 = GlobalRank.withRunningSum(df, Seq(col("id")), "a", "ca")
      GlobalRank.withRunningSum(s1, Seq(col("id")), "b", "cb")
        .select(col("id"), col("ca"), col("cb")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    assert(multi.toSeq == single.toSeq, s"multi ${multi.toSeq} vs single ${single.toSeq}")
    assert(multi.toSeq == Seq((1L, 3L, -5L), (2L, 4L, -3L), (3L, 0L, 4L), (4L, 10L, 3L)))
    // ungrouped, each sum's total is the whole input's, on every row
    val summed = GlobalRank.withRunningSums(df, Seq(col("id")),
      Seq("a" -> "ca", "b" -> "cb"))
    assert(summed.columns.toSet ==
      Set("a", "b", "id", "ca", "cb", "ca_total", "cb_total"))
    assert(summed.select(col("ca_total"), col("cb_total")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 3L)))
    spark.catalog.clearCache()
  }

  test("internal _gr_off / _gr_pid columns do not leak into output schemas") {
    val df = rows.toDF("v", "id")
    val rn = GlobalRank.withRowNumbers(df, Seq(col("v"), col("id")), "rn")
    assert(rn.columns.toSet == Set("v", "id", "rn"),
      s"withRowNumbers leaked internals: ${rn.columns.mkString(",")}")
    val rs = GlobalRank.withRunningSum(df, Seq(col("id")), "v", "run")
    assert(rs.columns.toSet == Set("v", "id", "run", "run_total"),
      s"withRunningSum leaked internals: ${rs.columns.mkString(",")}")
    spark.catalog.clearCache()
  }

  test("grouped withRowNumbers and withRunningSums equal partitionBy(g) windows at any shuffle width") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(97L)
    // one 3,000-row group with ties on v that spans many range
    // partitions, 1-row groups, a mid-size group, and a NULL key that
    // must stay a group
    val keys: Seq[Option[String]] = Seq.fill(3000)(Some("big")) ++
      (1 to 6).map(i => Some(s"one$i")) ++ Seq.fill(40)(Some("mid")) ++
      Seq.fill(50)(None)
    val df = rnd.shuffle(keys).zipWithIndex.map { case (g, id) =>
        (g, rnd.nextInt(300).toLong, id.toLong,
          rnd.nextInt(21).toLong - 10, rnd.nextInt(1001).toLong - 500) }
      .toDF("g", "v", "id", "a", "b").repartition(5)
    val order = Seq(col("v"), col("id"))
    val w = Window.partitionBy(col("g")).orderBy(order: _*)
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def byId(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      d.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    val want = byId(df.select(col("id"), row_number().over(w).cast("long"),
      count(lit(1)).over(all), sum(col("a")).over(upTo), sum(col("b")).over(upTo),
      sum(col("a")).over(all), sum(col("b")).over(all)))

    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled").map(key => key -> conf.get(key))
    try {
      // AQE would coalesce these few rows into one range partition
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      for (parts <- Seq(1, 3, 32)) {
        conf.set("spark.sql.shuffle.partitions", parts.toString)
        if (parts == 32) {
          val span = df.repartitionByRange(col("g") +: order: _*)
            .withColumn("p", spark_partition_id()).filter(col("g") === "big")
            .select(countDistinct(col("p"))).head().getLong(0)
          assert(span >= 16, s"the big group spans only $span range partitions")
        }
        val numbered = GlobalRank.withRowNumbers(df, order, "rn", Some("n"), Seq("g"))
        val summed = GlobalRank.withRunningSums(df, order,
          Seq("a" -> "ca", "b" -> "cb"), Seq("g"))
        assert(summed.columns.toSet ==
          Set("g", "v", "id", "a", "b", "ca", "cb", "ca_total", "cb_total"))
        val got = byId(numbered.select("id", "rn", "n"))
        val sums = byId(summed.select("id", "ca", "cb", "ca_total", "cb_total"))
        assert(got.keySet == want.keySet && sums.keySet == want.keySet,
          s"$parts partitions: rows lost or added")
        for ((id, ws) <- want) {
          assert(got(id) ++ sums(id) == ws,
            s"$parts partitions, id $id: ${got(id) ++ sums(id)} vs $ws")
        }
        spark.catalog.clearCache()
      }
    } finally saved.foreach { case (key, v) => conf.set(key, v) }
  }
}
