package graft

import org.apache.spark.sql.functions._

/** Semantic property pins for the round-10 analytics wave — the
  * invariants each operator exists to provide, beyond the value-level
  * oracle gate (which would pass even if, say, the isotonic fit were
  * replaced by the raw accuracies on a monotone fixture):
  *
  *  - q355: the calibrated curve is NON-DECREASING in bin — the whole
  *    point of isotonic regression; also never leaves [0, 1].
  *  - q352: greedy max-coverage marginal gains are NON-INCREASING —
  *    the submodularity signature; a covered-set bookkeeping bug
  *    (stale anti-join set) shows as a gain that grows back.
  *  - q354: the cross-split edge contract is exactly 0 — the Spark
  *    side derives it from data, so this pins the rep-inheritance.
  *  - q358: the fitted Heaps exponent is strictly sublinear (0 < β
  *    < 1) and predictions grow with the horizon.
  *  - q360: the MMR pick set is strictly more diverse (lower MEAN
  *    pairwise similarity) than the plain top-5-by-relevance set,
  *    on the fixture where the two differ.
  */
class Round10WaveSpec extends SparkSuite {

  // sf0.01: the sf0.001 fixture's tiny pair graph can make q354/q360
  // degenerate (no clusters / identical pick sets)
  private val sf01 = "/root/testdata/sf0.01"

  test("q355: isotonic calibrated curve is monotone and in [0, 1]") {
    val rows = SparkEntry.queries("q355_isotonic_calibration")(spark, sf)
      .orderBy(col("bin")).collect()
    val cal = rows.map(_.getAs[Double]("calibrated"))
    assert(cal.nonEmpty)
    cal.foreach(c => assert(c >= 0.0 && c <= 1.0, s"calibrated $c out of [0,1]"))
    cal.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, s"isotonic fit decreased: $a -> $b")
    case _ => () }
  }

  test("q352: greedy coverage gains are non-increasing (submodularity)") {
    val rows = SparkEntry.queries("q352_coverage_greedy")(spark, sf)
      .orderBy(col("step")).collect()
    val gains = rows.map(_.getAs[Long]("marginal_gain"))
    assert(gains.length == 5)
    gains.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"marginal gain grew back: $a -> $b")
    case _ => () }
    // covered_total is the running sum of gains (each pick's new
    // shingles are exactly its marginal gain)
    assert(rows.map(_.getAs[Long]("covered_total")).toSeq ==
      gains.scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("q354: no near-dup edge crosses splits") {
    val rows = SparkEntry.queries("q354_leakage_safe_split")(spark, sf01)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r =>
      assert(r.getAs[Long]("cross_split_edges") == 0L,
        "cluster-aware split leaked a pair-graph edge across splits"))
  }

  test("q358: Heaps exponent is sublinear and predictions grow") {
    val r = SparkEntry.queries("q358_heaps_extrapolation")(spark, sf01)
      .collect()(0)
    val beta = r.getAs[Double]("beta")
    assert(beta > 0.0 && beta < 1.0, s"Heaps beta $beta not sublinear")
    val (p10, p100, p1000) = (r.getAs[Double]("pred_shingles_x10"),
      r.getAs[Double]("pred_shingles_x100"),
      r.getAs[Double]("pred_shingles_x1000"))
    assert(r.getAs[Long]("shingles_now") < p10 && p10 < p100 && p100 < p1000)
  }

  test("q360: MMR picks are more diverse than plain top-5 relevance") {
    val e = Tables(spark, sf01, "embeddings")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    def meanPairSim(ids: Seq[Long]): Double = {
      val sel = e.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id").as("id"), col("embedding"))
      sel.as("a").crossJoin(sel.as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(expr("cosine_sim(a.embedding, b.embedding)").as("s"))
        .agg(avg(col("s"))).collect()(0).getDouble(0)
    }
    val mmr = SparkEntry.queries("q360_mmr_rerank")(spark, sf01)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val top5 = e.crossJoin(broadcast(qv)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(expr("cosine_sim(embedding, qe)"), 6).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(5)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    if (mmr.toSet != top5.toSet)
      assert(meanPairSim(mmr) < meanPairSim(top5),
        "MMR picked a set at least as self-similar as plain top-k")
    // relevance ordering sanity: the first MMR pick IS the top-1
    assert(mmr.head == top5.head, "MMR round 1 must be pure relevance")
  }
}
