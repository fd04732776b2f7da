package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A repeated query mix compiles each generated class once per JVM.
  * Spark's compiled-class cache defaults to 100 entries, fewer than the
  * mix below needs, so at that size every pass evicts each class
  * before its next use and compiles it again. */
class CodegenReuseSpec extends SparkSuite {

  // the perfbench `queries` mix: robust statistics, sketched
  // percentiles, a shuffle-heavy census, an LLM dedup, a short query
  private val mix = Seq("q207_mad_outliers", "q112_sketch_percentiles",
    "q274_degree_census", "q187_editdist_dedup", "q14_running_sum")

  test("a repeated board-query mix stops compiling generated classes after its first cycles") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each query is written to the noop sink, so every output column is
    // computed, as the benchmark does
    val perCycle = try (1 to 3).map { _ =>
      val c0 = compiled
      mix.foreach(q => SparkEntry.queries(q)(spark, sf).write
        .format("noop").mode("overwrite").save())
      compiled - c0
    } finally spark.catalog.clearCache()
    info(s"classes compiled per cycle: ${perCycle.mkString(", ")}")
    // cycle 2 may still compile: caches the first cycle filled change
    // some plans (GlobalRank's cached intermediates)
    assert(perCycle(0) > 100,
      s"the mix must need more classes than Spark's default cache holds: $perCycle")
    assert(perCycle(2) * 10 < perCycle(0), s"classes compiled per cycle: $perCycle")
  }
}
