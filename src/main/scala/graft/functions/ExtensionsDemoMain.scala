package graft.functions

import org.apache.spark.sql.functions._

/** Proof-of-injection smoke: builds the engine's session whose ONLY
  * graft wiring is `spark.sql.extensions=graft.functions.GraftExtensions`
  * (no programmatic register calls) and exercises every injected surface —
  * the native cosine_sim function from SQL, the as-of planner
  * strategy, and the as-of filter-pushdown rule. This is exactly how a
  * pure-SQL or third-party application consumes graft.
  *
  *   sbt "runMain graft.functions.ExtensionsDemoMain"
  *
  * (A ScalaTest version is impossible in the shared test JVM: suites
  * share one SparkContext and getOrCreate ignores extensions configs
  * on reuse.)
  */
object ExtensionsDemoMain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-extensions-demo", "2",
      Map("spark.sql.extensions" -> "graft.functions.GraftExtensions"))
    import spark.implicits._

    val cs = Seq((Array(1f, 0f), Array(1f, 0f)), (Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b").selectExpr("cosine_sim(a, b) AS cs")
      .collect().map(_.getDouble(0)).toSeq
    assert(cs == Seq(1.0, 0.0), s"cosine_sim via extensions: $cs")

    // the two sketch kernels resolve from SQL and agree with their
    // declarative reference forms
    val sk = Seq(Tuple1(Seq(5L, 17L, 42L))).toDF("hs")
      .selectExpr("minhash_sig(hs, 4) AS sg",
        "array(array_min(transform(hs, x -> xxhash64(0, x))), " +
          "array_min(transform(hs, x -> xxhash64(1, x))), " +
          "array_min(transform(hs, x -> xxhash64(2, x))), " +
          "array_min(transform(hs, x -> xxhash64(3, x)))) AS ref",
        "simhash_fp(hs, 60) AS fp")
      .collect()(0)
    assert(sk.getSeq[Long](0) == sk.getSeq[Long](1),
      s"minhash_sig via extensions: ${sk.getSeq[Long](0)} vs ${sk.getSeq[Long](1)}")
    assert(sk.getLong(2) != 0L, "simhash_fp via extensions returned a degenerate fp")

    // build the custom plan directly: ONLY the injected strategy can plan it
    val l = Seq((1L, 10L, "x"), (2L, 7L, "y")).toDF("k", "ts", "v")
    val r = Seq((1L, 9L, "m"), (1L, 4L, "n")).toDF("rk", "rts", "w")
    def attr(df: org.apache.spark.sql.DataFrame, n: String) =
      df.queryExecution.analyzed.output.find(_.name == n).get
    val plan = graft.plans.AsOfJoin(
      l.queryExecution.analyzed, r.queryExecution.analyzed,
      attr(l, "k"), attr(r, "rk"), attr(l, "ts"), attr(r, "rts"))
    val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
    val rows = df.select("v", "w").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(rows == Map("x" -> "m", "y" -> null), s"asof via extensions: $rows")

    val filtered = df.filter(col("k") === 1L)
    filtered.collect()
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("AsOfJoin"), optimized)
    // the injected rule pushed the left predicate below the custom node
    // (ConvertToLocalRelation then folds it into the LocalRelation
    // child entirely); without the rule the Filter would be stuck ABOVE
    // the opaque custom node
    val filterStuckAbove = optimized.linesIterator
      .takeWhile(!_.contains("AsOfJoin")).exists(_.contains("Filter"))
    assert(!filterStuckAbove, s"filter must be pushed below AsOfJoin:\n$optimized")

    println("[extensions-demo] ALL INJECTION PATHS OK")
    spark.stop()
  }
}
