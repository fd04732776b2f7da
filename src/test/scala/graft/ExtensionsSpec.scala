package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.ops.AsOf
import graft.plans.{AsOfJoin, AsOfJoinStrategy}

/** `GraftExtensions` is the one registry of graft's native surface, and
  * every `GraftSession` installs it: the suite session resolves all
  * nine functions from SQL and plans the as-of node with the injected
  * strategy and rules, with no per-call registration anywhere. The last
  * test scans the sources (no Spark) so a second registration route
  * cannot come back. */
class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  test("all nine native functions resolve from SQL") {
    val row = spark.sql(
      """SELECT cosine_sim(v, v) AS cs, minhash_sig(hs, 4) AS mh,
        |  simhash_fp(hs, 60) AS fp, pool_hash_vec(hs, 8) AS pv,
        |  char_grams(text, 2) AS cg, shingle_hashes(toks, 2) AS sh,
        |  shingle_hashes_all(toks, 2) AS sha, token_counts(text) AS tc,
        |  token_runs(text) AS tr
        |FROM (SELECT 'a b a b' AS text, split('a b a b', ' ') AS toks,
        |  array(5L, 17L, 42L) AS hs,
        |  array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)) AS v)""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 1.0)
    assert(row.getSeq[Long](1).size == 4)
    assert(row.getSeq[Double](3).size == 8)
    assert(row.getSeq[String](4) == Seq("a ", " b", "b ", " a", "a ", " b"))
    assert(row.getSeq[Long](5).size == 2 && row.getSeq[Long](6).size == 3)
    assert(row.getLong(8) == 4L)
    assert((0 until 9).forall(!row.isNullAt(_)), s"a native function returned NULL: $row")
  }

  test("minhash_sig equals its xxhash64 reference form") {
    val sk = Seq(Tuple1(Seq(5L, 17L, 42L))).toDF("hs")
      .selectExpr("minhash_sig(hs, 4) AS sg",
        "array(array_min(transform(hs, x -> xxhash64(0, x))), " +
          "array_min(transform(hs, x -> xxhash64(1, x))), " +
          "array_min(transform(hs, x -> xxhash64(2, x))), " +
          "array_min(transform(hs, x -> xxhash64(3, x)))) AS ref")
      .collect()(0)
    assert(sk.getSeq[Long](0) == sk.getSeq[Long](1))
  }

  test("the injected strategy plans a hand-built AsOfJoin; a left filter goes below it") {
    assert(spark.sessionState.planner.extraPlanningStrategies.contains(AsOfJoinStrategy))
    val l = Seq((1L, 10L, "x"), (2L, 7L, "y")).toDF("k", "ts", "v")
    val r = Seq((1L, 9L, "m"), (1L, 4L, "n")).toDF("rk", "rts", "w")
    def attr(df: DataFrame, n: String) =
      df.queryExecution.analyzed.output.find(_.name == n).get
    // a custom node built directly: only the injected strategy can plan it
    val plan = AsOfJoin(l.queryExecution.analyzed, r.queryExecution.analyzed,
      attr(l, "k"), attr(r, "rk"), attr(l, "ts"), attr(r, "rts"))
    val df = GraftSqlBridge.ofRows(spark, plan)
    val rows = df.select("v", "w").collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(rows == Map("x" -> "m", "y" -> null))

    val filtered = df.filter(col("k") === 1L)
    assert(filtered.select("v").as[String].collect().toSeq == Seq("x"))
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("AsOfJoin"), optimized)
    // without the injected rule the Filter would stay above the opaque
    // custom node
    val filterStuckAbove = optimized.linesIterator
      .takeWhile(!_.contains("AsOfJoin")).exists(_.contains("Filter"))
    assert(!filterStuckAbove, s"filter must be pushed below AsOfJoin:\n$optimized")
  }

  test("repeated AsOf.join calls leave the session's experimental hooks empty") {
    val l = Seq((1L, 10L, "x")).toDF("k", "ts", "v")
    val r = Seq((1L, 9L, "m")).toDF("rk", "rts", "w")
    (1 to 3).foreach { _ =>
      assert(AsOf.joinBackward(l, r, "k", "rk", "ts", "rts").count() == 1L)
    }
    assert(spark.experimental.extraStrategies.isEmpty)
    assert(spark.experimental.extraOptimizations.isEmpty)
  }

  test("no source outside GraftExtensions registers a function, strategy or rule") {
    import scala.jdk.CollectionConverters._
    val forbidden = Seq(
      "createOrReplaceTempFunction".r,
      """experimental\s*\.\s*extra""".r,
      """\bdef\s+register\s*\(""".r,
      """\budf\s*\.\s*register\b""".r)
    val injection = """\.inject(Function|PlannerStrategy|OptimizerRule)\s*\(""".r
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    assert(files.exists(_.getFileName.toString == "GraftExtensions.scala"),
      "scan did not reach GraftExtensions.scala")
    val hits = files.flatMap { f =>
      val name = f.getFileName.toString
      val text = java.nio.file.Files.readString(f)
      val routes = forbidden.filter(_.findFirstIn(text).nonEmpty).map(_.regex)
      val injects =
        if (name == "GraftExtensions.scala") Nil
        else injection.findFirstIn(text).toList
      (routes ++ injects).map(p => s"$f: $p")
    }
    assert(hits.isEmpty, s"second registration route:\n${hits.mkString("\n")}")
  }
}
