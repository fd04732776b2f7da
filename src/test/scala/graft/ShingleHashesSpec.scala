package graft

import org.apache.spark.sql.functions._

/** The native shingling kernel must be BIT-IDENTICAL (order included)
  * to the declarative transform/array_distinct nest it replaces at the
  * base of the dedup family — same concat_ws join, same xxhash64 seed
  * chain — otherwise every inverted index, band table, pair graph and
  * dup-run posting silently shifts. */
class ShingleHashesSpec extends SparkSuite {
  import spark.implicits._

  private def declarative(w: Int, distinct: Boolean) = {
    val core = s"""transform(sequence(1, size(toks) - ${w - 1}),
      i -> xxhash64(concat_ws(' ', slice(toks, i, $w))))"""
    if (distinct) s"array_distinct($core)" else core
  }

  private val fixture = Seq(
    (1L, "a b c d e a b c d e"),          // repeats: distinct prunes
    (2L, "x y z"),                        // exactly one 3-shingle
    (3L, "the quick brown fox jumps over the quick brown fox"),
    (4L, "solo duo trio quad")).toDF("doc_id", "text")
    .select(col("doc_id"), split(col("text"), " ").as("toks"))

  test("shingle_hashes equals the declarative distinct form, order included") {
    Seq(3, 4).foreach { w =>
      // the declarative form is undefined below the window (sequence
      // descends, slice(…, 0, w) errors) — callers always filter
      // size >= w first, so the comparison domain does too
      val in = fixture.filter(size(col("toks")) >= w)
      val n = in.select(col("doc_id"),
          expr(s"shingle_hashes(toks, $w)").as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val d = in.select(col("doc_id"),
          expr(declarative(w, distinct = true)).as("v"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      d.keys.foreach(id => assert(n(id) == d(id),
        s"w=$w doc $id: native ${n(id)} vs declarative ${d(id)}"))
    }
  }

  test("shingle_hashes_all equals the declarative positional form") {
    val n = fixture.select(col("doc_id"),
        expr("shingle_hashes_all(toks, 3)").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val d = fixture.select(col("doc_id"),
        expr(declarative(3, distinct = false)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    d.keys.foreach(id => assert(n(id) == d(id)))
  }

  test("kernel equals declarative on the corpus fixture (both forms)") {
    val toks = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    Seq("shingle_hashes(toks, 3)" -> declarative(3, distinct = true),
        "shingle_hashes_all(toks, 3)" -> declarative(3, distinct = false))
      .foreach { case (kernel, decl) =>
        val diff = toks.select(expr(kernel).as("a"), expr(decl).as("b"))
          .filter(expr(
            "size(a) <> size(b) OR exists(zip_with(a, b, (x, y) -> x <> y), p -> p)"))
          .count()
        assert(diff == 0L, s"$diff docs diverge for $kernel")
      }
  }

  test("inputs shorter than the window yield an empty array") {
    val out = Seq(Tuple1(Seq("a", "b"))).toDF("toks")
      .select(expr("shingle_hashes(toks, 3)").as("v"),
        expr("shingle_hashes_all(toks, 3)").as("va")).collect()(0)
    assert(out.getSeq[Long](0).isEmpty && out.getSeq[Long](1).isEmpty)
  }

  test("the kernel stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(array(col("id").cast("string"), lit("x"), lit("y"), lit("z"))
        .as("toks"))
      .select(expr("shingle_hashes(toks, 3)").as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"shingle_hashes fell out of whole-stage codegen:\n$plan")
  }
}
