package graft

import org.apache.spark.sql.functions._

/** The token_counts kernel must reproduce the declarative tf pass it
  * replaces in q53/q255 — `explode(split(text, ' '))` then a
  * per-(doc, token) count — exactly: same tokenization (regex-space
  * split, limit -1: trailing empties kept, "" splits to [""]), same
  * counts, and the two length fields must equal size(split) and
  * size(filter(split, w -> length(w) > 0)). Order of tcs entries is
  * first-occurrence (asserted so the frame is deterministic), but all
  * callers aggregate/join over the exploded pairs, so set equality is
  * the load-bearing property. */
class TokenCountsSpec extends SparkSuite {
  import spark.implicits._

  private val fixture = Seq(
    (1L, "a b c a b a"),
    (2L, "solo"),
    (3L, ""),                        // "" splits to [""] — one empty token
    (4L, " lead and trail "),        // leading/trailing/doubled spaces
    (5L, "héllo wörld héllo ünïcode"),
    (6L, "x  y"),                    // doubled space: empty token inside
    (7L, "a a a a a a a a")).toDF("doc_id", "text")

  private def kernelTf = {
    fixture.select(col("doc_id"), expr("token_counts(text)").as("s"))
      .select(col("doc_id"), col("s.n_all"), col("s.n_ne"),
        explode(col("s.tcs")).as("t"))
      .select(col("doc_id"), col("n_all"), col("n_ne"),
        col("t.token").as("token"), col("t.cnt").as("cnt"))
  }

  private def declarativeTf = fixture
    .select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_all"),
      expr("size(filter(split(text, ' '), w -> length(w) > 0))")
        .cast("long").as("n_ne"),
      explode(split(col("text"), " ")).as("token"))
    .groupBy(col("doc_id"), col("n_all"), col("n_ne"), col("token"))
    .agg(count(lit(1)).as("cnt"))

  test("kernel tf pairs equal the declarative explode+count, incl. edges") {
    val k = kernelTf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet
    val d = declarativeTf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSet
    assert(k == d, s"kernel ${k.diff(d)} vs declarative ${d.diff(k)}")
  }

  test("tcs entries are in first-occurrence order") {
    val row = fixture.filter(col("doc_id") === 1L)
      .select(expr("transform(token_counts(text).tcs, x -> x.token)").as("ts"))
      .head().getSeq[String](0)
    assert(row == Seq("a", "b", "c"))
  }

  test("NULL text yields a NULL struct (downstream explode drops the doc)") {
    val n = Seq((1L, Option.empty[String]), (2L, Some("a b"))).toDF("doc_id", "text")
      .select(col("doc_id"), expr("token_counts(text)").as("s"))
      .select(col("doc_id"), explode(col("s.tcs")).as("t"))
      .count()
    assert(n == 2L) // only doc 2's two tokens survive
  }

  test("kernel equals declarative on the corpus fixture") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val k = docs.select(col("doc_id"), expr("token_counts(text)").as("s"))
      .select(col("doc_id"), explode(col("s.tcs")).as("t"))
      .select(col("doc_id"), col("t.token").as("token"), col("t.cnt").as("cnt"))
    val d = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
    assert(k.exceptAll(d).isEmpty && d.exceptAll(k).isEmpty)
  }

  test("kernel runs inside a whole-stage-codegen stage") {
    // a parquet-backed scan: a LocalTableScan constant-folds the
    // projection away before codegen ever runs
    val plan = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(expr("token_counts(text)").as("s"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }
}
