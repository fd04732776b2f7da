package graft

import org.apache.spark.sql.functions._

/** The native pooled-token-vector kernel must be BIT-IDENTICAL to the
  * declarative transform(sequence(1,k), i -> aggregate(hs, 0L, ...)/n)
  * form it replaces in q231 — same long fold, same single IEEE
  * division — otherwise the chunk embeddings silently change and the
  * retrieval top-k (and its DuckDB oracle) shift. */
class PoolHashVecSpec extends SparkSuite {
  import spark.implicits._

  private val declarative = (k: Int) => s"""transform(sequence(1, $k), i ->
    aggregate(hs, CAST(0 AS BIGINT),
      (a, h) -> a + h * i % 2003 - 1001)
      / CAST(size(hs) AS DOUBLE))"""

  test("pool_hash_vec equals the declarative transform×aggregate form bit-for-bit") {
    val k = 64
    // pre-reduced hashes (< 100003), the q231 projection's contract —
    // including 0, the max reduced value, and a long 1-token chunk
    val docs = Seq(
      (1L, Seq(42L, 0L, 100002L, 31337L)),
      (2L, Seq(7L)),
      (3L, (0L until 100L).map(j => j * 997L % 100003L))).toDF("id", "hs")
    val native = docs.select(col("id"), expr(s"pool_hash_vec(hs, $k)").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val decl = docs.select(col("id"), expr(declarative(k)).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(native(id).size == k && native(id) == decl(id),
        s"doc $id: native ${native(id)} vs declarative ${decl(id)}")
    }
  }

  test("pool_hash_vec equals the declarative form on the corpus fixture") {
    // the real q231 derivation at sf0.001: token hashes reduced once
    // per doc, then pooled — kernel vs declarative on identical input
    val hms = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), expr("""transform(split(text, ' '),
        t -> cast(conv(substring(sha2(t, 256), 1, 15), 16, 10) AS bigint)
          % 100003)""").as("hs"))
    val diff = hms.select(
        expr("pool_hash_vec(hs, 64)").as("a"),
        expr(declarative(64)).as("b"))
      .filter(expr("exists(zip_with(a, b, (x, y) -> x <> y), p -> p)"))
      .count()
    assert(diff == 0L, s"$diff docs diverge between kernel and declarative pool")
  }

  test("pool_hash_vec of an empty array is null") {
    val out = Seq((1L, Seq.empty[Long])).toDF("id", "hs")
      .select(expr("pool_hash_vec(hs, 4)")).collect()(0)
    assert(out.isNullAt(0))
  }

  test("the kernel stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(array(col("id") % 100003L, col("id") * 7 % 100003L).as("hs"))
      .select(expr("pool_hash_vec(hs, 8)").as("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"pool_hash_vec fell out of whole-stage codegen:\n$plan")
  }
}
