package graft

import org.apache.spark.sql.functions._

/** The native one-pass minhash kernel must be BIT-IDENTICAL to the
  * declarative k × array_min(transform(shs, x -> xxhash64(i, x)))
  * form it replaces in q35 — same XXH64 seed chain, same minima —
  * otherwise the LSH bands silently change and candidate recall
  * shifts. */
class MinhashSignatureSpec extends SparkSuite {
  import spark.implicits._

  test("minhash_sig equals the declarative array_min(transform) form bit-for-bit") {
    val k = 8
    val docs = Seq(
      (1L, Seq(42L, -7L, 123456789L, Long.MaxValue, Long.MinValue)),
      (2L, Seq(0L)),
      (3L, (1L to 100L).toSeq)).toDF("id", "shs")
    val native = docs.select(col("id"), expr(s"minhash_sig(shs, $k)").as("sg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val declarative = docs.select(col("id") +: (0 until k).map(i =>
        expr(s"array_min(transform(shs, x -> xxhash64($i, x)))").as(s"h$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong(_))).toMap
    docs.select("id").collect().map(_.getLong(0)).foreach { id =>
      assert(native(id) == declarative(id),
        s"doc $id: native ${native(id)} vs declarative ${declarative(id)}")
    }
  }

  test("minhash_sig of an empty array is null (array_min's empty semantics)") {
    val out = Seq((1L, Seq.empty[Long])).toDF("id", "shs")
      .select(expr("minhash_sig(shs, 4)")).collect()(0)
    assert(out.isNullAt(0))
  }

  test("the kernel stays inside whole-stage codegen") {
    // a range source, not a local Seq (ConvertToLocalRelation would
    // constant-fold a local fixture into a LocalTableScan), and a
    // non-HOF array constructor (transform's lambda has no codegen
    // and would break the stage AROUND the kernel)
    val df = spark.range(10)
      .select(array(col("id"), col("id") * 7, col("id") + 13).as("shs"))
      .select(expr("minhash_sig(shs, 4)").as("sg"))
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd stages carry the *(n) prefix; a fallback to interpreted
    // projection would drop it
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"minhash_sig fell out of whole-stage codegen:\n$plan")
  }
}
