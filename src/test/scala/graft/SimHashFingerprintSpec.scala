package graft

import org.apache.spark.sql.functions._

/** The native one-pass SimHash kernel must be BIT-IDENTICAL to the
  * declarative 60-fold bit-vote form it replaces in q36 — all-integer
  * math, so any divergence is a logic bug, not float noise. */
class SimHashFingerprintSpec extends SparkSuite {
  import spark.implicits._

  test("simhash_fp equals the declarative aggregate-fold form bit-for-bit") {
    val bits = 60
    val docs = Seq(
      (1L, Seq(0L, -1L, 0x7FFFFFFFFFFFFFFFL, Long.MinValue)),
      (2L, Seq(42L)),
      (3L, (1L to 200L).map(_ * 0x9E3779B97F4A7C15L)),
      (4L, Seq.empty[Long])).toDF("id", "hs")
    val native = docs.select(col("id"), expr(s"simhash_fp(hs, $bits)").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val votes = docs.select(col("id") +: (0 until bits).map(i => expr(
      s"aggregate(hs, 0L, (acc, h) -> acc + IF((shiftright(h, $i) & 1L) = 1L, 1L, -1L))")
      .as(s"b$i")): _*)
    val declarative = votes.select(col("id"),
        (0 until bits).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declarative, s"native $native vs declarative $declarative")
  }

  test("the simhash kernel stays inside whole-stage codegen") {
    val df = spark.range(10)
      .select(array(col("id"), col("id") * 31, col("id") + 5).as("hs"))
      .select(expr("simhash_fp(hs, 60)").as("fp"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"simhash_fp fell out of whole-stage codegen:\n$plan")
  }
}
