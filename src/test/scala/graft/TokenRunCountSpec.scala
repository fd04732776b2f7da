package graft

import org.apache.spark.sql.functions._

/** The native one-pass token_runs kernel (q202's byte walk) must match
  * the declarative per-char class fold the DuckDB oracle replays —
  * all-integer math, so any divergence is a logic bug, not float
  * noise. Fixtures cover every class boundary: run starts/ends, mixed
  * letter/digit adjacency, all five ASCII space chars, CJK (3-byte
  * UTF-8, one token per char), and empty/space-only strings. */
class TokenRunCountSpec extends SparkSuite {
  import spark.implicits._

  private val fixtures = Seq(
    (1L, "hello world"),                 // 2 letter runs
    (2L, "abc123def"),                   // letter|digit|letter = 3
    (3L, "a1b2c3"),                      // alternating = 6
    (4L, "  \t\n\f\r  "),                // spaces only = 0
    (5L, ""),                            // empty = 0
    (6L, "!!!"),                         // 3 other chars
    (7L, "don't stop-me now!"),          // runs split on ' and - and !
    (8L, "你好世界"),    // CJK: one token per char = 4
    (9L, "你 hello 世界9"),  // mixed CJK/latin/digit
    (10L, "A"), (11L, "9"), (12L, "élève"), // é/è are "other"
    (13L, "x" * 5000 + " " + "42" * 100))

  test("token_runs equals the declarative class-fold form exactly") {
    val docs = fixtures.toDF("id", "text")
    val native = docs.select(col("id"), expr("token_runs(text)").as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declarative = docs.select(col("id"),
        llm.TextAnalysis.tokenRunsFold(col("text")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declarative, s"native $native vs declarative $declarative")
    // spot-pin absolute values so both forms can't be wrong together
    assert(native(1L) == 2L && native(3L) == 6L && native(4L) == 0L &&
      native(5L) == 0L && native(6L) == 3L && native(8L) == 4L,
      s"absolute token counts off: $native")
  }

  test("non-BMP input counts one token per codepoint, like the oracle") {
    // U+1F600 (4-byte UTF-8, surrogate pair in UTF-16): the byte walk
    // must count it ONCE, matching DuckDB codepoint semantics — the
    // declarative split('') fold would see two surrogate halves, which
    // is exactly why the kernel is the shipping form
    val n = Seq(Tuple1("a😀b")).toDF("text")
      .select(expr("token_runs(text)")).collect()(0).getLong(0)
    assert(n == 3L, s"expected a|emoji|b = 3 tokens, got $n")
  }

  test("the token_runs kernel stays inside whole-stage codegen") {
    val plan = spark.range(10).select(concat(lit("doc "), col("id")).as("text"))
      .select(expr("token_runs(text)").as("nt"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"token_runs fell out of whole-stage codegen:\n$plan")
  }
}
