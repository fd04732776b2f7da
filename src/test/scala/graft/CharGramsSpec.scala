package graft

import org.apache.spark.sql.functions._

/** The native char-gram kernel must be BIT-IDENTICAL (order included)
  * to the declarative transform(sequence, substring) form it replaces
  * in q240 — same character-based UTF-8 slicing — otherwise the
  * bigram profiles and their ranks silently shift. */
class CharGramsSpec extends SparkSuite {
  import spark.implicits._

  private def declarative(w: Int) =
    s"transform(sequence(1, length(text) - ${w - 1}), i -> substring(text, i, $w))"

  test("char_grams equals the declarative form, multibyte included") {
    val fixture = Seq("hello world", "ab", "ααβγ δ", "xy", "a b c d")
      .toDF("text")
    Seq(2, 3).foreach { w =>
      val in = fixture.filter(length(col("text")) >= w)
      val pairs = in.select(expr(s"char_grams(text, $w)").as("a"),
          expr(declarative(w)).as("b")).collect()
      pairs.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"w=$w: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("kernel equals declarative on the corpus fixture") {
    val diff = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull && length(col("text")) >= 2)
      .select(expr("char_grams(text, 2)").as("a"),
        expr(declarative(2)).as("b"))
      .filter(expr(
        "size(a) <> size(b) OR exists(zip_with(a, b, (x, y) -> x <> y), p -> p)"))
      .count()
    assert(diff == 0L, s"$diff docs diverge")
  }

  test("below-window input yields an empty array; null stays null") {
    val out = Seq(Some("a"), None).toDF("text")
      .select(expr("char_grams(text, 2)").as("v")).collect()
    assert(out(0).getSeq[String](0).isEmpty && out(1).isNullAt(0))
  }
}
