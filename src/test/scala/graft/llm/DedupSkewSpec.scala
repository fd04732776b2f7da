package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** The df-cap contract on the shingle inverted-index joins: a
  * stop-shingle shared by every document must NOT generate the
  * quadratic hot-key pair blowup, and the capped measure must equal
  * hand-computed similarity over the capped universe. */
class DedupSkewSpec extends SparkSuite {
  import spark.implicits._

  // 100 docs, each: one SHARED 3-token boilerplate prefix + 4 unique
  // tokens. Shared shingle "common stop words" has df = 100; the three
  // bridge shingles and the unique tail are per-doc (df = 1).
  private lazy val skewed = (0 until 100)
    .map(i => (i.toLong, s"common stop words u${i}a u${i}b u${i}c u${i}d"))
    .toDF("doc_id", "text")

  test("df cap bounds the hot-shingle pair explosion") {
    // uncapped: the df=100 stop-shingle alone generates C(100,2) =
    // 4950 intersecting pairs on ONE join key
    val uncapped = TextDedup.jaccardPairs(skewed, 0.0001, dfCap = 1000)
    assert(uncapped.count() == 4950L, "fixture should explode without the cap")
    // capped at τ=50 the stop-shingle leaves the universe: docs share
    // nothing else, so zero pairs survive — the hot key is GONE, not
    // merely re-thresholded
    val capped = TextDedup.jaccardPairs(skewed, 0.0001, dfCap = 50)
    assert(capped.count() == 0L, "df-capped join must drop stop-shingle-only pairs")
    spark.catalog.clearCache()
  }

  test("capped jaccard equals hand-computed similarity over the capped universe") {
    // two docs sharing the stop-prefix AND two real tail shingles;
    // third doc shares only the stop-prefix
    val docs = Seq(
      (1L, "common stop words alpha beta gamma delta"),
      (2L, "common stop words alpha beta gamma zeta"),
      (3L, "common stop words other text here now")).toDF("doc_id", "text")
    // hand count, capped universe (τ=2 < df=3 of "common stop words"):
    // each doc has 7 tokens -> 5 shingles, the stop-shingle dropped ->
    // capped size 4. inter(1,2) = {"stop words alpha", "words alpha
    // beta", "alpha beta gamma"} (df=2 each, kept) = 3; jac =
    // 3/(4+4-3) = 0.6. Docs (1,3)/(2,3) share ONLY the stop-shingle
    // -> no pair at all.
    val pairs = TextDedup.jaccardPairs(docs, 0.01, dfCap = 2)
      .select(col("d1"), col("d2"), round(col("jac"), 4).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((1L, 2L, 0.6)),
      s"expected capped jaccard {(1,2,0.6)}, got $pairs")
    spark.catalog.clearCache()
  }

  test("chunk winnowing catches a cross-doc footer that exact chunk hashing misses") {
    // a 45-token footer preceded by prefixes of DIFFERENT lengths (1
    // vs 2 tokens): the offset difference is not a multiple of 10, so
    // q76-style aligned exact 10-token chunks of the footer can never
    // coincide across the two docs — but the winnowing chunk
    // fingerprint keys on the chunk's minimal shingle, which lives in
    // the shared footer for both
    val footer = (0 until 45).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"pa $footer"),
      (2L, s"qb qc $footer")).toDF("doc_id", "text")
    // exact aligned chunking (the q76 shape): zero cross-doc chunks
    val exact = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 9, 10),
          |  i -> sha2(concat_ws(' ', slice(toks, i, 10)), 256))""".stripMargin)).as("h"))
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    assert(exact.count() == 0L,
      "aligned exact chunks must miss the offset-shifted footer")
    // winnowing chunk fingerprints: the shared footer surfaces
    val shared = TextDedup.chunkFingerprints(docs)
      .groupBy(col("fp")).agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
    assert(shared.count() == 1L,
      "both docs' chunks must fingerprint to the shared footer shingle")
    spark.catalog.clearCache()
  }

  test("BPE merges follow Sennrich semantics on a hand fixture") {
    // corpus: "aaaa" x3, "aab" x2  (chars: a,a,a,a / a,a,b)
    // round 1 pair counts: (a,a): 3*3 + 2*1... per-word non-overlapping
    // COUNTS are of ADJACENT OCCURRENCES: "aaaa" has 3 adjacent (a,a),
    // "aab" has 1 -> (a,a)=3*3+2*1=11, (a,b)=2 -> merge (a,a), freq 11
    // round 2: "aaaa" -> [aa,aa] (LEFT-TO-RIGHT NON-OVERLAPPING),
    // "aab" -> [aa,b]; pairs: (aa,aa)=3, (aa,b)=2 -> merge (aa,aa)
    // round 3: "aaaa" -> [aaaa]; only "aab"=[aa,b] has a pair ->
    // merge (aa,b), freq 2
    val docs = Seq((1L, "aaaa aaaa aaaa aab aab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(spark, docs, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "a", "a", 11L), (2, "aa", "aa", 3L), (3, "aa", "b", 2L)),
      s"got $got")
    spark.catalog.clearCache()
  }
}
