package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Contract of the incremental snapshot-vs-corpus near-dup path
  * (q151): exact results on a hand fixture, and the two properties
  * that make its cost scale with the SNAPSHOT rather than the corpus —
  * the bloom gate ahead of the band-probe join, and a probe volume
  * that stays snapshot-sized when the snapshot is novel, no matter how
  * large the corpus index is. */
class IncrementalNearDupSpec extends SparkSuite {
  import spark.implicits._

  private def doc(i: Long, tokens: Seq[String]) = (i, tokens.mkString(" "))

  test("keeps only snapshot docs without a >= 0.8-Jaccard corpus near-dup") {
    // corpus doc 1: 10 tokens -> 8 shingles
    val base = (0 until 10).map(i => s"c$i")
    val corpus = Seq(
      doc(1L, base),
      doc(3L, (0 until 10).map(i => s"x$i"))).toDF("doc_id", "text")
    val snapshot = Seq(
      // identical copy of corpus doc 1 -> jaccard 1.0, dropped
      doc(10L, base),
      // corpus doc 2 is c0..c29 (28 shingles); this doc swaps the last
      // token (c0..c28 + zz -> 28 shingles, 27 shared all-c triples):
      // jac = 27/(28+28-27) = 27/29 ≈ 0.93 >= 0.8, dropped
      doc(20L, (0 until 29).map(i => s"c$i") :+ "zz"),
      // disjoint tokens -> kept
      doc(30L, (0 until 10).map(i => s"n$i"))).toDF("doc_id", "text")
    val corpus2 = corpus.union(Seq(doc(2L, (0 until 30).map(i => s"c$i"))).toDF("doc_id", "text"))
    val kept = TextDedup.incrementalNearDup(snapshot, corpus2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((30L, 8L)),
      s"expected only the novel doc 30 (8 shingles) to survive, got $kept")
    spark.catalog.clearCache()
  }

  test("bloom gate keeps the probe join snapshot-sized on a novel snapshot") {
    // 300-doc corpus (4800 band-index rows), 3-doc fully-novel snapshot
    // (48 band rows): the gate must pass at most the fpp tail — the
    // probe join's left side scales with the SNAPSHOT, not the corpus
    val corpus = (0 until 300)
      .map(i => (i.toLong, (0 until 12).map(j => s"c${i}t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val snapshot = (0 until 3)
      .map(i => (1000L + i, (0 until 12).map(j => s"s${i}t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val corpArr = TextDedup.shingleArrays(corpus).cache()
    val corpBands = TextDedup.bandKeys(corpArr, 48, 16).cache()
    assert(corpBands.count() == 4800L)
    val bloom = corpBands.stat.bloomFilter("bk", 4800L, 0.01)
    val gated = TextDedup.bandKeys(TextDedup.shingleArrays(snapshot), 48, 16)
      .filter(graft.functions.BloomFunctions.mightContain(bloom, col("bk")))
    val survivors = gated.count()
    assert(survivors <= 5L,
      s"novel snapshot should be almost fully bloom-rejected, $survivors/48 band rows passed")
    // and the end-to-end result keeps the whole novel snapshot
    val kept = TextDedup.incrementalNearDup(snapshot, corpus).count()
    assert(kept == 3L)
    spark.catalog.clearCache()
  }

  test("q151 plan: bloom-gated probe, shuffle-hash band join, no broadcast of the corpus index") {
    val p = TextDedup.queries("q151_incremental_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"),
      "the snapshot band rows must be bloom-gated before the probe join")
    assert(p.contains("ShuffledHashJoin"),
      "the band probe must shuffle-hash, not broadcast the corpus index")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }
}
