package graft

import graft.llm.{DupRunStore, PairGraph, StateStores}

/** The round-10 compaction contract's STRUCTURAL half (the data half
  * is q321/q322's oracles): reads after compaction must touch O(base)
  * partitions and files, not O(generations).
  */
class StateCompactionSpec extends SparkSuite {

  private def genDirs(path: String): Set[String] = {
    val p = java.nio.file.Paths.get(path)
    val st = java.nio.file.Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen=")).toSet
    } finally st.close()
  }

  private def partFiles(path: String): Long = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try st.filter(_.toString.endsWith(".parquet")).count()
    finally st.close()
  }

  test("q321: the compacted pair store holds O(base) generations, not O(appends)") {
    SparkEntry.queries("q321_pair_store_compact")(spark, sf).collect()
    val path = StateStores.statePath(sf, "pair_ivm_c")
    // two generations were seeded/appended, compacted at watermark 1,
    // then one more appended: exactly {gen=1, gen=2} must remain
    assert(genDirs(s"$path/deltas") == Set("gen=1", "gen=2"),
      s"delta log after compact+append: ${genDirs(s"$path/deltas")}")
    assert(genDirs(s"$path/postings") == Set("gen=1", "gen=2"),
      s"postings after compact+append: ${genDirs(s"$path/postings")}")
  }

  test("q322: compaction reduces the band store's file count") {
    val docs = Tables(spark, sf, "documents")
    val path = StateStores.statePath(sf, "band_index_spec")
    import org.apache.spark.sql.functions._
    def gen(g: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === g)
    StateStores.bandIndexRows(gen(0)).write.mode("overwrite").parquet(path)
    StateStores.bandIndexRows(gen(1)).write.mode("append").parquet(path)
    val before = partFiles(path)
    StateStores.rewriteSwap(spark.read.parquet(path), path)
    val after = partFiles(path)
    assert(after < before,
      s"compaction should shrink the fragment count: $before -> $after")
    // and the rewrite must not lose or duplicate a row
    val n = spark.read.parquet(path).count()
    val expect = StateStores.bandIndexRows(docs.filter(pmod(col("doc_id"), lit(3)) < 2)).count()
    assert(n == expect, s"compacted rows $n != rebuilt $expect")
  }

  test("q321 state dir rebuilds idempotently across reruns") {
    // second full run overwrite-seeds generation 0 and replays — the
    // contract row set must be identical (the q283/q229 idempotence
    // stance carried through the compaction lifecycle)
    val a = SparkEntry.queries("q321_pair_store_compact")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q321_pair_store_compact")(spark, sf).collect().toSeq
    assert(a == b, "compaction lifecycle must be idempotent across reruns")
  }

  test("a compact below the newest generation throws and leaves every sub-dir unchanged") {
    import spark.implicits._
    def tmpStore(name: String) = java.nio.file.Files
      .createTempDirectory(name).resolve("state").toString
    // multi-sub store: the run IVM's deltas/postings/docs, gens 0..2
    val runLog = DupRunStore.RunLog
    val subs = Seq("deltas", "postings", "docs")
    val path = tmpStore("graft_guard_run")
    (0L to 2L).foreach(g =>
      runLog.step(path, g)(subs.map(_ -> Seq(g).toDF("doc_id")): _*))
    def layout = subs.map(sub => sub -> genDirs(s"$path/$sub")).toMap
    val before = layout
    assert(before.values.forall(_ == Set("gen=0", "gen=1", "gen=2")), s"$before")
    intercept[IllegalArgumentException](runLog.compact(spark, path, watermark = 1))
    assert(layout == before, s"a refused compact rewrote the store: $layout")
    // the guard spans every sub: a generation present in ONE sub only
    // (a crash between a step's writes) still refuses the fold
    val partial = tmpStore("graft_guard_partial")
    (0L to 1L).foreach(g =>
      runLog.step(partial, g)(subs.map(_ -> Seq(g).toDF("doc_id")): _*))
    runLog.step(partial, 2L)("docs" -> Seq(2L).toDF("doc_id"))
    intercept[IllegalArgumentException](runLog.compact(spark, partial, watermark = 1))
    assert(subs.map(sub => genDirs(s"$partial/$sub")) ==
      Seq(Set("gen=0", "gen=1"), Set("gen=0", "gen=1"),
        Set("gen=0", "gen=1", "gen=2")))
    // single-dir store: the eval-shingle log
    val evalLog = DupRunStore.EvalLog
    val evalPath = tmpStore("graft_guard_eval")
    (0L to 2L).foreach(g =>
      evalLog.step(evalPath, g)("" -> Seq(g, 10L + g, 20L).toDF("sh")))
    intercept[IllegalArgumentException](evalLog.compact(spark, evalPath, watermark = 1))
    assert(genDirs(evalPath) == Set("gen=0", "gen=1", "gen=2"))
    // at the head the same store folds to one distinct base
    evalLog.compact(spark, evalPath, watermark = 2)
    assert(genDirs(evalPath) == Set("gen=2"))
    assert(DupRunStore.evalShinglesServe(spark, evalPath).count() == 7L)
  }
}
