package graft

import org.apache.spark.sql.functions._
import graft.llm.CurationMain

/** The capstone curation recipe must hold its end-to-end guarantees:
  * monotone funnel, no surviving exact/near duplicates, zero eval-set
  * contamination, and a complete, deterministic split. */
class CurationSpec extends SparkSuite {

  private lazy val (curated, funnel) = CurationMain.curate(spark, sf)

  test("funnel is monotone and every stage retains something") {
    val f = funnel
    assert(f.input >= f.afterQuality)
    assert(f.afterQuality >= f.afterExact)
    assert(f.afterExact >= f.afterNearDup)
    assert(f.afterNearDup >= f.afterDecontam)
    assert(f.afterDecontam > 0, "curation must not drop the whole corpus")
    assert(f.train + f.`val` + f.test == f.afterDecontam)
  }

  test("curated corpus has no exact duplicates and no verified near-dup pairs") {
    val n = curated.count()
    assert(curated.select(sha2(col("text"), 256)).distinct().count() == n)
    val survivors = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = llm.TextDedup.queries("q35_dedup_minhash")(spark, sf)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bothSurvive = pairs.filter { case (a, b) => survivors(a) && survivors(b) }
    assert(bothSurvive.isEmpty, s"near-dup pairs survived curation: ${bothSurvive.take(5).toSeq}")
  }

  test("curated corpus shares no 4-gram with the eval slice") {
    def grams(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 3),
          |  i -> concat_ws(' ', slice(toks, i, 4)))""".stripMargin)).as("g"))
      .distinct()
    val evalGrams = grams(Tables(spark, sf, "documents")
      .filter(col("doc_id") % 50 === 0))
    val overlap = grams(curated).join(evalGrams, Seq("g"), "left_semi").count()
    assert(overlap == 0, s"$overlap contaminated 4-grams survived")
    assert(curated.filter(col("doc_id") % 50 === 0).count() == 0,
      "eval-slice docs themselves must not be in the training corpus")
  }

  test("near-dup stage serves from the persisted pair graph, not document text") {
    val drops = CurationMain.nearDupDrops(spark, sf)
    drops.count() // force the serve-store seed before reading the plan
    val plan = drops.queryExecution.executedPlan.toString
    assert(plan.contains("/tmp/graft_state/"),
      "near-dup drop plan must scan the persisted pair-graph store")
    assert(!plan.contains("documents.parquet"),
      "near-dup drop plan must not rescan document text")
    // funnel-unchanged pin: the store-served exact ≥ 0.8 drop set must
    // equal the LSH-banded verified path's (recall 1 - 1e-5 per pair,
    // and the store is exact — any divergence is a store bug)
    val lsh = llm.TextDedup.queries("q35_dedup_minhash")(spark, sf)
      .select(col("d2").as("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val served = drops.collect().map(_.getLong(0)).toSet
    assert(served == lsh,
      s"store-served drops diverge from the verified LSH path: " +
        s"only-served=${(served -- lsh).take(5)} only-lsh=${(lsh -- served).take(5)}")
  }

  test("a planted benchmark span is stripped from the crawl side only — the doc is salvaged") {
    // Round-14 verdict Next #8 end-to-end: doc 7 (crawl) shares a
    // 30-token verbatim span with doc 0 (the eval slice). Without the
    // span-strip stage the 4-gram drop would DISCARD doc 7 wholesale;
    // with it, the leak is removed, the doc survives, and the eval
    // text itself is never modified (it is excluded from train by
    // construction). Every doc is the same 50 fixed-width tokens so
    // the percentile length band keeps all of them.
    val dir = tempFixture("graft_cur_plant")
    val span = (1 to 30).map(i => f"leak$i%02d")
    def filler(d: Int, from: Int, n: Int) =
      (from until from + n).map(i => f"d$d%02dt$i%02d")
    val rows = (0 until 60).map { d =>
      val toks =
        if (d == 0) filler(d, 1, 5) ++ span ++ filler(d, 6, 15)
        else if (d == 7) filler(d, 1, 10) ++ span ++ filler(d, 11, 10)
        else filler(d, 1, 50)
      (d.toLong, toks.mkString(" "), "en", if (d % 50 == 0) "bench" else "crawl")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (cur, f) = CurationMain.curate(spark, dir)
    val byId = cur.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.contains(7L),
      "the contaminated crawl doc must be SALVAGED by the span strip, " +
        "not dropped by the 4-gram stage")
    assert(!byId(7L).contains("leak01"),
      s"the planted span must be stripped from the crawl doc: ${byId(7L)}")
    assert(byId(7L) == (filler(7, 1, 10) ++ filler(7, 11, 10)).mkString(" "),
      "the crawl doc's own text must survive intact around the cut")
    assert(!byId.contains(0L) && !byId.contains(50L),
      "eval-slice docs never enter the training corpus")
    assert(f.decontamTokensStripped == 30L,
      s"exactly the planted span's mass is stripped: ${f.decontamTokensStripped}")
    assert(f.afterDecontam == 58L, "no whole doc is dropped on this fixture")
  }

  test("stage 5 cuts against the curated subset, never the pre-filter catalog") {
    // Round-15 verdict Missing #3, made load-bearing: doc 3 (dropped
    // by the length band — 200 tokens against a 50-token corpus) and
    // doc 9 share a 25-token span. In the PRE-FILTER corpus the span
    // is duplicated and the persisted catalog's keep-first rule names
    // doc 9's site for removal (doc 3 holds the lower-keyed keep
    // site). But doc 3 never reaches stage 5 — in the curated subset
    // the span is UNIQUE TEXT, and cutting it against pre-filter
    // state would destroy it. The stage must re-extract over the
    // curated subset; swap `exactSubstrCut` for a `catalogSites` read
    // and this fails.
    val dir = tempFixture("graft_cur_fresh")
    // 6-char span tokens match the filler width, so doc 9's
    // n_chars stays inside the percentile band like its neighbors
    val span = (1 to 25).map(i => f"fre$i%03d")
    def filler(d: Int, from: Int, n: Int) =
      (from until from + n).map(i => f"d$d%02dt$i%02d")
    val rows = (0 until 60).map { d =>
      val toks =
        if (d == 3) filler(d, 1, 100) ++ span ++ filler(d, 101, 75)
        else if (d == 9) filler(d, 1, 15) ++ span ++ filler(d, 16, 10)
        else filler(d, 1, 50)
      (d.toLong, toks.mkString(" "), "en", if (d % 50 == 0) "bench" else "crawl")
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the disagreement is real: the pre-filter catalog names doc 9's
    // site as the one to strip
    val catalogCut = llm.DupRunStore.removalSpans(
      llm.DupRunStore.catalogSites(spark, dir))
      .collect().map(r => r.getAs[Long]("doc_id"))
    assert(catalogCut.toSeq == Seq(9L),
      s"fixture must make the stale catalog target doc 9: ${catalogCut.toSeq}")
    val (cur, f) = CurationMain.curate(spark, dir)
    val byId = cur.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!byId.contains(3L),
      "the long doc must be dropped by the quality band")
    assert(byId.contains(9L) && byId(9L).contains("fre001 fre002"),
      "doc 9's span is unique in the curated subset and must SURVIVE " +
        s"the cut — a catalogSites-backed stage 5 would strip it: ${byId.get(9L)}")
    assert(f.cutTokensRemoved == 0L,
      s"nothing is duplicated within the curated subset: $f")
  }

  test("split is deterministic and train-dominant") {
    val again = CurationMain.curate(spark, sf)._1
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val first = curated.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first == again)
    assert(funnel.train > funnel.`val` && funnel.train > funnel.test)
  }
}
