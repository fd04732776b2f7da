package graft.llm

import graft.{SparkSuite, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Round-15 ExactSubstr store + cut pins:
  *
  *  1. q418 RETRACTION fixture — the genuinely hard IVM path: a doc
  *     arriving at gen 1 flips shingles of an OLD doc's flank from
  *     df 1 to 2, EXTENDING a run that was already catalogued at
  *     gen 0. The old sites must be debited and the extended run
  *     credited, or maintained ≠ rebuilt forever (the q283 retraction
  *     pattern on positional state).
  *  2. The cut/census arithmetic identity: q415's covered mass ==
  *     q420's removed tokens + the positions covered ONLY by keep
  *     sites — each term computed independently.
  *  3. Keep-one semantics on the DupRunSpec two-doc span fixture: the
  *     first site survives verbatim, the second is stripped.
  *  4. The serve path (q419) reads the persisted catalog, never the
  *     document text.
  *  5. stripSharedSpans is one-sided: a span planted in both a train
  *     and a benchmark doc disappears from the train side only
  *     (round-14 verdict Next #8 — q414 as removal predicates).
  *
  * Round-16 additions: the interval rebuild's linearity fixture (a
  * long mostly-duplicated doc — the shape the old per-token
  * array_contains scan was quadratic on), the threshold-parameterized
  * catalog/cut pair green at two cuts with threshold-keyed stores,
  * and the persisted eval-shingle store behind q422.
  */
class DupRunStoreSpec extends SparkSuite {

  /** doc 0 (gen 0): phrase P occurs twice — catalogued at seed time.
    * doc 1 (gen 1): repeats doc 0's tokens u3..u10 + P[1..12]
    * verbatim (a 20-token block), making doc 0's u3..u10 flank
    * duplicated and extending its FIRST P run leftward. */
  private lazy val retroDir: String = {
    val dir = tempFixture("graft_retro")
    val p = (1 to 25).map(j => s"P$j")
    val u = (1 to 10).map(j => s"u$j")
    val doc0 = u ++ p ++ (1 to 12).map(j => s"v$j") ++ p ++
      (1 to 10).map(j => s"w$j")
    val shared = u.drop(2) ++ p.take(12) // u3..u10 + P1..P12 = 20 tokens
    val doc1 = (1 to 5).map(j => s"z$j") ++ shared ++ (6 to 15).map(j => s"z$j")
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"),
        (1L, doc1.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q418: retroactive run extension debits the old sites and credits the grown run") {
    val rows = SparkEntry.queries("q418_dup_run_store_ivm")(spark, retroDir)
      .collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(_.getAs[Long]("n_mismatch")).sum == 0L,
      s"maintained catalog diverged from the rebuild: ${rows.toSeq}")
    // gen 0: doc 0's two P sites are catalogued (doc 1 not arrived)
    assert(rows(0).getAs[Long]("n_credit") == 2L &&
      rows(0).getAs[Long]("n_retract") == 0L)
    // gen 1: doc 0 is AFFECTED (its u3..u10 flank crossed df 1→2) —
    // both its prior sites must be debited before the recompute lands
    assert(rows(1).getAs[Long]("n_retract") == 2L,
      s"the old doc's catalogued sites must be retracted: ${rows.toSeq}")
    assert(rows(1).getAs[Long]("n_credit") >= 3L,
      "recompute must credit doc 0's two runs plus doc 1's shared block")
    // the extension is real: the netted catalog holds a doc-0 run
    // LONGER than the 25-token phrase it started as
    val path = StateStores.statePath(retroDir, "dup_run_ivm")
    val maintained = spark.read.parquet(s"$path/deltas")
      .groupBy(col("doc_id"), col("start_tok"), col("run_tokens"))
      .agg(sum(col("delta")).as("net")).filter(col("net") > 0)
    val grown = maintained.filter(col("doc_id") === 0L &&
      col("run_tokens") > 25L).count()
    assert(grown >= 1L,
      "doc 0's first run must have grown past its gen-0 extent")
  }

  test("q418: an empty seed generation (zero qualifying runs) does not wedge the log") {
    // gen 0 catalogues NOTHING (every token unique at that point), so
    // its delta write is an empty partition set; gen 1 then arrives
    // sharing a 25-token block — the retraction read of the empty log
    // must parse as empty (declared schema), not fail inference, and
    // the retro credit must land in the OLD doc.
    val dir = tempFixture("graft_emptyseed")
    val block = (1 to 25).map(j => s"B$j")
    val doc0 = (1 to 15).map(j => s"ea$j") ++ block ++ (1 to 20).map(j => s"eb$j")
    val doc1 = (1 to 10).map(j => s"ec$j") ++ block ++ (1 to 10).map(j => s"ed$j")
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"),
        (1L, doc1.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q418_dup_run_store_ivm")(spark, dir)
      .collect().sortBy(_.getAs[Long]("gen"))
    assert(rows.map(_.getAs[Long]("n_mismatch")).sum == 0L, s"${rows.toSeq}")
    assert(rows(0).getAs[Long]("n_credit") == 0L,
      "gen 0 must catalogue nothing on this fixture")
    assert(rows(1).getAs[Long]("n_credit") == 2L &&
      rows(1).getAs[Long]("n_retract") == 0L,
      s"gen 1 must credit both sites of the retro-created run: ${rows.toSeq}")
  }

  test("q421: compaction folds the log and the gen-2 retraction debits the folded base") {
    // three-generation retro fixture: doc 2 (gen 2) repeats doc 0's
    // tokens v9..v12 + P[1..16] (positions 44..63 — a 20-token block
    // ending inside the SECOND P occurrence), so after the watermark-1
    // compaction the gen-2 maintenance must retract doc 0's sites out
    // of the FOLDED BASE and credit the leftward-extended second run.
    val dir = retro3Dir("graft_retro3")
    val rows = SparkEntry.queries("q421_dup_run_store_compact")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("mismatch") == 0L, s"maintained != rebuilt: $rows")
    assert(rows("base_sites") == 3L,
      s"the folded base must hold the snapshot-1 catalog: $rows")
    assert(rows("log_gens_after") == 2L,
      "the compacted log holds exactly base + the new generation")
    assert(rows("gen2_retracts") == 2L,
      s"both doc-0 sites must be debited OUT OF THE FOLDED BASE: $rows")
    assert(rows("final_sites") == 4L, s"$rows")
    // the extension is real AND crossed the boundary: the second run
    // grew leftward from (48, 25) to (44, 29)
    val path = StateStores.statePath(dir, "dup_run_c")
    val grown = spark.read.parquet(s"$path/deltas")
      .groupBy(col("doc_id"), col("start_tok"), col("run_tokens"))
      .agg(sum(col("delta")).as("net")).filter(col("net") > 0)
      .filter(col("doc_id") === 0L && col("start_tok") === 44 &&
        col("run_tokens") === 29L).count()
    assert(grown == 1L,
      "doc 0's second run must extend across the compaction boundary")
    // on-disk truncation: exactly gen=1 (base) and gen=2 remain
    val gens = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$path/deltas"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("gen=")).toSet
      } finally st.close()
    }
    assert(gens == Set("gen=1", "gen=2"), s"log not truncated: $gens")
  }

  /** The three-generation retro fixture (retractions at gens 1 AND
    * 2): doc 1 extends doc 0's first P run, doc 2 its second. */
  private def retro3Dir(prefix: String): String = {
    val dir = tempFixture(prefix)
    val p = (1 to 25).map(j => s"P$j")
    val u = (1 to 10).map(j => s"u$j")
    val v = (1 to 12).map(j => s"v$j")
    val doc0 = u ++ p ++ v ++ p ++ (1 to 10).map(j => s"w$j")
    val doc1 = (1 to 5).map(j => s"z$j") ++ u.drop(2) ++ p.take(12) ++
      (6 to 15).map(j => s"z$j")
    val doc2 = (1 to 5).map(j => s"x$j") ++ v.drop(8) ++ p.take(16) ++
      (6 to 15).map(j => s"x$j")
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"),
        (1L, doc1.mkString(" "), "en", "web"),
        (2L, doc2.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("demo-written deltas equal the live step recomputed from the persisted state") {
    // One derivation writes the run log: the demo runs it over its
    // cached corpus frames for generations 0..2, the live sink over the
    // persisted docs/postings for one generation at a time. On the
    // three-generation retro fixture each generation's written deltas
    // must equal the live step's as a multiset.
    val dir = retro3Dir("graft_pin3")
    SparkEntry.queries("q418_dup_run_store_ivm")(spark, dir).collect()
    val path = StateStores.statePath(dir, "dup_run_ivm")
    val cols = Seq("doc_id", "source", "start_tok", "run_tokens", "run_fp",
      "delta").map(col)
    val written = spark.read.parquet(s"$path/deltas")
    val retracts = (0L to 2L).map { g =>
      val demo = written.filter(col("gen") === g).select(cols: _*)
      val d = DupRunStore.persistedDeltas(spark, path, g)
      try {
        val live = d.deltas.select(cols: _*)
        assert(demo.exceptAll(live).isEmpty && live.exceptAll(demo).isEmpty,
          s"gen $g: demo deltas ${demo.collect().toSeq} != " +
            s"live step ${live.collect().toSeq}")
      } finally d.done()
      demo.filter(col("delta") === -1L).count()
    }
    assert(retracts(1) > 0L && retracts(2) > 0L,
      s"the pin must cover retractions at gens 1 and 2: $retracts")
  }

  test("the live maintenance step reads the docs and postings state only") {
    // analogous to PairGraphSpec's ivmDeltas pin: a live step derives
    // retractions from the previous watermark's runs, so it scans
    // neither the delta log nor document text outside the store
    val dir = retro3Dir("graft_scan")
    SparkEntry.queries("q418_dup_run_store_ivm")(spark, dir).collect()
    val path = StateStores.statePath(dir, "dup_run_ivm")
    Seq(1L, 2L).foreach { g =>
      val d = DupRunStore.persistedDeltas(spark, path, g)
      try {
        import org.apache.spark.sql.execution.datasources.{
          HadoopFsRelation, LogicalRelation}
        val scanned = d.deltas.queryExecution.analyzed.collect {
          case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
            h.location.rootPaths.map(_.toUri.getPath)
        }.flatten.toSet
        assert(scanned == Set(s"$path/docs", s"$path/postings"),
          s"gen $g: the live step must scan docs and postings only: $scanned")
        assert(d.deltas.filter(col("delta") === -1L).count() > 0L,
          s"gen $g: the step must retract without reading the log")
      } finally d.done()
    }
  }

  test("cut/census identity: covered == removed + keep-only positions") {
    val census = SparkEntry.queries("q415_dup_removal_census")(spark, sf)
      .agg(sum(col("covered_tokens"))).head.getLong(0)
    val removedTotal = SparkEntry.queries("q420_exact_substr_cut")(spark, sf)
      .agg(sum(col("n_removed"))).head.getLong(0)
    val sites = DupRunStore.catalogSites(spark, sf)
    // the covered-mass (distinct-position) form of the removal set —
    // spec-side only: the cut's execution path ships intervals, this
    // identity reasons about the token positions they cover
    val removedPos = DupRunStore.removalSpans(sites)
      .select(col("doc_id"), explode(expr(
        "sequence(start_tok, start_tok + cast(run_tokens AS int) - 1)"))
        .as("p"))
      .distinct().cache()
    assert(removedPos.count() == removedTotal,
      "q420's per-doc removed counts must sum to the removal-position set")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("run_fp")).orderBy(col("doc_id"), col("start_tok"))
    val keepPos = sites.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), explode(expr(
        "sequence(start_tok, start_tok + cast(run_tokens AS int) - 1)"))
        .as("p")).distinct()
    val keepOnly = keepPos.join(removedPos, Seq("doc_id", "p"), "left_anti")
      .count()
    assert(census == removedTotal + keepOnly,
      s"census $census != removed $removedTotal + keep-only $keepOnly — " +
        "the cut and the census disagree about what an ExactSubstr " +
        "pass touches")
    assert(removedTotal > 0L, "the fixture must exercise actual removal")
  }

  test("keep-one semantics: the first site survives verbatim, the second is cut") {
    // the DupRunSpec two-doc construction: one 40-token span shared at
    // shifted offsets; doc 0 holds the first site
    val dir = tempFixture("graft_cutkeep")
    val span = (1 to 40).map(j => s"spantok$j")
    val doc0 = (1 to 8).map(i => s"fa$i") ++ span ++ (1 to 52).map(i => s"fb$i")
    val doc1 = (1 to 25).map(i => s"fc$i") ++ span ++ (1 to 35).map(i => s"fd$i")
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"),
        (1L, doc1.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q420_exact_substr_cut")(spark, dir)
      .collect().sortBy(_.getAs[Long]("doc_id"))
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_removed") == 0L,
      "the keep site's doc must be untouched")
    assert(out(1).getAs[Long]("n_removed") == 40L &&
      out(1).getAs[Long]("n_after") == 60L,
      s"the second site must lose exactly the span: ${out.toSeq}")
    // byte-level: doc 1's cleaned fingerprint is the span-free text
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val expect = sha.digest(((1 to 25).map(i => s"fc$i") ++
        (1 to 35).map(i => s"fd$i")).mkString(" ").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 16)
    assert(out(1).getAs[String]("cleaned_fp") == expect)
  }

  test("the rebuild is interval-driven and linear on a long mostly-duplicated doc") {
    // The round-15 verdict's What's-wrong #1 shape: ONE doc that is
    // ~97% duplicated text (a 2900-token block repeated twice inside
    // a 5950-token doc). The old rebuild filtered every token against
    // a collect_set of removed positions — |toks| × |removed| ≈ 17M
    // lambda steps on this single row, O(len²) for exactly the
    // boilerplate-heavy doc the ExactSubstr cut exists for. The
    // interval fold does |toks| + |intervals| work: one slice per
    // surviving gap.
    val dir = tempFixture("graft_longdup")
    val block = (1 to 2900).map(i => s"blk$i")
    val ga = (1 to 50).map(i => s"ga$i")
    val gb = (1 to 50).map(i => s"gb$i")
    val gc = (1 to 50).map(i => s"gc$i")
    val doc0 = ga ++ block ++ gb ++ block ++ gc
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("q420_exact_substr_cut")(spark, dir)
    val out = df.collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_removed") == 2900L &&
      out.head.getAs[Long]("n_after") == 3050L,
      s"the second block occurrence must be cut exactly: ${out.toSeq}")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val expect = sha.digest((ga ++ block ++ gb ++ gc).mkString(" ")
        .getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 16)
    assert(out.head.getAs[String]("cleaned_fp") == expect,
      "the gap-fold reconstruction must be byte-identical")
    // operator shape: the per-token position-set scan is GONE from
    // the plan — the rebuild expression is the interval aggregate
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("array_contains"),
      "the rebuild must not scan a removed-position set per token")
    assert(plan.contains("aggregate("),
      "the rebuild must be the interval gap fold")
  }

  test("overlapping removal intervals collapse without double-counting") {
    // adjacent maximal runs of DIFFERENT fingerprints can overlap by
    // up to 2 boundary tokens; the gap fold must advance past a
    // contained/overlapping interval without emitting a negative
    // slice or double-removing the shared tokens
    import spark.implicits._
    val docs = Seq((1L, (1 to 30).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Seq((1L, 5, 10L), (1L, 12, 6L), (1L, 14, 2L), (1L, 25, 3L))
      .toDF("doc_id", "start_tok", "run_tokens")
    // covered: 5..14 ∪ 12..17 ∪ 14..15 ∪ 25..27 = 5..17, 25..27 = 16
    val out = DupRunStore.applySpanRemoval(docs, spans).collect().head
    assert(out.getAs[Long]("n_removed") == 16L, s"$out")
    val kept = (1 to 4) ++ (18 to 24) ++ (28 to 30)
    assert(out.getAs[String]("text") == kept.map(i => s"t$i").mkString(" "))
  }

  test("the cut threshold is config: catalog, serve store, and cut are keyed by it") {
    // round-15 verdict Next #6 — the q416 planner's curve must be
    // actionable: two spans, 40 and 25 tokens; at the committed cut
    // (20) both are catalogued and stripped, at a Lee-et-al-style
    // higher cut (30) only the 40-token one is. The serve store is
    // threshold-keyed, so the second threshold can never be served
    // the first's catalog.
    val dir = tempFixture("graft_thresh")
    val spanA = (1 to 40).map(i => s"A$i")
    val spanB = (1 to 25).map(i => s"B$i")
    def fill(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    import spark.implicits._
    Seq(
      (0L, (fill("ka", 10) ++ spanA ++ fill("kb", 10)).mkString(" ")),
      (1L, (fill("kc", 10) ++ spanA ++ fill("kd", 10)).mkString(" ")),
      (2L, (fill("ke", 10) ++ spanB ++ fill("kf", 10)).mkString(" ")),
      (3L, (fill("kg", 10) ++ spanB ++ fill("kh", 10)).mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // in-plan extraction at both thresholds
    assert(TextDedup.dupRunSites(spark, dir, 20).count() == 4L)
    assert(TextDedup.dupRunSites(spark, dir, 30).count() == 2L)
    // serve path at both thresholds — seeded independently, each ≡ its
    // own in-plan twin (the q419 staleness stance, per threshold)
    assert(DupRunStore.catalogSites(spark, dir, 20).count() == 4L)
    assert(DupRunStore.catalogSites(spark, dir, 30).count() == 2L,
      "the t=30 store must not serve the t=20 catalog")
    assert(DupRunStore.catalogSites(spark, dir, 30)
      .agg(min(col("run_tokens"))).head.getLong(0) == 40L)
    // the cut follows the threshold: at 30, doc 3's 25-token span
    // survives; at 20 it is stripped
    def removedOf(minTokens: Int): Map[Long, Long] =
      DupRunStore.exactSubstrCut(
        spark.read.parquet(s"$dir/documents.parquet"), minTokens)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("n_removed")).toMap
    assert(removedOf(20) == Map(0L -> 0L, 1L -> 40L, 2L -> 0L, 3L -> 25L))
    assert(removedOf(30) == Map(0L -> 0L, 1L -> 40L, 2L -> 0L, 3L -> 0L))
    // the oracle twin parameterizes identically
    assert(TextDedup.duckDupRunsAt(30).contains(">= 30") &&
      !TextDedup.duckDupRunsAt(30).contains(">= 20"))
    assert(TextDedup.duckDupRuns.contains(s">= ${TextDedup.DupRunMinTokens}"))
  }

  test("q422's eval side is the persisted shingle store, never a per-run re-explode") {
    val df = SparkEntry.queries("q422_eval_overlap_runs")(spark, sf)
    df.count() // force the seed before reading the plan
    val plan = df.queryExecution.executedPlan.toString
    // derive the expected path from the store identity, not a copied
    // literal — the assertion must follow a state-root move
    val storePath = StateStores.servePath(sf, "eval_shingle_v1", "documents")
    assert(plan.contains(storePath),
      s"the bench side must scan the persisted eval-shingle store at $storePath")
    // the store itself is a pure parquet read — no document rescan
    val store = DupRunStore.evalShingleStore(spark, sf)
    assert(!store.queryExecution.executedPlan.toString
      .contains("documents.parquet"))
    // and it holds exactly the eval slice's distinct shingle hashes
    val direct = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 50 === 0 && col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> xxhash64(concat_ws(' ', slice(toks, i, 3))))"""
          .stripMargin)).as("sh"))
      .distinct()
    assert(store.count() == direct.count())
    assert(store.join(direct, Seq("sh"), "left_anti").count() == 0L)
  }

  test("q419 serves from the persisted catalog, not document text") {
    val served = DupRunStore.catalogSites(spark, sf)
    served.count() // force the seed before reading the plan
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("/tmp/graft_state/"),
      "catalog read must scan the persisted store")
    assert(!plan.contains("documents.parquet"),
      "catalog read must not rescan document text")
    // staleness guard is live: store output ≡ in-plan extraction
    val fromStore = served.count()
    val inPlan = TextDedup.dupRunSites(spark, sf).count()
    assert(fromStore == inPlan)
  }

  test("q422/strip catch a bench span EMBEDDED in a longer train-side duplicated run") {
    // the q414 blind-spot construction: train doc 1 carries the bench
    // span S (25 tokens) immediately preceded by a flank F that is
    // duplicated with train doc 2 THROUGH the boundary (doc 2 carries
    // F + S[1..2]), so doc 1's maximal duplicated run is the merged
    // 35-token F+S — its run_fp differs from bench's standalone S and
    // fp-equality screens (q414) see NOTHING. Bench-membership streaks
    // still find S's exact extent.
    val dir = tempFixture("graft_embed")
    val sSpan = (1 to 25).map(i => s"S$i")
    val f = (1 to 10).map(i => s"F$i")
    val bench0 = (1 to 5).map(i => s"ba$i") ++ sSpan ++ (1 to 20).map(i => s"bb$i")
    val train1 = (1 to 10).map(i => s"ta$i") ++ f ++ sSpan ++ (1 to 5).map(i => s"tb$i")
    val train2 = (1 to 8).map(i => s"tc$i") ++ f ++ sSpan.take(2) ++
      (1 to 30).map(i => s"td$i")
    import spark.implicits._
    Seq((0L, bench0.mkString(" "), "en", "bench"),
        (1L, train1.mkString(" "), "en", "crawl"),
        (2L, train2.mkString(" "), "en", "crawl"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the merged maximal run exists (35 tokens) — S alone is NOT a
    // maximal run in doc 1, so fp-equality cannot name it
    val catalog = SparkEntry.queries("q413_dup_run_extraction")(spark, dir)
      .collect()
    assert(catalog.exists(_.getAs[Long]("run_tokens") == 35L),
      s"the F+S merge must be one maximal run: ${catalog.toSeq}")
    val q414 = SparkEntry.queries("q414_cross_source_contamination")(
      spark, dir).collect()
    assert(q414.isEmpty,
      "fp-equality must MISS the embedded span here — that is the " +
        "blind spot q422 exists to close")
    // the membership streak finds S's exact 25-token extent in doc 1
    val rows = SparkEntry.queries("q422_eval_overlap_runs")(spark, dir)
      .collect()
    assert(rows.length == 1 && rows.head.getAs[String]("source") == "crawl")
    assert(rows.head.getAs[Long]("n_runs") == 1L &&
      rows.head.getAs[Long]("overlap_token_mass") == 25L &&
      rows.head.getAs[Long]("max_run_tokens") == 25L, s"${rows.toSeq}")
    // and the strip removes exactly it, from doc 1 only
    val out = DupRunStore.stripSharedSpans(
      Seq((1L, train1.mkString(" ")), (2L, train2.mkString(" ")))
        .toDF("doc_id", "text"),
      Seq((0L, bench0.mkString(" "))).toDF("doc_id", "text"))
      .collect().sortBy(_.getAs[Long]("doc_id"))
    assert(out(0).getAs[Long]("n_removed") == 25L &&
      !out(0).getAs[String]("text").contains("S1 S2"),
      s"embedded span must be stripped: ${out(0)}")
    assert(out(1).getAs[Long]("n_removed") == 0L,
      "doc 2 carries no >= 20-token bench overlap and must be untouched")
  }

  test("stripSharedSpans removes a planted benchmark span from the train side only") {
    val span = (1 to 30).map(j => s"leak$j")
    import spark.implicits._
    val train = Seq(
      (1L, ((1 to 10).map(i => s"ta$i") ++ span ++
        (1 to 10).map(i => s"tb$i")).mkString(" ")),
      (2L, (1 to 40).map(i => s"tc$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, ((1 to 5).map(i => s"ba$i") ++ span ++
        (1 to 15).map(i => s"bb$i")).mkString(" ")))
      .toDF("doc_id", "text")
    val out = DupRunStore.stripSharedSpans(train, bench)
      .collect().sortBy(_.getAs[Long]("doc_id"))
    assert(out.length == 2, "the strip must keep every train doc")
    val cleaned = out(0).getAs[String]("text")
    assert(!cleaned.contains("leak1 leak2"),
      s"the planted span must be gone from the train doc: $cleaned")
    assert(cleaned.startsWith("ta1") && cleaned.endsWith("tb10"),
      "the train doc's own text must survive around the cut")
    assert(out(0).getAs[Long]("n_removed") == 30L)
    assert(out(1).getAs[Long]("n_removed") == 0L &&
      out(1).getAs[String]("text") == (1 to 40).map(i => s"tc$i").mkString(" "),
      "an uncontaminated train doc must be byte-identical")
  }
}
