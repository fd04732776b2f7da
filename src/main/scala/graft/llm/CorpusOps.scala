package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables, r6, r2n, r4n, r6n}

/** Corpus-assembly operators: the steps between a curated document set
  * and training-ready shards — sequence packing, PII redaction,
  * stratified quota sampling, incremental (snapshot-over-corpus) dedup,
  * and source-mixture upsampling.
  *
  * Reference scope note: the reference pipeline
  * (`src/etl_job.py:40-82`) stops at a cleaned single table; these
  * operators are the engine-extension surface the north star asks for
  * (training-data pipeline at 100 TB), each expressed as declarative
  * Spark plans with an exact DuckDB oracle.
  *
  * Determinism discipline matches PipelineOps: every "random" choice is
  * keyed on sha-256 of content/id, so re-runs and engine swaps
  * reproduce the same shards bit-for-bit.
  */
object CorpusOps {

  private val chunkTxtExpr = expr(
    """transform(sequence(0, (size(toks) - 1) DIV 32),
      |  i -> concat_ws(' ', slice(toks, i * 32 + 1, 32)))""".stripMargin)

  /** The 32-token chunk index rows (doc_id, source, h, len) for
    * `docs` — the q364/q388 derivation, factored so the STREAMING
    * chunk-index sink appends exactly what the batch queries compute
    * (hashes and lengths cross the wire, never chunk text). Derived
    * from `docs` alone (the q229 append-path stance). */
  private[graft] def chunkRows(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    .select(col("doc_id"), col("source"), explode(chunkTxtExpr).as("txt"))
    .select(col("doc_id"), col("source"), sha2(col("txt"), 256).as("h"),
      length(col("txt")).cast("long").as("len"))

  /** The q388 serve read over a LIVE chunk store, routed through
    * [[StateStores.readCommitted]] (round-12 ADVICE: naked
    * read.parquet serve reads race the sink's auto-compaction swap).
    * Consume-inside-the-call holds honestly: the catalog is ≤ 20 rows
    * by construction, so it collects inside the protected window and
    * returns as a local relation. */
  private[graft] def boilerplateCatalogFromStore(s: SparkSession,
      storePath: String, corpus: DataFrame): DataFrame =
    StateStores.readCommitted(s, storePath) { stored =>
      val cat = boilerplateCatalog(stored.drop("batch"), corpus)
      s.createDataFrame(
        java.util.Arrays.asList(cat.collect(): _*), cat.schema)
    }

  /** The q388 catalog body over chunk-index rows — factored so the
    * batch query (in-plan derivation) and the streaming serve path
    * (store-read rows) share one definition. `corpus` supplies the
    * candidate-restricted chunk-text fetch (≤ 20 representative
    * docs). */
  private[graft] def boilerplateCatalog(chunks: DataFrame,
      corpus: DataFrame): DataFrame = {
    val top = chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("rep"), max(col("len")).as("len"))
      .filter(col("n_occurrences") >= 2)
      .orderBy(desc("n_occurrences"), col("h"))
      .limit(20)
      .cache() // the text fetch-back and the output both read it
    val repChunks = corpus
      .join(broadcast(top.select(col("rep").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .select(split(col("text"), " ").as("toks"))
      .select(explode(chunkTxtExpr).as("txt"))
      .select(sha2(col("txt"), 256).as("h"), col("txt"))
      .distinct()
    top.join(broadcast(repChunks), "h")
      .select(col("txt").as("chunk_text"), col("n_occurrences"),
        col("n_docs"), col("n_sources"),
        (col("n_occurrences") * col("len")).as("char_mass"))
      .orderBy(desc("n_occurrences"), col("chunk_text"))
  }

  private val ctx = 512L // tokens per packed training sequence

  val queries: Map[String, Q] = Map(

    /** Per-language percentile calibration of document length — the
      * score-normalization step before a GLOBAL quality threshold
      * (raw cutoffs over-prune verbose languages; percentiles within
      * language compare like with like). Tie-robust and distributed:
      * distinct (lang, n_chars) rows get their in-language running
      * sum and language total over the (lang, value) range order
      * ([[graft.ops.GlobalRank]]), and pct_below = (cum − cnt)/n — no
      * per-language WindowExec funnel (a partitionBy(lang) window
      * puts a fifth of the corpus in ONE task; the range exchange
      * spreads all languages across the cluster). Report: per-lang
      * decile occupancy (docs per calibrated decile). */
    "q145_quantile_normalize" -> ((s: SparkSession, dir: String) => {
      val g = Tables(s, dir, "documents")
        .filter(col("n_chars").isNotNull)
        .groupBy(col("lang"), col("n_chars").cast("double").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val pct = graft.ops.GlobalRank.withRunningSum(
          g, Seq(col("v")), "cnt", "cum", Seq("lang"))
        .select(col("lang"), col("cnt"),
          ((col("cum") - col("cnt")).cast("double") /
            col("cum_total").cast("double")).as("pct_below"))
      pct.groupBy(col("lang"),
          least(floor(col("pct_below") * 10), lit(9L)).cast("long").as("decile"))
        .agg(sum(col("cnt")).as("n_docs"))
        .orderBy(col("lang"), col("decile"))
    }),

    /** Concat-and-chunk sequence packing (GPT-style pretraining): docs
      * concatenate in deterministic doc_id order into one token stream
      * split every `ctx` tokens; emit each doc's chunk span. The global
      * running token count is [[graft.ops.GlobalRank.withRunningSum]]:
      * repartitionByRange + narrow per-partition cumsum + prefix
      * offsets over the bounded counts table, all ONE plan — NEVER an
      * unpartitioned Window (which funnels 100 TB through one task),
      * never a driver collect (two actions can see divergent
      * per-execution range bounds). */
    "q94_pack_sequences" -> ((s: SparkSession, dir: String) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.ops.GlobalRank.withRunningSum(toks, Seq(col("doc_id")), "n_tok", "running")
        .select(col("doc_id"), col("n_tok"),
          expr(s"(running - n_tok) div $ctx").as("chunk_first"),
          expr(s"(running - 1) div $ctx").as("chunk_last"),
          expr(s"(running - 1) div $ctx - (running - n_tok) div $ctx + 1")
            .as("n_chunks"))
        .orderBy(col("doc_id"))
    }),

    /** PII redaction: email / IPv4 / phone patterns replaced with typed
      * placeholder tags, plus per-doc match counts. The corpus fixture
      * contains no PII, so a deterministic synthetic suffix derived
      * from doc_id is appended first — the regexes then do real work
      * and the oracle replicates byte-for-byte. Narrow codegen'd
      * projection: no shuffle, scales embarrassingly. */
    "q95_pii_redact" -> ((s: SparkSession, dir: String) => {
      val d = col("doc_id")
      val aug = concat(col("text"),
        lit(" reach user"), (d % 100).cast("string"),
        lit("@mail.com or 10."), (d % 256).cast("string"),
        lit("."), ((d * 7) % 256).cast("string"),
        lit("."), ((d * 13) % 256).cast("string"),
        lit(" call 555-"), lpad((d % 10000).cast("string"), 4, "0"))
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b\\d{3}-\\d{4}\\b"
      val redacted = regexp_replace(regexp_replace(regexp_replace(aug,
        email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(aug, lit(email), lit(0))).cast("long").as("n_email"),
          size(regexp_extract_all(aug, lit(ip), lit(0))).cast("long").as("n_ip"),
          size(regexp_extract_all(aug, lit(phone), lit(0))).cast("long").as("n_phone"),
          length(redacted).cast("long").as("red_len"),
          (length(aug) - length(redacted)).cast("long").as("removed"))
        .orderBy(col("doc_id"))
    }),

    /** Luhn-validated payment-card screen — the checksum step that
      * separates a production PII scanner from q95's regex pass: a
      * 16-digit run is only a card number if its Luhn mod-10 checksum
      * closes, which cuts the false-positive flood (order ids,
      * timestamps) that makes naive \d{16} redaction unusable. The
      * fixture has no PII, so each doc gets a deterministic synthetic
      * card (payload from the doc id; even ids carry the CORRECT
      * check digit, odd ids a broken one — both engines re-derive
      * byte-for-byte), and the operator half is real: regex candidate
      * extraction + per-candidate in-expression Luhn fold (digit
      * doubling on odd positions, >9 fold-back, mod 10) — one narrow
      * codegen projection, no shuffle before the per-source census,
      * scan-speed at any corpus size. Valid-rate is an integer
      * rational → nudged r6. */
    "q254_luhn_cards" -> ((s: SparkSession, dir: String) => {
      val digit = (src: String, i: String) =>
        s"CAST(substring($src, $i, 1) AS INT)"
      def luhnTerm(src: String) =
        s"""IF(i % 2 = 1,
           |  IF(${digit(src, "i")} * 2 > 9,
           |    ${digit(src, "i")} * 2 - 9, ${digit(src, "i")} * 2),
           |  ${digit(src, "i")})""".stripMargin
      val withCard = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("pay", lpad(
          expr("CAST((doc_id * 7919 + 12345) % 1000000000000000 AS STRING)"),
          15, "0"))
        .withColumn("psum", expr(
          s"""aggregate(transform(sequence(1, 15), i -> ${luhnTerm("pay")}),
             |  0, (a, x) -> a + x)""".stripMargin))
        .withColumn("chk", expr("CAST((10 - psum % 10) % 10 AS INT)"))
        .withColumn("card", concat(col("pay"),
          when(col("doc_id") % 2 === 0, col("chk"))
            .otherwise((col("chk") + 1) % 10).cast("string")))
        .withColumn("cands", regexp_extract_all(
          concat(col("text"), lit(" card "), col("card")),
          lit("\\b\\d{16}\\b"), lit(0)))
      withCard
        .select(col("source"),
          size(col("cands")).cast("long").as("n_cand"),
          expr(
            s"""size(filter(cands, c ->
               |  aggregate(transform(sequence(1, 16), i -> ${luhnTerm("c")}),
               |    0, (a, x) -> a + x) % 10 = 0))""".stripMargin)
            .cast("long").as("n_valid"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_cand")).as("n_candidates"),
          sum(col("n_valid")).as("n_luhn_valid"),
          r6n(sum(col("n_valid")).cast("double") / sum(col("n_cand")))
            .as("valid_rate"))
        .orderBy(col("source"))
    }),

    /** Stratified quota sampling: at most K docs per language, chosen
      * by sha-256 content-key order — a reproducible "random" quota
      * that never reshuffles on re-run. A plain
      * Window.partitionBy(lang) would funnel each language into ONE
      * task (5 languages = 5 tasks over the whole corpus), so the
      * per-language rank is an in-language row number over the
      * (lang, skey, doc_id) range order
      * ([[graft.ops.GlobalRank.withRowNumbers]] — one plan, one range
      * exchange, no driver collect). */
    "q96_stratified_sample" -> ((s: SparkSession, dir: String) => {
      val skey = substring(
        sha2(concat(col("doc_id").cast("string"), col("text")), 256), 1, 16)
      graft.ops.GlobalRank.withRowNumbers(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("lang"), skey.as("skey")),
          Seq(col("skey"), col("doc_id")), "rk", groupCols = Seq("lang"))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("rk"), col("doc_id"), col("skey"))
        .orderBy(col("lang"), col("rk"))
    }),

    /** Incremental dedup: a new snapshot (doc_id % 10 == 0 stands in
      * for "today's crawl") keeps only docs whose exact content hash is
      * absent from the existing corpus — a left-anti join that shuffles
      * 32-byte hashes, never text. This is how exact dedup runs daily
      * at 100 TB: hash-join the delta against the corpus hash index
      * instead of re-deduplicating the world. */
    "q97_incremental_dedup" -> ((s: SparkSession, dir: String) => {
      val hashed = Tables(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val batch = hashed.filter(col("doc_id") % 10 === 0)
      val corpus = hashed.filter(col("doc_id") % 10 =!= 0)
      // shuffle_hash: the corpus hash index is the big side at scale —
      // Catalyst's static estimate would broadcast it
      batch.join(corpus.hint("shuffle_hash"), Seq("h"), "left_anti")
        .select(col("doc_id"), substring(col("h"), 1, 16).as("hash_prefix"))
        .orderBy(col("doc_id"))
    }),

    /** Time-series resampling with forward fill — the asfreq/ffill
      * primitive feature pipelines run before training on event data:
      * per user, an hourly grid from the first event hour to the last
      * event, each grid point carrying the latest value at-or-before
      * it. COMPOSITION showcase: the grid is a per-group
      * sequence+explode generator and the fill is the NATIVE as-of
      * join doing what it exists for — so the whole resample is two
      * narrow stages around one co-partitioned merge, no window over
      * the grid, no per-user loop. Oracle: DuckDB builds the same grid
      * and fills with its built-in ASOF. Pre-min(ts) grid points
      * null-fill (left-outer semantics) in both engines. */
    "q117_resample_ffill" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("value"))
      val grid = e.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
        .select(col("user_id").as("g_user"),
          explode(expr("sequence(t0, t1, interval 1 hour)")).as("grid_ts"))
      graft.ops.AsOf.joinBackward(
          grid,
          e.select(col("user_id").as("e_user"), col("ts"), col("value")),
          "g_user", "e_user", "grid_ts", "ts")
        .select(col("g_user").as("user_id"), col("grid_ts"),
          col("value").as("ffill_value"))
        .orderBy(col("user_id"), col("grid_ts"))
    }),

    /** Linear-interpolation resampling — q117's grid with lerp between
      * the latest event at-or-before and the earliest at-or-after each
      * grid point: BOTH directions of the native as-of operator
      * chained. The second merge's left side arrives already
      * hash-distributed on the user key from the first
      * (AsOfJoinExec.outputPartitioning = left partitioning), so
      * EnsureRequirements inserts no new left exchange — the whole
      * interpolation is grid-gen → one shuffle per side → two linear
      * merges. Time deltas use unix_micros on both engines (exact
      * integer micros; cast-to-double seconds would truncate
      * sub-second fractions differently). */
    "q118_resample_interp" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
        .filter(col("user_id") < 50)
        .select(col("user_id"), col("ts"), col("value"))
      val grid = e.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("t0"), max(col("ts")).as("t1"))
        .select(col("user_id").as("g_user"),
          explode(expr("sequence(t0, t1, interval 1 hour)")).as("grid_ts"))
      val withBack = graft.ops.AsOf.joinBackward(
        grid,
        e.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
          col("value").as("b_val")),
        "g_user", "b_user", "grid_ts", "b_ts")
      val both = graft.ops.AsOf.joinForward(
        withBack,
        e.select(col("user_id").as("f_user"), col("ts").as("f_ts"),
          col("value").as("f_val")),
        "g_user", "f_user", "grid_ts", "f_ts")
      val g = unix_micros(col("grid_ts")).cast("double")
      val b = unix_micros(col("b_ts")).cast("double")
      val f = unix_micros(col("f_ts")).cast("double")
      both.select(col("g_user").as("user_id"), col("grid_ts"),
        graft.r6(
          when(col("b_ts").isNull, col("f_val"))
            .when(col("f_ts").isNull, col("b_val"))
            .when(col("f_ts") === col("b_ts"), col("b_val"))
            .otherwise(col("b_val") +
              (col("f_val") - col("b_val")) * (g - b) / (f - b)))
          .as("interp_value"))
        .orderBy(col("user_id"), col("grid_ts"))
    }),

    /** Bloom-gated incremental dedup — q97's semantics with the scale
      * accelerator: a bloom filter over the corpus's 8-byte content
      * hashes (built distributed via stat.bloomFilter's treeAggregate,
      * probed by the codegen'd [[graft.functions.BloomMightContainLong]]
      * expression at the scan) splits today's batch into definite-new
      * rows (bloom negative — no false negatives, so they skip the
      * join entirely) and candidates, which alone pay the exact
      * anti-join on the collision-proof sha-256 key. At 100 TB the
      * anti-join shuffle carries only actual dups + the fpp tail
      * instead of the whole delta; the filter itself is megabytes
      * regardless of corpus size. Result is EXACT (bloom FPs are
      * eliminated by the verify join) — same oracle shape as q97. */
    "q108_bloom_dedup" -> ((s: SparkSession, dir: String) => {
      val hashed = Tables(s, dir, "documents")
        .select(col("doc_id"), xxhash64(col("text")).as("bk"),
          sha2(col("text"), 256).as("h"))
      val batch = hashed.filter(col("doc_id") % 10 === 0)
      val corpus = hashed.filter(col("doc_id") % 10 =!= 0).cache()
      val bloom = corpus.stat.bloomFilter("bk", math.max(corpus.count(), 1L), 0.01)
      val mc = graft.functions.BloomFunctions.mightContain(bloom, col("bk"))
      // null hash (null text) matches nothing in an anti-join — keep
      // the same "null is new" semantics on the bloom fast path
      val definiteNew = batch.filter(coalesce(!mc, lit(true)))
      val candidates = batch.filter(coalesce(mc, lit(false)))
      val verifiedNew = candidates
        .join(corpus.hint("shuffle_hash"), Seq("h"), "left_anti")
      definiteNew.unionByName(verifiedNew)
        .select(col("doc_id"), substring(col("h"), 1, 16).as("hash_prefix"))
        .orderBy(col("doc_id"))
    }),

    /** Source-mixture DRIFT between the incoming snapshot and the
      * standing corpus (the q97 split): per source, both shares and
      * the snapshot-side KL term p·ln(p/q) — the categorical-drift
      * screen a pipeline runs before re-weighting a new crawl into
      * the mixture (the reference's numeric drift check, applied to
      * the mixture distribution). Two map-side-combined counts on the
      * source key and one tiny join; counts are exact, shares are
      * small divisions, and the ln-based term is r6-rounded
      * (accumulated-float values sit off the rounding grid). Sources
      * present on only one side surface with a NULL term — the signal
      * a NEW source appeared, which no finite KL captures. */
    "q163_mixture_drift" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      def shares(side: org.apache.spark.sql.DataFrame, cnt: String, share: String) = {
        val n = side.count().toDouble
        side.groupBy(col("source")).agg(count(lit(1)).as(cnt))
          .withColumn(share, col(cnt) / lit(n))
      }
      val snap = shares(docs.filter(col("doc_id") % 10 === 0), "n_snap", "p")
      val corp = shares(docs.filter(col("doc_id") % 10 =!= 0), "n_corp", "q")
      snap.join(corp, Seq("source"), "full_outer")
        .select(col("source"), col("n_snap"), col("n_corp"),
          r6n(col("p")).as("snap_share"), r6n(col("q")).as("corp_share"),
          r6(col("p") * log(col("p") / col("q"))).as("kl_term"))
        .orderBy(col("source"))
    }),

    /** Temperature-scaled mixture weights — the multilingual/
      * multi-source sampling formula (w_s ∝ n_s^α, α < 1 upsamples
      * low-resource sources) at α = 0.3 and 0.7, with the boost factor
      * over natural sampling made explicit. Shape: one
      * map-side-combined count per source, then totals and cells fold
      * into ONE row (the cell list is bounded by |sources| —
      * control-plane-sized) and explode back — no join of any kind,
      * no totals broadcast. Natural shares are small-denominator
      * rationals, so every rounded column takes the +1e-12 nudge on
      * both engines. */
    "q177_temperature_mix" -> ((s: SparkSession, dir: String) => {
      val folded = Tables(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).cast("double").as("nn"),
          sum(pow(col("n"), 0.3)).as("z3"),
          sum(pow(col("n"), 0.7)).as("z7"),
          collect_list(struct(col("source"), col("n"))).as("cells"))
      def r6n(c: org.apache.spark.sql.Column) = round(c + 1e-12, 6)
      folded
        .select(explode(col("cells")).as("c"),
          col("nn"), col("z3"), col("z7"))
        .select(col("c.source").as("source"), col("c.n").as("n_docs"),
          r6n(col("c.n") / col("nn")).as("share"),
          r6n(pow(col("c.n"), 0.3) / col("z3")).as("w_t03"),
          r6n(pow(col("c.n"), 0.7) / col("z7")).as("w_t07"),
          r6n((pow(col("c.n"), 0.3) / col("z3")) / (col("c.n") / col("nn")))
            .as("boost_t03"))
        .orderBy(col("source"))
    }),

    /** Balanced shard manifest — the write-side layout step that turns
      * a curated corpus into N ≈ equal-byte shards: a GLOBAL size-
      * ordered row number ([[graft.ops.GlobalRank.withRowNumbers]] —
      * one range exchange, never an unpartitioned window) dealt
      * round-robin across 16 shards, so each shard receives every
      * 16th document of the size-sorted order and byte totals
      * equalize by construction (largest docs spread 1-per-shard
      * first). The manifest reports per-shard doc counts and byte
      * totals — the spread IS the balance proof. */
    "q178_shard_manifest" -> ((s: SparkSession, dir: String) => {
      val ranked = graft.ops.GlobalRank.withRowNumbers(
        Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars"), col("doc_id")), "rn")
      ranked.withColumn("shard", pmod(col("rn") - 1, lit(16L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("shard"))
    }),

    /** Compaction planning — the small-files fix every lakehouse
      * table needs (q178 deals equal-COUNT shards; real writers pack
      * to a target FILE SIZE): docs are laid out per source in
      * (bytes desc, id) order and cut into files by start-offset
      * binning — file = (running_bytes − own_bytes) DIV 64 KiB, the
      * same contiguous running-sum packing Spark's own
      * maxPartitionBytes split uses, so every file lands within one
      * document of the target. The per-source running sum does NOT
      * use a source-partitioned window (source is a constant-
      * cardinality key — one task per source at any scale, the exact
      * shape WindowAudit rejects): ONE [[graft.ops.GlobalRank]]
      * range exchange over (source, bytes desc, id) carries the
      * in-source running sum. Everything integer until the nudged
      * fill ratio. */
    "q247_compaction_plan" -> ((s: SparkSession, dir: String) => {
      graft.ops.GlobalRank.withRunningSum(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id")), "n_chars", "cum",
          Seq("source"))
        .withColumn("file_id",
          expr("CAST((cum - n_chars) DIV 65536 AS BIGINT)"))
        .groupBy(col("source"), col("file_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
        .select(col("source"), col("file_id"), col("n_docs"), col("bytes"),
          r6n(col("bytes").cast("double") / lit(65536.0)).as("fill_ratio"))
        .orderBy(col("source"), col("file_id"))
    }),

    /** CDC snapshot diff — the added/removed/changed/unchanged census
      * between two crawl snapshots, the reconciliation step before any
      * incremental pipeline run. The fixture synthesizes the snapshots
      * from one table (A drops doc_id % 5, B drops % 7 and mutates
      * % 11 — deterministic, so the oracle re-derives them); the
      * OPERATOR is the full-outer join on the doc key comparing
      * 32-byte CONTENT HASHES — at 100 TB the exchange carries keys
      * and digests, never document bodies, and change classification
      * is a codegen projection on the joined row. */
    "q188_snapshot_diff" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      val a = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("ha"))
      val b = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text")), 256).as("hb"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(
          when(col("ha").isNull, "added")
            .when(col("hb").isNull, "removed")
            .when(col("ha") =!= col("hb"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    }),

    /** Source-mixture upsampling: per-source integer weights (derived
      * deterministically from the source name) replicate docs
      * weight-many times with a copy index — the standard way to hit a
      * target domain mixture without a second storage copy. explode of
      * a per-row sequence: no shuffle, output is a generator over the
      * scan. */
    "q98_mixture_upsample" -> ((s: SparkSession, dir: String) => {
      // two-arg substr (to end of string) — the oracle uses
      // substr(source, 4); a fixed-length substring(source, 4, 8) would
      // silently diverge if a source suffix ever exceeded 8 digits
      val weight = (expr("substr(source, 4)").cast("int") % 3 + 1)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), weight.as("w"))
        .select(col("doc_id"), col("source"), col("w"),
          explode(sequence(lit(1), col("w"))).as("ci"))
        .select(col("doc_id"), col("source"), col("w").cast("long").as("weight"),
          col("ci").cast("long").as("copy_ix"))
        .orderBy(col("doc_id"), col("copy_ix"))
    }),

    /** The NATIVE as-of join operator (graft.plans.AsOfJoinExec:
      * custom LogicalPlan + SparkStrategy + merge-scan SparkPlan) on
      * the q54 workload: every purchase matched to the user's latest
      * click at-or-before it. The oracle is DuckDB's own built-in
      * ASOF LEFT JOIN — two independent native implementations of the
      * operator checked value-for-value. */
    "q99_asof_native" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      graft.ops.AsOf.joinBackward(purchases, clicks,
          "user_id", "c_user", "ts", "c_ts")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("c_id").as("asof_click_id"),
          graft.r6n(col("ts").cast("double") - col("c_ts").cast("double"))
            .as("gap_sec"))
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    /** FORWARD as-of: every purchase matched to the user's EARLIEST
      * click at-or-after it (follow-on behavior). Same native merge
      * operator, direction flipped — the scan shape, distribution and
      * ordering contracts are identical; only which cursor supplies
      * the match changes. Oracle: DuckDB ASOF with the inequality
      * reversed. */
    "q106_asof_forward" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      graft.ops.AsOf.joinForward(purchases, clicks,
          "user_id", "c_user", "ts", "c_ts")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("c_id").as("asof_click_id"),
          graft.r6n(col("c_ts").cast("double") - col("ts").cast("double"))
            .as("gap_sec"))
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    /** NEAREST as-of: the click closest in time on either side (tie →
      * backward, matching pandas merge_asof). DuckDB has no nearest
      * ASOF, so the oracle is the declarative argmin — row_number over
      * (|ts diff|, click ts) per purchase — which also pins the
      * tie-break. */
    "q107_asof_nearest" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      graft.ops.AsOf.joinNearest(purchases, clicks,
          "user_id", "c_user", "ts", "c_ts")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("c_id").as("asof_click_id"),
          graft.r6n(abs(col("ts").cast("double") - col("c_ts").cast("double")))
            .as("gap_sec"))
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    /** Bounded as-of: backward with a 1-HOUR tolerance — the pandas
      * `merge_asof(tolerance=)` / production form where a stale match
      * is worse than no match. The merge cursor already holds the
      * closest admissible candidate, so the bound is a post-pick
      * distance check (tolerance is in the ts type's internal units;
      * timestamps = microseconds): candidates farther than 1h
      * null-extend. On this feed the bound bites hard — ~98% of
      * purchases lose their stale click match (median gap ≈ 36h).
      * Oracle: the declarative argmax-with-bound (row_number over
      * clicks ≤ ts within the bound). */
    "q121_asof_tolerance" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
      graft.ops.AsOf.joinBackward(purchases, clicks,
          "user_id", "c_user", "ts", "c_ts", tolerance = Some(3600e6 /* 1h in µs */))
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("c_id").as("asof_click_id"),
          graft.r6n(col("ts").cast("double") - col("c_ts").cast("double"))
            .as("gap_sec"))
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    /** The streaming purchase-click attribution
      * (EventStreams.purchaseClickAttribution) run on the static events
      * table: every (purchase, click) pair of the same user with the
      * click inside the preceding hour. On a stream it is the
      * bounded-state stream-stream join; on a batch frame its
      * watermarks are dropped and it is this oracle-checkable shape
      * (an interval join — equi on user_id + range on ts, so Spark
      * plans a hash join with the range as a post-probe filter, never
      * a cartesian). */
    "q100_click_attribution" -> ((s: SparkSession, dir: String) => {
      graft.streaming.EventStreams
        .purchaseClickAttribution(Tables(s, dir, "events"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          graft.r6n(col("p_ts").cast("double") - col("c_ts").cast("double"))
            .as("gap_sec"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    /** Linear multi-touch attribution by click hour-of-day — q100
      * emits the raw (purchase, click) pairs; the BUSINESS question
      * is which hours' clicks actually drive purchases, and
      * last-touch famously over-credits the final click. Here every
      * purchase splits one unit of credit equally across its k
      * window-qualified clicks (linear attribution), reported next
      * to the last-touch count so the over-credit is visible per
      * hour. Same bounded interval join as q100 (equi on user + the
      * hour window as a join-level filter), one per-purchase count
      * joined back on the purchase key, map-side-combined hour
      * rollup. Credit sums are small-denominator rationals (Σ 1/k)
      * → nudged r6; last-touch picks max(click_ts, click_id)
      * integer-lexicographically, engine-stable. */
    "q273_linear_attribution" -> ((s: SparkSession, dir: String) => {
      val pairs = graft.streaming.EventStreams
        .purchaseClickAttribution(Tables(s, dir, "events"))
        .select(col("purchase_id"), col("click_id"), col("c_ts"))
        .cache()
      val k = pairs.groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("k"),
          max(struct(unix_micros(col("c_ts")).as("us"),
            col("click_id").as("cid"))).as("lastc"))
      val credited = pairs.join(k, "purchase_id")
        .select(hour(col("c_ts")).cast("long").as("click_hour"),
          (lit(1.0) / col("k")).as("credit"),
          (unix_micros(col("c_ts")) === col("lastc.us") &&
            col("click_id") === col("lastc.cid")).cast("long").as("is_last"))
      credited.groupBy(col("click_hour"))
        .agg(count(lit(1)).as("n_clicks"),
          graft.r6n(sum(col("credit"))).as("linear_credit"),
          sum(col("is_last")).as("last_touch_count"))
        .orderBy(col("click_hour"))
    }),

    /** Position-based (U-shaped) attribution next to linear — the
      * third standard credit model: 40% to the FIRST touch (discovery)
      * and 40% to the LAST (closer), the middle clicks sharing 20%.
      * Comparing its hourly credit against q273's linear column shows
      * where the two models actually disagree (single-click purchases
      * agree by construction; long paths move credit to the
      * endpoints). Same bounded interval join; first/last picked
      * integer-lexicographically on (µs, click_id); credit weights
      * are small-denominator rationals → nudged r6 sums. */
    "q310_position_attribution" -> ((s: SparkSession, dir: String) => {
      val pairs = graft.streaming.EventStreams
        .purchaseClickAttribution(Tables(s, dir, "events"))
        .select(col("purchase_id"), col("click_id"), col("c_ts"))
        .cache()
      val k = pairs.groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("k"),
          min(struct(unix_micros(col("c_ts")).as("us"),
            col("click_id").as("cid"))).as("firstc"),
          max(struct(unix_micros(col("c_ts")).as("us"),
            col("click_id").as("cid"))).as("lastc"))
      val credited = pairs.join(k, "purchase_id")
        .select(hour(col("c_ts")).cast("long").as("click_hour"),
          (unix_micros(col("c_ts")) === col("firstc.us") &&
            col("click_id") === col("firstc.cid")).as("isf"),
          (unix_micros(col("c_ts")) === col("lastc.us") &&
            col("click_id") === col("lastc.cid")).as("isl"),
          col("k"))
        .select(col("click_hour"),
          when(col("k") === 1, lit(1.0))
            .when(col("k") === 2, when(col("isf") || col("isl"), lit(0.5))
              .otherwise(lit(0.0)))
            .otherwise(when(col("isf") || col("isl"), lit(0.4))
              .otherwise(lit(0.2) / (col("k") - 2).cast("double")))
            .as("credit"))
      credited.groupBy(col("click_hour"))
        .agg(count(lit(1)).as("n_clicks"),
          graft.r6n(sum(col("credit"))).as("position_credit"))
        .orderBy(col("click_hour"))
    }),

    /** Token-budget waterfilling — the allocation step behind every
      * "sample B tokens from m sources without letting the big crawls
      * drown the small ones" decision (q177's temperature weights are
      * a heuristic; waterfilling is the exact fair allocation): find
      * the level cap where Σ min(n_s, cap) = B, take every source up
      * to the cap, small sources whole. Per-source token counts are
      * one map-side-combined aggregate; the solve runs over the
      * SOURCE-DOMAIN-bounded table via the q177 collect-explode
      * stance — sources sort ascending in-expression and one fold
      * finds the breakpoint j (sources kept whole) and the INTEGER
      * cap (B − prefix_j) DIV (m − j) — everything exact LONGs, the
      * emitted allocation is min(n_s, cap), and Σ alloc ≤ B with
      * slack < m by construction. B = half the corpus tokens
      * (parametric in real use). */
    "q276_token_waterfill" -> ((s: SparkSession, dir: String) => {
      val perSrc = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("source"),
          expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS BIGINT)")
            .as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      perSrc
        .agg(collect_list(struct(col("n_tokens"), col("source"))).as("gs"))
        .withColumn("b", expr("aggregate(gs, 0L, (a, g) -> a + g.n_tokens) DIV 2"))
        .withColumn("m", size(col("gs")).cast("long"))
        .withColumn("ns", expr("array_sort(transform(gs, g -> g.n_tokens))"))
        // fold over ascending counts: j sources kept whole (prefix
        // grows); the first index where n_j * (m - j) + prefix > B
        // fixes the level; cap = (B - prefix_j) DIV (m - j)
        .withColumn("cap", expr("""
          aggregate(ns,
            named_struct('j', 0L, 'prefix', 0L, 'cap', CAST(NULL AS BIGINT)),
            (acc, n) -> IF(acc.cap IS NOT NULL, acc,
              IF(acc.prefix + n * (m - acc.j) > b,
                named_struct('j', acc.j, 'prefix', acc.prefix,
                  'cap', (b - acc.prefix) DIV (m - acc.j)),
                named_struct('j', acc.j + 1, 'prefix', acc.prefix + n,
                  'cap', CAST(NULL AS BIGINT)))),
            acc -> coalesce(acc.cap, b))""".stripMargin))
        .select(explode(col("gs")).as("g"), col("b").as("budget"),
          col("cap"))
        .select(col("g.source").as("source"), col("g.n_tokens").as("n_tokens"),
          col("budget"), col("cap").as("cap_tokens"),
          least(col("g.n_tokens"), col("cap")).as("allocation"),
          (col("g.n_tokens") > col("cap")).cast("long").as("capped"))
        .orderBy(col("source"))
    }),

    /** Sliding-window chunking with overlap — the RAG / embedding-prep
      * step: 64-token chunks at stride 48 (16-token overlap), short
      * tail kept. Entirely per-row generator arithmetic
      * (sequence + explode): no shuffle, no state, output is a
      * generator over the scan at any corpus size. */
    "q104_chunk_overlap" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .select(col("doc_id"), col("n_tok"),
          posexplode(expr("sequence(1L, n_tok, 48L)")).as(Seq("ci", "start")))
        .select(col("doc_id"), (col("ci") + 1).cast("long").as("chunk_ix"),
          col("start"), least(col("start") + 63L, col("n_tok")).as("end"),
          (least(col("start") + 63L, col("n_tok")) - col("start") + 1L)
            .as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_ix"))
    }),

    /** Equi-depth decile histogram of event values per type
      * ([[graft.ops.Quantiles.equiDepthBins]]): ten equal-count bins
      * with their value ranges and means — the skew-proof drift
      * histogram (q116's equal-width bars collapse when one tail owns
      * the range) and the standard feature-binning step. Oracle:
      * DuckDB NTILE over the same (type, value) order; bin aggregates
      * are invariant to how engines break ties between equal values. */
    "q130_equidepth_bins" -> ((s: SparkSession, dir: String) => {
      graft.ops.Quantiles.equiDepthBins(
          Tables(s, dir, "events").select(col("event_type"), col("value")),
          Seq("event_type"), "value", 10)
        .select(col("event_type"), col("bin"), col("n"),
          graft.r6(col("lo")).as("lo"), graft.r6(col("hi")).as("hi"),
          graft.r6(col("mean")).as("mean"))
        .orderBy(col("event_type"), col("bin"))
    }),

    /** Per-group IQR outlier screen (Tukey fences): rows outside
      * [p25 − 1.5·IQR, p75 + 1.5·IQR] flagged per event_type — the
      * robust DQ anomaly gate (quartiles don't move when the outliers
      * themselves grow, unlike mean±3σ). Rides
      * [[graft.ops.Quantiles.withQuantiles]], so the fence computation
      * and the flagging pass share ONE scan + sort of events; output
      * is the per-group outlier census plus the fences for the
      * dashboard. */
    "q129_iqr_outliers" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events").select(col("event_type"), col("value"))
      val lo = col("p25") - (col("p75") - col("p25")) * 1.5
      val hi = col("p75") + (col("p75") - col("p25")) * 1.5
      graft.ops.Quantiles.withQuantiles(
          e, Seq("event_type"), "value", Seq("p25" -> 0.25, "p75" -> 0.75))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") < lo).cast("long")).as("n_low"),
          sum((col("value") > hi).cast("long")).as("n_high"),
          graft.r6(first(lo)).as("fence_lo"),
          graft.r6(first(hi)).as("fence_hi"))
        .orderBy(col("event_type"))
    }),

    /** Per-group winsorization — outlier clipping to the [p05, p95]
      * band before aggregation, the standard robust-stats step before
      * training-signal aggregation. ONE scan: the clip + re-aggregate
      * reads the same ranked intermediate the quantile bounds came from
      * ([[graft.ops.Quantiles.withQuantiles]] — rows and bounds both
      * hang off one range exchange; the former compose-by-join shape
      * re-scanned `events` per bound join, a 5× scan multiplier that IS
      * the query cost at 100 TB). `value` is a mostly-distinct double,
      * exactly the column where `percentile`'s value→count buffer grows
      * O(n) per group. Reports mean before/after and the clipped-row
      * count per event_type. */
    "q103_winsorize" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
      graft.ops.Quantiles.withQuantiles(
          e, Seq("event_type"), "value", Seq("lo" -> 0.05, "hi" -> 0.95))
        .select(col("event_type"), col("value"),
          greatest(col("lo"), least(col("hi"), col("value"))).as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .cast("long").as("was_clipped"))
        .groupBy(col("event_type"))
        .agg(graft.r6(avg(col("value"))).as("mean_raw"),
          graft.r6(avg(col("clipped"))).as("mean_winsor"),
          sum(col("was_clipped")).as("n_clipped"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    /** Context-length WHAT-IF curve — the packing-policy economics
      * q94 (which implements one policy at one length) leaves open:
      * for each candidate context length L, the padding-waste share
      * under pad-per-document packing (every doc padded up to a
      * multiple of L) versus the document-fragmentation cost under
      * concat-and-chunk (docs crossing chunk boundaries lose
      * attention locality). The expensive part — the global running
      * token count in doc_id order — is L-INDEPENDENT and computed
      * ONCE via [[graft.ops.GlobalRank.withRunningSum]] (one range
      * exchange, never an unpartitioned Window); the 4-length grid
      * is a literal explode over that single pass, and every metric
      * is integer div/compare arithmetic, so the two shares are the
      * only doubles (exact integer rationals, nudged-rounded). */
    "q349_packing_whatif" -> ((s: SparkSession, dir: String) => {
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val c = graft.ops.GlobalRank
        .withRunningSum(toks, Seq(col("doc_id")), "n_tok", "running")
        .select(col("n_tok"), col("running"),
          explode(expr("array(256L, 512L, 1024L, 2048L)")).as("l_ctx"))
      c.select(col("l_ctx"), col("n_tok"),
          expr("(n_tok + l_ctx - 1) div l_ctx").as("pad_seqs"),
          expr("(running - 1) div l_ctx - (running - n_tok) div l_ctx")
            .as("crossings"))
        .groupBy(col("l_ctx"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("pad_seqs")).as("pad_seqs"),
          sum((col("crossings") > 0).cast("long")).as("frag_docs"),
          sum(col("crossings")).as("crossings"))
        .select(col("l_ctx"), col("n_docs"), col("total_tokens"),
          col("pad_seqs"), col("frag_docs"), col("crossings"),
          r6n((col("pad_seqs") * col("l_ctx") - col("total_tokens"))
            .cast("double") / (col("pad_seqs") * col("l_ctx")))
            .as("pad_waste_share"),
          r6n(col("frag_docs").cast("double") / col("n_docs"))
            .as("frag_doc_share"))
        .orderBy(col("l_ctx"))
    }),

    /** CHUNK-granularity exact dedup census — doc-level dedup (q32)
      * misses the dominant web pattern: distinct documents sharing
      * large repeated SPANS (templates, quoted threads, syndicated
      * paragraphs). Split every doc into non-overlapping 32-token
      * chunks, hash each (the exchange carries 32-byte digests, never
      * text — the q97 exact-dedup stance at sub-document grain), and
      * report per source: chunk volume, chunks whose content appears
      * ≥ 2 times corpus-wide, the docs carrying such a chunk, and the
      * duplicated-chunk share — the number that says whether a source
      * needs span-level dedup (RETRO-style) after doc-level passes
      * keep everything. One map-side-combined chunk-df count + one
      * hash join back; linear in corpus tokens at any scale. */
    "q364_chunk_dedup" -> ((s: SparkSession, dir: String) => {
      val chunks = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(0, (size(toks) - 1) DIV 32),
            |  i -> sha2(concat_ws(' ', slice(toks, i * 32 + 1, 32)), 256))"""
            .stripMargin)).as("h"))
        .cache() // the df count and the join-back both read it
      val cdf = chunks.groupBy(col("h")).agg(count(lit(1)).as("cdf"))
      chunks.join(cdf.hint("shuffle_hash"), "h")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count_if(col("cdf") >= 2).as("n_dup_chunks"),
          countDistinct(when(col("cdf") >= 2, col("doc_id")))
            .as("n_docs_with_dup"),
          r6n(count_if(col("cdf") >= 2).cast("double") / count(lit(1)))
            .as("dup_chunk_share"))
        .orderBy(col("source"))
    }),

    /** Token-BUDGET quality selection — the doc-level decision q276's
      * waterfill allocates for: each source gets a 30% token quota
      * (integer arithmetic, `tot*3 DIV 10`) and fills it greedily by
      * the q39 composite quality score (ties to the lowest doc_id).
      * The per-source cumulative token sum and the source's token total
      * come from ONE in-source [[graft.ops.GlobalRank.withRunningSum]]
      * over the (source, quality desc, doc_id) range order — NEVER a
      * `Window.partitionBy(source)` (a handful of schema-bounded
      * partitions funnels the corpus through a handful of tasks;
      * WindowAudit rejects the shape suite-wide). Output per source:
      * quota, docs/tokens kept, fill rate. */
    "q365_quota_select" -> ((s: SparkSession, dir: String) => {
      val sp = split(col("text"), " ")
      val ntD = size(sp).cast("double")
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull) // codebase convention (q36/q370): a null text must not reach size() — the segmented scan would raise
        .select(col("doc_id"), col("source"),
          size(sp).cast("long").as("nt"),
          (lit(0.5) * (size(array_distinct(sp)) / ntD) +
            lit(0.3) * (lit(1.0) -
              size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))")) / ntD) +
            lit(0.2) * least(ntD / 100.0, lit(1.0))).as("q"))
      graft.ops.GlobalRank.withRunningSum(
          d, Seq(col("q").desc, col("doc_id")), "nt", "cum", Seq("source"))
        .withColumn("quota", expr("cum_total * 3 DIV 10"))
        .groupBy(col("source"), col("quota"))
        .agg(count_if(col("cum") <= col("quota")).as("n_docs_kept"),
          coalesce(sum(when(col("cum") <= col("quota"), col("nt"))), lit(0L))
            .as("tokens_kept"))
        .select(col("source"), col("quota").as("quota_tokens"),
          col("n_docs_kept"), col("tokens_kept"),
          // a source with < 4 tokens has quota 0 (tot*3 DIV 10); an
          // unguarded division yields NaN where the oracle's CASE is 0
          when(col("quota") > 0,
            r6n(col("tokens_kept").cast("double") / col("quota")))
            .otherwise(lit(0.0)).as("fill_rate"))
        .orderBy(col("source"))
    }),

    /** Budget FILL CURVE — q365's operating table: per token-budget
      * fraction (10…50% of each source's token mass, integer quota
      * arithmetic), the corpus-wide docs/tokens the greedy
      * quality-ordered fill keeps, the realized fill rate, and the
      * QUALITY FLOOR (minimum q39 composite among kept docs) — the
      * curve a curation owner reads to pick a budget, instead of
      * re-running the selection five times. ONE in-source GlobalRank
      * running sum (the q365 shape) carries the per-source cumsum;
      * the 5-point fraction grid is a literal generator joined per
      * source; the 5-row quota-denominator fold crosses back via an
      * equi-join on the grid key. */
    "q371_budget_fill_curve" -> ((s: SparkSession, dir: String) => {
      val sp = split(col("text"), " ")
      val ntD = size(sp).cast("double")
      val d = Tables(s, dir, "documents")
        .filter(col("text").isNotNull) // same guard as q365
        .select(col("doc_id"), col("source"),
          size(sp).cast("long").as("nt"),
          (lit(0.5) * (size(array_distinct(sp)) / ntD) +
            lit(0.3) * (lit(1.0) -
              size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))")) / ntD) +
            lit(0.2) * least(ntD / 100.0, lit(1.0))).as("q"))
      val cum = graft.ops.GlobalRank.withRunningSum(
        d, Seq(col("q").desc, col("doc_id")), "nt", "cum", Seq("source"))
      val grid = d.groupBy(col("source")).agg(sum(col("nt")).as("tot"))
        .select(col("source"), col("tot"),
          explode(expr("sequence(1L, 5L)")).as("k"))
        .select(col("source"), col("k"), expr("tot * k DIV 10").as("quota"))
        .cache() // per-doc keep flags and the denominator fold read it
      val qsum = grid.groupBy(col("k")).agg(sum(col("quota")).as("qsum"))
      cum.join(grid, "source")
        .select(col("k"), col("nt"), col("q"),
          (col("cum") <= col("quota")).as("keep"))
        .groupBy(col("k"))
        .agg(count_if(col("keep")).as("n_docs_kept"),
          coalesce(sum(when(col("keep"), col("nt"))), lit(0L)).as("tokens_kept"),
          min(when(col("keep"), col("q"))).as("minq"))
        .join(qsum, "k")
        .select((col("k") * 10).as("budget_pct"), col("n_docs_kept"),
          col("tokens_kept"),
          when(col("qsum") > 0,
            r6n(col("tokens_kept").cast("double") / col("qsum")))
            .otherwise(lit(0.0)).as("fill_rate"),
          r6n(col("minq")).as("min_quality_kept"))
        .orderBy(col("budget_pct"))
    }),

    /** Shard-BOUNDARY stitch audit — CONSECUTIVE docs of a source (in
      * doc_id order, the shard writer's order) whose texts overlap at
      * the join point (the previous doc's last k tokens = the next
      * doc's first k, k ≤ 8): the signature of one upstream record
      * split across two rows, which doc-level dedup can never see
      * (the halves are not similar, they are CONTIGUOUS). Per-source
      * sequencing NEVER uses a `Window.partitionBy(source)` (the
      * schema-bounded funnel WindowAudit rejects): one in-source
      * [[graft.ops.GlobalRank.withRowNumbers]] pass over the
      * (source, doc_id) range order yields each doc's in-source
      * position; adjacency is then an equi-join on
      * (source, position+1). The overlap probe is a per-pair 8-step
      * literal generator over array slices. Per source: pair volume,
      * stitched pairs (overlap ≥ 4), mean/max overlap. */
    "q369_boundary_stitch" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      val rk = graft.ops.GlobalRank.withRowNumbers(
          d, Seq(col("doc_id")), "rk", groupCols = Seq("source"))
        .select(col("source"), col("toks"), col("rk"))
      val pairs = rk.select(col("source"), (col("rk") + 1).as("rk"),
          col("toks").as("ptoks"))
        .join(rk, Seq("source", "rk"))
      pairs
        .select(col("source"),
          expr("""aggregate(sequence(1, 8), 0L, (acc, k) ->
            |  IF(size(ptoks) >= k AND size(toks) >= k AND
            |     slice(ptoks, -k, k) = slice(toks, 1, k),
            |     CAST(k AS BIGINT), acc))""".stripMargin).as("overlap"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_adjacent"),
          count_if(col("overlap") >= 4).as("n_stitched"),
          r6n(avg(col("overlap"))).as("avg_overlap"),
          max(col("overlap")).as("max_overlap"))
        .orderBy(col("source"))
    }),

    /** Boilerplate CATALOG — the top-20 most-duplicated 32-token
      * chunks as an ACTIONABLE table (q364 censuses dup-chunk volume
      * per source; this names the actual strings to strip): per
      * chunk, occurrence count, distinct docs, distinct sources, and
      * the total character mass it owns. Hashes cross the wire, never
      * text (the q364 stance); the chunk STRINGS are fetched
      * candidate-restricted at the end — re-chunk only the ≤ 20
      * representative docs (min doc_id per chunk) and join back on
      * the hash. Top-20 cut on (count desc, sha hex) so the boundary
      * is engine-portable. */
    "q388_boilerplate_catalog" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      boilerplateCatalog(chunkRows(docs), docs)
    }),

    /** Deterministic stratified-SAMPLE representativeness audit — the
      * QA table behind every "we eyeballed a sample" claim: per
      * source, the bottom-50 docs by sha-256(doc_id) (a deterministic,
      * engine-portable uniform draw — the q79 split-rule family) next
      * to the stratum: sample size, mean chars sample vs all, the
      * absolute gap. A gap far off zero means the cheap eyeball
      * sample misrepresents the stratum and per-source decisions made
      * from it inherit the bias. Per-source ranking NEVER uses a
      * Window.partitionBy(source) funnel: one in-source
      * [[graft.ops.GlobalRank.withRowNumbers]] over the
      * (source, hash, doc_id) range order (the q369 shape). */
    "q391_sample_audit" -> ((s: SparkSession, dir: String) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          sha2(col("doc_id").cast("string"), 256).as("h"))
      graft.ops.GlobalRank.withRowNumbers(
          d, Seq(col("h"), col("doc_id")), "rn", groupCols = Seq("source"))
        .select(col("source"), col("n_chars"), (col("rn") <= 50).as("samp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_if(col("samp")).as("n_sample"),
          r6n(avg(col("n_chars"))).as("mean_chars_all"),
          r6n(avg(when(col("samp"), col("n_chars")))).as("mean_chars_sample"),
          r6n(abs(avg(when(col("samp"), col("n_chars"))) - avg(col("n_chars"))))
            .as("abs_gap"))
        .orderBy(col("source"))
    }),

    /** Vocabulary RANK-BIASED OVERLAP matrix — which crawls speak the
      * same language, measured on their top-50 token RANKINGS (RBO,
      * p = 0.9, truncated at depth 50): value-distribution drift
      * tests (PSI/KS) see the marginals, q240's chargram distance
      * sees characters; RBO sees the head-vocabulary ORDER — the
      * thing templated/recrawled sources share even when volumes
      * differ. Per-source top-50 via a rank ≤ 50 cut on the bounded
      * source-domain window (WindowGroupLimit prunes map-side — the
      * q317 stance); the pairwise grid is the schema-bounded source
      * domain (q344 class); the RBO itself is a 50-step sequential
      * literal fold, mirrored op-for-op in the oracle. */
    "q392_vocab_rbo" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val tok = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .filter(length(col("t")) > 0)
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("source")).orderBy(desc("c"), col("t"))
      val lists = tok.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .groupBy(col("source"))
        .agg(expr("transform(array_sort(collect_list(struct(rk, t))), x -> x.t)")
          .as("l"))
        .cache() // both sides of the bounded pair grid read it
      lists.join(
          lists.select(col("source").as("s2"), col("l").as("l2")),
          col("source") < col("s2"))
        .select(col("source").as("s1"), col("s2"),
          r6n(expr(
            """aggregate(sequence(1, 50), 0D, (acc, d) ->
              |  acc + pow(0.9D, d - 1) *
              |    size(array_intersect(slice(l, 1, d), slice(l2, 1, d)))
              |    / cast(d AS double)) * 0.1D""".stripMargin)).as("rbo"))
        .orderBy(col("s1"), col("s2"))
    }),

    /** Shuffle-MIXING audit — does the deterministic hash shuffle that
      * orders training shards (the q78/q79 split convention: order by
      * a cryptographic hash of the id) actually interleave sources?
      * A training run over a poorly mixed stream sees source-correlated
      * batches — gradient noise that looks like loss spikes. Per
      * source: the count of ADJACENT same-source pairs in the
      * md5(doc_id) order vs the expectation under a uniform random
      * permutation (n_s·(n_s−1)/n — the birthday-adjacency count), and
      * their ratio (≈1 healthy, >>1 means the hash key accidentally
      * correlates with the source, e.g. id ranges assigned per crawl).
      * Scale shape: the total order is [[graft.ops.GlobalRank]]'s ONE
      * range exchange (never a single-partition window), adjacency is
      * an equi self-join on rn+1 (shuffle on the rank, AQE-planned),
      * and everything after is a 20-row source aggregate. Sources with
      * n_docs ≤ 1 have no expectation — ratio NULL on both engines. */
    "q402_shuffle_mixing_audit" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
      val ranked = graft.ops.GlobalRank.withRowNumbers(
          docs, Seq(asc_nulls_first("h"), asc_nulls_first("doc_id")), "rn")
        .select(col("rn"), col("source"))
        .cache() // both sides of the rn+1 self-join read it
      val adj = ranked.as("x").join(ranked.as("y"),
          col("y.rn") === col("x.rn") + 1)
        .select(col("x.source").as("s1"), col("y.source").as("s2"))
      val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val tot = cnt.agg(sum(col("n_docs")).as("n"))
      val obs = adj.filter(col("s1") === col("s2"))
        .groupBy(col("s1").as("source")).agg(count(lit(1)).as("adj_same"))
      cnt.join(obs, Seq("source"), "left")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          coalesce(col("adj_same"), lit(0L)).as("adj_same"),
          r6n(col("n_docs").cast("double") * (col("n_docs") - 1) / col("n"))
            .as("expected_adj"),
          when(col("n_docs") > 1,
            r6n(coalesce(col("adj_same"), lit(0L)).cast("double") * col("n") /
              (col("n_docs").cast("double") * (col("n_docs") - 1))))
            .as("mixing_ratio"))
        .orderBy(col("source"))
    })
  )

  val oracles: Map[String, String] = Map(

    // same 32-token non-overlapping chunk grid (DuckDB list slices are
    // 1-based inclusive and clamp at the tail exactly like slice()),
    // same sha-256 content hash, same ≥2 corpus-wide df rule
    "q364_chunk_dedup" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |  unnest(list_transform(
        |    generate_series(0, (len(string_split(text, ' ')) - 1) // 32),
        |    i -> sha256(array_to_string(
        |      string_split(text, ' ')[i * 32 + 1 : i * 32 + 32], ' '))))
        |    AS h
        |  FROM documents WHERE text IS NOT NULL),
        |d AS (SELECT h, count(*) AS cdf FROM c GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |CAST(count(*) FILTER (cdf >= 2) AS BIGINT) AS n_dup_chunks,
        |CAST(count(DISTINCT CASE WHEN cdf >= 2 THEN doc_id END) AS BIGINT)
        |  AS n_docs_with_dup,
        |round(count(*) FILTER (cdf >= 2) * 1.0 / count(*) + 1e-12, 6)
        |  AS dup_chunk_share
        |FROM c JOIN d USING (h)
        |GROUP BY 1
        |ORDER BY source NULLS FIRST""".stripMargin,

    "q145_quantile_normalize" ->
      """WITH g AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v, count(*) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, cnt,
        |  sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |  sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM g)
        |SELECT lang,
        |CAST(least(floor((CAST(cum - cnt AS DOUBLE) / n) * 10), 9) AS BIGINT) AS decile,
        |CAST(sum(cnt) AS BIGINT) AS n_docs
        |FROM c GROUP BY 1, 2
        |ORDER BY lang NULLS FIRST, decile NULLS FIRST""".stripMargin,

    "q94_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tok,
         |  CAST(sum(n_tok) OVER (ORDER BY doc_id NULLS FIRST
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS running
         |  FROM t)
         |SELECT doc_id, n_tok,
         |CAST((running - n_tok) // $ctx AS BIGINT) AS chunk_first,
         |CAST((running - 1) // $ctx AS BIGINT) AS chunk_last,
         |CAST((running - 1) // $ctx - (running - n_tok) // $ctx + 1 AS BIGINT)
         |  AS n_chunks
         |FROM c ORDER BY doc_id NULLS FIRST""".stripMargin,

    "q349_packing_whatif" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |  CAST(sum(n_tok) OVER (ORDER BY doc_id NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running
        |  FROM t),
        |g AS (
        |  SELECT l_ctx, n_tok,
        |  (n_tok + l_ctx - 1) // l_ctx AS pad_seqs,
        |  (running - 1) // l_ctx - (running - n_tok) // l_ctx AS crossings
        |  FROM c CROSS JOIN (
        |    SELECT unnest([256, 512, 1024, 2048]) AS l_ctx)),
        |a AS (
        |  SELECT CAST(l_ctx AS BIGINT) AS l_ctx,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(pad_seqs) AS BIGINT) AS pad_seqs,
        |  CAST(count_if(crossings > 0) AS BIGINT) AS frag_docs,
        |  CAST(sum(crossings) AS BIGINT) AS crossings
        |  FROM g GROUP BY 1)
        |SELECT l_ctx, n_docs, total_tokens, pad_seqs, frag_docs, crossings,
        |round((pad_seqs * l_ctx - total_tokens) * 1.0 / (pad_seqs * l_ctx)
        |  + 1e-12, 6) AS pad_waste_share,
        |round(frag_docs * 1.0 / n_docs + 1e-12, 6) AS frag_doc_share
        |FROM a ORDER BY l_ctx NULLS FIRST""".stripMargin,

    "q95_pii_redact" ->
      """WITH a AS (
        |  SELECT doc_id, text || ' reach user' || CAST(doc_id % 100 AS VARCHAR)
        |    || '@mail.com or 10.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |    || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
        |    || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    AS aug
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, aug,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS red
        |  FROM a)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |CAST(len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |CAST(len(regexp_extract_all(aug, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |CAST(length(red) AS BIGINT) AS red_len,
        |CAST(length(aug) - length(red) AS BIGINT) AS removed
        |FROM r ORDER BY doc_id NULLS FIRST""".stripMargin,

    "q254_luhn_cards" -> {
      def luhnTerm(src: String) =
        s"""CASE WHEN i % 2 = 1
           |  THEN CASE WHEN CAST(substr($src, CAST(i AS INT), 1) AS INT) * 2 > 9
           |    THEN CAST(substr($src, CAST(i AS INT), 1) AS INT) * 2 - 9
           |    ELSE CAST(substr($src, CAST(i AS INT), 1) AS INT) * 2 END
           |  ELSE CAST(substr($src, CAST(i AS INT), 1) AS INT) END"""
          .stripMargin
      s"""WITH p AS (
         |  SELECT doc_id, source, text,
         |  lpad(CAST((doc_id * 7919 + 12345) % 1000000000000000 AS VARCHAR),
         |    15, '0') AS pay
         |  FROM documents),
         |ps AS (
         |  SELECT doc_id, source, text, pay,
         |  list_reduce(list_prepend(0, list_transform(generate_series(1, 15),
         |    i -> ${luhnTerm("pay")})), (a, x) -> a + x) AS psum
         |  FROM p),
         |cd AS (
         |  SELECT doc_id, source, text,
         |  pay || CAST(CASE WHEN doc_id % 2 = 0 THEN (10 - psum % 10) % 10
         |    ELSE ((10 - psum % 10) % 10 + 1) % 10 END AS VARCHAR) AS card
         |  FROM ps),
         |ex AS (
         |  SELECT doc_id, source,
         |  regexp_extract_all(text || ' card ' || card, '\\b\\d{16}\\b')
         |    AS cands
         |  FROM cd),
         |v AS (
         |  SELECT source, len(cands) AS n_cand,
         |  len(list_filter(cands, c ->
         |    list_reduce(list_prepend(0, list_transform(generate_series(1, 16),
         |      i -> ${luhnTerm("c")})), (a, x) -> a + x) % 10 = 0)) AS n_valid
         |  FROM ex)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_cand) AS BIGINT) AS n_candidates,
         |CAST(sum(n_valid) AS BIGINT) AS n_luhn_valid,
         |round(sum(n_valid) * 1.0 / sum(n_cand) + 1e-12, 6) AS valid_rate
         |FROM v GROUP BY 1
         |ORDER BY source NULLS FIRST""".stripMargin
    },

    "q96_stratified_sample" ->
      """SELECT lang, rk, doc_id, skey FROM (
        |  SELECT lang, doc_id,
        |  substr(sha256(CAST(doc_id AS VARCHAR) || text), 1, 16) AS skey,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(sha256(CAST(doc_id AS VARCHAR) || text), 1, 16)
        |      NULLS FIRST, doc_id NULLS FIRST) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 20
        |ORDER BY lang NULLS FIRST, rk NULLS FIRST""".stripMargin,

    "q97_incremental_dedup" ->
      """WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents)
        |SELECT b.doc_id, substr(b.h, 1, 16) AS hash_prefix
        |FROM h b
        |WHERE b.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM h c WHERE c.doc_id % 10 <> 0 AND c.h = b.h)
        |ORDER BY b.doc_id NULLS FIRST""".stripMargin,

    "q117_resample_ffill" ->
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 50),
        |b AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
        |      FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
        |      FROM b)
        |SELECT g.user_id AS user_id, g.grid_ts AS grid_ts, e.value AS ffill_value
        |FROM g ASOF LEFT JOIN e
        |  ON g.user_id = e.user_id AND e.ts <= g.grid_ts
        |ORDER BY g.user_id NULLS FIRST, g.grid_ts NULLS FIRST""".stripMargin,

    "q118_resample_interp" ->
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 50),
        |bnd AS (SELECT user_id, date_trunc('hour', min(ts)) AS t0, max(ts) AS t1
        |        FROM e GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS grid_ts
        |      FROM bnd),
        |bk AS (SELECT g.user_id AS user_id, g.grid_ts AS grid_ts,
        |       e.ts AS b_ts, e.value AS b_val
        |       FROM g ASOF LEFT JOIN e
        |         ON g.user_id = e.user_id AND e.ts <= g.grid_ts),
        |fw AS (SELECT g.user_id AS user_id, g.grid_ts AS grid_ts,
        |       e.ts AS f_ts, e.value AS f_val
        |       FROM g ASOF LEFT JOIN e
        |         ON g.user_id = e.user_id AND e.ts >= g.grid_ts)
        |SELECT bk.user_id AS user_id, bk.grid_ts AS grid_ts,
        |round(CASE
        |  WHEN b_ts IS NULL THEN f_val
        |  WHEN f_ts IS NULL THEN b_val
        |  WHEN f_ts = b_ts THEN b_val
        |  ELSE b_val + (f_val - b_val)
        |    * (CAST(epoch_us(bk.grid_ts) AS DOUBLE) - CAST(epoch_us(b_ts) AS DOUBLE))
        |    / (CAST(epoch_us(f_ts) AS DOUBLE) - CAST(epoch_us(b_ts) AS DOUBLE))
        |  END, 6) AS interp_value
        |FROM bk JOIN fw ON bk.user_id = fw.user_id AND bk.grid_ts = fw.grid_ts
        |ORDER BY bk.user_id NULLS FIRST, bk.grid_ts NULLS FIRST""".stripMargin,

    // identical semantics to q97 — the bloom gate is an accelerator,
    // not a semantic change, so the oracle is the same exact NOT EXISTS
    "q108_bloom_dedup" ->
      """WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents)
        |SELECT b.doc_id, substr(b.h, 1, 16) AS hash_prefix
        |FROM h b
        |WHERE b.doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM h c WHERE c.doc_id % 10 <> 0 AND c.h = b.h)
        |ORDER BY b.doc_id NULLS FIRST""".stripMargin,

    "q163_mixture_drift" ->
      """WITH snap AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_snap
        |  FROM documents WHERE doc_id % 10 = 0 GROUP BY source),
        |corp AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_corp
        |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY source),
        |ns AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 10 = 0),
        |nc AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 10 <> 0)
        |SELECT source, n_snap, n_corp,
        |round(n_snap / ns.t + 1e-12, 6) AS snap_share,
        |round(n_corp / nc.t + 1e-12, 6) AS corp_share,
        |round((n_snap / ns.t) * ln((n_snap / ns.t) / (n_corp / nc.t)), 6) AS kl_term
        |FROM snap FULL OUTER JOIN corp USING (source), ns, nc
        |ORDER BY source NULLS FIRST""".stripMargin,

    "q188_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, sha256(text) AS ha FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 5 <> 0),
        |b AS (
        |  SELECT doc_id,
        |  sha256(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS hb
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 7 <> 0),
        |j AS (
        |  SELECT CASE WHEN ha IS NULL THEN 'added'
        |    WHEN hb IS NULL THEN 'removed'
        |    WHEN ha <> hb THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |  FROM a FULL OUTER JOIN b USING (doc_id))
        |SELECT status, CAST(count(*) AS BIGINT) AS n
        |FROM j GROUP BY status
        |ORDER BY status NULLS FIRST""".stripMargin,

    "q177_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
        |  sum(pow(n, 0.3)) AS z3, sum(pow(n, 0.7)) AS z7 FROM c)
        |SELECT source, n AS n_docs,
        |round(n / nn + 1e-12, 6) AS share,
        |round(pow(n, 0.3) / z3 + 1e-12, 6) AS w_t03,
        |round(pow(n, 0.7) / z7 + 1e-12, 6) AS w_t07,
        |round((pow(n, 0.3) / z3) / (n / nn) + 1e-12, 6) AS boost_t03
        |FROM c, t
        |ORDER BY source NULLS FIRST""".stripMargin,

    "q178_shard_manifest" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        |  FROM documents)
        |SELECT (rn - 1) % 16 AS shard,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |CAST(min(n_chars) AS BIGINT) AS min_chars,
        |CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM r GROUP BY 1
        |ORDER BY shard NULLS FIRST""".stripMargin,

    "q247_compaction_plan" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |  sum(n_chars) OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS scum
        |  FROM documents)
        |SELECT source,
        |CAST((scum - n_chars) // 65536 AS BIGINT) AS file_id,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(n_chars) AS BIGINT) AS bytes,
        |round(sum(n_chars) / 65536.0 + 1e-12, 6) AS fill_ratio
        |FROM c GROUP BY 1, 2
        |ORDER BY source NULLS FIRST, file_id""".stripMargin,

    "q98_mixture_upsample" ->
      """SELECT doc_id, source,
        |CAST(CAST(substr(source, 4) AS INT) % 3 + 1 AS BIGINT) AS weight,
        |CAST(u.copy_ix AS BIGINT) AS copy_ix
        |FROM documents,
        |unnest(generate_series(1, CAST(substr(source, 4) AS INT) % 3 + 1))
        |  AS u(copy_ix)
        |ORDER BY doc_id NULLS FIRST, copy_ix NULLS FIRST""".stripMargin,

    "q99_asof_native" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |c.event_id AS asof_click_id,
        |round(epoch(p.ts) - epoch(c.ts) + 1e-12, 6) AS gap_sec
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |                WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.user_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    "q106_asof_forward" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |c.event_id AS asof_click_id,
        |round(epoch(c.ts) - epoch(p.ts) + 1e-12, 6) AS gap_sec
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |                WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts >= p.ts
        |ORDER BY p.user_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    // join condition requires BOTH timestamps non-null so a null-ts
    // purchase (or a user with only null-ts clicks) null-extends to
    // asof_click_id NULL — exactly the native operator's null
    // semantics — instead of the NULLS LAST ordering promoting an
    // undefined-distance pair to rank 1
    "q107_asof_nearest" ->
      """SELECT user_id, purchase_id, asof_click_id, gap_sec FROM (
        |  SELECT p.user_id, p.event_id AS purchase_id,
        |  c.event_id AS asof_click_id,
        |  round(abs(epoch(p.ts) - epoch(c.ts)) + 1e-12, 6) AS gap_sec,
        |  row_number() OVER (PARTITION BY p.event_id
        |    ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) NULLS LAST,
        |             c.ts NULLS LAST) AS rn
        |  FROM (SELECT user_id, ts, event_id FROM events
        |        WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |             WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id
        |   AND p.ts IS NOT NULL AND c.ts IS NOT NULL) t
        |WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    // argmax-with-bound: latest click ≤ purchase ts AND within 1 hour;
    // the epoch_us bound mirrors the operator's internal-unit distance
    "q121_asof_tolerance" ->
      """SELECT user_id, purchase_id, asof_click_id, gap_sec FROM (
        |  SELECT p.user_id, p.event_id AS purchase_id,
        |  c.event_id AS asof_click_id,
        |  round(epoch(p.ts) - epoch(c.ts) + 1e-12, 6) AS gap_sec,
        |  row_number() OVER (PARTITION BY p.event_id
        |    ORDER BY c.ts DESC NULLS LAST) AS rn
        |  FROM (SELECT user_id, ts, event_id FROM events
        |        WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |             WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |   AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600000000) t
        |WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,

    "q100_click_attribution" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |round(epoch(p.ts) - epoch(c.ts) + 1e-12, 6) AS gap_sec
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id NULLS FIRST, click_id NULLS FIRST""".stripMargin,

    "q273_linear_attribution" ->
      """WITH pairs AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  c.ts AS c_ts
        |  FROM events p JOIN events c
        |    ON c.user_id = p.user_id
        |   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
        |k AS (
        |  SELECT purchase_id, count(*) AS k,
        |  max(struct_pack(us := epoch_us(c_ts), cid := click_id)) AS lastc
        |  FROM pairs GROUP BY 1),
        |credited AS (
        |  SELECT CAST(hour(p.c_ts) AS BIGINT) AS click_hour,
        |  1.0 / k.k AS credit,
        |  CASE WHEN epoch_us(p.c_ts) = k.lastc['us']
        |        AND p.click_id = k.lastc['cid'] THEN 1 ELSE 0 END AS is_last
        |  FROM pairs p JOIN k ON k.purchase_id = p.purchase_id)
        |SELECT click_hour, CAST(count(*) AS BIGINT) AS n_clicks,
        |round(sum(credit) + 1e-12, 6) AS linear_credit,
        |CAST(sum(is_last) AS BIGINT) AS last_touch_count
        |FROM credited GROUP BY 1
        |ORDER BY click_hour NULLS FIRST""".stripMargin,

    "q310_position_attribution" ->
      """WITH pairs AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  c.ts AS c_ts
        |  FROM events p JOIN events c
        |    ON c.user_id = p.user_id
        |   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |  WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
        |k AS (
        |  SELECT purchase_id, count(*) AS k,
        |  min(struct_pack(us := epoch_us(c_ts), cid := click_id)) AS firstc,
        |  max(struct_pack(us := epoch_us(c_ts), cid := click_id)) AS lastc
        |  FROM pairs GROUP BY 1),
        |credited AS (
        |  SELECT CAST(hour(p.c_ts) AS BIGINT) AS click_hour,
        |  CASE WHEN k.k = 1 THEN 1.0
        |       WHEN k.k = 2 THEN CASE WHEN
        |         (epoch_us(p.c_ts) = k.firstc['us'] AND p.click_id = k.firstc['cid'])
        |         OR (epoch_us(p.c_ts) = k.lastc['us'] AND p.click_id = k.lastc['cid'])
        |         THEN 0.5 ELSE 0.0 END
        |       ELSE CASE WHEN
        |         (epoch_us(p.c_ts) = k.firstc['us'] AND p.click_id = k.firstc['cid'])
        |         OR (epoch_us(p.c_ts) = k.lastc['us'] AND p.click_id = k.lastc['cid'])
        |         THEN 0.4 ELSE 0.2 / (k.k - 2) END END AS credit
        |  FROM pairs p JOIN k ON k.purchase_id = p.purchase_id)
        |SELECT click_hour, CAST(count(*) AS BIGINT) AS n_clicks,
        |round(sum(credit) + 1e-12, 6) AS position_credit
        |FROM credited GROUP BY 1
        |ORDER BY click_hour NULLS FIRST""".stripMargin,

    "q276_token_waterfill" ->
      """WITH ps AS (
        |  SELECT source,
        |  sum(CAST(len(list_filter(string_split(text, ' '),
        |    w -> len(w) > 0)) AS BIGINT)) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT sum(n_tokens) // 2 AS b, count(*) AS m,
        |  list_sort(list(n_tokens)) AS ns
        |  FROM ps),
        |solved AS (
        |  SELECT b, m,
        |  list_reduce(list_prepend(
        |    struct_pack(j := CAST(0 AS BIGINT), pfx := CAST(0 AS BIGINT),
        |      cap := CAST(NULL AS BIGINT)),
        |    list_transform(ns, n -> struct_pack(j := n, pfx := n, cap := n))),
        |    (acc, x) -> CASE WHEN acc.cap IS NOT NULL THEN acc
        |      WHEN acc.pfx + x.j * (m - acc.j) > b THEN
        |        struct_pack(j := acc.j, pfx := acc.pfx,
        |          cap := (b - acc.pfx) // (m - acc.j))
        |      ELSE struct_pack(j := acc.j + 1, pfx := acc.pfx + x.j,
        |        cap := CAST(NULL AS BIGINT)) END) AS f
        |  FROM tot),
        |capped AS (SELECT b, coalesce(f.cap, b) AS cap FROM solved)
        |SELECT ps.source, CAST(ps.n_tokens AS BIGINT) AS n_tokens,
        |CAST(c.b AS BIGINT) AS budget, CAST(c.cap AS BIGINT) AS cap_tokens,
        |CAST(least(ps.n_tokens, c.cap) AS BIGINT) AS allocation,
        |CAST(CASE WHEN ps.n_tokens > c.cap THEN 1 ELSE 0 END AS BIGINT)
        |  AS capped
        |FROM ps, capped c
        |ORDER BY ps.source NULLS FIRST""".stripMargin,

    "q104_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok, unnest(list_transform(
        |    generate_series(1, CAST(n_tok AS INT), 48),
        |    s -> {'ci': (s - 1) // 48 + 1, 'start': s})) AS u
        |  FROM t)
        |SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_ix,
        |CAST(u.start AS BIGINT) AS start,
        |least(u.start + 63, n_tok) AS "end",
        |least(u.start + 63, n_tok) - u.start + 1 AS chunk_len
        |FROM c
        |ORDER BY doc_id NULLS FIRST, chunk_ix NULLS FIRST""".stripMargin,

    "q130_equidepth_bins" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |  CAST(ntile(10) OVER (PARTITION BY event_type
        |    ORDER BY value NULLS FIRST) AS BIGINT) AS bin
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, bin, count(*) AS n,
        |round(min(value), 6) AS lo, round(max(value), 6) AS hi,
        |round(avg(value), 6) AS mean
        |FROM r GROUP BY event_type, bin
        |ORDER BY event_type NULLS FIRST, bin NULLS FIRST""".stripMargin,

    "q129_iqr_outliers" ->
      """WITH b AS (
        |  SELECT event_type,
        |  quantile_cont(value, 0.25) AS p25, quantile_cont(value, 0.75) AS p75
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |CAST(sum(CASE WHEN e.value < p25 - (p75 - p25) * 1.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |CAST(sum(CASE WHEN e.value > p75 + (p75 - p25) * 1.5
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |round(min(p25 - (p75 - p25) * 1.5), 6) AS fence_lo,
        |round(min(p75 + (p75 - p25) * 1.5), 6) AS fence_hi
        |FROM events e JOIN b USING (event_type)
        |WHERE e.value IS NOT NULL
        |GROUP BY e.event_type
        |ORDER BY e.event_type NULLS FIRST""".stripMargin,

    "q103_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |  quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |round(avg(e.value), 6) AS mean_raw,
        |round(avg(greatest(b.lo, least(b.hi, e.value))), 6) AS mean_winsor,
        |CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |count(*) AS n
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type
        |ORDER BY e.event_type NULLS FIRST""".stripMargin,

    // the same q39 quality composite (identical op order), per-source
    // window cumsum in quality-desc/doc_id order, integer 30% quota
    "q365_quota_select" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |         / len(string_split(text, ' ')))
        |  + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
        |                     t -> t IN ('the', 'a'))) * 1.0
        |                 / len(string_split(text, ' ')))
        |  + 0.2 * least(len(string_split(text, ' ')) / 100.0, 1.0) AS q
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT source, (sum(nt) * 3) // 10 AS quota
        |      FROM d GROUP BY 1),
        |c AS (SELECT source, nt,
        |  sum(nt) OVER (PARTITION BY source ORDER BY q DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT c.source, CAST(t.quota AS BIGINT) AS quota_tokens,
        |CAST(count(*) FILTER (c.cum <= t.quota) AS BIGINT) AS n_docs_kept,
        |CAST(coalesce(sum(c.nt) FILTER (c.cum <= t.quota), 0) AS BIGINT)
        |  AS tokens_kept,
        |CASE WHEN t.quota > 0 THEN
        |  round(coalesce(sum(c.nt) FILTER (c.cum <= t.quota), 0) * 1.0
        |    / t.quota + 1e-12, 6) ELSE 0.0 END AS fill_rate
        |FROM c JOIN t USING (source)
        |GROUP BY c.source, t.quota
        |ORDER BY c.source NULLS FIRST""".stripMargin,

    // the q365 cumsum shape with a 5-point fraction grid, identical
    // integer quota arithmetic and r6 fill/floor rounding
    "q371_budget_fill_curve" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |         / len(string_split(text, ' ')))
        |  + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
        |                     t -> t IN ('the', 'a'))) * 1.0
        |                 / len(string_split(text, ' ')))
        |  + 0.2 * least(len(string_split(text, ' ')) / 100.0, 1.0) AS q
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT source, sum(nt) AS tot FROM d GROUP BY 1),
        |g AS (
        |  SELECT source, k, (tot * k) // 10 AS quota
        |  FROM t, generate_series(1, 5) AS s(k)),
        |qs AS (SELECT k, sum(quota) AS qsum FROM g GROUP BY 1),
        |c AS (SELECT source, nt, q,
        |  sum(nt) OVER (PARTITION BY source ORDER BY q DESC, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |kept AS (
        |  SELECT g.k, c.nt, c.q, (c.cum <= g.quota) AS keep
        |  FROM c JOIN g USING (source)),
        |a AS (
        |  SELECT k,
        |  count(*) FILTER (keep) AS n_docs_kept,
        |  coalesce(sum(nt) FILTER (keep), 0) AS tokens_kept,
        |  min(q) FILTER (keep) AS minq
        |  FROM kept GROUP BY 1)
        |SELECT CAST(a.k * 10 AS BIGINT) AS budget_pct,
        |CAST(a.n_docs_kept AS BIGINT) AS n_docs_kept,
        |CAST(a.tokens_kept AS BIGINT) AS tokens_kept,
        |CASE WHEN qs.qsum > 0 THEN
        |  round(a.tokens_kept * 1.0 / qs.qsum + 1e-12, 6)
        |  ELSE 0.0 END AS fill_rate,
        |round(a.minq + 1e-12, 6) AS min_quality_kept
        |FROM a JOIN qs USING (k)
        |ORDER BY budget_pct NULLS FIRST""".stripMargin,

    // consecutive docs per source in doc_id order (lag window — the
    // oracle may window freely), the same 8-step slice probe,
    // largest matching k per pair
    "q369_boundary_stitch" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |pr AS (
        |  SELECT source, ptoks, toks FROM (
        |    SELECT source,
        |    lag(toks) OVER (PARTITION BY source ORDER BY doc_id) AS ptoks,
        |    toks FROM d)
        |  WHERE ptoks IS NOT NULL),
        |ov AS (
        |  SELECT source,
        |  coalesce((SELECT max(g.k) FROM generate_series(1, 8) AS g(k)
        |    WHERE len(ptoks) >= g.k AND len(toks) >= g.k
        |      AND ptoks[len(ptoks) - g.k + 1 : len(ptoks)] = toks[1 : g.k]),
        |    0) AS overlap
        |  FROM pr)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_adjacent,
        |CAST(count(*) FILTER (overlap >= 4) AS BIGINT) AS n_stitched,
        |round(avg(overlap) + 1e-12, 6) AS avg_overlap,
        |CAST(max(overlap) AS BIGINT) AS max_overlap
        |FROM ov GROUP BY source
        |ORDER BY source NULLS FIRST""".stripMargin,

    // the q364 chunk recipe with the chunk TEXT carried (the oracle
    // side has no hash-only constraint), the same (count desc, sha)
    // top-20 cut, the same final (count desc, text) order
    "q388_boilerplate_catalog" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |  unnest(list_transform(
        |    generate_series(0, (len(string_split(text, ' ')) - 1) // 32),
        |    i -> array_to_string(
        |      string_split(text, ' ')[i * 32 + 1 : i * 32 + 32], ' ')))
        |    AS txt
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT sha256(txt) AS h, min(txt) AS txt,
        |  count(*) AS n_occurrences,
        |  count(DISTINCT doc_id) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  max(len(txt)) AS l
        |  FROM c GROUP BY 1),
        |top AS (
        |  SELECT * FROM g WHERE n_occurrences >= 2
        |  ORDER BY n_occurrences DESC, h LIMIT 20)
        |SELECT txt AS chunk_text,
        |CAST(n_occurrences AS BIGINT) AS n_occurrences,
        |CAST(n_docs AS BIGINT) AS n_docs,
        |CAST(n_sources AS BIGINT) AS n_sources,
        |CAST(n_occurrences * l AS BIGINT) AS char_mass
        |FROM top
        |ORDER BY n_occurrences DESC, chunk_text NULLS FIRST""".stripMargin,

    // the same sha-256(doc_id) draw; the oracle may window freely
    "q391_sample_audit" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |  sha256(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |r AS (
        |  SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(*) FILTER (rk <= 50) AS BIGINT) AS n_sample,
        |round(avg(n_chars) + 1e-12, 6) AS mean_chars_all,
        |round(avg(n_chars) FILTER (rk <= 50) + 1e-12, 6) AS mean_chars_sample,
        |round(abs(avg(n_chars) FILTER (rk <= 50) - avg(n_chars)) + 1e-12, 6)
        |  AS abs_gap
        |FROM r GROUP BY 1
        |ORDER BY source NULLS FIRST""".stripMargin,

    // the same top-50 rank cut (count desc, token), the same 50-step
    // sequential RBO fold — list_reduce pins the accumulation order
    "q392_vocab_rbo" ->
      """WITH tk AS (
        |  SELECT source, t, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS t
        |    FROM documents WHERE text IS NOT NULL)
        |  WHERE len(t) > 0 GROUP BY 1, 2),
        |r AS (
        |  SELECT source, t,
        |  row_number() OVER (PARTITION BY source ORDER BY c DESC, t) AS rk
        |  FROM tk),
        |l AS (
        |  SELECT source, list(t ORDER BY rk) AS l
        |  FROM r WHERE rk <= 50 GROUP BY 1)
        |SELECT a.source AS s1, b.source AS s2,
        |round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(generate_series(1, 50),
        |      d -> pow(0.9, d - 1)
        |        * len(list_intersect(a.l[1:d], b.l[1:d]))
        |        / CAST(d AS DOUBLE))),
        |  (acc, x) -> acc + x) * 0.1 + 1e-12, 6) AS rbo
        |FROM l a JOIN l b ON a.source < b.source
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin,

    // same md5-of-id total order (both engines emit lowercase hex of
    // the decimal id string), same integer-exact expectation terms
    "q402_shuffle_mixing_audit" ->
      """WITH r AS (
        |  SELECT source, row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents),
        |adj AS (
        |  SELECT x.source AS s1, y.source AS s2
        |  FROM r x JOIN r y ON y.rn = x.rn + 1),
        |cnt AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM documents),
        |obs AS (SELECT s1 AS source, count(*) AS adj_same
        |        FROM adj WHERE s1 = s2 GROUP BY 1)
        |SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs,
        |CAST(coalesce(o.adj_same, 0) AS BIGINT) AS adj_same,
        |round(CAST(c.n_docs AS DOUBLE) * (c.n_docs - 1) / t.n + 1e-12, 6)
        |  AS expected_adj,
        |CASE WHEN c.n_docs > 1 THEN
        |  round(CAST(coalesce(o.adj_same, 0) AS DOUBLE) * t.n /
        |    (CAST(c.n_docs AS DOUBLE) * (c.n_docs - 1)) + 1e-12, 6)
        |END AS mixing_ratio
        |FROM cnt c LEFT JOIN obs o ON o.source = c.source CROSS JOIN tot t
        |ORDER BY c.source NULLS FIRST""".stripMargin
  )
}
