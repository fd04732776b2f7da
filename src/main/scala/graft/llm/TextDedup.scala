package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables, r2, r4, r6, r2n, r4n, r6n}

/** Deduplication operators for large-scale training-data pipelines:
  * exact (group-by / content-hash), n-gram Jaccard (inverted-index
  * join), MinHash + LSH banding (the 100 TB path), and SimHash.
  *
  * Scale design:
  *  - exact dedup shuffles on a 64-byte content hash, never the text —
  *    O(1) state per group, no driver materialization;
  *  - near-dup candidates come from an equi-join on shingles / LSH
  *    bands — never an all-pairs cross join; candidate verification
  *    touches only the pairs the index produced;
  *  - MinHash banding (b=16, r=3) makes the candidate probability
  *    1-(1-j^3)^16: ≥ 0.99999 at j=0.8, so verified output matches the
  *    exact-Jaccard oracle while doing a fraction of its comparisons on
  *    a real (sparse-shingle) corpus.
  *
  * Paper grounding: Broder, "On the resemblance and containment of
  * documents" (minhash); Leskovec-Rajaraman-Ullman MMDS ch.3 (banding);
  * Charikar, "Similarity estimation techniques from rounding
  * algorithms" (SimHash).
  */
object TextDedup {


  /** Distinct 3-token shingles per document: (doc_id, sh). The split
    * is hoisted into its own projection — referencing split(text)
    * inside the transform lambda would re-tokenize the document once
    * per shingle index (O(len²) per doc). */
  private[llm] def shingleSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // docs shorter than one shingle contribute nothing (= the
      // oracle's empty generate_series); without this filter
      // sequence(1, size-2) would DESCEND for size < 3 (sequence(1,0)
      // = [1,0] in Spark) and slice(toks, 0, 3) throws
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """explode(transform(
          |  sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', slice(toks, i, 3))))""".stripMargin).as("sh"))
      .distinct()

  /** Per-doc 60-bit SimHash fingerprints — the q36 derivation shared
    * with the q381 calibration table. Whole fingerprint with NO
    * token-level exchange (the q34/q35 shingle-rewrite move): token
    * hashes from one transform over the split array (first 15 hex
    * chars of sha-256 — engine-portable, the DuckDB oracle rebuilds
    * the value with a hex fold; transform keeps duplicates exactly as
    * explode did, preserving multiset votes), then the 60 bit-vote
    * folds + reassembly run as ONE native codegen'd kernel
    * ([[graft.functions.SimHashFingerprint]] — the former 60
    * aggregate() HOFs each re-walked the array, interpreted).
    * Null-text docs are dropped EXPLICITLY: votes over a null array
    * would fold every null-text doc to fp=0 and band-join them all
    * into one bogus near-dup cluster. */
  private[graft] def simhashFps(s: SparkSession, dir: String): DataFrame = {
    val hs = Tables(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), expr(
        """transform(split(text, ' '),
          |  t -> cast(conv(substring(sha2(t, 256), 1, 15), 16, 10) AS bigint))"""
          .stripMargin).as("hs"))
    hs.select(col("doc_id"), expr("simhash_fp(hs, 60)").as("fp"))
  }

  /** The q36 fingerprint/vote derivation as DuckDB CTE text (`h`,
    * `votes`, `fp`) — interpolated by the q36 and q381 oracles so the
    * two cannot drift. */
  private[llm] def duckSimhashFp: String = {
    val voteCols = (0 until 60).map(i =>
      s"sum(CASE WHEN (hv >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n  ")
    val fpExpr = (0 until 60).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
       |  FROM documents WHERE text IS NOT NULL),
       |h AS (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split(substr(sha256(t), 1, 15), ''),
       |      c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ord(c) - 48
       |                ELSE ord(c) - 87 END AS BIGINT))),
       |    (acc, x) -> acc * 16 + x) AS hv
       |  FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |  $voteCols
       |  FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS fp FROM votes)"""
      .stripMargin
  }

  /** (d1, d2, jac) from per-pair intersection counts + per-doc set
    * sizes, filtered to `threshold` — shared by the exact inverted-
    * index path and the minhash candidate-verification path. */
  private def jaccardOf(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .select(col("d1"), col("d2"),
        (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)

  /** Per-doc DISTINCT 3-shingle xxhash64 set as one array column —
    * the whole shingling+dedup happens inside a single narrow
    * projection (codegen, zero shuffles): the classic
    * explode→distinct plan exchanges every (doc_id, shingle) row,
    * which at 100 TB is the single biggest shuffle in the pipeline.
    * An 8-byte hash stands in for the ~20-char shingle string
    * (collision probability over a corpus's distinct shingles is
    * ~|sh|²/2⁶⁵ ≪ 1e-9; the DuckDB oracle joins raw strings, so a
    * collision would surface as a count mismatch, never silently). */
  private[graft] def shingleArrays(docs: DataFrame): DataFrame = {
    // the projection runs as the CODEGEN kernel shingle_hashes
    // (round-16, guide §4): the declarative
    //   array_distinct(transform(sequence(1, size(toks) - 2),
    //     i -> xxhash64(concat_ws(' ', slice(toks, i, 3)))))
    // is an interpreted higher-order nest — per position a slice
    // allocation, an interpreted concat, and an interpreted hash —
    // and it is the base derivation of EVERY dedup-family query.
    // ShingleHashesSpec pins the kernel bit-equal (order included).
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr("shingle_hashes(toks, 3)").as("shs"))
  }

  /** Inverted-index rows (doc_id, sh): explode of the per-doc distinct
    * hash set — already deduplicated, so no distinct() shuffle.
    * `arr` should be a CACHED shingleArrays so the tokenize+hash pass
    * runs once; the explode itself is a narrow, near-free op. */
  private[graft] def explodeShingles(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Per-doc shingle-set size — a narrow projection, no aggregation. */
  private[llm] def shingleSizes(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), size(col("shs")).cast("long").as("n"))

  /** Document-frequency cap for the exact inverted-index joins: a
    * shingle appearing in more than this many documents is a
    * STOP-SHINGLE ("of the", sentence boilerplate) and is dropped from
    * the comparison universe before pair generation. Without the cap
    * one hot shingle in df documents generates df·(df−1)/2 pairs on a
    * SINGLE join key — at web scale a 10⁵-df stop-shingle is a
    * 10¹⁰-pair task no salting can split (the key is the unit of
    * correctness). With it, the per-key pair count is ≤ τ(τ−1)/2
    * regardless of corpus size, and recall at 0.5-0.9 thresholds is
    * essentially untouched: a capped shingle contributes the same +1
    * to BOTH |A∩B| and the set sizes of every pair that shares it, so
    * only pairs whose similarity is dominated by boilerplate move. */
  private[graft] val DfCap = 512

  /** Inverted index and per-doc set sizes over the df-CAPPED shingle
    * universe U = {sh : df(sh) ≤ dfCap}: similarity is computed on
    * A∩U vs B∩U, the cap applied identically in the DuckDB oracles.
    * The hot-shingle list is found with one map-side-combined count
    * (one row per shingle crosses the wire) and removed with a
    * shuffle-hash LEFT ANTI join — not a broadcast: the hot list is
    * tiny on Zipfian text, but its size is data-dependent and a plan
    * that dies when it grows is exactly what the cap exists to avoid.
    * The capped index is cached: the pair self-join reads it twice and
    * the size aggregate once, and all three exchanges hash on the same
    * 8-byte key so ReuseExchange computes the index shuffle once. */
  private[llm] def cappedIndex(docs: DataFrame, dfCap: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val arr = shingleArrays(docs).cache()
    val sh0 = explodeShingles(arr)
    val hot = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select(col("sh"))
    val sh = sh0.join(hot.hint("shuffle_hash"), Seq("sh"), "left_anti").cache()
    // sizes over the CAPPED universe — size(shs) would count dropped
    // stop-shingles and skew every jaccard/containment denominator
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    (arr, sh, sizes)
  }

  /** One xxhash64 band key per (doc, band) from the 48-way minhash
    * signature — the band index row shape shared by q35's self-join
    * and the incremental snapshot-vs-corpus probe (band id folded
    * into the hash so a single 8-byte key carries both). */
  /** The per-doc array of `bands` single-long band keys, read off a
    * `sg` signature column — shared by the batch probe and the
    * streaming twin so both sides band identically. */
  private[graft] def bandKeyArray(nHashes: Int, bands: Int): Column = {
    val r = nHashes / bands
    array((0 until bands).map(b =>
      xxhash64((lit(b) +: (1 to r).map(i =>
        element_at(col("sg"), r * b + i))): _*)): _*)
  }

  private[graft] def bandKeys(arr: DataFrame, nHashes: Int, bands: Int): DataFrame =
    arr.select(col("doc_id"), expr(s"minhash_sig(shs, $nHashes)").as("sg"))
      .select(col("doc_id"), explode(bandKeyArray(nHashes, bands)).as("bk"))

  /** INCREMENTAL near-dup dedup — the recurring production job (new
    * crawl vs standing corpus) the one-shot q35 self-join does not
    * cover: keep only the snapshot docs with NO Jaccard ≥ `threshold`
    * near-dup in the corpus. Composition of the q35 and q108
    * machinery:
    *
    *  1. the corpus's per-(doc, band) minhash keys form the BAND
    *     INDEX (in production: precomputed once, maintained
    *     incrementally — here derived in-plan);
    *  2. a bloom filter over the index's 8-byte band keys gates the
    *     snapshot's band rows at the scan: a bloom-NEGATIVE band key
    *     provably has no index match (no false negatives), so the
    *     probe join's left side carries only colliding-or-fpp rows —
    *     for a mostly-novel snapshot, almost nothing;
    *  3. survivors probe the index with a shuffle-hash equi-join on
    *     the band key (broadcasting the corpus index is not a plan
    *     that survives 100 TB) → candidate (snapshot, corpus) pairs;
    *  4. candidates verify with EXACT Jaccard on the uncapped shingle
    *     sets (the q35 contract), so banding + bloom only ever cost
    *     recall 1-(1-j^r)^bands ≥ 0.99999 at j = 0.8 — never
    *     precision — and the matched snapshot ids anti-join away.
    *
    * Cost scales with the SNAPSHOT, not the corpus: the corpus-side
    * work is the one index+bloom build (amortized across snapshots in
    * production), every downstream join is driven by snapshot-sized
    * or candidate-sized inputs, and no corpus-vs-corpus pair is ever
    * generated. */
  private[graft] def incrementalNearDup(snapshot: DataFrame,
      corpus: DataFrame, threshold: Double = 0.8): DataFrame = {
    val nHashes = 48
    val bands = 16
    val snapArr = shingleArrays(snapshot).cache()
    val corpArr = shingleArrays(corpus).cache()
    // cached: the corpus band index feeds the bloom build AND the
    // probe join build side
    val corpBands = bandKeys(corpArr, nHashes, bands).cache()
    val bloom = corpBands.stat.bloomFilter("bk",
      math.max(corpBands.count(), 1L), 0.01)
    val gated = bandKeys(snapArr, nHashes, bands)
      .filter(graft.functions.BloomFunctions.mightContain(bloom, col("bk")))
    val cand = gated.as("p")
      .join(corpBands.as("c").hint("shuffle_hash"), col("p.bk") === col("c.bk"))
      .select(col("p.doc_id").as("sid"), col("c.doc_id").as("cid"))
      .distinct()
    // exact verification touches candidate pairs only
    val snapSh = explodeShingles(snapArr)
    val corpSh = explodeShingles(corpArr)
    val inter = cand
      .join(snapSh.as("a"), col("sid") === col("a.doc_id"))
      .join(corpSh.as("b"), col("cid") === col("b.doc_id") && col("a.sh") === col("b.sh"))
      .groupBy(col("sid"), col("cid")).agg(count(lit(1)).as("inter"))
    val matched = inter
      .join(shingleSizes(snapArr).withColumnRenamed("doc_id", "sid")
        .withColumnRenamed("n", "n1"), "sid")
      .join(shingleSizes(corpArr).withColumnRenamed("doc_id", "cid")
        .withColumnRenamed("n", "n2"), "cid")
      .filter(col("inter") / (col("n1") + col("n2") - col("inter")) >= threshold)
      .select(col("sid").as("doc_id")).distinct()
    snapArr.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(matched, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Exact-Jaccard similar pairs above `threshold` from an
    * inverted-index equi-join on hashed shingles, over the df-capped
    * universe (see [[cappedIndex]]). */
  private[graft] def jaccardPairs(docs: DataFrame, threshold: Double,
      dfCap: Int = DfCap): DataFrame = {
    val (_, sh, sizes) = cappedIndex(docs, dfCap)
    // shuffle_hash, NOT broadcast: the static size estimate of the
    // exploded index reads "small" and Catalyst would broadcast the
    // ENTIRE inverted index — a plan that cannot exist at 100 TB. The
    // hint pins the scale-correct join; both sides hash-exchange on the
    // same 8-byte key from the same cache, so ReuseExchange computes
    // the exchange once, and SHJ skips sort-merge's two sorts.
    val inter = sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    jaccardOf(inter, sizes, threshold)
  }

  /** Triangle census over an ORDERED edge list (d1 < d2): edges,
    * wedges (ΣC(deg,2)), triangles (each wedge a<b<c closed by an
    * (a,c) equi-join probe — every triangle counted exactly once),
    * and the global clustering coefficient 3T/W. Both graph joins are
    * hinted shuffle_hash so the cached edge list is never
    * whole-graph-broadcast; the two 1-row folds meet on a broadcast
    * join, bounded at any scale. */
  private[llm] def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.cache()
    val degStats = e.select(col("d1").as("v"))
      .unionByName(e.select(col("d2").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
      .agg(expr("CAST(sum(d) DIV 2 AS BIGINT)").as("n_edges"),
        expr("CAST(sum(d * (d - 1) DIV 2) AS BIGINT)").as("n_wedges"))
      .withColumn("k", lit(1))
    val tri = e.as("ab")
      .join(e.as("bc").hint("shuffle_hash"), col("ab.d2") === col("bc.d1"))
      .select(col("ab.d1").as("a"), col("bc.d2").as("c"))
      .join(e.select(col("d1").as("a"), col("d2").as("c")).hint("shuffle_hash"),
        Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
      .withColumn("k", lit(1))
    degStats.join(tri, "k").drop("k")
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          r6n(lit(3.0) * col("n_triangles") / col("n_wedges")))
          .as("global_cc"))
  }

  def queries: Map[String, Q] = queries1 ++ queries2

  private val queries1: Map[String, Q] = Map(

    /** Exact dedup by full content: canonical id = min doc_id per text.
      * The 100 TB form shuffles a content hash instead (q33). */
    "q32_dedup_exact" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"))
        .orderBy(col("canonical_id"))
    }),

    /** Exact dedup by SHA-256 content hash — the shuffle key is 32
      * bytes regardless of document size, which is what makes exact
      * dedup feasible at 100 TB (text never crosses the wire). */
    "q33_dedup_sha" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
        .select(col("canonical_id"), col("n_copies"),
          substring(col("h"), 1, 16).as("hash_prefix"))
        .orderBy(col("canonical_id"))
    }),

    /** Ground-truth near-dup pairs: 3-shingle Jaccard ≥ 0.5 over the
      * df-capped universe (cap mirrored in the oracle — see
      * [[cappedIndex]]); q35 is the banded linear-cost path. Round 9:
      * SERVED from the persisted pair-graph store ([[PairGraph]] —
      * the inverted-index join runs once per corpus at seed time, and
      * the division on the stored integers reproduces the in-plan
      * doubles bit-for-bit; the from-first-principles oracle now
      * doubles as the store's staleness guard). */
    "q34_dedup_jaccard" -> ((s: SparkSession, dir: String) => {
      PairGraph.jaccard(s, dir, 0.5)
        .select(col("d1"), col("d2"), r4n(col("jac")).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** Shingle CONTAINMENT pairs (Broder's second measure): how much
      * of the SMALLER document's shingle set lives inside the other —
      * |A∩B| / min(|A|,|B|) ≥ 0.9. Jaccard misses the asymmetric
      * case this exists for: a short document wholly embedded in a
      * long one (boilerplate wrapping, quote inflation) scores
      * jac = |A|/|B| ≈ 0 but containment ≈ 1. Served from the
      * persisted pair-graph store (round 9, [[PairGraph]]): the
      * stored (inter, n1, n2) integers reproduce both directional
      * containments exactly, so the production containment read is a
      * store scan + filter (0.45 s vs 2.25 s in-plan at sf0.1 —
      * BASELINE.md), which the measured probe-vs-exact table says is
      * also the right answer at scale (q131's sampled-membership
      * probe lost at every measured size). */
    "q127_containment" -> ((s: SparkSession, dir: String) => {
      PairGraph.pairStats(s, dir)
        .filter(col("inter") / least(col("n1"), col("n2")) >= 0.9)
        .select(col("d1"), col("d2"),
          r4n(col("inter") / col("n1")).as("cont_d1"),
          r4n(col("inter") / col("n2")).as("cont_d2"))
        .orderBy(col("d1"), col("d2"))
    })
  )

  private[llm] val queries2: Map[String, Q] = Map(

    /** MinHash + LSH near-dup pairs, verified: 48 hash functions in 16
      * bands of 3; candidates = docs sharing any band signature;
      * candidates are then verified with exact Jaccard ≥ 0.8, so the
      * output equals the exact-Jaccard oracle with probability
      * ≥ 1 - 1e-5 per true pair. This is the linear-cost path that
      * replaces q34's full inverted-index join at 100 TB. */
    "q35_dedup_minhash" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      // the cached working set is the per-doc COMPACT shingle-hash
      // array (8-byte keys); the signature, both verification-join
      // sides, and the set sizes all derive from it with narrow ops
      val arr = shingleArrays(docs).cache()
      val sh = explodeShingles(arr)
      val nHashes = 48
      val bands = 16 // rows per band = 3
      // the 48 signature hashes derive from the 64-bit shingle hash
      // (fixed 12-byte input) instead of re-hashing the string 48
      // times — g_i(s) = xxhash64(i, xxhash64(s)) is still a uniform
      // independent-enough hash family for minhash. The whole
      // 48-minimum signature is ONE native codegen'd kernel
      // ([[graft.functions.MinhashSignature]] — one element-major pass,
      // no per-(row, hash fn) transform allocations), bit-identical to
      // the former 48 × array_min(transform(...)) projection (pinned
      // by MinhashSignatureSpec) and still a pure projection with NO
      // aggregation shuffle (the classic explode→48×min groupBy
      // exchanges every shingle row).
      // NOTE: a Kirsch-Mitzenmacher double-hash family
      // (h1 + i·h2, masked for ANSI) was tried and REVERTED: the
      // per-function minima correlate (one small (h1,h2) shingle wins
      // many i), which measurably drops LSH band recall (254/256
      // pairs on the sf0.1 fixture) with no speed win.
      val sig = arr.select(col("doc_id"),
        expr(s"minhash_sig(shs, $nHashes)").as("sg"))
      // cached: both sides of the bucket self-join read this — without
      // the cache the 48-min signature over all shingles runs twice
      val banded = sig.select(col("doc_id"), explode(array(
        (0 until bands).map(b => struct(lit(b).as("band"),
          xxhash64(element_at(col("sg"), 3 * b + 1),
            element_at(col("sg"), 3 * b + 2),
            element_at(col("sg"), 3 * b + 3)).as("sig"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
        .cache()
      // shuffle_hash as in jaccardPairs: broadcasting the full banded
      // signature table is not a plan that survives 100 TB
      val cand = banded.as("x")
        .join(banded.as("y").hint("shuffle_hash"),
          col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .distinct()
      // verify candidates with exact jaccard (touches only candidate pairs)
      val inter = cand
        .join(sh.as("a"), col("d1") === col("a.doc_id"))
        .join(sh.as("b"), col("d2") === col("b.doc_id") && col("a.sh") === col("b.sh"))
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
      jaccardOf(inter, shingleSizes(arr), 0.8)
        .select(col("d1"), col("d2"), r4n(col("jac")).as("jaccard"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** Incremental snapshot-vs-corpus near-dup dedup — see
      * [[incrementalNearDup]] (bloom-gated minhash-band probe of the
      * corpus band index, exact-Jaccard verification, anti-join). The
      * q97 split convention: doc_id % 10 == 0 stands in for "today's
      * crawl", the rest is the standing corpus. Output = snapshot docs
      * with no ≥ 0.8-Jaccard corpus near-dup, with their shingle-set
      * size. */
    "q151_incremental_neardup" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      incrementalNearDup(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0))
    }),

    /** SimHash near-dup pairs (Charikar): 60-bit fingerprint from
      * per-token hash bit votes; pairs within Hamming distance ≤ 3
      * found EXACTLY by the 4×15-bit band pigeonhole (≤ 3 differing
      * bits cannot touch all 4 bands, so every qualifying pair shares
      * at least one full band). Token hash = first 15 hex chars of
      * sha-256 (engine-portable — the DuckDB oracle rebuilds it with a
      * hex fold), so the whole operator IS oracle-checked. */
    "q36_dedup_simhash" -> ((s: SparkSession, dir: String) => {
      val fp = simhashFps(s, dir)
      // cached: the pair self-join reads both sides — without it the
      // 60-bit-vote aggregation over all tokens runs twice
      val banded = fp.select(col("doc_id"), col("fp"), explode(array(
        (0 until 4).map(k => struct(lit(k).as("band"),
          shiftright(col("fp"), 15 * k).bitwiseAND(lit(0x7FFFL)).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("fp"), col("bk.band").as("band"), col("bk.key").as("key"))
        .cache()
      banded.as("x")
        .join(banded.as("y").hint("shuffle_hash"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("d1"), col("d2"))
    }),

    /** SimHash↔Jaccard CALIBRATION table — the measured answer to
      * "what does hamming ≤ 3 actually mean in Jaccard terms on THIS
      * corpus": every stored ≥ 0.5-Jaccard pair gets both endpoints'
      * 60-bit fingerprints ([[simhashFps]] — the exact q36 kernel),
      * and the report per 5-bit hamming band is pair volume, the
      * Jaccard range it spans, and the ≥ 0.8 true-dup share. This is
      * how the q36 hamming convention and the q361 threshold curve
      * get joined into one operating picture. Pairs come from the
      * persisted store; the fingerprint join is two doc-keyed equi
      * joins — nothing quadratic anywhere. */
    "q381_simhash_calibration" -> ((s: SparkSession, dir: String) => {
      val fp = simhashFps(s, dir).cache() // both pair endpoints read it
      PairGraph.jaccard(s, dir, 0.5)
        .join(fp.select(col("doc_id").as("d1"), col("fp").as("f1")), "d1")
        .join(fp.select(col("doc_id").as("d2"), col("fp").as("f2")), "d2")
        .select(col("jac"),
          bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long").as("h"))
        .groupBy(((col("h") / 5).cast("long") * 5).as("ham_band"))
        .agg(count(lit(1)).as("n_pairs"),
          r6n(avg(col("jac"))).as("mean_jac"),
          r6n(min(col("jac"))).as("min_jac"),
          r6n(max(col("jac"))).as("max_jac"),
          r6n(count_if(col("jac") >= 0.8).cast("double") / count(lit(1)))
            .as("dup_share"))
        .orderBy(col("ham_band"))
    }),

    /** Near-dup CLUSTERS: connected components over the ≥0.8-Jaccard
      * pair graph, canonical id = min doc_id per component.
      *
      * The pair graph comes from the declarative Jaccard plan; the
      * component labeling runs as alternating large-star/small-star
      * contraction ([[graft.ops.ConnectedComponents]]) — every
      * structure including the labels stays a DISTRIBUTED keyed RDD.
      * Nothing syncs to the driver: at web scale 50-80% of documents
      * participate in near-dup clusters, so any driver-resident or
      * broadcast label map (the previous design) holds billions of
      * entries at 100 TB. Star contraction also converges in O(log n)
      * rounds independent of component diameter, where plain min-label
      * propagation needs diameter rounds. Oracle: DuckDB
      * recursive-CTE transitive closure — same fixpoint, independently
      * computed. */
    "q93_dedup_clusters" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val edges = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      graft.ops.ConnectedComponents.labels(edges)
        .toDF("doc_id", "cluster_id")
        .orderBy(col("doc_id"))
    }),

    /** Cluster REPRESENTATIVE selection — the "keep best, not first"
      * dedup decision: q93's connected components give the near-dup
      * clusters, and each cluster keeps its LONGEST member (ties to
      * the smallest doc_id) instead of q75's lowest-id survivor —
      * the curation policy real pipelines want (the longest duplicate
      * usually embeds the others; Lee et al.'s dedup keeps the longer
      * of each pair for exactly that reason). Selection is one
      * max_by-style argmax aggregate per cluster over the labels⋈docs
      * join — labels stay cluster-resident, nothing driver-side.
      * Oracle: the q93 recursive-CTE closure + the same argmax. */
    "q147_cluster_rep" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val edges = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      val labels = graft.ops.ConnectedComponents.labels(edges)
        .toDF("doc_id", "cluster_id")
      labels.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars").as("c"), (-col("doc_id")).as("negid"))).as("m"))
        .select(col("cluster_id"), (-col("m.negid")).as("rep_doc"),
          col("m.c").as("rep_chars"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    /** Per-source curation SCORECARD — the dashboard row a data lead
      * reads before approving a mixture: volume, length, language
      * spread, near-dup exposure (share of docs in ≥ 1 pair of the
      * ≥ 0.5-Jaccard graph, q34's machinery), and reference-corpus
      * novelty (q210's probe; NULL for the reference sources
      * themselves). One pair computation and one membership probe
      * feed every column — the scorecard composes the primitives, it
      * does not recompute them per metric. */
    "q221_source_scorecard" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      val base = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars").cast("double")) + 1e-12, 2).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"))
      val pairs = PairGraph.jaccard(s, dir, 0.5).select(col("d1"), col("d2"))
      val dupDocs = pairs.select(col("d1").as("doc_id"))
        .unionByName(pairs.select(col("d2").as("doc_id"))).distinct()
        .join(src, "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup"))
      val refSrc = Seq("src0", "src1", "src2", "src3")
      val refSh = explodeShingles(shingleArrays(
          docs.filter(col("source").isin(refSrc: _*))))
        .select(col("sh")).distinct().withColumn("seen", lit(1L))
      val novelty = explodeShingles(shingleArrays(
          docs.filter(!col("source").isin(refSrc: _*))))
        .hint("shuffle_hash").join(refSh, Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .join(src, "doc_id")
        .groupBy(col("source"))
        .agg(round(avg(col("n_novel").cast("double") / col("n_sh")) + 1e-12, 4)
          .as("avg_novelty"))
      base
        .join(dupDocs, Seq("source"), "left")
        .join(novelty, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("avg_chars"), col("n_langs"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs")
            + 1e-12, 4).as("dup_rate"),
          col("avg_novelty"))
        .orderBy(col("source"))
    }),

    /** Survivor-policy agreement audit — how much does the dedup
      * KEEP RULE actually matter? Three policies pick a survivor per
      * q93 cluster (keep-FIRST = min id, keep-LONGEST = max chars
      * tie-min-id, keep-most-DIVERSE = max distinct tokens
      * tie-min-id) and the report counts pairwise agreement: high
      * agreement means the keep rule is a non-decision for this
      * corpus; low agreement means curation quality hinges on it.
      * Integer argmaxes per cluster (struct-max over a
      * cluster-cardinality table — bounded input, not a hot path),
      * three survivor tables meeting on the cluster key, exact
      * integer agreement counts, +1e-12-nudged rates. */
    "q220_survivor_policies" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables(s, dir, "documents")
      val edges = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      val labels = graft.ops.ConnectedComponents.labels(edges)
        .toDF("doc_id", "cluster_id")
      val feats = labels.join(docs.select(col("doc_id"), col("n_chars"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_div")),
        "doc_id")
      val picks = feats.groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("keep_first"),
          (-max(struct(col("n_chars").as("c"), (-col("doc_id")).as("ni")))
            .getField("ni")).as("keep_longest"),
          (-max(struct(col("n_div").as("d"), (-col("doc_id")).as("ni")))
            .getField("ni")).as("keep_diverse"))
      picks.agg(count(lit(1)).as("n_clusters"),
          sum(when(col("keep_first") === col("keep_longest"), 1L)
            .otherwise(0L)).as("fl"),
          sum(when(col("keep_first") === col("keep_diverse"), 1L)
            .otherwise(0L)).as("fd"),
          sum(when(col("keep_longest") === col("keep_diverse"), 1L)
            .otherwise(0L)).as("ld"))
        .select(col("n_clusters"),
          round(col("fl").cast("double") / col("n_clusters") + 1e-12, 4)
            .as("agree_first_longest"),
          round(col("fd").cast("double") / col("n_clusters") + 1e-12, 4)
            .as("agree_first_diverse"),
          round(col("ld").cast("double") / col("n_clusters") + 1e-12, 4)
            .as("agree_longest_diverse"))
    }),

    /** PageRank over the near-dup graph — the iterative distributed
      * graph primitive (beyond q93's connected components): rank docs
      * by how centrally they sit in the ≥ 0.5-Jaccard similarity
      * graph, the signal a curation pipeline uses to pick cluster
      * exemplars and spot template hubs. Spark-first shape: the
      * symmetric edge list + degrees are built once and CACHED; each
      * of the 3 damped iterations (d = 0.85) is one keyed join + one
      * map-side-combined sum — every shuffle on the high-cardinality
      * doc id, rank state stays cluster-resident (never on the
      * driver; only the scalar node COUNT is collected). An
      * undirected graph has no dangling nodes, so no leaked-mass
      * correction is needed. Iteration runs in
      * [[graft.ops.PageRank]] as an RDD loop with per-round
      * materialization (the q93/q203 stance — a DataFrame loop
      * re-plans a growing lineage per round; the RDD form measured
      * 2.5x faster on the same graph). Oracle: all 3 iterations
      * unrolled in SQL; rank values are accumulated floats (off the
      * rounding grid), so r6 is engine-stable. */
    "q160_pagerank" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val edges = PairGraph.jaccard(s, dir, 0.5)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      graft.ops.PageRank.ranks(edges, rounds = 3)
        .toDF("doc_id", "pr")
        .select(col("doc_id"), r6n(col("pr")).as("pagerank"))
        .orderBy(col("doc_id"))
    }),

    /** N-gram novelty vs a reference corpus — the memorization /
      * freshness screen: what fraction of each candidate document's
      * 3-gram shingles has the reference sub-corpus (src0-src3 here)
      * NEVER seen? Low novelty means the doc restates reference
      * content (dedup/contamination risk); novelty 1.0 means genuinely
      * new text. Same compact shingle machinery as q34 (per-row
      * distinct 8-byte hash arrays, zero-shuffle projection); the
      * membership probe is ONE shuffle-hash equi-join of the snapshot
      * shingles against the DISTINCT reference universe (hinted — the
      * static size estimate would broadcast the whole reference
      * index), then a per-doc count pair and a source rollup.
      * Fully-novel counts compare integers; the mean novelty is
      * +1e-12-nudged (25-doc averages of small-denominator rationals
      * sit on the rounding grid). */
    "q210_novelty" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val refSrc = Seq("src0", "src1", "src2", "src3")
      val refSh = explodeShingles(shingleArrays(
          docs.filter(col("source").isin(refSrc: _*))))
        .select(col("sh")).distinct()
        .withColumn("seen", lit(1L))
      val snapEx = explodeShingles(shingleArrays(
        docs.filter(!col("source").isin(refSrc: _*))))
      val perDoc = snapEx.hint("shuffle_hash")
        .join(refSh, Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      perDoc.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_novel").cast("double") / col("n_sh")) + 1e-12, 6)
            .as("avg_novelty"),
          sum(when(col("n_novel") === col("n_sh"), 1L).otherwise(0L))
            .as("n_fully_novel"))
        .orderBy(col("source"))
    }),

    /** Synchronous label propagation over the near-dup graph — the
      * COMMUNITY view between q93's components (too coarse: one
      * bridge edge merges two template families) and q172's triangles
      * (structure only, no assignment). Three synchronous rounds;
      * each node adopts its neighbors' plurality label, ties to the
      * SMALLEST label — fully deterministic, so the DuckDB oracle
      * unrolls the identical rounds. Iteration runs in
      * [[graft.ops.LabelPropagation]] as an RDD loop with per-round
      * materialization (the q93 stance: a DataFrame loop re-plans a
      * growing lineage per round and measured 10x slower on the same
      * graph); the community-size census and ordering stay
      * declarative. */
    "q203_label_prop" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val edges = PairGraph.jaccard(s, dir, 0.5)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      val lab = graft.ops.LabelPropagation.labels(edges, rounds = 3)
        .toDF("doc_id", "community")
      val sizes = lab.groupBy(col("community"))
        .agg(count(lit(1)).as("community_size"))
      lab.join(sizes, "community")
        .select(col("doc_id"), col("community"), col("community_size"))
        .orderBy(col("doc_id"))
    }),

    /** Cross-source duplication matrix — WHERE the near-dups come
      * from: every ≥ 0.5-Jaccard pair labeled with its two docs'
      * sources, counted per unordered source pair. The curation
      * diagnostic behind mixture decisions ("crawl B is 40% copies of
      * crawl A — dedup before weighting"). Pure composition: the
      * capped pair graph (q34 machinery) plus two doc-id equi-joins
      * against the (doc_id, source) projection, then a source-pair
      * count — all shuffles keyed on doc id or the source pair. */
    "q161_source_copy_matrix" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val pairs = PairGraph.jaccard(s, dir, 0.5).select(col("d1"), col("d2"))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("d1"), col("source").as("sa")), "d1")
        .join(src.select(col("doc_id").as("d2"), col("source").as("sb")), "d2")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    /** Triangle census of the near-dup graph — beyond q93's
      * components and q160's PageRank, the CLUSTERING-STRUCTURE
      * signal: a template family shows as a dense triangle-rich blob
      * (high global clustering coefficient), while chained partial
      * copies show as triangle-free paths. Triangles count by the
      * standard distributed two-join: ordered edges (d1 < d2) give
      * each wedge a<b<c exactly once, the closing (a,c) edge is an
      * equi-join probe, and both joins are hinted shuffle_hash so the
      * CACHED edge list is never whole-graph-broadcast (the q34
      * stance). Degrees fold to Σd/2 edges and ΣC(d,2) wedge counts
      * in one tiny aggregate; the two 1-row sides meet on a literal
      * key — a broadcast equi-join, bounded at any scale. */
    "q172_triangle_count" -> ((s: SparkSession, dir: String) =>
      triangleStats(PairGraph.jaccard(s, dir, 0.5)
        .select(col("d1"), col("d2")))),

    /** Jaccard THRESHOLD SWEEP — the diagnostic a curator runs before
      * committing to a dedup threshold: the ≥ 0.5 pair graph bucketed
      * by similarity decile, with pair counts and mean similarity per
      * bucket (a fat 0.5-0.6 tail means the threshold choice moves
      * real volume; a bimodal shape separates template copies from
      * true near-dups). ONE pair computation feeds every bucket —
      * never one join per candidate threshold — and the bucket floor
      * is the same IEEE multiply in both engines, so boundary pairs
      * land identically. */
    "q175_jaccard_sweep" -> ((s: SparkSession, dir: String) => {
      PairGraph.jaccard(s, dir, 0.5)
        .select(col("jac"), (floor(col("jac") * 10) / 10.0).as("jac_lo"))
        .groupBy(col("jac_lo"))
        .agg(count(lit(1)).as("n_pairs"), r6n(avg(col("jac"))).as("mean_jac"))
        .orderBy(col("jac_lo"))
    }),

    /** Near-dup cluster SIZE DISTRIBUTION — the dedup-savings census a
      * curator reads before running the delete: how many clusters of
      * each size the ≥ 0.8 graph contains and how many documents each
      * size class would remove (keep-one policy). Composition: q93's
      * distributed connected components → per-cluster size → size
      * histogram; everything after the CC label assignment is two tiny
      * aggregations keyed on cluster id then size. Singleton documents
      * (no edges) are not clusters and do not appear — the histogram
      * starts at size 2 by construction. */
    "q179_cluster_sizes" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val edges = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2")).as[(Long, Long)].rdd
      graft.ops.ConnectedComponents.labels(edges)
        .toDF("doc_id", "cluster_id")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz") - 1).as("n_removable"))
        .orderBy(col("sz"))
    }),

    /** Edit-distance near-dup — the character-level measure completing
      * the similarity family (set Jaccard, banded minhash, simhash
      * bits, containment, cosine): Levenshtein ≤ 5 over 40-char
      * prefixes catches typo-level variants that set measures blur
      * away. NEVER all-pairs: candidate pairs must agree on an exact
      * 8-char BLOCKING prefix (an equi-join on a tiny key, the
      * entity-resolution standard), the O(40²) DP then runs only
      * inside blocks, and the df-cap analogue bounds block size by
      * failing loud past 512 members (the df-cap value) (boilerplate-prefix corpora need
      * a longer blocking key, not a silent quadratic). Levenshtein is
      * integer-exact in both engines. */
    "q187_editdist_dedup" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 8)
        .select(col("doc_id"), substring(col("text"), 1, 8).as("blk"),
          substring(col("text"), 1, 40).as("pfx"))
      val capped = docs.join(
        docs.groupBy(col("blk")).agg(count(lit(1)).as("bn")), "blk")
      val guarded = capped.select(col("doc_id"), col("blk"), col("pfx"),
        when(col("bn") > 512, raise_error(concat(lit("editdist block over cap: "),
          col("blk")))).otherwise(col("bn")).as("bn"))
      guarded.as("a")
        .join(guarded.as("b").hint("shuffle_hash"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          levenshtein(col("a.pfx"), col("b.pfx")).cast("long").as("dist"))
        .filter(col("dist") <= 5)
        .orderBy(col("d1"), col("d2"))
    }),

    /** Shared-span localization for high-similarity pairs — WHERE is
      * the copied text? Set measures say "these two documents are
      * 85% similar"; the curator deciding between near-dup deletion
      * and boilerplate stripping needs the longest CONTIGUOUS shared
      * run. Positional (not distinct) shingles for the ≥ 0.8 pairs
      * only (store-served pair list bounds the work); matches align
      * on the offset DIAGONAL j − i, and the longest run per pair is
      * a per-(pair, diagonal) consecutive-index streak — the i −
      * row_number grouping trick, windows partitioned on the
      * high-cardinality (pair, diagonal) key. Integer-only output. */
    "q319_shared_spans" -> ((s: SparkSession, dir: String) => {
      val pairs = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2"))
      val pos = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(
          "posexplode(shingle_hashes_all(toks, 3))").as(Seq("i", "sh")))
      val m = pairs
        .join(pos.select(col("doc_id").as("d1"), col("i").as("i1"),
          col("sh")), "d1")
        .join(pos.select(col("doc_id").as("d2"), col("i").as("i2"),
          col("sh")).hint("shuffle_hash"), Seq("d2", "sh"))
        .select(col("d1"), col("d2"), col("i1"), (col("i2") - col("i1")).as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("i1"))
      m.withColumn("rk", row_number().over(w))
        .groupBy(col("d1"), col("d2"), col("diag"),
          (col("i1") - col("rk")).as("run_key"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("d1"), col("d2"))
        .agg(max(col("run")).as("longest_run_shingles"),
          count(lit(1)).as("n_runs"))
        .select(col("d1"), col("d2"), col("longest_run_shingles"),
          (col("longest_run_shingles") + 2).as("longest_run_tokens"),
          col("n_runs"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** Blocking-key precision audit (q187's quality bill): entity
      * resolution lives or dies on its blocking key, and this
      * measures both failure directions of the 8-char-prefix choice —
      * block-size census (oversized blocks = quadratic DP cost) and
      * in-block PRECISION (candidate pairs that actually pass the
      * edit-distance test; near-zero precision means the key
      * over-groups and burns DP budget on junk). Same guarded block
      * join as q187; integer census, nudged precision. */
    "q316_blocking_precision" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
        .filter(col("text").isNotNull && length(col("text")) >= 8)
        .select(col("doc_id"), substring(col("text"), 1, 8).as("blk"),
          substring(col("text"), 1, 40).as("pfx"))
      val sizes = docs.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      val pairs = docs.as("a")
        .join(docs.as("b").hint("shuffle_hash"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.blk").as("blk"),
          (levenshtein(col("a.pfx"), col("b.pfx")) <= 5).as("hit"))
      val pairStats = pairs.groupBy(col("blk"))
        .agg(count(lit(1)).as("cand"), count_if(col("hit")).as("hits"))
      sizes.join(pairStats, Seq("blk"), "left")
        .agg(count(lit(1)).as("n_blocks"),
          count_if(col("bn") >= 2).as("n_multi_blocks"),
          max(col("bn")).as("max_block"),
          coalesce(sum(col("cand")), lit(0L)).as("cand_pairs"),
          coalesce(sum(col("hits")), lit(0L)).as("matched_pairs"))
        .select(col("n_blocks"), col("n_multi_blocks"), col("max_block"),
          col("cand_pairs"), col("matched_pairs"),
          r6n(col("matched_pairs").cast("double") /
            nullif(col("cand_pairs").cast("double"), lit(0.0)))
            .as("block_precision"))
    }),

    /** Document fingerprint (winnowing-style sketch): the minimum
      * SHA-256 over a doc's 3-shingles — equal fingerprints flag
      * near-identical prefixes/content with a single tiny value per
      * doc. SHA-256 is engine-portable, so this IS oracle-checked. */
    "q37_doc_fingerprint" -> ((s: SparkSession, dir: String) => {
      shingleSet(Tables(s, dir, "documents"))
        .groupBy(col("doc_id"))
        .agg(min(sha2(col("sh"), 256)).as("fingerprint"))
        .select(col("doc_id"), substring(col("fingerprint"), 1, 16).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    /** CHUNK-level winnowing dedup — the boilerplate census exact
      * chunk hashing (q76) structurally misses: a footer repeated
      * across documents at DIFFERENT token offsets never lands on the
      * same aligned 10-token boundary, so its exact chunk hashes
      * differ doc to doc, while a winnowing fingerprint (the q37
      * min-sha sketch applied per 64-token chunk, q104's chunker)
      * keys on the chunk's minimal SHINGLE — alignment-free, so the
      * shared footer keeps producing the same fingerprint wherever it
      * sits. Fingerprinting is ONE per-row projection (no shuffle:
      * chunk windows, their shingles, and the min-sha all happen
      * inside a single transform over the token array); the census is
      * a groupBy on the 64-char fingerprint; the join-back marks each
      * chunk row, and per-doc boilerplate fractions fold in the final
      * aggregate. shuffle_hash on the join-back: the boilerplate side
      * is data-dependent (Catalyst's static estimate would broadcast
      * it). Both cache readers (census + join-back) reuse the chunk
      * rows. */
    "q152_boilerplate_chunks" -> ((s: SparkSession, dir: String) => {
      val chunks = chunkFingerprints(Tables(s, dir, "documents")).cache()
      val boiler = chunks.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("fp"), lit(1).as("isb"))
      chunks.join(boiler.hint("shuffle_hash"), Seq("fp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count_if(col("isb") === 1).as("n_boiler"))
        .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
          round(col("n_boiler") / col("n_chunks") + lit(1e-12), 4)
            .as("boiler_frac"))
        .orderBy(col("doc_id"))
    }),

    /** Cross-doc duplicated-shingle mass per source — the Lee et al.
      * 2022 ("Deduplicating Training Data Makes Language Models
      * Better") substring-duplication signal at shingle granularity:
      * the fraction of a source's 3-shingle set occurrences that
      * appear in ≥ 2 documents corpus-wide. Finer than every
      * doc-level screen in the suite: a sentence copied into
      * thousands of otherwise-distinct docs never crosses q34's
      * pairwise Jaccard threshold and is invisible to q161's copy
      * matrix, but it is exactly the memorization mass this census
      * weighs. Round 9: the per-doc (n_all, n_dup) integers are read
      * from the pair-graph store's docStats table ([[PairGraph]] —
      * the uncapped df join runs once at seed time); per-doc and
      * per-source fractions derive from INTEGER TOTALS (q202 stance),
      * and the heavy-doc flag compares the NUDGED r6 ratio in both
      * engines (q238 flag stance) so the boundary is grid-stable. */
    "q245_dup_ngram_mass" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val perDoc = PairGraph.docStats(s, dir)
        .select(col("doc_id"), col("n_all").as("n_sh"), col("n_dup"))
      perDoc.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("total_shingles"),
          sum(col("n_dup")).as("dup_shingles"),
          r6n(sum(col("n_dup")).cast("double") / sum(col("n_sh")))
            .as("dup_mass"),
          count_if(r6n(col("n_dup").cast("double") / col("n_sh")) > 0.5)
            .as("n_heavy_docs"))
        .orderBy(col("source"))
    }),

    /** Stop-shingle (df-cap) self-audit — the measurement behind the
      * suite's own approximation: every exact dedup join runs over
      * the df ≤ 512 universe ([[cappedIndex]]), and this census says
      * exactly what that costs — shingle counts and POSTING mass
      * (Σdf — the join work) per log₂(df) bucket, with the capped
      * tail broken out. A capped-postings share creeping up means
      * boilerplate is eating the corpus and the cap is no longer a
      * no-op on recall; at 100 TB it is the difference between an
      * audited approximation and a silent one. One map-side-combined
      * df count (the shuffle carries 8-byte hashes), one bounded
      * bucket aggregate; the bucket index is length(bin(df)) − 1 —
      * INTEGER floor(log₂) with no float boundary, identical in both
      * engines. All-integer output: FloatAudit-clean by
      * construction. */
    "q259_stop_shingle_audit" -> ((s: SparkSession, dir: String) => {
      explodeShingles(shingleArrays(Tables(s, dir, "documents")))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .select(col("df"),
          (length(expr("bin(df)")) - 1).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("df")).as("postings"),
          count_if(col("df") > DfCap).as("n_capped"),
          sum(when(col("df") > DfCap, col("df")).otherwise(0L))
            .as("capped_postings"))
        .orderBy(col("bucket"))
    }),

    /** DfCap PLANNER — the q336 operating-table stance applied to the
      * EXACT inverted-index join: per candidate stop-shingle cap
      * c ∈ {64, 128, 256, 512}, the shingle/posting mass kept and the
      * pair-join volume Σ C(df, 2) over kept shingles — the single
      * number that decides whether the exact self-join is affordable
      * at a given corpus size (the per-key unit of work the cap
      * exists to bound). One map-side-combined df histogram (8-byte
      * hash keys), then a 4× literal-generator explode over integer
      * df — no joins, no text rescans, and the planner costs the same
      * whether the corpus is 60k rows or 100 TB's shingle table.
      * All-integer output. */
    "q363_dfcap_planner" -> ((s: SparkSession, dir: String) => {
      explodeShingles(shingleArrays(Tables(s, dir, "documents")))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .select(col("df"),
          explode(expr("array(64L, 128L, 256L, 512L)")).as("cap"))
        .groupBy(col("cap"))
        .agg(count_if(col("df") <= col("cap")).as("n_shingles_kept"),
          count_if(col("df") > col("cap")).as("n_stop_shingles"),
          sum(when(col("df") <= col("cap"), col("df")).otherwise(0L))
            .as("postings_kept"),
          sum(when(col("df") <= col("cap"), expr("df * (df - 1) DIV 2"))
            .otherwise(0L)).as("pair_join_volume"))
        .orderBy(col("cap"))
    }),

    /** Positional boilerplate census — header vs footer attribution
      * for cross-doc duplication: the fraction of each source's docs
      * whose FIRST-16-token prefix (resp. LAST-16 suffix) appears in
      * ≥ 2 documents. q152 finds shared chunks anywhere; position
      * matters operationally — shared prefixes are templated headers
      * a stripper can cut by offset, shared suffixes are
      * footers/signatures, and a source whose prefix rate ≫ chunk
      * rate needs a template stripper, not a near-dup pass. Two
      * per-row fingerprint projections (8-byte xxhash64 — the
      * exchange never carries text), two map-side-combined df
      * counts, two shuffle-hash joins back; rates from integer
      * totals, nudged. */
    "q263_boilerplate_position" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          expr("xxhash64(concat_ws(' ', slice(split(text, ' '), 1, 16)))")
            .as("pfx"),
          expr("""xxhash64(concat_ws(' ', slice(split(text, ' '),
            |  greatest(size(split(text, ' ')) - 15, 1), 16)))"""
            .stripMargin).as("sfx"))
        .cache()
      def dfOf(c: String) = base.groupBy(col(c)).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col(c), lit(1L).as(s"${c}_shared"))
      base
        .join(dfOf("pfx").hint("shuffle_hash"), Seq("pfx"), "left")
        .join(dfOf("sfx").hint("shuffle_hash"), Seq("sfx"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_if(col("pfx_shared") === 1).as("n_shared_prefix"),
          count_if(col("sfx_shared") === 1).as("n_shared_suffix"))
        .select(col("source"), col("n_docs"), col("n_shared_prefix"),
          col("n_shared_suffix"),
          r6n(col("n_shared_prefix").cast("double") / col("n_docs"))
            .as("prefix_rate"),
          r6n(col("n_shared_suffix").cast("double") / col("n_docs"))
            .as("suffix_rate"))
        .orderBy(col("source"))
    }),

    /** Rarity-weighted near-dup pairs — Jaccard where each shingle
      * weighs 1/df: two docs sharing RARE content score high even
      * when their common boilerplate is diluted away, and two docs
      * that agree only on stock phrases score low — the pair set
      * plain q34 structurally cannot produce (its count-based measure
      * values "of the quarter" and a verbatim rare paragraph
      * equally). Served from the pair-graph store (round 9): the
      * rarity weights (1/df) were folded into the seed derivation as
      * the `wint`/`wsz` columns, so the weighted measure reads the
      * same store rows every other dedup diagnostic reads — the
      * weighting is free at any scale. The weighted measure is
      * a fold of small-denominator rationals: the threshold compares
      * the NUDGED ROUNDED value in both engines (q238 flag stance) so
      * the pair-set boundary cannot flip on summation order. */
    "q265_weighted_jaccard" -> ((s: SparkSession, dir: String) => {
      val wj = r6n(col("wint") / (col("w1") + col("w2") - col("wint")))
      PairGraph.pairStats(s, dir)
        .filter(wj >= 0.5)
        .select(col("d1"), col("d2"), col("inter"),
          wj.as("weighted_jaccard"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** Cluster-density chaining audit — single-linkage components
      * (q93) merge A~B~C even when A and C share nothing, and
      * keep-one dedup then DELETES documents that were never
      * near-dups of the survivor. Density = observed pairs /
      * C(size, 2) per cluster size class is the chaining risk number:
      * ≈ 1 means cliques (safe to keep one), low density means
      * chains (the keep rule needs review — exactly the q220
      * disagreement, located structurally). Composes the cached pair
      * graph and the CC labels with one doc-keyed join; everything
      * integer until the nudged density. */
    "q278_cluster_density" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val pairs = PairGraph.jaccard(s, dir, 0.8)
        .select(col("d1"), col("d2")).cache()
      val labels = graft.ops.ConnectedComponents
        .labels(pairs.as[(Long, Long)].rdd)
        .toDF("doc_id", "cluster_id")
      val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      val edges = pairs
        .join(labels.withColumnRenamed("doc_id", "d1"), "d1")
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_edges"))
      sizes.join(edges, "cluster_id")
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_edges")).as("edges"),
          sum(expr("sz * (sz - 1) DIV 2")).as("possible"))
        .select(col("sz"), col("n_clusters"), col("edges"), col("possible"),
          r6n(col("edges").cast("double") / col("possible")).as("density"))
        .orderBy(col("sz"))
    }),

    /** Greedy max-coverage document selection — the SUBMODULAR data-
      * selection primitive (facility location over shingle coverage):
      * pick k=5 documents, each maximizing the count of corpus
      * shingles not yet covered by earlier picks. The (1 − 1/e)
      * guarantee makes greedy the standard seed-set/coreset chooser,
      * and the marginal-gain trace is the diminishing-returns curve a
      * budget decision reads. Execution: the shingle index derives
      * ONCE and stays cached; each of the 5 rounds is one broadcast
      * ANTI-join against the covered-hash set (driver-bounded at
      * k·max-doc-shingles — the q42/q57 k·d model-table class, NOT a
      * data-volume collect) + one map-side-combined count + a global
      * top-1 (TakeOrdered, no sort of the full table). Gain ties
      * break on doc_id, so the pick sequence is a total order. All
      * outputs integers. */
    "q352_coverage_greedy" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val arr = shingleArrays(Tables(s, dir, "documents")).cache()
      val sh = explodeShingles(arr)
      var covered = Array.empty[Long]
      val picks = Seq.newBuilder[(Long, Long, Long, Long)]
      var step = 1
      var exhausted = false
      while (step <= 5 && !exhausted) {
        val marg = sh
          .join(broadcast(covered.toSeq.toDF("sh")), Seq("sh"), "left_anti")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
          .orderBy(desc("gain"), col("doc_id")).limit(1).collect()
        if (marg.isEmpty) exhausted = true
        else {
          val (docId, gain) = (marg(0).getLong(0), marg(0).getLong(1))
          val won = arr.filter(col("doc_id") === docId)
            .select(explode(col("shs")).as("sh"))
            .join(broadcast(covered.toSeq.toDF("sh")), Seq("sh"), "left_anti")
            .as[Long].collect()
          covered = covered ++ won
          picks += ((step.toLong, docId, gain, covered.length.toLong))
          step += 1
        }
      }
      arr.unpersist()
      picks.result().toDF("step", "doc_id", "marginal_gain", "covered_total")
        .orderBy(col("step"))
    }),

    /** Dedup threshold REGRET — what q361's survivor curve hides: at
      * each Jaccard cut, WHOSE tokens get removed. A threshold that
      * mostly drops low-diversity boilerplate is cheap; one that eats
      * into the high-diversity band is destroying signal, and the two
      * cases can have identical survivor counts. Per (threshold ∈
      * {0.3, 0.5, 0.7, 0.9}, type/token-ratio band): removed docs,
      * removed token mass, and the share of the band's total mass —
      * the curation owner's regret table. Victims follow the pairwise
      * keep-smaller-id policy (q87's keep-first); bands cut at TTR
      * 1/2 and 3/4 by INTEGER cross-multiplication (2·nd ≤ nt,
      * 4·nd ≤ 3·nt — no float boundary can disagree cross-engine).
      * Scale shape: pair scores SERVE from the persisted pair-graph
      * store ([[PairGraph.pairStats]] — the inverted-index join ran
      * once at seed time); the grid is a 4-row broadcast; band stats
      * are per-row expression arithmetic (array_distinct size) with
      * no token explode anywhere. */
    "q406_dedup_threshold_regret" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docsQ = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          size(expr("filter(split(text, ' '), x -> x <> '')"))
            .cast("long").as("nt"),
          size(expr("array_distinct(filter(split(text, ' '), x -> x <> ''))"))
            .cast("long").as("nd"))
        .filter(col("nt") > 0)
        .withColumn("band",
          when(col("nd") * 2 <= col("nt"), lit("low"))
            .when(col("nd") * 4 <= col("nt") * 3, lit("mid"))
            .otherwise(lit("high")))
        .cache() // band totals and the victim join both read it
      val bandTot = docsQ.groupBy(col("band"))
        .agg(count(lit(1)).as("band_docs"), sum(col("nt")).as("band_tokens"))
      val th = Seq(0.3, 0.5, 0.7, 0.9).toDF("threshold")
      val pairs = PairGraph.pairStats(s, dir)
        .select(col("d2"),
          (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jac"))
      val victims = pairs.crossJoin(broadcast(th))
        .filter(col("jac") >= col("threshold"))
        .select(col("threshold"), col("d2")).distinct()
      victims.join(docsQ, victims("d2") === docsQ("doc_id"))
        .groupBy(col("threshold"), col("band"))
        .agg(count(lit(1)).as("n_removed"), sum(col("nt")).as("tokens_removed"))
        .join(broadcast(bandTot), "band")
        .select(col("threshold"), col("band"), col("n_removed"),
          col("tokens_removed"), col("band_docs"), col("band_tokens"),
          r6n(col("tokens_removed").cast("double") / col("band_tokens"))
            .as("band_mass_share"))
        .orderBy(col("threshold"), col("band"))
    }),

    /** Duplicate-pair DISTANCE profile — near-dup pairs (Jaccard ≥
      * 0.5, served from the pair-graph store) bucketed by log₂ of
      * their doc_id gap. In an ingest-ordered corpus the id gap is a
      * time gap: mass in the low buckets means duplicates arrive in
      * BURSTS (a crawler re-fetching, a batch loaded twice — fixable
      * upstream, and catchable by a small dedup window); mass in the
      * high buckets means long-range recurrence that only full-corpus
      * dedup can see. The bucket index is length(bin(gap)) − 1 —
      * exact floor(log₂), the q259/q274 integer stance — and the
      * whole query after the store scan is one ≤64-row aggregate. */
    "q407_dup_distance_profile" -> ((s: SparkSession, dir: String) => {
      val p = PairGraph.jaccard(s, dir, 0.5)
        .select((col("d2") - col("d1")).as("gap"), col("jac"))
      val tot = p.agg(count(lit(1)).as("n_total"))
      p.select(expr("CAST(length(bin(gap)) - 1 AS BIGINT)").as("gap_bucket"),
          col("jac"))
        .groupBy(col("gap_bucket"))
        .agg(count(lit(1)).as("n_pairs"), r6n(avg(col("jac"))).as("mean_jaccard"))
        .crossJoin(broadcast(tot))
        .select(col("gap_bucket"), col("n_pairs"), col("mean_jaccard"),
          r6n(col("n_pairs").cast("double") / col("n_total")).as("pair_share"))
        .orderBy(col("gap_bucket"))
    }),

    /** Corpus-wide EXACT duplicated-run extraction — the Lee et al.
      * 2022 ExactSubstr operation (the substring-level dedup mode the
      * suite measured by MASS in q245 and localized per stored PAIR in
      * q319 but never extracted globally): the catalog of maximal
      * verbatim duplicated spans, each identified by its exact
      * content, with its token length, site count, and document
      * spread. q364/q152 fingerprint ALIGNED chunks and q319 only
      * looks inside ≥ 0.8-Jaccard pairs; a 30-token licence footer
      * copied at arbitrary offsets into thousands of otherwise-unique
      * docs is invisible to all three and is precisely what this
      * extracts (DupRunSpec pins that construction).
      *
      * Algorithm (the distributed suffix-array surrogate): a token
      * position is DUPLICATED iff its 3-shingle occurs at ≥ 2 sites
      * corpus-wide (any doc, including the same one — ExactSubstr's
      * "occurs twice in the corpus" reading); per-doc maximal streaks
      * of consecutive duplicated positions (the q319 i − row_number
      * island trick, partitioned by doc, no diagonal needed) are the
      * extraction targets — exactly the spans Lee et al. cut. Each
      * streak ≥ [[DupRunMinTokens]] tokens fetches its covered text
      * back from the (cached) token arrays by doc_id and is keyed by
      * sha-256 of the exact span, so the final catalog groups
      * byte-identical spans: (run_fp, run_tokens, n_sites, n_docs,
      * first_doc).
      *
      * Scale shape — and why this needs NO df cap: there is no
      * pairwise term anywhere. The df census is one map-side-combined
      * count on 8-byte xxhash64 keys; the duplicated-site filter is a
      * left-semi join whose probe volume is the corpus's token count
      * (hashes on the wire, never shingle strings); the streak window
      * partitions on doc_id (cardinality = corpus, per-partition work
      * bounded by doc length); the text fetch-back joins the SMALL
      * run table against the cached token arrays on doc_id; the
      * catalog aggregate is bounded by the number of qualifying runs.
      * A df = 10⁹ boilerplate shingle costs the pair joins C(df, 2)
      * work — here it costs df flag lookups, so the most-duplicated
      * text (the entire point of the operation) keeps FULL recall
      * where every capped pairwise query must drop it. */
    "q413_dup_run_extraction" -> ((s: SparkSession, dir: String) =>
      dupRunSites(s, dir)
        .groupBy(col("run_fp"), col("run_tokens"))
        .agg(count(lit(1)).as("n_sites"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(desc("run_tokens"), col("run_fp"))),

    /** Cross-source CONTAMINATION screen — q413's catalog read the way
      * a training pipeline actually needs it: verbatim duplicated runs
      * SPANNING two sources, per source pair. When one source is a
      * held-out benchmark and another is crawl, every shared run IS
      * train-test contamination (the Lee et al. / GPT-3 appendix-C
      * decontamination operation, measured instead of assumed); when
      * both are crawls, it is syndication the per-source dedup plans
      * around. Per (source_a < source_b): distinct shared runs, the
      * longest, and their token mass. Scale shape: the run-site table
      * is already small (qualifying ≥ [[DupRunMinTokens]]-token runs
      * only); the pair expansion is a self equi-join ON run_fp
      * (shuffle_hash — never all-pairs, bounded by sites-per-run ×
      * source domain), and the output is bounded by the source-pair
      * domain. Round 15: the sites are READ from the persisted
      * [[DupRunStore]] catalog (seed-once) — the corpus-token-volume
      * extraction is paid once per corpus, not once per screen; the
      * unchanged first-principles oracle doubles as the staleness
      * guard (a stale or torn catalog goes red here). */
    "q414_cross_source_contamination" -> ((s: SparkSession, dir: String) => {
      val sites = DupRunStore.catalogSites(s, dir)
        .select(col("run_fp"), col("run_tokens"), col("source")).cache()
      sites.as("a").join(sites.as("b").hint("shuffle_hash"),
          col("a.run_fp") === col("b.run_fp") &&
            col("a.source") < col("b.source"))
        .select(col("a.run_fp").as("run_fp"),
          col("a.run_tokens").as("run_tokens"),
          col("a.source").as("source_a"), col("b.source").as("source_b"))
        .distinct()
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_runs"),
          max(col("run_tokens")).as("max_run_tokens"),
          sum(col("run_tokens")).as("shared_token_mass"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    /** ExactSubstr REMOVAL-MASS census — what would the Lee et al.
      * substring cut actually delete, per source: token positions
      * covered by ≥ [[DupRunMinTokens]]-token duplicated runs, as an
      * exact DISTINCT-position count (adjacent maximal streaks can
      * overlap by up to k−1 = 2 tokens, so summing run lengths would
      * double-count; the census explodes each qualifying run's
      * positions and counts the union — volume bounded by covered
      * tokens ≤ corpus tokens). The decision table behind choosing
      * doc-level (q32/q35), span-level (this), or no dedup per
      * source: q245 weighs duplicated SHINGLE occurrences, which
      * includes sub-run noise; this weighs exactly the text an
      * ExactSubstr pass removes. Totals census every non-null doc on
      * the RAW whitespace split, so share is position-consistent with
      * the run extraction by construction. Round 15: run sites READ
      * from the persisted [[DupRunStore]] catalog (the q414 stance) —
      * the census is a store scan + coverage explode, never a corpus
      * re-extraction; oracle unchanged, so staleness goes red. */
    "q415_dup_removal_census" -> ((s: SparkSession, dir: String) => {
      val covered = DupRunStore.catalogSites(s, dir)
        .select(col("doc_id"), explode(expr(
          "sequence(start_tok, start_tok + cast(run_tokens AS int) - 1)"))
          .as("p"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("covered"))
      val docs = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
      docs.join(covered.hint("shuffle_hash"), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          coalesce(sum(col("covered")), lit(0L)).as("covered_tokens"),
          count_if(col("covered").isNotNull).as("n_docs_hit"),
          r6n(coalesce(sum(col("covered")), lit(0L)).cast("double") /
            sum(col("nt"))).as("covered_share"))
        .orderBy(col("source"))
    }),

    /** MinRun THRESHOLD PLANNER — the q363 operating-table stance
      * applied to ExactSubstr: per candidate run-length cut
      * L ∈ {10, 20, 40, 80}, the number of maximal duplicated runs
      * ≥ L, their summed token mass (the standard extracted-mass
      * metric; q415 holds the exact distinct-position coverage for
      * the COMMITTED cut), docs hit, and the corpus share — the
      * curve that decides where to set the Lee et al. length
      * threshold before paying for the extraction at scale. One
      * streak pass with NO length filter (the planner must see the
      * short-run tail the committed cut drops), a 4-literal cut
      * explode over the tiny run table, and a 1-row corpus-token
      * fold. */
    "q416_dup_run_planner" -> ((s: SparkSession, dir: String) => {
      // ONE streak derivation for planner, extraction, and oracle
      // (round-14 verdict What's-wrong #1): minTokens = 1 keeps the
      // short-run tail the committed cut drops — the curve the planner
      // exists to show — and withFp = false skips the per-streak text
      // fetch-back the census never reads
      val runs = dupRunSitesOf(Tables(s, dir, "documents"),
        minTokens = 1, withFp = false)
      val tot = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .agg(sum(size(split(col("text"), " ")).cast("long"))
          .as("corpus_tokens"))
      runs.select(col("doc_id"), col("run_tokens"),
          explode(expr("array(10L, 20L, 40L, 80L)")).as("cut"))
        .groupBy(col("cut"))
        .agg(count_if(col("run_tokens") >= col("cut")).as("n_runs"),
          sum(when(col("run_tokens") >= col("cut"), col("run_tokens"))
            .otherwise(0L)).as("run_token_mass"),
          countDistinct(when(col("run_tokens") >= col("cut"),
            col("doc_id"))).as("n_docs_hit"))
        .crossJoin(broadcast(tot))
        .select(col("cut"), col("n_runs"), col("run_token_mass"),
          col("n_docs_hit"),
          r6n(col("run_token_mass").cast("double") / col("corpus_tokens"))
            .as("mass_share"))
        .orderBy(col("cut"))
    }),

    /** COPY-vs-TEMPLATE pair classification — the near-dup store's
      * pairs split by WHAT KIND of duplication they are: a ≥ 0.5
      * Jaccard pair whose longest shared positional run is ≥ 20
      * tokens is a verbatim copy (delete one side); 5-19 tokens is
      * partial copying (strip the shared span, keep both); ≤ 4 is
      * template similarity — same vocabulary, no contiguous text,
      * exactly the pairs ExactSubstr removal would NOT touch and
      * set-based dedup alone can kill. q319 localizes runs for ≥ 0.8
      * pairs; this CLASSIFIES the whole ≥ 0.5 store by the same
      * offset-diagonal streak, store-bounded (positional shingles
      * join only the served pair list; every pair sharing a distinct
      * shingle has ≥ 1 positional match, so the inner join drops
      * nothing). Per class: pairs, mean Jaccard, mean longest run. */
    "q417_copy_vs_template" -> ((s: SparkSession, dir: String) => {
      val pairs = PairGraph.jaccard(s, dir, 0.5)
        .select(col("d1"), col("d2"), col("jac"))
      val pos = Tables(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), expr(
          "posexplode(shingle_hashes_all(toks, 3))").as(Seq("i", "sh")))
      val m = pairs
        .join(pos.select(col("doc_id").as("d1"), col("i").as("i1"),
          col("sh")), "d1")
        .join(pos.select(col("doc_id").as("d2"), col("i").as("i2"),
          col("sh")).hint("shuffle_hash"), Seq("d2", "sh"))
        .select(col("d1"), col("d2"), col("i1"),
          (col("i2") - col("i1")).as("diag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("i1"))
      val longest = m.withColumn("rk", row_number().over(w))
        .groupBy(col("d1"), col("d2"), col("diag"),
          (col("i1") - col("rk")).as("run_key"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("d1"), col("d2"))
        .agg((max(col("run")) + 2).as("longest_run"))
      pairs.join(longest, Seq("d1", "d2"))
        .select(col("jac"), col("longest_run"),
          when(col("longest_run") >= 20, "verbatim")
            .when(col("longest_run") >= 5, "partial")
            .otherwise("template").as("dup_class"))
        .groupBy(col("dup_class"))
        .agg(count(lit(1)).as("n_pairs"),
          r6n(avg(col("jac"))).as("mean_jaccard"),
          r6n(avg(col("longest_run").cast("double"))).as("mean_longest_run"))
        .orderBy(col("dup_class"))
    })
  )

  /** Shared positional duplicated-run machinery (q413 in-plan; the
    * [[DupRunStore]] catalog seed; the q416 planner tail): the
    * per-site maximal-streak extraction documented at q413, returning
    * one row per run SITE of >= `minTokens` tokens. See the q413
    * scaladoc for the algorithm and the no-df-cap scale argument.
    * ONE derivation serves every consumer (round-14 verdict
    * What's-wrong #1: the planner had re-implemented this chain
    * inline, so a tokenization change could desynchronize it from the
    * extraction it plans for).
    *
    * `withFp = true` (the catalog form) fetches each run's covered
    * text back from the cached token arrays and returns (doc_id,
    * source, start_tok, run_tokens, run_fp); `withFp = false` (the
    * planner form — q416 needs the unfiltered short-run tail, where
    * a text fetch-back per 3-token streak would dwarf the census)
    * skips the fetch-back and returns (doc_id, start_tok,
    * run_tokens). */
  private[graft] def dupRunSitesOf(docsIn: DataFrame, minTokens: Int,
      withFp: Boolean = true): DataFrame = {
    val docs0 = docsIn
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    // cache only the catalog form: it reads the arrays twice (site
    // explode + run-text fetch-back); the planner form reads once.
    // Materialized in ONE job before the consumers fan out (round-16):
    // AQE submits the posting derivation and the fetch-back side
    // concurrently, and on a CPU-SATURATED config the racers each
    // re-ran the scan+split (measured at the x100 probe config:
    // three concurrent ~21 s derivations of identical rows — 70.8 s
    // wall vs 20.1 s when the race happens not to fire)
    val docs = if (withFp) { val d = docs0.cache(); d.count(); d } else docs0
    val pos = docs.select(col("doc_id"), expr(
      "posexplode(shingle_hashes_all(toks, 3))").as(Seq("i", "sh")))
    val dupSh = pos.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("sh"))
    val dup = pos.join(dupSh.hint("shuffle_hash"), Seq("sh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val runs = dup.withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"), (col("i") - col("rk")).as("grp"))
      .agg(min(col("i")).as("i0"), count(lit(1)).as("len_sh"))
      .filter(col("len_sh") + 2 >= minTokens)
      // posexplode positions are 0-based; token positions 1-based
      .select(col("doc_id"), (col("i0") + 1).as("start_tok"),
        (col("len_sh") + 2).as("run_tokens"))
    if (!withFp) runs
    // the fetch-back must never BROADCAST the corpus token arrays
    // (Catalyst's static estimate under-prices the cached relation):
    // shuffle_hash with the small run table as the build side
    else runs.hint("shuffle_hash").join(docs, "doc_id")
      .select(col("doc_id"), col("source"), col("start_tok"),
        col("run_tokens"),
        substring(sha2(expr(
          "concat_ws(' ', slice(toks, start_tok, cast(run_tokens AS int)))"),
          256), 1, 16).as("run_fp"))
  }

  /** The catalog derivation over a fixture dir at a given cut
    * threshold (q413's in-plan body at the committed default;
    * [[DupRunStore]] persists exactly this output, store path keyed
    * by the threshold). */
  private[llm] def dupRunSites(s: SparkSession, dir: String,
      minTokens: Int = DupRunMinTokens): DataFrame =
    dupRunSitesOf(Tables(s, dir, "documents"), minTokens)

  /** COMMITTED minimum catalogued duplicated-run length, in tokens —
    * a config default, not a constant baked into the derivations: the
    * threshold threads through [[dupRunSitesOf]], the
    * [[DupRunStore]] catalog (whose serve path is keyed by it, so a
    * threshold change can never serve a stale catalog), the cut, and
    * CurationMain (round-15 verdict Next #6 — the q416 planner
    * reports the cut-threshold curve; an operator must be able to act
    * on it). At 100 TB the Lee et al. operating point is ~50 tokens;
    * the fixture docs top out at 99 tokens, so the committed default
    * sits at 20 to exercise the multi-run-per-doc paths under the
    * oracle. */
  private[graft] val DupRunMinTokens = 20

  /** Per-chunk winnowing fingerprints: 64-token windows at stride 48
    * (the q104 chunker), each fingerprinted with the minimum SHA-256
    * over its 3-shingles (the q37 sketch, per chunk). Windows too
    * short to hold one shingle (the < 3-token tail) are dropped on
    * both engines. Entirely per-row generator arithmetic — no
    * shuffle, no state. */
  private[llm] def chunkFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(
          |  filter(sequence(1, size(toks), 48),
          |    s -> least(s + 63, size(toks)) - s + 1 >= 3),
          |  s -> array_min(transform(
          |    sequence(s, least(s + 63, size(toks)) - 2),
          |    i -> sha2(concat_ws(' ', slice(toks, i, 3)), 256))))"""
          .stripMargin)).as("fp"))

  /** Positional duplicated-run CTE chain — the oracle twin of
    * [[dupRunSites]] (q413/q414/q415 all build on `wt`): 1-based
    * DuckDB series aligns with Spark's posexplode pos + 1, and list
    * slice l[i : i+n-1] is 1-based inclusive ≡ Spark slice(l, i, n).
    * A `def` (never a val below the oracles map — init-order yields a
    * null interpolation). The committed-default form; the
    * threshold-parameterized twin is [[duckDupRunsAt]]. */
  private[llm] def duckDupRuns: String = duckDupRunsAt(DupRunMinTokens)

  /** [[duckDupRuns]] at an explicit cut threshold — the oracle twin of
    * `dupRunSitesOf(docs, minTokens)` (DupRunStoreSpec pins the
    * parameterized pair green at two thresholds). */
  private[llm] def duckDupRunsAt(minTokens: Int): String =
    s"""WITH base AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
       |pos AS (
       |  SELECT doc_id, i,
       |  concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS sh
       |  FROM base, unnest(generate_series(1, len(toks) - 2)) AS t(i)),
       |dupsh AS (SELECT sh FROM pos GROUP BY sh HAVING count(*) >= 2),
       |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN dupsh f ON f.sh = p.sh),
       |grp AS (
       |  SELECT doc_id, i,
       |  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rk
       |  FROM dup),
       |runs AS (
       |  SELECT doc_id, min(i) AS start_tok, count(*) + 2 AS run_tokens
       |  FROM grp GROUP BY doc_id, rk
       |  HAVING count(*) + 2 >= $minTokens),
       |wt AS (
       |  SELECT r.doc_id, b.source, r.start_tok, r.run_tokens,
       |  substr(sha256(array_to_string(
       |    b.toks[r.start_tok : r.start_tok + r.run_tokens - 1], ' ')),
       |    1, 16) AS run_fp
       |  FROM runs r JOIN base b ON b.doc_id = r.doc_id)""".stripMargin

  private[llm] val duckShingles =
    """SELECT doc_id, unnest(list_distinct(list_transform(
      |  generate_series(1, greatest(len(string_split(text,' '))-2, 0)),
      |  i -> concat_ws(' ', string_split(text,' ')[i], string_split(text,' ')[i+1],
      |       string_split(text,' ')[i+2])))) AS sh
      |FROM documents""".stripMargin

  /** Declarative twin of the incremental snapshot-vs-corpus near-dup
    * path — shared by q151 (in-plan index build) and q281 (the serve
    * path reading the PERSISTED band index): both compute the same
    * output, so one first-principles oracle guards both. */
  private[llm] def duckIncrementalNeardup: String =
    s"""WITH sh AS ($duckShingles),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS sid, b.doc_id AS cid, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh
       |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT DISTINCT sid FROM pairs
       |  JOIN sizes s1 ON s1.doc_id = sid
       |  JOIN sizes s2 ON s2.doc_id = cid
       |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.8)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_shingles
       |FROM sizes
       |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT sid FROM matched)
       |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Shingle CTE body over the df-capped universe — the oracle twin of
    * [[cappedIndex]] (`sh0` → df filter → capped `sh`). */
  private[llm] def duckCappedShingles(dfCap: Int) =
    s"""sh0 AS ($duckShingles),
       |keep AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= $dfCap),
       |sh AS (SELECT doc_id, sh FROM sh0 WHERE sh IN (SELECT sh FROM keep))""".stripMargin

  /** `capped = false` reproduces the FULL-universe jaccard (the q35
    * minhash contract verifies against uncapped jaccard — its banded
    * candidate generation has no df hot key to cap). */
  private[graft] def duckJaccard(threshold: String, capped: Boolean = true) = {
    val shCte = if (capped) duckCappedShingles(DfCap) else s"sh AS ($duckShingles)"
    s"""WITH $shCte,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, round(inter*1.0/(s1.n + s2.n - inter) + 1e-12,4) AS jaccard
       |FROM pairs
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE inter*1.0/(s1.n + s2.n - inter) >= $threshold
       |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin
  }

  /** Exact capped-universe containment — q127's oracle (the full
    * inverted-index join over the df-capped shingles). */
  private[llm] lazy val duckContainment =
    s"""WITH ${duckCappedShingles(DfCap)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |round(inter * 1.0 / s1.n + 1e-12, 4) AS cont_d1,
       |round(inter * 1.0 / s2.n + 1e-12, 4) AS cont_d2
       |FROM pairs
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE inter * 1.0 / least(s1.n, s2.n) >= 0.9
       |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin

  val oracles: Map[String, String] = Map(
    "q32_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY text
        |ORDER BY canonical_id NULLS FIRST""".stripMargin,

    "q33_dedup_sha" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS n_copies,
        |substr(h, 1, 16) AS hash_prefix
        |FROM (SELECT doc_id, sha256(text) AS h FROM documents)
        |GROUP BY h
        |ORDER BY canonical_id NULLS FIRST""".stripMargin,

    "q34_dedup_jaccard" -> duckJaccard("0.5"),

    "q127_containment" -> duckContainment,

    // the 60 per-bit vote sums and the fingerprint reassembly are
    // program-generated; the token hash is the same sha-256 hex prefix
    // the engine uses, rebuilt with a BIGINT hex fold
    // store-raw jaccards (unrounded division, the q361 stance) joined
    // to both endpoints' from-first-principles fingerprints
    "q381_simhash_calibration" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT d1, d2,
         |  CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jac
         |  FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= 0.5),
         |$duckSimhashFp,
         |band AS (
         |  SELECT (hm // 5) * 5 AS ham_band, jac FROM (
         |    SELECT j.jac, bit_count(xor(f1.fp, f2.fp)) AS hm
         |    FROM j
         |    JOIN fp f1 ON f1.doc_id = j.d1
         |    JOIN fp f2 ON f2.doc_id = j.d2))
         |SELECT CAST(ham_band AS BIGINT) AS ham_band,
         |CAST(count(*) AS BIGINT) AS n_pairs,
         |round(avg(jac) + 1e-12, 6) AS mean_jac,
         |round(min(jac) + 1e-12, 6) AS min_jac,
         |round(max(jac) + 1e-12, 6) AS max_jac,
         |round(count(*) FILTER (jac >= 0.8) * 1.0 / count(*) + 1e-12, 6)
         |  AS dup_share
         |FROM band GROUP BY 1
         |ORDER BY ham_band NULLS FIRST""".stripMargin,

    "q36_dedup_simhash" -> {
      s"""WITH $duckSimhashFp,
         |banded AS (
         |  SELECT doc_id, fp, k AS band, (fp >> (15 * k)) & 32767 AS key
         |  FROM fp, unnest([0, 1, 2, 3]) AS u(k))
         |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
         |CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming
         |FROM banded x JOIN banded y
         |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.fp, y.fp)) <= 3
         |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin
    },

    // verified-minhash output ≡ UNCAPPED exact jaccard at the verify
    // threshold (LSH recall ≥ 1 - 1e-5 at j ≥ 0.8 with b=16, r=3)
    "q35_dedup_minhash" -> duckJaccard("0.8", capped = false),

    "q187_editdist_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 8) AS blk, substr(text, 1, 40) AS pfx
        |  FROM documents WHERE text IS NOT NULL AND len(text) >= 8)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.pfx, b.pfx) <= 5
        |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin,

    // the q93 closure + size histogram
    "q179_cluster_sizes" ->
      s"""WITH RECURSIVE
         |p AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |edges2(u, v) AS (SELECT d1, d2 FROM p UNION ALL SELECT d2, d1 FROM p),
         |walk(node, reach) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges2)
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges2 e ON e.u = w.reach),
         |labels AS (
         |  SELECT node AS doc_id, min(reach) AS cluster_id
         |  FROM walk GROUP BY node),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
         |  FROM labels GROUP BY cluster_id)
         |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters,
         |CAST(sum(sz - 1) AS BIGINT) AS n_removable
         |FROM sizes GROUP BY sz
         |ORDER BY sz NULLS FIRST""".stripMargin,

    "q175_jaccard_sweep" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT inter * 1.0 / (s1.n + s2.n - inter) AS jac FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5)
         |SELECT floor(jac * 10) / 10.0 AS jac_lo,
         |CAST(count(*) AS BIGINT) AS n_pairs,
         |round(avg(jac) + 1e-12, 6) AS mean_jac
         |FROM j GROUP BY 1
         |ORDER BY jac_lo NULLS FIRST""".stripMargin,

    "q172_triangle_count" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |e AS (
         |  SELECT d1, d2 FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |deg AS (
         |  SELECT v, count(*) AS d FROM (
         |    SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY v),
         |m AS (
         |  SELECT CAST(sum(d) // 2 AS BIGINT) AS n_edges,
         |  CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM e ab JOIN e bc ON ab.d2 = bc.d1
         |  JOIN e ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2)
         |SELECT n_edges, n_wedges, n_triangles,
         |CASE WHEN n_wedges > 0
         |  THEN round(3.0 * n_triangles / n_wedges + 1e-12, 6) END AS global_cc
         |FROM m, t""".stripMargin,

    "q161_source_copy_matrix" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d1, d2 FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5)
         |SELECT least(da.source, db.source) AS source_a,
         |greatest(da.source, db.source) AS source_b,
         |CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN documents da ON da.doc_id = d1
         |JOIN documents db ON db.doc_id = d2
         |GROUP BY 1, 2
         |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""".stripMargin,

    // 3 damped iterations unrolled over the same capped >= 0.5
    // jaccard pair graph; the per-iteration template is identical, so
    // generate it
    "q160_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT e.t AS v, 0.15 / nn.n + 0.85 * sum(p.pr / d.dg) AS pr
           |  FROM edges e
           |  JOIN $prev p ON p.v = e.s
           |  JOIN deg d ON d.s = e.s, nn
           |  GROUP BY e.t, nn.n)""".stripMargin
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d1, d2 FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |edges AS (
         |  SELECT d1 AS s, d2 AS t FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |deg AS (SELECT s, count(*) AS dg FROM edges GROUP BY s),
         |nodes AS (SELECT DISTINCT s AS v FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |p0 AS (SELECT v, 1.0 / nn.n AS pr FROM nodes, nn),
         |${iter("p0", "p1")},
         |${iter("p1", "p2")},
         |${iter("p2", "p3")}
         |SELECT v AS doc_id, round(pr + 1e-12, 6) AS pagerank
         |FROM p3
         |ORDER BY doc_id NULLS FIRST""".stripMargin
    },

    "q221_source_scorecard" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d1, d2 FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |dup AS (
         |  SELECT d.source, count(*) AS n_dup FROM (
         |    SELECT d1 AS doc_id FROM pairs
         |    UNION SELECT d2 FROM pairs) u
         |  JOIN documents d ON d.doc_id = u.doc_id
         |  GROUP BY 1),
         |sh0n AS ($duckShingles),
         |refsh AS (
         |  SELECT DISTINCT s.sh FROM sh0n s
         |  JOIN documents d ON d.doc_id = s.doc_id
         |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
         |snap AS (
         |  SELECT s.doc_id, s.sh FROM sh0n s
         |  JOIN documents d ON d.doc_id = s.doc_id
         |  WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3')),
         |per AS (
         |  SELECT snap.doc_id, count(*) AS n_sh,
         |  sum(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS n_novel
         |  FROM snap LEFT JOIN refsh r ON r.sh = snap.sh
         |  GROUP BY 1),
         |nov AS (
         |  SELECT d.source,
         |  round(avg(n_novel * 1.0 / n_sh) + 1e-12, 4) AS avg_novelty
         |  FROM per JOIN documents d ON d.doc_id = per.doc_id
         |  GROUP BY 1),
         |base AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(CAST(n_chars AS DOUBLE)) + 1e-12, 2) AS avg_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM documents GROUP BY 1)
         |SELECT b.source, b.n_docs, b.avg_chars, b.n_langs,
         |round(coalesce(dup.n_dup, 0) * 1.0 / b.n_docs + 1e-12, 4) AS dup_rate,
         |nov.avg_novelty
         |FROM base b
         |LEFT JOIN dup ON dup.source = b.source
         |LEFT JOIN nov ON nov.source = b.source
         |ORDER BY b.source NULLS FIRST""".stripMargin,

    "q220_survivor_policies" ->
      s"""WITH RECURSIVE
         |p AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |edges2(u, v) AS (SELECT d1, d2 FROM p UNION ALL SELECT d2, d1 FROM p),
         |walk(node, reach) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges2)
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges2 e ON e.u = w.reach),
         |labels AS (
         |  SELECT node AS doc_id, min(reach) AS cluster_id
         |  FROM walk GROUP BY node),
         |feats AS (
         |  SELECT l.cluster_id, d.doc_id, d.n_chars,
         |  len(list_distinct(string_split(d.text, ' '))) AS n_div
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id),
         |rf AS (SELECT cluster_id, min(doc_id) AS keep_first
         |  FROM feats GROUP BY 1),
         |rl AS (SELECT cluster_id, doc_id AS keep_longest FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM feats) WHERE rn = 1),
         |rd AS (SELECT cluster_id, doc_id AS keep_diverse FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY n_div DESC, doc_id) AS rn
         |  FROM feats) WHERE rn = 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         |round(sum(CASE WHEN keep_first = keep_longest THEN 1 ELSE 0 END)
         |  * 1.0 / count(*) + 1e-12, 4) AS agree_first_longest,
         |round(sum(CASE WHEN keep_first = keep_diverse THEN 1 ELSE 0 END)
         |  * 1.0 / count(*) + 1e-12, 4) AS agree_first_diverse,
         |round(sum(CASE WHEN keep_longest = keep_diverse THEN 1 ELSE 0 END)
         |  * 1.0 / count(*) + 1e-12, 4) AS agree_longest_diverse
         |FROM rf
         |JOIN rl USING (cluster_id)
         |JOIN rd USING (cluster_id)""".stripMargin,

    "q210_novelty" ->
      s"""WITH sh0 AS ($duckShingles),
         |refsh AS (
         |  SELECT DISTINCT s.sh FROM sh0 s
         |  JOIN documents d ON d.doc_id = s.doc_id
         |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
         |snap AS (
         |  SELECT s.doc_id, s.sh FROM sh0 s
         |  JOIN documents d ON d.doc_id = s.doc_id
         |  WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3')),
         |per AS (
         |  SELECT snap.doc_id, count(*) AS n_sh,
         |  sum(CASE WHEN r.sh IS NULL THEN 1 ELSE 0 END) AS n_novel
         |  FROM snap LEFT JOIN refsh r ON r.sh = snap.sh
         |  GROUP BY 1)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |round(avg(n_novel * 1.0 / n_sh) + 1e-12, 6) AS avg_novelty,
         |CAST(sum(CASE WHEN n_novel = n_sh THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_fully_novel
         |FROM per JOIN documents d ON d.doc_id = per.doc_id
         |GROUP BY 1
         |ORDER BY source NULLS FIRST""".stripMargin,

    "q203_label_prop" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (
           |  SELECT v, l FROM (
           |    SELECT e.t AS v, p.l AS l,
           |    row_number() OVER (PARTITION BY e.t
           |      ORDER BY count(*) DESC, p.l) AS rn
           |    FROM edges e JOIN $prev p ON p.v = e.s
           |    GROUP BY e.t, p.l)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT d1, d2 FROM prs
         |  JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |edges AS (
         |  SELECT d1 AS s, d2 AS t FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |l0 AS (SELECT DISTINCT s AS v, s AS l FROM edges),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |cs AS (SELECT l, CAST(count(*) AS BIGINT) AS community_size
         |  FROM l3 GROUP BY l)
         |SELECT v AS doc_id, l3.l AS community, community_size
         |FROM l3 JOIN cs ON cs.l = l3.l
         |ORDER BY doc_id NULLS FIRST""".stripMargin
    },

    "q152_boilerplate_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |ch AS (
        |  SELECT doc_id, unnest(list_transform(
        |    list_filter(generate_series(1, len(toks), 48),
        |      s -> least(s + 63, len(toks)) - s + 1 >= 3),
        |    s -> list_min(list_transform(
        |      generate_series(s, least(s + 63, len(toks)) - 2),
        |      i -> sha256(concat_ws(' ', toks[i], toks[i+1], toks[i+2])))))) AS fp
        |  FROM t),
        |census AS (SELECT fp, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY fp),
        |j AS (SELECT doc_id, n_docs FROM ch JOIN census USING (fp))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-12, 4)
        |  AS boiler_frac
        |FROM j GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST""".stripMargin,

    // declarative twin of the banded+bloomed incremental path: exact
    // uncapped Jaccard between every snapshot and corpus doc, snapshot
    // docs with no >= 0.8 match survive
    "q151_incremental_neardup" -> duckIncrementalNeardup,

    // recursive-CTE transitive closure + min per component — the same
    // fixpoint the Spark label propagation converges to
    "q93_dedup_clusters" ->
      s"""WITH RECURSIVE
         |p AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |edges2(u, v) AS (SELECT d1, d2 FROM p UNION ALL SELECT d2, d1 FROM p),
         |walk(node, reach) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges2)
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges2 e ON e.u = w.reach)
         |SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
         |FROM walk GROUP BY node
         |ORDER BY doc_id NULLS FIRST""".stripMargin,

    // the q93 closure + per-cluster argmax (longest member, ties to
    // the smallest doc_id)
    "q147_cluster_rep" ->
      s"""WITH RECURSIVE
         |p AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |edges2(u, v) AS (SELECT d1, d2 FROM p UNION ALL SELECT d2, d1 FROM p),
         |walk(node, reach) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges2)
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges2 e ON e.u = w.reach),
         |labels AS (
         |  SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
         |  FROM walk GROUP BY node),
         |j AS (SELECT l.cluster_id, l.doc_id, d.n_chars
         |  FROM labels l JOIN documents d USING (doc_id))
         |SELECT cluster_id,
         |CAST(-(max(struct_pack(c := n_chars, negid := -doc_id))['negid']) AS BIGINT)
         |  AS rep_doc,
         |CAST(max(struct_pack(c := n_chars, negid := -doc_id))['c'] AS BIGINT)
         |  AS rep_chars,
         |CAST(count(*) AS BIGINT) AS n_members
         |FROM j GROUP BY cluster_id
         |ORDER BY cluster_id NULLS FIRST""".stripMargin,

    "q319_shared_spans" ->
      s"""WITH pr AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |pos AS (
         |  SELECT doc_id, i,
         |  concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS sh
         |  FROM (
         |    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         |  unnest(generate_series(1, len(toks) - 2)) AS t(i)),
         |m AS (
         |  SELECT pr.d1, pr.d2, a.i AS i1, b.i - a.i AS diag
         |  FROM pr
         |  JOIN pos a ON a.doc_id = pr.d1
         |  JOIN pos b ON b.doc_id = pr.d2 AND b.sh = a.sh),
         |runs AS (
         |  SELECT d1, d2, diag,
         |  i1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY i1)
         |    AS run_key
         |  FROM m),
         |rl AS (
         |  SELECT d1, d2, CAST(count(*) AS BIGINT) AS run
         |  FROM runs GROUP BY d1, d2, diag, run_key)
         |SELECT d1, d2,
         |CAST(max(run) AS BIGINT) AS longest_run_shingles,
         |CAST(max(run) + 2 AS BIGINT) AS longest_run_tokens,
         |CAST(count(*) AS BIGINT) AS n_runs
         |FROM rl GROUP BY d1, d2
         |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin,

    "q316_blocking_precision" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 8) AS blk, substr(text, 1, 40) AS pfx
        |  FROM documents WHERE text IS NOT NULL AND len(text) >= 8),
        |sizes AS (SELECT blk, CAST(count(*) AS BIGINT) AS bn FROM d GROUP BY 1),
        |pairs AS (
        |  SELECT a.blk, (levenshtein(a.pfx, b.pfx) <= 5) AS hit
        |  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |ps AS (
        |  SELECT blk, CAST(count(*) AS BIGINT) AS cand,
        |  CAST(count(*) FILTER (hit) AS BIGINT) AS hits
        |  FROM pairs GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |CAST(count(*) FILTER (bn >= 2) AS BIGINT) AS n_multi_blocks,
        |CAST(max(bn) AS BIGINT) AS max_block,
        |CAST(coalesce(sum(cand), 0) AS BIGINT) AS cand_pairs,
        |CAST(coalesce(sum(hits), 0) AS BIGINT) AS matched_pairs,
        |round(coalesce(sum(hits), 0) * 1.0
        |  / nullif(coalesce(sum(cand), 0), 0) + 1e-12, 6) AS block_precision
        |FROM sizes LEFT JOIN ps USING (blk)""".stripMargin,

    "q37_doc_fingerprint" ->
      s"""WITH sh AS ($duckShingles)
         |SELECT doc_id, substr(min(sha256(sh)), 1, 16) AS fingerprint
         |FROM sh GROUP BY doc_id
         |ORDER BY doc_id NULLS FIRST""".stripMargin,

    "q245_dup_ngram_mass" ->
      s"""WITH sh AS ($duckShingles),
         |dfc AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
         |d AS (
         |  SELECT s.doc_id, count(*) AS n_sh,
         |  count(*) FILTER (f.df >= 2) AS n_dup
         |  FROM sh s JOIN dfc f ON f.sh = s.sh GROUP BY 1)
         |SELECT doc.source, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(d.n_sh) AS BIGINT) AS total_shingles,
         |CAST(sum(d.n_dup) AS BIGINT) AS dup_shingles,
         |round(sum(d.n_dup) * 1.0 / sum(d.n_sh) + 1e-12, 6) AS dup_mass,
         |CAST(count(*) FILTER (round(d.n_dup * 1.0 / d.n_sh + 1e-12, 6) > 0.5)
         |  AS BIGINT) AS n_heavy_docs
         |FROM d JOIN documents doc ON doc.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY doc.source NULLS FIRST""".stripMargin,

    "q259_stop_shingle_audit" ->
      s"""WITH sh AS ($duckShingles),
         |dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
         |b AS (SELECT df, CAST(length(bin(df)) - 1 AS BIGINT) AS bucket
         |      FROM dfs)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_shingles,
         |CAST(sum(df) AS BIGINT) AS postings,
         |CAST(count(*) FILTER (df > $DfCap) AS BIGINT) AS n_capped,
         |CAST(sum(CASE WHEN df > $DfCap THEN df ELSE 0 END) AS BIGINT)
         |  AS capped_postings
         |FROM b GROUP BY 1
         |ORDER BY bucket NULLS FIRST""".stripMargin,

    // identical df histogram + the same 4-cap literal grid; empty
    // conditional sums coalesce to 0 (Spark's when/otherwise sums
    // literal zeros, never NULL)
    "q363_dfcap_planner" ->
      s"""WITH sh AS ($duckShingles),
         |dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
         |caps AS (SELECT CAST(unnest([64, 128, 256, 512]) AS BIGINT) AS cap)
         |SELECT cap,
         |CAST(count(*) FILTER (df <= cap) AS BIGINT) AS n_shingles_kept,
         |CAST(count(*) FILTER (df > cap) AS BIGINT) AS n_stop_shingles,
         |CAST(coalesce(sum(df) FILTER (df <= cap), 0) AS BIGINT)
         |  AS postings_kept,
         |CAST(coalesce(sum(df * (df - 1) // 2) FILTER (df <= cap), 0)
         |  AS BIGINT) AS pair_join_volume
         |FROM dfs, caps GROUP BY 1
         |ORDER BY cap NULLS FIRST""".stripMargin,

    "q263_boilerplate_position" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |  array_to_string(list_transform(generate_series(1,
        |    least(len(string_split(text, ' ')), 16)),
        |    i -> string_split(text, ' ')[i]), ' ') AS pfx,
        |  array_to_string(list_transform(generate_series(
        |    greatest(len(string_split(text, ' ')) - 15, 1),
        |    len(string_split(text, ' '))),
        |    i -> string_split(text, ' ')[i]), ' ') AS sfx
        |  FROM documents WHERE text IS NOT NULL),
        |pdf AS (SELECT pfx, count(*) AS df FROM base GROUP BY 1
        |        HAVING count(*) >= 2),
        |sdf AS (SELECT sfx, count(*) AS df FROM base GROUP BY 1
        |        HAVING count(*) >= 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(p.pfx) AS BIGINT) AS n_shared_prefix,
        |CAST(count(sd.sfx) AS BIGINT) AS n_shared_suffix,
        |round(count(p.pfx) * 1.0 / count(*) + 1e-12, 6) AS prefix_rate,
        |round(count(sd.sfx) * 1.0 / count(*) + 1e-12, 6) AS suffix_rate
        |FROM base b
        |LEFT JOIN pdf p ON p.pfx = b.pfx
        |LEFT JOIN sdf sd ON sd.sfx = b.sfx
        |GROUP BY 1
        |ORDER BY source NULLS FIRST""".stripMargin,

    "q265_weighted_jaccard" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |dfw AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
         |shw AS (
         |  SELECT s.doc_id, s.sh, 1.0 / f.df AS w
         |  FROM sh s JOIN dfw f ON f.sh = s.sh),
         |wsz AS (SELECT doc_id, sum(w) AS wsz FROM shw GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  sum(a.w) AS wint, count(*) AS inter
         |  FROM shw a JOIN shw b
         |    ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, CAST(inter AS BIGINT) AS inter,
         |round(wint / (z1.wsz + z2.wsz - wint) + 1e-12, 6)
         |  AS weighted_jaccard
         |FROM inter
         |JOIN wsz z1 ON z1.doc_id = d1
         |JOIN wsz z2 ON z2.doc_id = d2
         |WHERE round(wint / (z1.wsz + z2.wsz - wint) + 1e-12, 6) >= 0.5
         |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin,

    "q278_cluster_density" ->
      s"""WITH RECURSIVE
         |p AS (SELECT d1, d2 FROM (${duckJaccard("0.8")})),
         |edges2(u, v) AS (SELECT d1, d2 FROM p UNION ALL SELECT d2, d1 FROM p),
         |walk(node, reach) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges2)
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN edges2 e ON e.u = w.reach),
         |labels AS (
         |  SELECT node AS doc_id, CAST(min(reach) AS BIGINT) AS cluster_id
         |  FROM walk GROUP BY node),
         |sz AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY 1),
         |ec AS (
         |  SELECT l.cluster_id, count(*) AS n_edges
         |  FROM p JOIN labels l ON l.doc_id = p.d1 GROUP BY 1)
         |SELECT sz.sz AS sz, CAST(count(*) AS BIGINT) AS n_clusters,
         |CAST(sum(ec.n_edges) AS BIGINT) AS edges,
         |CAST(sum(sz.sz * (sz.sz - 1) // 2) AS BIGINT) AS possible,
         |round(sum(ec.n_edges) * 1.0 /
         |  sum(sz.sz * (sz.sz - 1) // 2) + 1e-12, 6) AS density
         |FROM sz JOIN ec USING (cluster_id)
         |GROUP BY 1
         |ORDER BY sz NULLS FIRST""".stripMargin,

    // 5 chained greedy steps over the same per-doc-distinct shingle
    // universe (string shingles — count-equivalent to the hash
    // universe under the suite-wide xxhash64 injectivity stance);
    // identical (gain DESC, doc_id) tie order
    "q352_coverage_greedy" -> {
      val steps = (1 to 5).map { k =>
        if (k == 1)
          """p1 AS (SELECT doc_id, count(*) AS gain FROM sh GROUP BY 1
            |  ORDER BY gain DESC, doc_id LIMIT 1),
            |c1 AS (SELECT DISTINCT sh FROM sh
            |  WHERE doc_id = (SELECT doc_id FROM p1))""".stripMargin
        else
          s"""p$k AS (SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE sh NOT IN (SELECT sh FROM c${k - 1}) GROUP BY 1
             |  ORDER BY gain DESC, doc_id LIMIT 1),
             |c$k AS (SELECT sh FROM c${k - 1} UNION
             |  SELECT sh FROM sh WHERE doc_id = (SELECT doc_id FROM p$k))"""
            .stripMargin
      }.mkString(",\n")
      val sel = (1 to 5).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS step, doc_id,
           |CAST(gain AS BIGINT) AS marginal_gain,
           |(SELECT CAST(count(*) AS BIGINT) FROM c$k) AS covered_total
           |FROM p$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH sh AS ($duckShingles),\n$steps\n$sel\nORDER BY step NULLS FIRST"
    },

    // from-first-principles pair scores over the same capped shingle
    // universe (doubles as the pair-store staleness guard, the q34
    // stance); same integer band cross-multiplications
    "q406_dedup_threshold_regret" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pr AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pj AS (
         |  SELECT d2, inter * 1.0 / (s1.n + s2.n - inter) AS jac
         |  FROM pr JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2),
         |grid AS (SELECT CAST(v AS DOUBLE) AS threshold
         |  FROM (VALUES (0.3), (0.5), (0.7), (0.9)) g(v)),
         |vict AS (
         |  SELECT DISTINCT g.threshold, pj.d2 FROM pj, grid g
         |  WHERE pj.jac >= g.threshold),
         |dq AS (
         |  SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS BIGINT) AS nt,
         |  CAST(len(list_distinct(list_filter(string_split(text, ' '),
         |    x -> x <> ''))) AS BIGINT) AS nd
         |  FROM documents WHERE text IS NOT NULL),
         |db AS (
         |  SELECT doc_id, nt,
         |  CASE WHEN nd * 2 <= nt THEN 'low'
         |       WHEN nd * 4 <= nt * 3 THEN 'mid' ELSE 'high' END AS band
         |  FROM dq WHERE nt > 0),
         |bt AS (SELECT band, count(*) AS band_docs, sum(nt) AS band_tokens
         |       FROM db GROUP BY 1),
         |rm AS (
         |  SELECT threshold, band, count(*) AS n_removed,
         |  sum(nt) AS tokens_removed
         |  FROM vict v JOIN db ON db.doc_id = v.d2 GROUP BY 1, 2)
         |SELECT rm.threshold, rm.band,
         |CAST(n_removed AS BIGINT) AS n_removed,
         |CAST(tokens_removed AS BIGINT) AS tokens_removed,
         |CAST(bt.band_docs AS BIGINT) AS band_docs,
         |CAST(bt.band_tokens AS BIGINT) AS band_tokens,
         |round(CAST(tokens_removed AS DOUBLE) / bt.band_tokens + 1e-12, 6)
         |  AS band_mass_share
         |FROM rm JOIN bt USING (band)
         |ORDER BY threshold NULLS FIRST, band NULLS FIRST""".stripMargin,

    // same capped universe, same division, same floor-log2 bucket
    "q407_dup_distance_profile" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pr AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pj AS (
         |  SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jac
         |  FROM pr JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |b AS (
         |  SELECT CAST(length(bin(d2 - d1)) - 1 AS BIGINT) AS gap_bucket, jac
         |  FROM pj),
         |tot AS (SELECT count(*) AS n_total FROM b)
         |SELECT gap_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         |round(avg(jac) + 1e-12, 6) AS mean_jaccard,
         |round(count(*) / CAST(t.n_total AS DOUBLE) + 1e-12, 6) AS pair_share
         |FROM b CROSS JOIN tot t
         |GROUP BY gap_bucket, t.n_total
         |ORDER BY gap_bucket NULLS FIRST""".stripMargin,

    // positional (not distinct) shingles; duplication = df >= 2 over
    // ALL sites; 1-based DuckDB series aligns with Spark's pos + 1;
    // list slice l[i : i+n-1] is 1-based inclusive ≡ slice(l, i, n)
    "q413_dup_run_extraction" ->
      s"""$duckDupRuns
         |SELECT run_fp, CAST(run_tokens AS BIGINT) AS run_tokens,
         |CAST(count(*) AS BIGINT) AS n_sites,
         |CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM wt GROUP BY 1, 2
         |ORDER BY run_tokens DESC, run_fp NULLS FIRST""".stripMargin,

    // the same positional-run CTE chain; the pair expansion mirrors
    // the Spark self-join + distinct
    "q414_cross_source_contamination" ->
      s"""$duckDupRuns,
         |pr AS (
         |  SELECT DISTINCT a.run_fp, a.run_tokens,
         |  a.source AS source_a, b.source AS source_b
         |  FROM wt a JOIN wt b
         |  ON a.run_fp = b.run_fp AND a.source < b.source)
         |SELECT source_a, source_b,
         |CAST(count(*) AS BIGINT) AS n_shared_runs,
         |CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
         |CAST(sum(run_tokens) AS BIGINT) AS shared_token_mass
         |FROM pr GROUP BY 1, 2
         |ORDER BY source_a NULLS FIRST, source_b NULLS FIRST""".stripMargin,

    // exact distinct-position coverage; totals on the RAW split (an
    // empty text splits to one empty token in BOTH engines)
    "q415_dup_removal_census" ->
      s"""$duckDupRuns,
         |cov AS (
         |  SELECT DISTINCT w.doc_id, t.p
         |  FROM wt w, unnest(generate_series(w.start_tok,
         |    w.start_tok + w.run_tokens - 1)) AS t(p)),
         |perdoc AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY 1),
         |toks AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS nt
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(t.nt) AS BIGINT) AS total_tokens,
         |CAST(coalesce(sum(p.covered), 0) AS BIGINT) AS covered_tokens,
         |CAST(count(*) FILTER (p.covered IS NOT NULL) AS BIGINT)
         |  AS n_docs_hit,
         |round(coalesce(sum(p.covered), 0) * 1.0 / sum(t.nt) + 1e-12, 6)
         |  AS covered_share
         |FROM toks t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
         |GROUP BY 1 ORDER BY t.source NULLS FIRST""".stripMargin,

    // the same streak chain WITHOUT the committed length cut, a
    // 4-literal cut grid, and a 1-row corpus-token fold
    "q416_dup_run_planner" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         |pos AS (
         |  SELECT doc_id, i,
         |  concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS sh
         |  FROM base, unnest(generate_series(1, len(toks) - 2)) AS t(i)),
         |dupsh AS (SELECT sh FROM pos GROUP BY sh HAVING count(*) >= 2),
         |dup AS (SELECT p.doc_id, p.i FROM pos p JOIN dupsh f ON f.sh = p.sh),
         |grp AS (
         |  SELECT doc_id, i,
         |  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rk
         |  FROM dup),
         |runs AS (
         |  SELECT doc_id, count(*) + 2 AS run_tokens
         |  FROM grp GROUP BY doc_id, rk),
         |cuts AS (SELECT CAST(unnest([10, 20, 40, 80]) AS BIGINT) AS cut),
         |tot AS (
         |  SELECT sum(len(string_split(text, ' '))) AS corpus_tokens
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT cut,
         |CAST(count(*) FILTER (run_tokens >= cut) AS BIGINT) AS n_runs,
         |CAST(coalesce(sum(run_tokens) FILTER (run_tokens >= cut), 0)
         |  AS BIGINT) AS run_token_mass,
         |CAST(count(DISTINCT doc_id) FILTER (run_tokens >= cut) AS BIGINT)
         |  AS n_docs_hit,
         |round(coalesce(sum(run_tokens) FILTER (run_tokens >= cut), 0) * 1.0
         |  / t.corpus_tokens + 1e-12, 6) AS mass_share
         |FROM runs, cuts CROSS JOIN tot t
         |GROUP BY cut, t.corpus_tokens
         |ORDER BY cut NULLS FIRST""".stripMargin,

    // store-served >= 0.5 pairs + the q319 offset-diagonal streak,
    // classified by the longest shared positional run
    // raw (unrounded) jaccard, the q407 stance — the store serves the
    // raw double and only the final means round
    "q417_copy_vs_template" ->
      s"""WITH ${duckCappedShingles(DfCap)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |pp AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (
         |  SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jac
         |  FROM pp JOIN sizes s1 ON s1.doc_id = d1
         |  JOIN sizes s2 ON s2.doc_id = d2
         |  WHERE inter * 1.0 / (s1.n + s2.n - inter) >= 0.5),
         |pos AS (
         |  SELECT doc_id, i,
         |  concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS sh
         |  FROM (
         |    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |    WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
         |  unnest(generate_series(1, len(toks) - 2)) AS t(i)),
         |m AS (
         |  SELECT pr.d1, pr.d2, a.i AS i1, b.i - a.i AS diag
         |  FROM pr
         |  JOIN pos a ON a.doc_id = pr.d1
         |  JOIN pos b ON b.doc_id = pr.d2 AND b.sh = a.sh),
         |rl AS (
         |  SELECT d1, d2, CAST(count(*) AS BIGINT) AS run FROM (
         |    SELECT d1, d2, diag,
         |    i1 - row_number() OVER (PARTITION BY d1, d2, diag
         |      ORDER BY i1) AS run_key
         |    FROM m) GROUP BY d1, d2, diag, run_key),
         |lg AS (
         |  SELECT d1, d2, max(run) + 2 AS longest_run
         |  FROM rl GROUP BY d1, d2),
         |cls AS (
         |  SELECT pr.jac, lg.longest_run,
         |  CASE WHEN lg.longest_run >= 20 THEN 'verbatim'
         |       WHEN lg.longest_run >= 5 THEN 'partial'
         |       ELSE 'template' END AS dup_class
         |  FROM pr JOIN lg ON lg.d1 = pr.d1 AND lg.d2 = pr.d2)
         |SELECT dup_class, CAST(count(*) AS BIGINT) AS n_pairs,
         |round(avg(jac) + 1e-12, 6) AS mean_jaccard,
         |round(avg(CAST(longest_run AS DOUBLE)) + 1e-12, 6)
         |  AS mean_longest_run
         |FROM cls GROUP BY 1 ORDER BY dup_class NULLS FIRST""".stripMargin
  )
}
