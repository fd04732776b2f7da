package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Tables, r2, r4, r6, r2n, r4n, r6n}

/** Similarity search over the embeddings table (ArrayType(FloatType),
  * 64-dim): brute-force cosine top-k as the exact baseline, a k-NN
  * join, and a random-hyperplane LSH-bucketed variant as the
  * approximate scale path.
  *
  * Scale design:
  *  - query vectors are broadcast — the big side streams once, no
  *    shuffle of the corpus;
  *  - dot products are higher-order-function expressions (zip_with +
  *    aggregate) evaluated inside codegen — no UDF serialization;
  *  - top-k goes through orderBy().limit(k) → TakeOrderedAndProject
  *    (per-partition heaps, driver merges k rows, never a full sort);
  *  - the LSH variant prunes candidates by sign-random-projection
  *    buckets (Charikar SRP); at 100 TB the bucket join replaces the
  *    full scan per query. Cf. PAPERS.md distributed top-k similarity
  *    entries (REPOSE, ICDE 2021).
  */
object Similarity {


  /** Sequential-fold cosine between two double-cast float arrays —
    * identical op order to the DuckDB oracle formula, so results match
    * bit-for-bit. Kept as the declarative reference implementation for
    * the custom expression (CosineSimilaritySpec asserts equality). */
  private[graft] def cosineFold(a: String, b: String): Column = {
    def dot(x: String, y: String) = expr(
      s"aggregate(zip_with($x, $y, (p, q) -> cast(p AS double) * cast(q AS double)), 0D, (acc, v) -> acc + v)")
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  /** Hot-path cosine: the codegen'd native expression
    * (graft.functions.CosineSimilarity) — same values, fused loop. */
  private def cosine(a: String, b: String): Column =
    expr(s"cosine_sim($a, $b)")

  /** Cosine between an embedding column and a DRIVER-RESIDENT centroid
    * (shipped as an array literal, like q44's hyperplanes): the same
    * sequential-fold op order as [[cosineFold]] / the DuckDB oracle —
    * dot(a,c) and dot(a,a) as zip_with+aggregate folds; ||c||² folded
    * on the driver over the identical doubles in the identical order,
    * so the value is bit-for-bit what an in-plan fold would produce. */
  private def cosLit(emb: Column, c: Array[Double]): Column = {
    val dotAC = aggregate(zip_with(emb, lit(c), (p, q) => p.cast("double") * q),
      lit(0.0), (acc, v) => acc + v)
    val dotAA = aggregate(zip_with(emb, emb, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val normC = c.foldLeft(0.0)((acc, v) => acc + v * v)
    dotAC / sqrt(dotAA * lit(normC))
  }

  /** Nearest-centroid assignment as a PURE PROJECTION — zero shuffle,
    * zero replication of the corpus: the k centroids ride the plan as
    * literals and the argmax (ties to the LOWEST cent_id, matching
    * `ORDER BY csim DESC, cent_id` everywhere else) is a `greatest`
    * over (csim, −cent_id) structs. This replaces the former
    * crossJoin(broadcast(cents)) + row_number-window shape, which
    * hash-exchanged and sorted the k×-replicated corpus — the exact
    * opposite of what an assignment pass should cost at 100 TB.
    * Returns `e`'s columns plus `cent_id`, so per-vector payload
    * (a label, a signature) rides along. */
  private[graft] def assignCells(e: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame = {
    require(cents.size >= 2, "assignCells needs at least 2 centroids")
    val scored = cents.map { case (cid, c) =>
      struct(cosLit(col("embedding"), c).as("csim"), lit(-cid).as("nid"))
    }
    e.select(col("*"), (greatest(scored: _*).getField("nid") * lit(-1L)).as("cent_id"))
  }

  /** The centroid model table's one codec: (cent_id, pos, coord) rows,
    * one per coordinate, at full double precision — parquet
    * round-trips doubles exactly, so a model read back through
    * [[centroidsOf]] is bit-identical to the one written. */
  private[graft] def centroidRows(s: SparkSession, cents: Seq[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    cents.flatMap { case (cid, c) =>
        c.iterator.zipWithIndex.map { case (v, i) => (cid, i.toLong, v) } }
      .toDF("cent_id", "pos", "coord")
  }

  /** The centroids held by a (cent_id, pos, coord, …) model table,
    * ordered by cent_id — the read side of [[centroidRows]]. */
  private[graft] def centroidsOf(rows: DataFrame): Seq[(Long, Array[Double])] =
    rows.select(col("cent_id"), col("pos"), col("coord")).collect()
      .groupBy(_.getLong(0))
      .map { case (cid, rs) => (cid, rs.sortBy(_.getLong(1)).map(_.getDouble(2)).toArray) }
      .toSeq.sortBy(_._1)

  /** Lloyd's k-means with driver-resident centroids — the stance
    * spark.ml takes, and the fix for the former plan's per-iteration
    * shuffle of the replicated corpus. Centroid state is k·d doubles
    * (k=16, d=64 ⇒ 1024 doubles): control-plane-sized regardless of
    * corpus size, same as q44's hyperplane literals. Per iteration:
    * one zero-shuffle assignment projection ([[assignCells]]), then
    * ONE k·d-bounded aggregation (posexplode → per-(cell, dim) avg —
    * partial aggregation combines map-side, so only k·d·partitions
    * tiny rows cross the wire) collected back to the driver.
    * Deterministic init: the first k vectors. Returns the trained
    * centroids and the LAZY final assignment frame (a projection —
    * cheap to re-evaluate, nothing cached). */
  private[graft] def trainKmeans(e: DataFrame, k: Int, iters: Int,
      initPred: Option[Column] = None)
      : (Seq[(Long, Array[Double])], DataFrame) = {
    var cents: Seq[(Long, Array[Double])] = e.filter(initPred.getOrElse(col("vec_id") < k))
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assignCells(e, cents)
      cents = assigned
        .select(col("cent_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("cent_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), t -> t.m)")
          .as("cent_emb"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    }
    (cents, assigned)
  }

  // ---- product quantization (q158): m subspaces × ks codes ----
  /** q296's per-cell block bound: within-cell k-NN candidate sets are
    * capped at ~this many members so the density screen stays linear
    * at any corpus size (fixed-count cells otherwise make within-cell
    * all-pairs quadratic — measured exponent 2.28 before the split,
    * SCALING.json round 10). 64 keeps the blocked path EXERCISED at
    * sf0.1 (~125-member cells → 2 blocks) under the DuckDB oracle. */
  private[llm] val KnnBlock = 64

  /** The within-block pair domain of the served k=16 cells
    * ([[servedCentroids]]), shared by q296/q387/q389/q404: every
    * vector of `e` meets the other members of its block, `pair(a, b)`
    * on the two vec_ids choosing which ordered pairs. A cell of `cnt`
    * members splits into ceil(cnt/[[KnnBlock]]) blocks by
    * blk = vec_id mod that count (a deterministic, engine-mirrorable
    * hash split), so per-vector candidate work is bounded by the block
    * size and the pair volume is O(n·B) at any corpus size. The
    * 16-row cell-size table is broadcast back; the assigned frame is
    * cached because both join sides read it. Columns: `a.*` and `b.*`,
    * each `e`'s columns plus cent_id and blk. */
  private def blockPairs(s: SparkSession, dir: String, e: DataFrame,
      pair: (Column, Column) => Column): DataFrame = {
    val assigned0 = assignCells(e, servedCentroids(s, dir))
    val cellN = assigned0.groupBy(col("cent_id")).agg(count(lit(1)).as("cnt"))
    val assigned = assigned0
      .join(broadcast(cellN), "cent_id")
      .withColumn("blk",
        pmod(col("vec_id"), expr(s"(cnt + ${KnnBlock - 1}) div $KnnBlock")))
      .drop("cnt").cache()
    assigned.as("a").join(assigned.as("b"),
      col("a.cent_id") === col("b.cent_id") && col("a.blk") === col("b.blk") &&
        pair(col("a.vec_id"), col("b.vec_id")))
  }

  /** Each vector's `k` nearest block neighbours ([[blockPairs]]) as
    * (cent_id, vec_id, nb, d6), d6 the r6-ROUNDED cosine distance —
    * rounded BEFORE ranking so a last-ulp cosine difference cannot
    * reorder neighbours; ties go to the lower nb. `rn <= k` (not
    * `== k`) lets WindowGroupLimit keep at most k rows per vector on
    * the MAP side of the rank exchange. A block with ≤ k members
    * gives its vectors fewer than k rows. */
  private def blockKnn(s: SparkSession, dir: String, e: DataFrame, k: Int): DataFrame = {
    val wV = Window.partitionBy(col("vec_id")).orderBy(col("d6"), col("nb"))
    blockPairs(s, dir, e, _ =!= _)
      .select(col("a.cent_id").as("cent_id"), col("a.vec_id").as("vec_id"),
        col("b.vec_id").as("nb"),
        r6(lit(1.0) - expr("cosine_sim(a.embedding, b.embedding)")).as("d6"))
      .withColumn("rn", row_number().over(wV))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  private[graft] val PqM = 8 // subspaces
  private[graft] val PqSub = 8 // dims per subspace (m · sub = 64)
  private[graft] val PqKs = 4 // codes per subspace codebook
  private val PqIters = 2

  /** Subspace j of the embedding as a double array (pure projection). */
  private[graft] def pqSubCol(j: Int): Column = expr(
    s"transform(slice(embedding, ${j * PqSub + 1}, $PqSub), x -> cast(x AS double))")

  /** Squared L2 to a DRIVER-LITERAL sub-centroid — sequential fold in
    * dim order, the op order the oracle's list_reduce replays. */
  private[llm] def pqDist(sub: Column, c: Array[Double]): Column =
    aggregate(zip_with(sub, lit(c), (p, q) => (p - q) * (p - q)),
      lit(0.0), (a, x) => a + x)

  /** Nearest-code assignment for subspace j as a projection: `least`
    * over (dist, code) structs — ties to the LOWEST code, matching
    * `ORDER BY dist, code` in the oracle. */
  private[graft] def pqCode(j: Int, book: Seq[(Int, Array[Double])]): Column =
    least(book.map { case (code, c) =>
      struct(pqDist(pqSubCol(j), c).as("d"), lit(code).as("c"))
    }: _*).getField("c")

  /** PQ codebook training — the q122 Lloyd stance applied per
    * subspace, with ALL m subspaces trained in the SAME pass: each
    * iteration is one zero-shuffle assignment projection (m `least`
    * folds per row) and ONE m·ks·sub-bounded posexplode aggregation
    * (256 doubles here) collected to the driver. Codebook state is
    * control-plane-sized regardless of corpus size; a code cell that
    * loses all members drops out on both engines. Deterministic init:
    * code c of every subspace = vector `initIds(c)`'s subvector (the
    * default 0..ks−1 keeps the q158 contract bit-identical; the q284
    * store trains on a corpus slice that excludes vec 0 and seeds
    * from ids 1..ks, codes still 0..ks−1 so 2-bit packing holds). */
  private[graft] def trainPq(e: DataFrame,
      initIds: Seq[Long] = (0L until PqKs.toLong).toList)
      : Array[Seq[(Int, Array[Double])]] = {
    val idToCode = initIds.zipWithIndex.toMap
    val init = e.filter(col("vec_id").isin(initIds: _*))
      .select(col("vec_id") +: (0 until PqM).map(j => pqSubCol(j).as(s"v$j")): _*)
      .collect().sortBy(_.getLong(0))
    var books: Array[Seq[(Int, Array[Double])]] = Array.tabulate(PqM) { j =>
      init.map(r => (idToCode(r.getLong(0)), r.getSeq[Double](j + 1).toArray)).toSeq
    }
    for (_ <- 1 to PqIters) {
      val rows = e.select(col("vec_id"), explode(array((0 until PqM).map(j =>
          struct(lit(j).as("sub"), pqCode(j, books(j)).as("code"),
            pqSubCol(j).as("v"))): _*)).as("a"))
        .select(col("a.sub").as("sub"), col("a.code").as("code"),
          posexplode(col("a.v")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .collect()
      books = Array.tabulate(PqM) { j =>
        rows.filter(_.getInt(0) == j).groupBy(_.getInt(1)).toSeq
          .map { case (code, rs) =>
            (code, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray) }
          .sortBy(_._1)
      }
    }
    books
  }

  /** The k=16 coarse quantizer as a PERSISTED SERVED ARTIFACT
    * (round-12 verdict What's-wrong #3: q387/q399 retrained k-means
    * inside the query body while the serve-store discipline says
    * trained models are read, not retrained). Seed-if-absent under
    * servePath (content-tagged — fixture regeneration orphans stale
    * state); every consumer of the k=16/iters=2 full-table model —
    * the screens q57/q86/q296 and the audits q260/q387/q389/q399/q404
    * — reads THIS store (and trains it nowhere else), so the audits audit exactly the binning the screens
    * serve. The store holds what [[trainKmeans]] deterministically
    * produces, so each consumer's from-first-principles oracle doubles
    * as the staleness guard (the q281/q282 stance: a stale or torn
    * store goes red against the retraining oracle). Doubles
    * round-trip parquet exactly, so store-served centroids are
    * BIT-IDENTICAL to direct training (spec-pinned). */
  private[graft] def servedCentroids(s: SparkSession, dir: String)
      : Seq[(Long, Array[Double])] = {
    val path = StateStores.servePath(dir, "audit_cents_v1", "embeddings")
    StateStores.seedOnce(path) {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      centroidRows(s, trainKmeans(e, k = 16, iters = 2)._1)
        .coalesce(1) // k·d model rows
        .write.mode("overwrite").parquet(path)
    }
    centroidsOf(s.read.parquet(path))
  }

  /** Top-`nprobe` trained cells for the probe vector `queryId` — a
    * one-row projection of all k csims, exploded and limited. */
  private[llm] def probeCells(e: DataFrame, cents: Seq[(Long, Array[Double])],
      queryId: Long, nprobe: Int): DataFrame =
    e.filter(col("vec_id") === queryId)
      .select(explode(array(cents.map { case (cid, c) =>
        struct(cosLit(col("embedding"), c).as("csim"), lit(cid).as("cent_id"))
      }: _*)).as("sc"))
      .select(col("sc.cent_id").as("cent_id"), col("sc.csim").as("csim"))
      .orderBy(desc_nulls_last("csim"), asc_nulls_first("cent_id"))
      .limit(nprobe)
      .select(col("cent_id"))

  /** One power-iteration step v ↦ Cv/‖Cv‖ against the centered
    * covariance WITHOUT materializing C: per row the scalar
    * s = (x−μ)·v (sequential fold, oracle order), then
    * (Cv)_j = avg over rows of s·(x_j−μ_j) — a posexplode aggregation
    * with map-side partial combine, d rows to the driver per step
    * (control-plane, the q122-centroid stance). Normalization folds
    * the d-vector in pos order on the driver, matching the oracle's
    * list_reduce. */
  private def powerStep(e: DataFrame, mu: Array[Double], v: Array[Double])
      : (Array[Double], Double) = {
    val dv = zip_with(col("embedding"), lit(mu), (p, q) => p.cast("double") - q)
    val sCol = aggregate(zip_with(col("dv"), lit(v), (p, q) => p * q),
      lit(0.0), (acc, x) => acc + x)
    val w = e.select(dv.as("dv")).select(col("dv"), sCol.as("s"))
      .select(col("s"), posexplode(col("dv")).as(Seq("pos", "dx")))
      .groupBy(col("pos")).agg(avg(col("dx") * col("s")).as("w"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val norm = math.sqrt(w.map(x => x * x).sum)
    (w.map(_ / norm), norm)
  }

  val queries: Map[String, Q] = Map(

    /** Product-quantization ANN — the third leg of the ANN triad
      * (q42 brute-force / q57 IVF / this), and the one that changes
      * the STORAGE equation at 100 TB: a 64-float vector compresses to
      * m = 8 two-bit codes (one int per vector here), and query-time
      * scoring touches only an m·ks distance table, never the floats.
      * Train: [[trainPq]] (per-subspace Lloyd, all subspaces in one
      * pass per iteration, driver-resident codebooks — the q122
      * stance). Encode + asymmetric-distance scoring are pure
      * projections: per subspace a `least` fold picks the code, the
      * query's distance table rides the plan as a literal CASE chain,
      * and the ADC sum folds in subspace order. Top-10 by the
      * r6-ROUNDED score + vec_id (cross-engine float-ranking rule) →
      * TakeOrderedAndProject. Oracle: training unrolled in SQL the
      * way q122 unrolls Lloyd, same sequential folds throughout. */
    "q158_pq_ann" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      val books = trainPq(e)
      val q = e.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> cast(x AS double))"))
        .collect()(0).getSeq[Double](0).toArray
      // driver-side ADC table: same fold order as the oracle's
      // list_reduce over dims
      val tbl: Array[Seq[(Int, Double)]] = Array.tabulate(PqM) { j =>
        books(j).map { case (code, c) =>
          (code, (0 until PqSub).foldLeft(0.0) { (acc, i) =>
            val d = q(j * PqSub + i) - c(i); acc + d * d
          })
        }
      }
      def adcj(j: Int): Column = {
        val code = pqCode(j, books(j))
        tbl(j).tail.foldLeft(when(code === tbl(j).head._1, lit(tbl(j).head._2))) {
          case (acc, (c, d)) => acc.when(code === c, lit(d))
        }
      }
      val adc = (0 until PqM).map(adcj).reduce(_ + _)
      val packed = (0 until PqM).map(j =>
        pqCode(j, books(j)).cast("long") * lit(1L << (2 * j))).reduce(_ + _)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), packed.as("codes_packed"), r6(adc).as("adc"))
        .orderBy(col("adc"), col("vec_id"))
        .limit(10)
    }),

    /** Matryoshka truncation quality — how much cosine fidelity a
      * prefix-truncated embedding keeps: for a vector renormalized
      * after truncation to its first k dims, cos(full, truncated) =
      * ‖prefix‖/‖full‖ exactly, so the whole audit is a per-row
      * norm-ratio projection per k ∈ {8, 16, 32} (one explode, no
      * joins) aggregated to mean / min / p10-ish floor per k. This is
      * the measurement behind "can we serve 16-dim vectors for
      * retrieval": a front-loaded embedding family keeps ratios near
      * 1. Scan-speed at any corpus size; fidelity ratios are
      * accumulated floats, off the rounding grid, so r6 is
      * engine-stable. */
    "q162_matryoshka" -> ((s: SparkSession, dir: String) => {
      def sq(arr: String) = s"aggregate(transform($arr, " +
        "x -> cast(x AS double) * cast(x AS double)), 0D, (acc, v) -> acc + v)"
      val ks = Seq(8, 16, 32)
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), explode(array(ks.map(k =>
          struct(lit(k).as("k"),
            (sqrt(expr(sq(s"slice(embedding, 1, $k)"))) /
              sqrt(expr(sq("embedding")))).as("ratio"))): _*)).as("t"))
        .select(col("t.k").as("k"), col("t.ratio").as("ratio"))
        .groupBy(col("k"))
        .agg(r6(avg(col("ratio"))).as("mean_fidelity"),
          r6(min(col("ratio"))).as("min_fidelity"),
          count_if(col("ratio") >= 0.9).as("n_above_090"))
        .orderBy(col("k"))
    }),

    /** Top principal component of the embedding cloud by two unrolled
      * power iterations — the whitening/centering primitive a SemDeDup
      * or quality-filter pipeline runs before cosine work. Spark-first
      * shape: the d×d covariance is NEVER formed; each step is one
      * corpus scan computing s = (x−μ)·v per row (s is against
      * DRIVER-LITERAL μ and v — d = 64 doubles of control-plane state)
      * and one k·d-bounded posexplode aggregate for Cv. Deterministic:
      * init v₀ = 1/√d, and power iteration's sign/convergence is fixed
      * by the arithmetic. Oracle: both iterations unrolled in SQL with
      * the same sequential folds ([[powerStep]]). Output: the 64
      * loadings plus the Rayleigh-quotient eigenvalue estimate ‖Cv‖. */
    "q135_pca_power" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val d = 64
      val e = Tables(s, dir, "embeddings").select(col("embedding")).cache()
      val mu = e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(avg(col("x").cast("double")).as("m"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1).map(_._2)
      val v0 = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      val (v1, _) = powerStep(e, mu, v0)
      val (v2, lambda) = powerStep(e, mu, v1)
      v2.zipWithIndex
        .map { case (x, i) => (i.toLong, x, lambda) }.toSeq
        .toDF("pos", "loading_raw", "lambda_raw")
        .select(col("pos"), r6(col("loading_raw")).as("loading"),
          r6(col("lambda_raw")).as("lambda"))
        .orderBy(col("pos"))
    }),

    /** Exact top-20 cosine neighbors of vec_id=0 — brute force, one
      * streaming scan of the corpus against a broadcast query row. */
    "q42_cosine_topk" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), cosine("embedding", "q_emb").as("cs"))
        .orderBy(desc_nulls_last("cs"), asc_nulls_first("vec_id"))
        .limit(20)
        .select(col("vec_id"), r6(col("cs")).as("cos_sim"))
    }),

    /** Hard-negative mining for embedding-model training — per anchor,
      * the top-3 corpus vectors in the similarity BAND [0.3, 0.8):
      * similar enough to be informative negatives, below the near-dup
      * ceiling that would make them false negatives (the standard
      * contrastive-training curation step). Same bounded plan as q43
      * (broadcast anchor block × corpus scan, allowlisted), with the
      * band as a post-score filter and ranking on the r6-ROUNDED
      * score + id tiebreak so a last-ulp cosine difference cannot
      * flip the cut. At 100 TB the anchor block stays driver-bounded
      * and the scan is one pass; the banded variant of q44's LSH
      * candidates replaces the product when anchors grow. */
    "q182_hard_negatives" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs6"), asc_nulls_first("vec_id"))
      e.crossJoin(broadcast(anchors))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(cosine("embedding", "q_emb")).as("cs6"))
        .filter(col("cs6") >= 0.3 && col("cs6") < 0.8)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk").cast("long").as("rnk"),
          col("vec_id").as("neg_id"), col("cs6").as("cos_sim"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    /** k-NN join: top-3 neighbors for each of the first 50 vectors.
      * Broadcast the query block; rank per query with a window. At
      * 100 TB the same plan holds with a bucketed candidate join
      * (q44) replacing the broadcast-times-corpus product. */
    "q43_knn_join" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs"), asc_nulls_first("vec_id"))
      e.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cosine("embedding", "q_emb").as("cs"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
          r6(col("cs")).as("cos_sim"))
        .orderBy(col("q_id"), col("rank"))
    }),

    /** IVF (inverted-file) ANN probing TRAINED cells: the coarse
      * quantizer is the q122 Lloyd loop itself ([[trainKmeans]], k=16,
      * 2 iterations — train → assign → probe now COMPOSE instead of
      * q57 hardcoding first-k "centroids"), every vector is assigned
      * to its nearest trained centroid by the zero-shuffle projection
      * argmax ([[assignCells]]), and the query probes its 2 best cells
      * only. At 100 TB the assignment is one scan-speed projection and
      * each query touches ~n·nprobe/k vectors instead of n. Fully
      * deterministic, so this IS oracle-checked: the oracle unrolls
      * the same two training iterations plus the final assignment. */
    "q57_ann_ivf" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = servedCentroids(s, dir)
      val assigned = assignCells(e, cents)
      val qCells = probeCells(e, cents, queryId = 0L, nprobe = 2)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      assigned.join(broadcast(qCells), "cent_id")
        .crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), expr("cosine_sim(embedding, q_emb)").as("cs"))
        .orderBy(desc_nulls_last("cs"), asc_nulls_first("vec_id"))
        .limit(10)
        .select(col("vec_id"), r6(col("cs")).as("cos_sim"))
    }),

    /** SemDeDup-style embedding near-dup at scale: assign every vector
      * to its nearest TRAINED cell (the q122 Lloyd loop, k=16 —
      * train → assign → pair-compare compose, replacing the former
      * fixed first-16 "centroids"), then pair-compare ONLY within
      * cells — O(Σ k_i²) « O(n²), the scale path that replaces q51's
      * all-pairs scan. Assignment is the zero-shuffle projection
      * argmax ([[assignCells]]). Recall is cell-local by design
      * (cross-cell pairs are unseen — SemDeDup's documented
      * trade-off); the oracle unrolls the identical training + cell
      * assignment, so the check is exact. */
    /** Inter-label centroid separation matrix — the geometric
      * complement of q260's kNN accuracy and q279's balance sheet:
      * classes whose centroids are cosine-close will confuse any
      * cosine-based classifier or retrieval filter, and the matrix
      * says WHICH pairs. Fully in-plan and bounded: one posexplode
      * pass to per-(label, pos) means (post-shuffle labels×64 rows),
      * centroid dot/norm folds via a pos-keyed self-join of that tiny
      * grid, all labels² pairs emitted with their centroid cosine.
      * Means are avg() folds (same engine-sum caveat as every
      * centroid query — r6 off-grid in practice); ordering on integer
      * label pairs. */
    "q306_label_separation" -> ((s: SparkSession, dir: String) => {
      val g = Tables(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .cache()
      val dots = g.as("a").join(g.as("b"),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("l1"), col("b.label").as("l2"))
        .agg(sum(col("a.m") * col("b.m")).as("dot"))
      val norms = g.groupBy(col("label"))
        .agg(sqrt(sum(col("m") * col("m"))).as("nrm"))
      dots
        .join(norms.select(col("label").as("l1"), col("nrm").as("n1")), "l1")
        .join(norms.select(col("label").as("l2"), col("nrm").as("n2")), "l2")
        .select(col("l1"), col("l2"),
          r6(col("dot") / (col("n1") * col("n2"))).as("centroid_cos"))
        .orderBy(col("l1"), col("l2"))
    }),

    /** k-NN-density outlier screen over the embedding cloud — the
      * "weird vectors" audit (mojibake docs, truncated inputs, wrong
      * modality) run before any cosine-based curation: a vector whose
      * 5th-nearest-neighbor distance is far above its cell's average
      * sits in locally sparse space. Scale shape: train-once cells
      * (the q86 assignment), then — because FIXED-count cells grow
      * linearly with the corpus, making within-cell all-pairs
      * quadratic (measured: wall-time exponent 2.28 at 10×/30×,
      * SCALING.json round 10) — each cell is SUB-SPLIT into blocks of
      * ≤ ~[[KnnBlock]] members and distances are computed only WITHIN
      * a block ([[blockKnn]]): total pair volume O(n·B). The 5th-NN
      * distance within a random B-block is a SAMPLED k-NN density
      * estimate — biased upward, but identically so for every vector
      * in the cell, and the screen ranks the RATIO to the cell
      * average, which cancels the bias to first order. At the verify
      * SFs the largest cell is ~125 members, so sf0.1 exercises the
      * blocked path (2 blocks/cell) under the oracle while sf0.01
      * (nblk = 1) pins block-off equivalence. The k-th distance comes
      * from a per-vector rank window (n-vector partitions, never a
      * funnel), one bounded per-cell average, top-10 by the
      * r6n-ROUNDED ratio with id tiebreak (cross-engine ranking
      * rule). Blocks with < 6
      * members produce no 5th neighbor and drop out on both
      * engines. */
    "q296_knn_outlier" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // the 5th distance is the max of the kept rows; vectors with
      // fewer than 5 neighbors drop via the exact-count filter
      val dk = blockKnn(s, dir, e, 5)
        .groupBy(col("cent_id"), col("vec_id"))
        .agg(count(lit(1)).as("nn"), max(col("d6")).as("dk"))
        .filter(col("nn") === 5)
        .select(col("cent_id"), col("vec_id"), col("dk"))
        .cache() // read by the cell average AND the final join
      val cellAvg = dk.groupBy(col("cent_id")).agg(avg(col("dk")).as("avg_dk"))
      dk.join(cellAvg, "cent_id")
        .select(col("vec_id"), col("cent_id"), col("dk"),
          r6n(col("dk") / col("avg_dk")).as("outlier_ratio"))
        .orderBy(desc("outlier_ratio"), asc("vec_id"))
        .limit(10)
    }),

    /** HUBNESS audit — the k-occurrence distribution (how many other
      * vectors' top-10 neighbor lists each vector appears in): the
      * classic ANN pathology metric. In a healthy space k-occurrence
      * concentrates near k; a heavy tail (hub vectors appearing in
      * hundreds of lists) degrades every kNN-based screen (q43/q86/
      * q296) and is invisible to recall audits, which only look from
      * the query side. The cells come from the PERSISTED quantizer
      * store ([[servedCentroids]]) — the audit audits the same binning
      * the screens serve, and trains nothing itself (round-12
      * What's-wrong #3). Same bounded machinery as q296 — the 10
      * nearest block neighbours ([[blockKnn]]) — then one count per
      * NEIGHBOR and a histogram;
      * zero-occurrence vectors are censused via the left join. */
    "q387_hubness" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val occ = blockKnn(s, dir, e, 10)
        .groupBy(col("nb")).agg(count(lit(1)).as("occ"))
      e.select(col("vec_id"))
        .join(occ, col("vec_id") === col("nb"), "left")
        .select(coalesce(col("occ"), lit(0L)).as("k_occurrence"))
        .groupBy(col("k_occurrence")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("k_occurrence"))
    }),

    /** IVF cell-BALANCE audit — the serving-cost skew behind every
      * nprobe number (q362's recall curve assumes probing a cell
      * costs ~n/k; a 10× hot cell makes the worst-case probe 10× the
      * plan): per trained Lloyd cell census folded to one row —
      * cells, vectors, min/max cell size, and the imbalance factor
      * max/mean. The cells are read from the PERSISTED quantizer
      * store ([[servedCentroids]] — the audit censuses the SERVING
      * model, training nothing); the census is one k-bounded
      * aggregate. A missing cell (n_cells < 16) means an EMPTY cell —
      * dead capacity the re-train cadence should see. */
    "q399_ivf_balance" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = servedCentroids(s, dir)
      assignCells(e, cents)
        .groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vectors"),
          min(col("n")).as("cell_min"), max(col("n")).as("cell_max"),
          r6n(max(col("n")).cast("double") * count(lit(1)) / sum(col("n")))
            .as("imbalance"))
    }),

    /** Embedding NORM health census — the quantity cosine similarity
      * normalizes away but dot-product retrieval, PQ quantization
      * (q158's L2 cells), and every "multiply by a projection" step
      * depend on: per label, the norm envelope (min/mean/max) and the
      * count of vectors below HALF the corpus mean norm — dead or
      * truncated embeddings (a zeroed tail halves the norm long
      * before it moves a cosine). The norm is the same sequential
      * ×²-fold as the cosine denominators (bitwise-mirrored in the
      * oracle); all comparisons and envelope stats run on the
      * r6-ROUNDED norm (the q292 grid stance); the corpus mean is a
      * 1-row broadcast fold (q136 class). */
    "q394_norm_census" -> ((s: SparkSession, dir: String) => {
      val nrm = graft.r6(expr(
        """sqrt(aggregate(embedding, 0D,
          |  (acc, x) -> acc + cast(x AS double) * cast(x AS double)))"""
          .stripMargin))
      val e = Tables(s, dir, "embeddings")
        .select(col("label").cast("long").as("label"), nrm.as("n6"))
      // NUDGED round: the threshold scalar must be bit-agreed across
      // engines before the integer count compares against it
      val gm = e.agg(r6n(avg(col("n6"))).as("gmean"))
      e.crossJoin(broadcast(gm))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          min(col("n6")).as("norm_min"),
          r6n(avg(col("n6"))).as("norm_mean"),
          max(col("n6")).as("norm_max"),
          count_if(col("n6") < col("gmean") / 2).as("n_below_half_mean"))
        .orderBy(col("label"))
    }),

    /** SRP↔cosine CALIBRATION curve — the q381 move (SimHash↔Jaccard)
      * applied to the embedding side: per hamming distance of 16-bit
      * sign-random-projection signatures, the pair volume and the
      * cosine range/mean plus the ≥ 0.3 share — the measured meaning
      * of "h bits differ" for THIS corpus, which is what turns q44's
      * multi-probe radius from a default into a decision. Pair domain
      * is the q296 bounded block grid ([[blockPairs]], each unordered
      * pair once; mirrored in the oracle); signatures ride the
      * assignment as one column and are pure projections against the same
      * srpCoef hyperplane family as q44 (planes 8-15 extend the
      * family — same splitmix stream, distinct indices); comparisons
      * against the 0.3 literal use the r6-ROUNDED cosine (the q292
      * bin-key stance). */
    "q389_srp_calibration" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val sigCol = (0 until 16).map { p =>
        val planeSql = (0 until 64).map(d => s"${srpCoef(p, d)}D")
          .mkString("array(", ", ", ")")
        val proj = expr(s"aggregate(zip_with(embedding, $planeSql, " +
          "(x, c) -> cast(x AS double) * c), 0D, (acc, v) -> acc + v)")
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
      blockPairs(s, dir, e.withColumn("sig", sigCol), _ < _)
        .select(expr("bit_count(a.sig ^ b.sig)").cast("long").as("hamming"),
          r6(expr("cosine_sim(a.embedding, b.embedding)")).as("cs6"))
        .groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("cs6")).as("cos_min"),
          r6n(avg(col("cs6"))).as("cos_mean"),
          max(col("cs6")).as("cos_max"),
          r6n(count_if(col("cs6") >= 0.3).cast("double") / count(lit(1)))
            .as("ge03_share"))
        .orderBy(col("hamming"))
    }),

    "q86_semdedup" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = servedCentroids(s, dir)
      // cached: both sides of the within-cell pair join read this
      val assigned = assignCells(e, cents).cache()
      assigned.as("a")
        .join(assigned.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
          expr("cosine_sim(a.embedding, b.embedding)").as("cs"))
        .filter(col("cs") >= 0.3)
        .select(col("d1"), col("d2"), r6(col("cs")).as("cos_sim"))
        .orderBy(col("d1"), col("d2"))
    }),

    /** Approximate NN via sign-random-projection LSH (see [[annLsh]]).
      * Oracle-checked: the hyperplane literals are embedded in the
      * DuckDB SQL too, so the bucketing — and therefore the candidate
      * set — is reproduced exactly. LlmOpsSpec additionally asserts
      * recall on an injected true near-duplicate — on THIS corpus the
      * exact neighbors sit at cos ≈ 0.3 (random noise), where no
      * bucketing scheme can concentrate them, so exact-top-k overlap
      * is not a meaningful recall measure. */
    "q44_ann_lsh" -> ((s: SparkSession, dir: String) =>
      annLsh(Tables(s, dir, "embeddings"), queryId = 0L, k = 10)),

    /** ANN recall audit — recall@10 of the multi-probe SRP-LSH path
      * (q44) against the exact brute-force top-10 (q43's plan shape),
      * per anchor: THE metric an ANN deployment tracks before trading
      * exactness for speed, and the empirical counterpart to q44's
      * 9/256-of-corpus cost claim. One bucket projection serves both
      * the anchor block and the candidate side (cached); the exact
      * arm is the bounded 20-anchor broadcast nested loop (q42/q43
      * class, allowlisted), the LSH arm probes the anchor's bucket
      * plus its 8 hamming-1 neighbors; BOTH arms rank on the
      * r6-ROUNDED cosine with the vec_id tie-break, so a last-ulp
      * difference cannot flip either top-10 cut. Recall joins the two
      * id sets per anchor — never materializing more than k rows per
      * anchor per arm. */
    "q205_ann_recall" -> ((s: SparkSession, dir: String) => {
      val k = 10
      val bucketed = srpBuckets(Tables(s, dir, "embeddings")).cache()
      val anchors = bucketed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("q_bucket"))
      val wExact = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs6"), asc_nulls_first("vec_id"))
      val exact = bucketed
        .crossJoin(broadcast(anchors.select(col("q_id"), col("q_emb"))))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(cosine("embedding", "q_emb")).as("cs6"))
        .withColumn("rk", row_number().over(wExact)).filter(col("rk") <= k)
      val probes = anchors.select(col("q_id"), col("q_emb"), col("q_bucket"),
          explode(array((lit(-1L) +: (0 until 8).map(b => lit(b.toLong))): _*))
            .as("flip"))
        .select(col("q_id"), col("q_emb"), expr(
          "CASE WHEN flip = -1 THEN q_bucket " +
            "ELSE q_bucket ^ shiftleft(1L, cast(flip AS int)) END").as("pb"))
      val lsh = bucketed.join(broadcast(probes), col("bucket") === col("pb"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(cosine("embedding", "q_emb")).as("cs6"))
        .withColumn("rk", row_number().over(wExact)).filter(col("rk") <= k)
      exact.join(lsh.select(col("q_id"), col("vec_id"), lit(1L).as("hit")),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(col("q_id"), col("n_exact"), col("hits"),
          round(col("hits").cast("double") / k + 1e-12, 4).as("recall"))
        .orderBy(col("q_id"))
    }),

    /** Embedding-space mixture drift — per-label centroids scored
      * against the global centroid: a label whose centroid cosine
      * drops is a cluster drifting away from the corpus center (the
      * embedding-space complement of q163's source-share drift — the
      * MIX can be stable while the geometry moves). Centroids are
      * NEVER materialized as driver arrays: posexplode to (label,
      * dim, v), per-(label, dim) and per-dim means (map-side
      * combined), and the cosine folds as one more aggregate over the
      * dim-keyed join of the two mean tables — every shuffle keyed on
      * (label, dim) or dim, linear at any corpus size. */
    "q211_centroid_drift" -> ((s: SparkSession, dir: String) => {
      val el = Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("label"), col("i"), col("v").cast("double").as("v"))
        .cache()
      val lm = el.groupBy(col("label"), col("i")).agg(avg(col("v")).as("m"))
      val gm = el.groupBy(col("i")).agg(avg(col("v")).as("g"))
      val n = Tables(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      lm.join(broadcast(gm), "i")
        .groupBy(col("label"))
        .agg(sum(col("m") * col("g")).as("mg"),
          sum(col("m") * col("m")).as("mm"),
          sum(col("g") * col("g")).as("gg"))
        .join(broadcast(n), "label")
        .select(col("label"), col("n_vecs"),
          r6(col("mg") / sqrt(col("mm") * col("gg"))).as("cos_to_global"),
          r6(sqrt(col("mm"))).as("centroid_norm"))
        .orderBy(col("label"))
    }),

    /** Embedding-space anisotropy audit — the geometry health check
      * behind every cosine-based retrieval decision (Ethayarajh 2019:
      * contextual embedding spaces collapse into a narrow cone, and a
      * high mean pairwise cosine means raw cosine scores stop
      * discriminating). The full n² pairwise mean folds away via
      * ‖Σu‖² = Σᵢⱼ uᵢ·uⱼ: mean pairwise cos = (‖Σu‖² − n)/(n(n−1))
      * over unit-normalized vectors, so ONE pass over the corpus
      * (per-(label, dim) partial sums, map-side combined, post-shuffle
      * bounded by labels × 64) yields the per-label rows AND the
      * global row — the 'all' scope derives from the SAME cached
      * bounded table, no second corpus scan, no 1-row broadcast. The
      * per-row norm is a sequential array fold mirrored operation-for-
      * operation in the oracle (bit-identical float32→double math);
      * distributed sums are off-grid volume folds (plain r6, the
      * q235 stance). */
    "q246_anisotropy" -> ((s: SparkSession, dir: String) => {
      val base = Tables(s, dir, "embeddings")
        .select(col("label"), col("embedding"),
          sqrt(expr("""aggregate(transform(embedding,
            |  x -> cast(x as double) * cast(x as double)),
            |  0.0D, (a, v) -> a + v)""".stripMargin)).as("nrm"))
        .filter(col("nrm") > 0)
      val el = base
        .select(col("label"), col("nrm"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("label"), col("i"),
          (col("v").cast("double") / col("nrm")).as("u"))
      val ls = el.groupBy(col("label"), col("i"))
        .agg(sum(col("u")).as("su"), count(lit(1)).as("cnt")).cache()
      val perLabel = ls.groupBy(col("label"))
        .agg(sum(col("su") * col("su")).as("s2"),
          max(when(col("i") === 0, col("cnt"))).as("n"))
        .select(col("label").cast("string").as("scope"), col("s2"), col("n"))
      val global = ls.groupBy(col("i"))
        .agg(sum(col("su")).as("su"), sum(col("cnt")).as("cnt"))
        .agg(sum(col("su") * col("su")).as("s2"),
          max(when(col("i") === 0, col("cnt"))).as("n"))
        .select(lit("all").as("scope"), col("s2"), col("n"))
      perLabel.unionByName(global)
        .select(col("scope"), col("n").cast("long").as("n_vecs"),
          when(col("n") > 1,
            r6((col("s2") - col("n")) / (col("n") * (col("n") - lit(1.0)))))
            .as("mean_pairwise_cos"),
          r6(sqrt(col("s2")) / col("n")).as("mean_unit_norm"))
        .orderBy(col("scope"))
    }),

    /** Int8 scalar quantization of the embedding column — the 4×
      * memory/bandwidth reduction every large-scale ANN index applies
      * before distance math. Per vector: symmetric max-abs scale
      * (amax/127), codes = round-half-up(x/scale) — written as
      * floor(x + 0.5) so both engines round identically — and the
      * reconstruction MSE as the quality signal. Everything is one
      * narrow projection of transform/aggregate HOFs (no UDF, no
      * shuffle); at 100 TB this runs at scan speed and writes the
      * compact codes next to the raw vectors. */
    "q111_embed_quantize" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .withColumn("amax",
          expr("array_max(transform(embedding, x -> abs(cast(x as double))))"))
        .filter(col("amax") > 0)
        .withColumn("codes",
          expr("transform(embedding, x -> floor(cast(x as double) / (amax / 127.0D) + 0.5D))"))
        .select(col("vec_id"),
          r6(col("amax") / 127.0).as("scale"),
          expr("aggregate(codes, 0L, (acc, x) -> acc + x)").as("sum_codes"),
          expr("aggregate(codes, 0L, (acc, x) -> acc + abs(x))").as("sum_abs_codes"),
          round(expr("""aggregate(
              zip_with(embedding, codes,
                (v, c) -> (cast(v as double) - c * (amax / 127.0D)) *
                          (cast(v as double) - c * (amax / 127.0D))),
              0.0D, (acc, x) -> acc + x)""") / expr("size(embedding)"), 8)
            .as("mse"))
        .orderBy(col("vec_id"))
    }),

    /** Distributed k-means (2 Lloyd iterations, k=8, cosine
      * assignment): the TRAINING step for the IVF coarse quantizer —
      * q57/q86 probe the cells this loop learns. All the work is in
      * [[trainKmeans]]: deterministic init (the first k vectors),
      * then per iteration a ZERO-SHUFFLE assignment projection over
      * driver-literal centroids ([[assignCells]] — the corpus is
      * never replicated, exchanged, or cached) and one k·d-bounded
      * re-estimation aggregate (posexplode → per-(cell, dim) partial
      * avg, map-side combined) collected back as the next iteration's
      * literals — k·d = 512 doubles of control-plane state, the same
      * stance as q44's hyperplane literals and spark.ml's KMeans.
      * Oracle: the same two iterations fully unrolled in SQL with the
      * shared sequential-fold cosine, so init, both assignments, and
      * both re-estimations are checked value-for-value. */
    /** Cluster-quality report for the trained quantizer — the
      * evaluation side of the q122 → q57/q86 composition: per trained
      * cell, the average cosine to the OWN centroid vs the best OTHER
      * centroid and the margin between them (a silhouette-style
      * separation score; a cell whose margin ≈ 0 is not pulling its
      * weight and the IVF nprobe needs raising). All per-vector work
      * is one projection over driver-literal centroids (the k csims
      * are aliased once, so the fold runs once per (vector, cell));
      * own = the assignment max, other = greatest over the non-
      * assigned cells (null-skipped), then one grouped aggregate.
      * Oracle: the same two Lloyd iterations unrolled + a third
      * assignment pass, own/other from the sims table. */
    "q149_kmeans_quality" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val (cents, _) = trainKmeans(e, k = 8, iters = 2)
      val csimCols = cents.zipWithIndex.map { case ((_, c), i) =>
        cosLit(col("embedding"), c).as(s"cs$i") }
      val m1 = e.select(col("vec_id") +: csimCols: _*)
      val structs = cents.zipWithIndex.map { case ((cid, _), i) =>
        struct(col(s"cs$i").as("csim"), lit(-cid).as("nid")) }
      val best = greatest(structs: _*)
      val m2 = m1.select(
        (best.getField("nid") * lit(-1L)).as("cent_id"),
        best.getField("csim").as("own"),
        greatest(cents.zipWithIndex.map { case ((cid, _), i) =>
          when(best.getField("nid") =!= lit(-cid), col(s"cs$i")) }: _*).as("other"))
      m2.groupBy(col("cent_id"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("own"))).as("avg_own"),
          r6(avg(col("other"))).as("avg_other"),
          r6(avg(col("own") - col("other"))).as("avg_margin"))
        .orderBy(col("cent_id"))
    }),

    "q122_kmeans" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val (cents, assigned) = trainKmeans(e, k = 8, iters = 2)
      val sizes = assigned.groupBy(col("cent_id")).agg(count(lit(1)).as("n"))
      centroidRows(s, cents)
        .join(broadcast(sizes), Seq("cent_id"))
        .select(col("cent_id"), col("pos"), r6(col("coord")).as("coord"), col("n"))
        .orderBy(col("cent_id"), col("pos"))
    }),

    /** Chunk-level semantic retrieval with a recall audit — the RAG
      * shape composed end-to-end: q104's sliding 64-token chunks get
      * POOLED embeddings (per-dim mean of deterministic token
      * vectors, derived from the q36 sha-based token hash so BOTH
      * engines rebuild the identical vectors — the fixture ships
      * doc-level embeddings only, so chunk vectors must be derived,
      * and mean-pooling token vectors is the standard derivation);
      * three query documents retrieve their top-10 chunks corpus-wide
      * by exact cosine (the baseline arm), and the SRP-LSH bucketed
      * arm (q44's 8-plane literals + hamming-1 multi-probe — the
      * scale path whose candidate set is ~9/256 of the corpus) is
      * scored against it q205-style: hits inside the exact top-10 and
      * recall@10 per query. All per-chunk work is one generator
      * projection off the scan; the query block is a bounded 3-row
      * broadcast (the q42/q182 anchor class); ranking uses the
      * r6-rounded score + id tiebreak so the top-k boundary cannot
      * flip on a last-ulp fold difference. */
    "q231_chunk_retrieval" -> ((s: SparkSession, dir: String) => {
      val k = 10
      // dim i of token t: ((h(t) % 100003) · i) % 2003 − 1001 with
      // h = the 60-bit sha prefix — integer-exact in both engines,
      // pooled by per-dim mean (sums ≤ 2^53, division exact IEEE).
      // h % 100003 does not depend on the dim, so the sha2 AND the
      // reduction run ONCE per token per doc (`hms`) and every chunk
      // slices the reduced array — the old shape re-hashed each token
      // per overlapping chunk (stride 48 of window 64 ⇒ ~1.33× the
      // sha2 volume) and re-reduced per (dim, token): 64 redundant
      // mods per token. Same integers bit-for-bit; the oracle pins it.
      // The pool itself runs as the CODEGEN kernel pool_hash_vec
      // (round-16, guide §4: the transform×aggregate nest is an
      // interpreted higher-order fold — a boxed lambda per
      // (dim, token), 64·|chunk| per chunk; PoolHashVecSpec pins the
      // kernel bit-equal to the declarative form)
      val vecExpr = expr("pool_hash_vec(hs, 64)")
      val toksed = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), expr("""transform(split(text, ' '),
            t -> cast(conv(substring(sha2(t, 256), 1, 15), 16, 10) AS bigint)
              % 100003)""").as("hms"))
        .select(col("doc_id"), col("hms"), size(col("hms")).cast("long").as("n_tok"))
      val cvec = toksed
        .select(col("doc_id"), col("n_tok"), col("hms"),
          posexplode(expr("sequence(1L, n_tok, 48L)")).as(Seq("ci", "start")))
        .select(col("doc_id"), (col("ci") + 1).cast("long").as("chunk_ix"),
          expr("slice(hms, cast(start AS int), " +
            "cast(least(start + 63L, n_tok) - start + 1 AS int))").as("hs"))
        .select(col("doc_id"), col("chunk_ix"), vecExpr.as("cv"))
        .cache() // exact arm, bucket projection, and candidate join read this
      // materialize the cache in ONE job before fan-out: AQE submits
      // the exact arm's and the bucket arm's stages CONCURRENTLY, and
      // two first-readers racing an unpopulated cache each ran the
      // full sha2+pool derivation (measured: two 3.3 s jobs for one
      // 3.3 s derivation — §2.6's overlap working against us)
      cvec.count()
      val qvec = toksed.filter(col("doc_id") < 3)
        .select(col("doc_id").as("q_id"), col("hms").as("hs"))
        .select(col("q_id"), vecExpr.as("qv"))
      def cosCols(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
        def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
        dot(a, b) / sqrt(dot(a, a) * dot(b, b))
      }
      val wq = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs6"), asc("doc_id"), asc("chunk_ix"))
      val exact = cvec.crossJoin(broadcast(qvec))
        .select(col("q_id"), col("doc_id"), col("chunk_ix"),
          r6(cosCols(col("cv"), col("qv"))).as("cs6"))
        .withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
      def srpBucketOf(vcol: String): org.apache.spark.sql.Column =
        (0 until 8).map { p =>
          val planeSql = (0 until 64).map(d => s"${srpCoef(p, d)}D")
            .mkString("array(", ", ", ")")
          val proj = expr(s"aggregate(zip_with($vcol, $planeSql, " +
            "(x, c) -> x * c), 0D, (acc, v) -> acc + v)")
          when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b))
      val cb = cvec.withColumn("bucket", srpBucketOf("cv"))
      val probes = qvec.withColumn("q_bucket", srpBucketOf("qv"))
        .select(col("q_id"), col("qv"), col("q_bucket"),
          explode(array((lit(-1L) +: (0 until 8).map(b => lit(b.toLong))): _*))
            .as("flip"))
        .select(col("q_id"), col("qv"), expr(
          "CASE WHEN flip = -1 THEN q_bucket " +
            "ELSE q_bucket ^ shiftleft(1L, cast(flip AS int)) END").as("pb"))
      val cand = cb.join(broadcast(probes), col("bucket") === col("pb"))
        .select(col("q_id"), col("doc_id"), col("chunk_ix"),
          r6(cosCols(col("cv"), col("qv"))).as("cs6"))
        .cache() // the top-k arm and the candidate census read this
      // same single-materialization stance as cvec above: the top-k
      // arm and the census otherwise race the unpopulated cache and
      // each re-run the bucket join + cosine
      cand.count()
      val approx = cand.withColumn("rk", row_number().over(wq)).filter(col("rk") <= k)
      exact
        .join(approx.select(col("q_id"), col("doc_id"), col("chunk_ix"),
          lit(1L).as("hit")), Seq("q_id", "doc_id", "chunk_ix"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .join(cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand")), "q_id")
        .select(col("q_id"), col("n_exact"), col("n_cand"), col("hits"),
          r4n(col("hits").cast("double") / col("n_exact")).as("recall_at_10"))
        .orderBy(col("q_id"))
    }),

    /** Per-dimension embedding health census — the dead/collapsed-
      * dimension screen run before trusting any ANN index build (a
      * dimension with near-zero variance wastes PQ codebook bits and
      * distance budget; q162's Matryoshka audit assumes the PREFIX
      * dims carry signal — this verifies it dimension by dimension).
      * One posexplode pass, per-dim moments map-side combined:
      * post-shuffle cardinality is the DIMENSION COUNT, independent
      * of corpus size. The dead flag compares the ROUNDED variance
      * (grid-stable in both engines, q238 flag stance); the zero
      * fraction is an integer rational → nudged r6. */
    "q252_dead_dims" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), avg(col("v")).as("m"),
          var_samp(col("v")).as("s2"),
          count_if(abs(col("v")) < 1e-6).as("n_zero"))
        .select(col("dim"), col("n"),
          r6(col("m")).as("mean"), r6(col("s2")).as("variance"),
          r6n(col("n_zero").cast("double") / col("n")).as("zero_frac"),
          when(r6(col("s2")) < 0.001, 1L).otherwise(0L).as("dead"))
        .orderBy(col("dim"))
    }),

    /** IVF-accelerated k-NN label-consistency audit — the supervised
      * embedding-quality number (q149's cell purity is unsupervised;
      * this asks the retrieval question directly): hold out every
      * 10th vector, predict its label by 10-NN majority vote over
      * SAME-CELL neighbors, report per-label accuracy. Composes the
      * suite's own scale path end-to-end: the served k=16 cells
      * ([[servedCentroids]] — read, not retrained), the zero-shuffle
      * assignment projection ([[assignCells]]) carrying the label, and an
      * eval × train join keyed on the CELL (per-key blowup bounded by
      * cell sizes, the q86 stance — never all-pairs, shuffle_hash
      * pinned). Both rank cuts (neighbor top-10, majority vote) run
      * on ROUNDED cosine / integer counts with id tie-breaks, so the
      * prediction is engine-stable; the WindowGroupLimit partition
      * key is the high-cardinality query id. Accuracy is an integer
      * rational → nudged r6. */
    "q260_knn_label_audit" -> ((s: SparkSession, dir: String) => {
      val emb = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val assigned = assignCells(emb, servedCentroids(s, dir)).cache()
      val eval = assigned.filter(col("vec_id") % 10 === 0)
      val train = assigned.filter(col("vec_id") % 10 =!= 0)
      val cand = eval.as("q")
        .join(train.as("t").hint("shuffle_hash"), Seq("cent_id"))
        .select(col("q.vec_id").as("q_id"), col("q.label").as("true_label"),
          col("t.label").as("cand_label"), col("t.vec_id").as("t_id"),
          r6(expr("cosine_sim(t.embedding, q.embedding)")).as("cs6"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs6"), asc("t_id"))
      val votes = cand.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .groupBy(col("q_id"), col("true_label"), col("cand_label"))
        .agg(count(lit(1)).as("cnt"))
      val wVote = Window.partitionBy(col("q_id"))
        .orderBy(desc("cnt"), asc("cand_label"))
      val pred = votes.withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
      val predAgg = pred.groupBy(col("true_label"))
        .agg(count(lit(1)).as("n_predicted"),
          count_if(col("cand_label") === col("true_label")).as("n_correct"))
      eval.groupBy(col("label").as("true_label"))
        .agg(count(lit(1)).as("n_queries"))
        .join(predAgg, Seq("true_label"), "left")
        .select(col("true_label").as("label"), col("n_queries"),
          coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"),
          r6n(coalesce(col("n_correct"), lit(0L)).cast("double") /
            col("n_queries")).as("accuracy"))
        .orderBy(col("label"))
    }),

    /** Reciprocal-rank-fusion hybrid retrieval — the standard "lexical
      * OR semantic, why not both" production pattern (Cormack et al.
      * 2009): the q133 BM25 arm and a cosine arm each contribute
      * 1/(60 + rank) for their top-20, and documents surfacing in
      * BOTH arms dominate the fused top-10 — robust to either arm's
      * score-scale pathologies precisely because only RANKS cross the
      * fusion boundary. Each arm is already scale-bounded (one corpus
      * scan + TakeOrderedAndProject; the rank assignment windows run
      * over the LIMIT-20 subplans — bounded input, q101 class); the
      * fusion is a full-outer join of two 20-row sets. Both arm cuts
      * AND the fused cut rank on ROUNDED scores with id tie-breaks;
      * the RRF sum is a small-denominator rational → nudged r6. */
    "q264_rrf_fusion" -> ((s: SparkSession, dir: String) => {
      val terms = Seq("join", "hash", "scan")
      val k1 = 1.2; val b = 0.75
      val tf = Tables(s, dir, "documents").filter(col("text").isNotNull)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(expr(s"filter(toks, x -> x = '$t')")).cast("long")
              .as(s"tf$i") }: _*)
        .cache()
      val stats = tf.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("dl")).as("avgdl") +:
          terms.indices.map(i =>
            count_if(col(s"tf$i") > 0).cast("double").as(s"df$i")): _*)
      val score = terms.indices.map { i =>
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
        val tfi = col(s"tf$i").cast("double")
        idf * (tfi * lit(k1 + 1)) /
          (tfi + lit(k1) * (lit(1 - b) + lit(b) *
            col("dl").cast("double") / col("avgdl")))
      }.reduce(_ + _)
      val lex = tf.crossJoin(broadcast(stats))
        .select(col("doc_id"), r6(score).as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id")).limit(20)
        // ≤20 rows post-limit; non-foldable constant key silences the
        // WindowExec global-window warning (GlobalRank.constKey stance)
        .withColumn("r_lex", row_number()
          .over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(desc("bm25"), asc("doc_id"))).cast("long"))
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val sem = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          r6(expr("cosine_sim(embedding, q_emb)")).as("cs"))
        .orderBy(desc("cs"), asc("doc_id")).limit(20)
        .withColumn("r_sem", row_number()
          .over(Window.partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(desc("cs"), asc("doc_id"))).cast("long"))
      lex.select(col("doc_id"), col("r_lex"))
        .join(sem.select(col("doc_id"), col("r_sem")),
          Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_lex"), col("r_sem"),
          r6n(coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("r_sem")), lit(0.0)))
            .as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id")).limit(10)
    }),

    /** nDCG@10 of the multi-probe SRP-LSH arm — the RANKING-quality
      * companion to q205's recall (recall says the right documents
      * were found; nDCG says whether they surfaced in the right
      * ORDER, which is what a RAG context window actually consumes).
      * Relevance grades derive from the exact arm's rank
      * (rel = 11 − exact_rank: integer, engine-stable), the LSH
      * arm's positions come from the same rounded-cosine rank cut as
      * q205, and the ideal DCG folds over a LITERAL sequence with
      * identical op order in both engines — no driver-side float
      * constant to drift. Same bounded plan as q205: 20-anchor
      * broadcast blocks, one bucket-keyed probe join. */
    "q266_ndcg_audit" -> ((s: SparkSession, dir: String) => {
      val k = 10
      val bucketed = srpBuckets(Tables(s, dir, "embeddings")).cache()
      val anchors = bucketed.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket").as("q_bucket"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(desc_nulls_last("cs6"), asc_nulls_first("vec_id"))
      val exact = bucketed
        .crossJoin(broadcast(anchors.select(col("q_id"), col("q_emb"))))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(cosine("embedding", "q_emb")).as("cs6"))
        .withColumn("rk", row_number().over(wRank)).filter(col("rk") <= k)
        .select(col("q_id"), col("vec_id"), (lit(11L) - col("rk")).as("rel"))
      val probes = anchors.select(col("q_id"), col("q_emb"), col("q_bucket"),
          explode(array((lit(-1L) +: (0 until 8).map(b => lit(b.toLong))): _*))
            .as("flip"))
        .select(col("q_id"), col("q_emb"), expr(
          "CASE WHEN flip = -1 THEN q_bucket " +
            "ELSE q_bucket ^ shiftleft(1L, cast(flip AS int)) END").as("pb"))
      val lsh = bucketed.join(broadcast(probes), col("bucket") === col("pb"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(cosine("embedding", "q_emb")).as("cs6"))
        .withColumn("pos", row_number().over(wRank)).filter(col("pos") <= k)
      lsh.join(exact, Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_lsh"),
          sum(coalesce(col("rel"), lit(0L)).cast("double") /
            expr("log2(CAST(pos + 1 AS DOUBLE))")).as("dcg"))
        .withColumn("idcg", expr(
          """aggregate(sequence(1, 10), CAST(0.0 AS DOUBLE),
            |  (a, i) -> a + CAST(11 - i AS DOUBLE) /
            |    log2(CAST(i + 1 AS DOUBLE)))""".stripMargin))
        .select(col("q_id"), col("n_lsh"), r6(col("dcg")).as("dcg"),
          r6(col("dcg") / col("idcg")).as("ndcg_at_10"))
        .orderBy(col("q_id"))
    }),

    /** Label-balance report — the class-imbalance datasheet row every
      * supervised use of the embedding corpus needs before trusting
      * q260's accuracy or any sampled eval: per-label counts fold to
      * imbalance ratio (max/min) and the effective number of classes
      * exp(H) — the single scalar that says "10 labels on paper,
      * 3.2 in practice". One label-keyed count (map-side combined,
      * post-shuffle bounded by the label domain) and one fold; the
      * entropy identity H = ln N − (Σ c ln c)/N avoids materializing
      * probabilities (q174 stance). Integer counts; ln folds off-grid
      * → plain r6; the imbalance ratio is an integer rational →
      * nudged. */
    "q279_label_balance" -> ((s: SparkSession, dir: String) => {
      Tables(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_labels"), sum(col("c")).as("n_vecs"),
          min(col("c")).as("min_count"), max(col("c")).as("max_count"),
          sum(col("c").cast("double") * log(col("c").cast("double")))
            .as("clnc"))
        .select(col("n_labels"), col("n_vecs"), col("min_count"),
          col("max_count"),
          r6n(col("max_count").cast("double") / col("min_count"))
            .as("imbalance_ratio"),
          r6(exp(log(col("n_vecs").cast("double")) -
            col("clnc") / col("n_vecs"))).as("effective_classes"))
    }),

    /** Hopkins clusterability statistic — the "is there ANY cluster
      * structure worth finding" gate that should run BEFORE paying
      * for k-means (q122) or IVF training (q57): H compares
      * nearest-neighbor distances from m=50 real points (w) against
      * m synthetic points uniform in the per-dim bounding box (u);
      * H = Σu/(Σu+Σw) ≈ 0.5 for a Poisson cloud, → 1 when the data
      * clumps. Everything is deterministic and mirrored: real probes
      * are the 50 lowest sha-hash ids (the q134 sampling stance),
      * synthetic coordinates derive from sha-256 of ('hop', s, d) —
      * no RNG — and each NN distance is a dim-ordered zip_with fold.
      * The probe block is 100 rows broadcast against one corpus scan
      * (the q42 anchor class; at any corpus size the scan stays
      * linear and the probe side constant). */
    "q341_hopkins" -> ((s: SparkSession, dir: String) => {
      val m = 50
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x AS double))").as("v"))
        .cache() // bounds fold, real-probe pick, and the NN scan
      val bounds = e.select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val real = e
        .withColumn("hk", substring(sha2(col("vec_id").cast("string"), 256), 1, 15))
        .orderBy(col("hk"), col("vec_id")).limit(m)
        .select(col("vec_id").as("pid"), col("v").as("pv"))
      val hv = conv(substring(sha2(concat(lit("hop"),
        col("sid").cast("string"), lit("_"), col("pos").cast("string")),
        256), 1, 15), 16, 10).cast("long")
      val synth = bounds
        .select(col("pos"), col("mn"), col("mx"),
          explode(expr(s"sequence(1L, ${m}L)")).as("sid"))
        .select(col("sid"), col("pos"),
          (col("mn") + (col("mx") - col("mn")) *
            (hv.cast("double") / lit(1152921504606846976.0))).as("coord"))
        .groupBy(col("sid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, coord))), t -> t.coord)")
          .as("pv"))
        .select((-col("sid")).as("pid"), col("pv"))
      val probes = real.unionByName(synth)
      val nn = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("pid"))
        .select(col("pid"),
          expr("""aggregate(zip_with(v, pv, (x, y) -> (x - y) * (x - y)),
            CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)""").as("d2"))
        .groupBy(col("pid")).agg(min(col("d2")).as("nn2"))
      nn.agg(
          sum(when(col("pid") < 0L, sqrt(col("nn2")))).as("su"),
          sum(when(col("pid") >= 0L, sqrt(col("nn2")))).as("sw"))
        .select(lit(m.toLong).as("m"),
          r6n(col("su")).as("sum_u"), r6n(col("sw")).as("sum_w"),
          r6n(col("su") / (col("su") + col("sw"))).as("hopkins_h"))
    }),

    /** Random-feature MMD² between two embedding populations (labels
      * 0-4 vs 5-9) — the DISTRIBUTION-level two-sample test the
      * centroid comparisons (q211 drift, q80 norms) cannot give: two
      * clouds can share a centroid and differ everywhere else; MMD
      * with a cosine feature map z_f(x) = cos(w_f·x + b_f) compares
      * the full feature-mean embedding, MMD² = (2/D)·Σ_f(μ₁f−μ₂f)².
      * The 32 projection vectors and phases are driver-side
      * splitmix-mixed LITERALS (the q44 hyperplane stance — no RNG,
      * no cross-engine hash), each feature is a fused dot product off
      * one scan, and the combine is a 2-row group-means fold — one
      * scan, map-side combine, O(D) state. The final 1×1-row cross is
      * the q136 bounded-BNLJ class. */
    "q345_mmd_embedding" -> ((s: SparkSession, dir: String) => {
      val D = 32
      val feats = (0 until D).map { f =>
        val planeSql = (0 until 64).map(d => s"${mmdCoef(f, d)}D")
          .mkString("array(", ", ", ")")
        val phase = math.Pi * (mmdCoef(f, 64) + 1.0)
        cos(expr(s"aggregate(zip_with(embedding, $planeSql, " +
          "(x, c) -> cast(x AS double) * c), 0D, (acc, v) -> acc + v)") +
          lit(phase)).as(s"z$f")
      }
      val z = Tables(s, dir, "embeddings")
        .select((col("label") < 5).as("ga") +: feats: _*)
      val aggs = count(lit(1)).as("n") +:
        (0 until D).map(f => avg(col(s"z$f")).as(s"m$f"))
      // cached: without this the a/b filters push BELOW the aggregate
      // and the corpus is scanned twice (once per group) — the cache
      // holds exactly 2 rows and pins one scan
      val m = z.groupBy(col("ga")).agg(aggs.head, aggs.tail: _*).cache()
      val a = m.filter(col("ga")).select(col("n").as("n_a") +:
        (0 until D).map(f => col(s"m$f").as(s"a$f")): _*)
      val b = m.filter(!col("ga")).select(col("n").as("n_b") +:
        (0 until D).map(f => col(s"m$f").as(s"b$f")): _*)
      val sq = (0 until D).map(f =>
        (col(s"a$f") - col(s"b$f")) * (col(s"a$f") - col(s"b$f")))
        .reduce(_ + _)
      a.crossJoin(broadcast(b))
        .select(col("n_a"), col("n_b"), lit(D.toLong).as("d_features"),
          r6n(lit(2.0) / D * sq).as("mmd2"))
    }),

    /** Effective rank (participation ratio) of the embedding
      * covariance — the INTRINSIC-DIMENSIONALITY audit behind every
      * ANN/IVF design choice in the suite: tr(C)²/‖C‖²_F equals d for
      * isotropic clouds and ≈1 when one direction carries all the
      * variance, and it needs NO eigendecomposition — both norms are
      * closed forms over the moment matrix. One corpus scan: each row
      * explodes to its d(d+1)/2 upper-triangle products plus d
      * first-moment entries (a literal generator, linear in n with a
      * d²-bounded constant), map-side combine collapses them to 2144
      * groups before the shuffle, and the 64-row mean table joins
      * back broadcast. Off-diagonal cells weight ×2 so the full
      * Frobenius mass is counted without materializing the lower
      * triangle. Product/divide order mirrors the oracle exactly;
      * the three emitted doubles are nudged-rounded data-volume
      * folds. */
    "q350_effective_rank" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      // flat PRIMITIVE double array per row (no per-cell struct
      // boxing — measured 2x the query's cost), decoded back to
      // (i, j) AFTER aggregation via a 2144-row broadcast map.
      // embedding IS NOT NULL on BOTH sides (round-10 advice): the
      // per-pos exploded count excludes null-embedding rows, so the
      // oracle's normalizer must be defined over the same population
      val t = Tables(s, dir, "embeddings")
        .filter(col("embedding").isNotNull).select(posexplode(expr(
        """concat(
          |  flatten(transform(sequence(1, 64), i ->
          |    transform(sequence(i, 64), j ->
          |      cast(element_at(embedding, i) AS double) *
          |      cast(element_at(embedding, j) AS double)))),
          |  transform(sequence(1, 64), i ->
          |    cast(element_at(embedding, i) AS double)))"""
          .stripMargin))).toDF("pos", "p")
      val posMap = ((for { i <- 1 to 64; j <- i to 64 } yield (i, j)) ++
        (1 to 64).map(i => (i, 0))).zipWithIndex
        .map { case ((i, j), pos) => (pos, i, j) }
        .toDF("pos", "i", "j")
      val mom = t.groupBy(col("pos"))
        .agg(sum(col("p")).as("sp"), count(lit(1)).as("nn"))
        .join(broadcast(posMap), "pos").cache()
      val mu = mom.filter(col("j") === 0)
        .select(col("i").as("mi"), col("sp").as("s1"))
      val cj = mom.filter(col("j") > 0)
        .join(broadcast(mu.select(col("mi").as("i"), col("s1").as("s1a"))), "i")
        .join(broadcast(mu.select(col("mi").as("j"), col("s1").as("s1b"))), "j")
        .select(col("i"), col("j"), col("nn"),
          (col("sp") / col("nn") -
            (col("s1a") / col("nn")) * (col("s1b") / col("nn"))).as("cij"),
          when(col("i") === col("j"), lit(1.0)).otherwise(lit(2.0)).as("w"))
      cj.agg(max(col("nn")).as("nv"),
          sum(when(col("i") === col("j"), col("cij"))).as("tr"),
          sum(col("w") * col("cij") * col("cij")).as("f2"))
        .select(col("nv").as("n_vectors"), lit(64L).as("dim"),
          r6n(col("tr")).as("cov_trace"),
          r6n(col("f2")).as("cov_fro2"),
          r6n(col("tr") * col("tr") / col("f2")).as("effective_rank"))
    }),

    /** IVF nprobe OPERATING CURVE — the planner q336 is for LSH,
      * applied to the IVF index: q57/q282 probe a HAND-PICKED 2 of 8
      * cells; this emits, per candidate nprobe ∈ {1, 2, 4, 8}, the
      * candidate-set size (the scan cost) and recall@10 against the
      * exact top-10 — pick the smallest nprobe meeting the recall
      * target instead of inheriting a default. Uses the identity
      * |retrieved@10 ∩ exact@10| = |exact@10 ∩ candidates| (the
      * candidate scorer IS the exact scorer, so any exact-top-10
      * member among the candidates survives the candidate top-10
      * cut) — recall needs NO per-nprobe re-ranking, just one join
      * of the 10-row exact set against cell ranks. Scale shape: the
      * q282 IVF store's centroids and cell assignments, read, not
      * retrained ([[StateStores.seedIvf]]), one corpus scan for the
      * exact baseline (already the q42 cost), a k-bounded cell-rank
      * table broadcast back, and 4× literal-generator explodes on
      * integer ranks. Cell order and top-10 both rank on the r6
      * cosine grid with id tiebreaks (cross-engine ranking stance). */
    "q362_ivf_nprobe_curve" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val (cents, assign) = StateStores.seedIvf(s, dir)
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      // probe order over the k cells: rounded query→centroid cosine,
      // cent_id tiebreak; ranks 1..k via a k-bounded collect (the
      // q122 control-plane class)
      val rankDf = e.filter(col("vec_id") === 0)
        .select(explode(array(cents.map { case (cid, c) =>
          struct(r6(cosLit(col("embedding"), c)).as("csim"),
            lit(cid).as("cent_id"))
        }: _*)).as("sc"))
        .select(col("sc.cent_id"), col("sc.csim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy { case (cid, cs) => (-cs, cid) }
        .zipWithIndex.map { case ((cid, _), i) => (cid, (i + 1).toLong) }
        .toSeq.toDF("cent_id", "cell_rank")
      val scored = assign.join(e, "vec_id")
        .crossJoin(broadcast(qv))
        .join(broadcast(rankDf), "cent_id")
        .select(col("vec_id"), col("cell_rank"),
          r6(cosine("embedding", "q_emb")).as("cs"))
        .cache()
      val exact10 = scored
        .orderBy(desc_nulls_last("cs"), asc_nulls_first("vec_id"))
        .limit(10).select(col("vec_id"))
      val scanned = scored
        .select(col("cell_rank"), explode(expr("array(1L, 2L, 4L, 8L)")).as("nprobe"))
        .groupBy(col("nprobe"))
        .agg(count_if(col("cell_rank") <= col("nprobe")).as("n_scanned"))
      val recall = scored.join(exact10, "vec_id")
        .select(col("cell_rank"), explode(expr("array(1L, 2L, 4L, 8L)")).as("nprobe"))
        .groupBy(col("nprobe"))
        .agg(count_if(col("cell_rank") <= col("nprobe")).as("n_hits10"))
      scanned.join(recall, "nprobe")
        .select(col("nprobe"), col("n_scanned"), col("n_hits10"),
          r6n(col("n_hits10").cast("double") / lit(10.0)).as("recall_at_10"))
        .orderBy(col("nprobe"))
    }),

    /** MMR (maximal marginal relevance) diversity rerank — the
      * retrieval-side dedup the pure top-k (q42) lacks: a result list
      * of 20 near-identical chunks wastes a RAG context window, so
      * the final k=5 picks greedily maximize λ·rel(c) −
      * (1−λ)·max_{s∈picked} sim(c, s) at λ = 0.7. Scale shape: the
      * DISTRIBUTED part is the corpus-wide top-20 relevance scan
      * (q42's broadcast-query class, rounded-cosine + id ranking so
      * the candidate cut cannot flip cross-engine); the rerank then
      * runs over the 20-row candidate block — every round is a
      * bounded 20 × ≤5 similarity cross (q42/q182 anchor class) + one
      * top-1, and all similarities live on the r6 grid, so the
      * greedy argmax sequence is engine-exact. Emitted mmr_score is
      * IEEE arithmetic over grid-pinned inputs (identical in both
      * engines), nudged-rounded. */
    "q360_mmr_rerank" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cand = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          r6(cosine("embedding", "qe")).as("rel"))
        .orderBy(desc("rel"), asc("vec_id")).limit(20).cache()
      var sel = Vector.empty[Long]
      val picks = Seq.newBuilder[(Long, Long, Double, Double)]
      (1 to 5).foreach { rank =>
        val rem = cand.filter(!col("vec_id").isin(sel: _*))
        val scored =
          if (sel.isEmpty)
            rem.select(col("vec_id"), col("rel"),
              r6n(lit(0.7) * col("rel")).as("sc"))
          else {
            val selEmb = cand.filter(col("vec_id").isin(sel: _*))
              .select(col("embedding").as("se"))
            rem.crossJoin(broadcast(selEmb))
              .select(col("vec_id"), col("rel"),
                r6(cosine("embedding", "se")).as("sim"))
              .groupBy(col("vec_id"), col("rel"))
              .agg(max(col("sim")).as("ms"))
              .select(col("vec_id"), col("rel"),
                r6n(lit(0.7) * col("rel") - lit(0.3) * col("ms")).as("sc"))
          }
        val row = scored.orderBy(desc("sc"), asc("vec_id")).limit(1)
          .collect()(0)
        sel = sel :+ row.getLong(0)
        picks += ((rank.toLong, row.getLong(0), row.getDouble(1),
          row.getDouble(2)))
      }
      import s.implicits._
      picks.result().toDF("rank", "vec_id", "relevance", "mmr_score")
        .orderBy(col("rank"))
    }),

    /** DOT-vs-COSINE ranking bias audit — retrieval stacks that score
      * with a raw inner product (the cheap path: no norm divide, and
      * most ANN indexes natively rank by dot) silently prefer
      * HIGH-NORM vectors; if embedding norm correlates with document
      * length or source, "relevance" becomes a popularity artifact.
      * For each of the 3 probe vectors (the q42/q231 bounded query
      * block): top-20 by raw dot and top-20 by cosine, their overlap,
      * and the mean norm of each winner set — a norm gap is the bias,
      * measured directly. Scale shape: ONE corpus scan against the
      * 3-row broadcast block (never a corpus×corpus join), both
      * rankings are rn ≤ 20 rank filters over per-query partitions
      * (WindowGroupLimit prunes map-side), and the winner sets meet in
      * a ≤120-row full outer join. Dot/cosine/norm all ride the
      * sequential zip_with+aggregate fold (oracle-identical bits);
      * scores are r6-rounded BEFORE ranking with id tie-break so the
      * cut is engine-stable. On the fixture corpus the verdict is the
      * HEALTHY one — embeddings are unit-norm, so overlap is 20/20
      * and the norm gap is zero: the certification that dot-ranking
      * is safe HERE, which is exactly what the audit exists to
      * establish (or refute) before an index is built with the cheap
      * scorer. */
    "q403_dot_cosine_rank_bias" -> ((s: SparkSession, dir: String) => {
      def dotF(a: String, b: String) = expr(
        s"aggregate(zip_with($a, $b, (p, q) -> cast(p AS double) * cast(q AS double)), 0D, (acc, v) -> acc + v)")
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          r6(dotF("embedding", "q_emb")).as("dot6"),
          r6(cosine("embedding", "q_emb")).as("cs6"),
          // RAW norm — it is never a ranking key, only averaged, so
          // the one r6n at the very end is the final step (FloatAudit)
          sqrt(dotF("embedding", "embedding")).as("norm"))
        .cache() // both ranking branches read it
      val wD = Window.partitionBy(col("q_id"))
        .orderBy(desc("dot6"), asc("vec_id"))
      val wC = Window.partitionBy(col("q_id"))
        .orderBy(desc("cs6"), asc("vec_id"))
      val topD = scored.withColumn("rn", row_number().over(wD))
        .filter(col("rn") <= 20)
        .select(col("q_id"), col("vec_id"), col("norm").as("norm_d"))
      val topC = scored.withColumn("rn", row_number().over(wC))
        .filter(col("rn") <= 20)
        .select(col("q_id"), col("vec_id"), col("norm").as("norm_c"))
      topD.join(topC, Seq("q_id", "vec_id"), "full_outer")
        .groupBy(col("q_id"))
        .agg(
          count(when(col("norm_d").isNotNull && col("norm_c").isNotNull, 1))
            .as("n_overlap"),
          r6n(avg(col("norm_d"))).as("mean_norm_dot"),
          r6n(avg(col("norm_c"))).as("mean_norm_cos"))
        .orderBy(col("q_id"))
    }),

    /** Mutual-kNN rate — the reciprocity audit next to q387's hubness
      * (the same pathology seen from the edge side): in a healthy
      * embedding space most top-10 edges are reciprocated; a low
      * mutual rate in a cell means its neighborhoods are dominated by
      * hubs (A's neighbor lists all point at B, B's list has no room
      * for them back), which degrades every mutual-kNN-based
      * clustering and the kNN label audit (q260). Cells come from the
      * PERSISTED quantizer ([[servedCentroids]] — the audit audits the
      * binning the screens serve, training nothing); the same 10
      * nearest block neighbours as q387 ([[blockKnn]]); the
      * reciprocity probe is ONE self equi-join of the ≤10n edge list
      * on the reversed key, hinted shuffle_hash (the edge list's
      * static estimate reads "small"; a broadcast plan could not
      * exist at 100 TB). */
    "q404_mutual_knn_rate" -> ((s: SparkSession, dir: String) => {
      val e = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val t = blockKnn(s, dir, e, 10)
        .select(col("cent_id"), col("vec_id"), col("nb"))
        .cache() // the base census and both sides of the reverse probe
      val mut = t.as("x").join(t.as("y").hint("shuffle_hash"),
          col("x.vec_id") === col("y.nb") && col("x.nb") === col("y.vec_id"))
        .groupBy(col("x.cent_id").as("cent_id"))
        .agg(count(lit(1)).as("nm"))
      t.groupBy(col("cent_id"))
        .agg(countDistinct(col("vec_id")).as("n_vectors"),
          count(lit(1)).as("n_edges"))
        .join(mut, Seq("cent_id"), "left")
        .select(col("cent_id"), col("n_vectors"), col("n_edges"),
          coalesce(col("nm"), lit(0L)).as("n_mutual_directed"),
          r6n(coalesce(col("nm"), lit(0L)).cast("double") / col("n_edges"))
            .as("mutual_rate"))
        .orderBy(col("cent_id"))
    })
  )

  /** MMD random-feature coefficient (f = feature, d = dimension; d=64
    * is the phase draw): the srpCoef splitmix family under a distinct
    * salt — deterministic pseudo-random in [-1, 1], 1/1000
    * granularity, computed once on the driver and embedded as
    * literals in BOTH engines. */
  private def mmdCoef(f: Int, d: Int): Double = {
    var h = (0x51AB1EL + f * 65 + d + 1) * 0x9E3779B97F4A7C15L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (java.lang.Math.floorMod(h, 2001L) - 1000L) / 1000.0
  }

  /** Sign-random-projection ANN: 8 deterministic hyperplanes → 8-bit
    * bucket; candidates = query bucket + 8 hamming-1 probes; top-k by
    * exact cosine among candidates. At 100 TB the bucket equi-join
    * replaces the per-query full scan (Charikar SRP). */
  /** SRP hyperplane coefficient (p = plane, d = dimension):
    * deterministic pseudo-random in [-1, 1] with 1/1000 granularity —
    * a splitmix64-style mix computed ONCE on the driver and embedded
    * as literals in BOTH the Spark plan and the DuckDB oracle, which
    * is what makes the LSH bucketing engine-portable. */
  private def srpCoef(p: Int, d: Int): Double = {
    var h = (p * 64 + d + 1) * 0x9E3779B97F4A7C15L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (java.lang.Math.floorMod(h, 2001L) - 1000L) / 1000.0
  }

  /** (vec_id, embedding, bucket) with the 8-bit SRP bucket: bit p =
    * sign of <v, h_p>. The hyperplanes are shipped as array literals,
    * so the per-row work is a pure fused dot product (the first
    * version recomputed a hash per element per row: 512 hashes/row;
    * this is 0). */
  private def srpBuckets(e: DataFrame): DataFrame = {
    val bucketBits = (0 until 8).map { p =>
      val planeSql = (0 until 64).map(d => s"${srpCoef(p, d)}D").mkString("array(", ", ", ")")
      val proj = expr(s"aggregate(zip_with(embedding, $planeSql, (x, c) -> cast(x AS double) * c), 0D, (acc, v) -> acc + v)")
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    e.select(col("vec_id"), col("embedding"),
      bucketBits.reduce((a, b) => a.bitwiseOR(b)).as("bucket"))
  }

  private[graft] def annLsh(e: DataFrame, queryId: Long, k: Int): DataFrame = {
      val bucketed = srpBuckets(e)
      val qv = bucketed.filter(col("vec_id") === queryId)
        .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
      // multi-probe: the query's bucket plus all 8 hamming-1 neighbors —
      // SRP sign flips are the likely error mode for near-boundary
      // projections, so probing adjacent buckets recovers most misses
      // for a 9x candidate cost (still ~9/256 of the corpus)
      val probed = qv.select(col("q_emb"), col("q_bucket"), explode(array(
        (lit(-1L) +: (0 until 8).map(b => lit(b.toLong))): _*)).as("flip"))
        .select(col("q_emb"), expr(
          "CASE WHEN flip = -1 THEN q_bucket " +
            "ELSE q_bucket ^ shiftleft(1L, cast(flip AS int)) END").as("probe_bucket"))
      bucketed.join(broadcast(probed), col("bucket") === col("probe_bucket"))
        .filter(col("vec_id") =!= queryId)
        .select(col("vec_id"), cosine("embedding", "q_emb").as("cs"))
        .orderBy(desc_nulls_last("cs"), asc_nulls_first("vec_id"))
        .limit(k)
        .select(col("vec_id"), r6(col("cs")).as("cos_sim"))
  }

  /** Explicit seeded left fold — pins the accumulation order to match
    * Spark's `aggregate(..., 0D, (acc, v) -> acc + v)` bit-for-bit.
    * list_aggregate('sum') only happens to fold left today; an engine
    * version could re-order it and flip a near-zero projection sign. */
  private def duckFoldSum(listExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE), $listExpr),
       |  (acc, v) -> acc + v)""".stripMargin

  /** DuckDB twin of the sequential-fold cosine for two named list
    * columns — same op order, bitwise-compatible with the Spark side. */
  private[llm] def duckCos(a: String, b: String): String =
    s"""${duckFoldSum(s"""list_transform(generate_series(1, 64),
       |  i -> cast($a[i] AS DOUBLE) * cast($b[i] AS DOUBLE))""".stripMargin)}
       |/ sqrt(
       |  ${duckFoldSum(s"""list_transform(generate_series(1, 64),
       |    i -> cast($a[i] AS DOUBLE) * cast($a[i] AS DOUBLE))""".stripMargin)}
       |  * ${duckFoldSum(s"""list_transform(generate_series(1, 64),
       |    i -> cast($b[i] AS DOUBLE) * cast($b[i] AS DOUBLE))""".stripMargin)})""".stripMargin

  private val duckCosine = duckCos("embedding", "q_emb")

  /** One unrolled Lloyd iteration for the q122 oracle: assign every
    * vector to its argmax-cosine cell of `prevCents`, producing CTEs
    * `$sims` and `$assign` (and, when `outCents` is set, the
    * re-estimated centroid list table). */
  private[llm] def duckKmeansIter(prevCents: String, sims: String, assign: String,
      outCents: Option[String], src: String = "embeddings"): String = {
    val head =
      s"""$sims AS (
         |  SELECT e.vec_id, e.embedding, c.cent_id,
         |  ${duckCos("e.embedding", "c.cent")} AS csim
         |  FROM $src e CROSS JOIN $prevCents c),
         |$assign AS (
         |  SELECT vec_id, embedding, cent_id FROM (
         |    SELECT vec_id, embedding, cent_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC NULLS LAST, cent_id NULLS FIRST) AS rn
         |    FROM $sims) WHERE rn = 1)""".stripMargin
    outCents match {
      case None => head
      case Some(c) => head + s""",
         |$c AS (
         |  SELECT cent_id, list(m ORDER BY pos) AS cent FROM (
         |    SELECT cent_id, pos, avg(CAST(embedding[pos] AS DOUBLE)) AS m
         |    FROM $assign, unnest(generate_series(1, 64)) AS t(pos)
         |    GROUP BY 1, 2)
         |  GROUP BY cent_id)""".stripMargin
    }
  }

  /** The served k=16 audit model ([[servedCentroids]]) from first
    * principles: init = vectors 0..15, two unrolled Lloyd iterations
    * and the final assignment pass. CTEs: `kc2` the trained centroids,
    * `ks3` the final pass's (vector, cell) cosines, and `assign`
    * (vec_id, embedding, cent_id). */
  private def duckAuditCells(assign: String): String =
    s"""c16 AS (
       |  SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM embeddings WHERE vec_id < 16),
       |${duckKmeansIter("c16", "ks1", "ka1", Some("kc1"))},
       |${duckKmeansIter("kc1", "ks2", "ka2", Some("kc2"))},
       |${duckKmeansIter("kc2", "ks3", assign, None)}""".stripMargin

  /** [[blockPairs]]' block split over the audit cells: CTEs `cn` (cell
    * sizes) and `assigned`, the final assignment plus `blk`. */
  private val duckBlocks: String =
    s"""${duckAuditCells("assigned0")},
       |cn AS (SELECT cent_id, count(*) AS cnt FROM assigned0 GROUP BY 1),
       |assigned AS (
       |  SELECT a.*, a.vec_id % ((cn.cnt + ${KnnBlock - 1}) // ${KnnBlock})
       |    AS blk
       |  FROM assigned0 a JOIN cn USING (cent_id))""".stripMargin

  /** [[blockKnn]]: [[duckBlocks]] plus `knn` (cent_id, vec_id, nb, d6,
    * rn), each vector's `k` nearest distinct block members by the
    * r6-rounded cosine distance, ties to the lower nb. */
  private def duckBlockKnn(k: Int): String =
    s"""$duckBlocks,
       |knn AS (
       |  SELECT * FROM (
       |    SELECT *,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d6, nb) AS rn
       |    FROM (
       |      SELECT a.cent_id, a.vec_id, b.vec_id AS nb,
       |      round(1.0 - ${duckCos("a.embedding", "b.embedding")}, 6) AS d6
       |      FROM assigned a JOIN assigned b
       |        ON a.cent_id = b.cent_id AND a.blk = b.blk
       |        AND a.vec_id <> b.vec_id))
       |  WHERE rn <= $k)""".stripMargin

  /** The served IVF model ([[StateStores.seedIvf]]) from first
    * principles: corpus = vec_id % 10 ≠ 0, init = corpus ids 1..8, two
    * unrolled Lloyd iterations and the final assignment. CTEs:
    * `corpus`, `c2` the trained centroids and `a3` (vec_id, embedding,
    * cent_id). */
  private[llm] val duckIvfCells: String =
    s"""corpus AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
       |c0 AS (
       |  SELECT vec_id AS cent_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
       |  FROM corpus WHERE vec_id BETWEEN 1 AND 8),
       |${duckKmeansIter("c0", "s1", "a1", Some("c1"), "corpus")},
       |${duckKmeansIter("c1", "s2", "a2", Some("c2"), "corpus")},
       |${duckKmeansIter("c2", "s3", "a3", None, "corpus")}""".stripMargin

  /** Sequential squared-L2 fold between two sub-dim lists — the
    * oracle twin of [[pqDist]] (prepend-0 left fold ≡ aggregate()). */
  private[llm] def duckPqDist(v: String, c: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(generate_series(1, $PqSub),
       |      i -> ($v[i] - $c[i]) * ($v[i] - $c[i]))),
       |    (acc, x) -> acc + x)""".stripMargin

  /** One unrolled PQ Lloyd iteration for the q158 oracle: assign every
    * (vector, subspace) of `src` to its nearest code in `prev` (ties
    * to the lowest code, ≡ the Spark `least` struct), and optionally
    * re-estimate the per-(sub, code) centroid lists. `src` defaults to
    * the full subvector table; the q284 store passes a corpus-sliced
    * CTE so training never sees the snapshot. */
  private[llm] def duckPqIter(prev: String, assign: String,
      outCents: Option[String], src: String = "sv"): String = {
    val head =
      s"""$assign AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT sv.vec_id, sv.sub, cb.code,
         |    row_number() OVER (PARTITION BY sv.vec_id, sv.sub
         |      ORDER BY ${duckPqDist("sv.v", "cb.cent")} ASC NULLS LAST,
         |        cb.code NULLS FIRST) AS rn
         |    FROM $src sv JOIN $prev cb USING (sub))
         |  WHERE rn = 1)""".stripMargin
    outCents match {
      case None => head
      case Some(c) => head + s""",
         |$c AS (
         |  SELECT sub, code, list(m ORDER BY pos) AS cent FROM (
         |    SELECT a.sub, a.code, pos, avg(sv.v[pos]) AS m
         |    FROM $assign a JOIN $src sv USING (vec_id, sub),
         |      unnest(generate_series(1, $PqSub)) AS t(pos)
         |    GROUP BY 1, 2, 3)
         |  GROUP BY sub, code)""".stripMargin
    }
  }

  /** One unrolled power-iteration step for the q135 oracle: `vin` is a
    * CTE with a single `v` list column; emits s_, w_, n_ CTEs and a
    * `vout` CTE holding the normalized next vector. The sequential
    * list_reduce folds (prepend-0 accumulate) match the Spark side's
    * aggregate() and driver fold order bit-for-bit. */
  private def duckPowerStep(vin: String, tag: String, vout: String): String =
    s"""s_$tag AS (
       |  SELECT e.x AS x,
       |  list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
       |    i -> (e.x[i] - mul.mu[i]) * $vin.v[i])), (a, b) -> a + b) AS s
       |  FROM e, mul, $vin),
       |w_$tag AS (
       |  SELECT i, avg((x[i] - mul.mu[i]) * s) AS w
       |  FROM s_$tag, mul, unnest(generate_series(1, 64)) AS g(i)
       |  GROUP BY i),
       |n_$tag AS (
       |  SELECT list(w ORDER BY i) AS wl,
       |  sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(list(w ORDER BY i), y -> y * y)), (a, b) -> a + b)) AS nrm
       |  FROM w_$tag),
       |$vout AS (SELECT list_transform(wl, y -> y / nrm) AS v, nrm FROM n_$tag)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q135_pca_power" ->
      s"""WITH e AS (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
         |  FROM embeddings),
         |mu0 AS (
         |  SELECT i, avg(x[i]) AS m
         |  FROM e, unnest(generate_series(1, 64)) AS g(i) GROUP BY i),
         |mul AS (SELECT list(m ORDER BY i) AS mu FROM mu0),
         |vinit AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS v),
         |${duckPowerStep("vinit", "a", "v1")},
         |${duckPowerStep("v1", "b", "v2")}
         |SELECT CAST(i - 1 AS BIGINT) AS pos,
         |round(v2.v[i], 6) AS loading, round(v2.nrm, 6) AS lambda
         |FROM v2, unnest(generate_series(1, 64)) AS g(i)
         |ORDER BY pos NULLS FIRST""".stripMargin,

    // two unrolled Lloyd iterations (k=8) + a third assignment pass;
    // own = csim at the assigned cell, other = max over the rest
    "q149_kmeans_quality" ->
      s"""WITH c0 AS (
         |  SELECT vec_id AS cent_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         |  FROM embeddings WHERE vec_id < 8),
         |${duckKmeansIter("c0", "s1", "a1", Some("c1"))},
         |${duckKmeansIter("c1", "s2", "a2", Some("c2"))},
         |${duckKmeansIter("c2", "s3", "assigned", None)},
         |own AS (
         |  SELECT s.vec_id, a.cent_id, s.csim AS own
         |  FROM s3 s JOIN assigned a
         |    ON s.vec_id = a.vec_id AND s.cent_id = a.cent_id),
         |oth AS (
         |  SELECT s.vec_id, max(s.csim) AS other
         |  FROM s3 s JOIN assigned a
         |    ON s.vec_id = a.vec_id AND s.cent_id <> a.cent_id
         |  GROUP BY s.vec_id)
         |SELECT cent_id, CAST(count(*) AS BIGINT) AS n,
         |round(avg(own), 6) AS avg_own,
         |round(avg(other), 6) AS avg_other,
         |round(avg(own - other), 6) AS avg_margin
         |FROM own JOIN oth USING (vec_id)
         |GROUP BY cent_id
         |ORDER BY cent_id NULLS FIRST""".stripMargin,

    "q122_kmeans" ->
      s"""WITH c0 AS (
         |  SELECT vec_id AS cent_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
         |  FROM embeddings WHERE vec_id < 8),
         |${duckKmeansIter("c0", "s1", "a1", Some("c1"))},
         |${duckKmeansIter("c1", "s2", "a2", None)},
         |p2 AS (
         |  SELECT cent_id, pos, avg(CAST(embedding[pos] AS DOUBLE)) AS m
         |  FROM a2, unnest(generate_series(1, 64)) AS t(pos)
         |  GROUP BY 1, 2),
         |sizes AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS n FROM a2 GROUP BY 1)
         |SELECT p2.cent_id, CAST(p2.pos - 1 AS BIGINT) AS pos,
         |round(p2.m, 6) AS coord, sizes.n
         |FROM p2 JOIN sizes USING (cent_id)
         |ORDER BY cent_id NULLS FIRST, pos NULLS FIRST""".stripMargin,
    // same prepend-0 sequential squared-norm folds as the Spark plan
    "q162_matryoshka" -> {
      def sq(arr: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform($arr, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           |    (acc, v) -> acc + v)""".stripMargin
      s"""WITH r AS (
         |  SELECT k,
         |  sqrt(${sq("embedding[1:k]")}) / sqrt(${sq("embedding")}) AS ratio
         |  FROM embeddings, unnest([8, 16, 32]) AS t(k))
         |SELECT k, round(avg(ratio), 6) AS mean_fidelity,
         |round(min(ratio), 6) AS min_fidelity,
         |CAST(sum(CASE WHEN ratio >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_090
         |FROM r GROUP BY k
         |ORDER BY k NULLS FIRST""".stripMargin
    },

    // the whole PQ training unrolled: subvector table, init codebooks
    // from vectors 0..ks-1, two Lloyd iterations, a final assignment,
    // the query's distance table, and the sequential ADC fold — every
    // float op in the same order as the Spark plan
    "q158_pq_ann" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |  FROM embeddings),
         |sv AS (
         |  SELECT vec_id, s AS sub, emb[s * $PqSub + 1 : s * $PqSub + $PqSub] AS v
         |  FROM e, unnest(generate_series(0, ${PqM - 1})) AS t(s)),
         |c0 AS (
         |  SELECT sub, CAST(vec_id AS INT) AS code, v AS cent
         |  FROM sv WHERE vec_id < $PqKs),
         |${duckPqIter("c0", "a1", Some("c1"))},
         |${duckPqIter("c1", "a2", Some("c2"))},
         |${duckPqIter("c2", "af", None)},
         |qsv AS (SELECT sub, v AS qv FROM sv WHERE vec_id = 0),
         |tbl AS (
         |  SELECT c.sub, c.code, ${duckPqDist("q.qv", "c.cent")} AS d
         |  FROM c2 c JOIN qsv q USING (sub)),
         |fin AS (
         |  SELECT a.vec_id,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(t.d ORDER BY a.sub)), (acc, x) -> acc + x) AS adc,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list(CAST(a.code AS BIGINT) << (2 * a.sub) ORDER BY a.sub)),
         |    (acc, x) -> acc + x) AS BIGINT) AS codes_packed
         |  FROM af a JOIN tbl t USING (sub, code)
         |  WHERE a.vec_id <> 0
         |  GROUP BY a.vec_id)
         |SELECT vec_id, codes_packed, round(adc, 6) AS adc
         |FROM fin
         |ORDER BY round(adc, 6) NULLS FIRST, vec_id NULLS FIRST
         |LIMIT 10""".stripMargin,

    // list_reduce (sequential left fold) matches Spark's aggregate()
    // accumulation order bit-for-bit; floor(x + 0.5) is the shared
    // round-half-up, dodging the engines' round() tie disagreement
    "q111_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
        |  FROM embeddings)
        |SELECT vec_id, round(amax / 127.0, 6) AS scale,
        |CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(e, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))),
        |  (acc, x) -> acc + x) AS BIGINT) AS sum_codes,
        |CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(e, x -> abs(CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)))),
        |  (acc, x) -> acc + x) AS BIGINT) AS sum_abs_codes,
        |round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(e, x ->
        |      (x - floor(x / (amax / 127.0) + 0.5) * (amax / 127.0)) *
        |      (x - floor(x / (amax / 127.0) + 0.5) * (amax / 127.0)))),
        |  (acc, x) -> acc + x) / len(e), 8) AS mse
        |FROM q
        |WHERE amax > 0
        |ORDER BY vec_id NULLS FIRST""".stripMargin,

    "q42_cosine_topk" ->
      s"""SELECT vec_id, round(cs, 6) AS cos_sim FROM (
         |  SELECT e.vec_id, $duckCosine AS cs
         |  FROM embeddings e
         |  CROSS JOIN (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |  WHERE e.vec_id <> 0)
         |ORDER BY cs DESC NULLS LAST, vec_id NULLS FIRST
         |LIMIT 20""".stripMargin,

    // same hyperplane literals as the Spark plan; same sequential-fold
    // dot product (bitwise-compatible), so bucket bits agree exactly
    "q44_ann_lsh" -> {
      def proj(p: Int, v: String) = {
        val plane = (0 until 64).map(d => s"${srpCoef(p, d)}").mkString("[", ", ", "]")
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |    i -> cast($v[i] AS DOUBLE) * ($plane::DOUBLE[])[i])""".stripMargin)
      }
      val bucket = (0 until 8).map(p =>
        s"(CASE WHEN ${proj(p, "embedding")} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS q_emb, bucket AS q_bucket FROM b WHERE vec_id = 0),
         |probes AS (
         |  SELECT q_emb, CASE WHEN f = -1 THEN q_bucket
         |                ELSE xor(q_bucket, (CAST(1 AS BIGINT) << f)) END AS pb
         |  FROM q, unnest([-1, 0, 1, 2, 3, 4, 5, 6, 7]) AS u(f))
         |SELECT vec_id, round(cs, 6) AS cos_sim FROM (
         |  SELECT b.vec_id, ${duckCos("b.embedding", "probes.q_emb")} AS cs
         |  FROM b JOIN probes ON b.bucket = probes.pb
         |  WHERE b.vec_id <> 0)
         |ORDER BY cs DESC NULLS LAST, vec_id NULLS FIRST
         |LIMIT 10""".stripMargin
    },

    "q211_centroid_drift" ->
      """WITH el AS (
        |  SELECT label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)),
        |lm AS (SELECT label, i, avg(v) AS m FROM el GROUP BY 1, 2),
        |gm AS (SELECT i, avg(v) AS g FROM el GROUP BY 1),
        |folds AS (
        |  SELECT label,
        |  sum(m * g) AS mg, sum(m * m) AS mm, sum(g * g) AS gg
        |  FROM lm JOIN gm ON gm.i = lm.i GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT f.label, CAST(n.n_vecs AS BIGINT) AS n_vecs,
        |round(mg / sqrt(mm * gg), 6) AS cos_to_global,
        |round(sqrt(mm), 6) AS centroid_norm
        |FROM folds f JOIN n ON n.label = f.label
        |ORDER BY f.label NULLS FIRST""".stripMargin,

    "q246_anisotropy" ->
      s"""WITH base AS (
         |  SELECT label, embedding,
         |  sqrt(${duckFoldSum(
               """list_transform(generate_series(1, 64),
                 |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))"""
                 .stripMargin)}) AS nrm
         |  FROM embeddings),
         |el AS (
         |  SELECT label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) / nrm AS uv
         |  FROM base, unnest(generate_series(1, 64)) AS u(i)
         |  WHERE nrm > 0),
         |ls AS (SELECT label, i, sum(uv) AS su, count(*) AS cnt
         |       FROM el GROUP BY 1, 2),
         |pl AS (SELECT CAST(label AS VARCHAR) AS scope,
         |       sum(su * su) AS s2, max(CASE WHEN i = 1 THEN cnt END) AS n
         |       FROM ls GROUP BY 1),
         |g0 AS (SELECT i, sum(su) AS su, sum(cnt) AS cnt FROM ls GROUP BY 1),
         |gl AS (SELECT 'all' AS scope, sum(su * su) AS s2,
         |       max(CASE WHEN i = 1 THEN cnt END) AS n FROM g0),
         |allrows AS (SELECT * FROM pl UNION ALL SELECT * FROM gl)
         |SELECT scope, CAST(n AS BIGINT) AS n_vecs,
         |CASE WHEN n > 1
         |  THEN round((s2 - n) / (n * (n - 1.0)), 6) END AS mean_pairwise_cos,
         |round(sqrt(s2) / n, 6) AS mean_unit_norm
         |FROM allrows
         |ORDER BY scope NULLS FIRST""".stripMargin,

    "q252_dead_dims" ->
      """WITH el AS (
        |  SELECT u.i - 1 AS dim, CAST(embedding[u.i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i))
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |round(avg(v), 6) AS mean, round(var_samp(v), 6) AS variance,
        |round(sum(CASE WHEN abs(v) < 1e-6 THEN 1 ELSE 0 END) * 1.0 /
        |  count(*) + 1e-12, 6) AS zero_frac,
        |CAST(CASE WHEN round(var_samp(v), 6) < 0.001
        |  THEN 1 ELSE 0 END AS BIGINT) AS dead
        |FROM el GROUP BY 1
        |ORDER BY dim NULLS FIRST""".stripMargin,

    "q260_knn_label_audit" ->
      s"""WITH ${duckAuditCells("assigned")},
         |lab AS (
         |  SELECT a.vec_id, a.embedding, a.cent_id, e.label
         |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
         |ev AS (SELECT * FROM lab WHERE vec_id % 10 = 0),
         |tr AS (SELECT * FROM lab WHERE vec_id % 10 <> 0),
         |cand AS (
         |  SELECT q.vec_id AS q_id, q.label AS true_label,
         |  t.label AS cand_label, t.vec_id AS t_id,
         |  round(${duckCos("t.embedding", "q.embedding")}, 6) AS cs6
         |  FROM ev q JOIN tr t ON t.cent_id = q.cent_id),
         |topk AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cs6 DESC NULLS LAST, t_id) AS rk FROM cand)
         |  WHERE rk <= 10),
         |votes AS (
         |  SELECT q_id, true_label, cand_label, count(*) AS cnt
         |  FROM topk GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT q_id, true_label, cand_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cnt DESC, cand_label) AS vr FROM votes)
         |  WHERE vr = 1),
         |evc AS (SELECT label AS true_label, count(*) AS n_queries
         |        FROM ev GROUP BY 1),
         |pa AS (
         |  SELECT true_label, count(*) AS n_predicted,
         |  count(*) FILTER (cand_label = true_label) AS n_correct
         |  FROM pred GROUP BY 1)
         |SELECT evc.true_label AS label,
         |CAST(n_queries AS BIGINT) AS n_queries,
         |CAST(coalesce(n_predicted, 0) AS BIGINT) AS n_predicted,
         |CAST(coalesce(n_correct, 0) AS BIGINT) AS n_correct,
         |round(coalesce(n_correct, 0) * 1.0 / n_queries + 1e-12, 6)
         |  AS accuracy
         |FROM evc LEFT JOIN pa USING (true_label)
         |ORDER BY label NULLS FIRST""".stripMargin,

    "q264_rrf_fusion" -> {
      val terms = Seq("join", "hash", "scan")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf$i"
      }.mkString(", ")
      val dfCols = terms.indices.map(i =>
        s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
        .mkString(", ")
      val score = terms.indices.map(i =>
        s"""ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) *
           |  (CAST(tf$i AS DOUBLE) * 2.2) /
           |  (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 *
           |    CAST(dl AS DOUBLE) / avgdl))""".stripMargin).mkString(" + ")
      s"""WITH tf AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, $tfCols
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |        FROM documents WHERE text IS NOT NULL)),
         |st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
         |  $dfCols
         |  FROM tf),
         |lexall AS (
         |  SELECT doc_id, round($score, 6) AS bm25
         |  FROM tf CROSS JOIN st),
         |lex AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY bm25 DESC NULLS LAST, doc_id) AS BIGINT) AS r_lex
         |  FROM (SELECT * FROM lexall
         |        ORDER BY bm25 DESC NULLS LAST, doc_id LIMIT 20)),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |semall AS (
         |  SELECT vec_id AS doc_id, round($duckCosine, 6) AS cs
         |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
         |sem AS (
         |  SELECT doc_id, CAST(row_number() OVER (
         |    ORDER BY cs DESC NULLS LAST, doc_id) AS BIGINT) AS r_sem
         |  FROM (SELECT * FROM semall
         |        ORDER BY cs DESC NULLS LAST, doc_id LIMIT 20))
         |SELECT doc_id, r_lex, r_sem,
         |round(coalesce(1.0 / (60.0 + r_lex), 0.0) +
         |  coalesce(1.0 / (60.0 + r_sem), 0.0) + 1e-12, 6) AS rrf
         |FROM lex FULL OUTER JOIN sem USING (doc_id)
         |ORDER BY rrf DESC NULLS LAST, doc_id
         |LIMIT 10""".stripMargin
    },

    "q266_ndcg_audit" -> {
      def proj(p: Int, v: String) = {
        val plane = (0 until 64).map(d => s"${srpCoef(p, d)}").mkString("[", ", ", "]")
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |    i -> cast($v[i] AS DOUBLE) * ($plane::DOUBLE[])[i])""".stripMargin)
      }
      val bucket = (0 until 8).map(p =>
        s"(CASE WHEN ${proj(p, "embedding")} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
         |  FROM embeddings),
         |anchors AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |  FROM b WHERE vec_id < 20),
         |exact AS (
         |  SELECT q_id, vec_id, CAST(11 - rk AS BIGINT) AS rel FROM (
         |    SELECT a.q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY a.q_id
         |      ORDER BY round(${duckCos("b.embedding", "a.q_emb")}, 6)
         |        DESC NULLS LAST, b.vec_id) AS rk
         |    FROM b CROSS JOIN anchors a WHERE b.vec_id <> a.q_id)
         |  WHERE rk <= 10),
         |probes AS (
         |  SELECT q_id, q_emb,
         |  CASE WHEN f = -1 THEN q_bucket
         |       ELSE xor(q_bucket, (CAST(1 AS BIGINT) << f)) END AS pb
         |  FROM anchors, unnest([-1, 0, 1, 2, 3, 4, 5, 6, 7]) AS u(f)),
         |lsh AS (
         |  SELECT q_id, vec_id, pos FROM (
         |    SELECT p.q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY round(${duckCos("b.embedding", "p.q_emb")}, 6)
         |        DESC NULLS LAST, b.vec_id) AS pos
         |    FROM b JOIN probes p ON b.bucket = p.pb WHERE b.vec_id <> p.q_id)
         |  WHERE pos <= 10),
         |d AS (
         |  SELECT l.q_id, count(*) AS n_lsh,
         |  sum(CAST(coalesce(e.rel, 0) AS DOUBLE) /
         |    log2(CAST(l.pos + 1 AS DOUBLE))) AS dcg
         |  FROM lsh l LEFT JOIN exact e
         |    ON e.q_id = l.q_id AND e.vec_id = l.vec_id
         |  GROUP BY 1),
         |ideal AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 10),
         |    i -> CAST(11 - i AS DOUBLE) / log2(CAST(i + 1 AS DOUBLE)))),
         |  (a, x) -> a + x) AS idcg)
         |SELECT q_id, CAST(n_lsh AS BIGINT) AS n_lsh, round(dcg, 6) AS dcg,
         |round(dcg / ideal.idcg, 6) AS ndcg_at_10
         |FROM d, ideal
         |ORDER BY q_id NULLS FIRST""".stripMargin
    },

    "q279_label_balance" ->
      """WITH lc AS (
        |  SELECT label, count(*) AS c FROM embeddings GROUP BY 1),
        |f AS (
        |  SELECT count(*) AS n_labels, sum(c) AS n_vecs,
        |  min(c) AS min_count, max(c) AS max_count,
        |  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
        |  FROM lc)
        |SELECT CAST(n_labels AS BIGINT) AS n_labels,
        |CAST(n_vecs AS BIGINT) AS n_vecs,
        |CAST(min_count AS BIGINT) AS min_count,
        |CAST(max_count AS BIGINT) AS max_count,
        |round(CAST(max_count AS DOUBLE) / min_count + 1e-12, 6)
        |  AS imbalance_ratio,
        |round(exp(ln(CAST(n_vecs AS DOUBLE)) - clnc / n_vecs), 6)
        |  AS effective_classes
        |FROM f""".stripMargin,

    "q205_ann_recall" -> {
      def proj(p: Int, v: String) = {
        val plane = (0 until 64).map(d => s"${srpCoef(p, d)}").mkString("[", ", ", "]")
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |    i -> cast($v[i] AS DOUBLE) * ($plane::DOUBLE[])[i])""".stripMargin)
      }
      val bucket = (0 until 8).map(p =>
        s"(CASE WHEN ${proj(p, "embedding")} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT vec_id, embedding, CAST($bucket AS BIGINT) AS bucket
         |  FROM embeddings),
         |anchors AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, bucket AS q_bucket
         |  FROM b WHERE vec_id < 20),
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT a.q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY a.q_id
         |      ORDER BY round(${duckCos("b.embedding", "a.q_emb")}, 6)
         |        DESC NULLS LAST, b.vec_id) AS rk
         |    FROM b CROSS JOIN anchors a WHERE b.vec_id <> a.q_id)
         |  WHERE rk <= 10),
         |probes AS (
         |  SELECT q_id, q_emb,
         |  CASE WHEN f = -1 THEN q_bucket
         |       ELSE xor(q_bucket, (CAST(1 AS BIGINT) << f)) END AS pb
         |  FROM anchors, unnest([-1, 0, 1, 2, 3, 4, 5, 6, 7]) AS u(f)),
         |lsh AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, b.vec_id,
         |    row_number() OVER (PARTITION BY p.q_id
         |      ORDER BY round(${duckCos("b.embedding", "p.q_emb")}, 6)
         |        DESC NULLS LAST, b.vec_id) AS rk
         |    FROM b JOIN probes p ON b.bucket = p.pb WHERE b.vec_id <> p.q_id)
         |  WHERE rk <= 10)
         |SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |CAST(count(l.vec_id) AS BIGINT) AS hits,
         |round(count(l.vec_id) / 10.0 + 1e-12, 4) AS recall
         |FROM exact e LEFT JOIN lsh l
         |  ON l.q_id = e.q_id AND l.vec_id = e.vec_id
         |GROUP BY 1
         |ORDER BY e.q_id NULLS FIRST""".stripMargin
    },

    // per-(label, pos) means, pos-keyed dot folds, norm folds — the
    // same aggregation tree as the Spark plan
    "q306_label_separation" ->
      """WITH g AS (
        |  SELECT CAST(label AS BIGINT) AS label, pos,
        |  avg(CAST(embedding[pos] AS DOUBLE)) AS m
        |  FROM embeddings, unnest(generate_series(1, 64)) AS t(pos)
        |  GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.label AS l1, b.label AS l2, sum(a.m * b.m) AS dot
        |  FROM g a JOIN g b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2),
        |norms AS (SELECT label, sqrt(sum(m * m)) AS nrm FROM g GROUP BY 1)
        |SELECT l1, l2, round(dot / (x.nrm * y.nrm), 6) AS centroid_cos
        |FROM dots
        |JOIN norms x ON x.label = l1
        |JOIN norms y ON y.label = l2
        |ORDER BY l1 NULLS FIRST, l2 NULLS FIRST""".stripMargin,

    // the audit cells' 5 nearest block neighbours (duckBlockKnn), the
    // 5th-neighbor distance, cell average, ratio rank
    "q296_knn_outlier" ->
      s"""WITH ${duckBlockKnn(5)},
         |dk AS (SELECT cent_id, vec_id, d6 AS dk FROM knn WHERE rn = 5),
         |ca AS (SELECT cent_id, avg(dk) AS avg_dk FROM dk GROUP BY 1)
         |SELECT vec_id, dk.cent_id AS cent_id, dk,
         |round(dk / avg_dk + 1e-12, 6) AS outlier_ratio
         |FROM dk JOIN ca ON ca.cent_id = dk.cent_id
         |ORDER BY outlier_ratio DESC NULLS LAST, vec_id NULLS FIRST
         |LIMIT 10""".stripMargin,

    // the audit cells, the same k-bounded census fold;
    // imbalance = max * cells / vectors, left-assoc
    "q399_ivf_balance" ->
      s"""WITH ${duckAuditCells("assigned")},
         |cs AS (SELECT cent_id, count(*) AS n FROM assigned GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |CAST(sum(n) AS BIGINT) AS n_vectors,
         |CAST(min(n) AS BIGINT) AS cell_min,
         |CAST(max(n) AS BIGINT) AS cell_max,
         |round(max(n) * 1.0 * count(*) / sum(n) + 1e-12, 6) AS imbalance
         |FROM cs""".stripMargin,

    // the same sequential x2-fold (bitwise-mirrored), the same r6 grid
    // for every stat, the same nudged 1-row mean threshold
    "q394_norm_census" -> {
      val fold = duckFoldSum(
        """list_transform(generate_series(1, 64),
          |    i -> cast(embedding[i] AS DOUBLE) * cast(embedding[i] AS DOUBLE))"""
          .stripMargin)
      s"""WITH e AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |  round(sqrt($fold), 6) AS n6
         |  FROM embeddings),
         |g AS (SELECT round(avg(n6) + 1e-12, 6) AS gmean FROM e)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         |min(n6) AS norm_min,
         |round(avg(n6) + 1e-12, 6) AS norm_mean,
         |max(n6) AS norm_max,
         |CAST(count(*) FILTER (n6 < g.gmean / 2) AS BIGINT)
         |  AS n_below_half_mean
         |FROM e CROSS JOIN g
         |GROUP BY label
         |ORDER BY label NULLS FIRST""".stripMargin
    },

    // the 10 nearest block neighbours, one count per NEIGHBOR,
    // zero-occurrence vectors censused via the left join
    "q387_hubness" ->
      s"""WITH ${duckBlockKnn(10)},
         |o AS (SELECT nb, count(*) AS occ FROM knn GROUP BY 1)
         |SELECT CAST(coalesce(o.occ, 0) AS BIGINT) AS k_occurrence,
         |CAST(count(*) AS BIGINT) AS n_vectors
         |FROM embeddings e LEFT JOIN o ON o.nb = e.vec_id
         |GROUP BY 1
         |ORDER BY k_occurrence NULLS FIRST""".stripMargin,

    // the same cell/block pair domain; signatures from the same
    // srpCoef hyperplane literals and the same sequential dot fold, so
    // every sign bit — and therefore every hamming value — agrees
    "q389_srp_calibration" -> {
      def proj(p: Int, v: String) = {
        val plane = (0 until 64).map(d => s"${srpCoef(p, d)}").mkString("[", ", ", "]")
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |    i -> cast($v[i] AS DOUBLE) * ($plane::DOUBLE[])[i])""".stripMargin)
      }
      val sig = (0 until 16).map(p =>
        s"(CASE WHEN ${proj(p, "embedding")} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $duckBlocks,
         |sg AS (
         |  SELECT vec_id, CAST($sig AS BIGINT) AS sig FROM embeddings),
         |pairs AS (
         |  SELECT bit_count(xor(x.sig, y.sig)) AS hamming,
         |  round(${duckCos("a.embedding", "b.embedding")}, 6) AS cs6
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.blk = b.blk
         |    AND a.vec_id < b.vec_id
         |  JOIN sg x ON x.vec_id = a.vec_id
         |  JOIN sg y ON y.vec_id = b.vec_id)
         |SELECT CAST(hamming AS BIGINT) AS hamming,
         |CAST(count(*) AS BIGINT) AS n_pairs,
         |min(cs6) AS cos_min,
         |round(avg(cs6) + 1e-12, 6) AS cos_mean,
         |max(cs6) AS cos_max,
         |round(count(*) FILTER (cs6 >= 0.3) * 1.0 / count(*) + 1e-12, 6)
         |  AS ge03_share
         |FROM pairs GROUP BY 1
         |ORDER BY hamming NULLS FIRST""".stripMargin
    },

    // the audit cells trained from first principles (duckAuditCells)
    "q86_semdedup" ->
      s"""WITH ${duckAuditCells("assigned")}
         |SELECT d1, d2, round(cs, 6) AS cos_sim FROM (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2,
         |  ${duckCos("a.embedding", "b.embedding")} AS cs
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
         |WHERE cs >= 0.3
         |ORDER BY d1 NULLS FIRST, d2 NULLS FIRST""".stripMargin,

    "q57_ann_ivf" ->
      s"""WITH ${duckAuditCells("assigned")},
         |qcells AS (
         |  SELECT cent_id FROM ks3 WHERE vec_id = 0
         |  ORDER BY csim DESC NULLS LAST, cent_id NULLS FIRST LIMIT 2),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(cs, 6) AS cos_sim FROM (
         |  SELECT a.vec_id, ${duckCos("a.embedding", "q.q_emb")} AS cs
         |  FROM assigned a JOIN qcells USING (cent_id) CROSS JOIN q
         |  WHERE a.vec_id <> 0)
         |ORDER BY cs DESC NULLS LAST, vec_id NULLS FIRST LIMIT 10""".stripMargin,

    // band filter + rank both on the ROUNDED score, exactly as Spark
    "q182_hard_negatives" ->
      s"""SELECT q_id, rnk, vec_id AS neg_id, cs6 AS cos_sim FROM (
         |  SELECT q_id, vec_id, cs6,
         |  cast(row_number() OVER (PARTITION BY q_id
         |    ORDER BY cs6 DESC NULLS LAST, vec_id NULLS FIRST) AS BIGINT) AS rnk
         |  FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id, round($duckCosine, 6) AS cs6
         |    FROM embeddings e
         |    CROSS JOIN (SELECT vec_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < 20) q
         |    WHERE e.vec_id <> q.vec_id)
         |  WHERE cs6 >= 0.3 AND cs6 < 0.8)
         |WHERE rnk <= 3
         |ORDER BY q_id NULLS FIRST, rnk NULLS FIRST""".stripMargin,

    "q43_knn_join" ->
      s"""SELECT q_id, vec_id AS neighbor_id, rank, round(cs, 6) AS cos_sim FROM (
         |  SELECT q_id, vec_id, cs,
         |  cast(row_number() OVER (PARTITION BY q_id ORDER BY cs DESC NULLS LAST, vec_id NULLS FIRST) AS BIGINT) AS rank
         |  FROM (
         |    SELECT q.vec_id AS q_id, e.vec_id, $duckCosine AS cs
         |    FROM embeddings e
         |    CROSS JOIN (SELECT vec_id, embedding AS q_emb FROM embeddings WHERE vec_id < 50) q
         |    WHERE e.vec_id <> q.vec_id))
         |WHERE rank <= 3
         |ORDER BY q_id NULLS FIRST, rank NULLS FIRST""".stripMargin,

    // chunk vectors, both arms, and the recall fold rebuilt from first
    // principles: q104's chunk windows, the q36 sha hex-fold token
    // hash, the integer token-vector formula, prepend-0 cosine folds,
    // q44's plane literals, and the r6-rounded rank order
    "q231_chunk_retrieval" -> {
      val hexFold = (t: String) =>
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(string_split(substr(sha256($t), 1, 15), ''),
           |      c -> CAST(CASE WHEN c BETWEEN '0' AND '9' THEN ord(c) - 48
           |                ELSE ord(c) - 87 END AS BIGINT))),
           |    (acc, x) -> acc * 16 + x)""".stripMargin
      val pooled = (hsCol: String) =>
        s"""list_transform(generate_series(1, 64), i ->
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform($hsCol, h -> (h % 100003) * i % 2003 - 1001)),
           |      (a, x) -> a + x) / CAST(len($hsCol) AS DOUBLE))""".stripMargin
      def proj(p: Int, v: String) = {
        val plane = (0 until 64).map(d => s"${srpCoef(p, d)}").mkString("[", ", ", "]")
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |    i -> $v[i] * ($plane::DOUBLE[])[i])""".stripMargin)
      }
      def bucket(v: String) = (0 until 8).map(p =>
        s"(CASE WHEN ${proj(p, v)} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (
         |  SELECT doc_id, n_tok, toks, unnest(list_transform(
         |    generate_series(1, CAST(n_tok AS INT), 48),
         |    s -> {'ci': (s - 1) // 48 + 1, 'start': s})) AS u
         |  FROM t),
         |hv AS (
         |  SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_ix,
         |  list_transform(toks[CAST(u.start AS INT) :
         |    CAST(least(u.start + 63, n_tok) AS INT)],
         |    t -> ${hexFold("t")}) AS hs
         |  FROM c),
         |vec AS (
         |  SELECT doc_id, chunk_ix, ${pooled("hs")} AS cv FROM hv),
         |qh AS (
         |  SELECT doc_id AS q_id, list_transform(toks, t -> ${hexFold("t")}) AS hs
         |  FROM t WHERE doc_id < 3),
         |qv AS (SELECT q_id, ${pooled("hs")} AS qv FROM qh),
         |ex AS (
         |  SELECT q_id, doc_id, chunk_ix FROM (
         |    SELECT q.q_id, v.doc_id, v.chunk_ix,
         |    row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY round(${duckCos("v.cv", "q.qv")}, 6) DESC NULLS LAST,
         |        v.doc_id NULLS FIRST, v.chunk_ix NULLS FIRST) AS rk
         |    FROM vec v CROSS JOIN qv q)
         |  WHERE rk <= 10),
         |cb AS (
         |  SELECT doc_id, chunk_ix, cv, CAST(${bucket("cv")} AS BIGINT) AS bucket
         |  FROM vec),
         |probes AS (
         |  SELECT q_id, qv, CASE WHEN f = -1 THEN q_bucket
         |                ELSE xor(q_bucket, (CAST(1 AS BIGINT) << f)) END AS pb
         |  FROM (SELECT q_id, qv, CAST(${bucket("qv")} AS BIGINT) AS q_bucket FROM qv),
         |  unnest([-1, 0, 1, 2, 3, 4, 5, 6, 7]) AS u(f)),
         |cand AS (
         |  SELECT p.q_id, cb.doc_id, cb.chunk_ix,
         |  round(${duckCos("cb.cv", "p.qv")}, 6) AS cs6
         |  FROM cb JOIN probes p ON cb.bucket = p.pb),
         |ap AS (
         |  SELECT q_id, doc_id, chunk_ix FROM (
         |    SELECT q_id, doc_id, chunk_ix,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cs6 DESC NULLS LAST,
         |        doc_id NULLS FIRST, chunk_ix NULLS FIRST) AS rk
         |    FROM cand)
         |  WHERE rk <= 10),
         |folded AS (
         |  SELECT e.q_id, count(*) AS n_exact,
         |  sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS hits
         |  FROM ex e LEFT JOIN ap a
         |    ON a.q_id = e.q_id AND a.doc_id = e.doc_id AND a.chunk_ix = e.chunk_ix
         |  GROUP BY 1),
         |cc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY 1)
         |SELECT f.q_id, CAST(f.n_exact AS BIGINT) AS n_exact, cc.n_cand,
         |CAST(f.hits AS BIGINT) AS hits,
         |round(f.hits * 1.0 / f.n_exact + 1e-12, 4) AS recall_at_10
         |FROM folded f JOIN cc ON cc.q_id = f.q_id
         |ORDER BY f.q_id NULLS FIRST""".stripMargin
    },

    // same sha-picked real probes, sha-derived synthetic coordinates
    // (q134's hex fold), and dim-ordered NN distance folds
    "q341_hopkins" ->
      """WITH c AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
        |    AS v
        |  FROM embeddings),
        |bounds AS (
        |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM c, unnest(generate_series(1, 64)) AS t(i) GROUP BY 1),
        |rp AS (
        |  SELECT vec_id AS pid, v AS pv FROM (
        |    SELECT vec_id, v,
        |    substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15) AS hk
        |    FROM c ORDER BY hk, vec_id LIMIT 50)),
        |sgrid AS (SELECT unnest(generate_series(1, 50)) AS sid),
        |syn0 AS (
        |  SELECT g.sid, b.i,
        |  b.mn + (b.mx - b.mn) *
        |    (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(substr(sha256(
        |        'hop' || CAST(g.sid AS VARCHAR) || '_'
        |          || CAST(b.i - 1 AS VARCHAR)), 1, 15), ''),
        |        c2 -> CAST(CASE WHEN c2 BETWEEN '0' AND '9'
        |          THEN ord(c2) - 48 ELSE ord(c2) - 87 END AS BIGINT))),
        |      (acc, x) -> acc * 16 + x) AS DOUBLE)
        |      / 1152921504606846976.0) AS coord
        |  FROM bounds b, sgrid g),
        |syn AS (
        |  SELECT -sid AS pid, list(coord ORDER BY i) AS pv
        |  FROM syn0 GROUP BY 1),
        |probes AS (
        |  SELECT pid, pv FROM rp UNION ALL SELECT pid, pv FROM syn),
        |nn AS (
        |  SELECT p.pid,
        |  min(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(generate_series(1, 64),
        |      i -> (c.v[i] - p.pv[i]) * (c.v[i] - p.pv[i]))),
        |    (acc, d) -> acc + d)) AS nn2
        |  FROM probes p JOIN c ON c.vec_id <> p.pid
        |  GROUP BY 1)
        |SELECT CAST(50 AS BIGINT) AS m,
        |round(sum(sqrt(nn2)) FILTER (pid < 0) + 1e-12, 6) AS sum_u,
        |round(sum(sqrt(nn2)) FILTER (pid >= 0) + 1e-12, 6) AS sum_w,
        |round(sum(sqrt(nn2)) FILTER (pid < 0)
        |  / (sum(sqrt(nn2)) FILTER (pid < 0)
        |     + sum(sqrt(nn2)) FILTER (pid >= 0)) + 1e-12, 6) AS hopkins_h
        |FROM nn""".stripMargin,

    // the same driver-literal projections/phases, dim-ordered dot
    // folds, and the identical (2/D)·Σ squared-mean-gap combine
    "q345_mmd_embedding" -> {
      val D = 32
      val zs = (0 until D).map { f =>
        val arr = (0 until 64).map(d => s"${mmdCoef(f, d)}")
          .mkString("[", ", ", "]::DOUBLE[]")
        val phase = math.Pi * (mmdCoef(f, 64) + 1.0)
        s"""cos(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(generate_series(1, 64),
           |      i -> CAST(embedding[i] AS DOUBLE) * ($arr)[i])),
           |    (acc, v) -> acc + v) + $phase) AS z$f""".stripMargin
      }.mkString(",\n")
      val ms = (0 until D).map(f => s"avg(z$f) AS m$f").mkString(", ")
      val sq = (0 until D).map(f => s"(a.m$f - b.m$f) * (a.m$f - b.m$f)")
        .mkString(" + ")
      s"""WITH z AS (
         |  SELECT label < 5 AS ga,
         |$zs
         |  FROM embeddings),
         |m AS (SELECT ga, count(*) AS n, $ms FROM z GROUP BY 1)
         |SELECT CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
         |CAST(32 AS BIGINT) AS d_features,
         |round(2.0 / 32 * ($sq) + 1e-12, 6) AS mmd2
         |FROM m a, m b WHERE a.ga AND NOT b.ga""".stripMargin
    },

    // same upper-triangle moment grid, identical sp/n − (s1/n)(s1/n)
    // cell order and ×2 off-diagonal Frobenius weights
    "q350_effective_rank" ->
      """WITH e AS (SELECT embedding FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM e),
        |mu AS (
        |  SELECT i, sum(CAST(embedding[i] AS DOUBLE)) AS s1
        |  FROM e CROSS JOIN range(1, 65) t(i) GROUP BY i),
        |mom AS (
        |  SELECT g1.i AS i, g2.j AS j,
        |  sum(CAST(embedding[g1.i] AS DOUBLE)
        |    * CAST(embedding[g2.j] AS DOUBLE)) AS sp
        |  FROM e
        |  CROSS JOIN range(1, 65) g1(i) CROSS JOIN range(1, 65) g2(j)
        |  WHERE g2.j >= g1.i GROUP BY 1, 2),
        |c AS (
        |  SELECT m.i, m.j,
        |  m.sp / n.n - (a.s1 / n.n) * (b.s1 / n.n) AS cij,
        |  CASE WHEN m.i = m.j THEN 1.0 ELSE 2.0 END AS w
        |  FROM mom m, n, mu a, mu b WHERE a.i = m.i AND b.i = m.j)
        |SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_vectors,
        |CAST(64 AS BIGINT) AS dim,
        |round(sum(CASE WHEN i = j THEN cij END) + 1e-12, 6) AS cov_trace,
        |round(sum(w * cij * cij) + 1e-12, 6) AS cov_fro2,
        |round(sum(CASE WHEN i = j THEN cij END)
        |  * sum(CASE WHEN i = j THEN cij END)
        |  / sum(w * cij * cij) + 1e-12, 6) AS effective_rank
        |FROM c""".stripMargin,

    // the IVF model trained from first principles (duckIvfCells), then
    // the identical r6-grid cell ranking, exact-top-10 cut and
    // per-nprobe folds
    "q362_ivf_nprobe_curve" ->
      s"""WITH $duckIvfCells,
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |cr AS (
         |  SELECT c.cent_id,
         |  round(${duckCos("q.q_emb", "c.cent")}, 6) AS csim
         |  FROM c2 c CROSS JOIN q),
         |ranks AS (
         |  SELECT cent_id, CAST(row_number() OVER (
         |    ORDER BY csim DESC NULLS LAST, cent_id NULLS FIRST) AS BIGINT)
         |    AS cell_rank
         |  FROM cr),
         |sc AS (
         |  SELECT a.vec_id, r.cell_rank,
         |  round(${duckCos("a.embedding", "q.q_emb")}, 6) AS cs
         |  FROM a3 a JOIN ranks r USING (cent_id) CROSS JOIN q),
         |e10 AS (
         |  SELECT vec_id FROM sc
         |  ORDER BY cs DESC NULLS LAST, vec_id NULLS FIRST LIMIT 10),
         |nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
         |scanned AS (
         |  SELECT nprobe,
         |  CAST(count(*) FILTER (cell_rank <= nprobe) AS BIGINT) AS n_scanned
         |  FROM sc, nps GROUP BY 1),
         |hits AS (
         |  SELECT nprobe,
         |  CAST(count(*) FILTER (cell_rank <= nprobe) AS BIGINT) AS n_hits10
         |  FROM sc JOIN e10 USING (vec_id), nps GROUP BY 1)
         |SELECT s.nprobe, s.n_scanned, h.n_hits10,
         |round(h.n_hits10 / 10.0 + 1e-12, 6) AS recall_at_10
         |FROM scanned s JOIN hits h ON h.nprobe = s.nprobe
         |ORDER BY s.nprobe NULLS FIRST""".stripMargin,

    // same rounded-cosine top-20 candidate cut, then the identical
    // greedy λ·rel − (1−λ)·max-sim rounds over the r6 grid
    "q360_mmr_rerank" -> {
      val rounds = (2 to 5).map { k =>
        s"""m$k AS (
           |  SELECT c.vec_id, c.embedding, c.rel,
           |  max(round(${duckCos("c.embedding", "s.embedding")}, 6)) AS ms
           |  FROM cand c, sel${k - 1} s
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
           |  GROUP BY 1, 2, 3),
           |p$k AS (
           |  SELECT vec_id, embedding, rel,
           |  round(0.7 * rel - 0.3 * ms + 1e-12, 6) AS sc
           |  FROM m$k ORDER BY sc DESC, vec_id LIMIT 1),
           |sel$k AS (SELECT vec_id, embedding FROM sel${k - 1}
           |  UNION ALL SELECT vec_id, embedding FROM p$k)""".stripMargin
      }.mkString(",\n")
      val sels = (1 to 5).map { k =>
        s"""SELECT CAST($k AS BIGINT) AS rank, vec_id,
           |rel AS relevance, sc AS mmr_score FROM p$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, embedding,
         |  round(${duckCos("embedding", "qe")}, 6) AS rel
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 20),
         |p1 AS (
         |  SELECT vec_id, embedding, rel,
         |  round(0.7 * rel + 1e-12, 6) AS sc
         |  FROM cand ORDER BY sc DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT vec_id, embedding FROM p1),
         |$rounds
         |$sels
         |ORDER BY rank NULLS FIRST""".stripMargin
    },

    // same sequential dot/cosine/norm folds (bit-compatible), same
    // r6-before-rank discipline, same id tie-breaks
    "q403_dot_cosine_rank_bias" -> {
      def dotFold(a: String, b: String) =
        duckFoldSum(s"""list_transform(generate_series(1, 64),
           |  i -> cast($a[i] AS DOUBLE) * cast($b[i] AS DOUBLE))""".stripMargin)
      s"""WITH q AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |  round(${dotFold("e.embedding", "q.q_emb")}, 6) AS dot6,
         |  round(${duckCos("e.embedding", "q.q_emb")}, 6) AS cs6,
         |  sqrt(${dotFold("e.embedding", "e.embedding")}) AS norm
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |topd AS (
         |  SELECT q_id, vec_id, norm AS norm_d FROM (
         |    SELECT q_id, vec_id, norm, row_number() OVER (
         |      PARTITION BY q_id ORDER BY dot6 DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 20),
         |topc AS (
         |  SELECT q_id, vec_id, norm AS norm_c FROM (
         |    SELECT q_id, vec_id, norm, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cs6 DESC, vec_id) AS rn
         |    FROM scored) WHERE rn <= 20),
         |j AS (
         |  SELECT coalesce(d.q_id, c.q_id) AS q_id, d.norm_d, c.norm_c
         |  FROM topd d FULL OUTER JOIN topc c
         |    ON d.q_id = c.q_id AND d.vec_id = c.vec_id)
         |SELECT q_id,
         |CAST(count(CASE WHEN norm_d IS NOT NULL AND norm_c IS NOT NULL
         |  THEN 1 END) AS BIGINT) AS n_overlap,
         |round(avg(norm_d) + 1e-12, 6) AS mean_norm_dot,
         |round(avg(norm_c) + 1e-12, 6) AS mean_norm_cos
         |FROM j GROUP BY 1
         |ORDER BY q_id NULLS FIRST""".stripMargin
    },

    // the q387 neighbour lists plus the reversed-key probe
    "q404_mutual_knn_rate" ->
      s"""WITH ${duckBlockKnn(10)},
         |mut AS (
         |  SELECT x.cent_id, count(*) AS nm
         |  FROM knn x JOIN knn y ON x.vec_id = y.nb AND x.nb = y.vec_id
         |  GROUP BY 1),
         |base AS (
         |  SELECT cent_id, count(DISTINCT vec_id) AS nv, count(*) AS ne
         |  FROM knn GROUP BY 1)
         |SELECT CAST(b.cent_id AS BIGINT) AS cent_id,
         |CAST(nv AS BIGINT) AS n_vectors, CAST(ne AS BIGINT) AS n_edges,
         |CAST(coalesce(m.nm, 0) AS BIGINT) AS n_mutual_directed,
         |round(coalesce(m.nm, 0) / CAST(ne AS DOUBLE) + 1e-12, 6)
         |  AS mutual_rate
         |FROM base b LEFT JOIN mut m ON m.cent_id = b.cent_id
         |ORDER BY cent_id NULLS FIRST""".stripMargin
  )
}
