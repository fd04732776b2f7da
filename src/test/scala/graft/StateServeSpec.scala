package graft

import org.apache.spark.sql.functions._
import graft.llm.{Similarity, StateStores, TextDedup}

/** The round-9 serve-path contracts: queries that READ persisted state
  * (band index, IVF centroids, PQ codebooks) must (a) produce exactly
  * what the in-plan rebuild produces, (b) actually read the state
  * table in their executed plan, and (c) never re-derive the corpus
  * artifact on the serve side.
  */
class StateServeSpec extends SparkSuite {

  private def docs = Tables(spark, sf, "documents")
  private def corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
  private def snap = docs.filter(pmod(col("doc_id"), lit(10)) === 0)

  private lazy val bandPath: String = {
    val p = StateStores.servePath(sf, "band_serve_v1", "documents")
    StateStores.seedOnce(p) {
      StateStores.bandIndexRows(corpus).write.mode("overwrite").parquet(p)
    }
    p
  }

  test("servedCentroids read back bit-identical to direct training") {
    // q57/q86/q260/q296/q387/q389/q399/q404 read the persisted k=16
    // quantizer and q282/q362 the persisted IVF model instead of
    // retraining — sound only if parquet round-trips each model exactly
    def sameModel(served: Seq[(Long, Array[Double])],
        direct: Seq[(Long, Array[Double])], model: String): Unit = {
      assert(served.map(_._1) == direct.map(_._1),
        s"$model: store-served centroid ids differ from direct training")
      served.zip(direct).foreach { case ((ci, ca), (_, da)) =>
        assert(ca.sameElements(da),
          s"$model: centroid $ci coords differ between store and direct training")
      }
    }
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    sameModel(Similarity.servedCentroids(spark, sf),
      Similarity.trainKmeans(e, k = 16, iters = 2)._1, "audit cells")
    val corpus = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val ivf = Similarity.trainKmeans(corpus, k = 8, iters = 2,
      initPred = Some(col("vec_id").between(1, 8)))._1
    val (cents, assign) = StateStores.seedIvf(spark, sf)
    sameModel(cents, ivf, "IVF")
    def cells(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = cells(Similarity.assignCells(corpus, ivf))
    assert(want.nonEmpty && cells(assign) == want,
      "IVF: store-served assignments differ from assignCells over the final centroids")
  }

  test("q281: serve path ≡ in-plan rebuild (q151), row for row") {
    val served = StateStores.bandServe(spark, snap, corpus, bandPath).collect()
    val rebuilt = TextDedup.incrementalNearDup(snap, corpus).collect()
    assert(served.toSeq == rebuilt.toSeq,
      "reading the persisted band index must not change the result")
  }

  test("q281: the probe plan scans the state table and never re-derives the corpus index") {
    val plan = StateStores.bandServe(spark, snap, corpus, bandPath)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_state"),
      s"serve plan must contain a parquet scan of the state dir:\n$plan")
    // exactly ONE minhash signature derivation SITE — the snapshot's.
    // Cached subtrees reprint in the plan string, so count DISTINCT
    // input expr-ids, not raw occurrences: a second id means a second
    // derivation (the corpus index being rebuilt instead of read).
    // The in-plan q151 path has two sites (snapshot + corpus).
    val sites = "minhash_sig\\(shs#(\\d+)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSet
    assert(sites.size == 1,
      s"serve side must derive band keys for the snapshot only (saw $sites):\n$plan")
  }

  test("live band serve ≡ batch serve across a micro-batch boundary") {
    // stage the snapshot as TWO files + maxFilesPerTrigger=1, so the
    // two halves arrive in different micro-batches; each batch probes
    // the SAME persisted index the batch serve reads
    val dir = java.nio.file.Files.createTempDirectory("graft_serve_src")
    snap.filter(col("doc_id") % 20 === 0).coalesce(1).write.parquet(s"$dir/p0")
    snap.filter(col("doc_id") % 20 =!= 0).coalesce(1).write.parquet(s"$dir/p1")
    def move(sub: String, name: String): Unit = {
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$sub"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name"))
    }
    move("p0", "f0.parquet"); move("p1", "f1.parquet")
    val schema = spark.read.parquet(s"$dir/f0.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val out = java.nio.file.Files.createTempDirectory("graft_serve_out").toString
    val sq = streaming.EventStreams.bandServeSink(stream, corpus, bandPath, out)
    sq.processAllAvailable(); sq.stop()
    val batches = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(_.getFileName.toString.startsWith("batch=")).count()
    assert(batches >= 2, s"expected >= 2 micro-batches, saw $batches")
    val live = spark.read.parquet(out).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = StateStores.bandServe(spark, snap, corpus, bandPath).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live == batch,
      s"live-serve union diverges from the one-shot batch serve: " +
        s"only-live=${(live -- batch).take(5)} only-batch=${(batch -- live).take(5)}")
  }

  test("seedOnce: a completed seed is never re-written") {
    val p = java.nio.file.Files.createTempDirectory("graft_seed").resolve("s").toString
    var writes = 0
    StateStores.seedOnce(p) {
      writes += 1
      spark.range(3).write.mode("overwrite").parquet(p)
    }
    StateStores.seedOnce(p) { writes += 1 }
    assert(writes == 1, "second seedOnce on a committed store must be a no-op")
  }

  test("q284: codebooks read back from the store are bit-identical to direct training") {
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val corpusE = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val direct = Similarity.trainPq(corpusE, initIds = (1L to 4L).toList)
    val p = StateStores.servePath(sf, "pq_store_v1", "embeddings")
    StateStores.seedOnce(p) {
      import spark.implicits._
      direct.zipWithIndex.flatMap { case (book, j) =>
        book.flatMap { case (code, c) =>
          c.iterator.zipWithIndex.map { case (v, i) => (j, code, i.toLong, v) } } }
        .toSeq.toDF("sub", "code", "pos", "coord")
        .write.mode("overwrite").parquet(p)
    }
    val rows = spark.read.parquet(p).collect()
    val readBack = Array.tabulate(8) { j =>
      rows.filter(_.getInt(0) == j).groupBy(_.getInt(1)).toSeq
        .map { case (code, rs) =>
          (code, rs.sortBy(_.getLong(2)).map(_.getDouble(3)).toArray) }
        .sortBy(_._1)
    }
    assert(readBack.length == direct.length)
    direct.zip(readBack).foreach { case (a, b) =>
      assert(a.map(_._1) == b.map(_._1), "code ids must round-trip")
      a.zip(b).foreach { case ((_, ca), (_, cb)) =>
        assert(ca.sameElements(cb),
          "centroid doubles must round-trip bit-exactly through parquet")
      }
    }
  }

  test("q282: the serve query trains nothing — its plan reads both state tables") {
    val fn = SparkEntry.queries("q282_ivf_serve")
    val plan = fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ivf_serve_v1"),
      s"serve plan must scan the persisted IVF state:\n$plan")
    // the only embeddings access is the member fetch + the 1-row query
    // vector — no posexplode centroid re-estimation anywhere
    assert(!plan.contains("posexplode"),
      s"a posexplode in the serve plan means Lloyd is re-running:\n$plan")
  }
}
