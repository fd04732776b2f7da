package graft.llm

import graft.{SparkSuite, SparkEntry}
import org.apache.spark.sql.functions._

/** q413 (exact duplicated-run extraction) — the structural pin the
  * round-13 verdict asked for: a cross-doc duplicated SPAN at SHIFTED
  * offsets that the chunk-aligned census (q364, non-overlapping
  * 32-token chunk hashes) and the winnowing fingerprint (q152,
  * 64-token windows at stride 48, min-sha per window) both MISS, and
  * only the positional-streak extraction catches.
  *
  * Fixture construction: two 100-token documents sharing one verbatim
  * 40-token span, inserted at token offset 9 in doc 0 and offset 26 in
  * doc 1 (the 17-token shift is not ≡ 0 mod 32, so no aligned chunk
  * can repeat). Every other token is globally unique. q364 misses
  * structurally; q152's miss additionally requires each span-touching
  * window's MIN-sha shingle to come from the window's unique text, so
  * the builder brute-forces one LOW-sha unique triple per region
  * (distinct triples per doc — a shared low triple would itself become
  * a matching fingerprint) until its sha undercuts every span
  * shingle's. Deterministic: the search is over a fixed candidate
  * sequence with no RNG.
  */
class DupRunSpec extends SparkSuite {

  private def sha(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private val span: Seq[String] = (1 to 40).map(j => s"spantok$j")
  private val spanMinSha: String =
    span.sliding(3).map(w => sha(w.mkString(" "))).min

  /** First triple (p_x_i, p_y_i, p_z_i) whose 3-shingle sha undercuts
    * every span shingle — guarantees the containing q152 window's
    * fingerprint comes from this doc's UNIQUE text, never the span. */
  private def lowTriple(prefix: String): Seq[String] = {
    Iterator.from(0).map { i =>
      val t = Seq(s"${prefix}x$i", s"${prefix}y$i", s"${prefix}z$i")
      (t, sha(t.mkString(" ")))
    }.collectFirst { case (t, h) if h < spanMinSha => t }.get
  }

  private lazy val fixtureDir: String = {
    val dir = tempFixture("graft_duprun")
    val tA = lowTriple("ua") // doc 0, window 1-64
    val tB = lowTriple("ub") // doc 1, window 1-64
    val tB2 = lowTriple("uc") // doc 1, window 49-100
    def uniq(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    // doc 0: [lowA 1-3][unique 4-8][span 9-48][unique 49-100]
    val doc0 = tA ++ uniq("fa", 5) ++ span ++ uniq("fb", 52)
    // doc 1: [lowB 1-3][unique 4-25][span 26-65][unique 66-69]
    //        [lowB2 70-72][unique 73-100]
    val doc1 = tB ++ uniq("fc", 22) ++ span ++ uniq("fd", 4) ++ tB2 ++
      uniq("fe", 28)
    assert(doc0.size == 100 && doc1.size == 100)
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "web"),
        (1L, doc1.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("the shifted span is extracted with its exact extent and spread") {
    val catalog = SparkEntry.queries("q413_dup_run_extraction")(
      spark, fixtureDir).collect()
    assert(catalog.length == 1,
      s"exactly the span should be catalogued, got ${catalog.toSeq}")
    val r = catalog.head
    assert(r.getAs[Long]("run_tokens") == 40L,
      "the maximal duplicated extent is the full 40-token span")
    assert(r.getAs[Long]("n_docs") == 2L && r.getAs[Long]("n_sites") == 2L)
    assert(r.getAs[Long]("first_doc") == 0L)
    // run identity is the exact span content, independent of offset
    assert(r.getAs[String]("run_fp") ==
      sha(span.mkString(" ")).substring(0, 16))
  }

  test("the chunk-aligned census (q364) misses the shifted span") {
    val rows = SparkEntry.queries("q364_chunk_dedup")(spark, fixtureDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup_chunks") == 0L,
        "a 17-token shift breaks every aligned 32-token chunk hash — " +
          "q364 must report zero duplicated chunks here")
    }
  }

  test("the winnowing fingerprint (q152) misses the shifted span") {
    val rows = SparkEntry.queries("q152_boilerplate_chunks")(spark, fixtureDir)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_boiler") == 0L,
        "every span-touching window's min-sha comes from unique text " +
          "by construction — q152 must report zero boilerplate chunks")
    }
  }

  test("q414: the shifted span is cross-source contamination when sources differ") {
    // same two-doc fixture, but the docs in different sources: the
    // span must surface as exactly one shared run for that source pair
    val dir = tempFixture("graft_duprun4")
    val tA = lowTriple("va"); val tB = lowTriple("vb"); val tB2 = lowTriple("vc")
    def uniq(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")
    val doc0 = tA ++ uniq("ha", 5) ++ span ++ uniq("hb", 52)
    val doc1 = tB ++ uniq("hc", 22) ++ span ++ uniq("hd", 4) ++ tB2 ++
      uniq("he", 28)
    import spark.implicits._
    Seq((0L, doc0.mkString(" "), "en", "crawl"),
        (1L, doc1.mkString(" "), "en", "benchmark"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q414_cross_source_contamination")(
      spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("source_a") == "benchmark" &&
      r.getAs[String]("source_b") == "crawl")
    assert(r.getAs[Long]("n_shared_runs") == 1L)
    assert(r.getAs[Long]("max_run_tokens") == 40L &&
      r.getAs[Long]("shared_token_mass") == 40L)
  }

  test("q415: coverage counts distinct positions, never double-counting overlaps") {
    // the two-doc fixture: each doc's covered mass is exactly the
    // span's 40 tokens out of 100 raw tokens; per-source shares follow
    val rows = SparkEntry.queries("q415_dup_removal_census")(
      spark, fixtureDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_docs") == 2L &&
      r.getAs[Long]("total_tokens") == 200L)
    assert(r.getAs[Long]("covered_tokens") == 80L,
      "each doc's covered mass is exactly the 40-token span")
    assert(r.getAs[Long]("n_docs_hit") == 2L)
    assert(math.abs(r.getAs[Double]("covered_share") - 0.4) < 1e-6)
  }

  test("q416: the planner curve is monotone and ties out to the q413 catalog") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q416_dup_run_planner")(spark, sf01)
      .collect().sortBy(_.getAs[Long]("cut"))
    assert(rows.map(_.getAs[Long]("cut")).toSeq == Seq(10L, 20L, 40L, 80L))
    // raising the cut can only shrink every count
    Seq("n_runs", "run_token_mass", "n_docs_hit").foreach { c =>
      rows.map(_.getAs[Long](c)).toSeq.sliding(2).foreach {
        case Seq(lo, hi) => assert(hi <= lo, s"$c must be cut-monotone")
        case _ => ()
      }
    }
    rows.foreach { r =>
      val s = r.getAs[Double]("mass_share")
      assert(s >= 0.0 && s <= 1.0)
    }
    // the cut-20 row IS the committed extraction's site census
    val catalog = SparkEntry.queries("q413_dup_run_extraction")(spark, sf01)
      .collect()
    assert(rows(1).getAs[Long]("n_runs") ==
      catalog.map(_.getAs[Long]("n_sites")).sum,
      "planner cut=20 must count exactly the q413 catalog's sites")
  }

  test("q417: classes are well-formed and census the >= 0.5 pair store") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q417_copy_vs_template")(spark, sf01)
      .collect()
    assert(rows.nonEmpty)
    val classes = rows.map(_.getAs[String]("dup_class")).toSet
    assert(classes.subsetOf(Set("verbatim", "partial", "template")))
    rows.foreach { r =>
      val mlr = r.getAs[Double]("mean_longest_run")
      r.getAs[String]("dup_class") match {
        case "verbatim" => assert(mlr >= 20.0)
        case "partial" => assert(mlr >= 5.0 && mlr < 20.0)
        case _ => assert(mlr >= 3.0 && mlr < 5.0,
          "any pair sharing a distinct shingle has a >= 3-token run")
      }
      assert(r.getAs[Double]("mean_jaccard") >= 0.5 - 1e-9)
    }
    val served = PairGraph.jaccard(spark, sf01, 0.5).count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == served,
      "classes must partition the store-served >= 0.5 pair set")
  }

  test("within-doc repetition counts as duplication (ExactSubstr reading)") {
    // one doc, one 25-token phrase occurring twice: both sites are
    // duplicated (df >= 2 within a single doc), so the catalog has one
    // entry with n_sites = 2 and n_docs = 1
    val dir = tempFixture("graft_duprun2")
    val phrase = (1 to 25).map(j => s"ph$j")
    val doc = (1 to 10).map(i => s"ga$i") ++ phrase ++
      (1 to 12).map(i => s"gb$i") ++ phrase ++ (1 to 10).map(i => s"gc$i")
    import spark.implicits._
    Seq((0L, doc.mkString(" "), "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val catalog = SparkEntry.queries("q413_dup_run_extraction")(spark, dir)
      .collect()
    assert(catalog.length == 1, s"got ${catalog.toSeq}")
    val r = catalog.head
    assert(r.getAs[Long]("run_tokens") == 25L)
    assert(r.getAs[Long]("n_sites") == 2L && r.getAs[Long]("n_docs") == 1L)
  }
}
