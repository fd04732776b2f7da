package graft
/** Dev harness: run ONE named query with timing (and optionally dump
  * its parquet for tools/check_local.py). Not part of the driver
  * contract — Verify/Bench are; this exists so a single slow or
  * suspect query can be iterated on without a full 93-query sweep.
  *   runMain graft.One <name> <sfDir> [outDir] [reps]
  */
object One {
  def main(args: Array[String]): Unit = {
    // comma-separated names run back-to-back in one JVM, sharing the
    // warm session; oracle_sql.json accumulates every requested query
    // so one check_local.py call covers the whole batch.
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) Some(args(2)) else None
    // fail fast on a blank/whitespace outDir (round-15 verdict
    // What's-wrong #3: a shell-quoting accident passed '' and this
    // main happily mkdir'd a directory literally named '' at the repo
    // root, which then got committed and survived three hygiene
    // sweeps)
    outDir.foreach(d => require(d.trim.nonEmpty,
      "outDir is empty/blank — check shell quoting (a stray '' arg " +
        "creates a directory named '')"))
    val reps = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession.local("graft-one")
    // the Bench contention sentinel, printed before and after the
    // batch (round-16): standalone re-times on this host swing ±1 s
    // with neighbor load, and a measurement without its window
    // evidence is unusable for before/after comparisons
    def sentinel(): Double = {
      import org.apache.spark.sql.functions._
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(0L, 20000000L, 1L, 32)
          .select(sum(xxhash64(col("id")))).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    sentinel() // untimed codegen warm-up, the Bench stance
    println(f"[sentinel] pre: ${sentinel()}%.3f s")
    // jobs started per rep; GRAFT_JOBLOG=1 also prints each job's wall
    // time and first call-site line — the orchestration-cost profiler
    // for multi-job lifecycle queries (q321-class), where the flat cost
    // is job COUNT, not data volume.
    val jobLog = sys.env.get("GRAFT_JOBLOG").contains("1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (jobLog) starts.put(j.jobId, (System.nanoTime(), Option(j.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?")))
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
            println(f"[job] ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $site")
          }
        }
      })
    def jobsSoFar(): Int = {
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
      jobs.get
    }
    // generated classes compiled (Janino) so far in this JVM and their
    // total compile nanoseconds: a warm rep that compiles nothing reused
    // every class from Spark's JVM-wide cache (GraftSession sizes it)
    def codegen(): (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, {
        // a typo'd name should cost seconds, not a round-trip: rank all
        // registered queries by edit distance and print the 5 nearest
        def dist(a: String, b: String): Int = {
          val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
            if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to a.length; j <- 1 to b.length)
            d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
              d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          d(a.length)(b.length)
        }
        val near = SparkEntry.queries.keys.toSeq
          .sortBy(k => (dist(name, k), k)).take(5)
        spark.stop()
        sys.error(s"unknown query '$name'; did you mean: ${near.mkString(", ")}?")
      })
      (1 to reps).foreach { i =>
        val (c0, cNs0) = codegen()
        val j0 = jobsSoFar()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val (c1, cNs1) = codegen()
        println(f"[one] $name rep$i: $secs%.3f s ($n rows, ${jobsSoFar() - j0} jobs, " +
          f"${c1 - c0} classes compiled in ${(cNs1 - cNs0) / 1e6}%.0f ms)")
        spark.catalog.clearCache()
      }
      outDir.foreach { d =>
        new java.io.File(d).mkdirs()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
        spark.catalog.clearCache()
      }
    }
    println(f"[sentinel] post: ${sentinel()}%.3f s")
    outDir.foreach { d =>
      val q = (s: String) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t") + "\""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
