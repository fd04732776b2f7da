package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark process: one workload, one client thread, closed loop.
  *
  * {{{
  * Main --workload heal|queries --seed N --seconds S --trace 0|1
  *      --work DIR --start-ms EPOCH_MS [--cpus N] [--record FILE]
  * }}}
  *
  * Set-up: Spark session, input generation, then warm-up passes until
  * two consecutive passes agree within 10% (at most three). `setup_s`
  * runs from `--start-ms` (the launcher's start) to the first timed pass.
  *
  * Measurement: passes back to back until `--seconds` have elapsed (at
  * least two, or four when traced). With `--trace 1` the passes
  * alternate untraced and traced: the untraced ones give
  * `trace.overhead_s` by difference, the traced ones the per-layer
  * counters, and every span and job is written to
  * `DIR/trace-<workload>-<seed>.json`.
  *
  * The last stdout line is the result object; the line before it
  * describes the host (nproc, load average at start and end, and an
  * xxhash64 contention sentinel timed before and after the passes).
  */
object Main {

  /** Every per-layer metric, in a fixed order, with its unit. */
  val perLayer: Seq[(String, String)] =
    (Heal.layers ++ Queries.layers).flatMap(l => Seq(
      s"$l.jobs" -> "count", s"$l.job_s" -> "s", s"$l.driver_s" -> "s",
      s"$l.cpu_s" -> "s", s"$l.io_mb" -> "MB")) ++
      (Heal.extras ++ Seq("trace.pass_s", "trace.overhead_s", "trace.unattributed_s"))
        .map(_ -> "s") ++
      Seq("wall.pass_s" -> "s", "wall.op_s.geomean" -> "s", "wall.rows_per_s" -> "rows/s")

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val startMs = opt("start-ms").toDouble
    val cpus = opt.getOrElse("cpus", "4")
    val loadStart = loadavg()

    val spark = graft.GraftSession.local("perfbench", cpus, Map(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("spark-warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Tracer.nowMs() - startMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext, Heal.layers.toSet)
    spark.sparkContext.addSparkListener(tracer)

    val here = Paths.get("perfbench")
    val wl: Workload = workload match {
      case "heal" => new Heal(spark, tracer, work.resolve("heal"), seed,
        customers = 15000, replicas = 10)
      case "queries" => new Queries(spark, tracer, work.resolve("queries"), seed, sf = 0.01,
        Queries.loadExpected(here.resolve("expected").resolve("queries.tsv")))
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up ----
    val genT0 = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - genT0) / 1e9
    val warm = mutable.ArrayBuffer.empty[Pass]
    def level = warm.size >= 2 &&
      math.abs(warm.last.seconds - warm(warm.size - 2).seconds) <= 0.1 * warm(warm.size - 2).seconds
    while (warm.size < 3 && !level) warm += wl.pass(traced = false)
    val setupS = (Tracer.nowMs() - startMs) / 1000.0

    // ---- measurement ----
    val sentinelPre = sentinel(spark)
    val (gc0, jit0) = (gcS(), jitS())
    val passes = mutable.ArrayBuffer.empty[(Pass, Boolean)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (trace) 4 else 2
    val cpuS = mutable.ArrayBuffer.empty[Double]
    while (passes.size < minPasses || elapsed < seconds) {
      val traced = trace && passes.size % 2 == 1
      val c0 = processCpuS()
      passes += wl.pass(traced) -> traced
      if (!traced) cpuS += processCpuS() - c0
    }
    val (gcPass, jitPass) = (gcS() - gc0, jitS() - jit0)
    val sentinelPost = sentinel(spark)
    val liveMb = liveHeapMb()

    val allOps = (warm.toSeq ++ passes.map(_._1)).flatMap(_.ops)
    val failed = allOps.count(!_.ok)
    if (opt.contains("record")) {
      val lines = passes.head._1.ops.map(o => o.name).sorted.map { q =>
        val (n, h, _) = wl.asInstanceOf[Queries].runOne(q, "record")
        s"$q\t$n\t$h"
      }
      Files.write(Paths.get(opt("record")), (lines.mkString("\n") + "\n").getBytes)
    }

    val plain = passes.filterNot(_._2).map(_._1).toSeq
    // wall-clock timings of the untraced passes: they move with the load on
    // the host, so they are reported beside the layers, without a bound
    val wall: Map[String, Double] = {
      // each op's median over the passes, so one slow pass moves it less
      val opMedians = plain.flatMap(_.ops).filter(_.main).groupBy(_.name).values
        .map(os => median(os.map(_.seconds))).toSeq
      val rowRates = plain.map { p =>
        val withRows = p.ops.filter(_.rows > 0)
        withRows.map(_.rows).sum / withRows.map(_.seconds).sum
      }
      Map("wall.pass_s" -> median(plain.map(_.seconds)),
        "wall.op_s.geomean" -> math.exp(opMedians.map(math.log).sum / opMedians.size),
        "wall.rows_per_s" -> median(rowRates))
    }
    val metrics: Seq[(String, String, Double)] =
      if (!trace) Seq(
        ("setup_s", "s", setupS),
        ("pass_cpu_s", "s", median(cpuS.toSeq)),
        ("mem_live_mb", "MB", liveMb))
      else {
        val traced = passes.filter(_._2).map(_._1).toSeq
        def mean(f: Pass => Double) = traced.map(f).sum / traced.size
        def layer(l: String)(f: LayerStats => Double) =
          mean(p => p.layers.get(l).map(f).getOrElse(0.0))
        val named = wl.layers.toSet
        val values: Map[String, Double] =
          wl.layers.flatMap(l => Seq(
            s"$l.jobs" -> layer(l)(_.jobs.toDouble), s"$l.job_s" -> layer(l)(_.jobS),
            s"$l.driver_s" -> layer(l)(_.driverS), s"$l.cpu_s" -> layer(l)(_.cpuS),
            s"$l.io_mb" -> layer(l)(_.ioMb))).toMap ++
          wl.extras.map(e => e -> mean(_.extras(e))) ++ wall ++ Map(
            "trace.pass_s" -> mean(_.seconds),
            "trace.overhead_s" -> (median(traced.map(_.seconds)) - median(plain.map(_.seconds))),
            "trace.unattributed_s" -> mean(p => p.seconds -
              p.layers.filter(kv => named(kv._1)).values.map(_.selfS).sum))
        writeTrace(work.resolve(s"trace-$workload-$seed.json"), tracer, passes.toSeq)
        perLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }

    val host = mapper.createObjectNode()
    host.put("workload", workload)
    host.put("nproc", Runtime.getRuntime.availableProcessors())
    host.put("spark_cores", cpus.toInt)
    host.put("loadavg_start", loadStart)
    host.put("loadavg_end", loadavg())
    host.putArray("sentinel_s").add(sentinelPre).add(sentinelPost)
    host.put("setup_session_s", sessionS)
    host.put("setup_generate_s", genS)
    host.put("warmup_passes", warm.size)
    val warmArr = host.putArray("warmup_pass_s"); warm.foreach(p => warmArr.add(p.seconds))
    host.put("passes", passes.size)
    val passArr = host.putArray("pass_s"); passes.foreach(p => passArr.add(p._1.seconds))
    host.put("vm_hwm_mb", vmHwmMb())
    host.put("passes_gc_s", gcPass)
    host.put("passes_jit_s", jitPass)
    val opMedians = host.putObject("op_median_s")
    passes.flatMap(_._1.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      opMedians.put(n, median(os.map(_.seconds).toSeq)) }
    host.put("failed_frac", failed.toDouble / allOps.size)
    println(mapper.writeValueAsString(mapper.createObjectNode().set("host", host)))

    spark.stop()
    val ok = failed == 0 && metrics.forall(m => !m._3.isNaN && !m._3.isInfinite)
    val result = mapper.createObjectNode()
    result.put("correct", ok)
    result.put("attempted", allOps.size)
    result.put("failed", failed)
    val ms = result.putObject("metrics")
    metrics.foreach { case (n, u, v) =>
      val m = ms.putObject(n)
      if (v.isNaN || v.isInfinite) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
    println(mapper.writeValueAsString(result))
  }

  /** Min of two timings of a fixed pure-compute job (20M xxhash64 folds
    * over 32 tasks): a high value marks the run as taken under load. */
  def sentinel(spark: SparkSession): Double =
    Tracer.inLayer(spark.sparkContext, "sentinel") {
      (1 to 2).map { _ =>
        val t = System.nanoTime()
        spark.range(0L, 20000000L, 1L, 32).select(bit_xor(xxhash64(col("id")))).collect()
        (System.nanoTime() - t) / 1e9
      }.min
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** CPU time of this process, all threads (driver and executors). */
  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Collection time of every garbage collector so far. */
  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0
  }

  /** Time the JIT compilers have spent so far. */
  private def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "" }

  /** Heap still in use after full collections: the live set the run
    * leaves behind (cached plans, tables, listener state). */
  private def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300) // lets Spark's cleaner drop blocks the collection freed
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => Double.NaN }

  private def writeTrace(path: Path, tracer: Tracer, passes: Seq[(Pass, Boolean)]): Unit = {
    val root = mapper.createObjectNode()
    val spans = root.putArray("spans")
    tracer.spans.foreach { s =>
      val o = spans.addObject()
      o.put("name", s.name); o.put("parent", s.parent)
      o.put("start_ms", s.startMs); o.put("end_ms", s.endMs)
    }
    val jobs = root.putArray("jobs")
    tracer.allJobs.foreach { j =>
      val o = jobs.addObject()
      o.put("id", j.id); o.put("layer", j.layer)
      o.put("start_ms", j.startMs); o.put("end_ms", j.endMs)
      o.put("cpu_s", j.cpuNs / 1e9); o.put("io_bytes", j.ioBytes)
    }
    val ps = root.putArray("passes")
    passes.foreach { case (p, traced) =>
      val o = ps.addObject()
      o.put("seconds", p.seconds); o.put("traced", traced)
      val ls = o.putObject("layers")
      p.layers.foreach { case (l, st) =>
        val x = ls.putObject(l)
        x.put("jobs", st.jobs); x.put("job_s", st.jobS); x.put("driver_s", st.driverS)
        x.put("cpu_s", st.cpuS); x.put("io_mb", st.ioMb)
      }
    }
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
