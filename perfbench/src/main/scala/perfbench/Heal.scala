package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.config.{ColumnSpec, DriftConfig, PipelineConfig, QualityConfig}
import graft.incidents.IncidentLog
import graft.runner.PipelineRunner

/** `heal`: the paper's loop. Each pass is one 4-stage
  * `PipelineRunner.runDemo` cycle (clean batch, broken batch, heal,
  * re-run) from a fresh contract and drift profile, followed by one
  * dashboard refresh; the incident log keeps growing across passes.
  *
  * Stage boundaries come from the runner's injected clock, which is
  * called once per stage as the incident is built; the incident append
  * that follows is found among the listener's jobs by its call site.
  * Per pass:
  *  - three pipeline runs: `run.baseline` [cycle start, clock 1],
  *    `run.drifted` [append 1 end, clock 2] (fails DQ, so no drift
  *    step), `run.post_healing` [append 3 end, clock 4]. The two
  *    complete runs (scan → warehouse → DQ verdict → drift verdict) are
  *    the `main` ops;
  *  - `recover`: from the start of the broken run until the
  *    `healed_success` incident is logged;
  *  - `dash`: `IncidentLog.read`, then `metrics`, `history` and
  *    `filtered`, collected.
  *
  * Checks per pass: the status sequence, the healed
  * `age.max_null_fraction` (the reference rule applied to the seeded
  * break share), the warehouse row count and the dashboard counters.
  */
final class Heal(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    customers: Int, replicas: Int) extends Workload {

  val name = "heal"
  val layers: Seq[String] = Heal.layers
  val extras: Seq[String] = Heal.extras

  private val rows = customers.toLong * replicas
  // seeded share of broken ages in [0.45, 0.55]: above the contract's
  // 0.2 and below the healing cap's 0.75, so every cycle heals; the band
  // is narrow because a pass's cost grows with the share
  private val share = 0.45 + 0.1 * new java.util.SplittableRandom(seed).nextDouble()
  private val broken = math.round(share * rows).toInt
  private val observed = broken.toDouble / rows
  private val expectedMaxNull =
    math.rint(math.min(0.8, math.max(0.2 + 0.2, observed + 0.05)) * 10000) / 10000

  private val clean = work.resolve("customers_clean.csv")
  private val dirty = work.resolve("customers_broken.csv")
  private val configPath = work.resolve("pipeline_config.yml").toString
  private val profilePath = work.resolve("reference_profile.json")
  private val warehouse = work.resolve("warehouse").toString
  private val incidents = work.resolve("incidents").toString
  private var tick = 0
  private var cycles = 0

  def generate(): Unit = {
    Files.createDirectories(work)
    DataGen.customersCsv(clean, customers, replicas, seed, 0)
    DataGen.customersCsv(dirty, customers, replicas, seed, broken)
  }

  private def freshContract(): Unit = {
    Files.deleteIfExists(profilePath)
    PipelineConfig.save(PipelineConfig(
      warehousePath = warehouse, tableName = "customers", sourcePath = clean.toString,
      columns = Seq(
        ColumnSpec("customer_id", "int", required = true, None),
        ColumnSpec("name", "string", required = true, None),
        ColumnSpec("age", "int", required = false, Some(0.2)),
        ColumnSpec("country", "string", required = false, None)),
      quality = QualityConfig(rowCountMin = 1),
      drift = DriftConfig(profilePath.toString, 0.5)), configPath)
  }

  def pass(traced: Boolean): Pass = {
    val sc = spark.sparkContext
    val t0 = Tracer.nowMs()
    freshContract()
    val stamps = mutable.ArrayBuffer.empty[Double]
    val runner = new PipelineRunner(spark, configPath, warehouse, incidents,
      () => { stamps += Tracer.nowMs(); tick += 1; f"$tick%08d" })
    val demoStart = Tracer.nowMs()
    val got = scala.util.Try(runner.runDemo(clean.toString, dirty.toString)).getOrElse(Nil)
    val demoEnd = Tracer.nowMs()
    val dash = scala.util.Try(Tracer.inLayer(sc, "incidents") {
      val log = IncidentLog.read(spark, incidents)
      val m = IncidentLog.metrics(log)
      val history = IncidentLog.history(log).collect()
      val healed = IncidentLog.filtered(log, Some("post_healing"), Some("healed_success")).collect()
      (m, history.length, healed.length)
    }).getOrElse((IncidentLog.Metrics(0, 0, 0, 0), 0, 0))
    val t1 = Tracer.nowMs()
    cycles += 1

    // ---- checks (outside the timed pass) ----
    val statusesOk = got.map(_.status) ==
      Seq("success", "failed", "healing_actions_applied", "healed_success")
    val healedOk = PipelineConfig.load(configPath).columns.find(_.name == "age")
      .flatMap(_.maxNullFraction).contains(expectedMaxNull)
    val warehouseOk =
      scala.util.Try(spark.read.parquet(s"$warehouse/customers").count() == rows).getOrElse(false)
    val (m, nHistory, nHealed) = dash
    val dashOk = m.total == 4L * cycles && m.healed == cycles && m.failed == cycles &&
      nHistory == 4 * cycles && nHealed == cycles
    val ok = statusesOk && healedOk && warehouseOk && stamps.size == 4
    if (!ok || !dashOk) System.err.println(s"heal check failed: statuses=${got.map(_.status)} " +
      s"healed=$healedOk warehouse=$warehouseOk dash=$m/$nHistory/$nHealed stamps=${stamps.size}")

    tracer.drain()
    val jobs = tracer.jobsIn(t0, t1)
    def appendEnd(after: Double): Double = jobs.find(j => j.layer == "incidents" &&
      j.startMs >= after - 1).map(_.endMs).getOrElse(Double.NaN)
    val c = stamps.padTo(4, Double.NaN)
    val a1 = appendEnd(c(0)); val a2 = appendEnd(c(1)); val a3 = appendEnd(c(2))
    val a4 = appendEnd(c(3))
    def sec(a: Double, b: Double) = (b - a) / 1000.0
    val timesOk = Seq(a1, a2, a3, a4).forall(x => !x.isNaN)
    val ops = Seq(
      Op("run.baseline", sec(demoStart, c(0)), ok && timesOk, rows, main = true),
      Op("run.drifted", sec(a1, c(1)), ok && timesOk, rows, main = false),
      Op("run.post_healing", sec(a3, c(3)), ok && timesOk, rows, main = true),
      Op("recover", sec(a1, a4), ok && timesOk, 0, main = false),
      Op("dash", sec(demoEnd, t1), dashOk, 0, main = false))

    val extrasOut = Map(
      "stage.baseline_s" -> sec(demoStart, a1), "stage.drifted_s" -> sec(a1, a2),
      "stage.healing_s" -> sec(a2, a3), "stage.post_healing_s" -> sec(a3, demoEnd),
      "heal.recover_s" -> sec(a1, a4), "heal.dash_s" -> sec(demoEnd, t1))
    val layerOut = mutable.Map.empty[String, LayerStats]
    if (traced) {
      tracer.record("heal.pass", "", t0, t1)
      Seq("stage.baseline" -> (demoStart, a1), "stage.drifted" -> (a1, a2),
        "stage.healing" -> (a2, a3), "stage.post_healing" -> (a3, demoEnd),
        "dash" -> (demoEnd, t1)).foreach { case (n, (a, b)) => tracer.record(n, "heal.pass", a, b) }
      Seq("run.baseline" -> (demoStart, c(0), "stage.baseline"),
        "run.drifted" -> (a1, c(1), "stage.drifted"),
        "run.post_healing" -> (a3, c(3), "stage.post_healing")).foreach {
        case (n, (a, b, parent)) => tracer.record(n, parent, a, b) }
      // boundaries: the clock stamps close each stage's pipeline work;
      // the work before the healing stamp (config load, SelfHealing,
      // PipelineConfig.save) runs no jobs and belongs to `healing`
      val bounds = Seq(t0, demoStart) ++ c ++ Seq(demoEnd, t1)
      val tails = Seq.fill(7)(Tracer.Unattributed).updated(3, "healing")
      bounds.sliding(2).zip(tails).foreach { case (Seq(a, b), tail) =>
        Workload.attribute(jobs, a, b, tail, layerOut)
      }
    }
    Pass(sec(t0, t1), ops, layerOut.toMap, extrasOut)
  }
}

object Heal {
  /** The engine modules the loop runs, named by package (`graft.etl`, ...). */
  val layers = Seq("etl", "quality", "drift", "incidents", "healing")
  val extras = Seq("stage.baseline_s", "stage.drifted_s", "stage.healing_s",
    "stage.post_healing_s", "heal.recover_s", "heal.dash_s")
}
