package graft

import java.nio.file.{Files, Path}
import graft.config.{ColumnSpec, DriftConfig, PipelineConfig, QualityConfig}
import graft.drift.DriftDetector
import graft.etl.Etl
import graft.healing.SelfHealing
import graft.quality.DataQuality
import graft.runner.PipelineRunner

/** Re-enacts the reference's 4-stage demo on the customers fixture pair
  * (FIXTURES.md §1) and asserts the golden trace: incident sequence,
  * healed threshold 0.2 → 0.65, profile means/stds, and the
  * "thirty"→null lenient-cast semantics. */
class GoldenScenarioSpec extends SparkSuite {

  private def writeFixtures(dir: Path): (String, String, String) = {
    val staged = graft.runner.DemoFixtures.stage(dir)
    (staged.v1, staged.v2, staged.configPath)
  }

  test("lenient casts: 'thirty' coerces to null, not an error") {
    val dir = Files.createTempDirectory("graft_cast")
    val (_, v2, cfgPath) = writeFixtures(dir)
    val cfg = PipelineConfig.load(cfgPath)
    val (df, missing) = Etl.transform(spark, cfg, v2)
    assert(missing.isEmpty)
    val ages = df.select("age").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(ages.toSeq == Seq(Some(25L), None, None, Some(42L), None))
  }

  test("golden 4-stage demo: success -> failed -> healed(0.65) -> healed_success") {
    val dir = Files.createTempDirectory("graft_golden")
    val (v1, v2, cfgPath) = writeFixtures(dir)
    var tick = 0
    val runner = new PipelineRunner(spark, cfgPath,
      dir.resolve("warehouse").toString, dir.resolve("incidents").toString,
      () => { tick += 1; f"2025-11-29T07:00:$tick%02dZ" })

    val incidents = runner.runDemo(v1, v2)
    assert(incidents.map(_.stage) == Seq("baseline", "drifted", "healing", "post_healing"))
    assert(incidents.map(_.status) ==
      Seq("success", "failed", "healing_actions_applied", "healed_success"))
    assert(incidents(1).error_type == "DataQualityError")
    assert(incidents(1).issues_json.contains("\"null_fraction_exceeded\""))
    assert(incidents(1).issues_json.contains("\"age\""))

    // healed config: max_null_fraction 0.2 -> min(0.8, max(0.4, 0.65)) = 0.65
    val healedCfg = PipelineConfig.load(cfgPath)
    assert(healedCfg.columns.find(_.name == "age").flatMap(_.maxNullFraction)
      .contains(0.65))

    // golden baseline profile (reference_profile.json fixture values)
    val profile = DriftDetector.loadProfile(dir.resolve("reference_profile.json").toString)
      .map(p => p.column -> p).toMap
    assert(math.abs(profile("customer_id").mean - 2.5) < 1e-12)
    assert(math.abs(profile("customer_id").std - 1.2909944487358056) < 1e-12)
    assert(math.abs(profile("age").mean - 31.75) < 1e-12)
    assert(math.abs(profile("age").std - 7.274384280931732) < 1e-12)

    // incident log round-trips through the parquet sink
    val persisted = graft.incidents.IncidentLog.read(spark, dir.resolve("incidents").toString)
    assert(persisted.count() == 4)
    val m = graft.incidents.IncidentLog.metrics(persisted)
    assert(m.total == 4 && m.healed == 1 && m.failed == 1)
    // "success" substring also matches healed_success (reference semantics,
    // dashboard.py:30)
    assert(m.success == 2)
  }

  test("single-row profile yields std 0.0 (pandas ddof=1 edge)") {
    val dir = Files.createTempDirectory("graft_n1")
    Files.writeString(dir.resolve("one.csv"), "customer_id,name,age,country\n7,Solo,33,NZ\n")
    val cfg = PipelineConfig(
      "", "t", "", Seq(
        ColumnSpec("customer_id", "int", required = true, None),
        ColumnSpec("age", "int", required = false, None)),
      QualityConfig(0), DriftConfig("", 0.5))
    val (df, _) = Etl.transform(spark, cfg, dir.resolve("one.csv").toString)
    val profile = DriftDetector.profile(df).map(p => p.column -> p).toMap
    assert(profile("age").std == 0.0)
    assert(profile("age").mean == 33.0)
  }

  test("drift comparison flags mean shift beyond tolerance with zero-guard") {
    val dir = Files.createTempDirectory("graft_drift")
    val profilePath = dir.resolve("profile.json").toString
    DriftDetector.saveProfile(Seq(
      DriftDetector.ColumnProfile("age", 30.0, 5.0),
      DriftDetector.ColumnProfile("zero_col", 0.0, 1.0)), profilePath)
    import spark.implicits._
    val df = Seq((60.0, 1.0), (60.0, 2.0)).toDF("age", "zero_col")
    DriftDetector.detectAndUpdate(DriftDetector.profile(df), profilePath, 0.5) match {
      case DriftDetector.Compared(drifted) =>
        assert(drifted.map(_.column) == Seq("age")) // zero_col skipped by guard
        assert(math.abs(drifted.head.relChange - 1.0) < 1e-12)
      case other => fail(s"expected Compared, got $other")
    }

    // an all-unparseable numeric column with no threshold: DQ passes, the
    // baseline stores mean NaN / std 0.0, and the next run compares
    // against it without throwing or flagging drift
    Files.writeString(dir.resolve("na.csv"),
      "customer_id,age\n1,n/a\n2,n/a\n3,n/a\n")
    val cfgPath = dir.resolve("na.yml").toString
    PipelineConfig.save(PipelineConfig("", "t", "", Seq(
      ColumnSpec("customer_id", "int", required = true, None),
      ColumnSpec("age", "int", required = false, None)),
      QualityConfig(1), DriftConfig(dir.resolve("na_profile.json").toString, 0.5)), cfgPath)
    val runner = new PipelineRunner(spark, cfgPath, dir.resolve("wh").toString,
      dir.resolve("inc").toString, () => "t")
    val na = dir.resolve("na.csv").toString
    val (report, first) = runner.runSinglePipeline(na)
    assert(report.passed && report.nullFractions("age") == 1.0)
    assert(first == DriftDetector.BaselineCreated)
    val baseline = DriftDetector.loadProfile(dir.resolve("na_profile.json").toString)
      .map(p => p.column -> p).toMap
    assert(baseline("age").mean.isNaN && baseline("age").std == 0.0)
    assert(runner.runSinglePipeline(na)._2 == DriftDetector.Compared(Nil))
  }

  test("config YAML round-trip preserves the contract") {
    val cfg = PipelineConfig(
      "wh", "customers", "src.csv",
      Seq(ColumnSpec("a", "int", required = true, None),
        ColumnSpec("b", "float", required = false, Some(0.25))),
      QualityConfig(3), DriftConfig("p.json", 0.42))
    val parsed = PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg))
    assert(parsed == cfg)
  }
}
