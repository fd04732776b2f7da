package graft

import java.nio.file.Files
import graft.config.{ColumnSpec, DriftConfig, PipelineConfig, QualityConfig}
import graft.drift.DriftDetector
import graft.etl.Etl
import graft.incidents.IncidentLog
import graft.incidents.IncidentLog.Incident
import graft.quality.DataQuality
import graft.quality.DataQuality.DataQualityException
import graft.runner.{DemoFixtures, PipelineRunner}

/** Edge paths of the pipeline modules not covered by the golden demo:
  * missing declared columns, unknown declared types, the row-count
  * floor, a missing source path, a config that does not parse, and
  * the dashboard lookup helpers. */
class PipelineEdgeSpec extends SparkSuite {

  private def cfg(columns: Seq[ColumnSpec], rowMin: Long = 1): PipelineConfig =
    PipelineConfig("", "t", "", columns, QualityConfig(rowMin), DriftConfig("", 0.5))

  test("observed DQ (metrics on the write job) equals the two-pass check and writes the sink") {
    import org.apache.spark.sql.functions._
    val c = cfg(Seq(
      ColumnSpec("c_custkey", "int", required = true, None),
      ColumnSpec("c_acctbal", "float", required = false, Some(0.5)),
      ColumnSpec("c_name", "string", required = true, None)), rowMin = 10)
    // a multi-file CSV source: observed accumulators merge in task
    // completion order, so the moments are compared across partitions
    val dir = Files.createTempDirectory("graft_obs")
    val src = dir.resolve("src").toString
    Tables(spark, sf, "customer")
      .withColumn("c_acctbal",
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_acctbal")))
      .select("c_custkey", "c_acctbal", "c_name")
      .repartition(3).write.option("header", "true").csv(src)
    val warehouse = dir.resolve("warehouse").toString
    val (metrics, missing) = Etl.run(spark, c, src, warehouse)
    val (df, _) = Etl.transform(spark, c, src)
    assert(df.rdd.getNumPartitions > 1)
    val observed = DataQuality.fromMetrics(metrics, c, missing)
    val twoPass = DataQuality.check(df, c, missing)
    assert(observed.rowCount == twoPass.rowCount)
    assert(observed.nullFractions.keySet == twoPass.nullFractions.keySet)
    observed.nullFractions.foreach { case (k, v) =>
      assert(math.abs(v - twoPass.nullFractions(k)) < 1e-12, s"nf($k) drifted")
    }
    assert(observed.failedChecks == twoPass.failedChecks)
    // the drift profile rides the same write
    val observedProfile = DriftDetector.fromMetrics(metrics)
    val profile = DriftDetector.profile(df)
    assert(observedProfile.map(_.column) == profile.map(_.column))
    observedProfile.zip(profile).foreach { case (o, p) =>
      assert(math.abs(o.mean - p.mean) <= 1e-12 * math.max(1.0, math.abs(p.mean)), s"mean(${p.column})")
      assert(math.abs(o.std - p.std) <= 1e-12 * math.max(1.0, p.std), s"std(${p.column})")
    }
    // the sink really contains the full dataset (metrics rode the write)
    assert(spark.read.parquet(s"$warehouse/t").count() == df.count())
    // ~1/5 of rows nulled -> within the 0.5 bound, so the report passes
    assert(observed.passed)
  }

  test("missing declared column surfaces in ETL and fails DQ as missing_column") {
    val dir = Files.createTempDirectory("graft_missing")
    Files.writeString(dir.resolve("d.csv"), "a,b\n1,x\n2,y\n")
    val c = cfg(Seq(
      ColumnSpec("a", "int", required = true, None),
      ColumnSpec("ghost", "float", required = false, None)))
    val (df, missing) = Etl.transform(spark, c, dir.resolve("d.csv").toString)
    assert(missing == Seq("ghost"))
    assert(df.columns.toSeq == Seq("a")) // only declared-and-present survive
    val report = DataQuality.check(df, c, missing)
    assert(report.failedChecks.map(_.checkType).contains("missing_column"))
    assert(!report.passed)
  }

  test("unknown declared type passes the column through unchanged") {
    val dir = Files.createTempDirectory("graft_unknown")
    Files.writeString(dir.resolve("d.csv"), "a,weird\n1,2024-01-01\n")
    val c = cfg(Seq(
      ColumnSpec("a", "int", required = true, None),
      ColumnSpec("weird", "datetime64", required = false, None)))
    val (df, _) = Etl.transform(spark, c, dir.resolve("d.csv").toString)
    // unknown type keeps the raw (string) column, reference etl_job.py:68-69
    assert(df.schema("weird").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(df.select("weird").collect()(0).getString(0) == "2024-01-01")
  }

  test("row-count floor fails an empty source") {
    val dir = Files.createTempDirectory("graft_empty")
    Files.writeString(dir.resolve("d.csv"), "a\n")
    val c = cfg(Seq(ColumnSpec("a", "int", required = false, None)), rowMin = 1)
    val (df, missing) = Etl.transform(spark, c, dir.resolve("d.csv").toString)
    val report = DataQuality.check(df, c, missing)
    assert(report.rowCount == 0)
    assert(report.failedChecks.exists(_.checkType == "row_count_below_min"))
    // the same verdict from the runner, off the metrics observed on an
    // empty write (every avg null)
    val cfgPath = dir.resolve("c.yml").toString
    PipelineConfig.save(c, cfgPath)
    val runner = new PipelineRunner(spark, cfgPath, dir.resolve("wh").toString,
      dir.resolve("inc").toString, () => "t")
    val e = intercept[DataQualityException](runner.runSinglePipeline(dir.resolve("d.csv").toString))
    assert(e.report.rowCount == 0)
    assert(e.report.failedChecks.map(_.checkType) == Seq("row_count_below_min"))
  }

  test("a missing source path ends the demo in a failed incident, not a stack trace") {
    val dir = Files.createTempDirectory("graft_nosrc")
    val ghost = dir.resolve("no_such_batch.csv").toString
    // a failed read would reach every query listener of the session
    // (and its ERROR log); the driver-side check must end the run first
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = ()
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        failures.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    // each demo gets its own contract, warehouse, profile and log
    def demo(name: String)(sources: DemoFixtures.Staged => (String, String)): Seq[Incident] = {
      val staged = DemoFixtures.stage(dir.resolve(name))
      val incidentsPath = dir.resolve(name).resolve("incidents").toString
      val (clean, broken) = sources(staged)
      val got = new PipelineRunner(spark, staged.configPath,
        dir.resolve(name).resolve("warehouse").toString, incidentsPath, () => "t")
        .runDemo(clean, broken)
      assert(IncidentLog.read(spark, incidentsPath).collect().toSet == got.toSet)
      got
    }
    // the broken batch is missing: baseline runs, the drifted run fails
    // on the source and nothing is healed
    val drifted = demo("broken")(st => (st.v1, ghost))
    assert(drifted.map(i => (i.stage, i.status)) ==
      Seq("baseline" -> "success", "drifted" -> "failed"))
    assert(drifted(1).error_type == "SourceNotFoundError")
    assert(drifted(1).error_message.contains("no_such_batch.csv"))
    // the clean batch is missing: the demo stops at the baseline
    val baseline = demo("clean")(st => (ghost, st.v2))
    assert(baseline.map(i => (i.stage, i.status, i.error_type)) ==
      Seq(("baseline", "failed", "SourceNotFoundError")))
    assert(baseline.head.error_message.contains("no_such_batch.csv"))
    org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(listener)
    assert(failures.get == 0, "a query failed on the missing source")
  }

  test("a config that does not parse ends the demo in a ConfigError incident") {
    val dir = Files.createTempDirectory("graft_badcfg")
    Seq(
      "bad_yaml" -> "columns: {id: {type: int\nquality: [",
      "no_drift" -> "columns: {id: {type: int}}\nquality: {row_count_min: 1}\n",
      "no_columns" -> "quality: {row_count_min: 1}\ndrift: {profile_path: ''}\n"
    ).foreach { case (name, yaml) =>
      val staged = DemoFixtures.stage(dir.resolve(name))
      Files.writeString(java.nio.file.Paths.get(staged.configPath), yaml)
      val incidentsPath = dir.resolve(name).resolve("incidents").toString
      val got = new PipelineRunner(spark, staged.configPath,
        dir.resolve(name).resolve("warehouse").toString, incidentsPath, () => "t")
        .runDemo(staged.v1, staged.v2)
      assert(got.map(i => (i.stage, i.status, i.error_type)) ==
        Seq(("baseline", "failed", "ConfigError")), s"$name: $got")
      assert(got.head.error_message.nonEmpty, name)
      assert(IncidentLog.read(spark, incidentsPath).collect().toSeq == got, name)
    }
  }

  test("dashboard lookups: filterOptions sorted, byRunId finds and misses") {
    import spark.implicits._
    val ds = Seq(
      Incident("r2", "p", "", "drifted", "failed", "", "", "{}", "{}"),
      Incident("r1", "p", "", "baseline", "success", "", "", "{}", "{}"),
      Incident("r3", "p", "", "baseline", "success", "", "", "{}", "{}")).toDS()
    assert(IncidentLog.filterOptions(ds, "stage") == Seq("baseline", "drifted"))
    assert(IncidentLog.byRunId(ds, "r2").exists(_.status == "failed"))
    assert(IncidentLog.byRunId(ds, "nope").isEmpty)
    val filtered = IncidentLog.filtered(ds, Some("baseline"), Some("success"))
      .collect().map(_.getAs[String]("run_id")).toSeq
    assert(filtered == Seq("r3", "r1")) // newest first within the filter
  }
}
