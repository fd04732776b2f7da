package graft.runner

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import graft.config.PipelineConfig
import graft.etl.Etl
import graft.quality.DataQuality
import graft.quality.DataQuality.{DataQualityException, DqReport}
import graft.drift.DriftDetector
import graft.healing.SelfHealing
import graft.incidents.IncidentLog
import graft.incidents.IncidentLog.Incident

/** The 4-stage self-healing demo state machine (reference
  * `pipeline_runner.py:69-223`): baseline run on clean data → broken
  * run (expected DQ failure) → healing (config rewrite) → post-healing
  * re-run against the loosened contract.
  *
  * Determinism: run ids come from an injected clock
  * (`pipeline_runner.py:64-66` uses utcnow; SURVEY.md §7.4.6), and the
  * config is re-read from disk each run — healing's rewrite must be
  * visible to the next run exactly as in the reference
  * (`pipeline_runner.py:50`, `self_healing_agent.py:122`).
  */
final class PipelineRunner(
    spark: SparkSession,
    configPath: String,
    warehouseDir: String,
    incidentsPath: String,
    clock: () => String) {

  private val mapper = new ObjectMapper()
  private val pipelineName = "customers_pipeline"

  private def issuesJson(r: DqReport): String = {
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("row_count", java.lang.Long.valueOf(r.rowCount))
    val nf = new java.util.LinkedHashMap[String, Object]()
    r.nullFractions.toSeq.sortBy(_._1).foreach { case (k, v) =>
      nf.put(k, java.lang.Double.valueOf(v)) }
    root.put("null_fractions", nf)
    val fcs = new java.util.ArrayList[Object]()
    r.failedChecks.foreach { fc =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("type", fc.checkType)
      m.put("column", fc.column)
      m.put("observed", java.lang.Double.valueOf(fc.observed))
      m.put("threshold", java.lang.Double.valueOf(fc.threshold))
      m.put("message", fc.message)
      fcs.add(m)
    }
    root.put("failed_checks", fcs)
    mapper.writeValueAsString(root)
  }

  private def healingJson(changes: Seq[String]): String = {
    val root = new java.util.LinkedHashMap[String, Object]()
    val arr = new java.util.ArrayList[Object]()
    changes.foreach(arr.add)
    root.put("changes", arr)
    mapper.writeValueAsString(root)
  }

  private def log(incident: Incident): Incident = {
    IncidentLog.append(spark, incidentsPath, incident)
    incident
  }

  /** Whether a source path (or glob) matches nothing — checked on the
    * driver before the stage runs, so a missing batch never reaches a
    * failing Spark read (or the error logs of the session's query
    * listeners). */
  private def sourceAbsent(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    Option(p.getFileSystem(spark.sparkContext.hadoopConfiguration).globStatus(p))
      .forall(_.isEmpty)
  }

  /** One pipeline run: ETL → DQ verdict → drift detect/update
    * (`pipeline_runner.py:48-61`). The warehouse write is the run's only
    * data pass; the DQ report and the drift profile are read off the
    * metrics it observed. Throws DataQualityException with the report
    * on DQ failure, before the drift profile is touched. */
  def runSinglePipeline(sourcePath: String): (DqReport, DriftDetector.DriftOutcome) = {
    val cfg = PipelineConfig.load(configPath) // re-read per run (:50)
    val (metrics, missing) = Etl.run(spark, cfg, sourcePath, warehouseDir)
    val report = DataQuality.fromMetrics(metrics, cfg, missing)
    // enforce_data_quality (data_quality_checks.py:85-89)
    if (!report.passed) throw new DataQualityException(report)
    val profilePath = // config-declared (pipeline_config.yml drift.profile_path)
      if (cfg.drift.profilePath.nonEmpty) cfg.drift.profilePath
      else s"$warehouseDir/reference_profile.json"
    val drift = DriftDetector.detectAndUpdate(
      DriftDetector.fromMetrics(metrics), profilePath, cfg.drift.meanRelativeTolerance)
    (report, drift)
  }

  /** The full demo; returns the incident sequence. A stage that
    * cannot start — its source path matches nothing, or the contract
    * does not parse — logs a `failed` incident with error type
    * `SourceNotFoundError` or `ConfigError` and ends the demo there
    * (ROADMAP D2: an incident, not a stack trace). */
  def runDemo(cleanSource: String, brokenSource: String): Seq[Incident] = {
    val incidents = Seq.newBuilder[Incident]
    def guarded[T](stage: String, source: String, healingActions: String = "{}")
        (run: => T): Option[T] = {
      def fail(description: String, errorType: String, message: String) = {
        incidents += log(Incident(s"${stage.replace('_', '-')}-${clock()}", pipelineName,
          description, stage, "failed", errorType, message, "{}", healingActions))
        None
      }
      if (sourceAbsent(source))
        fail("Source data not found", "SourceNotFoundError",
          s"Source path does not exist: $source")
      else try Some(run) catch {
        case e: PipelineConfig.ConfigError =>
          fail("Pipeline config could not be parsed", "ConfigError", e.getMessage)
      }
    }

    // stage 1: baseline with clean data (:74-93)
    val baselineRan = guarded("baseline", cleanSource) {
      val (baseReport, _) = runSinglePipeline(cleanSource)
      incidents += log(Incident(s"baseline-${clock()}", pipelineName,
        "Baseline run with clean data (v1)", "baseline", "success", "", "",
        issuesJson(baseReport), "{}"))
    }.isDefined

    // stage 2: broken data — DQ failure expected (:110-149)
    val issueReport: Option[DqReport] =
      if (!baselineRan) None
      else guarded("drifted", brokenSource) {
        try {
          val (r, _) = runSinglePipeline(brokenSource)
          incidents += log(Incident(s"drifted-${clock()}", pipelineName,
            "Unexpected: v2 data passed quality checks", "drifted", "success", "", "",
            issuesJson(r), "{}"))
          None
        } catch {
          case e: DataQualityException =>
            incidents += log(Incident(s"drifted-${clock()}", pipelineName,
              "Run with drifted/broken data (v2)", "drifted", "failed",
              "DataQualityError", "Data quality checks failed",
              issuesJson(e.report), "{}"))
            Some(e.report)
        }
      }.flatten

    issueReport.foreach { report =>
      // stage 3: healing (:172-189)
      val cfg = PipelineConfig.load(configPath)
      val healed = SelfHealing.heal(report, cfg)
      if (healed.hasChanges) {
        PipelineConfig.save(healed.updatedConfig, configPath)
        incidents += log(Incident(s"healing-${clock()}", pipelineName,
          "Applied self-healing config changes", "healing", "healing_actions_applied",
          "", "", issuesJson(report), healingJson(healed.changes)))
      } else {
        incidents += log(Incident(s"healing-${clock()}", pipelineName,
          "No healing actions available", "healing", "no_changes", "", "",
          issuesJson(report), "{}"))
      }

      // stage 4: post-healing re-run (:191-223)
      guarded("post_healing", brokenSource, healingJson(healed.changes)) {
        try {
          val (r, _) = runSinglePipeline(brokenSource)
          incidents += log(Incident(s"post-healing-${clock()}", pipelineName,
            "Pipeline recovered after self-healing", "post_healing", "healed_success",
            "", "", issuesJson(r), healingJson(healed.changes)))
        } catch {
          case e: DataQualityException =>
            incidents += log(Incident(s"post-healing-${clock()}", pipelineName,
              "Pipeline still failing after healing", "post_healing",
              "failed_after_healing", "DataQualityError", "Data quality checks failed",
              issuesJson(e.report), healingJson(healed.changes)))
        }
      }
    }
    incidents.result()
  }
}
