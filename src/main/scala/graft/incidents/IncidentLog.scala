package graft.incidents

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only incident log + dashboard read path (reference
  * `incident_logger.py` + `app/dashboard.py`).
  *
  * Record schema mirrors `incident_logger.py:17-29` (9 columns, two
  * carrying JSON payloads). The reference appends by re-reading and
  * rewriting the whole CSV (`incident_logger.py:64-66`, O(n) per
  * append → O(n²) total); here appends are parquet append-mode writes —
  * O(1) per incident, safe at any log size, and directly streamable
  * (graft.streaming reads the same directory with readStream).
  */
object IncidentLog {

  final case class Incident(
    run_id: String,
    pipeline_name: String,
    description: String,
    stage: String, // baseline | drifted | healing | post_healing
    status: String, // success | failed | healing_actions_applied | no_changes | healed_success | failed_after_healing
    error_type: String,
    error_message: String,
    issues_json: String,
    healing_actions_json: String)

  def append(spark: SparkSession, path: String, incident: Incident): Unit = {
    import spark.implicits._
    Seq(incident).toDS().coalesce(1).write.mode("append").parquet(path)
  }

  /** Reads with the declared `Incident` schema: no inference job per
    * dashboard refresh, and a log with no files yet reads as empty. */
  def read(spark: SparkSession, path: String): Dataset[Incident] = {
    import spark.implicits._
    spark.read.schema(spark.emptyDataset[Incident].schema).parquet(path).as[Incident]
  }

  /** CSV edge-format export/import (the reference's on-disk format,
    * `incident_logger.py:49-62`). The JSON payload columns force full
    * quoting+escaping — Spark's CSV writer quotes embedded quotes,
    * commas and newlines; the reader must be configured to match
    * (multiLine for embedded newlines, escape='"' for RFC-4180 double
    * quotes). Parquet stays the internal format; CSV is the edge. */
  def exportCsv(incidents: Dataset[Incident], path: String): Unit =
    incidents.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("escape", "\"")
      .csv(path)

  def importCsv(spark: SparkSession, path: String): Dataset[Incident] = {
    import spark.implicits._
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(spark.emptyDataset[Incident].schema)
      .csv(path)
      .na.fill("")
      .as[Incident]
  }

  /** Dashboard scalar metrics in ONE aggregate pass (reference computes
    * four separate passes, `dashboard.py:29-32`). */
  final case class Metrics(total: Long, success: Long, failed: Long, healed: Long)

  /** The four dashboard counters — shared by the batch one-shot and the
    * streaming aggregation so the two paths cannot drift. */
  private val metricCols = Seq(
    count(lit(1)).as("total"),
    count(when(col("status").contains("success"), 1)).as("success"),
    count(when(col("status").contains("failed"), 1)).as("failed"),
    count(when(col("status") === "healed_success", 1)).as("healed"))

  def metrics(incidents: Dataset[Incident]): Metrics = {
    val row = incidents.agg(metricCols.head, metricCols.tail: _*).collect()(0)
    Metrics(row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
  }

  /** LIVE incident feed — the streaming replacement for the reference
    * dashboard's per-interaction file re-read (`dashboard.py:11-15`
    * re-parses the whole CSV on every rerun): the same parquet
    * directory [[append]] writes to is an unbounded streaming source
    * here, so each appended incident file arrives as a micro-batch and
    * the dashboard aggregations update incrementally instead of
    * rescanning history. At scale the log is unbounded; the streaming
    * aggregations below keep O(1) / O(stages x statuses) state rather
    * than re-reading an ever-growing log per refresh. */
  def readIncidentStream(spark: SparkSession, path: String): Dataset[Incident] = {
    import spark.implicits._
    spark.readStream.schema(spark.emptyDataset[Incident].schema)
      .parquet(path).as[Incident]
  }

  /** Dashboard counters as a streaming aggregation: ONE global row of
    * four counts (complete output mode — the state is a single row, so
    * "complete" costs nothing here). */
  def metricsStream(incidents: Dataset[Incident]): DataFrame =
    incidents.agg(metricCols.head, metricCols.tail: _*)

  /** Per-(stage, status) live counts — the streaming twin of the
    * dashboard's filter facets; state is bounded by the enum domains,
    * not the log length. */
  def facetCountsStream(incidents: Dataset[Incident]): DataFrame =
    incidents.groupBy(col("stage"), col("status")).agg(count(lit(1)).as("n"))

  /** The timestamp payload of a stage-prefixed run id
    * ("post-healing-<ts>" etc. — stage names themselves contain dashes,
    * so the known prefixes are matched explicitly). Sorting on the raw
    * run_id would group by stage name, not recency (the reference has
    * the same quirk — dashboard.py:41). Payloads are expected to be
    * ISO-8601 / zero-padded (fixed width), where lexicographic order
    * IS chronological order. */
  private def runTs =
    regexp_replace(col("run_id"), "^(baseline|drifted|healing|post-healing)-", "")

  /** Run history, newest first (dashboard.py:41). */
  def history(incidents: Dataset[Incident]): DataFrame =
    incidents.orderBy(runTs.desc_nulls_last, col("run_id").desc_nulls_last).toDF()

  /** Distinct filter options, sorted (dashboard.py:44-45). */
  def filterOptions(incidents: Dataset[Incident], column: String): Seq[String] =
    incidents.select(column).distinct().orderBy(column)
      .collect().map(_.getString(0)).toSeq

  /** Optional equality filters + sort (dashboard.py:51-58). */
  def filtered(incidents: Dataset[Incident],
      stage: Option[String], status: Option[String]): DataFrame = {
    val afterStage = stage.fold(incidents.toDF())(s => incidents.filter(col("stage") === s).toDF())
    val afterStatus = status.fold(afterStage)(s => afterStage.filter(col("status") === s))
    afterStatus.orderBy(runTs.desc_nulls_last, col("run_id").desc_nulls_last)
  }

  /** Single-run lookup (dashboard.py:62-63). */
  def byRunId(incidents: Dataset[Incident], runId: String): Option[Incident] =
    incidents.filter(col("run_id") === runId).limit(1).collect().headOption
}
