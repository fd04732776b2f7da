package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.config.PipelineConfig

/** Data-quality rule engine (reference `data_quality_checks.py:16-89`):
  * row-count floor, per-column null fractions vs thresholds, required
  * columns, missing columns.
  *
  * The reference runs one full pass per column
  * (`data_quality_checks.py:41-49`); here ALL statistics come from a
  * single fused aggregate, [[aggregates]]. A pipeline run observes it
  * on the warehouse write (`graft.etl.Etl.run`), so DQ costs no scan
  * of its own; [[check]] runs the same expressions as a standalone
  * 1-row aggregate.
  */
object DataQuality {

  final case class FailedCheck(
    checkType: String, // row_count_below_min | required_column_has_nulls | null_fraction_exceeded | missing_column
    column: String, // "" for table-level checks
    observed: Double,
    threshold: Double,
    message: String)

  final case class DqReport(
    rowCount: Long,
    nullFractions: Map[String, Double],
    failedChecks: Seq[FailedCheck]) {
    def passed: Boolean = failedChecks.isEmpty
  }

  final class DataQualityException(val report: DqReport)
    extends RuntimeException(
      s"Data quality checks failed: ${report.failedChecks.map(_.message).mkString("; ")}")

  /** The report's aggregate: row count + null fraction per declared
    * column present in `df` (A1 + A2 fused). */
  def aggregates(df: DataFrame, cfg: PipelineConfig): Seq[Column] =
    count(lit(1)).as("row_count") +: cfg.columns.filter(c => df.columns.contains(c.name))
      .map(c => avg(col(c.name).isNull.cast("double")).as(s"nf_${c.name}"))

  /** The report in one aggregate pass over `df` — the reference the
    * observed pipeline write is checked against. `missing` = declared
    * columns absent from the source (schema-level check A4 — no data
    * pass needed). */
  def check(df: DataFrame, cfg: PipelineConfig, missing: Seq[String]): DqReport = {
    val aggs = aggregates(df, cfg)
    fromMetrics(df.agg(aggs.head, aggs.tail: _*).collect()(0), cfg, missing)
  }

  /** The report from a row holding [[aggregates]] — a `check` result or
    * the metrics observed on the warehouse write. */
  def fromMetrics(row: Row, cfg: PipelineConfig, missing: Seq[String]): DqReport = {
    val present = cfg.columns.filter(c => row.schema.fieldNames.contains(s"nf_${c.name}"))
    val rowCount = row.getAs[Long]("row_count")
    // guard BEFORE getAs: avg over zero rows is null, and unboxing a
    // null Double NPEs
    val nullFractions = present.map(c =>
      c.name -> (if (rowCount == 0) 0.0 else row.getAs[Double](s"nf_${c.name}"))).toMap
    DqReport(rowCount, nullFractions, evalRules(cfg, present, missing, rowCount, nullFractions))
  }

  /** Rule evaluation (A3/A4/A5 + row-count floor) over computed
    * statistics. */
  private def evalRules(cfg: PipelineConfig, present: Seq[graft.config.ColumnSpec],
      missing: Seq[String], rowCount: Long,
      nullFractions: Map[String, Double]): Seq[FailedCheck] = {
    val failed = Seq.newBuilder[FailedCheck]
    missing.foreach(m => failed += FailedCheck(
      "missing_column", m, 0.0, 0.0, s"Column '$m' is missing from the source"))
    if (rowCount < cfg.quality.rowCountMin) failed += FailedCheck(
      "row_count_below_min", "", rowCount.toDouble, cfg.quality.rowCountMin.toDouble,
      s"Row count $rowCount below minimum ${cfg.quality.rowCountMin}")
    present.foreach { c =>
      val nf = nullFractions(c.name)
      if (c.required && nf > 0.0) failed += FailedCheck(
        "required_column_has_nulls", c.name, nf, 0.0,
        s"Required column '${c.name}' has null fraction $nf")
      c.maxNullFraction.foreach { maxNf =>
        if (nf > maxNf) failed += FailedCheck(
          "null_fraction_exceeded", c.name, nf, maxNf,
          s"Column '${c.name}' null fraction $nf exceeds max $maxNf")
      }
    }
    failed.result()
  }
}
