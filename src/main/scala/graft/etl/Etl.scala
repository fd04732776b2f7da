package graft.etl

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Contains, EvalMode, If, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import graft.config.PipelineConfig
import graft.drift.DriftDetector
import graft.quality.DataQuality

/** The data-plane ETL query (reference `etl_job.py:25-83`): CSV scan →
  * header trim → schema-diff warning → projection to declared columns →
  * lenient casts → overwrite sink.
  *
  * One lazy plan end-to-end; Catalyst collapses the projections and
  * prunes the scan. The reference's CTAS-empty + DELETE + INSERT dance
  * (`etl_job.py:76-79`) collapses to a single atomic
  * `mode(Overwrite).parquet` — full-refresh semantics with no separate
  * DDL pass.
  *
  * Cast semantics: `try_cast` values everywhere, matching pandas
  * `to_numeric(errors="coerce")` (`etl_job.py:62-65`) — unparseable
  * values become null, never errors, independent of the session's ANSI
  * mode (Spark 4 defaults ANSI on; SURVEY.md §7.4.1). Integral columns
  * get those values without an exception per bad value: Spark 4.1 runs
  * `try_cast(string AS BIGINT)` as the ANSI cast inside a try/catch
  * (`Cast.canUseLegacyCastForTryCast` covers only string → fractional
  * and string → datetime), so every unparseable value built and threw
  * a `SparkNumberFormatException` before turning null. [[lenientCast]]
  * evaluates the legacy cast, which returns null instead of throwing,
  * and nulls strings holding a `.` first: accepting and truncating a
  * decimal fraction is the legacy parse's one difference from TRY's
  * (`EtlCastSpec` pins the two equal on a table of edge strings).
  * Measured on `local[1]`, the 150k-row perfbench `heal` CSVs to the
  * `noop` sink, median CPU of 7 runs:
  *
  * {{{
  * plan                        clean CSV   broken CSV (~25% "unknown" ages)
  * scan only                     0.54 s      0.54 s
  * + try_cast(… AS BIGINT)       0.77        1.22
  * + guarded legacy cast         0.77        0.64
  * + try_cast(… AS DOUBLE)       0.65        0.69
  * }}}
  *
  * Fractional columns stay on `try_cast`: Spark already evaluates that
  * one through the legacy, non-throwing path.
  */
object Etl {

  /** Bound on the wait for the observed metrics after the write. */
  private val MetricsTimeout = 60.seconds

  /** Build the cleaned DataFrame (lazy; no sink). */
  def transform(spark: SparkSession, cfg: PipelineConfig, sourcePath: String): (DataFrame, Seq[String]) = {
    val raw = spark.read.option("header", "true").csv(sourcePath)
    // P1: header whitespace normalization (etl_job.py:43)
    val trimmed = raw.toDF(raw.columns.map(_.trim): _*)
    // P2: schema diff — declared but absent (etl_job.py:46-53)
    val present = trimmed.columns.toSet
    val missing = cfg.columnNames.filterNot(present.contains)
    // P3: projection to declared-and-present, in config order (etl_job.py:55-56)
    val projected = trimmed.select(cfg.columnNames.filter(present.contains).map(col): _*)
    // P4-P6: lenient casts per declared type (etl_job.py:58-69)
    val casted = projected.select(cfg.columns.filter(c => present.contains(c.name)).map { c =>
      c.sparkType match {
        case Some(t) => lenientCast(col(c.name), t).as(c.name)
        case None    => col(c.name) // unknown declared type: pass through
      }
    }: _*)
    (casted, missing)
  }

  /** `try_cast(s AS t)` of a string column: for `LongType` the guarded
    * legacy cast (same values, no exception per unparseable value; see
    * the object doc), otherwise `try_cast` itself. */
  private[graft] def lenientCast(s: Column, t: DataType): Column = t match {
    case LongType =>
      val e = GraftSqlBridge.expression(s)
      GraftSqlBridge.column(If(Contains(e, Literal(".")), Literal(null, LongType),
        Cast(e, LongType, evalMode = EvalMode.LEGACY)))
    case _ => s.try_cast(t)
  }

  /** Full ETL: transform + overwrite warehouse sink, the only data pass
    * of a pipeline run. The DQ and drift aggregates ride the write as
    * one `Observation`, so the reference's write-then-check order
    * (`pipeline_runner.py:53-59`) costs no second scan. Returns the
    * observed metrics row (read by [[graft.quality.DataQuality.fromMetrics]]
    * and [[graft.drift.DriftDetector.fromMetrics]]) and the missing
    * declared columns. */
  def run(spark: SparkSession, cfg: PipelineConfig, sourcePath: String,
      warehouseDir: String): (Row, Seq[String]) = {
    val (casted, missing) = transform(spark, cfg, sourcePath)
    val metrics = DataQuality.aggregates(casted, cfg) ++ DriftDetector.aggregates(casted)
    val obs = Observation()
    casted.observe(obs, metrics.head, metrics.tail: _*)
      .write.mode("overwrite").parquet(s"$warehouseDir/${cfg.tableName}")
    (Await.result(obs.future, MetricsTimeout), missing)
  }
}
