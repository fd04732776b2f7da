package graft.drift

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Numeric profiling + mean-drift detection (reference
  * `drift_detector.py`): profile = {column → (mean, sample std)} over
  * numeric columns; drift = relative mean change vs a persisted
  * baseline profile, guarded against zero baselines.
  *
  * The reference loops per column (`drift_detector.py:16-26`, N scans);
  * here the whole profile is ONE fused aggregate, [[aggregates]], which
  * a pipeline run observes on its warehouse write (`graft.etl.Etl.run`)
  * instead of scanning again; [[profile]] runs the same expressions as
  * a standalone 1-row aggregate. `stddev_samp` of a single row is null
  * in Spark but 0.0 in the reference (`drift_detector.py:24`) —
  * coalesce pins the reference semantics.
  * The profile JSON shape matches `data/metadata/reference_profile.json`:
  * {"columns": {col: {"mean": m, "std": s}}}.
  */
object DriftDetector {

  final case class ColumnProfile(column: String, mean: Double, std: Double)

  sealed trait DriftOutcome
  case object BaselineCreated extends DriftOutcome
  final case class Compared(drifted: Seq[DriftedColumn]) extends DriftOutcome
  final case class DriftedColumn(
    column: String, baseMean: Double, currMean: Double, relChange: Double)

  private val mapper = new ObjectMapper()

  /** Numeric columns of a frame (reference P8, `drift_detector.py:12-13`). */
  def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq

  /** The profile's aggregate: mean + sample std per numeric column
    * (null-ignoring, n=1 → 0.0). */
  def aggregates(df: DataFrame): Seq[Column] = {
    val cols = numericColumns(df)
    cols.map(c => avg(col(c)).as(s"m_$c")) ++
      cols.map(c => coalesce(stddev_samp(col(c)), lit(0.0)).as(s"s_$c"))
  }

  /** One-pass profile of `df` — the reference the profile observed on
    * the pipeline write is checked against. */
  def profile(df: DataFrame): Seq[ColumnProfile] = aggregates(df) match {
    case Seq() => Seq.empty
    case aggs => fromMetrics(df.agg(aggs.head, aggs.tail: _*).collect()(0))
  }

  /** The profile from a row holding [[aggregates]] (other fields are
    * ignored). A column with no non-null value has mean NaN. */
  def fromMetrics(row: Row): Seq[ColumnProfile] =
    row.schema.fieldNames.toSeq.collect { case f if f.startsWith("m_") => f.drop(2) }.map(c =>
      ColumnProfile(c,
        Option(row.getAs[java.lang.Double](s"m_$c")).map(_.doubleValue).getOrElse(Double.NaN),
        row.getAs[Double](s"s_$c")))

  def saveProfile(profiles: Seq[ColumnProfile], path: String): Unit = {
    val cols = new java.util.LinkedHashMap[String, Object]()
    profiles.foreach { p =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("mean", java.lang.Double.valueOf(p.mean))
      m.put("std", java.lang.Double.valueOf(p.std))
      cols.put(p.column, m)
    }
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("columns", cols)
    Option(Paths.get(path).toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }

  def loadProfile(path: String): Seq[ColumnProfile] = {
    val root = mapper.readValue(Files.readString(Paths.get(path)),
      classOf[java.util.Map[String, Object]]).asScala
    root("columns").asInstanceOf[java.util.Map[String, Object]].asScala.toSeq.map {
      case (name, statsObj) =>
        val stats = statsObj.asInstanceOf[java.util.Map[String, Object]].asScala
        ColumnProfile(name, stats("mean").toString.toDouble, stats("std").toString.toDouble)
    }
  }

  /** First run: persist baseline (`drift_detector.py:40-47`). Later
    * runs: inner-join current vs baseline on column name and flag
    * |curr-base|/|base| > tolerance, skipping zero baselines
    * (`drift_detector.py:49-87`, F5-F7). */
  def detectAndUpdate(current: Seq[ColumnProfile], profilePath: String,
      tolerance: Double): DriftOutcome = {
    if (!Files.exists(Paths.get(profilePath))) {
      saveProfile(current, profilePath)
      BaselineCreated
    } else {
      val baseline = loadProfile(profilePath).map(p => p.column -> p).toMap
      val drifted = current.flatMap { c =>
        baseline.get(c.column).flatMap { b =>
          if (b.mean == 0.0) None // zero-guard (drift_detector.py:64-65)
          else {
            val rel = math.abs(c.mean - b.mean) / math.abs(b.mean)
            if (rel > tolerance) Some(DriftedColumn(c.column, b.mean, c.mean, rel))
            else None
          }
        }
      }
      Compared(drifted)
    }
  }
}
