package graft.config

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.{YAMLFactory, YAMLGenerator}
import org.apache.spark.sql.types._

/** The pipeline contract: a declared schema plus quality and drift
  * thresholds, persisted as YAML and mutable between runs by the
  * healing agent.
  *
  * Mirrors the reference's `config/pipeline_config.yml:1-22` shape
  * (warehouse_path, table_name, source_path, columns:{type, required,
  * max_null_fraction}, quality.row_count_min,
  * drift.{profile_path, mean_relative_tolerance}); loaded at
  * `pipeline_runner.py:21-23`, re-read per run at `pipeline_runner.py:50`,
  * rewritten by healing at `self_healing_agent.py:122`.
  *
  * Control-plane only: parsed on the driver (jackson-dataformat-yaml,
  * already on Spark's classpath), compiled to Catalyst types for the
  * data plane via [[ColumnSpec.sparkType]].
  */
final case class ColumnSpec(
  name: String,
  dtype: String, // "int" | "float" | "string" (unknown passes through)
  required: Boolean,
  maxNullFraction: Option[Double]) {

  /** Declared type → Spark type (reference `etl_job.py:61-69`). */
  def sparkType: Option[DataType] = dtype match {
    case "int"    => Some(LongType)
    case "float"  => Some(DoubleType)
    case "string" => Some(StringType)
    case _        => None // unknown type: pass through with a warning
  }
}

final case class QualityConfig(rowCountMin: Long)
final case class DriftConfig(profilePath: String, meanRelativeTolerance: Double)

final case class PipelineConfig(
  warehousePath: String,
  tableName: String,
  sourcePath: String,
  columns: Seq[ColumnSpec],
  quality: QualityConfig,
  drift: DriftConfig) {

  def columnNames: Seq[String] = columns.map(_.name)
}

object PipelineConfig {
  private val mapper = new ObjectMapper(
    new YAMLFactory().disable(YAMLGenerator.Feature.WRITE_DOC_START_MARKER))

  def load(path: String): PipelineConfig =
    fromYaml(Files.readString(Paths.get(path)))

  /** A config file that does not parse into a contract: bad YAML, a
    * missing `columns`/`quality`/`drift` section, or a malformed
    * value. */
  final class ConfigError(message: String) extends RuntimeException(message)

  def fromYaml(yaml: String): PipelineConfig =
    try parse(yaml) catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new ConfigError(s"unparseable YAML: ${e.getOriginalMessage}")
      case e @ (_: NoSuchElementException | _: ClassCastException |
          _: NumberFormatException | _: NullPointerException) =>
        throw new ConfigError(s"malformed config: ${e.getMessage}")
    }

  private def parse(yaml: String): PipelineConfig = {
    val root = mapper.readValue(yaml, classOf[java.util.Map[String, Object]]).asScala
    val cols = root("columns").asInstanceOf[java.util.Map[String, Object]].asScala.toSeq
      .map { case (name, specObj) =>
        val spec = specObj.asInstanceOf[java.util.Map[String, Object]].asScala
        ColumnSpec(
          name = name,
          dtype = spec.getOrElse("type", "string").toString,
          required = spec.get("required").exists(_.toString.toBoolean),
          maxNullFraction = spec.get("max_null_fraction").map(_.toString.toDouble))
      }
    val quality = root("quality").asInstanceOf[java.util.Map[String, Object]].asScala
    val drift = root("drift").asInstanceOf[java.util.Map[String, Object]].asScala
    PipelineConfig(
      warehousePath = root.getOrElse("warehouse_path", "").toString,
      tableName = root.getOrElse("table_name", "t").toString,
      sourcePath = root.getOrElse("source_path", "").toString,
      columns = cols,
      quality = QualityConfig(quality.getOrElse("row_count_min", "0").toString.toLong),
      drift = DriftConfig(
        profilePath = drift.getOrElse("profile_path", "").toString,
        meanRelativeTolerance =
          drift.getOrElse("mean_relative_tolerance", "0.5").toString.toDouble))
  }

  def save(cfg: PipelineConfig, path: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), toYaml(cfg),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
  }

  def toYaml(cfg: PipelineConfig): String = {
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("warehouse_path", cfg.warehousePath)
    root.put("table_name", cfg.tableName)
    root.put("source_path", cfg.sourcePath)
    val cols = new java.util.LinkedHashMap[String, Object]()
    cfg.columns.foreach { c =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("type", c.dtype)
      m.put("required", java.lang.Boolean.valueOf(c.required))
      c.maxNullFraction.foreach(v =>
        m.put("max_null_fraction", java.lang.Double.valueOf(v)))
      cols.put(c.name, m)
    }
    root.put("columns", cols)
    val quality = new java.util.LinkedHashMap[String, Object]()
    quality.put("row_count_min", java.lang.Long.valueOf(cfg.quality.rowCountMin))
    root.put("quality", quality)
    val drift = new java.util.LinkedHashMap[String, Object]()
    drift.put("profile_path", cfg.drift.profilePath)
    drift.put("mean_relative_tolerance",
      java.lang.Double.valueOf(cfg.drift.meanRelativeTolerance))
    root.put("drift", drift)
    mapper.writeValueAsString(root)
  }
}
