package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `queries`: one pass runs a fixed mix of named board queries over the
  * generated tables, in an order permuted by the seed.
  *
  * Each query is timed to its full result: the plan is written to
  * Spark's `noop` sink, so every output column is computed (a
  * `.count()` would let Catalyst prune projected work). The same
  * execution observes the output's row count and an order-independent
  * digest (the sum of per-row xxhash64 over every column, floating
  * point narrowed to float), which is compared with the expected value
  * committed beside the benchmark.
  */
final class Queries(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    sf: Double, expected: Map[String, (Long, String)]) extends Workload {
  import Queries._

  val name = "queries"
  val layers: Seq[String] = Queries.layers
  val extras: Seq[String] = Nil

  private val dataSeed = 20261017L
  private val dataDir = work.resolve("tables")
  private val order = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(mix)
  }
  private val fns = graft.SparkEntry.queries

  def generate(): Unit = DataGen.tables(spark, dataDir, sf, dataSeed)

  /** Runs one query to its full result; returns (rows, digest, seconds),
    * with digest "error" when the query threw. */
  def runOne(q: String, layer: String): (Long, String, Double) = {
    val sc = spark.sparkContext
    val obs = Observation(q.take(20))
    val t0 = System.nanoTime()
    val out = scala.util.Try(Tracer.inLayer(sc, layer) {
      tracer.span(q, "queries.pass") {
        val df = fns(q)(spark, dataDir.toString)
        df.observe(obs, count(lit(1)).as("n"), digest(df)).write
          .format("noop").mode("overwrite").save()
      }
      val m = obs.get
      (m("n").asInstanceOf[Long], String.valueOf(m("h")))
    }).getOrElse((0L, "error"))
    (out._1, out._2, (System.nanoTime() - t0) / 1e9)
  }

  def pass(traced: Boolean): Pass = {
    val t0 = Tracer.nowMs()
    val ops = order.map { case (q, layer) =>
      val (n, h, secs) = runOne(q, layer)
      val ok = expected.get(q).contains((n, h))
      if (!ok) System.err.println(s"query check failed: $q rows=$n digest=$h " +
        s"expected=${expected.get(q)}")
      (q, layer, Op(q, secs, ok, 0, main = true))
    }
    val t1 = Tracer.nowMs()
    tracer.record("queries.pass", "", t0, t1)
    tracer.drain()
    val jobs = tracer.jobsIn(t0, t1)
    val spans = tracer.spans.filter(s => s.parent == "queries.pass" && s.startMs >= t0)
      .map(s => s.name -> s).toMap
    val layerOut = mutable.Map.empty[String, LayerStats]
    val withRows = ops.map { case (q, layer, op) =>
      val s = spans(q)
      val mine = jobs.filter(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs)
      if (traced) Workload.attribute(mine.filter(_.layer == layer), s.startMs, s.endMs,
        layer, layerOut)
      op.copy(rows = mine.map(_.records).sum)
    }
    Pass((t1 - t0) / 1000.0, withRows, layerOut.toMap, Map.empty)
  }
}

object Queries {

  /** The query mix, each with the module (layer) that defines it. */
  val mix: Seq[(String, String)] = Seq(
    // robust statistics over exact and sketched quantiles, job-count bound
    "q207_mad_outliers" -> "ops.Statistics",
    "q112_sketch_percentiles" -> "ops.Extended",
    // data-bound, shuffle-heavy
    "q274_degree_census" -> "ops.Extended",
    // an LLM-data operator: edit-distance near-duplicate detection
    "q187_editdist_dedup" -> "llm.TextDedup",
    // short, driver-bound; materializing every column matters here
    "q14_running_sum" -> "ops.Relational")

  val layers: Seq[String] = mix.map(_._2).distinct

  /** Order-independent digest of every row and column; floating point
    * is narrowed to float so last-bit differences of a fold do not show. */
  def digest(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType == DoubleType || f.dataType == FloatType) c.cast(FloatType) else c
    }
    sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0))).as("h")
  }

  def loadExpected(path: Path): Map[String, (Long, String)] =
    if (!Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines().filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split('\t')
      q -> (n.toLong, h)
    }.toMap
}
