package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config.{ColumnSpec, DriftConfig, PipelineConfig, QualityConfig}
import graft.etl.Etl

/** The ETL's lenient casts keep `try_cast` values: the `int` column
  * (a guarded legacy cast, no exception per bad value) equals
  * `try_cast(s AS BIGINT)` and the `float` column equals
  * `try_cast(s AS DOUBLE)` on a table of edge strings, and no
  * string → integral cast in the ETL plan runs the throwing TRY/ANSI
  * path. */
class EtlCastSpec extends SparkSuite {

  private val edges: Seq[String] = Seq(
    " 12 ", "+5", "-0", "1.0", "1.", ".5", "1.50", "3.", "-.",
    "9223372036854775807", "9223372036854775808", "9223372036854775809",
    "-9223372036854775807", "-9223372036854775808", "-9223372036854775809",
    "", "\t7\n", "12\u0000", " 12", "１２", "1e3", "0x10", "12abc",
    "--1", "+", "-", "007", "1,000", "unknown", null)

  /** String → integral casts that evaluate the ANSI cast (TRY wraps it
    * in a try/catch), i.e. build an exception per unparseable value. */
  private def throwingIntegralCasts(df: DataFrame): Seq[Cast] = {
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case c: Cast if c.child.dataType.isInstanceOf[StringType] &&
          integral(c.dataType) && c.evalMode != EvalMode.LEGACY => c
    }))
  }

  test("lenientCast equals try_cast row by row on the edge strings") {
    import spark.implicits._
    val df = edges.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val rows = df.select(col("id"), col("s"),
      Etl.lenientCast(col("s"), LongType).as("got_i"),
      expr("try_cast(s AS BIGINT)").as("want_i"),
      Etl.lenientCast(col("s"), DoubleType).as("got_f"),
      expr("try_cast(s AS DOUBLE)").as("want_f")).collect()
    assert(rows.length == edges.length)
    rows.foreach { r =>
      val s = r.getString(1)
      assert(r.get(2) == r.get(3), s"int cast of ${Option(s).map(_.map(_.toInt))}")
      assert(r.get(4) == r.get(5), s"float cast of ${Option(s).map(_.map(_.toInt))}")
    }
    // the table exercises both outcomes
    assert(rows.count(!_.isNullAt(3)) >= 5 && rows.count(_.isNullAt(3)) >= 5)
  }

  test("Etl.transform's int and float columns equal try_cast over a CSV, with no throwing cast") {
    // a line-based CSV read cannot carry a newline inside a field
    val csvEdges = edges.filter(s => s == null || !s.exists(c => c == '\n' || c == '\r'))
    val dir = Files.createTempDirectory("graft_cast_csv")
    val file = dir.resolve("edges.csv")
    val lines = csvEdges.zipWithIndex.map { case (s, i) =>
      val q = if (s == null) "" else "\"" + s + "\""
      s"$i,$q,$q"
    }
    Files.writeString(file, ("id,i,f" +: lines).mkString("", "\n", "\n"))
    val path = file.toString
    val cfg = PipelineConfig("", "t", "", Seq(
      ColumnSpec("id", "int", required = true, None),
      ColumnSpec("i", "int", required = false, None),
      ColumnSpec("f", "float", required = false, None)),
      QualityConfig(0), DriftConfig("", 0.5))
    val (df, missing) = Etl.transform(spark, cfg, path)
    assert(missing.isEmpty)
    assert(df.schema.map(_.dataType) == Seq(LongType, LongType, DoubleType))

    val raw = spark.read.option("header", "true").csv(path)
    // the strings reach the cast as written (an empty field reads as null)
    val read = raw.collect().map(r => r.getString(0).toInt -> r.getString(1)).toMap
    csvEdges.zipWithIndex.foreach { case (s, i) =>
      assert(read(i) == (if (s == "") null else s), s"CSV round trip of row $i")
    }
    val want = raw.select(col("id").cast("long"),
      expr("try_cast(i AS BIGINT)"), expr("try_cast(f AS DOUBLE)"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val got = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == want.keySet && got.size == csvEdges.length)
    got.foreach { case (id, r) =>
      assert(r == want(id), s"row $id (${Option(read(id.toInt)).map(_.map(_.toInt))})")
    }

    // plan guard: the throwing path would come back unnoticed by any
    // counter, so the analyzed plan must hold no TRY/ANSI string →
    // integral cast; the detector itself finds the one try_cast adds
    assert(throwingIntegralCasts(df).isEmpty, df.queryExecution.analyzed.toString)
    assert(throwingIntegralCasts(raw.select(expr("try_cast(i AS BIGINT)"))).size == 1)
  }
}
