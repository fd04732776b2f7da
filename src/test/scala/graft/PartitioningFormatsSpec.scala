package graft

import java.nio.file.Files

/** Multi-format source/sink round-trips. */
class PartitioningFormatsSpec extends SparkSuite {

  test("csv, json, and orc sinks round-trip the customer table") {
    val base = Files.createTempDirectory("graft_fmt").toString
    val customer = Tables(spark, sf, "customer")
      .orderBy("c_custkey")

    customer.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    customer.write.mode("overwrite").json(s"$base/json")
    customer.write.mode("overwrite").orc(s"$base/orc")

    val fromCsv = spark.read.option("header", "true")
      .schema(customer.schema).csv(s"$base/csv")
    val fromJson = spark.read.schema(customer.schema).json(s"$base/json")
    val fromOrc = spark.read.orc(s"$base/orc")

    val expected = customer.collect().map(_.toSeq).toSet
    Seq("csv" -> fromCsv, "json" -> fromJson, "orc" -> fromOrc).foreach {
      case (name, df) =>
        assert(df.collect().map(_.toSeq).toSet == expected, s"$name round-trip mismatch")
    }
  }
}
