package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs for the benchmark, generated inside the run.
  *
  * `tables` writes the board tables the `queries` mix reads
  * (`lineitem`, `events`, `documents`) with the engine's fixture schemas
  * and value shapes: uniform keys and categories, 2-dp money,
  * day-grained dates, monotone event times, and 10-100 token documents
  * over a 30-word vocabulary of which 5% are near-duplicates (another
  * document's text plus " dup").
  *
  * Every value is a pure function of (seed, column tag, row id) through
  * xxhash64, so the output does not depend on partitioning, core count
  * or run order.
  */
object DataGen {

  /** Row counts at scale factor 1 (TPC-H proportions). */
  private val base = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L,
    "orders" -> 1500000L, "lineitem" -> 6000000L, "events" -> 1000000L,
    "documents" -> 50000L)

  def rows(table: String, sf: Double): Long =
    math.max(1L, math.round(base(table) * sf))

  /** Uniform double in [0, 1) for column `tag` of row `id`. */
  private def u(seed: Long, tag: String, id: Column): Column =
    (xxhash64(lit(seed), lit(tag), id).bitwiseAND(lit(Long.MaxValue)) / math.pow(2, 63))

  private def pick(seed: Long, tag: String, id: Column, n: Int): Column =
    floor(u(seed, tag, id) * n).cast("int")

  private def choose(seed: Long, tag: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), pick(seed, tag, id, values.size) + 1)

  private def money(seed: Long, tag: String, id: Column, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, tag, id) * (hi - lo), 2)

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")

  /** Writes `lineitem`, `events` and `documents` under `out`. */
  def tables(spark: SparkSession, out: Path, sf: Double, seed: Long): Unit = {
    def ids(table: String): DataFrame =
      spark.range(0L, rows(table, sf), 1L, 4).toDF("id")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(out.resolve(s"$name.parquet").toString)
    val id = col("id")
    val nSupp = rows("supplier", sf)
    val nPart = rows("part", sf)
    val nOrders = rows("orders", sf)
    val day = 86400L * 1000000L

    write("lineitem", ids("lineitem").select(
      floor(u(seed, "l_order", id) * nOrders).cast("long").as("l_orderkey"),
      floor(u(seed, "l_part", id) * nPart).cast("long").as("l_partkey"),
      floor(u(seed, "l_supp", id) * nSupp).cast("long").as("l_suppkey"),
      (pick(seed, "l_line", id, 7) + 1).as("l_linenumber"),
      (pick(seed, "l_qty", id, 50) + 1).cast("double").as("l_quantity"),
      money(seed, "l_price", id, 900.0, 105000.0).as("l_extendedprice"),
      round(u(seed, "l_disc", id) * 0.1, 2).as("l_discount"),
      round(u(seed, "l_tax", id) * 0.08, 2).as("l_tax"),
      choose(seed, "l_rflag", id, Seq("A", "N", "R")).as("l_returnflag"),
      choose(seed, "l_lstatus", id, Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(789004800L * 1000000L) +
        floor(u(seed, "l_date", id) * 2498).cast("long") * day).as("l_shipdate")))
    val nEvents = rows("events", sf)
    val gap = 30L * day / nEvents
    write("events", ids("events").select(id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) +
        (id * gap + floor(u(seed, "e_ts", id) * gap).cast("long"))).as("ts"),
      floor(u(seed, "e_user", id) * rows("customer", sf)).cast("long").as("user_id"),
      choose(seed, "e_type", id, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log1p(-u(seed, "e_value", id)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(seed, "e_k", id, 100)).as("props")))
    // a 5% share of documents repeats another document's text plus " dup"
    val nDocs = rows("documents", sf)
    val isDup = u(seed, "d_dup", id) < 0.05
    val textId = when(isDup, floor(u(seed, "d_src", id) * nDocs).cast("long")).otherwise(id)
    val vocab = array(words.map(lit): _*)
    val body = array_join(transform(
      sequence(lit(1), pick(seed, "d_len", col("tid"), 91) + 10),
      j => element_at(vocab,
        (pmod(xxhash64(lit(seed), lit("d_tok"), col("tid"), j), lit(words.size.toLong)) + 1)
          .cast("int"))), " ")
    write("documents", ids("documents").withColumn("tid", textId).select(id.as("doc_id"),
      when(isDup, concat(body, lit(" dup"))).otherwise(body).as("text"),
      when(u(seed, "d_lang", id) < 0.4, lit("en"))
        .otherwise(choose(seed, "d_lang2", id, Seq("de", "es", "fr", "zh"))).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }

  /** One customers batch for the self-healing pipeline, written as CSV
    * by plain file IO: `customers` rows of the generated customer ⨝ nation
    * shape, each replicated `replicas` times under a fresh id. In the
    * broken batch exactly `broken` rows, chosen by the seed, carry a
    * blank or non-numeric age. */
  def customersCsv(out: Path, customers: Int, replicas: Int, seed: Long,
      broken: Int): Unit = {
    val n = customers.toLong * replicas
    val rnd = new java.util.SplittableRandom(seed)
    val brokenRows = new java.util.BitSet(n.toInt)
    // Floyd's sample of `broken` distinct rows
    var j = n - broken
    while (j < n) {
      val t = rnd.nextLong(j + 1)
      if (brokenRows.get(t.toInt)) brokenRows.set(j.toInt) else brokenRows.set(t.toInt)
      j += 1
    }
    val w = Files.newBufferedWriter(out)
    try {
      w.write("customer_id,name,age,country\n")
      var i = 0L
      while (i < n) {
        val c = i / replicas
        val h = scala.util.hashing.MurmurHash3.productHash((seed, c))
        val age =
          if (!brokenRows.get(i.toInt)) (18 + Math.floorMod(h, 63)).toString
          else if ((h & 1) == 0) "" else "unknown"
        w.write(s"$i,Customer#${"%09d".format(c)},$age,NATION_${Math.floorMod(h >>> 8, 25)}\n")
        i += 1
      }
    } finally w.close()
  }
}
