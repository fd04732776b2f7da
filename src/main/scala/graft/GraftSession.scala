package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's local session configuration lives —
  * Verify, Bench, and the runnable demos previously each rebuilt the
  * same block (UTC, nanos flag, cpu-matched shuffle partitions).
  *
  * Spark's compiled-class cache (`CodeGenerator.cache`) is JVM-wide:
  * it is sized once, by the first session that generates code, and
  * `spark.sql.codegen.cache.maxEntries` is a static conf that a later
  * `spark.conf.set` rejects. So every entry point builds its session
  * here, and a session built any other way first freezes the cache at
  * Spark's default of 100 entries for the whole JVM.
  *
  * Every session built here also carries
  * [[graft.functions.GraftExtensions]]: graft's native functions, the
  * as-of join strategy and its pushdown rules. Query code never
  * registers anything itself. `spark.sql.extensions` is static too: a
  * session that `getOrCreate` returns keeps the extensions it was
  * built with.
  */
object GraftSession {

  /** Entries in Spark's compiled-class cache. Spark's default of 100
    * holds the classes of only a few board queries (first runs in one
    * JVM at sf0.001: q207 compiles 112 classes, q274 34, q112 20, q187
    * 12, q14 8): a repeated mix of those five evicts every class before
    * its next use, so each pass recompiled about 140-180 classes with
    * Janino. A whole perfbench `queries` run compiles about 210 distinct
    * classes and its live heap rose 225.9 → 232.3 MB (median of ten
    * runs, 4-core host): about 30 KB per cached entry, so 1024 entries
    * cost at most about 30 MB against a 2-8 GB driver heap. The value
    * bounds the engine's working set rather than fitting one workload:
    * any session that cycles more than a few queries' plans outgrows
    * the default. */
  val CodegenCacheEntries = 1024

  def local(appName: String,
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata timestamps are tz-less micros (isAdjustedToUTC=false);
      // read them as session-TZ TIMESTAMP, not TIMESTAMP_NTZ, so casts
      // (ts -> double/long) and the Encoder-based streaming twins keep
      // the LTZ type every operator and oracle was written against.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("GRAFT_AQE", "true"))
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    extraConfigs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
