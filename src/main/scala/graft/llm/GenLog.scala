package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, count_if, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery

/** One GENERATION-LOG store lifecycle — the partition layout and the
  * compaction/replay policy every persisted log store shares, owned
  * once. A store lays its state out as `<root>/<sub>/<partCol>=<id>`
  * partition dirs (an empty sub name means the root itself); what a
  * store keeps for itself is only its sub-dirs, its partition column
  * (`gen` or `batch` — the on-disk layouts the specs pin), each sub's
  * optional read schema and fold, and its own delta derivation.
  *
  * The lifecycle:
  *
  *  - [[step]]: one generation's rows, each sub Overwriting its own
  *    `<partCol>=<id>` dir — an at-least-once foreachBatch replay
  *    rewrites identical deterministic bytes instead of
  *    double-appending (a plain append duplicated rows on replay);
  *  - [[writeRange]]: generations lo..hi as ONE `partitionBy` action
  *    per sub (the demo lifecycles' batched write — job count, not
  *    data, was their cost);
  *  - [[compact]]: fold every generation ≤ watermark into the newest
  *    one, per sub through the crash-ordered [[StateStores.rewriteSwap]];
  *  - [[autoCompact]]: the live sinks' compaction cadence;
  *  - [[append]]: the cross-process generation claim;
  *  - [[sink]]: the foreachBatch body every live log sink shares;
  *  - [[seed]]: a demo lifecycle's truncating generation 0.
  *
  * A store's query reads the log back through [[GenLog.net]] and
  * checks it against a from-scratch rebuild with [[GenLog.compare]].
  */
final case class GenLog(partCol: String, subs: GenLog.Sub*) {

  private def dir(root: String, sub: String) =
    if (sub.isEmpty) root else s"$root/$sub"

  /** The ids of `path`'s `<partCol>=<id>` partition dirs, read from
    * the directory names alone — zero Spark jobs. A missing dir
    * (never written, or caught mid-swap by another process) lists as
    * empty. */
  def ids(path: String): Seq[Long] = {
    val prefix = s"$partCol="
    try {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)
          .toVector
      } finally st.close()
    } catch {
      case _: java.nio.file.NoSuchFileException |
          _: java.nio.file.NotDirectoryException => Nil
    }
  }

  /** The head-only guard: the fold keeps only rows ≤ watermark, so a
    * watermark below the newest generation would silently destroy
    * every later one — compact the whole log or nothing. */
  private def guard(have: Seq[Long], watermark: Long): Unit =
    require(have.forall(_ <= watermark),
      s"compact(watermark=$watermark) below newest generation " +
        s"${have.max} would drop maintained state; compact at the log head")

  /** Fold every generation ≤ `watermark` of every sub into that sub's
    * newest generation: read (the caller's in-memory frame from `mem`
    * when it holds the very rows just written, else the parquet),
    * keep rows ≤ watermark, apply the sub's fold, relabel, and swap in
    * through the crash-ordered [[StateStores.rewriteSwap]].
    * `Long.MaxValue` folds the whole log into its head.
    *
    * Semantics-preserving for every later maintenance step: the
    * derivations read state only through `≤ g` / `< g` / `= g`
    * predicates and the folded id is below any future id. CONTRACT:
    * call at a COMMITTED head only — a replay of an uncommitted id
    * Overwrites that dir, which after a fold may hold the folded base.
    *
    * The guard checks every sub before any swap, so a refused compact
    * leaves the whole store unchanged. Each sub's list + read + swap
    * then runs under that sub's store lock ([[StateStores
    * .withStoreLock]] is reentrant, so the nested swap lock is a no-op):
    * a cross-process [[append]] can never land between the read and
    * the swap and be swapped away. Subs are disjoint paths, so their
    * rewrites run concurrently ([[StateStores.inParallel]]). */
  def compact(s: SparkSession, root: String, watermark: Long,
      mem: Map[String, DataFrame] = Map.empty): Unit = {
    guard(subs.flatMap(sub => ids(dir(root, sub.name))), watermark)
    StateStores.inParallel(subs.map { sub => () =>
      val path = dir(root, sub.name)
      StateStores.withStoreLock(path) {
        val have = ids(path)
        guard(have, watermark)
        if (have.nonEmpty) {
          val rows = mem.getOrElse(sub.name, sub.read(s, path))
            .filter(col(partCol) <= watermark)
          StateStores.rewriteSwap(
            sub.fold(rows).withColumn(partCol, lit(have.max)),
            path, Some(partCol))
        }
      }
    }: _*)
  }

  /** The live sinks' compaction cadence, called at the START of
    * foreachBatch(`current`), when every id < `current` is
    * streaming-committed (micro-batches are sequential): fold at the
    * committed head once ≥ `every` committed generations exist — but
    * never while a dir ≥ `current` exists in any sub. Such a dir is a
    * crashed uncommitted attempt of this very batch, about to be
    * Overwritten; folding it would read torn parquet and let the
    * replay's Overwrite destroy the folded base. Skipping is safe: the
    * next clean batch folds. Returns true when the fold ran. */
  def autoCompact(s: SparkSession, root: String, current: Long,
      every: Int): Boolean = {
    val all = subs.flatMap(sub => ids(dir(root, sub.name)))
    val committed = all.filter(_ < current).distinct
    if (committed.size < every || all.exists(_ >= current)) false
    else { compact(s, root, committed.max); true }
  }

  /** Generation `id`: each `sub -> rows` Overwrites
    * `<sub>/<partCol>=<id>`. Subs are independent paths, so the writes
    * run concurrently; a derivation that reads one sub's new rows
    * takes a second step. */
  def step(root: String, id: Long)(writes: (String, DataFrame)*): Unit =
    StateStores.inParallel(writes.map { case (sub, rows) => () =>
      rows.write.mode("overwrite").parquet(s"${dir(root, sub)}/$partCol=$id")
    }: _*)

  /** Generation 0 of a rerun-idempotent demo lifecycle: truncate the
    * whole store under its lock — every sub, and any older layout left
    * at the root — then [[step]] 0. */
  def seed(root: String)(writes: (String, DataFrame)*): Unit = {
    StateStores.withStoreLock(root)(
      StateStores.rmTree(java.nio.file.Paths.get(root)))
    step(root, 0)(writes: _*)
  }

  /** Generations lo..hi of each `sub -> rows` (rows carry `partCol`)
    * as ONE `partitionBy` write per sub, the subs concurrently. A
    * range starting at 0 overwrites, truncating any stale state (the
    * rerun-idempotent seed); later ranges append. No coalesce: AQE
    * right-sizes the output files. */
  def writeRange(root: String, lo: Long, hi: Long)
      (writes: (String, DataFrame)*): Unit = {
    val mode = if (lo == 0L) "overwrite" else "append"
    StateStores.inParallel(writes.map { case (sub, rows) => () =>
      rows.filter(col(partCol).between(lo, hi))
        .write.mode(mode).partitionBy(partCol).parquet(dir(root, sub))
    }: _*)
  }

  /** One atomic generation APPEND for a store written by several
    * PROCESSES: list the generations, claim max+1, and publish the
    * rows by temp-dir + rename, all inside ONE
    * [[StateStores.withStoreLock]] acquisition — two writers can
    * neither claim the same id nor land an append inside the other's
    * [[compact]]. Returns the claimed id. */
  def append(path: String, rows: DataFrame): Long =
    StateStores.withStoreLock(path) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      val have = ids(path)
      val next = if (have.isEmpty) 0L else have.max + 1L
      val tmp = s"$path/.${partCol}_tmp_$next"
      rows.coalesce(1).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
        java.nio.file.Paths.get(s"$path/$partCol=$next"))
      next
    }

  /** A live log sink: each micro-batch runs [[autoCompact]] at the
    * committed head, then `body(batch, batchId)` lands the batch's
    * generation. A checkpointed sink replays any batch whose write
    * landed but whose commit did not — the [[step]] Overwrite makes
    * that replay converge. */
  def sink(docs: DataFrame, root: String, checkpoint: Option[String],
      every: Int)(body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      autoCompact(batch.sparkSession, root, id, every)
      body(batch, id)
    }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }
}

object GenLog {

  /** Committed generations a live sink accumulates before it folds
    * them: the ~10-append cadence read off BASELINE.md's serve
    * read-amplification table (24 fragmented generations served 1.46×
    * slower than the compacted store at ×10). */
  val CompactEvery = 10

  /** A store sub-dir: its name under the root (empty = the root), the
    * declared read schema when a generation can be part-less (an
    * empty commit that schema inference would fail on), and the
    * compaction fold (identity = relabel only). */
  final case class Sub(name: String, schema: Option[String] = None,
      fold: DataFrame => DataFrame = identity) {
    def read(s: SparkSession, path: String): DataFrame =
      schema.fold(s.read)(s.read.schema(_)).parquet(path)
  }

  /** The fold of a signed delta log: one row per key carrying its net
    * delta, net ≤ 0 dropped — a fully retracted key costs nothing
    * after the fold. */
  def net(keys: Seq[String]): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*).agg(sum(col("delta")).as("delta"))
      .filter(col("delta") > 0)

  /** The maintained ≡ rebuilt contract of a store, per key — the one
    * comparison every store query reports. `maintained` holds one row
    * per key with its maintained count in `delta` (a [[net]] read of a
    * delta log, or a plain multiset count); `rebuilt` holds one row per
    * occurrence in a from-scratch rebuild. Every key of either side
    * comes back with both counts, columns `maintained` and `rebuilt`,
    * 0 where that side lacks the key: a key whose counts differ is a
    * mismatch, and a key retracted to net 0 matches its absence. */
  def compare(maintained: DataFrame, rebuilt: DataFrame,
      keys: Seq[String]): DataFrame =
    maintained.withColumnRenamed("delta", "maintained")
      .join(rebuilt.groupBy(keys.map(col): _*).agg(count(lit(1)).as("rebuilt")),
        keys, "full_outer")
      .select(keys.map(col) ++ Seq("maintained", "rebuilt")
        .map(c => coalesce(col(c), lit(0L)).as(c)): _*)

  /** The per-shingle cumulative df table of a `gen`-tagged postings
    * frame at every watermark lo−1..hi, from ONE aggregation pass:
    * column `df<w>` counts the `sh` rows with gen ≤ w. Read a
    * watermark through [[dfAt]]; below generation 0 it is 0, so no
    * column is emitted for it. Postings relabeled by a compaction fold
    * keep their count at every watermark ≥ the fold's head. */
  def cumulativeDf(post: DataFrame, lo: Int, hi: Int): DataFrame = {
    val wms = (lo - 1).max(0) to hi
    val counts = wms.map(w =>
      (if (w == hi) count(lit(1)) else count_if(col("gen") <= w)).as(s"df$w"))
    post.filter(col("gen") <= hi).groupBy(col("sh"))
      .agg(counts.head, counts.tail: _*)
  }

  /** Watermark `w`'s df column of a [[cumulativeDf]] table. */
  def dfAt(w: Int): Column = if (w < 0) lit(0L) else col(s"df$w")
}
