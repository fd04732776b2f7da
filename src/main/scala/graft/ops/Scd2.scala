package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension (SCD2) operators: build a
  * validity-interval history from a change stream, and MERGE a new
  * change batch into an existing history incrementally.
  *
  * The reference keeps only latest-state tables (SCD1 — see
  * `q84_upsert` / `EventStreams.upsertLatestPerKey`); SCD2 is the
  * other half every warehouse needs: each change becomes a row with
  * `[valid_from, valid_to)`, the latest row per key stays open
  * (valid_to NULL). Both operators are per-key window/join shapes —
  * state shuffles on the key, nothing driver-side, no growth beyond
  * the history itself.
  *
  * The merge contract (and the correctness oracle): merging a batch
  * into the history built from all EARLIER changes yields exactly the
  * history built from ALL changes at once — incremental ≡ rebuild.
  * This holds when the batch's changes are not older than the open
  * rows they close (enforce upstream with a watermark/cutoff; a truly
  * late change requires reopening closed intervals, which is a
  * rewrite, not a merge). */
object Scd2 {

  /** History from scratch: one row per change, `valid_to` = the key's
    * next change ts (NULL = still current). `(tsCol, tieCol)` must be
    * a total order per key. */
  def build(changes: DataFrame, keyCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .drop(tsCol)
  }

  /** Incremental merge of `batch` (raw changes) into `history`
    * (a [[build]]-shaped table): close each key's open row at the
    * key's FIRST batch change, chain the batch's own rows with a
    * window, and union. Keys untouched by the batch pass through;
    * keys new in the batch simply append. One shuffle of the batch on
    * the key, one broadcast-or-shuffle join against the history —
    * the history is never rewritten beyond the open rows' `valid_to`,
    * which is what makes this cheap at warehouse scale.
    *
    * The close join is NULL-SAFE on the key (`<=>`): [[build]]'s
    * `Window.partitionBy` treats a NULL key as an ordinary group, so
    * a plain `===` here would never close a NULL-key open row and the
    * incremental-equals-rebuild contract would silently break for
    * exactly that key (same reasoning as GlobalRank.nullSafeJoin). */
  def merge(history: DataFrame, batch: DataFrame, keyCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val firstChange = batch.groupBy(col(keyCol).as("_k"))
      .agg(min(col(tsCol)).as("_first_ts"))
    val closed = history
      .join(firstChange, col(keyCol) <=> col("_k"), "left")
      .withColumn("valid_to",
        when(col("valid_to").isNull, col("_first_ts")).otherwise(col("valid_to")))
      .drop("_k", "_first_ts")
    closed.unionByName(build(batch, keyCol, tsCol, tieCol))
  }
}
