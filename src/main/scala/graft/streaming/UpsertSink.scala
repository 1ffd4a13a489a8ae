package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The state semantics of a keyed upsert sink — the `foreachBatch`
  * MERGE pattern that turns an append stream into a latest-state table.
  *
  * Semantics: last-writer-wins per key under a caller-supplied TOTAL
  * order (`orderCols` must be tie-broken — e.g. event time + unique id),
  * so the merge is associative, order-independent across batches, and
  * REPLAY-IDEMPOTENT: merging the same rows twice is a no-op
  * (UpsertSinkSpec folds it over micro-batches against the one-shot
  * merge).
  *
  * Scale shape: one map-side-combined `max_by` aggregation over
  * (state ∪ batch) — state stays at one row per key, and nothing here
  * is a window or a sort.
  */
object UpsertSink {

  /** Last-writer-wins merge: one row per key, the row with the maximal
    * `orderCols` tuple (lexicographic). One aggregation, no window.
    */
  def mergeBatch(
      state: DataFrame,
      batch: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val all = state.unionByName(batch)
    val cols = all.columns.toSeq
    all
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(cols.map(col): _*),
        struct(orderCols.map(col): _*)).as("__r"))
      .select(col("__r.*"))
  }
}
