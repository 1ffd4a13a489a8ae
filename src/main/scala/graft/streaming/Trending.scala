package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed trending counts, shared between the batch query surface and
  * a watermarked stream (TrendingSpec runs [[Trending.windowCounts]] over
  * one and proves finalized-window equality).
  * The per-window ranking runs OVER the finalized counts — in production
  * the append-mode sink holds one row per (window, key) and the top-k is
  * a cheap partitioned rank over that compacted frame, never over raw
  * events.
  */
object Trending {

  /** Per-(tumbling window, key) counts. Over a stream behind a
    * watermark, append mode emits each window exactly once, when the
    * watermark passes its end.
    */
  def windowCounts(events: DataFrame, keyCol: String, size: String): DataFrame =
    events.groupBy(window(col("ts"), size).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))

  /** Top-k keys per window with a deterministic tie-break. */
  def topK(counts: DataFrame, keyCol: String, k: Int): DataFrame =
    counts.withColumn("rnk", row_number().over(
        Window.partitionBy(col("w")).orderBy(col("n").desc, col(keyCol)))
      .cast("long"))
      .filter(col("rnk") <= k)
}
