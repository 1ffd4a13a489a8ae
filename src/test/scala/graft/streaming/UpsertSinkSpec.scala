package graft.streaming

import graft.SparkSpec
import graft.suite.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The upsert merge folded micro-batch by micro-batch: the state after
  * the last batch is the same latest-state table as one batch merge, a
  * replayed batch is a no-op, and out-of-order arrival cannot regress a
  * key (last-writer-wins under the total order).
  */
class UpsertSinkSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def prepared = {
    Registry.tbl(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_c"),
        unix_timestamp(col("ts")).as("sec"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select("user_id", "event_id", "event_type", "value_c", "sec")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("streamed micro-batches == one batch merge; replay is a no-op") {
    val e = prepared
    val keys = Seq("user_id")
    val ord = Seq("sec", "event_id")
    val expected = canon(UpsertSink.mergeBatch(e.limit(0), e, keys, ord))
    def merge(state: DataFrame, batch: DataFrame): DataFrame =
      UpsertSink.mergeBatch(state, batch, keys, ord)

    // three deliveries -> three micro-batches
    val batches = (0 until 3).map(i => e.filter(col("event_id") % 3 === i))
    val state = batches.foldLeft(e.limit(0))(merge)
    assert(state.count() == expected.size)
    assert(canon(state) == expected, "folded state != batch merge")

    // crash-replay: merging an already-applied batch again changes nothing
    assert(canon(merge(state, batches(2))) == expected)

    // late out-of-order delivery in a NEW batch: older rows for existing
    // keys cannot regress the state (last-writer-wins)
    val stale = e.withColumn("sec", col("sec") - 1000000L)
    assert(canon(merge(state, stale)) == expected)
  }
}
