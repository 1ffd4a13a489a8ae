package graft.streaming

import graft.SparkSpec
import graft.suite.Registry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Windowed trending: the watermarked streaming aggregation emits exactly
  * the finalized windows of the batch aggregation, and the top-k over the
  * streamed counts equals the batch top-k on those windows.
  */
class TrendingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming windowed counts == batch counts on finalized windows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_trending")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events_1.parquet"))
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val events = Registry.normalizeTs(raw)
    val delay = "1 hour"

    val stream = Trending.windowCounts(
      Registry.normalizeTs(
        spark.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString))
        .withWatermark("ts", delay),
      "event_type", "1 day")
    val q = stream
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("n"))
      .writeStream.format("memory").queryName("trending_test")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("trending_test")

    // append mode finalizes a window when the watermark (max event time
    // − delay) passes its end; windows still open at termination are
    // withheld — so the batch reference is filtered to the same frontier
    val maxTs = events.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val frontier = new java.sql.Timestamp(maxTs.getTime - 3600 * 1000L)
    val finalized = Trending.windowCounts(events, "event_type", "1 day")
      .filter(col("w.end") <= lit(frontier))

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    val got = canon(streamed.select(col("ws"), col("event_type"), col("n")))
    val want = canon(finalized.select(col("w.start"), col("event_type"), col("n")))
    assert(want.nonEmpty, "test needs at least one finalized window")
    assert(got == want)

    // and the leaderboard over the streamed counts matches batch top-k
    val topStream = canon(Trending.topK(
        streamed.select(struct(col("ws").as("start"), col("we").as("end")).as("w"),
          col("event_type"), col("n")),
        "event_type", 3)
      .select(col("w.start"), col("event_type"), col("n"), col("rnk")))
    val topBatch = canon(Trending.topK(finalized, "event_type", 3)
      .select(col("w.start"), col("event_type"), col("n"), col("rnk")))
    assert(topStream == topBatch)
  }
}
