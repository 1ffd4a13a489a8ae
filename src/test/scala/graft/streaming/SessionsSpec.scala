package graft.streaming

import graft.SparkSpec
import graft.suite.Registry
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

class SessionsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming session_window (AvailableNow) == batch session_window") {
    val batchEvents = Registry.tbl(spark, sfDir, "events")
    val batch = Sessions.sessionize(batchEvents, "15 minutes")

    // file-stream sources need a directory: stage the parquet in a tmp dir
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    // ts is a nanos LONG in the raw file; normalizeTs rebuilds the
    // timestamp the same way Registry.tbl does
    val raw = spark.read.parquet(dir.toString)
    val q = Sessions.sessionize(
        Registry.normalizeTs(spark.readStream.schema(raw.schema).parquet(dir.toString))
          .withWatermark("ts", "1 hour"), "15 minutes")
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sessions_test")

    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("incremental file arrival: second AvailableNow run picks up new files only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_incr")
    def write(name: String, rows: Seq[(Long, java.sql.Timestamp)]): Unit =
      rows.toDF("user_id", "ts").write.parquet(s"$dir/$name")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)

    write("batch1", Seq((1L, ts(1000)), (1L, ts(1100))))
    val checkpoint = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def runOnce(qn: String): Unit = {
      val q = Sessions.sessionize(
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
          .option("recursiveFileLookup", "true").parquet(dir.toString)
          .withWatermark("ts", "1 hour"), "15 minutes")
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce("incr_1")
    assert(spark.table("incr_1").count() === 1) // one session so far

    // new bundle arrives -> next AvailableNow run extends the result
    write("batch2", Seq((2L, ts(5000)), (2L, ts(5100))))
    runOnce("incr_2")
    val sessions = spark.table("incr_2")
      .select("user_id").collect().map(_.getLong(0)).sorted
    assert(sessions.toSeq === Seq(1L, 2L))
  }

  test("incremental islands over micro-batches converge to the batch islands") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_isl")
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // out-of-order arrival, including a value that bridges two islands
    val batches = Seq(
      Seq((1L, ts(1000)), (1L, ts(1200)), (2L, ts(50000))),
      Seq((1L, ts(9000)), (1L, ts(9300)), (1L, ts(9600))),
      Seq((1L, ts(5000)), (1L, ts(3000)), (1L, ts(7000)), (2L, ts(50060))))
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("user_id", "ts").repartition(1).write.parquet(s"$dir/b$i")
    }
    val all = batches.flatten.toDF("user_id", "ts")
    val expected = Sessions.statefulIslands(spark, all, 2000L)

    val acc = scala.collection.concurrent.TrieMap.empty[Long, Seq[org.apache.spark.sql.Row]]
    val q = Sessions.statefulIslands(spark,
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", "1").parquet(dir.toString),
        2000L)
      .writeStream
      .outputMode("update") // the operator emits keyed snapshot upserts
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().groupBy(_.getLong(0)).foreach { case (u, rs) => acc(u) = rs.toSeq }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = acc.values.flatten.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted
    val batch = expected.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    assert(streamed === batch)
    // sanity: the bridge event merged user 1 into one island spanning 1000..9600
    assert(streamed.filter(_._1 == 1L).map(t => (t._3, t._4, t._5)) ===
      Seq((1000L, 9600L, 8L)))
  }

  test("runToSink: Append-mode sessions land in the parquet sink once finalized") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_psink_in")
    val out = java.nio.file.Files.createTempDirectory("graft_psink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_psink_ck").toString
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    Seq((1L, ts(1000)), (1L, ts(1100))).toDF("user_id", "ts")
      .repartition(1).write.parquet(s"$dir/b0")
    Thread.sleep(1100)
    // far-future event pushes the watermark past user 1's session so
    // Append mode can finalize and emit it
    Seq((2L, ts(999000))).toDF("user_id", "ts")
      .repartition(1).write.parquet(s"$dir/b1")

    // sessionize in Append mode into a checkpointed parquet sink: the
    // far-future event advances the watermark, and the no-data batch
    // that follows emits user 1's now-final session exactly once
    val q = Sessions.sessionize(
        spark.readStream.schema("user_id LONG, ts TIMESTAMP")
          .option("recursiveFileLookup", "true").parquet(dir.toString)
          .withWatermark("ts", "10 seconds"), "15 minutes")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.filter(col("user_id") === 1).count() === 1)
    val r = got.filter(col("user_id") === 1).head()
    assert(r.getAs[Long]("session_start") === 1000L)
    assert(r.getAs[Long]("n_events") === 2L)
  }
}
