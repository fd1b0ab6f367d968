package graft.streaming

import org.apache.spark.sql.functions._

/** CLI demo of the streaming + multimodal surfaces. Usage:
  *
  *   runMain graft.streaming.StreamingDemoMain <eventsParquetDir> <docsParquetFile>
  *
  * Streams the events directory through the hourly windowed aggregate and
  * the stateful sessionizer (memory sinks, drained synchronously), then
  * runs the multimodal featurize stage over the documents table, printing
  * row counts and samples — a one-command end-to-end smoke of both APIs.
  */
object StreamingDemoMain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: StreamingDemoMain <eventsParquetDir> <docsParquetFile>")
    val Array(eventsDir, docsFile) = args
    val spark = graft.Harness.session("graft-streaming-demo",
      graft.Harness.cpus(4), "WARN")
    import spark.implicits._

    val stream = EventsStreaming.readEvents(spark, eventsDir)
    val wq = EventsStreaming.hourlyWindowed(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("demo_hourly").start()
    wq.processAllAvailable(); wq.stop()
    val hourly = spark.table("demo_hourly")
    println(s"[demo] hourly windows: ${hourly.count()} rows")
    hourly.orderBy("bucket", "event_type").show(5, truncate = false)

    val sq = EventsStreaming.userSessions(
      EventsStreaming.readEvents(spark, eventsDir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[EventsStreaming.Event])
      .writeStream.outputMode("update")
      .format("memory").queryName("demo_sessions").start()
    sq.processAllAvailable(); sq.stop()
    val sessions = spark.table("demo_sessions")
    println(s"[demo] session updates: ${sessions.count()} rows over " +
      s"${sessions.select("user_id").distinct().count()} users")

    val media = graft.multimodal.Multimodal.fromDocuments(
      spark.read.parquet(docsFile))
    val feats = graft.multimodal.Multimodal.extractFeatures(media, 16)
    println(s"[demo] media features: ${feats.count()} items, dim=16")
    feats.toDF().select($"media_id", $"byte_len",
      slice($"features", 1, 3).as("features_head")).show(3, truncate = false)

    spark.stop()
  }
}
