package graft.tools

import org.apache.spark.sql.functions._

/** Manual smoke for the paths the batch Verify gate can't reach:
  * Structured Streaming (readStream → windowAggStream → memory sink)
  * and the multimodal Dataset stub. Run:
  * `sbt "runMain graft.tools.StreamSmoke /root/testdata/sf0.001"`. */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    import spark.implicits._

    // streaming: same transform as the batch stream_window_agg query
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file-stream source needs a dir or glob, not a bare file path
    val stream = graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(s"$dir/events.parque[t]"))
    println(s"isStreaming=${stream.isStreaming}")
    val agg = graft.streaming.Events.windowAggStream(stream)
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("smoke").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("smoke")
    val batchN = spark.read.parquet(s"$dir/events.parquet").count()
    val streamN = rows.agg(sum("n")).as[Long].head()
    println(s"stream windows=${rows.count()} events_via_stream=$streamN events_batch=$batchN")
    rows.orderBy(col("window.start")).show(3, truncate = false)

    // EXACTLY-ONCE SINK (round-17): foreachBatch delivers AT-LEAST-ONCE —
    // a crash between the store write and the checkpoint commit re-offers
    // the batch on restart. The doc-store sink is idempotent (scalar
    // upsert + array SET union), so the replay is a no-op: at-least-once
    // input × idempotent sink = exactly-once output, no transaction log.
    // Driven here through the real writeStream path, then the redelivery
    // simulated by re-invoking the sink closure on the delivered batch.
    locally {
      val store = java.nio.file.Files.createTempDirectory("graft_eo_smoke")
        .toString + "/docs"
      val sink = graft.sinks.DocStoreSink.appendRecordsInto(
        store, "user_id", Seq("event_id", "value"), "events", Nil) _
      val evStream = graft.sources.Tables.normalizeEventTs(
        spark.readStream.schema(schema).parquet(s"$dir/events.parque[t]"))
        .select(col("user_id"), col("event_id"), col("value"))
      val eq = evStream.writeStream.foreachBatch(sink).start()
      eq.processAllAvailable(); eq.stop()
      val once = spark.read.parquet(store)
        .selectExpr("count(*) AS docs", "sum(size(events)) AS evs").head()
      // redeliver the ENTIRE input as one batch (the worst-case replay)
      sink(graft.sources.Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("value")), 99L)
      val replayed = spark.read.parquet(store)
        .selectExpr("count(*) AS docs", "sum(size(events)) AS evs").head()
      println(s"exactly_once docs=${once.getLong(0)} events=${once.getLong(1)} " +
        s"after_replay docs=${replayed.getLong(0)} events=${replayed.getLong(1)} " +
        s"invariant=${once == replayed}")
      require(once == replayed, "replay changed the doc store — sink not idempotent")
    }

    // multimodal: payload plumbing + stubbed batched decode
    import graft.multimodal.Multimodal
    val media = Multimodal.withPayload(spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
      .select(col("doc_id").as("id"), col("payload"), col("meta.byte_len"), col("meta.width"), col("meta.height"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.decodeFeatures(media, batchSize = 7)
    println(s"media_features=${feats.count()}")
    feats.orderBy("id").show(3, truncate = false)
    spark.stop()
  }
}
