package graft.streaming

import java.nio.file.{Files, Paths}

/** Runnable streaming demo:
  * `sbt "runMain graft.streaming.StreamDemo"` — drops envelope JSONL into
  * a watched directory, streams it through watermark-dedup + windowed agg
  * and the foreachBatch order upsert, prints both results.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session()
    val in = Files.createTempDirectory("stream_demo_in").toString
    val out = Files.createTempDirectory("stream_demo_out").toString
    val cp = Files.createTempDirectory("stream_demo_cp").toString

    Files.writeString(Paths.get(s"$in/batch1.jsonl"), Seq(
      """{"event_id":"s1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"total\":100.0}","ingested_at":"2024-01-01T11:00:00"}""",
      """{"event_id":"s1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"total\":100.0}","ingested_at":"2024-01-01T12:00:00"}""",
      """{"event_id":"s2","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"s3","event_type":"payment_succeeded","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 10:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-1\"}","ingested_at":"2024-01-03T11:00:00"}"""
    ).mkString("\n"))

    val stream = EventStream.readLiveStream(spark, in)
    val deduped = EventStream.dedupWithWatermark(stream)
    val aggQ = EventStream.dailyWindowAgg(deduped).writeStream
      .format("memory").queryName("daily").outputMode("complete").start()
    aggQ.processAllAvailable(); aggQ.stop()
    println("[stream-demo] windowed daily agg:")
    spark.sql("SELECT * FROM daily ORDER BY event_date").show(false)

    val upsertQ = EventStream.startOrderUpsert(spark,
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, in)),
      s"$out/fact_orders", cp)
    upsertQ.awaitTermination(60000)
    println("[stream-demo] upserted fact_orders:")
    spark.read.parquet(s"$out/fact_orders").show(false)

    val cp2 = Files.createTempDirectory("stream_demo_cp2").toString
    val dailyQ = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, in)),
      s"$out/fact_order_daily", cp2)
    dailyQ.awaitTermination(60000)
    println("[stream-demo] refreshed fact_order_daily:")
    spark.read.parquet(s"$out/fact_order_daily").orderBy("order_date").show(false)
    spark.stop()
  }
}
