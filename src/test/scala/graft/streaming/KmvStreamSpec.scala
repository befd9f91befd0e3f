package graft.streaming

import graft.SparkSuite
import graft.pipeline.CommercePulse
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Streaming KMV vs batch KMV — bit equality, not an error band.
  *
  * The fixture forces BOTH estimator regimes (day 1 has 100 distinct refs
  * > k=64 → θ path; day 2 has 10 → exact path) and is split across three
  * files consumed one per micro-batch, so day 1's sketch is built by
  * cross-batch state merges. The assertion is that the final streaming
  * state equals — to the bit, including θ itself — the sketch a one-shot
  * batch pass computes over the same events. That holds only if the
  * merge (distinct-union + re-take-k) is truly associative and
  * order-insensitive, which is the property that makes the sketch safe
  * to shard across executors and micro-batches at scale.
  */
class KmvStreamSpec extends SparkSuite {
  private val K = 64

  test("streaming per-day KMV sketch is bit-equal to the batch sketch") {
    val dir = tempDir("stream_kmv")
    def line(id: String, day: String, ref: String): String =
      s"""{"event_id":"$id","event_type":"order_created","event_time":"${day}T10:00:00","vendor":"vendor_b","payload":"{\\"order_id\\":\\"$ref\\"}","ingested_at":"${day}T11:00:00"}"""
    // day 1: 100 distinct refs (> K, some repeated across files so the
    // cross-batch distinct-union matters); day 2: 10 (< K, exact path)
    val f1 = (1 to 60).map(i => line(s"a$i", "2024-01-01", s"R-$i"))
    val f2 = (41 to 100).map(i => line(s"b$i", "2024-01-01", s"R-$i"))
    val f3 = (1 to 10).map(i => line(s"c$i", "2024-01-02", s"S-$i"))
    Files.writeString(Paths.get(s"$dir/f1.jsonl"), f1.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/f2.jsonl"), f2.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/f3.jsonl"), f3.mkString("\n"))

    val stream = EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))
    val kmv = EventStream.dailyKmvOrders(EventStream.dedupWithWatermark(stream), K)
    val q = kmv.writeStream
      .format("memory").queryName("kmv_daily").outputMode("update").start()
    q.processAllAvailable(); q.stop()
    // update mode emits one row per (day, micro-batch); the final state
    // per day is the row with the fullest sketch, then the smallest θ
    // (nk is nondecreasing, hk nonincreasing as the sketch improves)
    val streamed = spark.sql("SELECT event_date, nk, hk, kmv_est FROM kmv_daily")
      .collect()
      .map(r => (r.getDate(0).toString, (r.getInt(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1)
      .map { case (d, rows) => d -> rows.map(_._2).maxBy { case (nk, hk, _) => (nk, -hk) } }

    // batch twin: same events, same hash, k smallest per day via a
    // rank-filter (the WindowGroupLimit shape), same integer estimator
    val batch = spark.read.schema(CommercePulse.EnvelopeSchema).json(dir)
      .dropDuplicates("event_id")
      .withColumn("event_ts",
        graft.normalize.Drift.parseTimestampMulti(col("event_time")))
      .withColumn("ref",
        graft.normalize.Drift.jsonCoalesce(col("payload"), Seq("orderRef", "order_id")))
      .filter(col("ref").isNotNull)
      .select(to_date(col("event_ts")).cast("string").as("day"),
        md5(col("ref")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day").orderBy("h")))
      .filter(col("rn") <= K)
      .groupBy("day")
      .agg(count(lit(1)).cast("int").as("nk"), max(col("h")).as("max_h"))
      // θ = hex48(kth smallest) — hex48 is monotone, so hex48(max(h))
      .withColumn("hk", conv(substring(col("max_h"), 1, 12), 16, 10).cast("long"))
      .select(col("day"), col("nk"), col("hk"),
        when(col("nk") < K, col("nk").cast("long"))
          .otherwise(expr(s"(${K - 1}L * ${1L << 48}L) div hk")).as("kmv_est"))
      .collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3))))
      .toMap

    assert(streamed.keySet == Set("2024-01-01", "2024-01-02"))
    assert(streamed("2024-01-01")._1 == K) // θ regime actually exercised
    assert(streamed("2024-01-02")._1 == 10) // exact regime too
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }
}
