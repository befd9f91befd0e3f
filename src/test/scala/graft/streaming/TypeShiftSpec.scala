package graft.streaming

import graft.SparkSuite
import java.nio.file.{Files, Paths}

/** Streaming day-over-day type-mix monitor vs the batch definition.
  *
  * The fixture spreads three days across three single-file micro-batches,
  * with LATE events for earlier days arriving in later batches (inside
  * the watermark), so cross-batch count accumulation and change-only
  * re-emission are both exercised. The final verdict per (type, day)
  * must equal the batch computation: n = the day's total count, prev_n =
  * the CALENDAR-previous day's count or 0, minus each type's first day.
  */
class TypeShiftSpec extends SparkSuite {

  test("streaming type-shift verdicts converge to the batch day-over-day deltas") {
    val dir = tempDir("stream_shift")
    var id = 0
    def line(day: String, et: String): String = {
      id += 1
      s"""{"event_id":"s$id","event_type":"$et","event_time":"${day}T10:00:00","vendor":"vendor_b","payload":"{}","ingested_at":"${day}T11:00:00"}"""
    }
    val f1 = Seq.fill(3)(line("2024-01-01", "order_created")) ++
      Seq.fill(2)(line("2024-01-01", "payment_ok"))
    val f2 = Seq.fill(5)(line("2024-01-02", "order_created")) ++
      Seq.fill(2)(line("2024-01-01", "order_created")) // late day-1 rows
    val f3 = Seq.fill(1)(line("2024-01-03", "order_created")) ++
      Seq.fill(2)(line("2024-01-02", "order_created")) ++ // late day-2 rows
      Seq.fill(4)(line("2024-01-03", "payment_ok"))
    Files.writeString(Paths.get(s"$dir/f1.jsonl"), f1.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/f2.jsonl"), f2.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/f3.jsonl"), f3.mkString("\n"))

    val stream = EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))
    val shifts = EventStream.typeShiftMonitor(
      EventStream.dedupWithWatermark(stream))
    val q = shifts.writeStream
      .format("memory").queryName("type_shift").outputMode("update").start()
    q.processAllAvailable(); q.stop()

    // update mode re-emits on change; counts only grow, so the final
    // verdict per (type, day) is the max-(n, prev_n) row
    val got = spark.sql("SELECT event_type, day, n, prev_n, delta FROM type_shift")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1)
      .map { case (k, rows) => k -> rows.map(_._2).maxBy(v => (v._1, v._2)) }

    val want = Map(
      ("order_created", "2024-01-02") -> ((7L, 5L, 2L)),
      ("order_created", "2024-01-03") -> ((1L, 7L, -6L)),
      ("payment_ok", "2024-01-03") -> ((4L, 0L, 4L))) // day-2 gap ⇒ prev 0
    assert(got === want)
    // every verdict's delta is consistent (n - prev_n) in every emission,
    // including the superseded intermediate ones
    spark.sql("SELECT n, prev_n, delta FROM type_shift").collect()
      .foreach(r => assert(r.getLong(2) === r.getLong(0) - r.getLong(1)))
  }
}
