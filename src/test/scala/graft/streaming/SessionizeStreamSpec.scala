package graft.streaming

import graft.{SparkSuite, Tables}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Streaming sessionization vs the batch 30-min-gap window query — bit
  * equality (the KmvStreamSpec/AttributionStreamSpec doctrine at the
  * session tier).
  *
  *  1. a hand-built fixture forces the hard paths: a LATE event arriving
  *     in a later micro-batch that BRIDGES two already-emitted sessions
  *     (merge + id shift + tombstone for the vacated id), an exact-1800 s
  *     gap (same session; only >1800 splits), and an interior late event
  *     that increments an existing session's count;
  *  2. the real sf0.001 events table in three time-ordered chunks must
  *     land on the exact row set of batch `ev_sessionize`.
  */
class SessionizeStreamSpec extends SparkSuite {
  import spark.implicits._

  /** Drive to completion; fold emissions keeping the LATEST row per
    * (user, session_id), dropping tombstoned ids — the downstream
    * contract the operator documents.
    */
  private def runToEnd(dir: String, schema: org.apache.spark.sql.types.StructType)
      : (Map[(Long, Long), (Long, java.sql.Timestamp, java.sql.Timestamp)], Long) = {
    val latest = new java.util.concurrent.ConcurrentHashMap[
      (Long, Long), (Long, java.sql.Timestamp, java.sql.Timestamp)]()
    val tombstones = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStream.userSessionize(stream)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.SessionVerdict], _: Long) =>
        b.collect().foreach { v =>
          if (v.n_events == 0L) {
            tombstones.incrementAndGet()
            latest.remove((v.user_id, v.session_id))
          } else latest.put((v.user_id, v.session_id),
            (v.n_events, v.session_start, v.session_end))
        }
      }
      .option("checkpointLocation",
        tempDir("sess_ck"))
      .start()
    q.processAllAvailable(); q.stop()
    (latest.asScala.toMap, tombstones.get())
  }

  private def batchSessions(d: String)
      : Map[(Long, Long), (Long, java.sql.Timestamp, java.sql.Timestamp)] =
    graft.queries.Extended.evSessionize(spark, d)
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect()
      .map { case (u, sid, n, s, e) => (u, sid) -> ((n, s, e)) }.toMap

  private def writeChunk(dir: String, idx: Int,
                         df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = tempDir(s"sess_part$idx")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(s"$dir/f$idx.parquet"))
    ()
  }

  test("late bridging event merges sessions, shifts ids, tombstones the tail") {
    val dir = tempDir("sess_fx")
    def ev(id: Long, user: Long, ts: String) =
      (id, java.sql.Timestamp.valueOf(ts), user, "view",
        null.asInstanceOf[java.lang.Double], null: String)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // file 1 — user 1: sessions A [10:00] and B [10:50, 11:20 (= exactly
    // 1800 s after 10:50, so SAME session — only >1800 splits)]; the A→B
    // gap of 3000 s splits but is bridgeable (≤ 2·1800); user 2: one
    // session
    val f1 = Seq(
      ev(1L, 1L, "2024-01-05 10:00:00"),
      ev(2L, 1L, "2024-01-05 10:50:00"),
      ev(3L, 1L, "2024-01-05 11:20:00"),
      ev(4L, 2L, "2024-01-05 09:00:00"))
    // file 2 — the LATE arrivals: 10:25 is within 1500 s of BOTH A's end
    // and B's start -> ONE merged session, id 2 must be retracted; 11:00
    // lands INSIDE the merged span (count bumps, bounds don't)
    val f2 = Seq(
      ev(5L, 1L, "2024-01-05 10:25:00"),
      ev(6L, 1L, "2024-01-05 11:00:00"))
    val all = f1 ++ f2
    val schema = all.toDF(cols: _*).schema
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      writeChunk(dir, i, rows.toDF(cols: _*)) }
    val (got, tombs) = runToEnd(dir, schema)
    assert(tombs >= 1L, "the vacated session id must be tombstoned")
    assert(got.keySet === Set((1L, 1L), (2L, 1L)))
    val (n1, s1, e1) = got((1L, 1L))
    assert(n1 === 5L, "merge must sum counts and count interior arrivals")
    assert(s1 === java.sql.Timestamp.valueOf("2024-01-05 10:00:00"))
    assert(e1 === java.sql.Timestamp.valueOf("2024-01-05 11:20:00"))
    // and the stream's final rows equal the batch window query on the union
    val tmp = tempDir("sess_union")
    all.toDF(cols: _*).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val want = graft.queries.Extended.evSessionize(spark, tmp)
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect()
      .map { case (u, sid, n, s, e) => (u, sid) -> ((n, s, e)) }.toMap
    assert(got === want)
  }

  test("sf0.001 events in three time-ordered chunks match batch ev_sessionize") {
    val ev = Tables.events(spark, sf)
    val dir = tempDir("sess_sf")
    val cuts = Seq("2024-01-11", "2024-01-21")
    val chunks = Seq(
      ev.filter(col("ts") < cuts(0)),
      ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
      ev.filter(col("ts") >= cuts(1)))
    chunks.zipWithIndex.foreach { case (c, i) => writeChunk(dir, i, c) }
    val (got, _) = runToEnd(dir, ev.schema)
    val want = batchSessions(sf)
    assert(got.size === want.size)
    assert(got === want)
  }
}
