package graft.streaming

import graft.{SparkSuite, Tables}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Streaming attribution vs the batch as-of join — bit equality, not a
  * band (the KmvStreamSpec doctrine extended to the as-of tier).
  *
  * Two assertions:
  *  1. a hand-built fixture forces the hard paths — a LATE touch arriving
  *     in a later micro-batch that must REVISE an already-emitted verdict,
  *     a same-instant touch tie collapsing to max(event_type), and a touch
  *     exactly AT the purchase instant (inclusive as-of) — and the final
  *     verdict map must equal AsOf.joinAsOf over the union of all files;
  *  2. the real sf0.001 events table, split into three time-ordered
  *     chunks (log-arrival order), must land on verdicts whose channel
  *     rollup is bit-equal to the batch `ev_attribution` aggregate.
  */
class AttributionStreamSpec extends SparkSuite {
  import spark.implicits._

  /** Drive the stream to completion; return final verdicts keyed by
    * purchase, plus every emission for revision assertions. foreachBatch
    * folds into a driver-side map — batches apply in order, so "last write
    * per purchase" IS the stream's final verdict.
    */
  private def runToEnd(eventsDir: String, schema: org.apache.spark.sql.types.StructType)
      : (Map[Long, (Long, Option[Long], String)], Seq[Long]) = {
    val finalV = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Option[Long], String)]()
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(eventsDir)
    val q = EventStream.purchaseAttribution(stream)
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStream.AttributionVerdict], _: Long) =>
        b.collect().foreach { v =>
          finalV.put(v.purchase_id, (v.user_id, v.cents, v.channel))
          emitted.add(v.purchase_id)
        }
      }
      .option("checkpointLocation",
        tempDir("attrib_ck"))
      .start()
    q.processAllAvailable(); q.stop()
    (finalV.asScala.toMap, emitted.asScala.toSeq)
  }

  /** Batch oracle: per-purchase as-of verdicts via the same operator the
    * `ev_attribution` query composes.
    */
  private def batchVerdicts(ev: DataFrame): Map[Long, (Long, Option[Long], String)] = {
    val purchases = ev
      .filter(col("event_type") === "purchase"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val touches = ev
      .filter(col("event_type") =!= "purchase"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), col("ts").as("touch_ts"))
      .agg(max("event_type").as("channel"))
    graft.operators.AsOf.joinAsOf(purchases, touches,
        "user_id", "ts", "touch_ts", Seq("channel"))
      .select(col("event_id"), col("user_id"), col("cents"),
        coalesce(col("channel"), lit("direct")).as("channel"))
      .as[(Long, Long, Option[Long], String)].collect()
      .map { case (id, u, c, ch) => id -> ((u, c, ch)) }.toMap
  }

  test("late cross-batch touch revises the verdict; final map equals batch as-of") {
    val dir = tempDir("attrib_fx")
    def ev(id: Long, user: Long, ts: String, et: String, v: Option[Double]) =
      (id, java.sql.Timestamp.valueOf(ts), user, et,
        v.map(Double.box).orNull.asInstanceOf[java.lang.Double], null: String)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // file 1: user 1 touches "view" at 10:00, purchases at 12:00 (verdict
    // "view"); user 2 purchases at 12:00 with NO touch (verdict "direct");
    // user 3 has two same-instant touches -> max(event_type) tie-break
    val f1 = Seq(
      ev(101L, 1L, "2024-01-05 10:00:00", "view", None),
      ev(102L, 1L, "2024-01-05 12:00:00", "purchase", Some(10.0)),
      ev(103L, 2L, "2024-01-05 12:00:00", "purchase", Some(5.0)),
      ev(104L, 3L, "2024-01-05 09:00:00", "view", None),
      ev(105L, 3L, "2024-01-05 09:00:00", "click", None))
    // file 2: the LATE arrivals — user 1's "promo" touch at 11:00 (between
    // view and the purchase: must flip 102's verdict view -> promo); user
    // 3's purchase exactly AT the tied touch instant (inclusive as-of);
    // user 2's touch AFTER its purchase (must NOT attribute)
    val f2 = Seq(
      ev(106L, 1L, "2024-01-05 11:00:00", "promo", None),
      ev(107L, 3L, "2024-01-05 09:00:00", "purchase", Some(7.5)),
      ev(108L, 2L, "2024-01-05 13:00:00", "view", None))
    val all = f1 ++ f2
    val schema = all.toDF(cols: _*).schema
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      val tmp = tempDir(s"attrib_part$i")
      rows.toDF(cols: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(s"$dir/f$i.parquet"))
    }
    val (got, emissions) = runToEnd(dir, schema)
    val want = batchVerdicts(all.toDF(cols: _*))
    assert(got == want, s"got=$got want=$want")
    // the revision really happened: purchase 102 was emitted at least
    // twice (first "view", then "promo"), and the others exactly once
    assert(emissions.count(_ == 102L) >= 2)
    assert(got(102L)._3 == "promo")
    assert(got(103L)._3 == "direct")
    assert(got(107L)._3 == "view") // max("view", "click") at the instant
  }

  test("sf0.001 events in three time-ordered chunks match batch ev_attribution") {
    val ev = Tables.events(spark, sf)
    val dir = tempDir("attrib_sf")
    // log-arrival order: three consecutive time ranges (days 1-10, 11-20,
    // 21-30) — each later chunk is entirely inside the 7-day lateness
    // horizon of the previous chunk's watermark, so nothing is dropped
    val cuts = Seq("2024-01-11", "2024-01-21")
    val chunks = Seq(
      ev.filter(col("ts") < cuts(0)),
      ev.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
      ev.filter(col("ts") >= cuts(1)))
    chunks.zipWithIndex.foreach { case (c, i) =>
      val tmp = tempDir(s"attrib_sfp$i")
      c.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, Paths.get(s"$dir/f$i.parquet"))
    }
    val (got, _) = runToEnd(dir, ev.schema)
    val want = batchVerdicts(ev)
    assert(got == want)
    // and the channel rollup is bit-equal to the ev_attribution aggregate
    val streamRollup = got.values.toSeq
      .groupBy(_._3)
      .map { case (ch, vs) =>
        (ch, vs.size.toLong, vs.flatMap(_._2).sum / 100.0) }
      .toSet
    val batchRollup = graft.queries.Commerce.evAttribution(spark, sf)
      .as[(String, Long, Double)].collect().toSet
    assert(streamRollup == batchRollup)
  }
}
