package graft.pipeline

import graft.SparkSuite
import graft.normalize.{JsonCoalesce, JsonFields}
import graft.streaming.EventStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GetJsonObject
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper

/** Plan-shape guard for payload extraction: each normalizer's,
  * `p4_drift_coalesce`'s and each streaming order-ref reader's executed
  * plan reads the payload with exactly ONE kernel evaluation per input
  * and no `get_json_object`. A filter on a field the
  * kernel extracts must not be pushed below it, where it would evaluate
  * the kernel a second time.
  */
class NormalizePlanSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** (kernel evaluations, get_json_object calls) in `df`'s executed plan. */
  private def extractors(df: DataFrame): (Int, Int) = {
    df.collect()
    extractors(df.queryExecution.executedPlan)
  }

  private def extractors(plan: SparkPlan): (Int, Int) = {
    val exprs = collectWithSubqueries(plan) { case p => p }.flatMap(_.expressions)
    (exprs.map(_.collect { case _: JsonFields | _: JsonCoalesce => 1 }.size).sum,
      exprs.map(_.collect { case _: GetJsonObject => 1 }.size).sum)
  }

  private lazy val events: DataFrame = {
    val path = EventGenerator.writeJsonl(
      EventGenerator.Config(events = 400, seed = 5L), tempDir("normalize_plan"))
    CommercePulse.ingest(Seq(CommercePulse.readLive(spark, path)))
  }

  test("each normalizer extracts its payload fields with one kernel evaluation") {
    for ((name, df) <- Seq(
        "orders" -> CommercePulse.normalizeOrders(events),
        "payments" -> CommercePulse.normalizePayments(events),
        "refunds" -> CommercePulse.normalizeRefunds(events)))
      assert(extractors(df) === (1, 0), name)
  }

  test("p4_drift_coalesce extracts its drift key with one kernel evaluation") {
    assert(extractors(graft.SparkEntry.queries("p4_drift_coalesce")(spark, sf)) === (1, 0))
  }

  /** The executed plan of the micro-batch that runs streaming `df` into
    * a memory sink. No-data batches are off, so the last execution is the
    * one batch that read the rows.
    */
  private def streamedPlan(df: DataFrame, mode: String): SparkPlan = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val q = df.writeStream.format("memory").queryName(s"plan_$mode${System.nanoTime}")
        .outputMode(mode).start()
      try {
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      } finally q.stop()
    } finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("each streaming order-ref reader extracts the ref with one kernel evaluation") {
    val dir = tempDir("normalize_plan_stream")
    Files.writeString(Paths.get(s"$dir/events.jsonl"), Seq(
      """{"event_id":"p1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\"}","ingested_at":"2024-01-02T10:01:00"}""",
      """{"event_id":"p2","event_type":"payment_succeeded","event_time":"2024-01-02T11:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"A-1\"}","ingested_at":"2024-01-02T11:01:00"}"""
    ).mkString("\n"))
    def deduped = EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, dir))
    val stream = EventStream.readLiveStream(spark, dir)
    for ((name, df, mode, inputs) <- Seq(
        ("dailyApproxOrders", EventStream.dailyApproxOrders(deduped), "complete", 1),
        ("dailyKmvOrders", EventStream.dailyKmvOrders(deduped).toDF(), "update", 1),
        ("orderLifecycle", EventStream.orderLifecycle(deduped).toDF(), "update", 1),
        ("orderPaymentJoin", EventStream.orderPaymentJoin(stream, stream), "append", 2)))
      assert(extractors(streamedPlan(df, mode)) === (inputs, 0), name)
  }
}
