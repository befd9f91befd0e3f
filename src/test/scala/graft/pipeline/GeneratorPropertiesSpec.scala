package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Pipeline invariants over a 10k-event seeded adversarial corpus
  * (EventGenerator: 3 dialects, ~5 % dups, ~10 % late, ~15 % drift) —
  * the generator records ground truth per event, so extraction through
  * the drift chains is checked against what was actually generated, not
  * against hand-written fixtures.
  */
class GeneratorPropertiesSpec extends SparkSuite {

  private lazy val cfg = EventGenerator.Config(events = 10000, seed = 7L)
  private lazy val gen = EventGenerator.generate(cfg)
  private lazy val path = {
    val dir = tempDir("gen_events")
    EventGenerator.writeJsonl(cfg, dir)
  }
  private lazy val ingested =
    CommercePulse.ingest(Seq(CommercePulse.readLive(spark, path))).cache()

  test("every generated line parses; ingest collapses exact duplicates") {
    assert(gen.size > 10000) // dup injection emitted extra lines
    assert(CommercePulse.readLive(spark, path).count() === gen.size.toLong)
    assert(CommercePulse.corruptLineCount(spark, path) === 0L)
    assert(ingested.count() === gen.map(_.eventId).distinct.size.toLong)
  }

  test("ingest is idempotent: replaying the whole feed changes nothing") {
    val twice = CommercePulse.ingest(
      Seq(CommercePulse.readLive(spark, path), CommercePulse.readLive(spark, path)))
    assert(twice.count() === ingested.count())
  }

  test("orders: one row per generated order id, every timestamp parsed") {
    val orders = CommercePulse.normalizeOrders(ingested)
    val expected = gen.filter(e =>
      e.eventType == "order_created" || e.eventType == "order_updated")
      .map(_.orderId).distinct.size.toLong
    assert(orders.count() === expected)
    assert(orders.filter(col("created_at").isNull).count() === 0L)
    assert(orders.filter(col("order_id").isNull).count() === 0L)
  }

  test("payments: drift chains recover every generated payment id") {
    val payments = CommercePulse.normalizePayments(ingested)
    val expected = gen.flatMap(_.paymentId).distinct.size.toLong
    assert(payments.count() === expected)
    assert(payments.filter(col("payment_date").isNull).count() === 0L)
    // the generator only emits SUCCESS payments; normalizeStatus buckets
    // every dialect spelling into canonical "success"
    assert(payments.filter(col("payment_status") =!= "success").count() === 0L)
  }

  test("refunds: id-less refund events each survive with a deterministic id") {
    val refunds = CommercePulse.normalizeRefunds(ingested)
    val expected = gen.filter(_.eventType == "refund_issued")
      .map(_.eventId).distinct.size.toLong
    assert(refunds.count() === expected)
    assert(refunds.filter(col("refund_amount") <= 0).count() === 0L)
  }

  test("fact_order_daily invariants hold over the full corpus") {
    val orders = CommercePulse.normalizeOrders(ingested)
    val payments = CommercePulse.normalizePayments(ingested)
    val refunds = CommercePulse.normalizeRefunds(ingested)
    val daily = CommercePulse.factOrderDaily(orders, payments, refunds).cache()
    // integer-scaled money: net is exactly gross - refunds on every grain
    assert(daily.filter(
      col("net_revenue") =!= col("gross_revenue") - col("total_refunds"))
      .count() === 0L)
    assert(daily.filter(col("order_count") < 1).count() === 0L)
    // every order lands in exactly one grain (all created_at parse)
    val totalOrders = daily.agg(sum("order_count")).collect()(0).getLong(0)
    assert(totalOrders === orders.count())
    daily.unpersist()
  }
}
