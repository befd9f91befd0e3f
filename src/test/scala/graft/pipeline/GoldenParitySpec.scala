package graft.pipeline

import graft.{GoldenData, SparkSuite}
import org.apache.spark.sql.functions._

/** Golden-file parity against the reference's committed corpus
  * (SURVEY §5 secondary strategy): the reference repo ships the raw live
  * feed (`data/live_events/2026-02-19/events.jsonl`, 2 106 lines), the
  * normalized fact tables its transformer produced from Mongo state
  * (`warehouse/facts/fact_orders|payments|refunds.csv`), and the outputs
  * derived from those exact frames (`fact_order_daily.csv`, 252 rows; the
  * dimension CSVs; `reports/quality_report_2026-02-20.csv`, 17 metrics).
  * The bootstrap inputs are NOT committed, so the
  * raw→normalized leg is asserted on the live slice (rows whose event_id
  * is the generator's 12-hex form) and the normalized→output legs on the
  * full committed frames.
  */
class GoldenParitySpec extends SparkSuite {

  private lazy val ordersGold = GoldenData.orders(spark)
  private lazy val paymentsGold = GoldenData.payments(spark)
  private lazy val refundsGold = GoldenData.refunds(spark)

  test("strict normalize over the committed live JSONL reproduces fact_orders' live rows") {
    GoldenData.assumeFixtures(GoldenData.LiveEvents, GoldenData.FactOrders)
    val events = CommercePulse.readLiveOrdered(
      spark, s"${GoldenData.Ref}/data/live_events/2026-02-19/events.jsonl")
    val got = CommercePulse.normalizeOrdersStrict(events)
    val want = ordersGold.filter(length(col("event_id")) === 12)
    val cols = Seq(col("order_id"), col("customer_id"), col("order_amount"),
      col("order_status"), date_format(col("created_at"), "yyyy-MM-dd HH:mm:ss"),
      col("event_id"), col("vendor"), col("event_type"))
    assert(got.count() === 160)
    assert(GoldenData.canon(got, cols) === GoldenData.canon(want, cols))
  }

  test("strict normalize finds no live payments/refunds (restricted type lists)") {
    GoldenData.assumeFixtures(GoldenData.LiveEvents)
    // the live feed's payment_succeeded / refund_issued names are outside
    // the reference's restricted lists — quirk §2.10.1 made observable
    val events = CommercePulse.readLiveOrdered(
      spark, s"${GoldenData.Ref}/data/live_events/2026-02-19/events.jsonl")
    assert(CommercePulse.normalizePaymentsStrict(events).count() === 0)
    assert(CommercePulse.normalizeRefundsStrict(events).count() === 0)
  }

  test("factOrderDaily over the committed fact tables reproduces fact_order_daily.csv") {
    GoldenData.assumeFixtures(GoldenData.FactOrders, GoldenData.FactPayments,
      GoldenData.FactRefunds, GoldenData.FactOrderDaily)
    val got = CommercePulse.factOrderDaily(ordersGold, paymentsGold, refundsGold)
    val want = GoldenData.daily(spark)
    val cols = Seq(col("order_date"), col("vendor"), col("gross_revenue"),
      col("total_refunds"), col("net_revenue"), col("order_count"),
      col("paid_count"), col("payment_success_rate"), col("refund_rate"))
    assert(got.count() === 252)
    assert(GoldenData.canon(got, cols) === GoldenData.canon(want, cols))
  }

  test("dimCustomer over the committed orders reproduces dim_customer.csv") {
    GoldenData.assumeFixtures(GoldenData.FactOrders, GoldenData.DimCustomer)
    val got = CommercePulse.dimCustomer(ordersGold)
    val want = GoldenData.dimCustomer(spark)
    val cols = Seq(col("customer_id"),
      date_format(col("created_at"), "yyyy-MM-dd HH:mm:ss"),
      col("customer_name"), col("email"), col("country"))
    assert(got.count() === want.count())
    assert(GoldenData.canon(got, cols) === GoldenData.canon(want, cols))
  }

  test("dimDate reproduces dim_date.csv (1461 days, ISO weeks, weekend flags)") {
    GoldenData.assumeFixtures(GoldenData.DimDate)
    val got = CommercePulse.dimDate(spark)
    val want = GoldenData.dimDate(spark)
    val cols = Seq(col("date_key"), col("day_of_week"), col("week_number"),
      col("month"), col("quarter"), col("year"), col("is_weekend"))
    assert(got.count() === 1461)
    assert(GoldenData.canon(got, cols) === GoldenData.canon(want, cols))
  }

  test("qualityReport over the committed fact tables reproduces the published report") {
    GoldenData.assumeFixtures(GoldenData.FactOrders, GoldenData.FactPayments,
      GoldenData.FactRefunds)
    // reports/quality_report_2026-02-20.csv:2 — all 17 metrics
    val row = CommercePulse.qualityReport(ordersGold, paymentsGold, refundsGold)
      .collect()(0)
    assert(row.getAs[Long]("total_orders") === 560L)
    assert(row.getAs[Long]("total_payments") === 360L)
    assert(row.getAs[Long]("total_refunds") === 1L)
    assert(row.getAs[Long]("orders_missing_customer_id") === 279L)
    assert(row.getAs[Long]("orders_missing_amount") === 25L)
    assert(row.getAs[Long]("payments_missing_order_id") === 1L)
    assert(row.getAs[Long]("refunds_missing_payment_id") === 1L)
    assert(row.getAs[Long]("orphan_payments") === 251L)
    assert(row.getAs[Long]("orphan_refunds") === 0L)
    assert(row.getAs[Long]("payments_over_7_days") === 49L)
    assert(row.getAs[Long]("payments_over_30_days") === 44L)
    assert(row.getAs[Double]("avg_days_to_payment") === -9.24)
    assert(row.getAs[Double]("gross_revenue") === 5145000.0)
    assert(row.getAs[Double]("total_refunded") === 25000.0)
    assert(row.getAs[Double]("net_revenue") === 5120000.0)
    assert(row.getAs[Double]("payment_success_rate") === 0.7472)
    assert(row.getAs[Double]("refund_rate") === 0.0049)
  }
}
