package graft.pipeline

import graft.SparkSuite
import java.nio.file.{Files, Paths}

/** End-to-end pipeline test over reference-shaped fixture events
  * (FIXTURES.md §2 dialects; synthetic content authored here).
  */
class CommercePulseSpec extends SparkSuite {

  private lazy val dir = tempDir("cp_fixture")

  // --- fixture corpus: 3 vendor dialects + drift + noise ---
  private val liveLines = Seq(
    // vendor_a order (drift variant: totalAmount + buyer)
    """{"event_id":"ev001","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"buyer\":{\"email\":\"x@a\"},\"totalAmount\":100.0,\"currency\":\"NGN\",\"region\":\"SW\"}","ingested_at":"2024-01-01T11:00:00"}""",
    // vendor_b order
    """{"event_id":"ev002","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"buyerEmail\":\"y@b\",\"totalAmount\":200.0,\"currencyCode\":\"NGN\",\"state\":\"confirmed\"}","ingested_at":"2024-01-02T11:00:00"}""",
    // vendor_c order (nested id, epoch ts)
    """{"event_id":"ev003","event_type":"order_created","event_time":"2024-01-02T11:00:00","vendor":"vendor_c","payload":"{\"order\":{\"id\":\"C-1\",\"ts\":1704189600},\"email\":\"z@c\",\"amount\":300.0,\"ccy\":\"USD\",\"geo\":{\"region\":\"N\"}}","ingested_at":"2024-01-02T12:00:00"}""",
    // order_updated for B-1, later -> latest-wins should surface "shipped"
    """{"event_id":"ev004","event_type":"order_updated","event_time":"2024-01-06T09:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"status\":\"shipped\",\"created_at\":\"2024-01-06T09:00:00\"}","ingested_at":"2024-01-06T10:00:00"}""",
    // vendor_a payment (success, two-format date)
    """{"event_id":"ev005","event_type":"payment_succeeded","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 10:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-1\"}","ingested_at":"2024-01-03T11:00:00"}""",
    // vendor_b payment (failed)
    """{"event_id":"ev006","event_type":"payment_succeeded","event_time":"2024-01-04T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-04T10:00:00\",\"payment_status\":\"failed\",\"amountPaid\":200.0,\"channel\":\"bank_transfer\",\"transaction_id\":\"TX-2\"}","ingested_at":"2024-01-04T11:00:00"}""",
    // vendor_c payment, late (>30 days after C-1's created)
    """{"event_id":"ev007","event_type":"payment_succeeded","event_time":"2024-02-15T10:00:00","vendor":"vendor_c","payload":"{\"order\":\"C-1\",\"timestamp\":1707991200,\"payment_state\":\"SUCCESS\",\"amt\":300.0,\"ccy\":\"USD\",\"paymentMethod\":\"ussd\",\"txn\":\"TX-3\"}","ingested_at":"2024-02-15T11:00:00"}""",
    // orphan payment (no such order)
    """{"event_id":"ev008","event_type":"payment_succeeded","event_time":"2024-01-05T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"X-404\",\"paid_at\":\"2024-01-05T10:00:00\",\"payment_status\":\"success\",\"amountPaid\":999.0,\"channel\":\"card\",\"transaction_id\":\"TX-9\"}","ingested_at":"2024-01-05T11:00:00"}""",
    // refund for B-1
    """{"event_id":"ev009","event_type":"refund_issued","event_time":"2024-01-05T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"refunded_at\":\"2024-01-05T12:00:00\",\"refundAmount\":50.0,\"currencyCode\":\"NGN\",\"reason\":\"damaged\",\"id\":\"RF-1\"}","ingested_at":"2024-01-05T13:00:00"}""",
    // exact duplicate of ev005 (replay) -> must collapse
    """{"event_id":"ev005","event_type":"payment_succeeded","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 10:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-1\"}","ingested_at":"2024-01-03T12:00:00"}""",
    // corrupt line -> skipped
    """{not valid json at all""",
    // record missing event_id -> skipped
    """{"event_type":"order_created","vendor":"vendor_a","payload":"{}"}"""
  )

  private val historicalJson =
    """[
      |{"event_id":"hv001","event_type":"historical_order","event_time":"2023-12-01T00:00:00","payload":"{\"order_id\":\"H-1\",\"customerId\":\"CUST-1\",\"totalAmount\":500.0,\"state\":\"delivered\",\"created_at\":\"2023-12-01T00:00:00\"}","ingested_at":"2023-12-31T00:00:00"},
      |{"event_id":"hv002","event_type":"historical_order","event_time":"2023-12-02T00:00:00","payload":"{\"order_id\":\"H-2\",\"customerId\":\"CUST-2\",\"totalAmount\":0,\"state\":\"cancelled\",\"created_at\":\"2023-12-02T00:00:00\"}","ingested_at":"2023-12-31T00:00:00"},
      |{"event_id":"hv003","event_type":"historical_payment","event_time":"2023-12-03T00:00:00","payload":"{\"payment_id\":\"HTX-1\",\"order_id\":\"H-1\",\"payment_amount\":500.0,\"payment_status\":\"completed\",\"payment_method\":\"bank_transfer\",\"payment_date\":\"2023-12-03T00:00:00\"}","ingested_at":"2023-12-31T00:00:00"}
      |]""".stripMargin

  private lazy val setup: Unit = {
    Files.createDirectories(Paths.get(s"$dir/live"))
    Files.writeString(Paths.get(s"$dir/live/events.jsonl"), liveLines.mkString("\n"))
    Files.writeString(Paths.get(s"$dir/historical.json"), historicalJson)
  }

  private lazy val events = {
    setup
    CommercePulse.ingest(Seq(
      CommercePulse.readHistorical(spark, s"$dir/historical.json"),
      CommercePulse.readLive(spark, s"$dir/live/events.jsonl"))).cache()
  }

  test("ingest: corrupt + missing-id lines skipped, replays collapsed, feeds unified") {
    assert(events.count() == 12) // 9 unique live + 3 historical
    assert(events.filter(org.apache.spark.sql.functions.col("event_id") === "ev005").count() == 1)
  }

  test("drift normalization lands all vendor dialects") {
    val orders = CommercePulse.normalizeOrders(events)
    val byId = orders.collect().map(r => r.getAs[String]("order_id") -> r).toMap
    assert(byId.keySet == Set("A-1", "B-1", "C-1", "H-1", "H-2"))
    assert(byId("A-1").getAs[Double]("order_amount") == 100.0)  // drift totalAmount
    assert(byId("A-1").getAs[String]("customer_id") == "x@a")   // drift buyer.email
    assert(byId("B-1").getAs[String]("order_status") == "shipped") // latest-wins update
    assert(byId("C-1").getAs[java.sql.Timestamp]("created_at").toString
      .startsWith("2024-01-02")) // epoch seconds parsed
    assert(byId("H-1").getAs[String]("vendor") == "unknown")
    assert(byId("H-2").getAs[Double]("order_amount") == 0.0)
  }

  test("payments: both naming families visible (fixes reference quirk §2.10.1)") {
    val p = CommercePulse.normalizePayments(events)
    val ids = p.select("payment_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("TX-1", "TX-2", "TX-9", "TX-3", "HTX-1"))
    val st = p.collect().map(r => r.getAs[String]("payment_id") -> r.getAs[String]("payment_status")).toMap
    assert(st("TX-1") == "success" && st("TX-2") == "failed" && st("HTX-1") == "success")
  }

  test("quality report: orphans, lateness, dual revenue definitions") {
    val o = CommercePulse.normalizeOrders(events)
    val p = CommercePulse.normalizePayments(events)
    val r = CommercePulse.normalizeRefunds(events)
    val rep = CommercePulse.qualityReport(o, p, r).collect()(0)
    assert(rep.getAs[Long]("orphan_payments") == 1)     // TX-9
    assert(rep.getAs[Long]("orphan_refunds") == 1)      // RF-1 has no payment_id
    assert(rep.getAs[Long]("payments_over_30_days") == 1) // TX-3
    // success-only but orphan-inclusive (reference `src/quality_report.py:105`):
    // 100 + 300 + 500 + 999(orphan TX-9)
    assert(rep.getAs[Double]("gross_revenue") == 1899.0)
    assert(rep.getAs[Double]("total_refunded") == 50.0)
    assert(rep.getAs[Double]("net_revenue") == 1849.0)
    // H-2 (explicit 0) + B-1: the order_updated payload carries no amount and
    // latest-wins replaces full order state (reference quirk SURVEY §2.10.6)
    assert(rep.getAs[Long]("orders_missing_amount") == 2)
  }

  test("fact_order_daily: attribution joins + invariants") {
    val o = CommercePulse.normalizeOrders(events)
    val p = CommercePulse.normalizePayments(events)
    val r = CommercePulse.normalizeRefunds(events)
    val daily = CommercePulse.factOrderDaily(o, p, r).collect()
    assert(daily.nonEmpty)
    daily.foreach { row =>
      assert(row.getAs[Double]("net_revenue") ==
        row.getAs[Double]("gross_revenue") - row.getAs[Double]("total_refunds"))
    }
    // B-1 group (2024-01-06 after update, vendor_b): failed payment counted in gross
    val b = daily.find(r0 => r0.getAs[String]("vendor") == "vendor_b" &&
      r0.getAs[java.sql.Date]("order_date").toString == "2024-01-06").get
    assert(b.getAs[Double]("gross_revenue") == 200.0)
    assert(b.getAs[Long]("paid_count") == 0L)
  }

  test("runAll end-to-end is idempotent (re-run changes nothing)") {
    val out = tempDir("cp_out")
    // (rows, distinct keys) of each id-keyed fact
    def facts(): Map[String, (Long, Long)] =
      Seq("fact_orders" -> "order_id", "fact_payments" -> "payment_id",
          "fact_refunds" -> "refund_id").map { case (t, k) =>
        val df = spark.read.parquet(s"$out/$t")
        t -> (df.count(), df.select(k).distinct().count())
      }.toMap
    val counts1 = CommercePulse.runAll(spark,
      Seq(s"$dir/historical.json"), Seq(s"$dir/live/events.jsonl"), out)
    val factsAfter1 = facts()
    val counts2 = CommercePulse.runAll(spark,
      Seq(s"$dir/historical.json"), Seq(s"$dir/live/events.jsonl"), out)
    val factsAfter2 = facts()
    assert(counts1 == counts2)
    // upsert sinks: replay-safe, one row per key
    assert(factsAfter1 == factsAfter2)
    assert(factsAfter2("fact_payments") == ((5L, 5L)))
    assert(factsAfter2("fact_refunds") == ((1L, 1L)))
    assert(spark.read.parquet(s"$out/dim_date").count() == 1461)
  }

  test("runAll with the warehouse load stays within its job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    setup
    val sc = spark.sparkContext
    val db = "cp_budget"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '${Paths.get(tempDir(db)).toUri}'")
    // Spark copies the caller's job group onto every job a call runs,
    // broadcasts and subqueries included
    val group = "cp_run_all_budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    // over a one-partition input a global aggregate needs no exchange, so
    // the count would follow the session's shuffle width (its local
    // cores); pin the width the benchmark runs with
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "runAll")
      try CommercePulse.runAll(spark, Seq(s"$dir/historical.json"),
        Seq(s"$dir/live/events.jsonl"), tempDir("cp_budget_out"), Some(db))
      finally sc.clearJobGroup()
      org.apache.spark.SparkInternals.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.shuffle.partitions", width)
    }
    info(s"jobs per runAll: ${jobs.get}")
    // the first call into an empty outDir, with the catalog load; the
    // count is the same at 1 and 4 local cores
    val budget = 57
    assert(jobs.get <= budget, s"runAll ran ${jobs.get} jobs, budget $budget")
  }
}
