package graft.pipeline

import graft.normalize.Drift
import graft.operators.{DailyRevenue, Dedup, Dimensions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline with the reference's dataflow semantics
  * (reference `src/bootstrap_loader.py`, `src/live_event_loader.py`,
  * `src/transformer.py`, `src/populate_dimensions.py`,
  * `src/quality_report.py`), re-architected as lazy DataFrame DAGs.
  *
  * The raw-event envelope keeps `payload` as a JSON string (schema-drift
  * tolerant — SURVEY §1.4); each normalizer reads every payload field it
  * needs in ONE pass over the JSON (`Drift.jsonFields`, a first-non-null
  * coalesce per field over its drift keys), so the whole normalize layer
  * is projection-only and scales as a map-side pass. The Mongo upsert store is replaced by
  * window dedup on `event_id` (SURVEY §2.3).
  */
object CommercePulse {

  /** Envelope schema (reference `src/bootstrap_loader.py:63-73`). */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("event_type", StringType),
    StructField("event_time", StringType),
    StructField("vendor", StringType),
    StructField("payload", StringType),
    StructField("ingested_at", StringType),
    StructField("source", StringType)))

  // Event-type → entity mapping covering BOTH naming families — the
  // reference's transformer misses the live names (quirk SURVEY §2.10.1).
  val OrderTypes: Seq[String] =
    Seq("historical_order", "order_created", "order_updated")
  val PaymentTypes: Seq[String] =
    Seq("historical_payment", "payment_attempt", "payment_confirmed", "payment_succeeded")
  val RefundTypes: Seq[String] =
    Seq("historical_refund", "refund_created", "refund_processed", "refund_issued")

  /** S1: historical whole-file JSON array export → envelope rows.
    * `multiLine` handles the array form; missing envelope fields default.
    */
  def readHistorical(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).schema(EnvelopeSchema).json(path)
      .withColumn("vendor", coalesce(col("vendor"), lit("unknown")))
      .withColumn("source", coalesce(col("source"), lit("historical_bootstrap")))
      .filter(col("event_id").isNotNull)

  /** S2: daily JSONL with corrupt-line and missing-id skip
    * (reference `src/live_event_loader.py:32-46`). PERMISSIVE mode nulls
    * out corrupt lines; the `event_id IS NOT NULL` filter drops both.
    */
  def readLive(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(EnvelopeSchema).json(path)
      .withColumn("source", coalesce(col("source"), lit("live_stream")))
      .filter(col("event_id").isNotNull)

  /** Count of unparseable lines in a JSONL feed (the reference logs a
    * skip per corrupt line, `src/live_event_loader.py:36-41`): lines that
    * fail JSON parsing entirely or carry no event_id.
    */
  def corruptLineCount(spark: SparkSession, path: String): Long = {
    val parsed = spark.read
      .schema(EnvelopeSchema.add("_corrupt_record", "string"))
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
    parsed.filter(col("_corrupt_record").isNotNull || col("event_id").isNull).count()
  }

  /** O4 + D3: unify feeds and collapse duplicates/replays idempotently —
    * the upsert-by-event_id store (reference `src/live_event_loader.py:51-64`).
    */
  def ingest(feeds: Seq[DataFrame]): DataFrame = {
    val all = feeds.reduce(_.unionByName(_, allowMissingColumns = true))
    Dedup.ingestDedup(all, "event_id", "ingested_at",
      tiebreak = Seq(col("event_time").desc_nulls_last))
  }

  /** `keep` plus one column per `(name, drift keys)` field of the
    * payload, all read in one pass over the JSON.
    */
  private def payloadFields(events: DataFrame, keep: Seq[String],
                            fields: Seq[(String, Seq[String])]): DataFrame =
    events.select(keep.map(col) :+ Drift.jsonFields(col("payload"), fields): _*)

  // order payload fields, each the first non-null of its drift keys
  val OrderFields: Seq[(String, Seq[String])] = Seq(
    // "order.id" before "order": vendor_c nests the id under order_created
    // but sends a plain "order": "ORD-…" scalar on updates/payments
    "order_id" -> Seq("order_id", "orderRef", "order.id", "orderId", "order"),
    "customer_id" -> Seq("customer_id", "customerId", "customer.email",
      "buyer.email", "buyerEmail", "email"),
    "amount" -> Seq("total", "totalAmount", "amount", "order_amount"),
    "status" -> Seq("state", "status", "order_status"),
    "created" -> Seq("created_at", "created", "order.ts"))

  /** Orders normalization WITHOUT the latest-wins collapse — one row per
    * order event version (reference `src/transformer.py:20-41` + live
    * dialects from `src/live_event_generator.py:38-163`).
    */
  private def normalizeOrdersAll(events: DataFrame): DataFrame =
    payloadFields(events.filter(col("event_type").isin(OrderTypes: _*)),
        Seq("vendor", "event_time", "event_id"), OrderFields)
      .select(
        col("order_id"), col("customer_id"), col("vendor"),
        Drift.toDoubleOrZero(col("amount")).as("order_amount"),
        lower(col("status")).as("order_status"),
        Drift.parseTimestampMulti(coalesce(col("created"), col("event_time")))
          .as("created_at"),
        col("event_id"))
      .filter(col("order_id").isNotNull)

  /** Orders normalization: D1 latest-wins current state per order. */
  def normalizeOrders(events: DataFrame): DataFrame =
    Dedup.latestWins(normalizeOrdersAll(events), Seq("order_id"), OrderLatest)

  /** Latest-wins order among versions of one order_id: the normalizer's
    * dedup and the order upsert sinks rank by the same.
    */
  val OrderLatest: Seq[Column] =
    Seq(col("created_at").desc_nulls_last, col("event_id").desc)

  // payment payload fields, each the first non-null of its drift keys
  val PaymentFields: Seq[(String, Seq[String])] = Seq(
    "payment_id" -> Seq("transaction_id", "payment_id", "id", "paymentId",
      "txRef", "txn"),
    "order_id" -> Seq("order_id", "orderId", "orderRef", "order.id", "order"),
    "amount" -> Seq("amountPaid", "amount_paid", "amount", "payment_amount",
      "totalAmount", "amt"),
    "status" -> Seq("payment_status", "status", "state", "payment_state"),
    "method" -> Seq("channel", "method", "payment_method", "paymentMethod"),
    "paid" -> Seq("paid_at", "paidAt", "payment_date", "created_at",
      "timestamp", "ts"))

  /** Payments normalization WITHOUT the first-wins collapse — one row per
    * payment event version (reference `src/transformer.py:44-89`).
    */
  private def normalizePaymentsAll(events: DataFrame): DataFrame =
    payloadFields(events.filter(col("event_type").isin(PaymentTypes: _*)),
        Seq("vendor", "event_time", "event_id"), PaymentFields)
      .select(
        col("payment_id"), col("order_id"), col("vendor"),
        Drift.toDoubleOrZero(col("amount")).as("payment_amount"),
        Drift.normalizeStatus(col("status")).as("payment_status"),
        col("method").as("payment_method"),
        Drift.parseTimestampMulti(coalesce(col("paid"), col("event_time")))
          .as("payment_date"),
        col("event_id"))
      .filter(col("payment_id").isNotNull)

  /** Payments normalization: D2 first-wins per payment_id (append-only
    * log, replays collapse).
    */
  def normalizePayments(events: DataFrame): DataFrame =
    Dedup.firstWins(normalizePaymentsAll(events), Seq("payment_id"), PaymentFirst)

  /** First-wins order among versions of one payment_id / refund_id: the
    * normalizers' dedup and `runAll`'s upsert sinks rank by the same.
    */
  val PaymentFirst: Seq[Column] =
    Seq(col("payment_date").asc_nulls_last, col("event_id").asc)
  val RefundFirst: Seq[Column] =
    Seq(col("refund_date").asc_nulls_last, col("event_id").asc)

  // refund payload fields, each the first non-null of its drift keys
  val RefundFields: Seq[(String, Seq[String])] = Seq(
    "refund_id" -> Seq("refund_id", "id", "transaction_id"),
    "order_id" -> Seq("order_id", "orderId", "orderRef", "order.id", "order"),
    "payment_id" -> Seq("payment_id", "paymentId", "transaction_id"),
    "amount" -> Seq("amountRefunded", "amount", "refund_amount", "refundAmount",
      "totalAmount", "amt"),
    "reason" -> Seq("reason", "refund_reason"),
    "type" -> Seq("type", "refund_type"),
    "refunded" -> Seq("refunded_at", "refundedAt", "refund_date", "created_at",
      "ts"))

  /** Refunds normalization (reference `src/transformer.py:92-127`).
    * Live refund payloads carry NO id field (every dialect in
    * `src/live_event_generator.py:67-76,107-115,143-151` omits one); the
    * reference keeps those rows with a null id and pandas' NaN-key dedup
    * then collapses ALL of them into one arbitrary row — a silent data
    * loss bug (preserved faithfully in `normalizeRefundsStrict`). Here an
    * id-less refund gets a deterministic fallback id derived from its
    * event_id: replays of the same event still collapse, distinct refunds
    * survive. One row per refund event version, before the first-wins
    * collapse of [[normalizeRefunds]].
    */
  private def normalizeRefundsAll(events: DataFrame): DataFrame =
    payloadFields(events.filter(col("event_type").isin(RefundTypes: _*)),
        Seq("vendor", "event_time", "event_id"), RefundFields)
      .select(
        coalesce(col("refund_id"), concat(lit("RF-"), md5(col("event_id"))))
          .as("refund_id"),
        col("order_id"), col("payment_id"), col("vendor"),
        Drift.toDoubleOrZero(col("amount")).as("refund_amount"),
        col("reason").as("refund_reason"), col("type").as("refund_type"),
        Drift.parseTimestampMulti(coalesce(col("refunded"), col("event_time")))
          .as("refund_date"),
        col("event_id"))
      .filter(col("refund_id").isNotNull)

  /** Refunds normalization: first-wins per refund_id. */
  def normalizeRefunds(events: DataFrame): DataFrame =
    Dedup.firstWins(normalizeRefundsAll(events), Seq("refund_id"), RefundFirst)

  // ---- Reference-fidelity ("strict") mode --------------------------------
  // The reference transformer recognizes ONLY the restricted event-type
  // lists and exact payload keys below (`src/transformer.py:20-41,192-194` —
  // quirk SURVEY §2.10.1): live dialect names like `payment_succeeded` /
  // `refund_issued` and nested order payload keys are invisible to it.
  // These variants reproduce that behavior bit-for-bit — verified against
  // the reference's committed `warehouse/facts/*.csv` golden files by
  // `GoldenParitySpec`. The extended normalizers above are the recommended
  // mode; strict mode exists to prove fidelity.

  val StrictOrderTypes: Seq[String] =
    Seq("historical_order", "order_created", "order_updated")
  val StrictPaymentTypes: Seq[String] =
    Seq("historical_payment", "payment_attempt", "payment_confirmed")
  val StrictRefundTypes: Seq[String] =
    Seq("historical_refund", "refund_created", "refund_processed")

  // the exact payload keys the reference reads, one group per column
  val StrictOrderFields: Seq[(String, Seq[String])] = Seq(
    "order_id" -> Seq("order_id"), "customer_id" -> Seq("customerId"),
    "amount" -> Seq("totalAmount"), "status" -> Seq("state"),
    "created" -> Seq("created_at"))
  val StrictPaymentFields: Seq[(String, Seq[String])] = Seq(
    "payment_id" -> Seq("transaction_id", "payment_id", "id", "paymentId"),
    "order_id" -> Seq("order_id", "orderId"),
    "amount" -> Seq("amountPaid", "amount", "payment_amount", "totalAmount"),
    "status" -> Seq("payment_status", "status", "state"),
    "method" -> Seq("channel", "method", "payment_method"),
    "paid" -> Seq("paid_at", "payment_date", "created_at"))
  val StrictRefundFields: Seq[(String, Seq[String])] = Seq(
    "refund_id" -> Seq("refund_id", "id", "transaction_id"),
    "order_id" -> Seq("order_id", "orderId"),
    "payment_id" -> Seq("payment_id", "paymentId", "transaction_id"),
    "amount" -> Seq("amountRefunded", "amount", "refund_amount", "totalAmount"),
    "reason" -> Seq("reason", "refund_reason"),
    "type" -> Seq("type", "refund_type"),
    "refunded" -> Seq("refunded_at", "refund_date", "created_at"))

  /** Live JSONL read that preserves ingestion order as a `_seq` column.
    * The reference's Mongo fetch returns insertion (= file) order and the
    * strict dedups tie-break on it; `coalesce(1)` serializes the read so
    * line position is global position. Parity tool for single files — for
    * bulk ingest use `readLive` (order-free, fully parallel).
    */
  def readLiveOrdered(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).coalesce(1)
      .select(monotonically_increasing_id().as("_seq"),
        Drift.jsonFields(col("value"),
          Seq("event_id", "event_type", "event_time", "vendor", "payload",
            "ingested_at").map(f => f -> Seq(f))))
      .filter(col("event_id").isNotNull)

  /** Strict orders normalization (`src/transformer.py:20-41`): exact keys
    * only, no drift fallbacks, no event_time fallback, null order_ids kept
    * (they collapse into one dedup group exactly as pandas NaN keys do).
    * Pandas' stable sort-by-created_at / keep-last is a window over
    * (created_at desc_nulls_last, _seq desc). Input must carry `_seq`.
    */
  def normalizeOrdersStrict(events: DataFrame): DataFrame = {
    val base = payloadFields(events.filter(col("event_type").isin(StrictOrderTypes: _*)),
        Seq("event_id", "vendor", "event_type", "_seq"), StrictOrderFields)
      .select(
        col("order_id"), col("customer_id"),
        Drift.toDoubleOrZero(col("amount")).as("order_amount"),
        col("status").as("order_status"),
        Drift.parseTimestampMulti(col("created")).as("created_at"),
        col("event_id"), col("vendor"), col("event_type"), col("_seq"))
    Dedup.latestWins(base, Seq("order_id"),
      Seq(col("created_at").desc_nulls_last, col("_seq").desc))
      .drop("_seq")
  }

  /** Strict payments normalization (`src/transformer.py:44-89`):
    * drop_duplicates(keep first by ingestion order) per payment_id.
    */
  def normalizePaymentsStrict(events: DataFrame): DataFrame = {
    val base = payloadFields(events.filter(col("event_type").isin(StrictPaymentTypes: _*)),
        Seq("event_id", "vendor", "_seq"), StrictPaymentFields)
      .select(
        col("payment_id"), col("order_id"),
        Drift.toDoubleOrZero(col("amount")).as("payment_amount"),
        Drift.normalizeStatus(col("status")).as("payment_status"),
        col("method").as("payment_method"),
        Drift.parseTimestampMulti(col("paid")).as("payment_date"),
        col("event_id"), col("vendor"), col("_seq"))
    Dedup.firstWins(base, Seq("payment_id"), Seq(col("_seq").asc)).drop("_seq")
  }

  /** Strict refunds normalization (`src/transformer.py:92-127`). */
  def normalizeRefundsStrict(events: DataFrame): DataFrame = {
    val base = payloadFields(events.filter(col("event_type").isin(StrictRefundTypes: _*)),
        Seq("event_id", "vendor", "_seq"), StrictRefundFields)
      .select(
        col("refund_id"), col("order_id"), col("payment_id"),
        Drift.toDoubleOrZero(col("amount")).as("refund_amount"),
        col("reason").as("refund_reason"), col("type").as("refund_type"),
        Drift.parseTimestampMulti(col("refunded")).as("refund_date"),
        col("event_id"), col("vendor"), col("_seq"))
    Dedup.firstWins(base, Seq("refund_id"), Seq(col("_seq").asc)).drop("_seq")
  }

  /** A1: fact_order_daily (reference `src/transformer.py:130-165`, set-based
    * rewrite SURVEY §4.2).
    */
  def factOrderDaily(orders: DataFrame, payments: DataFrame,
                     refunds: DataFrame): DataFrame =
    DailyRevenue.dailyAggregate(
      orders, "order_id", col("created_at").cast("date"), col("vendor"),
      payments, "order_id", col("payment_amount"), col("payment_status"),
      refunds, "order_id", col("refund_amount"))

  /** dim_customer: distinct customers, first-seen (reference
    * `src/populate_dimensions.py:50-54`).
    */
  def dimCustomer(orders: DataFrame): DataFrame =
    Dimensions.firstSeen(orders, "customer_id", "created_at")
      .withColumnRenamed("first_seen", "created_at")
      .withColumn("customer_name", lit(null).cast("string"))
      .withColumn("email", lit(null).cast("string"))
      .withColumn("country", lit(null).cast("string"))

  /** dim_date 2023-2026 (reference `src/populate_dimensions.py:19-29`). */
  def dimDate(spark: SparkSession): DataFrame =
    Dimensions.dateSpine(spark, "2023-01-01", "2026-12-31")

  /** dim_product placeholder row (reference `src/populate_dimensions.py:70-76`
    * ships exactly one unknown-product row; payloads carry SKUs but no
    * product catalog exists to join against).
    */
  def dimProduct(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("UNKNOWN", "Product data not available", "N/A",
        null.asInstanceOf[String], 0.0))
      .toDF("product_id", "product_name", "category", "vendor_id", "unit_price")
  }

  /** One-row quality report (reference `src/quality_report.py`, schema
    * FIXTURES §5). Gross revenue here is the success-only definition —
    * deliberately distinct from fact_order_daily's all-status gross
    * (quirk SURVEY §2.10.2).
    */
  def qualityReport(orders: DataFrame, payments: DataFrame,
                    refunds: DataFrame): DataFrame = {
    // no cache() here: the result is one multi-branch plan consumed by a
    // single action, callers that reuse the inputs own their lifecycle
    // (runAll caches and releases them), and an operator-level cache would
    // leak for the session lifetime — the exact defect fixed in the dedup
    // operators this round
    val o = orders; val p = payments; val r = refunds
    // null-SAFE key matching (<=>) on the orphan and late-arrival joins:
    // pandas `isin`/`merge` treat NaN keys as equal to each other
    // (reference `src/quality_report.py:61-66,77-81`), so a payment with a
    // null order_id is NOT an orphan when a null-id order exists. A plain
    // equi-join would count it as one and drift off the published report.
    val orphanPay = p.join(o.select(col("order_id").as("__oid")).distinct(),
      col("order_id") <=> col("__oid"), "left_anti")
    val orphanRef = r.join(p.select(col("payment_id").as("__pid")).distinct(),
      col("payment_id") <=> col("__pid"), "left_anti")
    val late = p.select(col("order_id").as("__poid"), col("payment_date"))
      .join(o.select(col("order_id").as("__ooid"), col("created_at")),
        col("__poid") <=> col("__ooid"))
      .select((unix_timestamp(col("payment_date")) - unix_timestamp(col("created_at")))
        .cast("double")./(86400.0).as("delta"))

    o.agg(
        count(lit(1)).as("total_orders"),
        sum(when(col("customer_id").isNull, 1L).otherwise(0L)).as("orders_missing_customer_id"),
        sum(when(col("order_amount") === 0, 1L).otherwise(0L)).as("orders_missing_amount"))
      .crossJoin(p.agg(
        count(lit(1)).as("total_payments"),
        coalesce(sum(when(col("order_id").isNull, 1L).otherwise(0L)), lit(0L))
          .as("payments_missing_order_id"),
        // coalesce after the aggregate: sum/avg over an EMPTY payments or
        // refunds frame is NULL and would null out net_revenue downstream
        coalesce(round(sum(when(col("payment_status") === "success", col("payment_amount"))
          .otherwise(lit(0.0))), 2), lit(0.0)).as("gross_revenue"),
        round(avg(when(col("payment_status") === "success", 1.0).otherwise(0.0)), 4)
          .as("payment_success_rate")))
      .crossJoin(r.agg(
        count(lit(1)).as("total_refunds"),
        coalesce(sum(when(col("payment_id").isNull, 1L).otherwise(0L)), lit(0L))
          .as("refunds_missing_payment_id"),
        coalesce(round(sum(coalesce(col("refund_amount"), lit(0.0))), 2), lit(0.0))
          .as("total_refunded")))
      .crossJoin(orphanPay.agg(count(lit(1)).as("orphan_payments")))
      .crossJoin(orphanRef.agg(count(lit(1)).as("orphan_refunds")))
      .crossJoin(late.agg(
        sum(when(col("delta") > 7, 1L).otherwise(0L)).as("payments_over_7_days"),
        sum(when(col("delta") > 30, 1L).otherwise(0L)).as("payments_over_30_days"),
        round(avg(col("delta")), 2).as("avg_days_to_payment")))
      .withColumn("net_revenue", round(col("gross_revenue") - col("total_refunded"), 2))
      .withColumn("refund_rate",
        when(col("gross_revenue") > 0,
          round(col("total_refunded") / col("gross_revenue"), 4)))
  }

  /** Full ELT: feeds → ingest → normalize → facts + dims + report →
    * sinks. The reference appends payments and refunds
    * (`README.md:112-114`); here every fact upserts on its id and the
    * daily table, dims and report truncate-load, so a re-run on the same
    * `outDir` changes nothing.
    */
  def runAll(spark: SparkSession, historical: Seq[String], live: Seq[String],
             outDir: String, warehouseDb: Option[String] = None): Map[String, Long] = {
    val feeds = historical.map(readHistorical(spark, _)) ++ live.map(readLive(spark, _))
    val events = ingest(feeds).cache()
    val orders = normalizeOrders(events).cache()
    val payments = normalizePayments(events).cache()
    val refunds = normalizeRefunds(events).cache()
    // daily is consumed up to three times (warehouse load, parquet sink,
    // final count) and its 3-shuffle join+aggregate is the most expensive
    // plan of the run — cache it too, released with the rest. dim_customer
    // (an aggregate over the cached orders) feeds the warehouse load and its
    // sink, each of which recomputes it: caching it measured no gain (the
    // same 57 jobs per call, no end-to-end change).
    val daily = factOrderDaily(orders, payments, refunds).cache()
    val custDim = dimCustomer(orders)
    val dateDim = dimDate(spark)
    val prodDim = dimProduct(spark)
    val report = qualityReport(orders, payments, refunds)

    // optional S7 catalog path: full star-schema DDL + truncate-load,
    // alongside the parquet-directory sinks below
    warehouseDb.foreach { db =>
      graft.sources.Warehouse.createAll(spark, db)
      graft.sources.Warehouse.loadAll(spark, db, orders, payments, refunds,
        daily, custDim, dateDim, prodDim)
    }

    graft.sources.Sinks.upsertParquet(spark, orders, s"$outDir/fact_orders",
      Seq("order_id"), OrderLatest)
    // payments and refunds upsert on their ids too: re-running on the
    // same outDir must not duplicate them
    graft.sources.Sinks.upsertParquet(spark, payments, s"$outDir/fact_payments",
      Seq("payment_id"), PaymentFirst)
    graft.sources.Sinks.upsertParquet(spark, refunds, s"$outDir/fact_refunds",
      Seq("refund_id"), RefundFirst)
    graft.sources.Sinks.overwriteParquet(daily, s"$outDir/fact_order_daily")
    graft.sources.Sinks.overwriteParquet(custDim, s"$outDir/dim_customer")
    graft.sources.Sinks.overwriteParquet(dateDim, s"$outDir/dim_date")
    graft.sources.Sinks.overwriteParquet(prodDim, s"$outDir/dim_product")
    graft.sources.Sinks.writeCsv(report, s"$outDir/quality_report")

    val counts = Map(
      "events" -> events.count(),
      "orders" -> orders.count(),
      "payments" -> payments.count(),
      "refunds" -> refunds.count(),
      "daily" -> daily.count())
    // all sinks and counts have materialized — release the run's caches
    Seq(events, orders, payments, refunds, daily)
      .foreach(_.unpersist(blocking = false))
    counts
  }
}
