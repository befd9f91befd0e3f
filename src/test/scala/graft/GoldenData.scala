package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.Assertions

/** Readers for the reference's committed golden corpus: the live JSONL
  * feed and the fact and dimension CSVs under `warehouse/` (the
  * normalized frames its transformer actually produced). Only
  * GoldenParitySpec reads these fixtures. They are not vendored into this
  * repo, so each of its tests first calls [[assumeFixtures]] with the
  * files it reads: where the corpus is absent at [[Ref]] the test is
  * reported CANCELED (never passed), naming the missing files; where it
  * is present the suite runs unchanged.
  */
object GoldenData {
  val Ref = "/root/reference"
  val LiveEvents = s"$Ref/data/live_events/2026-02-19/events.jsonl"
  val FactOrders = s"$Ref/warehouse/facts/fact_orders.csv"
  val FactPayments = s"$Ref/warehouse/facts/fact_payments.csv"
  val FactRefunds = s"$Ref/warehouse/facts/fact_refunds.csv"
  val FactOrderDaily = s"$Ref/warehouse/facts/fact_order_daily.csv"
  val DimCustomer = s"$Ref/warehouse/dimensions/dim_customer.csv"
  val DimDate = s"$Ref/warehouse/dimensions/dim_date.csv"
  private val TsFmt = "yyyy-MM-dd HH:mm:ssXXX"

  /** Cancel the calling test unless every golden file it reads exists.
    * Call it before forcing any golden frame: the readers fail eagerly
    * with PATH_NOT_FOUND on a missing file.
    */
  def assumeFixtures(paths: String*): Unit = {
    val missing = paths.filterNot(p => Files.isRegularFile(Paths.get(p)))
    Assertions.assume(missing.isEmpty, "(missing golden fixtures)")
  }

  def orders(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(FactOrders)
      .select(col("order_id"), col("customer_id"),
        col("order_amount").cast("double").as("order_amount"),
        col("order_status"),
        to_timestamp(col("created_at"), TsFmt).as("created_at"),
        col("event_id"), col("vendor"), col("event_type"))

  def payments(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(FactPayments)
      .select(col("payment_id"), col("order_id"),
        col("payment_amount").cast("double").as("payment_amount"),
        col("payment_status"), col("payment_method"),
        to_timestamp(col("payment_date"), TsFmt).as("payment_date"),
        col("event_id"), col("vendor"))

  def refunds(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(FactRefunds)
      .select(col("refund_id"), col("order_id"), col("payment_id"),
        col("refund_amount").cast("double").as("refund_amount"),
        col("refund_reason"), col("refund_type"),
        to_timestamp(col("refund_date"), TsFmt).as("refund_date"),
        col("event_id"), col("vendor"))

  def daily(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(FactOrderDaily)
      .select(col("order_date").cast("date").as("order_date"), col("vendor"),
        col("gross_revenue").cast("double"), col("total_refunds").cast("double"),
        col("net_revenue").cast("double"), col("order_count").cast("long"),
        col("paid_count").cast("long"),
        col("payment_success_rate").cast("double"),
        col("refund_rate").cast("double"))

  def dimCustomer(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(DimCustomer)
      .select(col("customer_id"),
        to_timestamp(col("created_at"), TsFmt).as("created_at"),
        col("customer_name"), col("email"), col("country"))

  def dimDate(spark: SparkSession): DataFrame =
    spark.read.option("header", "true")
      .csv(DimDate)
      .select(col("date_key").cast("date").as("date_key"), col("day_of_week"),
        col("week_number").cast("long"), col("month").cast("long"),
        col("quarter").cast("long"), col("year").cast("long"),
        col("is_weekend").cast("boolean"))

  /** Canonical sorted row-string MULTISET for order-free whole-frame
    * comparison (a Set would hide duplicate-multiplicity regressions that
    * keep counts equal).
    */
  def canon(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]): Seq[String] = {
    import df.sparkSession.implicits._
    df.select(concat_ws("|", cols.map(c => coalesce(c.cast("string"), lit("∅"))): _*))
      .as[String].collect().toSeq.sorted
  }
}
