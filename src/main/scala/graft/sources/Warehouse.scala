package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Star-schema warehouse catalog: the reference's 4 fact + 3 dim tables as
  * Spark catalog DDL, loaded with the reference's write dispositions
  * (`sql/facts.sql:2-49`, `sql/dimensions.sql:2-28`; loader behavior from
  * `src/bq_loader.py:15-142` — explicit schema, WRITE_TRUNCATE loads of
  * fixed column subsets; dims from `src/populate_dimensions.py:17-85`).
  * Column sets follow the loader's CREATE TABLE (the actually-executed
  * DDL), which omits `updated_at` from `fact_orders` present in the
  * standalone sql file.
  *
  * BQ→Spark type map: STRING→STRING, FLOAT64→DOUBLE, INT64→BIGINT,
  * TIMESTAMP→TIMESTAMP, DATE→DATE, BOOL→BOOLEAN. Tables are managed
  * parquet. At 100 TB the facts would add `PARTITIONED BY` a date column
  * and/or `CLUSTERED BY` the join key (see `Sinks.writeDatePartitioned` /
  * `Sinks.writeBucketed` for those layouts); the parity DDL stays flat
  * like the reference's.
  */
object Warehouse {

  /** table → column DDL (order matters: loads insert positionally). */
  val TableDdl: Seq[(String, String)] = Seq(
    "fact_orders" ->
      """order_id        STRING    NOT NULL,
        |customer_id     STRING,
        |vendor          STRING,
        |order_amount    DOUBLE,
        |order_status    STRING,
        |created_at      TIMESTAMP,
        |event_id        STRING""".stripMargin,
    "fact_payments" ->
      """payment_id      STRING    NOT NULL,
        |order_id        STRING,
        |vendor          STRING,
        |payment_amount  DOUBLE,
        |payment_status  STRING,
        |payment_method  STRING,
        |payment_date    TIMESTAMP,
        |event_id        STRING""".stripMargin,
    "fact_refunds" ->
      """refund_id      STRING    NOT NULL,
        |order_id       STRING,
        |payment_id     STRING,
        |vendor         STRING,
        |refund_amount  DOUBLE,
        |refund_reason  STRING,
        |refund_type    STRING,
        |refund_date    TIMESTAMP,
        |event_id       STRING""".stripMargin,
    "fact_order_daily" ->
      """order_date           DATE,
        |vendor               STRING,
        |gross_revenue        DOUBLE,
        |total_refunds        DOUBLE,
        |net_revenue          DOUBLE,
        |order_count          BIGINT,
        |paid_count           BIGINT,
        |payment_success_rate DOUBLE,
        |refund_rate          DOUBLE""".stripMargin,
    "dim_date" ->
      """date_key     DATE      NOT NULL,
        |day_of_week  STRING,
        |week_number  BIGINT,
        |month        BIGINT,
        |quarter      BIGINT,
        |year         BIGINT,
        |is_weekend   BOOLEAN""".stripMargin,
    "dim_customer" ->
      """customer_id   STRING NOT NULL,
        |customer_name STRING,
        |email         STRING,
        |country       STRING,
        |created_at    TIMESTAMP""".stripMargin,
    "dim_product" ->
      """product_id   STRING NOT NULL,
        |product_name STRING,
        |category     STRING,
        |vendor_id    STRING,
        |unit_price   DOUBLE""".stripMargin)

  /** S7: CREATE DATABASE / CREATE TABLE IF NOT EXISTS for the full star
    * schema (idempotent, like the reference's create_tables).
    */
  def createAll(spark: SparkSession, db: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    TableDdl.foreach { case (name, cols) =>
      spark.sql(s"CREATE TABLE IF NOT EXISTS $db.$name ($cols) USING parquet")
    }
  }

  /** Load all 7 tables with the reference's dispositions
    * (`src/bq_loader.py:136-142`: WRITE_TRUNCATE with fixed column
    * lists): each frame's [[TableDdl]] columns overwrite-insert
    * positionally, so the catalog table's declared schema governs,
    * exactly like the loader's autodetect=False.
    */
  def loadAll(spark: SparkSession, db: String,
              orders: DataFrame, payments: DataFrame, refunds: DataFrame,
              daily: DataFrame, dimCustomer: DataFrame, dimDate: DataFrame,
              dimProduct: DataFrame): Unit = {
    val frames = Map("fact_orders" -> orders, "fact_payments" -> payments,
      "fact_refunds" -> refunds, "fact_order_daily" -> daily,
      "dim_date" -> dimDate, "dim_customer" -> dimCustomer,
      "dim_product" -> dimProduct)
    TableDdl.foreach { case (name, ddl) =>
      val cols = ddl.linesIterator.map(_.trim.split("\\s+")(0)).toSeq
      frames(name).select(cols.map(col): _*)
        .write.mode("overwrite").insertInto(s"$db.$name")
    }
  }
}
