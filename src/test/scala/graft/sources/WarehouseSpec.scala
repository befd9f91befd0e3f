package graft.sources

import graft.{GoldenData, SparkSuite}
import graft.pipeline.{CommercePulse, EventGenerator}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Star-schema DDL and WRITE_TRUNCATE loads through the Spark catalog, fed
  * the seeded EventGenerator corpus through the same ingest → normalize →
  * fact/dim chain `CommercePulse.runAll` uses. Every expected count is the
  * input frame's own count, so the spec checks the catalog path, not the
  * corpus.
  */
class WarehouseSpec extends SparkSuite {

  test("full star-schema DDL + truncate-load round-trips through the catalog") {
    val db = "wh_spec"
    val root = java.nio.file.Paths.get(tempDir("wh_spec"))
    val dbDir = root.resolve(s"$db.db")
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    // a fresh location keeps the spec off the shared warehouse dir;
    // createAll's CREATE DATABASE IF NOT EXISTS then leaves it in place
    spark.sql(s"CREATE DATABASE $db LOCATION '${dbDir.toUri}'")
    val events = CommercePulse.ingest(Seq(CommercePulse.readLive(spark,
      EventGenerator.writeJsonl(EventGenerator.Config(), root.resolve("events").toString))))
      .cache()
    try {
      Warehouse.createAll(spark, db)
      val tables = spark.sql(s"SHOW TABLES IN $db")
        .collect().map(_.getAs[String]("tableName")).toSet
      assert(Warehouse.TableDdl.map(_._1).toSet.subsetOf(tables))
      // managed tables live under the spec's own database location
      Warehouse.TableDdl.foreach { case (t, _) =>
        assert(java.nio.file.Files.isDirectory(dbDir.resolve(t)), t)
      }

      val orders = CommercePulse.normalizeOrders(events)
      val payments = CommercePulse.normalizePayments(events)
      val refunds = CommercePulse.normalizeRefunds(events)
      val daily = CommercePulse.factOrderDaily(orders, payments, refunds)
      val custDim = CommercePulse.dimCustomer(orders)
      val dateDim = CommercePulse.dimDate(spark)
      val prodDim = CommercePulse.dimProduct(spark)
      def load(): Unit = Warehouse.loadAll(spark, db, orders, payments, refunds,
        daily, custDim, dateDim, prodDim)
      // every loaded table must hold exactly its (non-empty) input frame
      val want: Seq[(String, Long)] = Seq(
        "fact_orders" -> orders, "fact_payments" -> payments,
        "fact_refunds" -> refunds, "fact_order_daily" -> daily,
        "dim_customer" -> custDim, "dim_date" -> dateDim,
        "dim_product" -> prodDim).map { case (t, df) => t -> df.count() }
      assert(want.map(_._1).toSet === Warehouse.TableDdl.map(_._1).toSet)
      info(want.map { case (t, n) => s"$t=$n" }.mkString(" "))
      def assertCounts(): Unit = want.foreach { case (t, n) =>
        assert(n > 0, s"$t: empty input frame")
        assert(spark.table(s"$db.$t").count() === n, t)
      }

      load()
      assertCounts()

      // the catalog table's declared schema governs (autodetect=False)
      val dailySchema = spark.table(s"$db.fact_order_daily").schema
      assert(dailySchema("order_date").dataType === DateType)
      assert(dailySchema("order_count").dataType === LongType)
      assert(dailySchema("gross_revenue").dataType === DoubleType)

      // WRITE_TRUNCATE: reloading replaces, never appends
      load()
      assertCounts()

      // fact written via the catalog reads back identically
      val got = spark.table(s"$db.fact_order_daily")
      val cols = daily.columns.toSeq.map(col)
      assert(GoldenData.canon(got, cols) === GoldenData.canon(daily, cols))
    } finally {
      events.unpersist()
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      new scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }
}
