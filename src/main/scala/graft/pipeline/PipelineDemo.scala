package graft.pipeline

import java.nio.file.{Files, Paths}

/** Runnable end-to-end demo of the CommercePulse-semantics pipeline:
  * `sbt "runMain graft.pipeline.PipelineDemo [workDir]"`.
  * Generates a small mixed-dialect fixture corpus, runs the full ELT, and
  * prints the resulting warehouse state.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty) args(0)
      else Files.createTempDirectory("cp_demo").toString
    val spark = graft.Session()

    Files.createDirectories(Paths.get(s"$work/live"))
    val live = Seq(
      """{"event_id":"ev001","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"buyer\":{\"email\":\"x@a\"},\"totalAmount\":100.0,\"currency\":\"NGN\"}","ingested_at":"2024-01-01T11:00:00"}""",
      """{"event_id":"ev002","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"buyerEmail\":\"y@b\",\"totalAmount\":200.0,\"state\":\"confirmed\"}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"ev003","event_type":"payment_succeeded","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 10:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-1\"}","ingested_at":"2024-01-03T11:00:00"}""",
      """{"event_id":"ev003","event_type":"payment_succeeded","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 10:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-1\"}","ingested_at":"2024-01-03T12:00:00"}""",
      """{oops-corrupt"""
    )
    Files.writeString(Paths.get(s"$work/live/events.jsonl"), live.mkString("\n"))
    val hist =
      """[{"event_id":"hv001","event_type":"historical_order","event_time":"2023-12-01T00:00:00","payload":"{\"order_id\":\"H-1\",\"customerId\":\"CUST-1\",\"totalAmount\":500.0,\"state\":\"delivered\",\"created_at\":\"2023-12-01T00:00:00\"}","ingested_at":"2023-12-31T00:00:00"}]"""
    Files.writeString(Paths.get(s"$work/historical.json"), hist)

    val counts = CommercePulse.runAll(spark,
      Seq(s"$work/historical.json"), Seq(s"$work/live/events.jsonl"), s"$work/warehouse")
    println(s"[demo] counts: $counts")
    for (t <- Seq("fact_orders", "fact_payments", "fact_order_daily", "dim_customer")) {
      println(s"[demo] == $t")
      spark.read.parquet(s"$work/warehouse/$t").show(20, false)
    }
    println(s"[demo] quality_report:")
    spark.read.option("header", "true").csv(s"$work/warehouse/quality_report").show(1, false)
    println(s"[demo] warehouse at $work/warehouse")
    spark.stop()
  }
}
