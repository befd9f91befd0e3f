package perfbench

import graft.pipeline.CommercePulse
import graft.sources.{Sinks, Warehouse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `elt_rebuild`: the full daily ELT, `CommercePulse.runAll`, over a
  * historical export plus daily feeds, into a fresh output directory per
  * call and with the warehouse catalog load. One operation is one call.
  *
  * The traced run makes its cold call a plain `runAll` inside one span
  * (`pipeline.run_all`, runAll's own job count) and replaces each warm
  * call by the same public engine calls in the same order (ingest,
  * normalize, facts, dimensions, report, warehouse load, sinks), each
  * step materialized inside its own span. It caches what `runAll`
  * caches; the dimensions and the report, which `runAll` leaves
  * uncached, cost one extra `count` action each, which Spark runs as
  * one job per shuffle stage.
  */
final class EltRebuild(o: Opts) extends Workload {
  private val corpus = Corpus(o.seed, days = 4, perDay = 10000, historical = 10000)
  private val Db = "perfbench_wh"
  private var truth: Truth = _

  def prepare(dir: String): Unit = truth = corpus.write(dir)

  def run(spark: SparkSession, dir: String, tracer: Option[Tracer]): Outcome = {
    val historical = Seq(corpus.historicalFile(dir))
    val live = (0 until corpus.days).map(corpus.liveFile(dir, _))
    def outDir(i: Int) = s"${o.root}/out/run$i"
    def runAll(i: Int) = CommercePulse.runAll(spark, historical, live, outDir(i), Some(Db))

    // one cold and at least one warm call
    val results = Stats.rounds(o.seconds, min = 2) { i =>
      if (i > 0) Main.deleteTree(outDir(i - 1))
      tracer match {
        case None =>
          val (counts, cost) = Stats.measure(runAll(i))
          (counts, cost, Seq.empty[Span])
        case Some(t) =>
          t.reset()
          val (counts, cost) = Stats.measure(
            if (i == 0) t.span("pipeline.run_all")(runAll(i))
            else traced(spark, t, historical, live, outDir(i)))
          (counts, cost, t.recorded())
      }
    }
    val rss = Tracer.peakRssMb()
    val (counts, costs, spans) = results.unzip3
    val cpu = costs.map(_.cpu)
    val layers = tracer.fold(Map.empty[String, Double]) { _ =>
      val whole = spans.head.map(_.work)
      Stats.layerMetrics(spans.drop(1), o.cores) ++ Map(
        "pipeline.run_all.jobs" -> whole.map(_.jobs).sum.toDouble,
        "operators.dedup_keep_ratio" -> counts.head("events").toDouble / truth.inputLines)
    }
    Outcome(
      attempted = costs.length, failed = 0,
      endToEnd = Map("cold_cpu_s" -> cpu.head, "warm_cpu_s" -> Stats.median(cpu.drop(1)),
        "peak_rss_mb" -> rss),
      layers = layers,
      check = Map(
        "out_dir" -> outDir(costs.length - 1),
        "warehouse_dir" -> s"${o.root}/warehouse/$Db.db",
        "counts" -> counts,
        "truth" -> truth.counts,
        "input_lines" -> truth.inputLines),
      detail = Map("call_wall_s" -> costs.map(_.wall), "call_cpu_s" -> cpu,
        "events" -> truth.counts("events"),
        "input_lines" -> truth.inputLines))
  }

  /** `runAll`, step by step, one span per engine layer. */
  private def traced(spark: SparkSession, t: Tracer, historical: Seq[String],
                     live: Seq[String], out: String): Map[String, Long] = {
    val (events, nEvents) = t.span("pipeline.ingest") {
      val feeds = historical.map(CommercePulse.readHistorical(spark, _)) ++
        live.map(CommercePulse.readLive(spark, _))
      val e = CommercePulse.ingest(feeds).cache()
      (e, e.count())
    }
    val (orders, payments, refunds, nNorm) = t.span("pipeline.normalize") {
      val fs = Seq(CommercePulse.normalizeOrders(events), CommercePulse.normalizePayments(events),
        CommercePulse.normalizeRefunds(events)).map(_.cache())
      (fs(0), fs(1), fs(2), fs.map(_.count()))
    }
    val (daily, nDaily) = t.span("operators.daily_revenue") {
      val d = CommercePulse.factOrderDaily(orders, payments, refunds).cache()
      (d, d.count())
    }
    val (cust, date, prod) = t.span("operators.dimensions") {
      val ds = Seq(CommercePulse.dimCustomer(orders), CommercePulse.dimDate(spark),
        CommercePulse.dimProduct(spark))
      ds.foreach(_.count())
      (ds(0), ds(1), ds(2))
    }
    val report = t.span("operators.quality") {
      val r = CommercePulse.qualityReport(orders, payments, refunds)
      r.count()
      r
    }
    t.span("sources.warehouse") {
      Warehouse.createAll(spark, Db)
      Warehouse.loadAll(spark, Db, orders, payments, refunds, daily, cust, date, prod)
    }
    t.span("sources.sinks") {
      Sinks.upsertParquet(spark, orders, s"$out/fact_orders",
        Seq("order_id"), Seq(col("created_at").desc_nulls_last, col("event_id").desc))
      Sinks.appendParquet(payments, s"$out/fact_payments")
      Sinks.appendParquet(refunds, s"$out/fact_refunds")
      Sinks.overwriteParquet(daily, s"$out/fact_order_daily")
      Sinks.overwriteParquet(cust, s"$out/dim_customer")
      Sinks.overwriteParquet(date, s"$out/dim_date")
      Sinks.overwriteParquet(prod, s"$out/dim_product")
      Sinks.writeCsv(report, s"$out/quality_report")
    }
    Seq(events, orders, payments, refunds, daily).foreach(_.unpersist(blocking = false))
    Map("events" -> nEvents, "orders" -> nNorm(0), "payments" -> nNorm(1),
      "refunds" -> nNorm(2), "daily" -> nDaily)
  }
}
