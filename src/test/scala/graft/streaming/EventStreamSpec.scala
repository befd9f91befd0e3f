package graft.streaming

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, lit}

class EventStreamSpec extends SparkSuite {

  private def writeFixture(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = Seq(
      """{"event_id":"s1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"total\":100.0}","ingested_at":"2024-01-01T11:00:00"}""",
      """{"event_id":"s1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-01 10:00\",\"total\":100.0}","ingested_at":"2024-01-01T12:00:00"}""",
      """{"event_id":"s2","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"s3","event_type":"payment_succeeded","event_time":"2024-01-02T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-02T12:00:00\",\"payment_status\":\"success\",\"amountPaid\":200.0,\"transaction_id\":\"TX-1\"}","ingested_at":"2024-01-02T13:00:00"}"""
    )
    Files.writeString(Paths.get(s"$dir/events.jsonl"), lines.mkString("\n"))
  }

  test("streaming dedup + windowed daily agg matches batch semantics") {
    val dir = tempDir("stream_in")
    writeFixture(dir)
    val stream = EventStream.readLiveStream(spark, dir)
    assert(stream.isStreaming)
    val agg = EventStream.dailyWindowAgg(EventStream.dedupWithWatermark(stream))
    val q = agg.writeStream
      .format("memory").queryName("daily_agg").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_date, vendor, n_events FROM daily_agg ORDER BY 1, 2")
      .collect().map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
    // duplicate s1 collapsed -> 1 event on 01-01; two distinct events on 01-02
    assert(got.toSeq == Seq(
      ("2024-01-01", "vendor_a", 1L),
      ("2024-01-02", "vendor_b", 2L)))
  }

  test("sliding and session windows over the deduped stream") {
    val dir = tempDir("stream_in3")
    writeFixture(dir)
    val deduped = EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, dir))

    val sq = EventStream.slidingWindowAgg(deduped, "2 days", "1 day").writeStream
      .format("memory").queryName("sliding").outputMode("complete").start()
    sq.processAllAvailable(); sq.stop()
    val sliding = spark.sql("SELECT vendor, sum(n_events) FROM sliding GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // size/slide = 2 -> every event counted twice across overlapping windows
    assert(sliding.toSeq == Seq(("vendor_a", 2L), ("vendor_b", 4L)))

    val ssq = EventStream.sessionAgg(deduped, "6 hours").writeStream
      .format("memory").queryName("sessions").outputMode("complete").start()
    ssq.processAllAvailable(); ssq.stop()
    val sessions = spark.sql("SELECT vendor, count(*) FROM sessions GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // vendor_b's two events are 2h apart -> one merged session
    assert(sessions.toSeq == Seq(("vendor_a", 1L), ("vendor_b", 1L)))
  }

  test("streaming HLL window: per-day approx distinct orders tracks exact within 5%") {
    val dir = tempDir("stream_hll")
    Files.createDirectories(Paths.get(dir))
    // day 1: 300 events over 120 distinct refs; day 2: 30 distinct refs
    val lines =
      (1 to 300).map(i =>
        s"""{"event_id":"h$i","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_b","payload":"{\\"order_id\\":\\"R-${i % 120}\\"}","ingested_at":"2024-01-01T11:00:00"}""") ++
      (1 to 30).map(i =>
        s"""{"event_id":"g$i","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\\"order_id\\":\\"S-$i\\"}","ingested_at":"2024-01-02T11:00:00"}""")
    Files.writeString(Paths.get(s"$dir/events.jsonl"), lines.mkString("\n"))
    val agg = EventStream.dailyApproxOrders(
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, dir)))
    val q = agg.writeStream
      .format("memory").queryName("hll_daily").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT event_date, approx_orders FROM hll_daily ORDER BY 1")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSeq
    assert(got.map(_._1) == Seq("2024-01-01", "2024-01-02"))
    val exact = Map("2024-01-01" -> 120L, "2024-01-02" -> 30L)
    got.foreach { case (d, a) =>
      val n = exact(d)
      assert(math.abs(a - n) <= math.max(1L, (n * 0.05).toLong),
        s"day $d: approx $a vs exact $n")
    }
  }

  test("stream-static dim enrichment joins without stream state") {
    val dir = tempDir("stream_in4")
    writeFixture(dir)
    import SparkSuite.session.implicits._
    val dim = Seq(("vendor_a", "Alpha Corp"), ("vendor_b", "Beta GmbH"))
      .toDF("vendor", "vendor_name")
    val enriched = EventStream.enrichWithDim(
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, dir)),
      dim, "vendor")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT DISTINCT vendor, vendor_name FROM enriched ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq == Seq(("vendor_a", "Alpha Corp"), ("vendor_b", "Beta GmbH")))
  }

  test("streaming daily refresh upserts the same grains as the batch aggregate") {
    val dir = tempDir("stream_in5")
    writeFixture(dir)
    val out = tempDir("stream_daily")
    val cp = tempDir("stream_daily_cp")
    val q = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(EventStream.readLiveStream(spark, dir)),
      s"$out/fact_order_daily", cp)
    q.awaitTermination(60000)
    val daily = spark.read.parquet(s"$out/fact_order_daily")
    val rows = daily.collect().map(r =>
      (r.getAs[java.sql.Date]("order_date").toString, r.getAs[String]("vendor"),
        r.getAs[Double]("gross_revenue"))).toSet
    // A-1 on 01-01 (no payment rows attributed besides TX-1 -> gross 200 on B-1's date)
    assert(rows.map(t => (t._1, t._2)) ==
      Set(("2024-01-01", "vendor_a"), ("2024-01-02", "vendor_b")))
    val b = rows.find(_._2 == "vendor_b").get
    assert(b._3 == 200.0)
  }

  test("daily refresh merges grains spanning micro-batches (equals batch recompute)") {
    val dir = tempDir("stream_in7")
    Files.createDirectories(Paths.get(dir))
    // one (2024-01-02, vendor_b) grain split across two files; with
    // maxFilesPerTrigger=1 each file is its own micro-batch
    Files.writeString(Paths.get(s"$dir/a.jsonl"), Seq(
      """{"event_id":"m1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"m2","event_type":"payment_succeeded","event_time":"2024-01-02T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-02T12:00:00\",\"payment_status\":\"success\",\"amountPaid\":200.0,\"transaction_id\":\"TX-1\"}","ingested_at":"2024-01-02T13:00:00"}"""
    ).mkString("\n"))
    Files.writeString(Paths.get(s"$dir/b.jsonl"), Seq(
      """{"event_id":"m3","event_type":"order_created","event_time":"2024-01-02T14:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-2\",\"created_at\":\"2024-01-02T14:00:00\",\"totalAmount\":100.0}","ingested_at":"2024-01-02T15:00:00"}""",
      """{"event_id":"m4","event_type":"payment_succeeded","event_time":"2024-01-02T16:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-2\",\"paid_at\":\"2024-01-02T16:00:00\",\"payment_status\":\"success\",\"amountPaid\":100.0,\"transaction_id\":\"TX-2\"}","ingested_at":"2024-01-02T17:00:00"}"""
    ).mkString("\n"))
    val out = tempDir("stream_daily2")
    val cp = tempDir("stream_daily2_cp")
    val q = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(
        EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))),
      s"$out/fact_order_daily", cp)
    q.awaitTermination(120000)
    val daily = spark.read.parquet(s"$out/fact_order_daily").collect()
    assert(daily.length == 1)
    val r = daily(0)
    // round 1 kept the LARGEST PARTIAL (one order, gross 200); the merged
    // recompute must equal the batch aggregate over all events
    assert(r.getAs[Long]("order_count") == 2L)
    assert(r.getAs[Double]("gross_revenue") == 300.0)
    assert(r.getAs[Long]("paid_count") == 2L)
    val batchRecompute = {
      val all = graft.pipeline.CommercePulse.readLive(spark, s"$dir/*.jsonl")
      graft.pipeline.CommercePulse.factOrderDaily(
        graft.pipeline.CommercePulse.normalizeOrders(all),
        graft.pipeline.CommercePulse.normalizePayments(all),
        graft.pipeline.CommercePulse.normalizeRefunds(all)).collect()(0)
    }
    assert(r.getAs[Double]("gross_revenue") == batchRecompute.getAs[Double]("gross_revenue"))
    assert(r.getAs[Long]("order_count") == batchRecompute.getAs[Long]("order_count"))
  }

  test("daily refresh: the trailing 0-row batch rewrites neither the store nor the table") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    val dir = tempDir("stream_in11")
    // two single-file data batches; the second advances the watermark, so
    // an AvailableNow run closes with a watermark-only batch of 0 rows
    Files.writeString(Paths.get(s"$dir/a.jsonl"), Seq(
      """{"event_id":"e1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"e2","event_type":"payment_succeeded","event_time":"2024-01-02T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-02T12:00:00\",\"payment_status\":\"success\",\"amountPaid\":200.0,\"transaction_id\":\"TX-1\"}","ingested_at":"2024-01-02T13:00:00"}"""
    ).mkString("\n"))
    Files.writeString(Paths.get(s"$dir/b.jsonl"), Seq(
      """{"event_id":"e3","event_type":"order_created","event_time":"2024-01-03T14:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-03 14:00\",\"total\":100.0}","ingested_at":"2024-01-03T15:00:00"}""",
      """{"event_id":"e4","event_type":"payment_succeeded","event_time":"2024-01-03T16:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 16:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"method\":\"card\",\"txRef\":\"TX-2\"}","ingested_at":"2024-01-03T17:00:00"}"""
    ).mkString("\n"))
    // the file source takes the oldest file first: pin a before b
    Files.setLastModifiedTime(Paths.get(s"$dir/a.jsonl"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000L))
    val out = tempDir("stream_daily4") + "/fact_order_daily"
    val cp = tempDir("stream_daily4_cp")
    val orders = tempDir("stream_orders4") + "/fact_orders"
    def parts(p: String): Set[String] =
      Option(new java.io.File(p).list()).toSet.flatten.filter(_.startsWith("part-"))
    // (query, batch, input rows, store / table / order-table part files)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (java.util.UUID, Long, Long, Set[String], Set[String], Set[String])]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        seen.add((e.progress.id, e.progress.batchId, e.progress.numInputRows,
          parts(s"${out}_events"), parts(out), parts(orders)))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    def deduped(in: String) = EventStream.dedupWithWatermark(
      EventStream.readLiveStream(spark, in, maxFilesPerTrigger = Some(1)))
    def progressOf(q: org.apache.spark.sql.streaming.StreamingQuery) = {
      q.awaitTermination(120000)
      // progress reaches listeners asynchronously: wait for the last one
      val n = q.recentProgress.length
      val deadline = System.nanoTime() + 30L * 1000000000L
      def mine = seen.asScala.filter(_._1 == q.id).toSeq
      while (mine.size < n && System.nanoTime() < deadline) Thread.sleep(50)
      mine.sortBy(_._2)
    }
    // a payments-only stream: its batches normalize to no order row
    val payDir = tempDir("stream_in11_pay")
    Files.writeString(Paths.get(s"$payDir/p.jsonl"),
      """{"event_id":"p1","event_type":"payment_succeeded","event_time":"2024-01-04T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-04T12:00:00\",\"payment_status\":\"success\",\"amountPaid\":200.0,\"transaction_id\":\"TX-9\"}","ingested_at":"2024-01-04T13:00:00"}""")
    val payOrders = tempDir("stream_orders4_pay") + "/fact_orders"
    spark.streams.addListener(listener)
    val (batches, orderBatches) = try {
      val daily = progressOf(
        EventStream.startDailyRefresh(spark, deduped(dir), out, cp))
      val upserts = progressOf(EventStream.startOrderUpsert(spark,
        deduped(dir), orders, tempDir("stream_orders4_cp")))
      progressOf(EventStream.startOrderUpsert(spark, deduped(payDir),
        payOrders, tempDir("stream_orders4_pay_cp")))
      (daily, upserts)
    } finally spark.streams.removeListener(listener)
    assert(batches.map(_._3) == Seq(2L, 2L, 0L),
      s"expected two data batches and a trailing 0-row batch: $batches")
    val (_, _, _, storeAfterData, tableAfterData, _) = batches(1)
    val (_, _, _, storeAfterEmpty, tableAfterEmpty, _) = batches(2)
    assert(storeAfterData.nonEmpty && tableAfterData.nonEmpty)
    assert(storeAfterEmpty == storeAfterData, "0-row batch rewrote the store")
    assert(tableAfterEmpty == tableAfterData, "0-row batch rewrote the table")
    // the order upsert over the same input: same batches, and its
    // trailing 0-row batch leaves the order table's files untouched
    assert(orderBatches.map(_._3) == Seq(2L, 2L, 0L),
      s"expected two data batches and a trailing 0-row batch: $orderBatches")
    val ordersAfterData = orderBatches(1)._6
    assert(ordersAfterData.nonEmpty)
    assert(orderBatches(2)._6 == ordersAfterData,
      "0-row batch rewrote the order table")
    assert(spark.read.parquet(orders).select("order_id").collect()
      .map(_.getString(0)).toSet == Set("A-1", "B-1"))
    assert(!new java.io.File(payOrders).exists(),
      "a stream that never delivered an order created an order table")
    val all = graft.pipeline.CommercePulse.readLive(spark, s"$dir/*.jsonl")
    val recompute = graft.pipeline.CommercePulse.factOrderDaily(
      graft.pipeline.CommercePulse.normalizeOrders(all),
      graft.pipeline.CommercePulse.normalizePayments(all),
      graft.pipeline.CommercePulse.normalizeRefunds(all))
    val table = spark.read.parquet(out).select(recompute.columns.map(col): _*)
    assert(table.collect().toSet == recompute.collect().toSet)
    assert(table.count() == 2)
  }

  /** Write `files` (name -> JSONL lines) into `dir`, each file older than
    * the next: the file source takes the oldest file first, so with
    * `maxFilesPerTrigger = 1` file i is micro-batch i.
    */
  private def writeBatches(dir: String, files: Seq[(String, Seq[String])]): Unit = {
    val t0 = System.currentTimeMillis() - 60000L * files.size
    files.zipWithIndex.foreach { case ((name, lines), i) =>
      val p = Paths.get(s"$dir/$name")
      Files.writeString(p, lines.mkString("\n"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(t0 + 60000L * i))
    }
  }

  /** Refresh `out` from `dir`, one file per micro-batch, to the end. */
  private def refreshByFile(dir: String, out: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(
        EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))),
      out, tempDir("stream_cp"))
    q.awaitTermination(120000)
    q
  }

  /** fact_order_daily recomputed in batch over every file in `dir`. */
  private def batchRecompute(dir: String): org.apache.spark.sql.DataFrame = {
    val all = graft.pipeline.CommercePulse.readLive(spark, s"$dir/*.jsonl")
    graft.pipeline.CommercePulse.factOrderDaily(
      graft.pipeline.CommercePulse.normalizeOrders(all),
      graft.pipeline.CommercePulse.normalizePayments(all),
      graft.pipeline.CommercePulse.normalizeRefunds(all))
  }

  /** Two days of one order, one payment and one refund each; the second
    * file also updates the first day's order.
    */
  private val twoDays: Seq[(String, Seq[String])] = Seq(
    "a.jsonl" -> Seq(
      """{"event_id":"k1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T11:00:00"}""",
      """{"event_id":"k2","event_type":"payment_succeeded","event_time":"2024-01-02T12:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"paid_at\":\"2024-01-02T12:00:00\",\"payment_status\":\"success\",\"amountPaid\":200.0,\"transaction_id\":\"TX-1\"}","ingested_at":"2024-01-02T13:00:00"}""",
      """{"event_id":"k3","event_type":"refund_issued","event_time":"2024-01-02T14:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"refund_id\":\"RF-1\",\"amount\":20.0}","ingested_at":"2024-01-02T15:00:00"}"""),
    "b.jsonl" -> Seq(
      """{"event_id":"k4","event_type":"order_created","event_time":"2024-01-03T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"created\":\"2024-01-03 10:00\",\"total\":100.0}","ingested_at":"2024-01-03T11:00:00"}""",
      """{"event_id":"k5","event_type":"payment_succeeded","event_time":"2024-01-03T12:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"paidAt\":\"2024/01/03 12:00:00\",\"status\":\"SUCCESS\",\"amount\":100.0,\"txRef\":\"TX-2\"}","ingested_at":"2024-01-03T13:00:00"}""",
      """{"event_id":"k6","event_type":"refund_issued","event_time":"2024-01-03T14:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"amount\":10.0}","ingested_at":"2024-01-03T15:00:00"}""",
      """{"event_id":"k7","event_type":"order_updated","event_time":"2024-01-03T16:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":210.0}","ingested_at":"2024-01-03T17:00:00"}"""))

  test("daily refresh: the second data batch stays within its job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val dir = tempDir("stream_in12")
    writeBatches(dir, twoDays)
    // Spark puts the query's id and the batch id on every job it runs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs.add((q, b.toLong))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = refreshByFile(dir, tempDir("stream_daily5") + "/fact_order_daily")
      org.apache.spark.SparkInternals.drainListenerBus(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(q.exception.isEmpty, q.exception)
    val byBatch = jobs.asScala.toSeq.filter(_._1 == q.id.toString)
      .groupBy(_._2).view.mapValues(_.size).toMap
    info(s"jobs by micro-batch: ${byBatch.toSeq.sorted.mkString(", ")}")
    // batch 1 is the second data batch: the store upsert, then one full
    // recompute of the table from the store, swapped in. A touched-grain
    // merge took 34 jobs on the same batch (45 while it parsed the store
    // once per use); the count is the same at 1 and 4 local cores
    val budget = 16
    assert(byBatch.contains(1L), byBatch)
    assert(byBatch(1L) <= budget, s"second data batch ran ${byBatch(1L)} jobs, budget $budget")
  }

  test("daily refresh: a crash between the table write and the checkpoint commit replays cleanly") {
    val dir = tempDir("stream_in14")
    writeBatches(dir, twoDays)
    val out = tempDir("stream_daily7") + "/fact_order_daily"
    val cp = tempDir("stream_daily7_cp")
    def refresh() = {
      val q = EventStream.startDailyRefresh(spark,
        EventStream.dedupWithWatermark(
          EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))),
        out, cp)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, q.exception)
      q
    }
    def dataBatches(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    assert(dataBatches(refresh()) == Seq(0L, 1L))
    // the crash: batch 1 swapped in its store and table but never wrote
    // its commit, and no later batch was planned
    def dropLog(sub: String, from: Long): Unit =
      new java.io.File(s"$cp/$sub").listFiles().foreach { f =>
        val id = f.getName.stripPrefix(".").stripSuffix(".crc")
        if (id.forall(_.isDigit) && id.toLong >= from) f.delete()
      }
    dropLog("commits", 1L)
    dropLog("offsets", 2L)
    // and a table swap that died mid-write left its tmp dir behind
    spark.read.parquet(out).withColumn("vendor", lit("junk"))
      .write.parquet(s"$out.__swap__")
    def files(p: String): Set[String] =
      Option(new java.io.File(p).list()).toSet.flatten
    val junk = files(s"$out.__swap__").filter(_.startsWith("part-"))
    assert(junk.nonEmpty)
    assert(dataBatches(refresh()) == Seq(1L), "batch 1 was not replayed")
    val store = spark.read.parquet(s"${out}_events")
    assert(store.count() == 7L)
    assert(store.select("event_id").distinct().count() == 7L,
      "the replay left a second row for an event_id in the store")
    val recompute = batchRecompute(dir)
    val table = spark.read.parquet(out).select(recompute.columns.map(col): _*)
    assert(table.collect().toSet == recompute.collect().toSet)
    assert((files(out) intersect junk).isEmpty, "a junk part file leaked into the table")
    assert(!new java.io.File(s"$out.__swap__").exists())
  }

  test("daily refresh equals batch recompute when a payment or refund is re-sent for another order") {
    // O-1 (01-02) and O-2 (01-03) are both on vendor_b; TX-1 and RF-1
    // first name O-1, and a later batch re-sends them naming O-2
    val orders = Seq(
      """{"event_id":"r1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"O-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":100.0}","ingested_at":"2024-01-02T10:30:00"}""",
      """{"event_id":"r2","event_type":"order_created","event_time":"2024-01-03T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"O-2\",\"created_at\":\"2024-01-03T10:00:00\",\"totalAmount\":50.0}","ingested_at":"2024-01-03T10:30:00"}""")
    def pay(id: String, order: String, at: String) =
      s"""{"event_id":"$id","event_type":"payment_succeeded","event_time":"$at","vendor":"vendor_b","payload":"{\\"order_id\\":\\"$order\\",\\"paid_at\\":\\"$at\\",\\"payment_status\\":\\"success\\",\\"amountPaid\\":100.0,\\"transaction_id\\":\\"TX-1\\"}","ingested_at":"2024-01-04T00:00:00"}"""
    def refund(id: String, order: String, at: String) =
      s"""{"event_id":"$id","event_type":"refund_issued","event_time":"$at","vendor":"vendor_b","payload":"{\\"order_id\\":\\"$order\\",\\"refund_id\\":\\"RF-1\\",\\"refunded_at\\":\\"$at\\",\\"amount\\":10.0}","ingested_at":"2024-01-04T00:00:00"}"""
    // (re-send time, the date of the order that owns TX-1 and RF-1 in the
    // end, the other order's date): a re-send dated before the first
    // version wins first-wins and moves both to O-2; one dated after it
    // loses and leaves them on O-1
    for ((resentAt, ownerDate, otherDate) <- Seq(
           ("2024-01-02T11:00:00", "2024-01-03", "2024-01-02"),
           ("2024-01-03T12:00:00", "2024-01-02", "2024-01-03"))) {
      val dir = tempDir("stream_in13")
      writeBatches(dir, Seq(
        "a.jsonl" -> (orders ++ Seq(pay("r3", "O-1", "2024-01-02T12:00:00"),
          refund("r4", "O-1", "2024-01-02T13:00:00"))),
        "b.jsonl" -> Seq(pay("r5", "O-2", resentAt), refund("r6", "O-2", resentAt))))
      val out = tempDir("stream_daily6") + "/fact_order_daily"
      val q = refreshByFile(dir, out)
      assert(q.exception.isEmpty, q.exception)
      val recompute = batchRecompute(dir)
      val table = spark.read.parquet(out).select(recompute.columns.map(col): _*)
      assert(table.collect().toSet == recompute.collect().toSet, s"re-send at $resentAt")
      val byDate = table.collect().map(r => r.getAs[java.sql.Date]("order_date").toString ->
        ((r.getAs[Double]("gross_revenue"), r.getAs[Double]("total_refunds")))).toMap
      assert(byDate(ownerDate) == ((100.0, 10.0)), s"re-send at $resentAt: $byDate")
      assert(byDate(otherDate) == ((0.0, 0.0)), s"re-send at $resentAt: $byDate")
    }
  }

  test("daily refresh retracts a grain when a late update moves the order's date") {
    val dir = tempDir("stream_in8")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/a.jsonl"),
      """{"event_id":"g1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"C-1\",\"created_at\":\"2024-01-02T10:00:00\",\"totalAmount\":50.0}","ingested_at":"2024-01-02T11:00:00"}""")
    // later version of the SAME order with a later created_at: the order
    // migrates from the 01-02 grain to 01-05 — the old grain must vanish
    Files.writeString(Paths.get(s"$dir/b.jsonl"),
      """{"event_id":"g2","event_type":"order_updated","event_time":"2024-01-05T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"C-1\",\"created_at\":\"2024-01-05T10:00:00\",\"totalAmount\":50.0}","ingested_at":"2024-01-05T11:00:00"}""")
    val out = tempDir("stream_daily3")
    val cp = tempDir("stream_daily3_cp")
    val q = EventStream.startDailyRefresh(spark,
      EventStream.dedupWithWatermark(
        EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))),
      s"$out/fact_order_daily", cp)
    q.awaitTermination(120000)
    val daily = spark.read.parquet(s"$out/fact_order_daily").collect()
    assert(daily.length == 1)
    assert(daily(0).getAs[java.sql.Date]("order_date").toString == "2024-01-05")
  }

  test("orderLifecycle: flatMapGroupsWithState folds per-order state across batches") {
    val dir = tempDir("stream_in9")
    Files.createDirectories(Paths.get(dir))
    // A-1 created then paid (across two batches); B-1 created, paid,
    // refunded; C-1 only created
    Files.writeString(Paths.get(s"$dir/a.jsonl"), Seq(
      """{"event_id":"l1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"v","payload":"{\"order_id\":\"A-1\"}","ingested_at":"2024-01-02T10:01:00"}""",
      """{"event_id":"l2","event_type":"order_created","event_time":"2024-01-02T10:05:00","vendor":"v","payload":"{\"order_id\":\"B-1\"}","ingested_at":"2024-01-02T10:06:00"}""",
      """{"event_id":"l3","event_type":"payment_succeeded","event_time":"2024-01-02T11:00:00","vendor":"v","payload":"{\"order_id\":\"B-1\",\"transaction_id\":\"T1\"}","ingested_at":"2024-01-02T11:01:00"}"""
    ).mkString("\n"))
    Files.writeString(Paths.get(s"$dir/b.jsonl"), Seq(
      """{"event_id":"l4","event_type":"payment_succeeded","event_time":"2024-01-02T12:00:00","vendor":"v","payload":"{\"order_id\":\"A-1\",\"transaction_id\":\"T2\"}","ingested_at":"2024-01-02T12:01:00"}""",
      """{"event_id":"l5","event_type":"refund_issued","event_time":"2024-01-02T13:00:00","vendor":"v","payload":"{\"order_id\":\"B-1\"}","ingested_at":"2024-01-02T13:01:00"}""",
      """{"event_id":"l6","event_type":"order_created","event_time":"2024-01-02T13:30:00","vendor":"v","payload":"{\"order_id\":\"C-1\"}","ingested_at":"2024-01-02T13:31:00"}"""
    ).mkString("\n"))
    val q = EventStream.orderLifecycle(
        EventStream.dedupWithWatermark(
          EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))))
      .writeStream.format("memory").queryName("lifecycle")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // memory sink in update mode appends each state emission; the LAST
    // row per order is its final state
    val finals = spark.sql(
        """SELECT order_id, status, n_order_events, n_payments, n_refunds
          |FROM (SELECT *, row_number() OVER (PARTITION BY order_id
          |        ORDER BY n_order_events + n_payments + n_refunds DESC) AS rn
          |      FROM lifecycle) WHERE rn = 1""".stripMargin)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(finals("A-1") == (("paid", 1L, 1L, 0L)))
    assert(finals("B-1") == (("refunded", 1L, 1L, 1L)))
    assert(finals("C-1") == (("open", 1L, 0L, 0L)))
  }

  test("orderLifecycle: first-batch state survives watermark advancement") {
    // regression: the first micro-batch runs with watermark 0; setting a
    // timeout of 0+ttl (1970) evicted every first-batch-only order as
    // soon as the watermark went live
    val dir = tempDir("stream_in10")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/a.jsonl"),
      """{"event_id":"w1","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"v","payload":"{\"order_id\":\"X-1\"}","ingested_at":"2024-01-02T10:01:00"}""")
    // advances the watermark well past batch 1's event times
    Files.writeString(Paths.get(s"$dir/b.jsonl"),
      """{"event_id":"w2","event_type":"order_created","event_time":"2024-01-20T10:00:00","vendor":"v","payload":"{\"order_id\":\"Y-1\"}","ingested_at":"2024-01-20T10:01:00"}""")
    Files.writeString(Paths.get(s"$dir/c.jsonl"),
      """{"event_id":"w3","event_type":"payment_succeeded","event_time":"2024-01-21T10:00:00","vendor":"v","payload":"{\"order_id\":\"X-1\",\"transaction_id\":\"TW\"}","ingested_at":"2024-01-21T10:01:00"}""")
    val q = EventStream.orderLifecycle(
        EventStream.dedupWithWatermark(
          EventStream.readLiveStream(spark, dir, maxFilesPerTrigger = Some(1))))
      .writeStream.format("memory").queryName("lifecycle_wm")
      .outputMode("update").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val x = spark.sql(
        """SELECT n_order_events, n_payments, status FROM lifecycle_wm
          |WHERE order_id = 'X-1'
          |ORDER BY n_order_events + n_payments DESC LIMIT 1""".stripMargin)
      .collect()(0)
    // the payment folded into the SURVIVING batch-1 state, not a reset one
    assert(x.getLong(0) == 1L && x.getLong(1) == 1L && x.getString(2) == "paid")
  }

  test("corrupt line accounting matches the reference's skip counting") {
    val dir = tempDir("stream_in6")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/events.jsonl"), Seq(
      """{"event_id":"ok1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"v","payload":"{}","ingested_at":"2024-01-01T11:00:00"}""",
      """{broken""",
      """{"event_type":"no_id","vendor":"v","payload":"{}"}""",
      """{"event_id":"ok2","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"v","payload":"{}","ingested_at":"2024-01-01T11:00:00"}"""
    ).mkString("\n"))
    assert(graft.pipeline.CommercePulse.corruptLineCount(spark, s"$dir/events.jsonl") == 2)
    assert(graft.pipeline.CommercePulse.readLive(spark, s"$dir/events.jsonl").count() == 2)
  }

  test("stream-stream join: payments attach within the horizon, both sides watermarked") {
    val dir = tempDir("stream_in_ssj")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/events.jsonl"), Seq(
      // A-1 ordered 10:00; its only payment lands NEXT DAY — outside the 2h horizon
      """{"event_id":"j1","event_type":"order_created","event_time":"2024-01-01T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"total\":100.0}","ingested_at":"2024-01-01T11:00:00"}""",
      """{"event_id":"j2","event_type":"payment_succeeded","event_time":"2024-01-02T10:00:00","vendor":"vendor_a","payload":"{\"orderRef\":\"A-1\",\"amount\":100.0}","ingested_at":"2024-01-02T11:00:00"}""",
      // B-1 ordered 10:00, paid 11:30 — inside the horizon (order_id dialect)
      """{"event_id":"j3","event_type":"order_created","event_time":"2024-01-02T10:00:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"totalAmount\":200.0}","ingested_at":"2024-01-02T10:30:00"}""",
      """{"event_id":"j4","event_type":"payment_succeeded","event_time":"2024-01-02T11:30:00","vendor":"vendor_b","payload":"{\"order_id\":\"B-1\",\"amountPaid\":200.0}","ingested_at":"2024-01-02T12:00:00"}"""
    ).mkString("\n"))
    val stream = EventStream.readLiveStream(spark, dir)
    val joined = EventStream.orderPaymentJoin(stream, stream)
    assert(joined.isStreaming)
    val q = joined.writeStream
      .format("memory").queryName("ssj").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT o_ref, vendor, payment_event_id FROM ssj ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("B-1", "vendor_b", "j4")))
  }

  test("foreachBatch order upsert: streaming writes the same warehouse state as batch") {
    val dir = tempDir("stream_in2")
    writeFixture(dir)
    val out = tempDir("stream_out")
    val cp = tempDir("stream_cp")
    val stream = EventStream.readLiveStream(spark, dir)
    val q = EventStream.startOrderUpsert(spark,
      EventStream.dedupWithWatermark(stream), s"$out/fact_orders", cp)
    q.awaitTermination(60000)
    val orders = spark.read.parquet(s"$out/fact_orders")
    val ids = orders.select("order_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("A-1", "B-1"))
    assert(orders.count() == 2) // duplicate envelope did not double A-1
  }
}
