package graft.sources

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSuite {

  test("date-partitioned writes prune partitions at the scan") {
    val out = tempDir("part_out") + "/orders"
    val o = graft.Tables.orders(spark, sf)
      .withColumn("order_date", col("o_orderdate").cast("date").cast("string"))
    Sinks.writeDatePartitioned(o.select("o_orderkey", "o_totalprice", "order_date"),
      out, "order_date")

    val pruned = spark.read.parquet(out).filter(col("order_date") === "1995-06-15")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"))
    // pruning means we list only matching directories, not all dates
    val allDates = spark.read.parquet(out).select("order_date").distinct().count()
    assert(allDates > 100)
    assert(pruned.count() < 50)
  }

  test("upsert sinks: first-write works, corrupt existing table propagates") {
    import spark.implicits._
    val base = tempDir("sink_guard")
    // first write: missing path means fresh table, not an error
    Sinks.upsertParquet(spark, Seq((1L, "a")).toDF("k", "v"), s"$base/t",
      Seq("k"), Seq(col("v").desc))
    assert(spark.read.parquet(s"$base/t").count() === 1)
    // an unreadable existing table must FAIL the upsert, not silently
    // rebuild the table from the batch alone (history loss)
    val corrupt = s"$base/bad"
    Files.createDirectories(java.nio.file.Paths.get(corrupt))
    Files.writeString(java.nio.file.Paths.get(s"$corrupt/part-00000.parquet"),
      "this is not parquet")
    intercept[Exception] {
      Sinks.upsertParquet(spark, Seq((1L, "a")).toDF("k", "v"), corrupt,
        Seq("k"), Seq(col("v").desc))
    }
    // the corrupt dir was not replaced by the batch
    assert(Files.readString(
      java.nio.file.Paths.get(s"$corrupt/part-00000.parquet"))
      == "this is not parquet")
  }

  test("a missing table reads as None without a failed read's warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val missing = tempDir("sink_missing") + "/never_written"
    // every WARN or worse that names the path, from any logger
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("sinks-spec-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = e.getMessage.getFormattedMessage +
          Option(e.getThrown).fold("")(" " + _)
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
          text.contains("never_written")) seen.add(text)
      }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    try assert(Sinks.readExistingAny(spark, missing).isEmpty)
    finally { root.removeAppender(capture); capture.stop() }
    assert(seen.isEmpty, seen.toString)
    // an existing table still reads
    import spark.implicits._
    Seq(1L).toDF("k").write.parquet(missing)
    assert(Sinks.readExistingAny(spark, missing).map(_.count()) === Some(1L))
  }

  test("compaction collapses a small-files directory and preserves content exactly") {
    val out = tempDir("compact_out") + "/ev"
    val src = graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "value")
    src.repartition(64).write.parquet(out) // the streaming-ingest disease
    val rowsBefore = spark.read.parquet(out).count()
    val sumBefore = spark.read.parquet(out)
      .agg(sum("event_id")).collect()(0).getLong(0)

    val (before, after) = Sinks.compactParquet(spark, out, rowsBefore / 2 + 1)
    assert(before >= 60, s"expected ~64 small files, saw $before")
    assert(after <= 2, s"expected <= 2 compacted files, saw $after")
    val compacted = spark.read.parquet(out)
    assert(compacted.count() == rowsBefore)
    assert(compacted.agg(sum("event_id")).collect()(0).getLong(0) == sumBefore)
  }

  test("joins between same-bucketed tables run without a shuffle exchange") {
    val o = graft.Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Sinks.writeBucketed(o, "b_orders", "o_orderkey", 8)
    Sinks.writeBucketed(l, "b_lineitem", "o_orderkey", 8)

    // at test scale the planner would broadcast (and skip bucketed scans);
    // disable to demonstrate the co-located sort-merge join bucketing buys
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
      assert(plan.contains("Bucketed: true"))
      assert(joined.count() > 0)

      // sanity: the same join on plain (unbucketed) frames must shuffle
      val plain = o.join(l, "o_orderkey")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
