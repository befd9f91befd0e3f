package graft.queries

import graft.Tables
import graft.operators.DailyRevenue
import graft.normalize.Drift
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of operator coverage: source/sink round-trips (S1/S2/S3/S6),
  * string-function surface (§2.7), the SQL entry point (A6), window
  * analytics, and TPC-H-style headline aggregates used as bench anchors.
  *
  * Float-determinism doctrine (learned the hard way):
  *  - sums of 2-decimal data rounded to 2 decimals are safe under any
  *    fold order (accumulated ulp error << the distance to a midpoint);
  *  - sums of >=4-decimal products (price*discount) must be summed as
  *    integer-scaled longs, then divided — never re-rounded coarser.
  */
object Extended {

  type Q = (SparkSession, String) => DataFrame

  // ---- S1/S2/S6: JSONL round-trip with corrupt-line skip ----
  def s1JsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    // collision-free shared-FS scratch, memoized per (session, dataset):
    // concurrent sessions never interleave files, and re-runs (bench
    // min-of-3) overwrite one dir instead of accumulating copies
    val tmp = graft.Scratch.dirFor(s,
      s"graft_rt_json_${d.replaceAll("[^0-9a-zA-Z.]", "_")}_")
    val ev = Tables.events(s, d).select(
      col("event_id"), col("event_type"), col("value"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("event_time"))
    ev.select(to_json(struct(col("*"))).as("line"))
      .write.mode("overwrite").text(tmp)
    // append corrupt + id-less lines that the reader must skip
    import s.implicits._
    Seq("{corrupt json", """{"event_type":"noise"}""", "")
      .toDF("line").write.mode("append").text(tmp)
    val schema = "event_id LONG, event_type STRING, value DOUBLE, event_time STRING"
    s.read.schema(schema).json(tmp)
      .filter(col("event_id").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (DailyRevenue.sumMoney(col("value"), 10000L)).as("sum_value"),
        max(Drift.parseTimestampMulti(col("event_time")).cast("date")).as("max_date"))
      .orderBy("event_type")
  }

  val s1JsonRoundtripSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) / 10000.0
      |         AS sum_value,
      |       max(CAST(strftime(ts, '%Y-%m-%dT%H:%M:%S')::TIMESTAMP AS DATE)) AS max_date
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- S3/S6: CSV sink + scan round-trip ----
  def s3CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.Scratch.dirFor(s,
      s"graft_rt_csv_${d.replaceAll("[^0-9a-zA-Z.]", "_")}_")
    Tables.customer(s, d).write.mode("overwrite").option("header", "true").csv(tmp)
    s.read.option("header", "true")
      .schema("c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .csv(tmp)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 4).as("avg_bal"))
      .orderBy("c_mktsegment")
  }

  val s3CsvRoundtripSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       round(avg(c_acctbal), 4) AS avg_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- P2/§2.7: string-function surface ----
  def p2StringFns(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
        col("c_custkey"),
        format_string("CUST-%07d", col("c_custkey")).as("cust_code"),
        upper(col("c_mktsegment")).as("seg_upper"),
        // concat, not concat_ws: the oracle's `||` propagates NULL, while
        // concat_ws silently drops null args — different joined value on
        // any null c_mktsegment/c_name
        concat(col("c_mktsegment"), lit("|"), col("c_name")).as("joined"),
        length(trim(col("c_name"))).cast("long").as("name_len"),
        substring(col("c_name"), 1, 8).as("name_prefix"))
      .orderBy("c_custkey")

  val p2StringFnsSql: String =
    """SELECT c_custkey,
      |       printf('CUST-%07d', c_custkey) AS cust_code,
      |       upper(c_mktsegment) AS seg_upper,
      |       c_mktsegment || '|' || c_name AS joined,
      |       CAST(len(trim(c_name)) AS BIGINT) AS name_len,
      |       substr(c_name, 1, 8) AS name_prefix
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- P6/P13: numeric coercion with defaults + constant columns ----
  def p6Defaults(s: SparkSession, d: String): DataFrame =
    // json_tuple parses `props` ONCE for both keys (two get_json_object
    // calls would run the JSON parser twice per row — measured 1.7 s →
    // 0.3 s at sf0.1 together with spreading the single-file scan)
    graft.Par.spread(Tables.events(s, d)
        .select(col("event_type"), col("props")))
      .select(col("event_type"),
        json_tuple(col("props"), "missing", "k").as(Seq("missing_raw", "k_raw")))
      .select(
        Drift.toDoubleOrZero(col("missing_raw")).as("missing_k"),
        Drift.toDoubleOrZero(col("k_raw")).as("k"),
        coalesce(col("event_type"), lit("unknown")).as("etype"),
        lit("live_stream").as("source"))
      .groupBy("etype", "source")
      .agg(count(lit(1)).as("n"),
        round(sum("k"), 2).as("sum_k"),       // integers: exact under any fold
        round(sum("missing_k"), 2).as("sum_missing"))
      .orderBy("etype")

  val p6DefaultsSql: String =
    """SELECT coalesce(event_type, 'unknown') AS etype, 'live_stream' AS source,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(sum(coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE), 0.0)), 2) AS sum_k,
      |       round(sum(coalesce(TRY_CAST(json_extract_string(props, '$.missing') AS DOUBLE), 0.0)), 2) AS sum_missing
      |FROM events GROUP BY 1, 2 ORDER BY etype""".stripMargin

  // ---- A6: the SQL entry point (spark.sql over registered views) ----
  def a6SqlApi(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("v_orders")
    s.sql(
      """SELECT CAST(o_orderdate AS DATE) AS order_date,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM v_orders
        |GROUP BY 1 ORDER BY order_date""".stripMargin)
  }

  val a6SqlApiSql: String =
    """SELECT CAST(o_orderdate AS DATE) AS order_date,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders GROUP BY 1 ORDER BY order_date""".stripMargin

  // ---- W1: general window analytics (running count, lag) ----
  def w1WindowRunning(s: SparkSession, d: String): DataFrame = {
    // asc_nulls_last: DuckDB's WINDOW ORDER BY ts sorts nulls last,
    // Spark's bare asc sorts them first — a null-ts row would head the
    // partition here and shift every rn/lag/running sum vs the oracle
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc_nulls_last, col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id") < 20)
      .select(
        col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rn"),
        lag("value", 1).over(w).as("prev_value"),
        round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .as("running_value"))
      .orderBy("user_id", "rn")
  }

  val w1WindowRunningSql: String =
    """SELECT user_id, event_id,
      |       CAST(row_number() OVER w AS BIGINT) AS rn,
      |       lag(value, 1) OVER w AS prev_value,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING), 2) AS running_value
      |FROM events WHERE user_id < 20
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, rn""".stripMargin

  // ---- TPC-H Q1-style pricing summary (bench anchor) ----
  def tpchQ1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        DailyRevenue.sumMoney(
          col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
          .as("sum_disc_price"),
        DailyRevenue.sumMoney(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 1000000L).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val tpchQ1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS sum_disc_price,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- TPC-H Q6-style revenue-change scan (bench anchor) ----
  // pure scan → pushed filters → global agg: the raw scan-throughput
  // anchor (no joins, no windows); all three predicates reach the
  // parquet reader and the sum is one integer-scaled scalar.
  def tpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(DailyRevenue.sumMoney(col("l_extendedprice") * col("l_discount"), 1000000L)
        .as("revenue"),
        count(lit(1)).as("n_rows"))

  val tpchQ6Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  // ---- TPC-H Q3-style shipping-priority top-k (bench anchor) ----
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1995-01-01"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("order_date"))
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  val tpchQ3Sql: String =
    """SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
      |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1995-01-01 00:00:00'
      |GROUP BY l.l_orderkey, order_date
      |ORDER BY revenue DESC, l.l_orderkey LIMIT 10""".stripMargin

  // ---- S7: managed-table DDL + truncate-load + read-back ----
  def s7TableRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tbl = "graft_nation_" + d.replaceAll("[^0-9a-zA-Z]", "_")
    // a fresh session has an empty in-memory catalog, but the managed
    // location on disk survives earlier sessions — drop both or the
    // overwrite fails with LOCATION_ALREADY_EXISTS on re-runs
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir") + s"/$tbl")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    Tables.nation(s, d).write.mode("overwrite").saveAsTable(tbl)
    s.table(tbl)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"),
        min("n_name").as("first_name"))
      .orderBy("n_regionkey")
  }

  val s7TableRoundtripSql: String =
    """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations,
      |       min(n_name) AS first_name
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  // ---- S9: ORC sink + scan round-trip ----
  def s9OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = graft.Scratch.dirFor(s,
      s"graft_rt_orc_${d.replaceAll("[^0-9a-zA-Z.]", "_")}_")
    Tables.supplier(s, d).write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("total_bal"))
      .orderBy("s_nationkey")
  }

  val s9OrcRoundtripSql: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(s_acctbal), 2) AS total_bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  // ---- A8: exact interpolated percentiles ----
  def a8Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      // both quantiles from ONE percentile buffer (the exact-percentile
      // aggregate materializes every group value — two separate calls
      // would build that per-group collection twice)
      .agg(
        expr("percentile(o_totalprice, array(0.5, 0.9))").as("pct"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"),
        round(element_at(col("pct"), 1), 4).as("median_price"),
        round(element_at(col("pct"), 2), 4).as("p90_price"),
        col("n"))
      .orderBy("o_orderstatus")

  val a8PercentilesSql: String =
    """SELECT o_orderstatus,
      |       round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
      |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- A7: rollup (multi-grain aggregate in one pass) ----
  def a7Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  val a7RollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // ---- O6: intersect / except set operations ----
  def o6SetOps(s: SparkSession, d: String): DataFrame = {
    val buyers = Tables.orders(s, d).select(col("o_custkey").as("custkey")).distinct()
    val bigSpenders = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("custkey")).distinct()
    val both = buyers.intersect(bigSpenders)
    val onlySmall = buyers.except(bigSpenders)
    both.withColumn("bucket", lit("big"))
      .unionByName(onlySmall.withColumn("bucket", lit("small_only")))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  val o6SetOpsSql: String =
    """WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
      |     big AS (SELECT DISTINCT o_custkey AS custkey FROM orders
      |             WHERE o_totalprice > 300000),
      |     labeled AS (
      |       SELECT custkey, 'big' AS bucket FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM big)
      |       UNION ALL
      |       SELECT custkey, 'small_only' AS bucket FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM big)
      |     )
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM labeled
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- keyed as-of join (operator Spark lacks; DuckDB has it natively) ----
  // for each click, the latest purchase by the same user at or before the
  // click's timestamp — union-window formulation, one shuffle, no join
  // amplification (see operators/AsOf).
  def evAsof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), col("ts").as("ref_ts"))
      .agg(max("value").as("ref_value")) // unique per (user, ts): AsOf contract
    val clicks = ev
      .filter(col("event_type") === "click"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOf.joinAsOf(clicks, purchases, "user_id", "ts", "ref_ts",
        Seq("ref_ts", "ref_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  val evAsofSql: String =
    """WITH p AS (
      |  SELECT user_id, ts AS ref_ts, max(value) AS ref_value
      |  FROM events
      |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
      |)
      |SELECT c.user_id, c.ts, c.event_id, c.value, p.ref_ts, p.ref_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ref_ts <= c.ts
      |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin

  // ---- forward as-of: next purchase at or after each click ----
  // the "time-to-next-event" attribution shape; same one-shuffle
  // union-window operator traversed in reverse (see operators/AsOf)
  def evAsofFwd(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev
      .filter(col("event_type") === "purchase"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("user_id"), col("ts").as("ref_ts"))
      .agg(max("value").as("ref_value"))
    val clicks = ev
      .filter(col("event_type") === "click"
        && col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    graft.operators.AsOf.joinAsOfForward(clicks, purchases, "user_id", "ts",
        "ref_ts", Seq("ref_ts", "ref_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  val evAsofFwdSql: String =
    """WITH p AS (
      |  SELECT user_id, ts AS ref_ts, max(value) AS ref_value
      |  FROM events
      |  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1, 2
      |), c AS (
      |  SELECT user_id, ts, event_id, value FROM events
      |  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
      |)
      |SELECT c.user_id, c.ts, c.event_id, c.value, p.ref_ts, p.ref_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND p.ref_ts >= c.ts
      |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin

  // ---- batch sessionization (30-min gap) ----
  // the batch analogue of streaming session_window: a new session starts
  // where the gap to the previous event of the same user exceeds the
  // threshold; session id = cumulative count of session starts. Two
  // window passes over ONE shuffle-by-user (both windows share the
  // partitioning and sort).
  def evSessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull
          || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"), max("ts").as("session_end"))
      .orderBy("user_id", "session_id")
  }

  val evSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g
      |)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       min(ts) AS session_start, max(ts) AS session_end
      |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin

  // ---- top user journeys (first 3 events per session) ----
  // The Sankey/funnel-discovery input: sessionize (same 30-min-gap logic
  // as ev_sessionize, same ONE shuffle by user), take each session's
  // first ≤3 event types in time order as a path string, count sessions
  // per path, global top-20. The path agg runs over session-count rows;
  // the top-20 is a TakeOrdered heap, never a global sort. Deterministic
  // rank-20 cut: (count desc, path asc) is a total order.
  def evPathTopk(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull
          || unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess
      .groupBy("user_id", "session_id")
      // struct-sorted collect_list (the a13_listagg idiom): order-
      // independent under any partitioning, so the path is deterministic
      .agg(slice(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))), 1, 3).as("f3"))
      .select(array_join(transform(col("f3"),
        x => x("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val evPathTopkSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
      |           ORDER BY ts, event_id) AS rn
      |  FROM s
      |), p AS (
      |  SELECT user_id, session_id,
      |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM r WHERE rn <= 3 GROUP BY 1, 2
      |)
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  // ---- interval-overlap self-join: concurrent sessions across users ----
  // "Who is online together": session pairs from DIFFERENT users whose
  // [start, end] intervals overlap (inclusive), aggregated per user pair
  // with the total co-online microseconds. Overlap is NOT a bounded
  // difference (sessions have no length cap), so the
  // RewriteBoundedIntervalJoin band trick doesn't apply; the scale-safe
  // decomposition is time-bucketing: each session explodes into its
  // covered hour bins (fan-out = ceil(duration/hour)+1, bounded by the
  // activity span, not the corpus), the bin joins as an equi-key, and
  // the SINGLE-ATTRIBUTION conjunct — the shared bin must be the one
  // containing max(start_a, start_b), a bin both sides cover whenever
  // they truly overlap — makes every overlapping pair match in EXACTLY
  // one bin, so no distinct is needed before the count. Per-bin fan-out
  // is output-bound: every candidate is a same-hour session pair, which
  // is the relation being counted — at 100 TB concurrency scale the
  // right guard is a coarser report grain or a user prefilter, the same
  // caveat doctrine as the pair-emitting dedups. Microsecond arithmetic
  // stays in BIGINT on both engines (unix_micros / epoch_us) — no
  // interval types, no division.
  // Collapse-first (the R97 dd_minhash_lsh doctrine, exact not
  // approximate): users with IDENTICAL session-interval multisets share
  // every pairwise statistic, so they collapse to one representative via
  // a timeline fingerprint before the quadratic work. Cross-timeline
  // stats compute ONCE per fingerprint pair over representative sessions
  // (a_fp == b_fp keeps ALL ordered session combos — exactly the pair
  // set two distinct users with the same timeline generate); user pairs
  // re-expand through group membership, output-sized. On real data the
  // groups are singletons and the overhead is one fingerprint groupBy;
  // on replica-flooded data (ScaleUp shifts user ids, K copies of every
  // timeline) the candidate join stays at BASE width while the naive
  // formulation grows K² in candidates.
  //
  // FULL-RELATION caveat: the complete pairwise report is itself
  // quadratic in concurrent users — at the ladder's 100× it is ~1.4 G
  // genuine output rows; no rewrite outruns its own output. This helper
  // is therefore the COHORT-SCALE surface (run it on a filtered user
  // population); the shipped `ev_overlap` query reports the bounded
  // top-k leaderboard below.
  def evOverlapPairs(s: SparkSession, d: String): DataFrame = {
    val (stats, users) = ovlStats(s, d)
    ovlExpand(stats, users).orderBy("user_a", "user_b")
  }

  /** The shipped co-online query: the TOP-100 user pairs by total
    * overlap time. Bounded output at any concurrency: the kth-largest
    * group-pair overlap (one TakeOrdered over the collapsed stats, ties
    * kept via >= threshold) prunes the expansion to the groups that can
    * still reach the leaderboard — every user pair inherits its group
    * pair's overlap_us, so a group pair below the threshold cannot place.
    * Final cut is a TakeOrdered heap under the total order
    * (overlap_us desc, user_a, user_b).
    */
  def evOverlap(s: SparkSession, d: String): DataFrame = {
    val (stats, users) = ovlStats(s, d)
    // only stats rows that can YIELD a user pair may enter the
    // threshold: a same-fp row needs ≥ 2 users in its group (on
    // singleton-group data the self rows carry the LARGEST overlaps —
    // every timeline fully overlaps itself — and an unfiltered
    // threshold would be set entirely by rows that expand to nothing)
    val sizes = users.groupBy("fp").agg(count(lit(1)).as("gn"))
    val yielding = stats
      .join(sizes.select(col("fp").as("a_fp"), col("gn")), "a_fp")
      .filter(col("a_fp") =!= col("b_fp") || col("gn") >= 2)
      .drop("gn")
    val kth = yielding.orderBy(col("overlap_us").desc).limit(100)
      .agg(min("overlap_us").as("thr"))
    val topStats = yielding.crossJoin(broadcast(kth))
      .filter(col("overlap_us") >= col("thr"))
      .drop("thr")
    ovlExpand(topStats, users)
      .orderBy(col("overlap_us").desc, col("user_a"), col("user_b"))
      .limit(100)
  }

  /** Collapsed overlap statistics: one row per fingerprint pair
    * (a_fp <= b_fp) with the ordered-combo count and total overlap, plus
    * the (user, fp) membership table. See [[evOverlapPairs]]'s scaladoc.
    */
  private def ovlStats(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val HourUs = 3600L * 1000000L
    val dg = graft.Scratch.digest(d)
    // Three staged artifacts (Scratch.stagedFrame, the Copurchase
    // idiom), because Spark reuses exchanges, not arbitrary subtrees —
    // left inline, the fingerprint distinct and rep-session derivation
    // re-evaluate once per consuming branch (measured: the whole plan
    // re-ran the 2.9 M-row distinct ~6× at sf3, 26 s of a 31 s query).
    // sessFp (the big one) is read only while BUILDING the two
    // downstream artifacts; recurring runs touch just `users` (one row
    // per user) and `repSess` (base-width rep sessions — constant in
    // the replication factor).
    val sessFp = graft.Scratch.stagedFrame(s, s"graft_ovl_sess_$dg") {
      val sess = evSessionize(s, d)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("s_us"),
          unix_micros(col("session_end")).as("e_us"))
      val fps = sess.groupBy("user_id")
        .agg(md5(concat_ws(";", array_sort(collect_list(
          concat_ws(":", col("s_us"), col("e_us")))))).as("fp"))
      sess.join(fps, "user_id") // co-partitioned by user after the window
    }
    val users = graft.Scratch.stagedFrame(s, s"graft_ovl_users_$dg")(
      sessFp.select("user_id", "fp").distinct())
    val repSess = graft.Scratch.stagedFrame(s, s"graft_ovl_reps_$dg") {
      val groups = users.groupBy("fp").agg(min("user_id").as("rep"))
      sessFp
        .join(groups.select(col("rep").as("user_id"), col("fp").as("g_fp")),
          "user_id")
        .select(col("g_fp").as("fp"), col("s_us"), col("e_us"))
    }
    def side(p: String) = repSess.select(
      col("fp").as(s"${p}_fp"), col("s_us").as(s"${p}_s"),
      col("e_us").as(s"${p}_e"))
      .withColumn("bin", explode(sequence(
        expr(s"${p}_s div ${HourUs}L"), expr(s"${p}_e div ${HourUs}L"))))
    val stats = side("a").join(side("b"), Seq("bin"))
      .filter(col("a_fp") <= col("b_fp")
        && col("a_s") <= col("b_e") && col("b_s") <= col("a_e")
        && expr(s"greatest(a_s, b_s) div ${HourUs}L") === col("bin"))
      .groupBy("a_fp", "b_fp")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_us"))
    (stats, users)
  }

  /** ONE expansion branch for both cross- and same-fp stats rows: every
    * (u ∈ A, v ∈ B) combo appears exactly once (canonicalized by
    * least/greatest for A ≠ B; u < v restricts same-fp combos to the
    * unordered user pairs) — a cross/self unionByName here would
    * re-evaluate the stats subtree once per branch.
    */
  private def ovlExpand(stats: DataFrame, users: DataFrame): DataFrame = {
    val ua = users.select(col("fp").as("a_fp"), col("user_id").as("u"))
    val ub = users.select(col("fp").as("b_fp"), col("user_id").as("v"))
    stats.join(ua, "a_fp").join(ub, "b_fp")
      .filter(col("a_fp") =!= col("b_fp") || col("u") < col("v"))
      .select(least(col("u"), col("v")).as("user_a"),
        greatest(col("u"), col("v")).as("user_b"),
        col("n_overlaps"), col("overlap_us"))
  }

  // ---- peak concurrency: the LINEAR concurrency metric ----
  // ev_overlap's pairwise output is inherently quadratic in concurrent
  // users; when the question is "how loaded is the system", the
  // sweep-line answer is linear: +1/−1 boundary events, running sum,
  // max per day. Inclusive interval ends ⇒ at equal instants starts
  // process before ends (ORDER BY t, delta DESC — ambiguity among equal
  // (t, delta) rows cannot affect any prefix maximum, so the result is
  // deterministic). The running sum is decomposed scalably: a per-DAY
  // partitioned window does the local prefix work, and each day's
  // carry-in is the running total of prior days' delta sums — a window
  // over day-count rows, never a single-partition pass over the
  // boundary stream. peak(day) = carry + max(local run) because the
  // carry is constant within a day.
  def evConcurrency(s: SparkSession, d: String): DataFrame = {
    val DayUs = 86400L * 1000000L
    val sess = evSessionize(s, d)
      .select(unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"))
    val bounds = sess.select(col("s_us").as("t"), lit(1L).as("delta"))
      .unionByName(sess.select(col("e_us").as("t"), lit(-1L).as("delta")))
      .withColumn("day", expr(s"t div ${DayUs}L"))
    val carry = bounds.groupBy("day").agg(sum("delta").as("dtot"))
      // unpartitioned window over the per-DAY aggregate (one row per
      // calendar day) — bounded by design
      .withColumn("carry", coalesce(
        sum("dtot").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("day", "carry")
    val wDay = Window.partitionBy("day").orderBy(col("t"), col("delta").desc)
    bounds
      .withColumn("run", sum("delta").over(
        wDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("day").agg(max("run").as("local_max"))
      .join(carry, "day")
      // the day index IS days-since-epoch: plain date arithmetic renders
      // it without timestamp-constructor functions (version-churn armor)
      .select(date_add(lit("1970-01-01").cast("date"), col("day").cast("int"))
          .as("day"),
        (col("carry") + col("local_max")).as("peak_concurrency"))
      .orderBy("day")
  }

  // the oracle runs the plain global sweep (fine at oracle scale); the
  // carry decomposition is algebraically the same prefix sum
  val evConcurrencySql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), r AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_id,
      |         epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
      |  FROM r GROUP BY 1, 2
      |), b AS (
      |  SELECT s_us AS t, 1 AS delta FROM sess
      |  UNION ALL
      |  SELECT e_us, -1 FROM sess
      |), sweep AS (
      |  SELECT t, CAST((t - mod(t, 86400000000)) / 86400000000 AS BIGINT) AS day,
      |         sum(delta) OVER (ORDER BY t, delta DESC
      |           ROWS UNBOUNDED PRECEDING) AS run
      |  FROM b
      |)
      |SELECT DATE '1970-01-01' + CAST(day AS INTEGER) AS day,
      |       CAST(max(run) AS BIGINT) AS peak_concurrency
      |FROM sweep GROUP BY day ORDER BY day""".stripMargin

  // the oracle states the definition directly as a non-equi self-join
  // over the sessionize CTE (DuckDB's IEJoin handles it at oracle scale)
  val evOverlapSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |               OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), r AS (
      |  SELECT user_id, ts,
      |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g
      |), sess AS (
      |  SELECT user_id, session_id,
      |         min(ts) AS session_start, max(ts) AS session_end
      |  FROM r GROUP BY 1, 2
      |)
      |SELECT a.user_id AS user_a, b.user_id AS user_b,
      |       CAST(count(*) AS BIGINT) AS n_overlaps,
      |       CAST(sum(epoch_us(least(a.session_end, b.session_end))
      |              - epoch_us(greatest(a.session_start, b.session_start)))
      |            AS BIGINT) AS overlap_us
      |FROM sess a JOIN sess b
      |  ON a.user_id < b.user_id
      | AND a.session_start <= b.session_end
      | AND b.session_start <= a.session_end
      |GROUP BY 1, 2
      |ORDER BY overlap_us DESC, user_a, user_b
      |LIMIT 100""".stripMargin

  // ---- TPC-H Q5-style regional revenue (5-table join bench anchor) ----
  // the join tree the optimizer should produce at scale: region→nation→
  // supplier collapse to one broadcast dim; lineitem⋈orders⋈customer is
  // the only big shuffle; revenue via integer-scaled money sum.
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val tpchQ5Sql: String =
    """SELECT n_name,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // ---- salted two-phase aggregation (skew mitigation, oracle-proven) ----
  // result must be IDENTICAL to the plain aggregate — summed values are
  // longs, so the two-phase fold order cannot change anything; the oracle
  // is the plain SQL aggregate.
  def a9SaltedAgg(s: SparkSession, d: String): DataFrame =
    graft.operators.Salt.saltedSumCount(
        Tables.lineitem(s, d).withColumn("q", col("l_quantity").cast("long")),
        "l_suppkey", col("q"), saltFrom = col("l_orderkey"), saltBuckets = 8)
      .orderBy("l_suppkey")

  val a9SaltedAggSql: String =
    """SELECT l_suppkey,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS "sum",
      |       CAST(count(*) AS BIGINT) AS "count"
      |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // ---- P16: pivot (wide-format reshaping) ----
  // groupBy().pivot(values).agg() with the value set declared up front —
  // Catalyst rewrites it to one pass of conditional aggregates, no second
  // distinct-scan and no row explosion; the DuckDB mirror is the same
  // conditional-aggregate form. Money pivots sum as integer-scaled longs.
  def p16Pivot(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(DailyRevenue.sumMoney(col("o_totalprice"), 100L))
      .na.fill(0.0, Seq("F", "O", "P"))
      .withColumnRenamed("F", "rev_f").withColumnRenamed("O", "rev_o")
      .withColumnRenamed("P", "rev_p")
      .orderBy("o_orderpriority")

  val p16PivotSql: String =
    """SELECT o_orderpriority,
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) / 100.0 AS rev_f,
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) / 100.0 AS rev_o,
      |  CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT) / 100.0 AS rev_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- W2: wider window-function surface (lead/lag/ntile/percent_rank/
  // cume_dist over one shuffle-by-custkey) ----
  def w2WindowSuite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"),
        lag("o_orderkey", 1).over(w).as("prev_order"),
        lead("o_orderkey", 1).over(w).as("next_order"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val w2WindowSuiteSql: String =
    """SELECT o_custkey, o_orderkey,
      |       lag(o_orderkey) OVER w AS prev_order,
      |       lead(o_orderkey) OVER w AS next_order,
      |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |       round(percent_rank() OVER w, 6) AS pct_rank,
      |       round(cume_dist() OVER w, 6) AS cume
      |FROM orders WHERE o_custkey <= 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---- P18: unpivot (wide → long), the inverse of P16 ----
  // `stack` is the codegen-friendly wide-to-long generator: each input
  // row emits one row per measure with zero shuffle — the melt step
  // feature pipelines run before per-measure aggregation. Revenue cents
  // stay integers until the final presentation divide.
  def p18Unpivot(s: SparkSession, d: String): DataFrame =
    p16Pivot(s, d)
      .select(col("o_orderpriority"),
        expr("stack(3, 'F', rev_f, 'O', rev_o, 'P', rev_p)")
          .as(Seq("status", "revenue")))
      .filter(col("revenue") > 0)
      .orderBy("o_orderpriority", "status")

  val p18UnpivotSql: String =
    """WITH wide AS (
      |  SELECT o_orderpriority, o_orderstatus AS status,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           / 100.0 AS revenue
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_orderpriority, status, revenue FROM wide
      |WHERE revenue > 0 ORDER BY o_orderpriority, status""".stripMargin

  // ---- A13: ordered string aggregation (listagg) ----
  // Deterministic cross-engine listagg: Spark's collect_list has no
  // intra-group order guarantee, so the ordered-CSV contract is
  // sort_array over (sortkey, value) structs BEFORE the join — the
  // struct sort is total, so the string is bit-identical to DuckDB's
  // string_agg(... ORDER BY). Bounded: top-3 per nation via the
  // WindowGroupLimit-covered rank filter, never an unbounded group blob.
  def a13Listagg(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(desc("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy("c_nationkey")
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("rk"), col("c_custkey")))),
          e => e("c_custkey").cast("string")), ",").as("top_custkeys"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  val a13ListaggSql: String =
    """WITH ranked AS (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |         row_number() OVER (PARTITION BY c_nationkey
      |                            ORDER BY c_acctbal DESC, c_custkey) AS rk
      |  FROM customer
      |)
      |SELECT c_nationkey,
      |       string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY rk)
      |         AS top_custkeys,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM ranked WHERE rk <= 3
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "p16_pivot" -> (p16Pivot _),
    "p18_unpivot" -> (p18Unpivot _),
    "a13_listagg" -> (a13Listagg _),
    "w2_window_suite" -> (w2WindowSuite _),
    "tpch_q5" -> (tpchQ5 _),
    "a9_salted_agg" -> (a9SaltedAgg _),
    "ev_sessionize" -> (evSessionize _),
    "ev_overlap" -> (evOverlap _),
    "ev_concurrency" -> (evConcurrency _),
    "ev_path_topk" -> (evPathTopk _),
    "ev_asof" -> (evAsof _),
    "ev_asof_fwd" -> (evAsofFwd _),
    "s9_orc_roundtrip" -> (s9OrcRoundtrip _),
    "a8_percentiles" -> (a8Percentiles _),
    "s7_table_roundtrip" -> (s7TableRoundtrip _),
    "a7_rollup" -> (a7Rollup _),
    "o6_setops" -> (o6SetOps _),
    "s1_json_roundtrip" -> (s1JsonRoundtrip _),
    "s3_csv_roundtrip" -> (s3CsvRoundtrip _),
    "p2_string_fns" -> (p2StringFns _),
    "p6_defaults" -> (p6Defaults _),
    "a6_sql_api" -> (a6SqlApi _),
    "w1_window_running" -> (w1WindowRunning _),
    "tpch_q1" -> (tpchQ1 _),
    "tpch_q3" -> (tpchQ3 _),
    "tpch_q6" -> (tpchQ6 _)
  )

  val oracles: Map[String, String] = Map(
    "p16_pivot" -> p16PivotSql,
    "p18_unpivot" -> p18UnpivotSql,
    "a13_listagg" -> a13ListaggSql,
    "w2_window_suite" -> w2WindowSuiteSql,
    "tpch_q5" -> tpchQ5Sql,
    "a9_salted_agg" -> a9SaltedAggSql,
    "ev_sessionize" -> evSessionizeSql,
    "ev_overlap" -> evOverlapSql,
    "ev_concurrency" -> evConcurrencySql,
    "ev_path_topk" -> evPathTopkSql,
    "ev_asof" -> evAsofSql,
    "ev_asof_fwd" -> evAsofFwdSql,
    "s9_orc_roundtrip" -> s9OrcRoundtripSql,
    "a8_percentiles" -> a8PercentilesSql,
    "s7_table_roundtrip" -> s7TableRoundtripSql,
    "a7_rollup" -> a7RollupSql,
    "o6_setops" -> o6SetOpsSql,
    "s1_json_roundtrip" -> s1JsonRoundtripSql,
    "s3_csv_roundtrip" -> s3CsvRoundtripSql,
    "p2_string_fns" -> p2StringFnsSql,
    "p6_defaults" -> p6DefaultsSql,
    "a6_sql_api" -> a6SqlApiSql,
    "w1_window_running" -> w1WindowRunningSql,
    "tpch_q1" -> tpchQ1Sql,
    "tpch_q3" -> tpchQ3Sql,
    "tpch_q6" -> tpchQ6Sql
  )
}
