package graft.queries

import graft.Tables
import graft.operators.DailyRevenue
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Warehouse-analytics coverage beyond the reference's own query set:
  * outer-join surfaces, multi-grain CUBE rollups, TPC-H Q4/Q13-shaped
  * subquery patterns, cohort/funnel/retention product analytics, exact
  * integer-algebra outlier detection, date-spine gap-fill with LOCF,
  * SCD-2 run collapsing, and a document-term-matrix builder for the
  * text-pipeline family.
  *
  * Parity doctrine throughout (see MEMORY oracle-parity-doctrine): money
  * sums integer-scaled, counts CAST to BIGINT in the oracle, identical
  * column names, explicit total ORDER BY, timestamps compared at the µs
  * truncation both engines share.
  */
object Analytics {

  type Q = (SparkSession, String) => DataFrame

  // ---- J5: full outer join (daily order grain vs daily event grain) ----
  // The two calendars barely overlap (TPC-H order years vs the 2024-01
  // event month), so both null sides are genuinely exercised. A `using`
  // join coalesces the day key; per-side aggregates are tiny relative to
  // their inputs, so the join itself is a few-thousand-row shuffle at any
  // scale — the heavy lifting stays in the two partial aggregations.
  def j5FullOuter(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("order_cnt"),
        DailyRevenue.sumMoney(col("o_totalprice"), 100L).as("order_gross"))
    val e = Tables.events(s, d)
      .filter(col("ts").isNotNull)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("event_cnt"))
    o.join(e, Seq("day"), "full_outer")
      .select(col("day"), col("order_cnt"), col("order_gross"), col("event_cnt"))
      .orderBy("day")
  }

  val j5FullOuterSql: String =
    """WITH o AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS order_cnt,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |           AS order_gross
      |  FROM orders GROUP BY 1
      |), e AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS event_cnt
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1
      |)
      |SELECT day, order_cnt, order_gross, event_cnt
      |FROM o FULL OUTER JOIN e USING (day)
      |ORDER BY day""".stripMargin

  // ---- A10: CUBE over (priority, status) with grouping flags ----
  // All four grains in one pass (map-side partial agg expands the
  // grouping sets, one shuffle). Grouping-null keys are projected to the
  // literal 'ALL' so the output carries no NULL sort keys — Spark orders
  // NULLS FIRST where DuckDB orders NULLS LAST, so leaving them raw would
  // hash-mismatch on row order alone.
  def a10Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        DailyRevenue.sumMoney(col("o_totalprice"), 100L).as("gross"),
        grouping(col("o_orderpriority")).cast("long").as("g_pri"),
        grouping(col("o_orderstatus")).cast("long").as("g_st"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("g_pri"), col("g_st"), col("n_orders"), col("gross"))
      .orderBy("g_pri", "g_st", "priority", "status")

  val a10CubeSql: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      |       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |         AS gross
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY g_pri, g_st, priority, status""".stripMargin

  // ---- TPC-H Q4 shape: EXISTS-correlated semi-join ----
  // Orders in one quarter having at least one line shipped >60 days after
  // the order date, counted by priority. left_semi keeps the probe side
  // unduplicated (no distinct needed) and only the date-filtered quarter
  // of orders enters the join — at scale the orders filter prunes
  // partitions before the shuffle.
  def tpchQ4(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
    val l = Tables.lineitem(s, d)
    o.join(l,
        o("o_orderkey") === l("l_orderkey")
          && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val tpchQ4Sql: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- TPC-H Q13 shape: outer-join distribution ----
  // How many customers placed k orders (excluding one priority class):
  // customer LEFT JOIN filtered orders, per-customer count (nulls -> 0
  // via count(column)), then the distribution over those counts. Two
  // shuffles, both on compact keys; the second input is |customers| rows.
  def tpchQ13(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
    Tables.customer(s, d)
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  val tpchQ13Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---- EV: weekly cohort retention ----
  // Users bucketed by first-seen ISO week, activity counted per (cohort
  // week, active week). The first-seen dim is |users| rows — broadcast;
  // the fact side shuffles once for the final distinct-count. Both
  // engines truncate weeks to the ISO Monday.
  def evCohort(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val firstSeen = ev.groupBy("user_id")
      .agg(date_trunc("week", min("ts")).cast("date").as("cohort_week"))
    ev.select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("active_week"))
      .join(broadcast(firstSeen), "user_id")
      .groupBy("cohort_week", "active_week")
      .agg(countDistinct("user_id").as("active_users"))
      .orderBy("cohort_week", "active_week")
  }

  val evCohortSql: String =
    """WITH ev AS (
      |  SELECT user_id, ts FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |), first_seen AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM ev GROUP BY user_id
      |)
      |SELECT f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE) AS active_week,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
      |FROM ev e JOIN first_seen f ON e.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY cohort_week, active_week""".stripMargin

  // ---- EV: strictly-ordered funnel (view -> click -> purchase) ----
  // Stage timestamps are per-user minima of each event type; a stage
  // counts only if it happens strictly after the previous stage's first
  // occurrence. One shuffle (the per-user agg), then a single-row global
  // rollup. µs-truncated timestamps make the strict inequalities
  // bit-identical across engines.
  def evFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val stages = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("t_view"),
      min(when(col("event_type") === "click", col("ts"))).as("t_click"),
      min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    stages.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
      sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_view_click"),
      sum(when(col("t_click") > col("t_view") && col("t_purchase") > col("t_click"),
        1L).otherwise(0L)).as("n_full_funnel"))
  }

  val evFunnelSql: String =
    """WITH st AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY user_id
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_view,
      |       CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_view_click,
      |       CAST(sum(CASE WHEN t_click > t_view AND t_purchase > t_click
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM st""".stripMargin

  // ---- A11: exact integer-algebra z-score outliers ----
  // Per-priority 3-sigma outlier counts WITHOUT floating point: with
  // price in integer cents, x is an outlier iff (n*x - S)^2 > 9*(n*Q -
  // S^2) where S = sum(x), Q = sum(x^2) — the population z>3 test
  // multiplied out ((x−μ)² > 9σ² with μ = S/n, σ² = (nQ−S²)/n², both
  // sides scaled by n²) so both engines evaluate exact integer
  // arithmetic (Spark decimal(38,0), DuckDB HUGEINT) and the boundary is
  // bit-identical. Group stats are 5 rows -> broadcast back; one shuffle
  // total. (r6: dropped a spurious extra n factor on the RHS that made
  // the effective threshold 3·sqrt(n)·σ — both engines shared the bug so
  // the oracle couldn't see it; advisor caught it by algebra.)
  //
  // Capacity bound: the RHS equals 9·n²·σ² (translation-invariant, so
  // mean-centering cannot shrink it) — with σ ≈ 10^7 cents it exceeds
  // decimal(38,0) around n ≈ 3·10^11 rows per group, the same order at
  // which the per-row LHS (n·x − S)² ~ (nσ)² overflows. Past that, Spark
  // (non-ANSI) would silently null the product and count every row as a
  // non-outlier while DuckDB raises on HUGEINT overflow — a silent
  // divergence. The coalesce(·, raise_error) guards turn that into a loud
  // per-engine failure at the same boundary; the documented escape at
  // genuinely larger groups is a per-group double threshold
  // |n·x − S| > 3·sqrt(nQ − S²), exact to within half an ulp.
  def a11Outliers(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(DecimalType(38, 0))
    // the RHS 9(nQ − S²) is per-GROUP, so the overflow guard lives in
    // this 5-row projection — raise_error is CodegenFallback, and putting
    // it in the per-row comparison would drop the fact-side projection
    // out of whole-stage codegen (measured +30% on the query). The
    // per-row LHS (n·x − S)² ~ (nσ)² needs no guard: it reaches 10^38
    // around n ≈ 10^12 rows/group, just past the RHS guard's bound.
    val stats = Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(cents).as("s_sum"),
        sum(cents * cents).as("s_sq"))
      .select(col("o_orderpriority"), col("n"), col("s_sum"),
        coalesce(
          lit(9) * (col("n") * col("s_sq") - col("s_sum") * col("s_sum")),
          raise_error(lit("a11_outliers: decimal(38,0) overflow in 9(nQ - S^2)" +
            " — group too large for the exact integer z-test (~3e11 rows/group)")))
          .as("rhs"))
    val lhsRoot = col("n") * col("cents") - col("s_sum")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), cents.as("cents"))
      .join(broadcast(stats), "o_orderpriority")
      .select(col("o_orderpriority"),
        (lhsRoot * lhsRoot > col("rhs")).as("is_out"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("o_orderpriority")
  }

  val a11OutliersSql: String =
    """WITH c AS (
      |  SELECT o_orderpriority,
      |         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT) AS cents
      |  FROM orders
      |), st AS (
      |  SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
      |         sum(cents) AS s_sum, sum(cents * cents) AS s_sq
      |  FROM c GROUP BY o_orderpriority
      |)
      |SELECT c.o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CASE WHEN (n * cents - s_sum) * (n * cents - s_sum) >
      |                          9 * (n * s_sq - s_sum * s_sum)
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM c JOIN st USING (o_orderpriority)
      |GROUP BY c.o_orderpriority ORDER BY c.o_orderpriority""".stripMargin

  // ---- TS: rolling z-test anomaly days (integer-exact, trailing window) ----
  // The time-series sibling of a11's cross-sectional z-test: flag each
  // day whose revenue departs >3σ from the TRAILING 7 full days (the
  // frame excludes the current row — an anomaly must not dilute the
  // baseline it is judged against). Same exact integer algebra on cents:
  // (n·x − S)² > 9·(n·Q − S²) with n, S, Q from the window — no sqrt,
  // no float variance, so both engines flag the identical day set.
  // (r6: same spurious-n fix as a11 — the old RHS 9·n·(nQ−S²) tested at
  // 3·sqrt(7)·σ ≈ 7.9σ, silently missing moderate anomalies.)
  //
  // Scale shape: the only full-width work is the one groupBy(day) over
  // orders; the window then runs on the DAY SERIES, whose row count is
  // bounded by the calendar (~3.6k rows/decade) no matter how many
  // orders feed it — a global single-partition window over a
  // calendar-bounded frame is fine at any data scale (same argument as
  // the o5 date spine). Overflow: Q sums cents² (~10²⁰ per window at big
  // SF) into decimal(38,0); the rhs guard raises loudly like a11's —
  // here it is per day-row, thousands of rows, so CodegenFallback cost
  // is irrelevant.
  def tsAnomaly(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(DecimalType(38, 0))
    rollingZFlags(
      Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(cents).as("cents")))
  }

  /** The rolling z-test core over a (day, cents decimal(38,0)) series —
    * factored out so specs can drive it with constructed series (planted
    * spikes, constant baselines) independent of the orders derivation.
    */
  def rollingZFlags(daily: DataFrame): DataFrame = {
    // unpartitioned window over the per-DAY series (one row per calendar
    // day; the corpus-sized work happened in the daily aggregation) —
    // the WindowExec "No Partition Defined" warning is bounded by design
    val w = Window.orderBy("day").rowsBetween(-7, -1)
    val lhsRoot = col("n") * col("cents") - col("s_sum")
    daily
      .select(col("day"), col("cents"),
        count(lit(1)).over(w).cast(DecimalType(38, 0)).as("n"),
        sum(col("cents")).over(w).as("s_sum"),
        sum(col("cents") * col("cents")).over(w).as("s_q"))
      .filter(col("n") === 7) // full trailing week only: no cold-start flags
      .select(col("day"), col("cents").cast("long").as("cents"),
        (lhsRoot * lhsRoot >
          coalesce(
            lit(9) * (col("n") * col("s_q") - col("s_sum") * col("s_sum")),
            raise_error(lit("ts_anomaly: decimal(38,0) overflow in 9(nQ - S^2)" +
              " — daily cents too large for the exact integer z-test"))))
          .as("is_anomaly"))
      .orderBy("day")
  }

  val tsAnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |           AS HUGEINT) AS HUGEINT) AS c
      |  FROM orders GROUP BY 1
      |), win AS (
      |  SELECT day, c,
      |         CAST(count(*) OVER w AS HUGEINT) AS n,
      |         sum(c) OVER w AS s_sum,
      |         sum(c * c) OVER w AS s_q
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT day, CAST(c AS BIGINT) AS cents,
      |       (n * c - s_sum) * (n * c - s_sum) >
      |         9 * (n * s_q - s_sum * s_sum) AS is_anomaly
      |FROM win WHERE n = 7 ORDER BY day""".stripMargin

  // ---- TS: date-spine gap fill + last-observation-carried-forward ----
  // One year of per-priority daily gross on a dense spine; missing days
  // inherit the last observed value via an ignore-nulls running last.
  // The spine is a generator cross-joined with the (tiny, broadcast)
  // priority dim; the window runs per priority over one shuffle. Days
  // before a priority's first sale stay NULL — both engines agree.
  def tsLocf(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(DailyRevenue.sumMoney(col("o_totalprice"), 100L).as("gross"))
    val spine = Tables.orders(s, d)
      .select(col("o_orderpriority").as("priority")).distinct()
      .crossJoin(
        spark_sequence_days(s, "1997-01-01", "1997-12-31"))
    val w = Window.partitionBy("priority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("priority", "day"), "left")
      .select(col("priority"), col("day"),
        last(col("gross"), ignoreNulls = true).over(w).as("gross_filled"))
      .orderBy("priority", "day")
  }

  /** Dense day spine as a one-row generator explode — constant bounds so
    * the analogous DuckDB `generate_series` stays literal.
    */
  private def spark_sequence_days(s: SparkSession, from: String, to: String): DataFrame =
    s.range(1).select(explode(sequence(
      lit(from).cast("date"), lit(to).cast("date"),
      expr("INTERVAL 1 DAY"))).as("day"))

  val tsLocfSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |           AS gross
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1, 2
      |), spine AS (
      |  SELECT p.priority, CAST(g.range AS DATE) AS day
      |  FROM (SELECT DISTINCT o_orderpriority AS priority FROM orders) p
      |  CROSS JOIN range(DATE '1997-01-01', DATE '1998-01-01', INTERVAL 1 DAY) g
      |)
      |SELECT s.priority, s.day,
      |       last_value(d.gross IGNORE NULLS) OVER (
      |         PARTITION BY s.priority ORDER BY s.day
      |         ROWS UNBOUNDED PRECEDING) AS gross_filled
      |FROM spine s LEFT JOIN daily d ON s.priority = d.priority AND s.day = d.day
      |ORDER BY s.priority, s.day""".stripMargin

  // ---- SCD2: gaps-and-islands run collapse ----
  // Consecutive same-type event runs per user become one validity row
  // [valid_from, valid_to] — the SCD Type-2 build step. Run boundaries
  // via lag-compare, run ids via running sum, both over ONE shuffle
  // (same partition+order); the final agg reuses that partitioning.
  def scd2Runs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull
          || lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(first("event_type").as("event_type"),
        count(lit(1)).as("n_events"),
        min("ts").as("valid_from"), max("ts").as("valid_to"))
      .orderBy("user_id", "run_id")
  }

  val scd2RunsSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(event_type) OVER w IS NULL
      |               OR lag(event_type) OVER w <> event_type
      |              THEN 1 ELSE 0 END AS chg
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), r AS (
      |  SELECT user_id, ts, event_type,
      |         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS UNBOUNDED PRECEDING) AS run_id
      |  FROM g
      |)
      |SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
      |       min(event_type) AS event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       min(ts) AS valid_from, max(ts) AS valid_to
      |FROM r GROUP BY user_id, run_id ORDER BY user_id, run_id""".stripMargin

  // ---- TXT: document-term matrix (tf/df top terms per doc) ----
  // The tf-idf backbone with the idf log left symbolic (tf and df are
  // exact integers; a float log would be the one non-portable step).
  // tf per (doc, term) and df per term are two aggregations over the
  // same exploded stream; the df floor is CORPUS-RELATIVE — max(5,
  // n_docs/20), integer-exact in both engines — because any fixed band
  // drifts with scale (a [5,200] band was empty at sf0.1). The one-row
  // corpus count broadcasts into the term dim; the per-doc top-3 window
  // runs over the already-filtered (small) matrix.
  // Content-addressed (Content.perContent): tf is per-content (identical
  // texts have identical term counts), df and n_docs are rep counts
  // weighted by the content's replica mass `G` — the same weighted-count
  // move as collapse-first n-gram Jaccard — and the per-content top-3 is
  // every member document's top-3.
  def txtDtm(s: SparkSession, d: String): DataFrame =
    dtmDerived(s, d, salt = None).sortWithinPartitions("doc_id", "rnk")

  private[graft] def dtmDerived(s: SparkSession, d: String,
                                salt: Option[org.apache.spark.sql.Column]): DataFrame =
    graft.operators.Content.perContent(
        Tables.documents(s, d), Seq("text"), salt = salt) { reps =>
      val H = graft.operators.Content.H
      val Gc = graft.operators.Content.G
      val toks = reps
        .select(col(H), col(Gc), explode(TextFns.tokens(col("text"))).as("term"))
      val nd = reps.agg(sum(Gc).as("n_docs"))
      val tf = toks.groupBy(H, "term")
        .agg(count(lit(1)).as("tf"), max(col(Gc)).as("g"))
      val df_ = tf.groupBy("term").agg(sum("g").as("df"))
        .crossJoin(broadcast(nd))
        .filter(col("df") >= greatest(lit(5L), expr("n_docs div 20")))
        .select("term", "df")
      val byContent = Window.partitionBy(H)
        .orderBy(desc("tf"), col("term"))
      tf.join(df_, "term")
        .withColumn("rnk", row_number().over(byContent))
        .filter(col("rnk") <= 3)
        .select(col(H), col("rnk").cast("long").as("rnk"),
          col("term"), col("tf"), col("df"))
    }

  val txtDtmSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                            t -> len(t) > 0)) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term
      |  HAVING count(*) >= greatest(5, (SELECT count(*) FROM documents) // 20)
      |), ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |                            ORDER BY tf.tf DESC, tf.term) AS rnk
      |  FROM tf JOIN df USING (term)
      |)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
      |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  // ---- P17: JSON property extraction over the event envelope ----
  // `props` is a nullable JSON object ({"k": N}); the typed k lands as a
  // long and aggregates per event type. get_json_object is a pure
  // projection (one parse per row — the only consumer), so the whole
  // query is scan → project → one shuffle.
  def p17JsonProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_nulls"),
        sum("k").as("k_sum"), min("k").as("k_min"), max("k").as("k_max"))
      .orderBy("event_type")

  val p17JsonPropsSql: String =
    """WITH x AS (
      |  SELECT event_type,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      |       CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
      |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- QR: referential-integrity audit across the star schema ----
  // One row per FK edge: child row count + orphan count via left-anti
  // join against the parent's key column only (the scan prunes to the two
  // key columns; each edge is one broadcast-able anti join — parents are
  // the dim side). NULL child keys count as orphans in both engines
  // (anti-join and NOT EXISTS agree: a NULL never matches).
  def qrRefint(s: SparkSession, d: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      val orphans = child.select(col(key))
        .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_rows"))
        .crossJoin(orphans)
        .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"))
    }
    val s_ = s
    val edges = Seq(
      edge("customer.nationkey", Tables.customer(s_, d), "c_nationkey",
        Tables.nation(s_, d), "n_nationkey"),
      edge("lineitem.orderkey", Tables.lineitem(s_, d), "l_orderkey",
        Tables.orders(s_, d), "o_orderkey"),
      edge("lineitem.partkey", Tables.lineitem(s_, d), "l_partkey",
        Tables.part(s_, d), "p_partkey"),
      edge("lineitem.suppkey", Tables.lineitem(s_, d), "l_suppkey",
        Tables.supplier(s_, d), "s_suppkey"),
      edge("nation.regionkey", Tables.nation(s_, d), "n_regionkey",
        Tables.region(s_, d), "r_regionkey"),
      edge("orders.custkey", Tables.orders(s_, d), "o_custkey",
        Tables.customer(s_, d), "c_custkey"),
      edge("supplier.nationkey", Tables.supplier(s_, d), "s_nationkey",
        Tables.nation(s_, d), "n_nationkey"))
    edges.reduce(_.unionAll(_)).orderBy("edge")
  }

  val qrRefintSql: String = {
    def e(name: String, child: String, key: String, parent: String, pkey: String) =
      s"""SELECT '$name' AS edge,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $child c
         |    WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key))
         |  AS n_orphans""".stripMargin
    Seq(
      e("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
      e("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      e("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
      e("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      e("nation.regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
      e("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
      e("supplier.nationkey", "supplier", "s_nationkey", "nation", "n_nationkey")
    ).mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  // ---- W3: 7-day rolling revenue (RANGE frame over a day number) ----
  // A RANGE frame over the integer day ordinal — unlike a ROWS frame it
  // is correct with GAPS in the daily series (a missing day still ages
  // out of the window). Cents stay integral inside the frame sum.
  def w3Rolling(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("gross_c"))
    val w = Window.partitionBy("priority")
      .orderBy(col("day_n")).rangeBetween(-6, 0)
    daily
      .withColumn("day_n", datediff(col("day"), lit("1970-01-01").cast("date")))
      .select(col("priority"), col("day"),
        (sum("gross_c").over(w) / 100.0).as("gross_7d"),
        count(lit(1)).over(w).as("n_days_7d"))
      .orderBy("priority", "day")
  }

  val w3RollingSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS gross_c
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1, 2
      |), n AS (
      |  SELECT priority, day, gross_c, day - DATE '1970-01-01' AS day_n
      |  FROM daily
      |)
      |SELECT priority, day,
      |       CAST(sum(gross_c) OVER w AS BIGINT) / 100.0 AS gross_7d,
      |       CAST(count(*) OVER w AS BIGINT) AS n_days_7d
      |FROM n
      |WINDOW w AS (PARTITION BY priority ORDER BY day_n
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY priority, day""".stripMargin

  // ---- TXT: bigram language model (top next-token per token) ----
  // Token bigrams as single strings (tokens are split on whitespace, so
  // one space is an unambiguous separator), counted globally, then each
  // token's top-2 continuations by count. The bigram stream shuffles as
  // compact strings; the top-k window runs over the counted (small)
  // model, not the corpus.
  def txtBigram(s: SparkSession, d: String): DataFrame = {
    val byW1 = Window.partitionBy("w1").orderBy(desc("n"), col("w2"))
    graft.Par.spread(Tables.documents(s, d))
      .select(TextFns.tokens(col("text")).as("tk"))
      .select(explode(TextFns.bigrams(col("tk"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("n"))
      .withColumn("rnk", row_number().over(byW1))
      .filter(col("rnk") <= 2)
      .select(col("w1"), col("rnk").cast("long").as("rnk"), col("w2"), col("n"))
      .orderBy("w1", "rnk")
  }

  val txtBigramSql: String =
    """WITH tk AS (
      |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                     t -> len(t) > 0) AS tk
      |  FROM documents
      |), bg AS (
      |  SELECT unnest(list_transform(range(1, len(tk)),
      |                               i -> tk[i] || ' ' || tk[i+1])) AS bg
      |  FROM tk
      |), cnt AS (
      |  SELECT bg, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bg
      |), sp AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2, n
      |  FROM cnt
      |)
      |SELECT w1, CAST(rnk AS BIGINT) AS rnk, w2, n FROM (
      |  SELECT w1, w2, n,
      |         row_number() OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rnk
      |  FROM sp
      |) WHERE rnk <= 2 ORDER BY w1, rnk""".stripMargin

  val queries: Map[String, Q] = Map(
    "p17_json_props" -> (p17JsonProps _),
    "qr_refint" -> (qrRefint _),
    "w3_rolling" -> (w3Rolling _),
    "txt_bigram" -> (txtBigram _),
    "j5_full_outer" -> (j5FullOuter _),
    "a10_cube" -> (a10Cube _),
    "tpch_q4" -> (tpchQ4 _),
    "tpch_q13" -> (tpchQ13 _),
    "ev_cohort" -> (evCohort _),
    "ev_funnel" -> (evFunnel _),
    "a11_outliers" -> (a11Outliers _),
    "ts_anomaly" -> (tsAnomaly _),
    "ts_locf" -> (tsLocf _),
    "scd2_runs" -> (scd2Runs _),
    "txt_dtm" -> (txtDtm _)
  )

  val oracles: Map[String, String] = Map(
    "p17_json_props" -> p17JsonPropsSql,
    "qr_refint" -> qrRefintSql,
    "w3_rolling" -> w3RollingSql,
    "txt_bigram" -> txtBigramSql,
    "j5_full_outer" -> j5FullOuterSql,
    "a10_cube" -> a10CubeSql,
    "tpch_q4" -> tpchQ4Sql,
    "tpch_q13" -> tpchQ13Sql,
    "ev_cohort" -> evCohortSql,
    "ev_funnel" -> evFunnelSql,
    "a11_outliers" -> a11OutliersSql,
    "ts_anomaly" -> tsAnomalySql,
    "ts_locf" -> tsLocfSql,
    "scd2_runs" -> scd2RunsSql,
    "txt_dtm" -> txtDtmSql
  )
}
