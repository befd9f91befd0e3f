package graft.queries

import graft.{Scratch, Tables}
import graft.operators.DailyRevenue
import graft.functions.TextFns
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-layout and large-corpus operators: data-placement patterns
  * (partition pruning, bucketed co-located joins, Z-order clustering keys)
  * and the remaining classic warehouse shapes (market-basket co-occurrence,
  * sliding-window distinct counts, TPC-H Q18, inverted-index search).
  *
  * Everything here is about the 100 TB story: each query either *creates*
  * a layout that bounds what a later scan must read (S10/S11/zorder) or
  * demonstrates a shuffle-bounded formulation of an operator that naively
  * explodes (co-purchase pairs, rolling distinct).
  *
  * Parity doctrine as in [[Analytics]]: integer-scaled money sums, BIGINT
  * counts, identical column names, explicit total ORDER BY.
  */
object ScaleOps {

  type Q = (SparkSession, String) => DataFrame

  // ---- MB: market-basket co-purchase pairs ----
  // Parts bought together in one order. The naive formulation is a
  // self-join of lineitem on l_orderkey — two shuffles of the fact table
  // and a quadratic blowup on big orders. This one is one shuffle: group
  // to per-order sorted baskets, expand i<j pairs inside the array
  // (basket size is bounded by order size — ≤7 lines in TPC-H — so the
  // expansion is ≤ C(7,2) rows per order, linear in the fact table), then
  // a partial-agg count per pair.
  def mbCopurchase(s: SparkSession, d: String): DataFrame =
    // the expansion + packed-long count shuffle lives in Copurchase,
    // staged once and shared with pr_copurchase / gr_triangles
    Copurchase.pairCounts(s, d)
      .select(col("pa").as("part_a"), col("pb").as("part_b"),
        col("w").as("orders_together"))
      .orderBy(desc("orders_together"), col("part_a"), col("part_b"))
      .limit(25)

  val mbCopurchaseSql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
      |       CAST(count(*) AS BIGINT) AS orders_together
      |FROM b a JOIN b c
      |  ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      |GROUP BY 1, 2
      |ORDER BY orders_together DESC, part_a, part_b LIMIT 25""".stripMargin

  // ---- EV: 7-day rolling distinct active users ----
  // COUNT(DISTINCT) over a sliding window has no window-function form in
  // Spark (count distinct isn't frame-able). The scale-correct batch
  // formulation: distinct (user, day) — the only frame that ever holds
  // user granularity — then expand each active day to the ≤7 window days
  // it covers (a FIXED 7× generator on the already-deduped frame, not on
  // raw events), dedup (user, window-day), and count. No per-day
  // re-scan, no quadratic day×day join against the full event table.
  def evRollingActive(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val days = ud.select("day").distinct()
    ud.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      // only report days that actually occur in the data (the expansion
      // also lands on the 6 days after the calendar's end)
      .join(days, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(count(lit(1)).as("active_7d"))
      .orderBy("day")
  }

  val evRollingActiveSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |), days AS (SELECT DISTINCT day FROM ud)
      |SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_7d
      |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
      |GROUP BY 1 ORDER BY d.day""".stripMargin

  // ---- TPC-H Q18: large-volume customers ----
  // The HAVING-subquery shape: aggregate the fact table FIRST (partial
  // agg + one shuffle on l_orderkey), filter to the rare big orders, and
  // only then join the two dimension-sized survivors to orders/customer.
  // Joining before aggregating would shuffle the full fact table twice.
  def tpchQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .filter(col("sum_qty") > 250)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(100)
  }

  val tpchQ18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |       CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
      |FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250) big
      |JOIN orders ON o_orderkey = big.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // ---- S10: partitioned layout + partition-pruned read-back ----
  // The single biggest lever at 100 TB: a scan that opens only the
  // partition directories the predicate names. Write events partitioned
  // by event_type to scratch, read back with an event_type predicate —
  // the filter resolves against directory names (PartitionFilters in the
  // scan, locked by PlanShapeSpec), so the non-matching ~5/6 of the data
  // is never opened. The oracle computes the same aggregate from the flat
  // table — proving pruning changed the I/O, not the answer.
  def s10PartitionPrune(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.dirFor(s, "s10part_" + d.replaceAll("[^0-9a-zA-Z]", "_"))
    Tables.events(s, d)
      .select(col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    s.read.parquet(dir)
      .filter(col("event_type") === "purchase")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count_distinct(col("user_id")).as("users"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  val s10PartitionPruneSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---- S11: bucketed tables + co-located join ----
  // Pre-shuffle once at write time, join forever without an exchange:
  // both sides bucketed 8 ways on the join key, so the SortMergeJoin
  // reads bucket i against bucket i directly (PlanShapeSpec asserts the
  // exchange-free plan). At 100 TB this converts every repeated
  // fact-dim-key join from a full shuffle into a local merge.
  def s11BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val suf = d.replaceAll("[^0-9a-zA-Z]", "_")
    val ot = s"graft_orders_b_$suf"
    val ct = s"graft_cust_b_$suf"
    // write-once per session: the bucketed layout is the durable artifact
    if (!s.catalog.tableExists(ot))
      Sinks.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, "o_custkey", 8)
    if (!s.catalog.tableExists(ct))
      Sinks.writeBucketed(
        Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        ct, "c_custkey", 8)
    s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("orders"),
        DailyRevenue.sumMoney(col("o_totalprice"), 100L).as("revenue"))
      .orderBy("c_nationkey")
  }

  val s11BucketedJoinSql: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |         AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin

  // ---- DS: Z-order (Morton) clustering key ----
  // Multi-dimensional data skipping: sort-by-zkey placement bounds BOTH
  // the customer range and the date range inside each file, so min/max
  // file statistics prune scans filtered on either dimension. The key is
  // pure bit arithmetic (interleave the low 8 bits of customer and of the
  // day ordinal), bit-identical in any engine. The per-bucket stats below
  // surface the locality the key creates: each of the 64 coarse buckets
  // spans ≤1/8 of each dimension's domain.
  private def spread8(c: Column): Column = {
    // classic bit-spread: 8 data bits → 16 bits with zeros interleaved
    val x0 = c.bitwiseAND(lit(255L))
    val x1 = x0.bitwiseOR(shiftleft(x0, 4)).bitwiseAND(lit(0x0F0FL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 2)).bitwiseAND(lit(0x3333L))
    x2.bitwiseOR(shiftleft(x2, 1)).bitwiseAND(lit(0x5555L))
  }

  def dsZorder(s: SparkSession, d: String): DataFrame = {
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1992-01-01").cast("date")).cast("long")
    val z = spread8(col("o_custkey"))
      .bitwiseOR(shiftleft(spread8(day), 1)).as("zkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), day.as("day_ord"), z)
      .groupBy(shiftright(col("zkey"), 10).cast("long").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("zkey").cast("long").as("min_z"),
        max("zkey").cast("long").as("max_z"),
        count_distinct(col("o_custkey").bitwiseAND(lit(255L))).as("custs"),
        count_distinct(col("day_ord").bitwiseAND(lit(255L))).as("days"))
      .orderBy("zbucket")
  }

  // masks: 3855 = 0x0F0F, 13107 = 0x3333, 21845 = 0x5555 — the same
  // constants as spread8, staged through CTEs instead of nested exprs
  val dsZorderSql: String =
    """WITH b AS (
      |  SELECT o_custkey,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day_ord,
      |         o_custkey & 255 AS cx,
      |         CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) & 255 AS dx
      |  FROM orders
      |), s1 AS (
      |  SELECT *, (cx | (cx << 4)) & 3855 AS cx1, (dx | (dx << 4)) & 3855 AS dx1 FROM b
      |), s2 AS (
      |  SELECT *, (cx1 | (cx1 << 2)) & 13107 AS cx2, (dx1 | (dx1 << 2)) & 13107 AS dx2 FROM s1
      |), z AS (
      |  SELECT o_custkey, day_ord,
      |         ((cx2 | (cx2 << 1)) & 21845) | (((dx2 | (dx2 << 1)) & 21845) << 1) AS zkey
      |  FROM s2
      |)
      |SELECT CAST(zkey >> 10 AS BIGINT) AS zbucket,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(zkey) AS BIGINT) AS min_z,
      |       CAST(max(zkey) AS BIGINT) AS max_z,
      |       CAST(count(DISTINCT o_custkey & 255) AS BIGINT) AS custs,
      |       CAST(count(DISTINCT day_ord & 255) AS BIGINT) AS days
      |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin

  // ---- DS: Hilbert clustering key ----
  // Same data-skipping goal as ds_zorder, stronger locality: the Hilbert
  // curve never takes the long diagonal jumps Morton takes at bit
  // boundaries, so a contiguous key range maps to a tighter bounding box
  // — per coarse bucket, BOTH dimensions' spans stay ≤ 1/8 of the
  // domain, where Morton's worst buckets straddle half of one dimension.
  // The x_span/y_span columns surface exactly that, next to the same
  // bucket stats as ds_zorder for side-by-side comparison.
  //
  // The index is the classic xy2d walk over the 256×256 grid: 8 rounds
  // of quadrant pick + rotation, all integer CASE/XOR/shift arithmetic —
  // bit-identical in any engine. Each round is staged as a PROJECTION
  // (one select per round, attribute refs in between), not nested
  // expressions: inlining would re-evaluate each round's x/y once per
  // reference and grow the tree ~3^8 — the same lambda-staging lesson as
  // txt_winnow. The oracle mirrors the rounds as a CTE chain.
  private val HilbertRounds = Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)

  /** Stages the 8 xy2d rounds over a frame with `x`,`y` ∈ [0,255]:
    * returns (x0, y0, h) where x0/y0 are the UNROTATED inputs (the
    * rounds mutate their working copy) and h the Hilbert index.
    * Factored out so the spec can certify bijection + unit-step
    * adjacency over the full 256×256 grid.
    */
  private[queries] def hilbertStaged(df0: DataFrame): DataFrame = {
    var df = df0.select(col("x").as("x0"), col("y").as("y0"),
      col("x"), col("y"), lit(0L).as("h"))
    for (sz <- HilbertRounds) {
      val rx = when(col("x").bitwiseAND(lit(sz)) > 0, 1L).otherwise(0L)
      val ry = when(col("y").bitwiseAND(lit(sz)) > 0, 1L).otherwise(0L)
      df = df
        .select(col("x0"), col("y0"), col("x"), col("y"), col("h"),
          rx.as("rx"), ry.as("ry"))
        .select(col("x0"), col("y0"),
          when(col("ry") === 0,
            when(col("rx") === 1, lit(255L) - col("y")).otherwise(col("y")))
            .otherwise(col("x")).as("x"),
          when(col("ry") === 0,
            when(col("rx") === 1, lit(255L) - col("x")).otherwise(col("x")))
            .otherwise(col("y")).as("y"),
          (col("h") + lit(sz * sz) *
            (lit(3L) * col("rx")).bitwiseXOR(col("ry"))).as("h"))
    }
    df.select(col("x0"), col("y0"), col("h"))
  }

  def dsHilbert(s: SparkSession, d: String): DataFrame = {
    val day = datediff(col("o_orderdate").cast("date"),
      lit("1992-01-01").cast("date")).cast("long")
    hilbertStaged(Tables.orders(s, d).select(
        col("o_custkey").bitwiseAND(lit(255L)).as("x"),
        day.bitwiseAND(lit(255L)).as("y")))
      .groupBy(shiftright(col("h"), 10).cast("long").as("hbucket"))
      .agg(count(lit(1)).as("n"),
        min("h").cast("long").as("min_h"),
        max("h").cast("long").as("max_h"),
        (max("x0") - min("x0")).as("x_span"),
        (max("y0") - min("y0")).as("y_span"))
      .orderBy("hbucket")
  }

  val dsHilbertSql: String = {
    val rounds = HilbertRounds.zipWithIndex.map { case (sz, i) =>
      s"""r${i + 1} AS (
         |  SELECT x0, y0,
         |         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN 255 - y ELSE y END
         |              ELSE x END AS x,
         |         CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN 255 - x ELSE x END
         |              ELSE y END AS y,
         |         h + ${sz * sz} * xor(3 * rx, ry) AS h
         |  FROM (SELECT x0, y0, x, y, h,
         |               CASE WHEN (x & $sz) > 0 THEN 1 ELSE 0 END AS rx,
         |               CASE WHEN (y & $sz) > 0 THEN 1 ELSE 0 END AS ry
         |        FROM r$i)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT CAST(o_custkey & 255 AS BIGINT) AS x,
       |         CAST(CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
       |              & 255 AS BIGINT) AS y
       |  FROM orders
       |),
       |r0 AS (SELECT x AS x0, y AS y0, x, y, CAST(0 AS BIGINT) AS h FROM b),
       |$rounds
       |SELECT CAST(h >> 10 AS BIGINT) AS hbucket,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(min(h) AS BIGINT) AS min_h,
       |       CAST(max(h) AS BIGINT) AS max_h,
       |       CAST(max(x0) - min(x0) AS BIGINT) AS x_span,
       |       CAST(max(y0) - min(y0) AS BIGINT) AS y_span
       |FROM r8 GROUP BY 1 ORDER BY hbucket""".stripMargin
  }

  // ---- J6: Bloom-pruned semi join ----
  // The medium-dim pattern: customer is (at 100 TB) too big to broadcast
  // as a hash relation, but its ~10%-selective high-balance key set
  // compresses to a few-MB Bloom filter. The filter drops ~90% of orders
  // AT THE SCAN, before the join exchange; the exact semi join then
  // removes the ≤1% false positives, so the result is bit-identical to
  // the plain semi join the oracle runs. See [[graft.operators.BloomJoin]].
  def j6BloomPrune(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000).select("c_custkey")
    graft.operators.BloomJoin.prunedSemiJoin(
        Tables.orders(s, d).select("o_custkey", "o_orderdate", "o_totalprice"),
        "o_custkey", dim, "c_custkey",
        expectedKeys = 1L << 20, fpp = 0.01)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("orders"),
        DailyRevenue.sumMoney(col("o_totalprice"), 100L).as("revenue"))
      .orderBy("month")
  }

  val j6BloomPruneSql: String =
    """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |       CAST(count(*) AS BIGINT) AS orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
      |         AS revenue
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      |GROUP BY 1 ORDER BY month""".stripMargin

  // ---- TXT: inverted-index keyword search (AND semantics) ----
  // Corpus filtering for training-data curation: find documents matching
  // ALL query terms, ranked by total term frequency. The term filter sits
  // directly on the exploded token stream — only matching (doc, term)
  // rows survive the generator, so the shuffle carries ≤ |terms| rows per
  // document, not the corpus vocabulary.
  private val SearchTerms = Seq("join", "filter")

  def txtSearch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
      .filter(col("token").isin(SearchTerms: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched"), sum("tf").as("score"))
      .filter(col("matched") === SearchTerms.size)
      .select(col("doc_id"), col("score").cast("long").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(20)

  val txtSearchSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                            t -> len(t) > 0)) AS token
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, token, count(*) AS tf
      |  FROM tok WHERE token IN ('join', 'filter') GROUP BY 1, 2
      |)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
      |FROM tf GROUP BY doc_id HAVING count(*) = 2
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  val queries: Map[String, Q] = Map(
    "mb_copurchase" -> (mbCopurchase _),
    "ev_rolling_active" -> (evRollingActive _),
    "tpch_q18" -> (tpchQ18 _),
    "j6_bloom_prune" -> (j6BloomPrune _),
    "s10_partition_prune" -> (s10PartitionPrune _),
    "s11_bucketed_join" -> (s11BucketedJoin _),
    "ds_zorder" -> (dsZorder _),
    "ds_hilbert" -> (dsHilbert _),
    "txt_search" -> (txtSearch _))

  val oracles: Map[String, String] = Map(
    "mb_copurchase" -> mbCopurchaseSql,
    "ev_rolling_active" -> evRollingActiveSql,
    "tpch_q18" -> tpchQ18Sql,
    "j6_bloom_prune" -> j6BloomPruneSql,
    "s10_partition_prune" -> s10PartitionPruneSql,
    "s11_bucketed_join" -> s11BucketedJoinSql,
    "ds_zorder" -> dsZorderSql,
    "ds_hilbert" -> dsHilbertSql,
    "txt_search" -> txtSearchSql)
}
