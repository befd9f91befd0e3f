package graft.queries

import graft.Tables
import graft.operators.DailyRevenue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third TPC-H wave — the join/subquery shapes the earlier anchors don't
  * cover, adapted to the driver schema (no partsupp/comment/phone/
  * container columns; see each query's note). Same parity doctrine as
  * everywhere: integer-scaled money sums, BIGINT-cast counts, identical
  * column names, explicit total ORDER BY.
  *
  * Scale designs:
  *  - q7: the two-sided dimension expansion — supplier-nation and
  *    customer-nation resolve via BROADCAST dims; the only shuffles are
  *    lineitem⋈orders and ⋈customer on their natural keys.
  *  - q10: fact-side filter first (one quarter, returnflag R), then join
  *    the shrunken fact to customer; top-20 physicalizes as
  *    TakeOrderedAndProject, never a global sort.
  *  - q16: the part-supplier relationship is DISTINCT (l_partkey,
  *    l_suppkey) from lineitem (the schema has no partsupp) — dedup
  *    before the dim join, count-distinct after; excluded suppliers
  *    (negative balance, the s_comment stand-in) leave via broadcast
  *    anti join.
  *  - q19: one broadcast hash join on partkey with the whole disjunction
  *    as residual — the naive form (3 unioned scans) would read lineitem
  *    three times.
  *  - q22: the scalar threshold is computed in exact integer cents and
  *    compared as cents*cnt > sum_cents (no double division, so both
  *    engines agree bit-for-bit at the boundary); customers-without-
  *    orders is a shuffle-free-on-the-small-side anti join.
  */
object TpchMore {

  type Q = (SparkSession, String) => DataFrame

  // ---- Q7: volume shipping between two nations, by year ----
  def tpchQ7(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
        || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val tpchQ7Sql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(sum(CAST(round(volume * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0
      |         AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |         l_extendedprice * (1 - l_discount) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |) shipping
      |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---- Q10: returned-item reporting, top 20 customers by lost revenue ----
  def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    val rev = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("revenue"))
    Tables.customer(s, d)
      .join(rev, col("c_custkey") === col("o_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  val tpchQ10Sql: String =
    """SELECT c_custkey, c_name,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS revenue,
      |       c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---- Q16: part-supplier relationship counts (partsupp via lineitem) ----
  // No materialized DISTINCT (l_partkey, l_suppkey): the only aggregate
  // is a count_distinct, whose two-phase plan dedups (group, suppkey)
  // map-side anyway — a prior .distinct() is a full-width shuffle of the
  // fact table that buys nothing (measured 8.5 s → the partial-agg form
  // at the 100× SF). Order of operations is filter-first: the ~8%
  // selective part predicate and the anti supplier filter both run as
  // broadcast joins BEFORE any exchange, so the one real shuffle carries
  // only surviving (brand, type, size, suppkey) partials.
  def tpchQ16(s: SparkSession, d: String): DataFrame = {
    val badSup = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val parts = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#3"
        && col("p_size").isin(1, 14, 23, 45))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(badSup), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
      .limit(30)
  }

  val tpchQ16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#3' AND p_size IN (1, 14, 23, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 30""".stripMargin

  // ---- Q19: disjunctive-predicate revenue (one join, residual OR) ----
  def tpchQ19(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    val joined = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    joined.filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)
          && col("l_quantity").between(1, 11))
        || (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)
          && col("l_quantity").between(10, 20))
        || (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
          && col("l_quantity").between(20, 30)))
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("revenue"))
  }

  val tpchQ19Sql: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |         / 1000000.0 AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // ---- Q22: rich-but-inactive customers by nation ----
  def tpchQ22(s: SparkSession, d: String): DataFrame = {
    val keys = Seq(1, 2, 3, 4, 5, 6, 7)
    val cents = round(col("c_acctbal") * 100).cast("long")
    val pool = Tables.customer(s, d)
      .filter(col("c_nationkey").isin(keys: _*))
      .select(col("c_custkey"), col("c_nationkey"), cents.as("cents"))
    // exact integer threshold: cents > sum/cnt  ⟺  cents*cnt > sum —
    // no double division, so the boundary is bit-identical cross-engine
    val thr = pool.filter(col("cents") > 0)
      .agg(sum(col("cents")).cast("decimal(38,0)").as("sum_cents"),
        count(lit(1)).cast("decimal(38,0)").as("cnt"))
    pool
      .crossJoin(broadcast(thr))
      .filter(col("cents").cast("decimal(38,0)") * col("cnt") > col("sum_cents"))
      .join(Tables.orders(s, d).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        (sum(col("cents")).cast("long") / lit(100.0)).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val tpchQ22Sql: String =
    """WITH pool AS (
      |  SELECT c_custkey, c_nationkey,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |  FROM customer WHERE c_nationkey IN (1, 2, 3, 4, 5, 6, 7)
      |), thr AS (
      |  SELECT CAST(sum(cents) AS HUGEINT) AS sum_cents,
      |         CAST(count(*) AS HUGEINT) AS cnt
      |  FROM pool WHERE cents > 0
      |)
      |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
      |       CAST(sum(cents) AS BIGINT) / 100.0 AS totacctbal
      |FROM pool, thr
      |WHERE CAST(cents AS HUGEINT) * cnt > sum_cents
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // ---- Q14: promo revenue share (conditional aggregation) ----
  // one broadcast join, one pass, two conditional sums; the share is a
  // division of two EXACT integer-micro sums, so both engines divide the
  // same integers and the double result is bit-identical — no rounding.
  def tpchQ14(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d).select("p_partkey", "p_type")
    val micros = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * 1000000).cast("long")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select(col("l_partkey"), micros.as("rev_micros"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_micros")).otherwise(0L))
          .as("promo_micros"),
        sum(col("rev_micros")).as("total_micros"))
      .select((lit(100.0) * col("promo_micros") / col("total_micros"))
        .as("promo_revenue_pct"))
  }

  val tpchQ14Sql: String =
    """SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT)
      |         / CAST(sum(rev) AS BIGINT) AS promo_revenue_pct
      |FROM (
      |  SELECT l_partkey,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT) AS rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
      |) l JOIN part ON p_partkey = l_partkey""".stripMargin

  // ---- Q15: top supplier(s) by quarterly revenue ----
  // the derived-view max: revenue per supplier (one shuffle on suppkey),
  // broadcast the 1-row max back, keep ties; exact integer revenue makes
  // the max comparison engine-identical.
  def tpchQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy("l_suppkey")
      .agg(DailyRevenue.sumMoney(
        col("l_extendedprice") * (lit(1) - col("l_discount")), 1000000L)
        .as("total_revenue"))
    val top = rev.agg(max("total_revenue").as("mx"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(top), col("total_revenue") === col("mx"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  val tpchQ15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS BIGINT)
      |           / 1000000.0 AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN rev ON s_suppkey = l_suppkey
      |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---- Q17: small-quantity order revenue (per-group avg threshold) ----
  // the correlated-average shape: per-part mean quantity (exact — integer
  // -valued doubles sum exactly, so the fold order can't matter), joined
  // back to prune lineitems under 20% of their part's mean. Facts shuffle
  // once on partkey; the brand dim prunes both sides first via broadcast.
  def tpchQ17(s: SparkSession, d: String): DataFrame = {
    val brandParts = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#5").select("p_partkey")
    val li = Tables.lineitem(s, d)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val qavg = li.groupBy(col("l_partkey").as("q_partkey"))
      .agg(avg("l_quantity").as("qavg"))
    li.join(qavg, col("l_partkey") === col("q_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("qavg"))
      .agg((sum(round(col("l_extendedprice") * 100).cast("long")).cast("double")
        / lit(700.0)).as("avg_yearly"))
  }

  val tpchQ17Sql: String =
    """WITH li AS (
      |  SELECT l_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_brand = 'Brand#5'
      |), qa AS (
      |  SELECT l_partkey AS q_partkey, avg(l_quantity) AS qavg FROM li GROUP BY 1
      |)
      |SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 700.0
      |         AS avg_yearly
      |FROM li JOIN qa ON l_partkey = q_partkey
      |WHERE l_quantity < 0.2 * qavg""".stripMargin

  val queries: Map[String, Q] = Map(
    "tpch_q14" -> (tpchQ14 _),
    "tpch_q15" -> (tpchQ15 _),
    "tpch_q17" -> (tpchQ17 _),
    "tpch_q7" -> (tpchQ7 _),
    "tpch_q10" -> (tpchQ10 _),
    "tpch_q16" -> (tpchQ16 _),
    "tpch_q19" -> (tpchQ19 _),
    "tpch_q22" -> (tpchQ22 _))

  val oracles: Map[String, String] = Map(
    "tpch_q14" -> tpchQ14Sql,
    "tpch_q15" -> tpchQ15Sql,
    "tpch_q17" -> tpchQ17Sql,
    "tpch_q7" -> tpchQ7Sql,
    "tpch_q10" -> tpchQ10Sql,
    "tpch_q16" -> tpchQ16Sql,
    "tpch_q19" -> tpchQ19Sql,
    "tpch_q22" -> tpchQ22Sql)
}
