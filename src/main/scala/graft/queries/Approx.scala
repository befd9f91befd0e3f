package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-exact approximate-distinct sketches.
  *
  * Spark's built-in HLL sketches (`approx_count_distinct`,
  * `hll_sketch_agg`) and `approx_percentile` cannot be oracle-checked:
  * their sketch buckets aren't portable. KMV (k-minimum-values) is the
  * sketch that IS portable: its state is the k smallest values of a
  * uniform hash over the distinct set, and with md5 as the hash every
  * engine computes the identical sketch, the identical θ, and therefore
  * the identical estimate —
  * approximate in value, exact in reproducibility. That makes it the one
  * distinct-sketch whose full estimation pipeline the DuckDB oracle can
  * certify bit-for-bit, including the set-intersection estimator that HLL
  * fundamentally cannot provide (inclusion-exclusion on HLL compounds
  * error; KMV intersects the sketches themselves).
  *
  * Scale design: the per-segment sketch is `orderBy(hash).limit(k)` — a
  * TakeOrdered, i.e. each partition keeps its local k smallest and only
  * k-row partials travel; no global sort, no single-partition window. The
  * sketch-combine for the union is the same TakeOrdered over the distinct
  * hash set. At 100 TB the only full-width work is the distinct() that an
  * EXACT answer needs anyway — and the point of the query is to show the
  * sketch tracking it.
  */
object Approx {

  type Q = (SparkSession, String) => DataFrame

  private val K = 64
  private val SegA = "view"
  private val SegB = "purchase"

  /** (k−1)·2⁴⁸ — the estimator numerator, spelled as ONE literal in both
    * engines so no engine-side operator (`<<`, `*` promotion) is involved
    * in producing it.
    */
  private val Num: Long = (K - 1).toLong << 48

  /** First 12 hex chars of an md5 as a 48-bit integer — the θ parse.
    * 12 nibbles keep the value unsigned-safe in a BIGINT in any engine.
    */
  private[queries] def hex48(h: Column): Column =
    conv(substring(h, 1, 12), 16, 10).cast("long")

  def skKmv(s: SparkSession, d: String): DataFrame = {
    // distinct (segment, entity-hash); entity = user-day, the grain with
    // enough cardinality to exercise the estimator at every SF
    val hashed = Tables.events(s, d)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isin(SegA, SegB))
      .select(col("event_type").as("seg"),
        md5(concat(col("user_id").cast("string"), lit(":"),
          to_date(col("ts")).cast("string"))).as("h"))
      .distinct()

    def sketch(df: DataFrame): DataFrame = df.orderBy("h").limit(K)
    // θ and sketch fill level for one segment's distinct-hash set
    def thetaRow(df: DataFrame): DataFrame =
      sketch(df).agg(max(hex48(col("h"))).as("hk"), count(lit(1)).as("nk"))

    val aH = hashed.filter(col("seg") === SegA).select("h")
    val bH = hashed.filter(col("seg") === SegB).select("h")
    val uH = hashed.select("h").distinct()

    // estimator: exact below the sketch capacity (the sketch holds the
    // whole set), (k-1)/θ above it — integer-exact via the 48-bit parse
    def est(exact: Column): Column =
      when(col("nk") < K, exact)
        .otherwise(expr(s"${Num}L div hk"))

    def segRow(name: String, segH: DataFrame): DataFrame =
      segH.agg(count(lit(1)).as("exact_distinct"))
        .crossJoin(thetaRow(segH))
        .select(lit(name).as("segment"), col("exact_distinct"),
          est(col("exact_distinct")).as("kmv_est"))

    // intersection: ρ = union-sketch members present in BOTH segments;
    // est = (ρ/k) · |A∪B|_est. The union sketch is 64 rows — broadcast —
    // so each membership probe is a map-side semi join
    val uk = sketch(uH)
    val rho = aH.join(broadcast(uk), Seq("h"), "leftsemi")
      .join(broadcast(bH.join(broadcast(uk), Seq("h"), "leftsemi")), Seq("h"), "leftsemi")
      .agg(count(lit(1)).as("rho"))
    val exactBoth = hashed.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .agg(count(lit(1)).as("exact_distinct"))
    val bothRow = exactBoth
      .crossJoin(thetaRow(uH))
      .crossJoin(rho)
      .select(lit("both").as("segment"), col("exact_distinct"),
        when(col("nk") < K, col("rho"))
          .otherwise(expr(s"(rho * ${Num}L) div (${K}L * hk)"))
          .as("kmv_est"))

    segRow(SegA, aH).unionByName(segRow(SegB, bH)).unionByName(bothRow)
      .orderBy("segment")
  }

  /** Oracle portability (r6): r5's driver gate flagged `sk_kmv` with a
    * one-cell hash mismatch that did NOT reproduce on a local DuckDB
    * 1.0.0 (bit-identical to Spark at sf0.01 and sf0.1) — an
    * engine-VERSION divergence in the oracle SQL itself. Every construct
    * with cross-version churn is therefore spelled out long-hand:
    *   - the 48-bit hex parse is 12 explicit `strpos`·weight terms
    *     (no `list_transform` lambda — DuckDB changed lambda syntax
    *     across 1.x — no `list_sum`, whose return type widened to
    *     HUGEINT in some versions, and no `<<`);
    *   - integer division `a div b` is `(a - mod(a,b)) / b`: the
    *     numerator is exactly divisible, so the quotient is exact under
    *     BOTH historical DuckDB division semantics — integer `/` returns
    *     the integer quotient directly, double `/` (DuckDB ≥0.10)
    *     returns a float within ~1e-9 of the true integer (operands
    *     ≤2⁶⁰, so relative error ~2⁻⁵⁰) which the BIGINT cast rounds to
    *     exactly — where a bare `//` or `CAST(a/b ...)` is floor vs
    *     round vs version-dependent;
    *   - the estimator numerator (k−1)·2⁴⁸ is one pre-computed literal.
    * `KmvFixtureSpec` + `tools/kmv_fixture.py` pin parse and both
    * estimator branches to the same expected integers on both engines.
    */
  /** The 48-bit hex parse spelled long-hand for the oracle — shared by
    * every KMV oracle (and any other md5-keyed oracle: ds_shuffle) so all
    * of them ride the same portability armor. `c` is the hex column's SQL
    * spelling at the call site.
    */
  private[queries] def hex48Sql(c: String = "h"): String = (1 to 12).map { j =>
    val w = 1L << (4 * (12 - j))
    s"(strpos('0123456789abcdef', substr($c, $j, 1)) - 1) * CAST($w AS BIGINT)"
  }.mkString("(", "\n        + ", ")")

  val skKmvSql: String = {
    val hex48 = hex48Sql()
    s"""WITH hashed AS (
       |  SELECT event_type AS seg,
       |         md5(CAST(user_id AS VARCHAR) || ':' ||
       |             CAST(CAST(ts AS DATE) AS VARCHAR)) AS h
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IN ('$SegA', '$SegB')
       |  GROUP BY 1, 2
       |),
       |ah AS (SELECT h FROM hashed WHERE seg = '$SegA'),
       |bh AS (SELECT h FROM hashed WHERE seg = '$SegB'),
       |uh AS (SELECT DISTINCT h FROM hashed),
       |ska AS (SELECT max($hex48) AS hk, count(*) AS nk
       |        FROM (SELECT h FROM ah ORDER BY h LIMIT $K)),
       |skb AS (SELECT max($hex48) AS hk, count(*) AS nk
       |        FROM (SELECT h FROM bh ORDER BY h LIMIT $K)),
       |sku AS (SELECT max($hex48) AS hk, count(*) AS nk
       |        FROM (SELECT h FROM uh ORDER BY h LIMIT $K)),
       |ku AS (SELECT h FROM uh ORDER BY h LIMIT $K),
       |rho AS (SELECT count(*) AS rho FROM ku
       |        WHERE h IN (SELECT h FROM ah) AND h IN (SELECT h FROM bh)),
       |ea AS (SELECT count(*) AS exact_distinct FROM ah),
       |eb AS (SELECT count(*) AS exact_distinct FROM bh),
       |eboth AS (SELECT count(*) AS exact_distinct
       |          FROM (SELECT h FROM hashed GROUP BY h HAVING count(*) = 2))
       |SELECT '$SegA' AS segment, exact_distinct,
       |       CASE WHEN nk < $K THEN exact_distinct
       |            ELSE ${idiv(s"CAST($Num AS BIGINT)", "hk")} END AS kmv_est
       |FROM ea, ska
       |UNION ALL
       |SELECT '$SegB', exact_distinct,
       |       CASE WHEN nk < $K THEN exact_distinct
       |            ELSE ${idiv(s"CAST($Num AS BIGINT)", "hk")} END
       |FROM eb, skb
       |UNION ALL
       |SELECT 'both', exact_distinct,
       |       CASE WHEN nk < $K THEN rho
       |            ELSE ${idiv(s"rho * CAST($Num AS BIGINT)", s"$K * hk")} END
       |FROM eboth, sku, rho
       |ORDER BY segment""".stripMargin
  }

  /** Version-stable integer division for the oracle: truncating division
    * of non-negative BIGINTs without `//` or a bare fractional cast —
    * see the portability note on [[skKmvSql]].
    */
  private def idiv(a: String, b: String): String =
    s"CAST((($a) - mod(($a), ($b))) / ($b) AS BIGINT)"

  /** Mergeable sketch partials — the property that makes KMV the
    * 100 TB distinct-counter. A KMV sketch is a lossless-union monoid:
    * the k smallest hashes of A ∪ B are each among the k smallest of A
    * or of B, so `merge(skA, skB) = topk(distinct(skA ∪ skB))` — EXACT,
    * not approximate-on-approximate (contrast inclusion–exclusion over
    * HLL registers, which compounds error per merge). Partition a fact
    * table any way you like (here: order year), sketch each partition
    * independently, and the merged sketch is bit-identical to the sketch
    * a single pass over the whole table would build — which means
    * per-day/per-file sketches can be persisted at ingest and any ad-hoc
    * range's distinct estimate answered from k-row partials without
    * re-reading a byte of the fact data.
    *
    * The query certifies exactly that: per-year sketch rows over distinct
    * customers, plus a `merged` row (union of the 7 year sketches) and a
    * `direct` row (one sketch over all years) that MUST carry the same
    * estimate. The oracle proves both engines agree on every branch.
    *
    * Scale shape: the per-year rank window runs over the per-year
    * DISTINCT hash set — the same width an exact per-year distinct needs
    * anyway, reduced map-side by the preceding distinct() — never over
    * raw fact rows. The merge inputs are ≤ years·k rows; TakeOrdered.
    */
  def skKmvMerge(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.orders(s, d)
      .select(concat(lit("y"), year(col("o_orderdate")).cast("string")).as("part"),
        md5(col("o_custkey").cast("string")).as("h"))
      .distinct()

    def theta(df: DataFrame): DataFrame =
      df.agg(max(hex48(col("h"))).as("hk"), count(lit(1)).as("nk"))
    def est(exact: Column): Column =
      when(col("nk") < K, exact).otherwise(expr(s"${Num}L div hk"))

    // per-year sketches: rank over each year's distinct-hash set
    val partSk = hashed
      .withColumn("rn", row_number().over(Window.partitionBy("part").orderBy("h")))
      .filter(col("rn") <= K)
      .select("part", "h")
    val perPart = hashed.groupBy("part").agg(count(lit(1)).as("exact_distinct"))
      .join(partSk.groupBy("part")
        .agg(max(hex48(col("h"))).as("hk"), count(lit(1)).as("nk")), "part")
      .select(col("part"), col("exact_distinct"),
        est(col("exact_distinct")).as("kmv_est"))

    val uH = hashed.select("h").distinct()
    val exactAll = uH.agg(count(lit(1)).as("exact_distinct"))
    val direct = exactAll
      .crossJoin(theta(uH.orderBy("h").limit(K)))
      .select(lit("direct").as("part"), col("exact_distinct"),
        est(col("exact_distinct")).as("kmv_est"))
    // the merge: union of the year sketches, dedup, keep the k smallest
    val merged = exactAll
      .crossJoin(theta(partSk.select("h").distinct().orderBy("h").limit(K)))
      .select(lit("merged").as("part"), col("exact_distinct"),
        est(col("exact_distinct")).as("kmv_est"))

    perPart.unionByName(direct).unionByName(merged).orderBy("part")
  }

  val skKmvMergeSql: String = {
    val hex48 = hex48Sql()
    s"""WITH hashed AS (
       |  SELECT DISTINCT 'y' || CAST(year(o_orderdate) AS VARCHAR) AS part,
       |         md5(CAST(o_custkey AS VARCHAR)) AS h
       |  FROM orders
       |),
       |psk AS (
       |  SELECT part, h FROM (
       |    SELECT part, h, row_number() OVER (PARTITION BY part ORDER BY h) AS rn
       |    FROM hashed) WHERE rn <= $K
       |),
       |ptheta AS (SELECT part, max($hex48) AS hk, count(*) AS nk
       |           FROM psk GROUP BY part),
       |pexact AS (SELECT part, count(*) AS exact_distinct FROM hashed GROUP BY part),
       |uh AS (SELECT DISTINCT h FROM hashed),
       |du AS (SELECT count(*) AS exact_distinct FROM uh),
       |dsk AS (SELECT max($hex48) AS hk, count(*) AS nk
       |        FROM (SELECT h FROM uh ORDER BY h LIMIT $K)),
       |msk AS (SELECT max($hex48) AS hk, count(*) AS nk
       |        FROM (SELECT DISTINCT h FROM psk ORDER BY h LIMIT $K))
       |SELECT e.part, e.exact_distinct,
       |       CASE WHEN t.nk < $K THEN e.exact_distinct
       |            ELSE ${idiv(s"CAST($Num AS BIGINT)", "t.hk")} END AS kmv_est
       |FROM pexact e JOIN ptheta t USING (part)
       |UNION ALL
       |SELECT 'direct', exact_distinct,
       |       CASE WHEN nk < $K THEN exact_distinct
       |            ELSE ${idiv(s"CAST($Num AS BIGINT)", "hk")} END
       |FROM du, dsk
       |UNION ALL
       |SELECT 'merged', exact_distinct,
       |       CASE WHEN nk < $K THEN exact_distinct
       |            ELSE ${idiv(s"CAST($Num AS BIGINT)", "hk")} END
       |FROM du, msk
       |ORDER BY part""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "sk_kmv" -> (skKmv _),
    "sk_kmv_merge" -> (skKmvMerge _))

  val oracles: Map[String, String] = Map(
    "sk_kmv" -> skKmvSql,
    "sk_kmv_merge" -> skKmvMergeSql)
}
