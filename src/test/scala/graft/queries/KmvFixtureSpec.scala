package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Cross-engine pin for the sk_kmv estimation pipeline (r5 postmortem:
  * the driver's gate flagged a one-cell hash mismatch that no local
  * engine pair reproduced — so both engines now get pinned to the SAME
  * hand-computed integers; `tools/kmv_fixture.py` asserts the DuckDB
  * side of each case here, from the shipped oracle SQL, on the same
  * planted corpus and constants; FIXTURES.md records the pairing).
  *
  * The planted corpus: events on one day (2024-03-15), view = users
  * 1..150, purchase = users 101..230, intersection = 50. All three
  * segments exceed k=64 distinct user-days, so every output row takes
  * the ESTIMATOR branch — the branch the r5 driver flagged. Expected
  * values computed offline with arbitrary-precision integers:
  *   view    exact=150 kmv_est=168
  *   purchase exact=130 kmv_est=111
  *   both    exact=50  kmv_est=48   (rho=14)
  */
class KmvFixtureSpec extends SparkSuite {
  import spark.implicits._

  test("planted corpus: all three estimator-branch rows match the " +
    "offline big-int computation bit-for-bit") {
    val dir = tempDir("kmv_fixture")
    val ts = java.sql.Timestamp.valueOf("2024-03-15 12:00:00")
    val rows =
      (1L to 150L).map(u => (u, "view")) ++ (101L to 230L).map(u => (u, "purchase"))
    rows.zipWithIndex
      .map { case ((u, et), i) => (i.toLong, ts, u, et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Approx.skKmv(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("both", 50L, 48L), ("purchase", 130L, 111L),
      ("view", 150L, 168L)))
  }

  test("hex48 parse: pinned 12-hex-prefix values") {
    val got = Seq("000000000000", "ffffffffffff", "9e107d9d372b",
      "0123456789ab")
      .toDF("h").select(Approx.hex48(col("h"))).as[Long].collect().toSeq
    assert(got === Seq(0L, 281474976710655L, 173793664120619L,
      1250999896491L))
  }

  test("estimator division: pinned quotients incl. exact-divisible and " +
    "near-boundary cases match big-int floor division") {
    // (numerator, divisor, expected) — same table tools/kmv_fixture.py
    // pushes through the oracle's (a - mod(a,b))/b spelling
    val cases = Seq(
      (17732923532771328L, 1056964608L, 16777216L), // divisor divides exactly
      (17732923532771328L, 281474976710656L, 63L),  // hk = 2^48 (max+1)
      (17732923532771328L, 3L, 5910974510923776L),  // huge quotient
      (17732923532771328L, 1234567890123L, 14363L), // arbitrary
      (88664617663856640L, 70368744177664L, 1260L)) // rho=5 'both' branch
    val got = cases.toDF("a", "b", "want")
      .select(expr("a div b").as("got"), col("want")).collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }
}
