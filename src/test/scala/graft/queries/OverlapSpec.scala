package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The collapse-first interval-overlap join vs the naive definition —
  * bit equality on real data AND on replica-flooded data (the exact
  * shape the ScaleUp ladder generates, where the naive candidate join
  * grows K² and the collapsed one stays at base width).
  */
class OverlapSpec extends SparkSuite {

  /** The definition, stated naively: binned pair join over ALL user
    * sessions (no timeline collapse). Correct at any scale that can
    * afford it; the shipped query must match it row for row.
    */
  private def naiveOverlap(s: SparkSession, d: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val sess = Extended.evSessionize(s, d)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("s_us"),
        unix_micros(col("session_end")).as("e_us"))
    def side(p: String) = sess.select(
      col("user_id").as(s"${p}_user"), col("s_us").as(s"${p}_s"),
      col("e_us").as(s"${p}_e"))
      .withColumn("bin", explode(sequence(
        expr(s"${p}_s div ${HourUs}L"), expr(s"${p}_e div ${HourUs}L"))))
    side("a").join(side("b"), Seq("bin"))
      .filter(col("a_user") < col("b_user")
        && col("a_s") <= col("b_e") && col("b_s") <= col("a_e")
        && expr(s"greatest(a_s, b_s) div ${HourUs}L") === col("bin"))
      .groupBy(col("a_user").as("user_a"), col("b_user").as("user_b"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
          .as("overlap_us"))
      .orderBy("user_a", "user_b")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] = {
    import df.sparkSession.implicits._
    df.as[(Long, Long, Long, Long)].collect().toSeq
  }

  test("collapse-first ev_overlap equals the naive pair join on sf0.001") {
    assert(rows(Extended.evOverlapPairs(spark, sf)) === rows(naiveOverlap(spark, sf)))
  }

  test("the shipped top-100 leaderboard is the naive relation's top-100") {
    val want = rows(naiveOverlap(spark, sf))
      .sortBy { case (a, b, _, us) => (-us, a, b) }.take(100)
    assert(rows(Extended.evOverlap(spark, sf)) === want,
      "threshold pruning must keep ties and preserve the total order")
  }

  test("replica-flooded timelines: collapsed output still equals naive, " +
    "and self-group pairs carry the full ordered-combo count") {
    // ScaleUp's exact shape: K user replicas with identical timelines
    // under shifted ids. The fingerprint grouping must genuinely fire
    // (150 timelines, 450 users) and same-fp pairs must count ALL |T|²
    // session combos — the regime the a_fp == b_fp join exists for.
    val K = 3
    val dir = tempDir("ovl_rep")
    graft.Tables.events(spark, sf)
      .withColumn("__r", explode(sequence(lit(0L), lit(K - 1L))))
      .withColumn("user_id", col("user_id") + col("__r") * 100000000L)
      .withColumn("event_id", col("event_id") + col("__r") * 1000000000L)
      .drop("__r")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = rows(Extended.evOverlapPairs(spark, dir))
    val want = rows(naiveOverlap(spark, dir))
    assert(got === want)
    // replica pairs of one base user: identical timelines of n sessions
    // must overlap in AT LEAST n ordered combos (the diagonal)
    val base = Extended.evSessionize(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val gotMap = got.map { case (a, b, n, us) => (a, b) -> n }.toMap
    base.foreach { case (u, n) =>
      val pair = (u, u + 100000000L)
      assert(gotMap.getOrElse(pair, 0L) >= n,
        s"replica pair $pair must overlap in >= $n combos (diagonal)")
    }
  }
}
