package graft.queries

import graft.{SemTauCheck, SparkSuite, Tables}
import org.apache.spark.sql.functions._

/** The `spark.graft.sem.tau` DRIFT GATE — `SemTauCheck`'s derivation
  * run inside the suite, so a testdata regeneration that moves the
  * embedding-space distance distribution FAILS here instead of silently
  * stranding the pinned 1.4e12 at a different quantile (the `sk_kmv`
  * lesson: a pinned constant whose derivation is not executable rots
  * the first time its inputs shift). The band is the recipe's own
  * contract: tau targets the q0.001 tail of the exact eval-to-corpus
  * distance distribution, so the pinned value must sit at or above
  * q0.001 and below q0.01 — past that, the "0.1% quantile" doc is off
  * by an order of magnitude. Measured on the current testdata
  * (sf0.001): q0.001 ≈ 1.38e12, q0.01 ≈ 1.57e12, pinned 1.4e12 — in
  * band with margin on both sides.
  */
class SemTauGateSpec extends SparkSuite {

  private def pinned: Long = SimilarityQueries.semTau(spark)
  private def evalN: Long = SimilarityQueries.semEvalN(spark)

  test("the pinned sem tau sits in the derived q0.001..q0.01 band on " +
    "the CURRENT testdata (drift gate — fails on regeneration drift)") {
    val st = SemTauCheck.derive(spark, Tables.embeddings(spark, sf),
      evalN, pinned).get
    info(f"n=${st.nPairs} min=${st.minD2} q0.001=${st.q0001}%.4g " +
      f"q0.01=${st.q001}%.4g median=${st.median}%.4g pinned=$pinned " +
      s"recommended=${st.recommended}")
    assert(st.inBand(pinned),
      f"pinned tau $pinned drifted out of [q0.001=${st.q0001}%.4g, " +
        f"q0.01=${st.q001}%.4g] — the testdata's embedding space moved; " +
        s"pin the recommended ${st.recommended} in OracleDefaults + the " +
        "static oracle SQL together")
    // and the executable recommendation reproduces the pinned conf
    assert(st.recommended.contains(pinned),
      s"SemTauCheck's recommendation ${st.recommended} no longer " +
        s"reproduces the pinned $pinned")
  }

  test("the gate actually FIRES on a synthetic embedding-scale shift " +
    "(2x vectors -> 4x distances: the pinned tau falls below the band)") {
    val shifted = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val st = SemTauCheck.derive(spark, shifted, evalN, pinned).get
    info(f"shifted q0.001=${st.q0001}%.4g (pinned=$pinned)")
    assert(!st.inBand(pinned),
      "a 4x distance shift must push the pinned tau out of band — if " +
        "this holds, the gate above can never fire and certifies nothing")
  }

  test("a sub-1 interpolated quantile recommends None, never a " +
    "truncated tau = 0 (d2 is integer-valued, so 0 < q0.001 < 1 is " +
    "reachable when the tail is nearly all exact duplicates)") {
    val nearDegenerate = SemTauCheck.Stats(nPairs = 1000, minD2 = 0,
      q0001 = 0.5, q001 = 10.0, median = 100.0, underPinned = 0)
    assert(nearDegenerate.recommended.isEmpty,
      "0.5 rounds to mag 0.01 and truncates to 0 — the degenerate " +
        "outcome the <=0 branch exists to prevent")
    val healthy = SemTauCheck.Stats(1000, 0, 1.23e12, 2e12, 3e12, 0)
    assert(healthy.recommended.contains(1.3e12.toLong),
      "a healthy quantile still rounds up to 2 significant digits")
  }

  test("an empty pair set derives None instead of an NPE (evalN past " +
    "the table, empty table)") {
    val emb = Tables.embeddings(spark, sf)
    assert(SemTauCheck.derive(spark, emb, Long.MaxValue, pinned).isEmpty,
      "evalN past the max vec_id leaves no corpus side")
    assert(SemTauCheck.derive(spark, emb, 0L, pinned).isEmpty,
      "evalN = 0 leaves no eval side")
    assert(SemTauCheck.derive(spark, emb.limit(0), evalN, pinned).isEmpty)
  }
}
