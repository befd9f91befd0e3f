package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DERIVES the semantic-decontamination threshold
  * (`spark.graft.sem.tau`) from the corpus instead of trusting the
  * pinned default.
  *
  * The recipe the `dd_contaminate_sem` doc describes, executable: tau
  * sits at the ~0.1% quantile of the EXACT eval-to-corpus integer-L2
  * distance distribution (every corpus vector × every eval vector, the
  * eval side broadcast — the same E-bounded shape as the recall evals).
  * [[Stats]] carries the distribution's min / q0.001 / q0.01 / median,
  * the recommended conf value (q0.001 rounded up to 2 significant
  * digits, so the flag set is the distribution's own tail, not a magic
  * number) and how many pairs the pinned tau admits.
  *
  * `SemTauGateSpec` runs [[derive]] as a DRIFT GATE: a testdata
  * regeneration that shifts the embedding scale strands the pinned tau
  * outside its own quantile band — the gate fails the suite, printing
  * the recommendation, instead of silently flagging a different tail
  * (the `sk_kmv` lesson applied to this knob). Update `OracleDefaults`
  * and the static oracle SQL together when the recommendation moves.
  */
object SemTauCheck {

  /** The derived distribution facts for one (embeddings, evalN) corpus. */
  final case class Stats(nPairs: Long, minD2: Long, q0001: Double,
                         q001: Double, median: Double, underPinned: Long) {
    /** q0.001 rounded UP to 2 significant digits — the recommended conf
      * value; None when the quantile is degenerate: <= 0 (>=0.1% of
      * pairs are exact duplicates — no distance threshold separates
      * that tail), OR rounding to a value below 1, which truncation
      * would silently turn into tau = 0 — d2 is integer-valued, so an
      * interpolated sub-1 quantile (reachable when the tail is nearly
      * all exact duplicates) is the same degenerate tail in disguise.
      */
    def recommended: Option[Long] = {
      if (q0001 <= 0) None
      else {
        val mag = math.pow(10, math.floor(math.log10(q0001)) - 1)
        val rec = (math.ceil(q0001 / mag) * mag).toLong
        if (rec < 1) None else Some(rec)
      }
    }

    /** The drift gate: a pinned tau is IN BAND while it still admits
      * the tail the recipe targets — at or above the q0.001 it was
      * derived from (rounding is upward, so the derived conf always
      * is), and no higher than q0.01 (10× the target tail: past that
      * the "0.1% quantile" doc is a lie and the flag set's size has
      * drifted an order of magnitude).
      */
    def inBand(pinned: Long): Boolean =
      nPairs > 0 && pinned >= q0001 && pinned <= q001
  }

  /** Compute [[Stats]] for `emb` (vec_id, embedding) with eval ids
    * `< evalN`; None when the pair set is EMPTY (evalN = 0, evalN past
    * the max vec_id leaving no corpus side, or an empty table) — the
    * aggregate's min/percentiles are null there and unpacking them
    * would NPE.
    */
  private[graft] def derive(spark: SparkSession, emb: DataFrame,
                            evalN: Long, pinned: Long): Option[Stats] = {
    val qv = queries.SimilarityQueries.pqQuantize(emb)
    val d2 = qv.filter(col("vec_id") >= evalN)
      .select(col("vec_id"), col("q").as("cq"))
      .crossJoin(broadcast(qv.filter(col("vec_id") < evalN)
        .select(col("vec_id").as("eval_id"), col("q").as("qq"))))
      .select(expr("aggregate(zip_with(qq, cq, (x, y) -> (x - y) * (x - y)), " +
        "0L, (a, x) -> a + x)").as("d2"))
    val row = d2.agg(
      count(lit(1)).as("n_pairs"),
      min("d2").as("min_d2"),
      expr("percentile(d2, array(0.001, 0.01, 0.5))").as("qs"),
      sum(when(col("d2") <= pinned, 1L).otherwise(0L)).as("n_under_pinned")
    ).collect()(0)
    if (row.getLong(0) == 0) None
    else {
      val qs = row.getSeq[Double](2)
      Some(Stats(row.getLong(0), row.getLong(1), qs(0), qs(1), qs(2),
        row.getLong(3)))
    }
  }
}
