package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lifecycle passes over the persisted ANN index: incremental append
  * against FROZEN quantizers (`mergeIvfpqCodes`) and right-to-forget
  * deletion (`deleteFromCodes`). The parity contract mirrors
  * `mergeBandIndex ≡ rebuild`: code/index rows are pure per-vector
  * functions of the frozen quantizers, so maintenance output must be
  * ROW-IDENTICAL to a one-pass encode of the post-maintenance corpus.
  * (For the PQ tier "rebuild" means re-ENCODE against the same
  * quantizers — retraining parity is impossible by design: codebooks
  * are aggregate statistics and rotate on a scheduled re-index, which
  * is the documented Faiss operational shape.)
  * Value-level certification happens in the driver gate: the
  * `sim_ivfpq_incr` oracle trains on the base prefix and encodes the
  * full corpus in one pass (the rebuild), and `sim_ivfpq_del`'s oracle
  * serves the rebuild-without-deleted.
  */
class AnnMaintenanceSpec extends SparkSuite {
  import spark.implicits._

  private def codeRows(df: DataFrame) =
    df.select("vec_id", "cid", "m", "code")
      .as[(Long, Long, Int, Long)].collect().toSeq.sorted

  test("mergeIvfpqCodes ≡ one-pass encode, for pure append and for upsert") {
    val base = 400L
    val (coarse, rcent, baseCodes) =
      SimilarityQueries.ivfpqIndexOn(spark, sf, Some(base))
    val emb = graft.Tables.embeddings(spark, sf)
    // append: fresh ids fold in against the frozen quantizers
    val batch = emb.filter(col("vec_id") >= base)
    val merged = SimilarityQueries.mergeIvfpqCodes(
      baseCodes, batch, coarse, rcent, replaceExisting = false)
    val rebuilt = SimilarityQueries.ivfpqEncode(emb, coarse, rcent)
    assert(codeRows(merged) === codeRows(rebuilt))
    // upsert: a batch overlapping existing ids (vectors unchanged —
    // encoding is deterministic, so parity with the one-pass encode must
    // survive the anti-join + re-append round trip)
    val overlap = emb.filter(col("vec_id") >= 350)
    val upserted = SimilarityQueries.mergeIvfpqCodes(
      baseCodes, overlap, coarse, rcent)
    assert(codeRows(upserted) === codeRows(rebuilt))
  }

  test("deleteFromCodes ≡ encoding corpus ∖ deleted against the same " +
    "frozen quantizers") {
    val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, sf)
    val emb = graft.Tables.embeddings(spark, sf)
    val del = emb.select("vec_id").filter(col("vec_id") % 7 === 3)
    val after = SimilarityQueries.deleteFromCodes(codes, del)
    val rebuilt = SimilarityQueries.ivfpqEncode(
      emb.join(del, Seq("vec_id"), "left_anti"), coarse, rcent)
    assert(codeRows(after) === codeRows(rebuilt))
    assert(after.filter(col("vec_id") % 7 === 3).count() == 0)
  }

  test("sim_ivfpq_del never retrieves a deleted vector, and every query " +
    "still gets a full result set from the survivors") {
    val r = SimilarityQueries.simIvfpqDel(spark, sf)
    assert(r.filter(col("neighbor_id") % 7 === 3).count() == 0,
      "a forgotten vector surfaced as a neighbor")
    assert(r.groupBy("query_id").count().filter(col("count") =!= 5)
      .count() == 0)
  }
}
