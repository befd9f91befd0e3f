package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quantizer rotation over a maintained code store
  * ([[SimilarityQueries.rotateIvfpqIndex]]): the scheduled re-index the
  * `deleteFromCodes` doc promises — retrain both codebook levels on the
  * served view minus tombstones, re-encode, atomic swap. The oracle gate
  * (`sim_ivfpq_rot`) certifies rotation ≡ rebuild-on-live end to end;
  * this spec certifies the three properties the gate can't see: the
  * store's physical state across the swap (readable throughout, no swap
  * debris, tombstones carried), rotation ≡ one-pass re-encode at the
  * ROW level, and the capacity-planner's number — post-rotate recall on
  * the standard query window is no worse than serving the stale
  * base-trained quantizers (the whole point of rotating).
  */
class RotateSpec extends SparkSuite {
  import spark.implicits._

  private val base = 400L

  /** recall@5 hit count of probing `codes` with the given quantizers,
    * truth = exact integer-L2 top-5 over the LIVE corpus.
    */
  private def hits(coarse: DataFrame, rcent: DataFrame, codes: DataFrame,
                   live: DataFrame): Long = {
    import org.apache.spark.sql.expressions.Window
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < SimilarityQueries.PqNQ)
    val got = SimilarityQueries.ivfpqProbe(queries, coarse, rcent, codes)
      .select("query_id", "neighbor_id")
    val qv = SimilarityQueries.pqQuantize(live)
    val qq = SimilarityQueries.pqQuantize(queries)
    val exact = qv.select(col("vec_id").as("neighbor_id"), col("q").as("cq"))
      .crossJoin(broadcast(qq.select(col("vec_id").as("query_id"),
        col("q").as("qq"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("aggregate(zip_with(qq, cq, (x, y) -> (x - y) * (x - y)), " +
          "0L, (a, x) -> a + x)").as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))))
      .filter(col("rk") <= 5)
      .select("query_id", "neighbor_id")
    got.join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
  }

  test("rotation retrains on the live view, swaps atomically, carries " +
    "tombstones, and does not lose recall vs the stale quantizers") {
    val dir = tempDir("rot") + "/store"
    val emb = graft.Tables.embeddings(spark, sf)
    val (coarse0, rcent0, baseCodes) =
      SimilarityQueries.ivfpqIndexOn(spark, sf, Some(base))
    val schema = baseCodes.schema
    baseCodes.write.mode("overwrite").parquet(s"$dir/base")
    SimilarityQueries.ivfpqEncode(emb.filter(col("vec_id") >= base),
        coarse0, rcent0)
      .write.mode("overwrite").parquet(s"$dir/batch_0")
    val dels = emb.select("vec_id").filter(col("vec_id") % 7 === 3)
    graft.sources.KeyedStore.forget(spark, dir, "vec_id", dels)
    val live = emb.join(dels, Seq("vec_id"), "left_anti")

    def serve() = graft.sources.KeyedStore.serve(
      spark, dir, Seq("cid"), schema, "vec_id")
    val preHits = hits(coarse0, rcent0, serve(), live)

    val (coarse1, rcent1) = SimilarityQueries.rotateIvfpqIndex(
      spark, dir, sf, schema, tag = s"rotspec_${graft.Scratch.digest(sf)}")

    // the swap left a clean tree: readable, no two-rename debris, pure
    // hive layout (every flat batch dir folded), tombstones carried
    val parent = new java.io.File(dir).getParentFile
    assert(!new java.io.File(parent, "store.__swap__").exists())
    assert(!new java.io.File(parent, "store.__old__").exists())
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(subdirs.contains("_tombstones"),
      "tombstones must survive rotation (pre-rotation replays still " +
        s"need guarding): $subdirs")
    assert((subdirs - "_tombstones").forall(_.startsWith("cid=")),
      s"post-rotate tree must be pure hive layout: $subdirs")

    // rotation ≡ one-pass re-encode of the live corpus with the fresh
    // quantizers, row for row
    def rows(df: DataFrame) =
      df.select("vec_id", "cid", "m", "code").collect().map(_.toSeq).toSet
    assert(rows(serve()) ==
      rows(SimilarityQueries.ivfpqEncode(live, coarse1, rcent1)),
      "rotated store must equal the one-pass encode on the live view")

    // the capacity-planner property: retraining on the full live corpus
    // must not serve worse recall than the stale 400-vector quantizers
    val postHits = hits(coarse1, rcent1, serve(), live)
    info(s"recall hits: stale=$preHits rotated=$postHits")
    assert(postHits >= preHits,
      s"rotation lost recall: $preHits -> $postHits")

    // a forgotten vector stays unservable through the rotated store
    val served = serve().select("vec_id").distinct()
      .join(dels, Seq("vec_id"), "left_semi").count()
    assert(served == 0, "forgotten ids must stay out of the rotated store")
  }
}
