package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Properties of the round-7 additions: product-quantization ANN
  * (`sim_pq`) and the deterministic training-order shuffle
  * (`ds_shuffle`). The value-level cross-engine check is the DuckDB
  * oracle; these specs assert the structural contracts the oracle's
  * row-hash can't name.
  */
class PqShuffleSpec extends SparkSuite {

  test("sim_pq: every query gets exactly k ranked neighbors, ADC nondecreasing") {
    val r = SimilarityQueries.simPq(spark, sf).cache()
    try {
      val perQuery = r.groupBy("query_id")
        .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"),
          count_distinct(col("rank")).as("nr"))
      assert(perQuery.filter(
        col("n") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5 || col("nr") =!= 5)
        .count() == 0, "each query must carry ranks exactly 1..5")
      assert(r.filter(col("adc_dist") < 0).count() == 0, "ADC is a sum of squares")
      // within a query, rank order IS adc order (ties broken by id): a
      // higher rank can never have a smaller distance
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy("rank")
      assert(r.withColumn("prev", lag("adc_dist", 1).over(w))
        .filter(col("prev").isNotNull && col("adc_dist") < col("prev"))
        .count() == 0, "adc_dist must be nondecreasing in rank")
      assert(r.filter(col("query_id") === col("neighbor_id")).count() == 0,
        "self never appears as a neighbor")
    } finally { r.unpersist(); () }
  }

  test("sim_pq approximates the exact ranking: ADC top-5 overlaps exact top-10") {
    // The testdata embeddings are unclustered random vectors — the worst
    // case for PQ, where distances concentrate and ADC noise is the same
    // order as the distance spread — so a per-query floor is just noise
    // (measured: 18/50 total hits, 8/10 queries with >=1, vs a random
    // expectation of 5*10/499 ~ 0.1 hits per query). The guard is
    // therefore aggregate-vs-random: a broken codebook scores ~1 total.
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val exact = q.crossJoin(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qe"), col("ce"),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
          lit(0.0d), (acc, v) => acc + v).as("d2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))))
      .filter(col("rk") <= 10)
      .select("query_id", "neighbor_id")
    val overlap = SimilarityQueries.simPq(spark, sf)
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    val rows = overlap.orderBy("query_id").collect()
    rows.foreach(r => info(s"overlap: $r"))
    val total = rows.map(_.getLong(1)).sum
    assert(total >= 10, s"total ADC hits $total/50 — random is ~1, codebook is broken")
    assert(rows.length >= 6, s"only ${rows.length}/10 queries had any hit in exact top-10")
  }

  test("sim_pq fails loudly on drifted embedding width (never short subvectors)") {
    import spark.implicits._
    val bad = Seq((1L, Array.fill(32)(0.5f)), (2L, Array.fill(32)(0.1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityQueries.pqCells(SimilarityQueries.pqQuantize(bad)).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("embedding dim")), e.toString)
  }

  test("ds_shuffle is a permutation: every doc exactly once, per-shard positions contiguous") {
    val docs = graft.Tables.documents(spark, sf)
    val r = TextQueries.dsShuffle(spark, sf).cache()
    try {
      assert(r.count() == docs.count())
      assert(r.select("doc_id").distinct().count() == docs.count())
      val byShard = r.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      assert(byShard.filter(col("lo") =!= 1 || col("hi") =!= col("n"))
        .count() == 0, "positions must be 1..n within each shard")
    } finally { r.unpersist(); () }
  }

  test("ds_shuffle is growth-stable: surviving docs keep shard and relative order") {
    // the property that makes a hash shuffle usable on a LIVING corpus:
    // dropping half the docs must not move any survivor to a new shard or
    // reorder two survivors — their positions just compact
    val full = TextQueries.dsShuffle(spark, sf)
    val halfDir = tempDir("graft_shuf")
    graft.Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$halfDir/documents.parquet")
    val half = TextQueries.dsShuffle(spark, halfDir)
    val joined = full.join(half.withColumnRenamed("shard", "shard2")
      .withColumnRenamed("pos", "pos2"), "doc_id")
    assert(joined.filter(col("shard") =!= col("shard2")).count() == 0,
      "a surviving doc changed shard")
    // order preserved <=> within each shard, pos2 is monotone in pos
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("pos")
    assert(joined.withColumn("prev2", lag("pos2", 1).over(w))
      .filter(col("prev2").isNotNull && col("pos2") <= col("prev2"))
      .count() == 0, "surviving docs were reordered")
  }
}
