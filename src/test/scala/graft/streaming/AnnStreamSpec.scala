package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Streaming ANN probe vs batch `sim_pq` — bit equality, not an error
  * band (the KmvStreamSpec doctrine). The ten batch query vectors arrive
  * split across two parquet files consumed one per micro-batch, so the
  * equality only holds if the probe is genuinely per-batch pure: no
  * cross-batch state, no dependence on which queries share a trigger.
  */
class AnnStreamSpec extends SparkSuite {

  test("streamed PQ verdicts are bit-equal to batch sim_pq on the same queries") {
    val qDir = tempDir("ann_q")
    val outDir = tempDir("ann_out") + "/probe"
    val emb = graft.Tables.embeddings(spark, sf)
    // two micro-batches that split the full batch query set in half, so
    // the equality only holds if the probe is per-batch pure
    val nq = graft.queries.SimilarityQueries.PqNQ
    emb.filter(col("vec_id") < nq / 2)
      .write.mode("overwrite").parquet(s"$qDir/b0.parquet")
    emb.filter(col("vec_id") >= nq / 2 && col("vec_id") < nq)
      .write.mode("overwrite").parquet(s"$qDir/b1.parquet")

    val ckpt = tempDir("ann_ckpt")
    val q = AnnStream.pqProbeStream(spark, qDir, sf, outDir,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    try { q.processAllAvailable() } finally { q.stop() }

    def readOut() = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    val streamed = readOut()
    val batch = graft.queries.SimilarityQueries.simPq(spark, sf)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch diverge: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    assert(streamed.nonEmpty)
  }

  test("streamed IVF-PQ verdicts are bit-equal to batch sim_ivfpq") {
    val qDir = tempDir("ivfpq_q")
    val outDir = tempDir("ivfpq_out") + "/probe"
    val emb = graft.Tables.embeddings(spark, sf)
    val nq = graft.queries.SimilarityQueries.PqNQ
    emb.filter(col("vec_id") < nq / 2)
      .write.mode("overwrite").parquet(s"$qDir/b0.parquet")
    emb.filter(col("vec_id") >= nq / 2 && col("vec_id") < nq)
      .write.mode("overwrite").parquet(s"$qDir/b1.parquet")

    val q = AnnStream.ivfpqProbeStream(spark, qDir, sf, outDir,
      maxFilesPerTrigger = Some(1))
    try { q.processAllAvailable() } finally { q.stop() }

    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(outDir)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.SimilarityQueries.simIvfpq(spark, sf)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch diverge: ${streamed.diff(batch)} vs ${batch.diff(streamed)}")
    assert(streamed.nonEmpty)
  }

  test("streaming index maintenance: the ingested code store equals the " +
    "one-pass encode, and probes through it match batch sim_ivfpq_incr") {
    import graft.queries.SimilarityQueries
    val vecDir = tempDir("ivfpq_ingest_v")
    val storeDir = tempDir("ivfpq_ingest_s") + "/codes"
    val emb = graft.Tables.embeddings(spark, sf)
    val base = 400L
    // two ingest micro-batches splitting the post-base corpus — equality
    // below only holds if encoding is per-batch pure against the FROZEN
    // quantizers (no dependence on batch boundaries)
    emb.filter(col("vec_id") >= base && col("vec_id") < 450)
      .write.mode("overwrite").parquet(s"$vecDir/b0.parquet")
    emb.filter(col("vec_id") >= 450)
      .write.mode("overwrite").parquet(s"$vecDir/b1.parquet")

    val q = AnnStream.ivfpqIngestStream(spark, vecDir, sf, base, storeDir,
      maxFilesPerTrigger = Some(1))
    try { q.processAllAvailable() } finally { q.stop() }

    val store = spark.read.option("recursiveFileLookup", "true")
      .parquet(storeDir)
    val (coarse, rcent, _) = SimilarityQueries.ivfpqIndexOn(spark, sf, Some(base))
    val onePass = SimilarityQueries.ivfpqEncode(emb, coarse, rcent)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "m", "code").collect().map(_.toSeq).toSet
    assert(rows(store) == rows(onePass),
      "maintained store must be row-identical to the one-pass encode")
    // and SERVING through the maintained store = the batch incr query
    val served = SimilarityQueries.ivfpqProbe(
        emb.filter(col("vec_id") < SimilarityQueries.PqNQ),
        coarse, rcent, store)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    val batchIncr = SimilarityQueries.simIvfpqIncr(spark, sf)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    assert(served == batchIncr)
    assert(served.nonEmpty)

    // the compaction cadence: fold base/ + batch dirs into ONE
    // cid-partitioned layout (the scan-prunable form), then re-serve —
    // parity must survive, and the file count must actually drop
    val storeSchema = store.schema
    val nCids = store.select("cid").distinct().count()
    val (nBefore, nAfter) = AnnStream.compactStore(spark, storeDir,
      storeSchema)
    // the invariant is BOUNDEDNESS, not strict shrinkage: after
    // compaction the file count is one per populated cell, independent
    // of how many ingest batches accumulated (here 2 batches + base can
    // be FEWER than 8 cells; in production batches >> cells and the
    // collapse is the point)
    assert(nAfter <= nCids,
      s"compacted store must be <=1 file per cell: $nBefore -> $nAfter " +
        s"files for $nCids cells")
    val compacted = spark.read.schema(storeSchema).parquet(storeDir)
      .select("vec_id", "cid", "m", "code")
    assert(rows(compacted) == rows(onePass),
      "compaction must not change the store's rows")
    val servedCompact = SimilarityQueries.ivfpqProbe(
        emb.filter(col("vec_id") < SimilarityQueries.PqNQ),
        coarse, rcent, compacted)
      .select("query_id", "rank", "neighbor_id", "adc_dist")
      .collect().map(_.toSeq).toSet
    assert(servedCompact == batchIncr,
      "probes through the compacted store must match the batch query")
  }

  test("streaming right-to-forget: tombstones hold across a post-compaction " +
    "micro-batch replay, and the recurring compaction makes the delete physical") {
    import graft.queries.SimilarityQueries
    import spark.implicits._
    val vecDir = tempDir("ivfpq_forget_v")
    val storeDir = tempDir("ivfpq_forget_s") + "/codes"
    val emb = graft.Tables.embeddings(spark, sf)
    val base = 400L
    emb.filter(col("vec_id") >= base && col("vec_id") < 450)
      .write.mode("overwrite").parquet(s"$vecDir/b0.parquet")
    emb.filter(col("vec_id") >= 450)
      .write.mode("overwrite").parquet(s"$vecDir/b1.parquet")
    val q = AnnStream.ivfpqIngestStream(spark, vecDir, sf, base, storeDir,
      maxFilesPerTrigger = Some(1))
    try { q.processAllAvailable() } finally { q.stop() }
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(storeDir).schema

    // compaction cycle 1 folds base/ + batch dirs into cid=*/ layout and
    // records the folded batch ids (0, 1) as the watermark
    AnnStream.compactStore(spark, storeDir, schema)

    // forget one base vector and one streamed vector (durable tombstones)
    val dels = Seq(123L, 457L)
    AnnStream.forgetVectors(spark, storeDir, dels.toDF("vec_id"))

    // REPLAY: a micro-batch re-lands AFTER its rows were folded away —
    // exactly the write its foreachBatch would repeat on recovery. At or
    // below the watermark (batch_1) the fold subsumes it wholesale; ABOVE
    // it (batch_2, a batch the fold never saw) it is served, so only the
    // tombstone keeps the replayed rows of forgotten vector 457 hidden.
    // The store tree now mixes cid=*/ dirs and two flat replay dirs
    val (coarse, rcent, _) =
      SimilarityQueries.ivfpqIndexOn(spark, sf, Some(base))
    val replay = SimilarityQueries.ivfpqEncode(
      emb.filter(col("vec_id") >= 450), coarse, rcent)
    replay.write.mode("overwrite").parquet(s"$storeDir/batch_1")
    replay.write.mode("overwrite").parquet(s"$storeDir/batch_2")
    assert(spark.read.parquet(s"$storeDir/batch_2")
      .filter(col("vec_id") === 457L).count() > 0,
      "the above-watermark replay must physically carry forgotten 457")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "m", "code").collect().map(_.toSeq).toSet
    val truth = rows(SimilarityQueries.ivfpqEncode(
      emb.filter(!col("vec_id").isin(dels: _*)), coarse, rcent))

    // serving view: replay duplicates reconciled, forgotten ids filtered
    val view = AnnStream.storeCodes(spark, storeDir, schema)
    assert(rows(view) == truth,
      "serving view must equal the one-pass encode minus forgotten ids, " +
        "even over the replay-duplicated tree")
    assert(view.filter(col("vec_id").isin(dels: _*)).isEmpty,
      "the tombstones must hide the forgotten ids the replay re-landed")
    val queries = emb.filter(col("vec_id") < SimilarityQueries.PqNQ)
    def neighbors(codes: org.apache.spark.sql.DataFrame) =
      SimilarityQueries.ivfpqProbe(queries, coarse, rcent, codes)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
        .collect().map(_.toSeq).toSet
    val served = neighbors(view)
    assert(!served.exists(r => dels.contains(r(2).asInstanceOf[Long])),
      "a forgotten vector must never be retrieved")
    val rebuilt = neighbors(SimilarityQueries.ivfpqEncode(
      emb.filter(!col("vec_id").isin(dels: _*)), coarse, rcent))
    assert(served == rebuilt,
      "probes through the store must match the rebuild-without-deleted")

    // compaction cycle 2 over the MIXED tree (the re-runnability the
    // recurring cadence needs): delete becomes physical, probes hold
    val nCids = view.select("cid").distinct().count()
    val (_, nAfter) = AnnStream.compactStore(spark, storeDir, schema)
    assert(nAfter <= nCids, s"cycle-2 compaction must rebound the file " +
      s"count to <=1 per cell, got $nAfter for $nCids cells")
    // `_tombstones` is skipped by the plain read (underscore prefix):
    // what is physically left on disk is exactly truth
    val physical = spark.read.schema(schema).parquet(storeDir)
    assert(rows(physical) == truth,
      "after delete+compact the forgotten rows must be physically gone")
    assert(neighbors(AnnStream.storeCodes(spark, storeDir, schema)) == rebuilt,
      "probe parity must survive the second compaction")
  }

  test("rotation drill: the swap refuses while ingest is live, the " +
    "bootstrap stream refuses a rotated store, and the RESUME stream " +
    "(fresh checkpoint, stamped batches) serves ≡ batch rebuild-on-live") {
    import graft.queries.SimilarityQueries
    val vecDir = tempDir("rot_drill_v")
    val storeDir = tempDir("rot_drill_s") + "/codes"
    val emb = graft.Tables.embeddings(spark, sf)
    val base = 400L
    val q = AnnStream.ivfpqIngestStream(spark, vecDir, sf, base, storeDir,
      maxFilesPerTrigger = Some(1))
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(storeDir).schema
    val (_, _, baseCodes) =
      SimilarityQueries.ivfpqIndexOn(spark, sf, Some(base))
    // (a) the rotation window opens while the stream is LIVE: replaceAll
    // has listed the flat dirs and served the live keys, then a
    // micro-batch lands inside the re-index — the swap must refuse
    // (exercised from the stream side; the spec-side twin stages the
    // batch by hand)
    val refused = intercept[IllegalStateException] {
      graft.sources.KeyedStore.replaceAll(spark, storeDir, Seq("cid"),
          schema, "vec_id", "never") { _ =>
        emb.filter(col("vec_id") >= base && col("vec_id") < 450)
          .write.mode("overwrite").parquet(s"$vecDir/b0.parquet")
        try q.processAllAvailable() finally q.stop()
        baseCodes
      }
    }
    assert(refused.getMessage.contains("landed during the re-index"),
      refused.getMessage)
    assert(new java.io.File(storeDir, "batch_0").isDirectory,
      "the stream must have landed its batch inside the window")
    assert(graft.sources.KeyedStore.generation(spark, storeDir).isEmpty,
      "the refused swap must leave the store unstamped and intact")

    // (b) the real rotation, on the STOPPED stream
    val tag = "rot_drill"
    val (coarse1, rcent1) = AnnStream.rotateStore(spark, storeDir, sf,
      schema, tag)
    assert(graft.sources.KeyedStore.generation(spark, storeDir)
      .contains(tag))
    // the old bootstrap definition cannot be pointed at the rotated
    // store: it would rewrite base/ and land stale-quantizer batches
    intercept[IllegalStateException] {
      AnnStream.ivfpqIngestStream(spark, vecDir, sf, base, storeDir)
    }
    // and the resume wrapper cross-checks its generation
    intercept[IllegalStateException] {
      AnnStream.ivfpqResumeIngestStream(spark, vecDir, storeDir,
        coarse1, rcent1, generation = "some_other_rotation")
    }

    // (c) RESUME: fresh checkpoint (re-processes vecDir under the NEW
    // quantizers — re-encoded replays are value-correct by purity),
    // batches stamped with the rotation's generation
    emb.filter(col("vec_id") >= 450)
      .write.mode("overwrite").parquet(s"$vecDir/b1.parquet")
    val q2 = AnnStream.ivfpqResumeIngestStream(spark, vecDir, storeDir,
      coarse1, rcent1, generation = tag, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tempDir("rot_ckpt2")))
    try q2.processAllAvailable() finally q2.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "m", "code").collect().map(_.toSeq).toSet
    val served = rows(AnnStream.storeCodes(spark, storeDir, schema))
    assert(served == rows(SimilarityQueries.ivfpqEncode(emb, coarse1, rcent1)),
      "post-rotation streamed serve must equal the one-pass rebuild on " +
        "the live corpus under the rotated quantizers")
    // the stamps are really on disk, and the guarded serve read them
    val stamped = new java.io.File(storeDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(stamped.nonEmpty &&
      stamped.forall(d => new java.io.File(d, "_gen").isFile),
      "every resumed batch dir must carry its generation stamp")
  }
}
