package graft.streaming

import graft.queries.SimilarityQueries
import graft.sources.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ANN serving over the persisted PQ index — the streaming
  * twin of batch `sim_pq`.
  *
  * Production shape: the corpus is encoded ONCE (codebook + code table,
  * [[graft.queries.SimilarityQueries.pqIndex]] — the dd_incremental
  * built-once-index doctrine); query vectors then ARRIVE as a stream and
  * each micro-batch runs the identical integer ADC probe against the
  * index inside `foreachBatch`. Because the probe is a pure per-batch
  * function of (query rows, index) with no cross-batch state, streamed
  * verdicts are BIT-EQUAL to the batch query over the same query set —
  * AnnStreamSpec asserts it row-for-row (the KmvStreamSpec doctrine:
  * equality, not an error band).
  *
  * Scale shape: per micro-batch the only moving parts are the broadcast
  * Q×PqM×PqK distance table and one (m, code) equi-join against the code
  * table — the raw corpus vectors never participate after encoding, and
  * query batches never shuffle the index side.
  */
object AnnStream {

  private val VecSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>"

  /** Probe a parquet stream of (vec_id, embedding) query vectors against
    * the PQ index of `indexDir`'s corpus; write per-batch top-k verdicts
    * under `outDir` (one `batch_<id>` subdirectory per micro-batch — read
    * the tree back with `recursiveFileLookup`).
    *
    * Exactly-once: pass `checkpointDir` so restarts resume from the last
    * committed offset instead of reprocessing the whole `queryDir`, and
    * note the sink writes each micro-batch to its OWN subdirectory with
    * overwrite — a micro-batch replayed after a failure lands on the same
    * `batch_<id>` path and replaces itself rather than duplicating
    * verdicts (a bare `mode("append").parquet(outDir)` would be
    * at-least-once). Without `checkpointDir` Spark uses a discarded temp
    * checkpoint: fine for tests, reprocess-from-scratch on restart.
    */
  def pqProbeStream(s: SparkSession, queryDir: String, indexDir: String,
                    outDir: String,
                    maxFilesPerTrigger: Option[Int] = None,
                    checkpointDir: Option[String] = None): StreamingQuery = {
    val (cent, codes) = SimilarityQueries.pqIndex(s, indexDir)
    val reader = s.readStream.schema(VecSchema)
      // query files usually arrive as per-batch DIRECTORIES (a Spark
      // writer's output); the flat file source needs the recursive flag
      // to see their part files (hidden _SUCCESS markers stay filtered),
      // and `maxFilesPerTrigger` counts those part files, not directories
      .option("recursiveFileLookup", "true")
    val queries = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(queryDir)
    val writer = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SimilarityQueries
          .pqProbe(SimilarityQueries.pqCells(SimilarityQueries.pqQuantize(batch)),
            cent, codes)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Continuous IVF-PQ serving — the streaming twin of batch
    * `sim_ivfpq`, against the same built-once index (coarse centroids +
    * residual codebooks + codes). Same contract as [[pqProbeStream]]:
    * per-batch pure probe (verdicts bit-equal to batch on the same query
    * set), per-batch `batch_<id>` subdirs overwritten on replay, resume
    * via `checkpointDir`.
    */
  def ivfpqProbeStream(s: SparkSession, queryDir: String, indexDir: String,
                       outDir: String,
                       maxFilesPerTrigger: Option[Int] = None,
                       checkpointDir: Option[String] = None): StreamingQuery = {
    val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(s, indexDir)
    val reader = s.readStream.schema(VecSchema)
      .option("recursiveFileLookup", "true")
    val queries = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(queryDir)
    val writer = queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SimilarityQueries.ivfpqProbe(batch, coarse, rcent, codes)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
        ()
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** Streaming INDEX MAINTENANCE — the continuous twin of batch
    * [[graft.queries.SimilarityQueries.mergeIvfpqCodes]] (and the ANN
    * sibling of DocStream's incremental dedup ingest): new corpus
    * vectors ARRIVE as a stream, each micro-batch is encoded against the
    * FROZEN quantizers of the base index (trained on `indexDir`'s
    * `vec_id < baseBound` prefix), and its code rows land as one
    * idempotent partition append. The maintained store is
    * self-contained under `codesOutDir`: `base/` (written once here,
    * overwrite-idempotent) plus one `batch_<id>/` per micro-batch —
    * serve probes through [[storeCodes]]. A replayed micro-batch
    * overwrites its own `batch_<id>` path (exactly-once with
    * `checkpointDir`, the pqProbeStream contract). Because codes are a
    * pure per-vector function of the frozen quantizers, the store is
    * row-identical to a one-pass encode of base ∪ every ingested batch
    * — AnnStreamSpec asserts equality to the batch `sim_ivfpq_incr`
    * serving path. Per-batch cost: O(batch encode) — the corpus is never
    * touched; fold the accumulated batch dirs back into one
    * cid-partitioned layout with [[compactStore]]
    * (`KeyedStore.compact`).
    *
    * This stream BOOTSTRAPS an unrotated store: it refuses a rotated one
    * at definition, before `base/` is rewritten — resume those with
    * [[ivfpqResumeIngestStream]]. Its batches stay generation-unstamped
    * (the first rotation stamps the store, after which a replay of them
    * is rejected as '<unstamped>') but carry their checkpoint identity
    * ([[KeyedStore.ingestStream]]).
    */
  def ivfpqIngestStream(s: SparkSession, vecDir: String, indexDir: String,
                        baseBound: Long, codesOutDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        checkpointDir: Option[String] = None): StreamingQuery =
    KeyedStore.ingestStream(s, codesOutDir, None, vecDir, VecSchema,
        maxFilesPerTrigger, checkpointDir) {
      val (coarse, rcent, baseCodes) =
        SimilarityQueries.ivfpqIndexOn(s, indexDir, Some(baseBound))
      baseCodes.write.mode("overwrite").parquet(s"$codesOutDir/base")
      SimilarityQueries.ivfpqEncode(_, coarse, rcent)
    }

  /** Resume ingest into a ROTATED store — the post-[[rotateStore]]
    * continuation of [[ivfpqIngestStream]]: encodes arriving vectors
    * with the CALLER-SUPPLIED (rotated) quantizers, stamps every batch
    * with their `generation` (the rotation's staging tag), and touches
    * no `base/` (the rotated store's data already IS the re-encoded
    * corpus). Fails at DEFINITION time if the store's `_generation`
    * differs from `generation`. Use a FRESH `checkpointDir`: the
    * pre-rotation checkpoint's offsets describe batches the rotation
    * already folded in, and its ids would collide with the new
    * sequence.
    */
  def ivfpqResumeIngestStream(s: SparkSession, vecDir: String,
                              storeDir: String,
                              coarse: DataFrame, rcent: DataFrame,
                              generation: String,
                              maxFilesPerTrigger: Option[Int] = None,
                              checkpointDir: Option[String] = None)
      : StreamingQuery =
    KeyedStore.ingestStream(s, storeDir, Some(generation), vecDir,
        VecSchema, maxFilesPerTrigger, checkpointDir)(
      SimilarityQueries.ivfpqEncode(_, coarse, rcent))

  // ---- maintained-store lifecycle: serve / forget / compact ----
  // All three delegate to the shared graft.sources.KeyedStore lifecycle
  // (key = vec_id, partitioned by cid) — the same machinery DocStream
  // uses for the MinHash band-index store. Invariants and hazard
  // analysis (replay duplicates reconciled by broadcast anti-join,
  // durable tombstones held across compaction) live on KeyedStore.

  /** The serving view of an [[ivfpqIngestStream]] store — the ONE
    * read-side reconcile every probe goes through: mixed-tree read,
    * post-compaction replay duplicates reconciled, forgotten vectors
    * filtered ([[KeyedStore.serve]]).
    */
  def storeCodes(s: SparkSession, storeDir: String,
                 schema: org.apache.spark.sql.types.StructType): DataFrame =
    KeyedStore.serve(s, storeDir, Seq("cid"), schema, "vec_id")

  /** Right-to-be-forgotten over the maintained store: durable tombstone
    * upsert — [[storeCodes]] filters the ids on every read (including
    * rows a replayed micro-batch re-lands later); the next
    * [[compactStore]] makes the delete physical.
    */
  def forgetVectors(s: SparkSession, storeDir: String,
                    ids: DataFrame): Unit =
    KeyedStore.forget(s, storeDir, "vec_id", ids)

  /** Compaction cadence: fold the whole tree through the [[storeCodes]]
    * reconcile into ONE cid-partitioned layout (crash-safe swap) —
    * forgotten vectors physically gone, every probe prunes on `cid`
    * again. `maxRecordsPerFile` bounds hot cells into multiple files;
    * `retireHorizonMs` (the ingest stream's checkpoint retention)
    * retires tombstones no replay can need — see
    * [[KeyedStore.compact]]. Returns
    * (dataFilesBefore, dataFilesAfter).
    */
  def compactStore(s: SparkSession, storeDir: String,
                   schema: org.apache.spark.sql.types.StructType,
                   maxRecordsPerFile: Option[Long] = None,
                   retireHorizonMs: Option[Long] = None)
      : (Long, Long) =
    KeyedStore.compact(s, storeDir, Seq("cid"), schema, "vec_id",
      maxRecordsPerFile, retireHorizonMs)

  /** Quantizer rotation over the maintained store — the scheduled
    * re-index: retrain both codebook levels on the served view minus
    * tombstones (raw vectors come from `d`'s embeddings table),
    * re-encode, atomic swap. Returns the fresh (coarse, residual)
    * quantizers for the probe side. Reset this store's ingest-stream
    * checkpoint across a rotation (pre-rotation replays would re-land
    * stale-quantizer rows) — contract and details on
    * [[graft.queries.SimilarityQueries.rotateIvfpqIndex]].
    */
  def rotateStore(s: SparkSession, storeDir: String, d: String,
                  schema: org.apache.spark.sql.types.StructType,
                  tag: String,
                  retireHorizonMs: Option[Long] = None)
      : (DataFrame, DataFrame) =
    SimilarityQueries.rotateIvfpqIndex(s, storeDir, d, schema, tag,
      retireHorizonMs)
}
