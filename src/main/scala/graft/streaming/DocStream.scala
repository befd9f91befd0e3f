package graft.streaming

import graft.operators.TextDedup
import graft.sources.KeyedStore
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest dedup: the incremental band-index matcher
  * (`TextDedup.incrementalNearDups`) re-expressed as a continuously
  * running stream, so a document firehose is deduplicated against ALL
  * history without ever rescanning it.
  *
  * The signing/banding front end is literally the batch transform —
  * `TextDedup.minhashBandIndex` is pure column expressions, so it
  * applies to a streaming DataFrame unchanged (one code path for both
  * engines' semantics, the same property the reference pipeline gets by
  * running one pandas function in both its batch and "live" loaders —
  * see /root/reference behavior, not code). What the stream adds is
  * WHERE the historical index lives: instead of a persisted parquet
  * band index joined per batch, each (band, band_hash) bucket's
  * signature set lives in the state store, keyed exactly like the batch
  * index's join key, and arriving documents probe only their own
  * buckets.
  *
  * State discipline (the 100 TB contract):
  *  - State per bucket holds one representative per DISTINCT signature
  *    (min doc_id), not per document — the collapse-first doctrine from
  *    `minhashLshScaledPairs`: a boilerplate page repeated 10⁶ times
  *    costs its buckets ONE member each, and every later replica still
  *    matches it at est = 1.0. Bucket state is bounded by unique-text
  *    count, the same thing the persisted batch index stores.
  *  - No timeout: dedup-against-all-history is the semantics; bounding
  *    recall to a horizon is a policy choice made by adding an
  *    event-time timeout, not a correctness requirement.
  *  - Within a micro-batch, members are folded in doc_id order, so a
  *    batch containing both copies of a pair deterministically reports
  *    the later id matching the earlier — byte-identical re-runs.
  *
  * Output is the raw candidate stream (doc, matched representative,
  * per-bucket agreement estimate), deduped per doc downstream the same
  * way the batch matcher's window picks max-est/min-id — kept separate
  * here because a global per-doc argmax is a second stateful stage in
  * streaming, and the per-bucket candidates are already exact.
  */
object DocStream {

  /** One distinct signature resident in a bucket: its min-id
    * representative and the full k-hash signature.
    */
  case class BucketMember(rep_id: Long, sig: List[String])

  /** Bucket state: all distinct signatures seen in this (band,
    * band_hash) bucket since stream start.
    */
  case class BucketState(members: List[BucketMember])

  /** A candidate match emitted when an arriving doc shares a band
    * bucket with a resident signature: `est` is the full-signature
    * agreement fraction (identical to the batch matcher's zip_with
    * count), `match_id` the resident's min-id representative.
    */
  case class Candidate(doc_id: Long, match_id: Long, est: Double)

  /** Deduplicate a streaming `documents` frame (doc_id, text) against
    * all prior stream history. Emits [[Candidate]] rows in Append mode;
    * parameters mirror [[TextDedup.incrementalNearDups]].
    */
  def nearDupCandidates(docs: DataFrame, shingleN: Int, bands: Int,
                        rowsPerBand: Int, minEst: Double): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val k = bands * rowsPerBand

    val banded = TextDedup.minhashBandIndex(docs, shingleN, bands, rowsPerBand)
      .select(col("band").cast("int"), col("band_hash"),
        col("doc_id").cast("long"), col("sig"))
      .as[(Int, String, Long, List[String])]

    def probe(key: (Int, String), rows: Iterator[(Int, String, Long, List[String])],
              state: GroupState[BucketState]): Iterator[Candidate] = {
      var members = state.getOption.map(_.members).getOrElse(Nil)
      val out = List.newBuilder[Candidate]
      // doc_id order makes same-batch pairs deterministic (later matches
      // earlier, as if the docs had arrived in separate batches)
      rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sig) =>
        members.foreach { m =>
          val agree = sig.iterator.zip(m.sig.iterator).count { case (p, q) => p == q }
          val est = agree.toDouble / k
          if (est >= minEst) out += Candidate(id, m.rep_id, est)
        }
        // collapse: only a NEW distinct signature joins the bucket; a
        // replica's representative stays the first (min) id seen
        if (!members.exists(_.sig == sig)) members ::= BucketMember(id, sig)
      }
      state.update(BucketState(members))
      out.result().iterator
    }

    banded.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(probe)
  }

  /** Batch-side reduction of the candidate stream to per-doc verdicts —
    * max est, ties to min match_id, exactly the batch matcher's window
    * rule. Run inside foreachBatch or over the collected sink table.
    */
  def bestMatches(candidates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(desc("est"), col("match_id"))
    candidates
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("match_id"), round(col("est"), 4).as("match_est"))
  }

  // ---- persisted band-index store: ingest / serve / forget / compact ----
  // The dedup index family gets the SAME maintained-store lifecycle as
  // the ANN code store (graft.sources.KeyedStore; AnnStream is the other
  // client): band-index rows are a pure per-document function of the
  // fixed hash family, so streamed appends ≡ one-pass rebuild, replayed
  // batches re-land identical rows, and right-to-forget has TRUE rebuild
  // parity.

  private val DocSchema = "doc_id BIGINT, text STRING"

  /** The generation identity of a banding family: its parameters. */
  private def family(shingleN: Int, bands: Int, rowsPerBand: Int): String =
    s"band_${shingleN}_${bands}x$rowsPerBand"

  /** Streaming INDEX MAINTENANCE for the persisted MinHash band index —
    * the dedup sibling of `AnnStream.ivfpqIngestStream`: the historical
    * corpus (`doc_id < baseBound` of `corpusDir`'s documents) is signed
    * ONCE into `outDir/base`; new documents then ARRIVE as a parquet
    * stream and each micro-batch is signed/banded (only the batch — the
    * corpus is never re-tokenized) and lands as one idempotent
    * `batch_<id>` append. A replayed micro-batch overwrites its own
    * `batch_<id>` path (exactly-once with `checkpointDir`). Serve
    * probes through [[storeBandIndex]]; run [[compactBandStore]] on the
    * maintenance cadence. Bootstrap-only, the
    * `AnnStream.ivfpqIngestStream` contract: a rotated store refuses at
    * definition — resume it with [[bandIndexResumeIngestStream]].
    */
  def bandIndexIngestStream(s: org.apache.spark.sql.SparkSession,
                            docDir: String, corpusDir: String,
                            baseBound: Long, outDir: String,
                            shingleN: Int, bands: Int, rowsPerBand: Int,
                            maxFilesPerTrigger: Option[Int] = None,
                            checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    KeyedStore.ingestStream(s, outDir, None, docDir, DocSchema,
        maxFilesPerTrigger, checkpointDir) {
      val base = graft.Tables.documents(s, corpusDir)
        .filter(col("doc_id") < baseBound).select("doc_id", "text")
      TextDedup.minhashBandIndex(base, shingleN, bands, rowsPerBand)
        .write.mode("overwrite").parquet(s"$outDir/base")
      TextDedup.minhashBandIndex(_, shingleN, bands, rowsPerBand)
    }

  /** Resume ingest into a ROTATED band store — the post-
    * [[rotateBandStore]] continuation of [[bandIndexIngestStream]]:
    * signs arriving documents under the ROTATED family (whose parameter
    * string must equal the store's `_generation` — checked at
    * definition, failing before any batch lands) and stamps every batch
    * with it, so [[graft.sources.KeyedStore.serve]] can tell this
    * generation's batches from a pre-rotation replay. No `base/` write:
    * the rotated store's data already is the re-indexed corpus. Use a
    * FRESH `checkpointDir` (the rotation folded the old sequence in).
    */
  def bandIndexResumeIngestStream(s: org.apache.spark.sql.SparkSession,
                                  docDir: String, storeDir: String,
                                  shingleN: Int, bands: Int,
                                  rowsPerBand: Int,
                                  maxFilesPerTrigger: Option[Int] = None,
                                  checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    KeyedStore.ingestStream(s, storeDir,
        Some(family(shingleN, bands, rowsPerBand)), docDir, DocSchema,
        maxFilesPerTrigger, checkpointDir)(
      TextDedup.minhashBandIndex(_, shingleN, bands, rowsPerBand))

  /** Serving view of the maintained band-index store (mixed-tree read,
    * replay reconcile, tombstones filtered) — feed it to
    * `TextDedup.incrementalNearDups` as the corpus index.
    */
  def storeBandIndex(s: org.apache.spark.sql.SparkSession, storeDir: String,
                     schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    KeyedStore.serve(s, storeDir, Seq("band"), schema, "doc_id")

  /** Right-to-be-forgotten over the maintained band index: durable
    * tombstones now, physical at the next [[compactBandStore]]. A
    * forgotten document can never surface as anyone's near-dup match
    * again — not even from a replayed micro-batch that physically
    * re-lands its rows.
    */
  def forgetDocs(s: org.apache.spark.sql.SparkSession, storeDir: String,
                 ids: DataFrame): Unit =
    KeyedStore.forget(s, storeDir, "doc_id", ids)

  /** Compaction cadence: fold base + batches + tombstones into ONE
    * band-partitioned layout (one file per band — the bucket-join's
    * scan shape; `maxRecordsPerFile` bounds a hot band into several).
    * `retireHorizonMs` (checkpoint retention) retires tombstones no
    * replay can need — see [[graft.sources.KeyedStore.compact]].
    * Returns (dataFilesBefore, dataFilesAfter).
    */
  def compactBandStore(s: org.apache.spark.sql.SparkSession,
                       storeDir: String,
                       schema: org.apache.spark.sql.types.StructType,
                       maxRecordsPerFile: Option[Long] = None,
                       retireHorizonMs: Option[Long] = None)
      : (Long, Long) =
    KeyedStore.compact(s, storeDir, Seq("band"), schema, "doc_id",
      maxRecordsPerFile, retireHorizonMs)

  /** Hash-family ROTATION — the band-index twin of the ANN quantizer
    * rotation (`SimilarityQueries.rotateIvfpqIndex`): re-index the
    * store's LIVE documents (served view minus tombstones) under NEW
    * banding parameters and swap atomically
    * (`KeyedStore.replaceAll` — store readable throughout, tombstones
    * carried minus retirement). This is how a deployment re-tunes
    * recall (more bands) or cost (fewer) on a running store without a
    * correctness gap: index rows are pure per-doc functions of the
    * parameters, so the swapped store IS the one-pass index under the
    * new family. Same operational contract as the ANN rotation: reset
    * the ingest stream's checkpoint across a rotation — a pre-rotation
    * batch replayed afterwards would re-land rows hashed with the OLD
    * family next to the new ones.
    */
  def rotateBandStore(s: org.apache.spark.sql.SparkSession,
                      storeDir: String, corpusDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      shingleN: Int, bands: Int, rowsPerBand: Int,
                      retireHorizonMs: Option[Long] = None,
                      nowMs: Long = System.currentTimeMillis()): Unit =
    // the banding parameters ARE the generation identity: a
    // pre-rotation batch replayed after the swap (hashed under the old
    // family, stamped with it or not at all) fails serve loudly
    KeyedStore.replaceAll(s, storeDir, Seq("band"), schema, "doc_id",
        family(shingleN, bands, rowsPerBand),
        retireHorizonMs = retireHorizonMs, nowMs = nowMs) { live =>
      val docs = graft.Tables.documents(s, corpusDir)
        .join(live, Seq("doc_id"), "left_semi").select("doc_id", "text")
      TextDedup.minhashBandIndex(docs, shingleN, bands, rowsPerBand)
    }
}
