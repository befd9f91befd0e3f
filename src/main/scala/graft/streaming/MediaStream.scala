package graft.streaming

import graft.multimodal.{Media, MediaStore}
import graft.sources.KeyedStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ingest for the maintained multimodal fingerprint store —
  * the resume-capable wrapper [[graft.multimodal.MediaStore]] was
  * missing while the ANN code store (`AnnStream`) and the MinHash band
  * store (`DocStream`) already had theirs. Fingerprint ROWS (media_id,
  * h64) arrive as a parquet stream — the decode/fingerprint step runs
  * upstream where the binaries live (the multimodal stub precedent:
  * prints are ~32 B/media, so streaming prints instead of pixels is
  * also the only shape whose micro-batches stay small at 100 TB of
  * media) — and each micro-batch lands banded via
  * [[graft.sources.KeyedStore.ingestStream]]: atomic data+stamp commit,
  * `batch_<id>` replay-idempotent, checkpoint identity stamped so a
  * fresh-sequence restart on a compacted store fails serve loudly.
  */
object MediaStream {

  private val PrintSchema = "media_id BIGINT, h64 BIGINT"

  /** Bootstrap-phase ingest into an UNROTATED store: batches stay
    * family-unstamped (there is no generation yet — the first
    * [[MediaStore.rotate]] stamps the store, after which a replay of
    * these batches is rejected as '<unstamped>': old-family prints
    * must never share the rotated Hamming space). Refuses a rotated
    * store at definition — resume those with
    * [[printResumeIngestStream]].
    */
  def printIngestStream(s: SparkSession, printDir: String, storeDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        checkpointDir: Option[String] = None)
      : StreamingQuery =
    KeyedStore.ingestStream(s, storeDir, None, printDir, PrintSchema,
      maxFilesPerTrigger, checkpointDir)(Media.band64)

  /** Resume ingest into a ROTATED store — the post-[[MediaStore.rotate]]
    * continuation: arriving prints MUST have been computed under the
    * rotated family (`generation` must equal the store's stamp — checked
    * at definition, failing before any batch lands), and every batch is
    * stamped with it so serve can tell this family's batches from a
    * pre-rotation replay. Use a FRESH `checkpointDir`: the rotation
    * folded the old sequence in.
    */
  def printResumeIngestStream(s: SparkSession, printDir: String,
                              storeDir: String, generation: String,
                              maxFilesPerTrigger: Option[Int] = None,
                              checkpointDir: Option[String] = None)
      : StreamingQuery =
    KeyedStore.ingestStream(s, storeDir, Some(generation), printDir,
      PrintSchema, maxFilesPerTrigger, checkpointDir)(Media.band64)
}
