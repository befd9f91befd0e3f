package graft.multimodal

import graft.sources.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Maintained store for 64-bit multimodal fingerprints (image aHash,
  * audio energy-delta prints) — the third client of the shared
  * [[graft.sources.KeyedStore]] lifecycle, alongside the IVF-PQ code
  * store (`AnnStream`) and the MinHash band store (`DocStream`). The
  * persisted rows are [[Media.band64]]'s banded layout (media_id, h64,
  * band, band_val), partitioned by `band`: a pure per-print function of
  * the fixed 4×16-bit banding, so replayed batches re-land identical
  * rows, append ≡ rebuild, and right-to-be-forgotten has true rebuild
  * parity — the same invariants the other two index families carry.
  *
  * Serving composes the store's reconciled view with
  * [[Media.pairsFromBanded]] (self near-dups) or the banded probe join
  * ([[probe]] — arriving media matched against history without
  * re-hashing it). The binary payloads never enter the store: only
  * (id, 64-bit print) rows are ever written or shuffled, so the store's
  * footprint is ~32 bytes/print regardless of media size — the property
  * that makes a 100 TB media corpus's dedup index a few GB.
  *
  * Rotation (`rotate-on-rehash`): a fingerprint FAMILY change — a new
  * normalization (resize before aHash), a different contour window
  * count — re-prints the LIVE media and swaps atomically with a new
  * generation stamp, so a pre-rotation batch replayed afterwards fails
  * loudly instead of mixing prints from two families in one Hamming
  * space (distances across families are meaningless, which is exactly
  * the silent corruption the stamp exists to catch).
  */
object MediaStore {

  val PartCols: Seq[String] = Seq("band")

  val Schema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("h64", LongType),
    StructField("band", IntegerType),
    StructField("band_val", LongType)))

  /** Bootstrap the store's `base/` corpus print table — idempotent
    * overwrite, ranked below every batch by [[KeyedStore.serve]]'s
    * reconcile. `hashes` is (media_id, h64). Batches land through
    * `graft.streaming.MediaStream`'s ingest streams.
    */
  def bootstrap(s: SparkSession, storeDir: String, hashes: DataFrame): Unit =
    Media.band64(hashes).write.mode("overwrite").parquet(s"$storeDir/base")

  /** The reconciled serving view of the banded print table (replay
    * duplicates resolved, tombstoned media filtered).
    */
  def serve(s: SparkSession, storeDir: String): DataFrame =
    KeyedStore.serve(s, storeDir, PartCols, Schema, "media_id")

  /** All near-dup pairs within the stored corpus at Hamming ≤
    * `maxHamming` — [[Media.pairsFromBanded]] over the served view.
    */
  def nearDups(s: SparkSession, storeDir: String, maxHamming: Int): DataFrame =
    Media.pairsFromBanded(serve(s, storeDir), maxHamming)

  /** Match NEW prints against the stored history without re-hashing it
    * (the `incrementalNearDups` shape for fingerprints): band the probe
    * side, equi-join on (band, band_val) — complete at Hamming ≤ 15 by
    * pigeonhole — popcount-verify, report each probe's best match
    * (min hamming, ties to min stored id) or nothing if novel.
    */
  def probe(s: SparkSession, storeDir: String, hashes: DataFrame,
            maxHamming: Int): DataFrame = {
    require(maxHamming < 16, "pigeonhole over 4 bands covers hamming <= 15")
    val stored = serve(s, storeDir).select(col("band"), col("band_val"),
      col("media_id").as("match_id"), col("h64").as("sh"))
    Media.band64(hashes)
      .join(stored, Seq("band", "band_val"))
      .select(col("media_id"), col("match_id"),
        bit_count(col("h64").bitwiseXOR(col("sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("media_id")
      .agg(min(struct(col("hamming"), col("match_id"))).as("mm"))
      .select(col("media_id"), col("mm.match_id").as("match_id"),
        col("mm.hamming").as("hamming"))
  }

  /** Right-to-be-forgotten: durable tombstones now, physical at the
    * next [[compact]]; a forgotten clip/image can never surface as a
    * near-dup match again, replays included.
    */
  def forget(s: SparkSession, storeDir: String, ids: DataFrame): Unit =
    KeyedStore.forget(s, storeDir, "media_id", ids)

  /** Fold the tree into one band-partitioned layout; tombstones retire
    * past `retireHorizonMs` — see [[KeyedStore.compact]].
    */
  def compact(s: SparkSession, storeDir: String,
              maxRecordsPerFile: Option[Long] = None,
              retireHorizonMs: Option[Long] = None): (Long, Long) =
    KeyedStore.compact(s, storeDir, PartCols, Schema, "media_id",
      maxRecordsPerFile, retireHorizonMs)

  /** Fingerprint-family rotation: `newHashes` is the LIVE media
    * re-printed under the new family (the caller re-decodes; only ids
    * still served survive the semi-join, so tombstones hold), swapped
    * atomically under `generation` — stale-family replays then fail
    * loudly at serve/compact ([[KeyedStore.replaceAll]] semantics).
    */
  def rotate(s: SparkSession, storeDir: String, newHashes: DataFrame,
             generation: String,
             retireHorizonMs: Option[Long] = None): Unit =
    KeyedStore.replaceAll(s, storeDir, PartCols, Schema, "media_id",
        generation, retireHorizonMs = retireHorizonMs)(live =>
      Media.band64(newHashes.join(live, Seq("media_id"), "left_semi")))
}
