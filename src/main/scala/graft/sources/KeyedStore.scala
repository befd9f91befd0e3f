package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit, max, regexp_extract, when}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Lifecycle of an append-maintained keyed index store — the shape every
  * streamed index in this engine converges to: a `base/` directory plus
  * one flat `batch_<id>/` per ingested micro-batch, periodically folded
  * into ONE Hive-partitioned layout by [[compact]], with durable
  * right-to-be-forgotten tombstones. Shared by the IVF-PQ code store
  * (`AnnStream`, key = vec_id, partitioned by cid), the MinHash band
  * index store (`DocStream`, key = doc_id, partitioned by band) and the
  * fingerprint store (`MediaStore`/`MediaStream`, key = media_id,
  * partitioned by band) — one lifecycle, three index families. The
  * clients supply only their schema and their pure index function: the
  * stream ingest ([[ingestStream]]), the compaction ([[compact]]) and
  * the rotation ([[replaceAll]]) are written once, here.
  *
  * Invariants the entry points maintain together:
  *  - index rows must be a PURE per-key function of frozen parameters
  *    (quantizers / hash family), so replayed batches re-land identical
  *    rows and append ≡ rebuild;
  *  - across DIFFERENT batch dirs the newest batch wins wholesale per
  *    key: a key re-sent in a later micro-batch (a re-embedded vector, a
  *    re-crawled document) REPLACES its older flat rows — [[serve]]
  *    reconciles by a per-key max over the batch id parsed from the file
  *    path, an aggregate bounded by the flat half (batches since the
  *    last compaction, plus `base/` before the first);
  *  - [[compact]] records the highest batch id it folded in a
  *    `_watermark` marker, and [[serve]] EXCLUDES flat dirs at or below
  *    it wholesale: a pre-fold batch replayed after the fold holds only
  *    rows the hive half already carries at their NEWEST folded version
  *    (or rows a still-live tombstone guards — retirement is bounded by
  *    the same replay horizon), so re-reading it could only let an
  *    older replay outrank a folded re-send. Exclusion is both the
  *    correct newest-wins answer and free (list-level, no join); the
  *    stale dirs themselves are cleaned up by the next [[compact]].
  *    The watermark assumes batch ids are monotone within one store
  *    generation (a streaming checkpoint's contract); [[replaceAll]]
  *    starts a new generation and drops it;
  *  - a micro-batch replayed AFTER a compaction but ABOVE the watermark
  *    (a batch the fold never saw) re-lands its `batch_<id>` dir next to
  *    the compacted `col=value/` dirs — [[serve]] reconciles by
  *    broadcast anti-join (compacted-vs-recent keys; the flat half is
  *    small post-compaction), never a store-wide dedup shuffle;
  *  - a flat dir is only served once its writer COMMITTED it (the
  *    `_SUCCESS` marker a Spark parquet job writes last): a dir
  *    mid-write is a partial micro-batch, and both [[serve]] and
  *    [[compact]]'s carry-over skip it — its uncommitted offsets replay
  *    it whole;
  *  - stores that went through a parameter rotation carry a
  *    `_generation` marker and every flat dir a `_gen` stamp
  *    ([[stampBatch]], written by the ingest wrappers with the
  *    generation they CAPTURED THEIR PARAMETERS under): [[serve]] and
  *    [[compact]] fail loudly on a mismatch, because a pre-rotation
  *    batch replayed after the swap re-lands rows encoded with RETIRED
  *    parameters that the newest-wins reconcile would otherwise
  *    faithfully serve — the checkpoint-reset contract enforced in
  *    code, not convention;
  *  - forgotten keys live in `_tombstones/` (underscore = invisible to
  *    every data read) as (key, forgotten_at_ms) rows, filter every
  *    [[serve]] — including rows a replay physically resurrects — and
  *    become physical at the next [[compact]]. Tombstones are carried
  *    across the swap UNTIL they retire: a tombstone recorded at T
  *    guards only replays of batches that predate the forget, and the
  *    stream's checkpoint retention bounds how old a replayable batch
  *    can be — once `now - T >= retireHorizonMs` no replay can re-land
  *    those rows and the (by then physical) delete needs no guard. The
  *    tombstone anti-join carries NO broadcast hint: the set is bounded
  *    only by the retirement horizon, and the planner must stay free to
  *    shuffle it if right-to-forget traffic ever outgrows a broadcast.
  */
object KeyedStore {

  private val ForgottenAt = "forgotten_at_ms"
  private val WatermarkFile = "_watermark"
  private val WatermarkCkptFile = "_watermark_ckpt"
  private val GenerationFile = "_generation"
  private val BatchGenFile = "_gen"
  private val BatchCkptFile = "_ckpt"
  private val CommitMarker = "_SUCCESS"
  private val CkptIdentityFile = "_graft_identity"

  /** Conf: byte bound on the flat half above which [[serve]] drops its
    * compacted-vs-recent broadcast hint and lets the planner choose the
    * join strategy. The hint is safe under the documented compaction
    * cadence ("bounded by batches since the last compaction"), but a
    * MISSED cadence at 100 TB would turn it into a driver OOM — above
    * the bound the reconcile degrades to a planner-chosen (possibly
    * shuffled) anti-join instead. Sized on the flat dirs' on-disk bytes
    * (cheap to list, and an over-estimate of the distinct-key frame the
    * hint actually wraps — conservative in the safe direction).
    */
  private[graft] val FlatBroadcastMaxBytes =
    "spark.graft.store.flatBroadcastMaxBytes"
  private val FlatBroadcastMaxBytesDefault = 256L * 1024 * 1024

  private def tombstonePath(storeDir: String): String =
    s"$storeDir/_tombstones"

  /** The durable tombstone set, with the retirement stamp backfilled for
    * stores written before stamps existed: a legacy row gets
    * `Long.MaxValue` — it NEVER retires silently (retiring it would
    * unguard replays the operator believed guarded); re-[[forget]]ting
    * the key refreshes it to a real stamp.
    */
  private def tombstones(s: SparkSession, storeDir: String,
                         keyCol: String, withTs: Boolean): Option[DataFrame] =
    Sinks.readExistingAny(s, tombstonePath(storeDir)).map { t =>
      if (!withTs) t.select(col(keyCol))
      else if (t.columns.contains(ForgottenAt))
        t.select(col(keyCol), col(ForgottenAt))
      else t.select(col(keyCol), lit(Long.MaxValue).as(ForgottenAt))
    }

  private def hadoopFs(s: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  // ---- tiny root-level marker files (watermark / generation) ----
  // Underscore names keep them invisible to every parquet read; they are
  // written inside the compaction/rotation tmp tree, so they swap
  // atomically with the data they describe.

  private def readMarker(s: SparkSession, dir: String,
                         name: String): Option[String] = {
    val (fs, p) = hadoopFs(s, dir)
    val f = new org.apache.hadoop.fs.Path(p, name)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim)
      } finally in.close()
    }
  }

  private def writeMarker(s: SparkSession, dir: String, name: String,
                          value: String): Unit = {
    val (fs, p) = hadoopFs(s, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, name), true)
    try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Highest batch id a [[compact]] has folded into the hive half, if
    * any — flat dirs at or below it are replayed pre-fold content.
    */
  private[graft] def watermark(s: SparkSession,
                               storeDir: String): Option[Long] =
    readMarker(s, storeDir, WatermarkFile).map(_.toLong)

  /** The store's parameter-generation id, if it has been stamped. Only
    * a [[replaceAll]] rotation stamps it: bootstrap stores deliberately
    * stay UNSTAMPED (and bootstrap wrappers refuse already-stamped
    * stores), so the first rotation is the moment batches start needing
    * a `_gen` to be admitted — a pre-rotation batch replayed afterwards
    * is then rejected as `<unstamped>` by construction.
    */
  private[graft] def generation(s: SparkSession,
                                storeDir: String): Option[String] =
    readMarker(s, storeDir, GenerationFile)

  /** Stamp a landed flat dir with the generation its rows were ENCODED
    * under — the ingest wrapper's generation captured at stream
    * definition (when it captured the quantizers/hash family), never
    * the store's current one: a replay stamped with whatever the store
    * says NOW would defeat the very mismatch the stamp exists to catch.
    * Prefer [[landBatch]], which makes the stamp atomic with the batch
    * commit; this entry point remains for tests that need to construct
    * the torn states landBatch exists to prevent.
    */
  private[graft] def stampBatch(s: SparkSession, storeDir: String,
                                dirName: String, gen: String): Unit =
    writeMarker(s, s"$storeDir/$dirName", BatchGenFile, gen)

  /** Land one micro-batch with its markers ATOMICALLY: `write` runs
    * against a hidden staging dir (dot-prefixed — invisible to the
    * flat-dir listing), the `_gen` stamp (when the ingest runs under a
    * rotated generation) and the `_ckpt` checkpoint-identity stamp are
    * written INSIDE it, and the staged dir then renames to `batch_<id>`
    * in one FS operation. The separate write-then-stamp sequence the
    * ingest wrappers previously ran left a window where a committed
    * (`_SUCCESS` present) but not-yet-stamped dir made every concurrent
    * [[serve]]/[[compact]] on a generation-stamped store throw — and a
    * crash in that window left the store throwing until the checkpoint
    * re-ran the batch. Replay idempotency is preserved: a re-run deletes
    * its own previous `batch_<id>` before the rename (a crash between
    * the delete and the rename just replays again — the batch's offsets
    * are still uncommitted while this runs inside foreachBatch).
    */
  private[graft] def landBatch(s: SparkSession, storeDir: String,
                               batchId: Long, gen: Option[String],
                               ckpt: String)(write: String => Unit): Unit = {
    val (fs, _) = hadoopFs(s, storeDir)
    val stage = new org.apache.hadoop.fs.Path(
      storeDir, s".batch_${batchId}__land__")
    if (fs.exists(stage)) fs.delete(stage, true)
    write(stage.toString)
    gen.foreach(g => writeMarker(s, stage.toString, BatchGenFile, g))
    writeMarker(s, stage.toString, BatchCkptFile, ckpt)
    val dst = new org.apache.hadoop.fs.Path(storeDir, s"batch_$batchId")
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(stage, dst))
      throw new java.io.IOException(
        s"landBatch: rename $stage -> $dst failed; batch left staged, " +
          "its uncommitted offsets will replay it")
  }

  /** The identity a landed batch's `_ckpt` stamp records. For a stream
    * WITH a checkpoint the identity must follow the checkpoint's
    * CONTENT, not its path: the common "fresh checkpoint" in practice
    * is wiping and reusing the same directory, where batch ids restart
    * at 0 — a path-derived identity would stay unchanged and serve's
    * loud-loss gate would silently swallow the restarted batches, the
    * exact loss mode the gate exists to catch. So the identity is a
    * UUID marker (`_graft_identity`) written into the checkpoint
    * directory on first use: restarts of the SAME checkpoint read the
    * same marker back, and a wiped-and-recreated directory mints a new
    * one (the wipe deletes the marker along with the offsets). Spark
    * ignores foreign files at the checkpoint root, so the marker rides
    * in the one location whose lifetime IS the batch sequence's.
    * Ephemeral-checkpoint streams never resume, so every definition is
    * genuinely a new sequence and gets a fresh token.
    */
  private[graft] def ckptIdentity(s: SparkSession,
                                  checkpointDir: Option[String]): String =
    checkpointDir match {
      case None =>
        "ephemeral_" + java.util.UUID.randomUUID().toString.take(12)
      case Some(dir) =>
        readMarker(s, dir, CkptIdentityFile).getOrElse {
          val id = "ckpt_" + java.util.UUID.randomUUID().toString.take(12)
          val (fs, p) = hadoopFs(s, dir)
          // no overwrite: lose the race loudly
          val out = fs.create(
            new org.apache.hadoop.fs.Path(p, CkptIdentityFile), false)
          try out.write(id.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          id
        }
    }

  /** The one stream ingest of a maintained store: parquet files of
    * `inputSchema` rows arriving under `inputDir`, each micro-batch
    * indexed by the client's pure per-key function and landed as one
    * `batch_<id>` through [[landBatch]] (atomic data + `_gen` + `_ckpt`
    * commit, replay-idempotent; exactly-once with `checkpointDir`).
    *
    * `gen` is the generation the index function encodes under: None for
    * a bootstrap stream (the store must be UNSTAMPED — a rotated store's
    * rows live under other parameters), the rotation's generation for a
    * resume stream (the store must carry exactly it). The check runs at
    * DEFINITION, before any write: failing before a batch lands (or a
    * bootstrap rewrites `base/` with stale rows) beats failing at the
    * first serve. `setup` runs only after the check passed — a bootstrap
    * client writes `base/` there — and returns the per-batch index
    * function. Use a FRESH checkpoint across a rotation: the old
    * sequence's offsets describe batches the rotation already folded in.
    *
    * `maxFilesPerTrigger` counts PART FILES, not input directories: a
    * directory that a k-partition writer wrote can land as up to k
    * `batch_<id>` dirs, each of which [[serve]] reconciles and
    * [[compact]] folds.
    */
  private[graft] def ingestStream(s: SparkSession, storeDir: String,
                                  gen: Option[String], inputDir: String,
                                  inputSchema: String,
                                  maxFilesPerTrigger: Option[Int],
                                  checkpointDir: Option[String])
                                 (setup: => DataFrame => DataFrame)
      : StreamingQuery = {
    val storeGen = generation(s, storeDir)
    if (storeGen != gen)
      throw new IllegalStateException(
        s"KeyedStore ingest: store $storeDir is at generation " +
          s"'${storeGen.getOrElse("<unstamped>")}' but this stream would " +
          s"land batches under '${gen.getOrElse("<unstamped>")}'. A " +
          "rotated store takes ingest only from its resume stream, under " +
          "the store's current generation and with a fresh checkpoint.")
    val ckpt = ckptIdentity(s, checkpointDir)
    val index = setup
    // input usually arrives as per-batch DIRECTORIES (a Spark writer's
    // output); the file source needs the recursive flag to see their
    // part files (hidden _SUCCESS markers stay filtered), and it admits
    // and counts those part files, not the directories
    val reader = s.readStream.schema(inputSchema)
      .option("recursiveFileLookup", "true")
    val input = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
    val writer = input.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(s, storeDir, batchId, gen, ckpt) { dst =>
          index(batch).write.mode("overwrite").parquet(dst)
        }
        ()
      }
    checkpointDir.fold(writer)(d => writer.option("checkpointLocation", d))
      .start()
  }

  /** `batch_<id>` dir-name rank — the same ordering [[serve]]'s
    * newest-wins reconcile derives from file paths (`base/` and any
    * non-`batch_<n>` name rank -1, below every batch).
    */
  private def flatRank(name: String): Long =
    "^batch_(\\d+)$".r.findFirstMatchIn(name)
      .map(_.group(1).toLong).getOrElse(-1L)

  /** Names of the flat (non-`col=value/`, non-underscore) dirs in the
    * store tree — the appended-batch half of the mixed layout.
    */
  private def flatDirNames(s: SparkSession, storeDir: String,
                           partCols: Seq[String]): Set[String] = {
    val (fs, p) = hadoopFs(s, storeDir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.filter { e =>
      val n = e.getPath.getName
      e.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
        !partCols.exists(c => n.startsWith(c + "="))
    }.map(_.getPath.getName).toSet
  }

  /** The flat dirs [[serve]] may read — three gates, in order:
    *  1. committed: a dir without its writer's `_SUCCESS` marker is a
    *     torn in-flight micro-batch — skipped (its uncommitted offsets
    *     replay it whole);
    *  2. above the compaction watermark: a dir at or below it is a
    *     replayed pre-fold batch whose content the hive half + live
    *     tombstones provably subsume — excluded wholesale, so an older
    *     replay can never outrank a folded re-send. The exclusion is
    *     only safe under the "monotone ids within one generation"
    *     contract, so it is ENFORCED where the stamps allow: a
    *     below-watermark dir whose `_ckpt` identity differs from the
    *     `_watermark_ckpt` the fold recorded is NOT a replay — it is a
    *     fresh-checkpoint ingest restarting batch ids at 0 on a
    *     compacted store, and silently swallowing it would lose new
    *     data, so the read FAILS instead (unstamped legacy dirs keep
    *     the documented silent-exclusion behavior);
    *  3. generation-stamped, when the store is: a surviving dir whose
    *     `_gen` is missing or differs from the store's `_generation`
    *     holds rows encoded under retired parameters — the read FAILS
    *     (IllegalStateException), never serves them.
    */
  private def admittedFlatDirs(s: SparkSession, storeDir: String,
                               partCols: Seq[String]): Set[String] = {
    val (fs, p) = hadoopFs(s, storeDir)
    val committed = flatDirNames(s, storeDir, partCols).filter { d =>
      fs.exists(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(p, d), CommitMarker))
    }
    val wm = watermark(s, storeDir)
    val fresh = wm.fold(committed)(w => committed.filter(d => flatRank(d) > w))
    // the loud-loss gate on the watermark exclusion: when both the fold
    // and the excluded dir carry checkpoint identities, a mismatch means
    // batch ids restarted under a NEW checkpoint on a compacted store —
    // fresh data about to be silently swallowed (and deleted by the next
    // compact). The generation mismatch below already fails loudly; this
    // makes the unrotated case fail loudly too.
    if (wm.isDefined) {
      readMarker(s, storeDir, WatermarkCkptFile).foreach { wc =>
        (committed -- fresh).foreach { d =>
          readMarker(s, s"$storeDir/$d", BatchCkptFile).foreach { c =>
            if (c != wc)
              throw new IllegalStateException(
                s"KeyedStore: flat dir '$d' under $storeDir sits at or " +
                  s"below the compaction watermark (${wm.get}) but was " +
                  s"written by checkpoint '$c', not the folded sequence's " +
                  s"'$wc' — a fresh-checkpoint ingest restarted batch ids " +
                  "on a compacted store and its NEW data would be " +
                  "silently excluded. Rotate the store (replaceAll) or " +
                  "resume the original checkpoint.")
          }
        }
      }
    }
    generation(s, storeDir).foreach { g =>
      fresh.foreach { d =>
        val bg = readMarker(s, s"$storeDir/$d", BatchGenFile)
        if (!bg.contains(g))
          throw new IllegalStateException(
            s"KeyedStore: flat dir '$d' under $storeDir carries generation " +
              s"'${bg.getOrElse("<unstamped>")}' but the store is at " +
              s"generation '$g'. Its rows were encoded under retired " +
              "parameters (a pre-rotation batch replayed after the " +
              "rotation, or an ingest stream restarted without re-reading " +
              "the rotated quantizers) and must not be served. Reset the " +
              "ingest checkpoint and re-encode, or remove the stale dir.")
      }
    }
    fresh
  }

  /** The two layout halves of the store tree, read apart: the
    * `col=value/` dirs of prior [[compact]]s (partition values live in
    * the DIRECTORY NAMES; `partitionBy` stripped them from the files)
    * and the named flat dirs (`base/`, `batch_<id>/` — values live IN
    * the data files). One `recursiveFileLookup` read over the mixed tree
    * is wrong twice: the flag disables partition inference, so
    * directory-encoded values vanish, and Spark then either throws
    * (column missing) or fills nulls depending on which footer it
    * samples. Each half is read under the caller's explicit `schema`
    * (partition-column types must never be re-inferred — the
    * `Scratch.stagedFramePartitioned` contract); [[serve]] reconciles
    * them.
    */
  private def readPartitionedTreeParts(s: SparkSession, storeDir: String,
                                       partCols: Seq[String],
                                       schema: StructType,
                                       flatDirs: Set[String])
      : (Option[DataFrame], Option[DataFrame]) = {
    val (fs, p) = hadoopFs(s, storeDir)
    val hive = fs.listStatus(p).iterator.filter { e =>
      val n = e.getPath.getName
      e.isDirectory && partCols.exists(c => n.startsWith(c + "="))
    }.map(_.getPath.toString).toIndexedSeq
    val flat = flatDirs.toIndexedSeq.sorted.map(d => s"$storeDir/$d")
    val cols = schema.fieldNames.map(col).toIndexedSeq
    (if (hive.isEmpty) None
     else Some(s.read.schema(schema).option("basePath", storeDir)
       .parquet(hive: _*).select(cols: _*)),
     if (flat.isEmpty) None
     else Some(s.read.schema(schema).option("recursiveFileLookup", "true")
       .parquet(flat: _*).select(cols: _*)))
  }

  /** The serving view: mixed-tree read (prior compactions + appended
    * batches) under the caller's explicit schema, replay and re-send
    * duplicates reconciled, tombstoned keys filtered. This is the ONE
    * read-side path every probe of a maintained store goes through. A
    * store whose every key was forgotten and compacted away serves an
    * EMPTY frame (the directory still exists; readers must not brick).
    *
    * QUIESCED fast path: when every batch has been folded and every
    * tombstone retired ([[compact]] with a horizon), the tree is pure
    * `col=value/` dirs with no guard set, and serve returns the ONE
    * hive scan directly — no union, no anti-join — so dynamic partition
    * pruning applies to probes through the store exactly as it does to
    * the staged index (spec-locked in IvfConfSpec at the scan-metrics
    * level). The reconcile machinery prices only the store's churn.
    *
    * `partPrune` GUARANTEES the hive half prunes through a
    * NON-quiesced reconcile — the store's steady-state read, since a
    * production store always has a pending batch or a live tombstone:
    * pass a small frame of partition-column values (the probe's cells)
    * and each LEG is semi-joined to it BEFORE the union, so a join
    * sits directly over the hive scan and dynamic partition pruning
    * applies by construction. Honest scope (BENCH_NOTES round 12,
    * "Busy-store DPP"): this Spark's DPP can ALSO reach the scan through the plain
    * union+anti-join reconcile, and its cost model chose correctly in
    * every measured shape — partPrune's value is that the prune is
    * spec-lockable at the scan-metrics level regardless of cost-model
    * estimates or reconcile shape, at the price of one broadcast
    * semi-join per leg. Result ≡ `serve(None)` semi-joined to the same
    * values: the key-level reconciles stay GLOBAL — the anti-join keys
    * come from the unpruned flat read and the newest-wins rank runs
    * before the restriction — so a key whose newest version moved
    * partitions still shadows its old rows.
    */
  def serve(s: SparkSession, storeDir: String, partCols: Seq[String],
            schema: StructType, keyCol: String,
            partPrune: Option[DataFrame] = None): DataFrame = {
    val admitted = admittedFlatDirs(s, storeDir, partCols)
    val (hive, flat) =
      readPartitionedTreeParts(s, storeDir, partCols, schema, admitted)
    def prune(df: DataFrame): DataFrame = partPrune.fold(df)(p =>
      // semi join ignores multiplicity, so the cells frame needs no
      // distinct; the hint is safe — nprobe cells per query, always tiny
      df.join(broadcast(p.select(partCols.map(col): _*)),
        partCols, "left_semi"))
    // flat-vs-flat: newest batch wins wholesale per key. The batch id is
    // the part file's immediate parent dir (`batch_<id>/part-...`;
    // `base/` ranks below every batch). Bounded by the flat half — no
    // broadcast hint: before the first compaction `base/` IS the corpus
    // and the per-key max must be free to shuffle (map-side combinable).
    // the newest-wins self-join is a no-op (pure overhead on the serving
    // hot path) unless at least TWO flat dirs exist — within one writer
    // output a key appears once per its rows, so `base/`-only stores and
    // single-batch tails skip it entirely
    val flatLatest = flat.map { f =>
      if (admitted.size <= 1) f
      else {
        val m = regexp_extract(input_file_name(), "/batch_(\\d+)/[^/]+$", 1)
        // `base/` (and any non-batch dir) extracts "" — ANSI cast would
        // throw, so rank it explicitly below every batch id
        val b = when(m === "", lit(-1L)).otherwise(m.cast("long"))
        val fb = f.withColumn("__graft_batch", b)
        // null-key rows BYPASS the reconcile: they are not versions of
        // one key (a null-safe join would collapse them all to a single
        // "latest" row) and a plain equi-join would silently eat them
        // (the Sinks.replaceKeysParquet lesson) — they pass through
        // like every other read path keeps them
        val nulls = fb.filter(col(keyCol).isNull).drop("__graft_batch")
        val keyed = fb.filter(col(keyCol).isNotNull)
        val latest = keyed.groupBy(keyCol)
          .agg(max("__graft_batch").as("__graft_b2"))
          .withColumnRenamed(keyCol, "__graft_k2")
        keyed.join(latest, col(keyCol) === col("__graft_k2") &&
            col("__graft_batch") === col("__graft_b2"))
          .drop("__graft_batch", "__graft_b2", "__graft_k2")
          .unionByName(nulls)
      }
    }
    val merged = (hive, flatLatest) match {
      case (Some(h), Some(f)) =>
        // compacted-vs-recent: flat keys replace their compacted rows.
        // Keys come from the RAW flat read (same key set as the
        // reconciled frame, one scan cheaper); bounded by batches since
        // the last compaction, so the hint is safe (unlike the
        // tombstone side) — but only while the cadence HOLDS, so the
        // hint is size-guarded: above FlatBroadcastMaxBytes of flat
        // on-disk bytes the planner chooses freely (a missed cadence
        // degrades to a shuffle join, not a driver OOM). Null-key hive
        // rows never match an anti-join key and correctly pass through.
        // The semi join sits INSIDE the anti (directly over the scan)
        // so DPP still reaches it.
        val cap = s.conf.get(FlatBroadcastMaxBytes,
          FlatBroadcastMaxBytesDefault.toString).toLong
        val keys = flat.get.select(keyCol).distinct()
        val keysHinted =
          if (flatBytes(s, storeDir, admitted) <= cap) broadcast(keys)
          else keys
        prune(h)
          .join(keysHinted, Seq(keyCol), "left_anti")
          .unionByName(prune(f))
      case (Some(h), None) => prune(h)
      case (None, Some(f)) => prune(f)
      case (None, None) =>
        // data-less but real store (a missing DIR already failed fast in
        // the tree listing): everything forgotten + compacted away must
        // serve empty, not brick the store for readers
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
    }
    tombstones(s, storeDir, keyCol, withTs = false) match {
      case Some(t) =>
        merged.join(t.select(keyCol).distinct(), Seq(keyCol), "left_anti")
      case None => merged
    }
  }

  /** Right-to-be-forgotten: record `ids` (a one-column frame named
    * `keyCol`) in the store's durable tombstone list, stamped
    * `forgotten_at_ms = atMs` — idempotent set-union through the
    * crash-safe upsert sink (re-forgetting a key refreshes its stamp,
    * which only EXTENDS the guard). Durable from this point; physical at
    * the next [[compact]]; retired once the replay horizon passes.
    * A legacy tombstone dir written before retirement stamps existed is
    * migrated in place first (backfilled `Long.MaxValue` — never retires
    * silently), so the merge below resolves both columns.
    */
  def forget(s: SparkSession, storeDir: String, keyCol: String,
             ids: DataFrame, atMs: Long = System.currentTimeMillis()): Unit = {
    val tp = tombstonePath(storeDir)
    Sinks.readExistingAny(s, tp)
      .filter(!_.columns.contains(ForgottenAt))
      .foreach { legacy =>
        val migrated = legacy.withColumn(ForgottenAt, lit(Long.MaxValue))
        Sinks.writeSwapWith(s, tp)(
          tmp => migrated.write.mode("overwrite").parquet(tmp))
      }
    Sinks.replaceKeysParquet(s,
      ids.select(keyCol).distinct().withColumn(ForgottenAt, lit(atMs)),
      tp, Seq(keyCol))
  }

  /** Tombstones still needed after a fold at `nowMs`: with a retirement
    * horizon, drop every tombstone old enough that no replayable batch
    * (checkpoint retention = `horizon`) can predate its forget — the
    * fold just made its delete physical, so it guards nothing.
    */
  private def unretired(t: DataFrame, retireHorizonMs: Option[Long],
                        nowMs: Long): DataFrame =
    retireHorizonMs.fold(t)(h => t.filter(col(ForgottenAt) > lit(nowMs - h)))

  /** Carry the unretired tombstones of `fromDir` into a new tree being
    * written at `tmpDir`. A FULLY-retired guard set writes nothing: its
    * absence is what re-enables the quiesced-store fast path in
    * [[serve]] (no flat dirs + no tombstone dir ⇒ serve is ONE
    * partition-prunable scan, DPP-eligible — the probe reads only its
    * probed partitions again, exactly like the staged index).
    */
  private def carryTombstones(s: SparkSession, fromDir: String,
                              tmpDir: String, keyCol: String,
                              retireHorizonMs: Option[Long],
                              nowMs: Long): Unit =
    tombstones(s, fromDir, keyCol, withTs = true).foreach { t =>
      val keep = unretired(t, retireHorizonMs, nowMs)
      if (!keep.isEmpty)
        keep.write.mode("overwrite").parquet(tombstonePath(tmpDir))
    }

  /** On-disk bytes of the admitted flat dirs (incl. `base/`) — the cheap
    * driver-side size estimate behind the serve() broadcast-hint guard.
    */
  private def flatBytes(s: SparkSession, storeDir: String,
                        dirs: Set[String]): Long = {
    val (fs, p) = hadoopFs(s, storeDir)
    dirs.iterator.map { d =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p, d)).getLength
    }.sum
  }

  private def countDataFiles(s: SparkSession, storeDir: String): Long = {
    val (fs, p) = hadoopFs(s, storeDir)
    var n = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")
        && !f.toString.contains("/_tombstones/")) n += 1
    }
    n
  }

  /** Compaction cadence: fold the whole tree through the [[serve]]
    * reconcile into ONE partitioned layout (crash-safe two-rename swap),
    * making deletes physical and restoring one-file-per-partition-value
    * scans — `maxRecordsPerFile` bounds a hot partition value into
    * ceil(rows/max) files instead of one unbounded file (probes still
    * prune at partition granularity; only the per-file row bound
    * changes). Tombstones are carried across the swap minus the ones
    * [[unretired]] retires; the `_generation` marker (if any) is carried
    * verbatim, and the `_watermark` advances to the highest batch id
    * this fold ingested (replayed pre-fold dirs and torn in-flight dirs
    * are NOT counted — they were not read — and are removed with the
    * old tree; replays of the former are subsumed by the new hive half,
    * the latter's uncommitted offsets re-land them whole). A committed
    * `batch_<id>` dir landed by a concurrent ingest DURING the rewrite
    * is re-listed and RENAMED into the new tree before the swap (same
    * FS by construction — O(1) per dir, not a byte copy through the
    * driver), so its micro-batch is not deleted with the old tree; a
    * batch landing in the hairline between that re-list and the rename
    * is still lost, and a crash between the carry-rename and the swap
    * leaves the carried dir under `.__swap__`, from where the next
    * swap's entry SALVAGES it back into the live tree instead of
    * deleting the only copy (`Sinks.writeSwapWith`) — pause ingest
    * across compactions (or accept replay-from-checkpoint re-landing
    * it) if the hairline matters. Returns
    * (dataFilesBefore, dataFilesAfter), tombstone files excluded from
    * both counts.
    */
  def compact(s: SparkSession, storeDir: String, partCols: Seq[String],
              schema: StructType, keyCol: String,
              maxRecordsPerFile: Option[Long] = None,
              retireHorizonMs: Option[Long] = None,
              nowMs: Long = System.currentTimeMillis()): (Long, Long) =
    compactWithHook(s, storeDir, partCols, schema, keyCol,
      maxRecordsPerFile, retireHorizonMs, nowMs, () => ())

  /** [[compact]] with a test seam: `afterWrite` runs after the folded
    * data lands in the new tree but BEFORE the carry-over re-list — the
    * spec's stand-in for a concurrent ingest committing a micro-batch
    * mid-compaction.
    */
  private[graft] def compactWithHook(
      s: SparkSession, storeDir: String, partCols: Seq[String],
      schema: StructType, keyCol: String,
      maxRecordsPerFile: Option[Long],
      retireHorizonMs: Option[Long], nowMs: Long,
      afterWrite: () => Unit): (Long, Long) = {
    val before = countDataFiles(s, storeDir)
    // what this fold will actually read — the serve() below recomputes
    // the same set (modulo a benign race: a batch landing between the
    // two listings is folded AND carried, and the newest-wins reconcile
    // serves its identical rows once)
    val folded = admittedFlatDirs(s, storeDir, partCols)
    val gen = generation(s, storeDir)
    val wmNew = {
      val cands = folded.map(flatRank) ++ watermark(s, storeDir)
      if (cands.isEmpty) None else Some(cands.max)
    }
    // the folded sequence's checkpoint identity, recorded next to the
    // watermark so serve() can tell a genuine pre-fold replay (same
    // identity — silently subsumed) from a fresh-checkpoint ingest
    // restarting ids at 0 (different identity — fails loudly). The
    // newest stamped batch speaks for the sequence; with none, any
    // previously recorded identity carries forward with the watermark.
    val wmCkptNew = folded.toSeq.sortBy(flatRank).reverse.iterator
      .map(d => readMarker(s, s"$storeDir/$d", BatchCkptFile))
      .collectFirst { case Some(c) => c }
      .orElse(readMarker(s, storeDir, WatermarkCkptFile))
    // the writer runs while the old tree still exists; the swap happens
    // only after the write, so lineage reading storeDir is safe
    val df = serve(s, storeDir, partCols, schema, keyCol)
    Sinks.writeSwapWith(s, storeDir) { tmp =>
      writePartitioned(df, tmp, partCols, maxRecordsPerFile)
      afterWrite()
      gen.foreach(g => writeMarker(s, tmp, GenerationFile, g))
      wmNew.foreach(w => writeMarker(s, tmp, WatermarkFile, w.toString))
      if (wmNew.isDefined)
        wmCkptNew.foreach(c => writeMarker(s, tmp, WatermarkCkptFile, c))
      // tombstones are carried near-LAST — a late read before the swap —
      // so a forget() committed at any point during the long data
      // rewrite is still in the carried set ("durable from this point"
      // must survive a concurrent compaction). The hairline between
      // this read and the rename is the same one the batch carry-over
      // documents: pause forget traffic across compactions if it
      // matters, or re-issue after.
      carryTombstones(s, storeDir, tmp, keyCol, retireHorizonMs, nowMs)
      // concurrent-ingest carry-over, the very last step (renames are
      // the only destructive reads of the old tree — doing them after
      // every other read minimizes the crash window): committed batch
      // dirs that appeared since the fold snapshot and rank above the
      // new watermark MOVE into the new tree untouched (serve
      // reconciles them like any other appended batch). Uncommitted
      // (no `_SUCCESS`) dirs are torn in-flight writes — carrying one
      // would serve a partial micro-batch as if complete, so they drop
      // with the old tree and their unacknowledged offsets replay them.
      val (fs, _) = hadoopFs(s, storeDir)
      (flatDirNames(s, storeDir, partCols) -- folded).foreach { d =>
        val committed = fs.exists(new org.apache.hadoop.fs.Path(
          s"$storeDir/$d", CommitMarker))
        if (committed && wmNew.forall(flatRank(d) > _)) {
          val src = new org.apache.hadoop.fs.Path(storeDir, d)
          val dst = new org.apache.hadoop.fs.Path(tmp, d)
          if (!fs.rename(src, dst))
            throw new java.io.IOException(
              s"compact carry-over: rename $src -> $dst failed; " +
                s"carried batch left at $src, new tree not swapped in")
        }
      }
    }
    (before, countDataFiles(s, storeDir))
  }

  /** Full re-index swap — the rotation cadence of every index family
    * (quantizers, hash family, fingerprint family): serve the store's
    * LIVE keys (tombstoned keys excluded), hand them to `reindex` — the
    * caller's re-index under its fresh parameters — and replace the
    * store's DATA wholesale with the result, written as one partitioned
    * layout through the same crash-safe swap as [[compact]]. Tombstones
    * are carried minus retirement — the rotation made every delete
    * physical, but replays of pre-rotation batches still need guarding
    * until the horizon passes. The store stays readable throughout: the
    * old tree is only renamed away after the new one is fully written.
    *
    * A re-index REQUIRES quiesced ingest: the flat dirs are listed
    * BEFORE the live keys are served, and a batch landing anywhere in
    * the serve → re-index → swap window fails the swap (its rows were
    * derived under the OLD parameters — carrying it would serve them
    * via the newest-wins reconcile, dropping it would silently lose a
    * committed batch). Stop ingest and re-run the rotation.
    *
    * The swapped store starts generation `gen` (the `_generation`
    * marker), so a pre-rotation batch replayed afterwards — rows encoded
    * under the retired parameters, stamped with the old generation or
    * not at all — makes [[serve]]/[[compact]] fail loudly instead of
    * silently winning the newest-wins reconcile. The compaction
    * `_watermark` is deliberately NOT carried: the caller resets the
    * ingest checkpoint across a rotation (that contract is what the
    * generation stamp enforces), so batch ids restart and an old
    * watermark would swallow the new sequence's first batches.
    */
  def replaceAll(s: SparkSession, storeDir: String, partCols: Seq[String],
                 schema: StructType, keyCol: String, gen: String,
                 maxRecordsPerFile: Option[Long] = None,
                 retireHorizonMs: Option[Long] = None,
                 nowMs: Long = System.currentTimeMillis())
                (reindex: DataFrame => DataFrame): Unit = {
    val before = flatDirNames(s, storeDir, partCols)
    val newData = reindex(
      serve(s, storeDir, partCols, schema, keyCol).select(keyCol).distinct())
    Sinks.writeSwapWith(s, storeDir) { tmp =>
      writePartitioned(newData, tmp, partCols, maxRecordsPerFile)
      // checked after the rewrite, the last moment before the swap
      // (writeSwapWith aborts before any rename, old tree intact)
      val landed = flatDirNames(s, storeDir, partCols) -- before
      if (landed.nonEmpty)
        throw new IllegalStateException(
          s"replaceAll: ingest batches landed during the re-index " +
            s"(${landed.mkString(", ")}) — stop the ingest stream across " +
            "a rotation, then re-run it")
      writeMarker(s, tmp, GenerationFile, gen)
      carryTombstones(s, storeDir, tmp, keyCol, retireHorizonMs, nowMs)
    }
  }

  private def writePartitioned(df: DataFrame, path: String,
                               partCols: Seq[String],
                               maxRecordsPerFile: Option[Long]): Unit = {
    val w = df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
    maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
      .partitionBy(partCols: _*).parquet(path)
  }
}
