package graft.multimodal

import graft.SparkSuite
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.functions._

/** The maintained fingerprint store's full lifecycle over REAL decoded
  * pixels — ingest → compact → ingest → forget → replay → rotate, the
  * `sim_ivfpq_store`/`dd_band_store` drill for the multimodal family
  * (spec-certified, not oracle-gated: DuckDB cannot decode pixels, the
  * established precedent). Truth at every step is the one-pass banded
  * index over live media — rebuild parity, the KeyedStore contract.
  */
class MediaStoreSpec extends SparkSuite {
  import spark.implicits._
  private implicit lazy val s: org.apache.spark.sql.SparkSession = spark

  private def png(img: BufferedImage): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Gradient image with a tweakable corner patch (the MediaPHashSpec
    * generator: small patches keep most aHash cells stable).
    */
  private def grad(patch: Int): Array[Byte] = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach { y =>
      (0 until 64).foreach { x =>
        val v = (255 * x / 63) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    (0 until 3).foreach(y => (0 until 3).foreach(x => img.setRGB(x, y, patch)))
    png(img)
  }

  private def checker(cell: Int): Array[Byte] = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach(y => (0 until 64).foreach(x =>
      img.setRGB(x, y, if ((x / cell + y / cell) % 2 == 0) 0xffffff else 0)))
    png(img)
  }

  private def mediaOf(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, b) => Media.MediaRow(id, "image", b, 0, 0) }.toDS()
  }

  /** Vertical gradient — structurally distinct from [[grad]] AND from
    * every checkerboard (fine checkers alias under aHash: both
    * checker(2) and checker(4) downsample to uniform 8x8 luma).
    */
  private def vgrad(): Array[Byte] = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach { y =>
      (0 until 64).foreach { x =>
        val v = (255 * y / 63) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
    }
    png(img)
  }

  private val bytesById: Map[Long, Array[Byte]] = Map(
    1L -> grad(0x000000), 2L -> grad(0x202020), // near-dups of each other
    3L -> checker(4), 4L -> checker(16),
    5L -> grad(0x303030), 6L -> vgrad(),
    7L -> checker(4), 8L -> grad(0x101010))

  private def hashesOf(ids: Seq[Long]) =
    Media.imageHashes(mediaOf(ids.map(i => (i, bytesById(i))): _*))
      .withColumnRenamed("ahash", "h64")

  /** The rotated family: aHash over 32x32-normalized pixels — a
    * genuinely different print space (a normalization change IS a family
    * change).
    */
  private def v2Hashes(ids: Seq[Long]) = Media.imageHashes(
    Media.resizeImages(mediaOf(ids.map(i => (i, bytesById(i))): _*), 32, 32))
    .withColumnRenamed("ahash", "h64")

  /** Land one print batch the way the ingest streams do: the banded
    * rows through `KeyedStore.landBatch`, unstamped, under one sequence
    * identity.
    */
  private def land(dir: String, hashes: org.apache.spark.sql.DataFrame,
                   batchId: Long): Unit =
    graft.sources.KeyedStore.landBatch(spark, dir, batchId, None,
      "spec_seq") { dst =>
      Media.band64(hashes).write.mode("overwrite").parquet(dst)
    }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "hamming").collect().map(_.toSeq).toSet

  test("fingerprint store lifecycle: ingest -> compact -> ingest -> " +
    "forget -> replay serves near-dups equal to the one-pass index " +
    "over live media") {
    val dir = tempDir("mediastore") + "/prints"
    MediaStore.bootstrap(spark, dir, hashesOf(Seq(1L, 2L, 3L, 4L)))
    land(dir, hashesOf(Seq(5L, 6L)), 0L)
    MediaStore.compact(spark, dir)
    land(dir, hashesOf(Seq(7L, 8L)), 1L)
    MediaStore.forget(spark, dir, Seq(3L).toDF("media_id"))
    // the replay: batch_0 re-lands after the fold (watermark excludes it
    // silently — same sequence identity, so it IS a replay)
    land(dir, hashesOf(Seq(5L, 6L)), 0L)

    val live = Seq(1L, 2L, 4L, 5L, 6L, 7L, 8L)
    assert(pairSet(MediaStore.nearDups(spark, dir, maxHamming = 6))
      == pairSet(Media.bandedHammingPairs(hashesOf(live), maxHamming = 6)),
      "store-served near-dups must equal the one-pass index over live")
    // id 7 is a byte-copy of forgotten id 3 — their pair must be gone,
    // and probing with 3's bytes under a fresh id never matches 3
    val probe = MediaStore.probe(spark, dir,
      Media.imageHashes(mediaOf((900L, bytesById(3L))))
        .withColumnRenamed("ahash", "h64"), maxHamming = 0)
      .collect()
    assert(probe.length == 1 && probe(0).getLong(1) == 7L,
      s"the probe must match surviving copy 7, never forgotten 3: " +
        probe.mkString(","))

    // compaction makes the delete physical and the store stays correct
    MediaStore.compact(spark, dir)
    assert(pairSet(MediaStore.nearDups(spark, dir, maxHamming = 6))
      == pairSet(Media.bandedHammingPairs(hashesOf(live), maxHamming = 6)))
    assert(!MediaStore.serve(spark, dir).select("media_id")
      .collect().map(_.getLong(0)).contains(3L))
  }

  test("fingerprint-family rotation: re-print live media (resize-" +
    "normalized aHash), swap with a generation, reject stale-family " +
    "replays loudly") {
    val dir = tempDir("mediastore_rot") + "/prints"
    MediaStore.bootstrap(spark, dir, hashesOf(Seq(1L, 2L, 3L, 4L)))
    land(dir, hashesOf(Seq(5L, 6L)), 0L)
    MediaStore.forget(spark, dir, Seq(4L).toDF("media_id"))

    MediaStore.rotate(spark, dir, v2Hashes(Seq(1L, 2L, 3L, 4L, 5L, 6L)),
      generation = "ahash_norm32")

    val live = Seq(1L, 2L, 3L, 5L, 6L)
    assert(pairSet(MediaStore.nearDups(spark, dir, maxHamming = 6))
      == pairSet(Media.bandedHammingPairs(v2Hashes(live), maxHamming = 6)),
      "rotated store must equal the one-pass index under the new family")
    assert(graft.sources.KeyedStore.generation(spark, dir)
      .contains("ahash_norm32"))
    // a pre-rotation batch replayed after the swap: prints from the OLD
    // family would share the Hamming space meaninglessly — serve fails
    land(dir, hashesOf(Seq(5L, 6L)), 0L)
    intercept[IllegalStateException](MediaStore.nearDups(spark, dir, 6))
  }

  test("streamed print ingest (MediaStream) equals batch ingest, and a " +
    "wiped-checkpoint restart on the compacted store fails serve loudly") {
    import java.nio.file.Files
    val printDir = tempDir("mediastream_p")
    val storeDir = tempDir("mediastream_s") + "/prints"
    val ckpt = tempDir("mediastream_c") + "/ck"
    MediaStore.bootstrap(spark, storeDir, hashesOf(Seq(1L, 2L)))
    hashesOf(Seq(3L, 4L)).write.mode("overwrite")
      .parquet(s"$printDir/p0.parquet")
    hashesOf(Seq(5L, 6L)).write.mode("overwrite")
      .parquet(s"$printDir/p1.parquet")
    val q = graft.streaming.MediaStream.printIngestStream(spark, printDir,
      storeDir, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    val live = Seq(1L, 2L, 3L, 4L, 5L, 6L)
    assert(pairSet(MediaStore.nearDups(spark, storeDir, maxHamming = 6))
      == pairSet(Media.bandedHammingPairs(hashesOf(live), maxHamming = 6)),
      "streamed store must equal the one-pass banded index")
    MediaStore.compact(spark, storeDir)
    assert(pairSet(MediaStore.nearDups(spark, storeDir, maxHamming = 6))
      == pairSet(Media.bandedHammingPairs(hashesOf(live), maxHamming = 6)))

    // WIPE the checkpoint directory and restart at the same path: batch
    // ids restart at 0 under a NEW sequence identity (the marker died
    // with the wipe), and the re-landed below-watermark batches must
    // fail serve LOUDLY — the path-derived identity would have kept the
    // old identity here and silently swallowed them
    new scala.reflect.io.Directory(new java.io.File(ckpt))
      .deleteRecursively()
    hashesOf(Seq(7L, 8L)).write.mode("overwrite")
      .parquet(s"$printDir/p2.parquet")
    val q2 = graft.streaming.MediaStream.printIngestStream(spark, printDir,
      storeDir, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    intercept[IllegalStateException](
      MediaStore.nearDups(spark, storeDir, 6).collect())
  }

  test("print-store rotation drill: the bootstrap stream refuses a " +
    "rotated store, the resume stream cross-checks its generation, and " +
    "resumed batches land stamped and serve the one-pass index") {
    val dir = tempDir("mediastream_rot") + "/prints"
    val printDir = tempDir("mediastream_rot_p")
    MediaStore.bootstrap(spark, dir, hashesOf(Seq(1L, 2L, 3L, 4L)))
    MediaStore.forget(spark, dir, Seq(4L).toDF("media_id"))
    MediaStore.rotate(spark, dir, v2Hashes(Seq(1L, 2L, 3L, 4L)),
      generation = "ahash_norm32")

    // the bootstrap definition would land unstamped old-family prints
    // into the rotated Hamming space: it refuses at definition
    val boot = intercept[IllegalStateException] {
      graft.streaming.MediaStream.printIngestStream(spark, printDir, dir)
    }
    assert(boot.getMessage.contains("'ahash_norm32'"), boot.getMessage)
    // and a resume under another family cross-checks its generation
    intercept[IllegalStateException] {
      graft.streaming.MediaStream.printResumeIngestStream(spark, printDir,
        dir, generation = "ahash_raw")
    }
    def batchDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(batchDirs.isEmpty, "a refused definition must land nothing")

    // RESUME under the store's family: new prints (7 is a byte copy of
    // 3) arrive in two micro-batches with a fresh checkpoint
    v2Hashes(Seq(5L, 6L)).write.mode("overwrite")
      .parquet(s"$printDir/p0.parquet")
    v2Hashes(Seq(7L, 8L)).write.mode("overwrite")
      .parquet(s"$printDir/p1.parquet")
    val q = graft.streaming.MediaStream.printResumeIngestStream(spark,
      printDir, dir, generation = "ahash_norm32",
      maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tempDir("mediastream_rot_c")))
    try q.processAllAvailable() finally q.stop()
    assert(batchDirs.nonEmpty && batchDirs.forall { d =>
        val g = new java.io.File(d, "_gen")
        g.isFile && java.nio.file.Files.readString(g.toPath).trim ==
          "ahash_norm32"
      }, "every resumed batch dir must carry the store's generation")
    val live = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L)
    val served = pairSet(MediaStore.nearDups(spark, dir, maxHamming = 6))
    assert(served ==
      pairSet(Media.bandedHammingPairs(v2Hashes(live), maxHamming = 6)),
      "post-rotation streamed serve must equal the one-pass index of " +
        "live ∪ resumed prints under the rotated family")
    assert(served.exists(r => r.take(2) == Seq(3L, 7L)),
      s"the resumed copy must pair with its live original: $served")
  }

  test("the audio print family shares the same store machinery") {
    // synthetic 16-bit PCM WAV with a rising-then-falling envelope, so
    // the energy-delta print is non-degenerate
    def wav(seed: Int): Array[Byte] = {
      val n = 65 * 64
      val data = new Array[Byte](n * 2)
      (0 until n).foreach { i =>
        val amp = (math.sin(i * 0.001 * (1 + seed)) * 3000
          + math.sin(i * 0.07) * 500).toInt
        data(2 * i) = (amp & 0xff).toByte
        data(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val baos = new ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }
    import spark.implicits._
    val clips = Seq((100L, wav(1)), (101L, wav(1)), (102L, wav(9)))
      .map { case (id, b) => Media.MediaRow(id, "audio", b, 0, 0) }.toDS()
    val dir = tempDir("mediastore_audio") + "/prints"
    MediaStore.bootstrap(spark, dir, Media.audioFingerprints(clips))
    val pairs = MediaStore.nearDups(spark, dir, maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((100L, 101L)),
      s"identical clips must pair at hamming 0: ${pairs.mkString(",")}")
  }
}
