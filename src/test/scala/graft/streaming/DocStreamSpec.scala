package graft.streaming

import graft.SparkSuite
import graft.operators.TextDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class DocStreamSpec extends SparkSuite {

  test("persisted band-index store: streamed ingest equals the one-pass " +
    "index, forget holds across a replayed batch, compaction re-runnable") {
    import java.nio.file.Files
    import spark.implicits._
    val docDir = tempDir("band_ingest_d")
    val storeDir = tempDir("band_ingest_s") + "/band"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val base = 400L
    docs.filter(col("doc_id") >= base && col("doc_id") < 450)
      .write.mode("overwrite").parquet(s"$docDir/b0.parquet")
    docs.filter(col("doc_id") >= 450)
      .write.mode("overwrite").parquet(s"$docDir/b1.parquet")
    val q = DocStream.bandIndexIngestStream(spark, docDir, sf, base, storeDir,
      shingleN = 2, bands = 4, rowsPerBand = 4, maxFilesPerTrigger = Some(1))
    try { q.processAllAvailable() } finally { q.stop() }
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(storeDir).schema

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "band_hash").collect().map(_.toSeq).toSet
    def onePass(d: org.apache.spark.sql.DataFrame) =
      TextDedup.minhashBandIndex(d, 2, 4, 4)
    assert(rows(DocStream.storeBandIndex(spark, storeDir, schema))
      == rows(onePass(docs)),
      "streamed store must equal the one-pass index (pure per-doc rows)")

    // compaction cycle 1 (watermark = folded batch 1), then forget one
    // base doc and one streamed doc
    DocStream.compactBandStore(spark, storeDir, schema)
    val dels = Seq(123L, 457L)
    DocStream.forgetDocs(spark, storeDir, dels.toDF("doc_id"))
    // REPLAY: batch_1 re-lands after its rows were folded away (at the
    // watermark: subsumed wholesale), and as batch_2 above it (served,
    // so only the tombstone hides it) — both physically carry forgotten
    // doc 457 again
    val replay =
      TextDedup.minhashBandIndex(docs.filter(col("doc_id") >= 450), 2, 4, 4)
    replay.write.mode("overwrite").parquet(s"$storeDir/batch_1")
    replay.write.mode("overwrite").parquet(s"$storeDir/batch_2")
    assert(spark.read.parquet(s"$storeDir/batch_2")
      .filter(col("doc_id") === 457L).count() > 0,
      "the above-watermark replay must physically carry forgotten 457")

    val truthDocs = docs.filter(!col("doc_id").isin(dels: _*))
    val view = DocStream.storeBandIndex(spark, storeDir, schema)
    assert(rows(view) == rows(onePass(truthDocs)),
      "TRUE rebuild parity: serving view == index over corpus minus " +
        "forgotten, even over the replay-duplicated tree")
    assert(view.filter(col("doc_id").isin(dels: _*)).isEmpty,
      "the tombstones must hide the forgotten ids the replay re-landed")
    // a forgotten doc can never surface as a match: probe with an exact
    // copy of doc 457's text under a fresh id
    val probe = docs.filter(col("doc_id") === 457L)
      .select(lit(900001L).as("doc_id"), col("text"))
    val verdicts = TextDedup.incrementalNearDups(view, probe,
        shingleN = 2, bands = 4, rowsPerBand = 4, minEst = 0.25)
      .collect()
    assert(!verdicts.exists(r => !r.isNullAt(r.fieldIndex("match_id"))
        && dels.contains(r.getLong(r.fieldIndex("match_id")))),
      s"forgotten docs must never be matched: ${verdicts.mkString(", ")}")

    // compaction cycle 2 over the mixed tree: delete becomes physical
    val (_, nAfter) = DocStream.compactBandStore(spark, storeDir, schema)
    assert(nAfter <= 4, s"one file per band after compaction, got $nAfter")
    val physical = spark.read.schema(schema).parquet(storeDir)
    assert(rows(physical) == rows(onePass(truthDocs)),
      "after delete+compact the forgotten rows must be physically gone")
  }

  test("band-store rotation: re-index the live docs under a NEW hash " +
    "family, swap atomically, keep forgotten docs unmatched") {
    import java.nio.file.Files
    import spark.implicits._
    val storeDir = tempDir("band_rot") + "/band"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val base = 400L
    // build the store one-pass (base + one appended batch), then forget
    TextDedup.minhashBandIndex(docs.filter(col("doc_id") < base), 2, 4, 4)
      .write.mode("overwrite").parquet(s"$storeDir/base")
    TextDedup.minhashBandIndex(docs.filter(col("doc_id") >= base), 2, 4, 4)
      .write.mode("overwrite").parquet(s"$storeDir/batch_0")
    val schema = spark.read.option("recursiveFileLookup", "true")
      .parquet(storeDir).schema
    val dels = Seq(123L, 457L)
    DocStream.forgetDocs(spark, storeDir, dels.toDF("doc_id"))

    // rotate to a WIDER family (8 bands of 2 rows — the recall re-tune)
    DocStream.rotateBandStore(spark, storeDir, sf, schema,
      shingleN = 2, bands = 8, rowsPerBand = 2)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "band_hash").collect().map(_.toSeq).toSet
    val truthDocs = docs.filter(!col("doc_id").isin(dels: _*))
    val view = DocStream.storeBandIndex(spark, storeDir, schema)
    assert(rows(view) ==
      rows(TextDedup.minhashBandIndex(truthDocs, 2, 8, 2)),
      "rotated store must equal the one-pass index under the new family")
    // pure hive layout post-swap, tombstones carried
    val subdirs = new java.io.File(storeDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.contains("_tombstones"), s"tombstones carried: $subdirs")
    assert((subdirs - "_tombstones").forall(_.startsWith("band=")),
      s"pure hive tree post-rotate: $subdirs")
    // a forgotten doc still never matches, probed under the NEW family
    val probe = docs.filter(col("doc_id") === 457L)
      .select(lit(900002L).as("doc_id"), col("text"))
    val verdicts = TextDedup.incrementalNearDups(view, probe,
        shingleN = 2, bands = 8, rowsPerBand = 2, minEst = 0.25)
      .collect()
    assert(!verdicts.exists(r => !r.isNullAt(r.fieldIndex("match_id"))
        && dels.contains(r.getLong(r.fieldIndex("match_id")))),
      s"forgotten docs must never match post-rotation: ${verdicts.mkString(", ")}")

    // ---- the rotation drill, band-store side (AnnStreamSpec twin) ----
    // the rotated store is generation-stamped: the old bootstrap
    // definition (old family, rewrites base/) must refuse outright
    val docDir = tempDir("band_resume_d")
    intercept[IllegalStateException] {
      DocStream.bandIndexIngestStream(spark, docDir, sf, base, storeDir,
        shingleN = 2, bands = 4, rowsPerBand = 4)
    }
    // and a resume under the WRONG family cross-checks its generation
    intercept[IllegalStateException] {
      DocStream.bandIndexResumeIngestStream(spark, docDir, storeDir,
        shingleN = 2, bands = 4, rowsPerBand = 4)
    }
    // RESUME under the rotated family: new documents arrive, batches
    // land stamped, and the served store equals the one-pass index of
    // live ∪ new under the rotated parameters
    val fresh = docs.filter(col("doc_id") >= 450L)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    fresh.write.mode("overwrite").parquet(s"$docDir/b0.parquet")
    val q2 = DocStream.bandIndexResumeIngestStream(spark, docDir, storeDir,
      shingleN = 2, bands = 8, rowsPerBand = 2,
      maxFilesPerTrigger = Some(1),
      checkpointDir = Some(tempDir("band_ckpt2")))
    try q2.processAllAvailable() finally q2.stop()
    val served2 = DocStream.storeBandIndex(spark, storeDir, schema)
    assert(rows(served2) ==
      rows(TextDedup.minhashBandIndex(truthDocs.unionByName(fresh), 2, 8, 2)),
      "post-rotation streamed serve must equal the one-pass index of " +
        "live ∪ resumed docs under the rotated family")
    val stamped = new java.io.File(storeDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(stamped.nonEmpty &&
      stamped.forall(d => new java.io.File(d, "_gen").isFile),
      "every resumed batch dir must carry its generation stamp")
  }

  private val TextA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val TextANear =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
  private val TextOther =
    "one two three four five six seven eight nine ten eleven twelve"
  private val TextNovel =
    "red orange yellow green blue indigo violet pink brown black white grey"

  private def run(name: String)(batches: Seq[Seq[(Long, String)]]): Unit = {
    val s = spark
    import s.implicits._
    val in = MemoryStream[(Long, String)](s)
    val docs = in.toDF().toDF("doc_id", "text")
    val q = DocStream.nearDupCandidates(docs,
        shingleN = 2, bands = 4, rowsPerBand = 4, minEst = 0.25)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
  }

  test("stream matches exact replicas across and within micro-batches") {
    run("cand1")(Seq(
      Seq(1L -> TextA, 2L -> TextANear, 3L -> TextOther),
      Seq(4L -> TextA, 5L -> TextNovel),
      Seq(6L -> TextA)))
    val best = DocStream.bestMatches(spark.table("cand1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // exact replica of doc 1 in a later batch: full-signature agreement,
    // and the matched representative is the ORIGINAL min id
    assert(best(4L) == (1L, 1.0))
    // replica of a replica: doc 4 never became a representative (the
    // collapse rule), so doc 6 still matches 1, not 4
    assert(best(6L) == (1L, 1.0))
    // novel and unrelated docs emit no candidates at all
    assert(!best.contains(5L) && !best.contains(3L))
  }

  test("stream verdicts equal the batch incremental matcher on the same split") {
    val s = spark
    import s.implicits._
    run("cand2")(Seq(
      Seq(1L -> TextA, 2L -> TextANear, 3L -> TextOther),
      Seq(4L -> TextA, 5L -> TextNovel)))
    val streamBest = DocStream.bestMatches(
        spark.table("cand2").filter(col("doc_id") >= 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val corpus = Seq(1L -> TextA, 2L -> TextANear, 3L -> TextOther)
      .toDF("doc_id", "text")
    val batch = Seq(4L -> TextA, 5L -> TextNovel).toDF("doc_id", "text")
    val idx = TextDedup.minhashBandIndex(corpus, 2, 4, 4)
    val batchBest = TextDedup.incrementalNearDups(idx, batch, 2, 4, 4, 0.25)
      .filter(!col("novel"))
      .select("doc_id", "match_id", "match_est")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamBest == batchBest)
  }

  test("within-batch arrivals fold in doc_id order deterministically") {
    // both replicas arrive in ONE batch, listed out of order: the lower
    // id must become the representative, the higher one the match
    run("cand3")(Seq(Seq(8L -> TextA, 7L -> TextA)))
    val best = DocStream.bestMatches(spark.table("cand3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(best(8L) == (7L, 1.0))
    assert(!best.contains(7L))
  }
}
