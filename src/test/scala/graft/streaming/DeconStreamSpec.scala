package graft.streaming

import graft.SparkSuite
import graft.queries.SimilarityQueries
import org.apache.spark.sql.functions._

/** Streaming fused decontamination ≡ batch `dd_decon_fused`, row for
  * row, on the same corpus split — the purchaseAttribution doctrine
  * (streamed verdicts bit-equal to batch, not error-banded). Both
  * evidence families stream micro-batch by micro-batch (lexical rows
  * final per batch; semantic ADC candidates final per batch with the
  * shortlist cut at serve time), and the serve-side reduction runs the
  * batch family's own factored code — so this spec certifies the
  * per-batch decomposition, not a reimplementation.
  */
class DeconStreamSpec extends SparkSuite {

  test("streamed lexical evidence + streamed ADC candidates serve " +
    "verdicts row-equal to batch dd_decon_fused on the same corpus") {
    import java.nio.file.Files
    val docDir = tempDir("decon_docs")
    val vecDir = tempDir("decon_vecs")
    val lexOut = tempDir("decon_lex") + "/lex"
    val semOut = tempDir("decon_sem") + "/sem"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val emb = graft.Tables.embeddings(spark, sf)
    // three micro-batches per family, id-striped so every batch mixes
    // eval and corpus rows (the arrival order a crawl actually has)
    (0 to 2).foreach { i =>
      docs.filter(col("doc_id") % 3 === i)
        .write.mode("overwrite").parquet(s"$docDir/b$i.parquet")
      emb.filter(col("vec_id") % 3 === i)
        .write.mode("overwrite").parquet(s"$vecDir/b$i.parquet")
    }
    val q1 = DeconStream.lexicalEvidenceStream(spark, docDir, sf, lexOut,
      maxFilesPerTrigger = Some(1))
    try q1.processAllAvailable() finally q1.stop()
    val q2 = DeconStream.semanticCandidatesStream(spark, vecDir, sf, semOut,
      maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable() finally q2.stop()
    // both sinks really accumulated one dir per micro-batch
    def batchDirs(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch_"))
    assert(batchDirs(lexOut) == 3 && batchDirs(semOut) == 3,
      s"expected 3 micro-batch dirs per sink, got " +
        s"${batchDirs(lexOut)}/${batchDirs(semOut)}")

    val streamed = DeconStream.fusedVerdicts(spark, sf, lexOut, semOut)
      .collect().map(_.toSeq).toSet
    val batch = SimilarityQueries.ddDeconFused(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty, "the split corpus must produce verdicts")
    assert(streamed == batch,
      s"streamed fused verdicts must equal batch row-for-row; " +
        s"only-streamed=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
    // provenance survives the streaming path: both families fire on
    // this corpus (no "both" row exists at sf0.001 — the batch row
    // agrees, and equality above already pins it)
    val srcs = streamed.map(_(1).asInstanceOf[String])
    assert(Set("lexical", "semantic").subsetOf(srcs),
      s"both families must contribute, got $srcs")
  }

  test("a replayed micro-batch overwrites its own evidence instead of " +
    "double-counting (idempotent sink contract)") {
    import java.nio.file.Files
    val docDir = tempDir("decon_docs2")
    val lexOut = tempDir("decon_lex2") + "/lex"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$docDir/b0.parquet")
    val q = DeconStream.lexicalEvidenceStream(spark, docDir, sf, lexOut)
    try q.processAllAvailable() finally q.stop()
    val once = spark.read.option("recursiveFileLookup", "true")
      .parquet(lexOut).collect().map(_.toSeq).toSet
    // the replay: a fresh stream over the same input re-lands batch_0
    val q2 = DeconStream.lexicalEvidenceStream(spark, docDir, sf, lexOut)
    try q2.processAllAvailable() finally q2.stop()
    val twice = spark.read.option("recursiveFileLookup", "true")
      .parquet(lexOut).collect().map(_.toSeq).toSet
    assert(once == twice, "replay must replace, not append")
    assert(once.nonEmpty)
  }

  test("a vector arriving in TWO source files still serves verdicts " +
    "equal to batch (duplicate candidates min-reduced before the top-k)") {
    import java.nio.file.Files
    val vecDir = tempDir("decon_vecs3")
    val lexDir = tempDir("decon_docs3")
    val lexOut = tempDir("decon_lex3") + "/lex"
    val semOut = tempDir("decon_sem3") + "/sem"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val emb = graft.Tables.embeddings(spark, sf)
    docs.write.mode("overwrite").parquet(s"$lexDir/b0.parquet")
    emb.write.mode("overwrite").parquet(s"$vecDir/b0.parquet")
    // the duplicate arrival: a corpus slice lands AGAIN in a second
    // file — identical (query_id, vec_id) candidate rows in two batch
    // dirs, which an unreduced top-k would rank as two shortlist slots
    emb.filter(col("vec_id") % 5 === 0)
      .write.mode("overwrite").parquet(s"$vecDir/b1.parquet")
    val q1 = DeconStream.lexicalEvidenceStream(spark, lexDir, sf, lexOut)
    try q1.processAllAvailable() finally q1.stop()
    val q2 = DeconStream.semanticCandidatesStream(spark, vecDir, sf, semOut,
      maxFilesPerTrigger = Some(1))
    try q2.processAllAvailable() finally q2.stop()
    val streamed = DeconStream.fusedVerdicts(spark, sf, lexOut, semOut)
      .collect().map(_.toSeq).toSet
    val batch = SimilarityQueries.ddDeconFused(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"duplicate arrivals must not displace shortlist rows; " +
        s"only-streamed=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }
}
