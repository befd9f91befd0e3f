package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("doc_id", "lang", "n_chars", "text")

  test("ngramJaccardPairs round-trips doc ids above 2^31 exactly") {
    // Round 1 unpacked the packed pair key with double division, which
    // corrupts ids above 2^21; these ids also exercise the sign bit of
    // the packed long (doc_a > 2^31 ⇒ shiftleft sets bit 63).
    val big = docs(Seq(
      (3000000000L, "en", 40L, "alpha beta gamma delta epsilon zeta"),
      (4000000000L, "en", 40L, "alpha beta gamma delta epsilon eta")))
    val got = TextDedup.ngramJaccardPairs(big, shingleN = 2, lenBand = 100,
        minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
    // 5 distinct bigrams each, 4 shared: jaccard = 4/6
    assert(got == Seq((3000000000L, 4000000000L, 0.6667)))
  }

  test("ngramJaccardPairs df-cap bounds stop-shingle candidates to star pairs") {
    // 70 docs whose ONLY shared shingle is the bigram "of the"
    // (df = 70 > cap = 64): full i<j expansion would generate 70·69/2
    // candidate pairs — the O(df²) blowup the cap kills. The star
    // fallback (df ≤ starCap) emits exactly 69 linear (min ↔ member)
    // pairs instead, each verified to its true jaccard 1/5 = 0.2.
    val floods = (1L to 70L).map(i => (i, "en", 20L, s"of the unique$i word$i"))
    val rares = Seq(
      (200L, "en", 20L, "red green blue yellow"),
      (201L, "en", 20L, "red green blue purple"))
    val got = TextDedup.ngramJaccardPairs(docs(floods ++ rares),
        shingleN = 2, lenBand = 100, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val stars = (2L to 70L).map(i => (1L, i, 0.2))
    assert(got == (stars :+ ((200L, 201L, 0.5))).sorted)
  }

  test("ngramJaccardPairs: beyond starCap, stop-shingle-only pairs are dropped") {
    // df = 70 > starCap = 64 here: no i<j pairs, no star pairs — a true
    // corpus-wide stop shingle generates nothing at all
    val floods = (1L to 70L).map(i => (i, "en", 20L, s"of the unique$i word$i"))
    val got = TextDedup.ngramJaccardPairs(docs(floods),
        shingleN = 2, lenBand = 100, minJaccard = 0.2, dfCap = 32, starCap = 64)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.isEmpty)
  }

  test("template clusters larger than dfCap are recovered via star pairs") {
    // 70 near-identical docs: every shared shingle has df = 70 > dfCap,
    // so the low-df index alone finds NOTHING — round 2's formulation
    // missed the highest-jaccard family in the corpus. Star pairs attach
    // each member to the cluster min at the exact jaccard 7/9.
    val tmpl = (1L to 70L).map(i =>
      (i, "en", 60L, s"alpha beta gamma delta epsilon zeta eta theta v$i"))
    val got = TextDedup.ngramJaccardPairs(docs(tmpl),
        shingleN = 2, lenBand = 100, minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.size == 69)
    assert(got.forall { case (a, _, j) => a == 1L && j == 0.7778 })
  }

  test("ngramJaccardPairs: duplicate groups expand to the naive doc-pair set (low regime)") {
    // group A = 3 replicas, group B = 2 replicas of a near-dup, plus an
    // unrelated singleton: every (block, shingle) df is ≤ 5, so all
    // candidates are low-regime. The collapse-first rewrite must emit
    // exactly the naive definition's pairs: all intra-group pairs at
    // jaccard 1.0 and the full A×B bipartite at jaccard(T1, T2) = 4/6.
    val t1 = "a b c d e f"; val t2 = "a b c d e g"
    val d = docs(
      (1L to 3L).map(i => (i, "en", 10L, t1)) ++
      Seq((10L, "en", 10L, t2), (11L, "en", 10L, t2),
        (50L, "en", 10L, "x y z w v u")))
    val got = TextDedup.ngramJaccardPairs(d, shingleN = 2, lenBand = 100,
        minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val expected =
      Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0)) ++
      (for { a <- 1L to 3L; b <- Seq(10L, 11L) } yield (a, b, 0.6667)).toSet
    assert(got == expected)
  }

  test("ngramJaccardPairs: a 70-replica flood stays linear — star pairs to the min, jaccard 1.0") {
    // 70 bit-identical docs: every shingle's df is 70 > dfCap 64, so the
    // naive definition itself only emits bucket-min star pairs (1, d) —
    // 69 rows, not C(70,2) — and the self-star expansion must reproduce
    // exactly that.
    val d = docs((1L to 70L).map(i =>
      (i, "en", 60L, "alpha beta gamma delta epsilon zeta eta theta")))
    val got = TextDedup.ngramJaccardPairs(d, shingleN = 2, lenBand = 100,
        minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == (2L to 70L).map(i => (1L, i, 1.0)).toSet)
  }

  test("minhashLshPairs pairs identical docs at est 1.0") {
    val d = docs(Seq(
      (10L, "en", 30L, "the quick brown fox jumps over"),
      (20L, "en", 30L, "the quick brown fox jumps over"),
      (30L, "en", 30L, "completely different words entirely here now")))
    val got = TextDedup.minhashLshPairs(d, shingleN = 2, bands = 4,
        rowsPerBand = 4, minEst = 0.25)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((10L, 20L, 1.0)))
  }

  test("connectedComponents: transitive chains collapse to the min-id cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    // 1-2-3-4 is a diameter-3 chain (several propagation rounds needed)
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("connectedComponents: deep path graph (diameter 59) converges in O(log d) rounds") {
    // min-label propagation needs diameter-many rounds — 59 here, far
    // past maxIter=10, so the old implementation threw. Large-star/
    // small-star halves the diameter every round and finishes in ~6.
    val n = 60L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = TextDedup.connectedComponents(pairs, maxIter = 10)
      .as[(Long, Long)].collect().toSet
    assert(got == (1L to n).map(i => (i, 1L)).toSet)
  }

  test("connectedComponents: self-pairs become singleton labels") {
    val pairs = Seq((5L, 5L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = TextDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((5L, 5L), (7L, 7L), (8L, 7L)))
  }

  test("ccOverEdges ≡ connectedComponents on self-free graphs; " +
    "self-pairs are dropped, not mislabeled") {
    // a deterministic pseudo-random mixed graph: chains, a star, a
    // triangle, reversed orientations, duplicate edges
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L), // triangle + tail, reversed
      (10L, 11L), (11L, 12L), (12L, 13L),     // chain
      (20L, 21L), (20L, 22L), (20L, 23L),     // star
      (21L, 20L), (10L, 11L))                 // dup + reverse dup
      .toDF("doc_a", "doc_b")
    val full = TextDedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toSet
    val slim = TextDedup.ccOverEdges(edges)
      .as[(Long, Long)].collect().toSet
    assert(slim == full)
    // the documented contract: a self-pair contributes no canonical edge
    // and ccOverEdges drops its node (callers coalesce it back); the
    // full form keeps it as a singleton
    val withSelf = edges.unionByName(Seq((50L, 50L)).toDF("doc_a", "doc_b"))
    assert(TextDedup.ccOverEdges(withSelf)
      .as[(Long, Long)].collect().toSet == full)
    assert(TextDedup.connectedComponents(withSelf)
      .as[(Long, Long)].collect().toSet == full + ((50L, 50L)))
  }

  test("ccOverEdges distinctPairs: identical labels with or without the " +
    "canonical dedup, even on duplicate-heavy input") {
    // distinctPairs is an efficiency certification, not a correctness
    // contract: duplicate and reverse-duplicate edges must yield the
    // SAME fixpoint either way (round 1's own distinct collapses them)
    val edges = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (21L, 20L), (10L, 11L), (10L, 11L), (11L, 10L)) // heavy dups
      .toDF("doc_a", "doc_b")
    val dedup = TextDedup.ccOverEdges(edges)
      .as[(Long, Long)].collect().toSet
    val certified = TextDedup.ccOverEdges(edges, distinctPairs = true)
      .as[(Long, Long)].collect().toSet
    assert(certified == dedup)
    assert(certified ==
      TextDedup.connectedComponents(edges).as[(Long, Long)].collect().toSet)
  }

  test("foldIntoComponents: fold == recompute, bit-equal, across merge " +
    "shapes (old-old bridge, novel chain, mixed, self-pairs, empty batch)") {
    def cc(pairs: Seq[(Long, Long)]) =
      TextDedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
    def fold(labels: org.apache.spark.sql.DataFrame,
             batch: Seq[(Long, Long)]) =
      TextDedup.foldIntoComponents(labels, batch.toDF("doc_a", "doc_b"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val hist = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (30L, 30L))
    val labels = cc(hist)
    // every shape in one batch: a bridge merging two old components
    // (3-10), a novel-only chain (100-101-102), a novel node attaching
    // to an old component (21-103), a self-pair novel singleton, and a
    // pair re-stating an existing edge (idempotent)
    val batch = Seq((3L, 10L), (100L, 101L), (101L, 102L), (21L, 103L),
      (200L, 200L), (1L, 2L))
    val folded = asMap(fold(labels, batch))
    val recomputed = asMap(cc(hist ++ batch))
    assert(folded == recomputed,
      s"fold must equal full recompute: $folded vs $recomputed")
    // empty batch: labels pass through unchanged
    assert(asMap(fold(labels, Seq.empty[(Long, Long)])) == asMap(labels))
    // a second fold on the folded labels (the daily cadence) still
    // equals the recompute over all three edge sets
    val batch2 = Seq((102L, 20L), (5L, 6L))
    assert(asMap(fold(fold(labels, batch), batch2))
      == asMap(cc(hist ++ batch ++ batch2)),
      "folding must compose across batches")
  }

  test("foldIntoComponents: a batch whose novel ids are SMALLER than " +
    "the touched components' labels drops those labels (min moves down)") {
    val labels = TextDedup.connectedComponents(
      Seq((50L, 60L)).toDF("doc_a", "doc_b"))
    val folded = TextDedup.foldIntoComponents(labels,
        Seq((5L, 60L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(folded == Map(50L -> 5L, 60L -> 5L, 5L -> 5L))
  }

  test("dedup and similarity operators leave no persisted RDDs behind") {
    val d = docs(Seq(
      (1L, "en", 30L, "one two three four five six"),
      (2L, "en", 30L, "one two three four five seven")))
    val emb = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    // delta-based: the suite session is shared, other specs may cache
    val before = spark.sparkContext.getPersistentRDDs.keySet
    TextDedup.ngramJaccardPairs(d, 2, 100, 0.2).count()
    TextDedup.minhashLshPairs(d, 2, 4, 4, 0.25).count()
    Similarity.cosineNearDupPairs(emb, nBits = 2, minCos = 0.8).count()
    TextDedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty)
  }

  test("minhashLshScaledPairs: a duplicate flood collapses to one pair") {
    // 40 bit-identical docs + 1 near-dup of them: the plain pair variant
    // emits C(41,2)-ish rows from one band bucket (quadratic in the
    // flood); the collapse-first variant emits exactly ONE pair — flood
    // representative vs the near-dup — carrying the multiplicities.
    // pair chosen so a band actually collides under the md5 minhash
    // scheme (deterministic): dropping "zeta" keeps 13/16 signature
    // positions equal and shares a full band
    val baseText =
      "alpha beta gamma delta epsilon zeta theta iota kappa lam mu nu xi omicron pi rho"
    val nearText = baseText.split(' ').filterNot(_ == "zeta").mkString(" ")
    val flood = (1L to 40L).map(i => (i, "en", 40L, baseText))
    val near = Seq((100L, "en", 40L, nearText))
    val got = TextDedup.minhashLshScaledPairs(docs(flood ++ near),
        shingleN = 2, bands = 4, rowsPerBand = 4, minEst = 0.25)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L, 0.8125, 40L, 1L)))
    // and the plain variant on the same input really is quadratic
    val plain = TextDedup.minhashLshPairs(docs(flood ++ near),
      shingleN = 2, bands = 4, rowsPerBand = 4, minEst = 0.25).count()
    assert(plain >= 40L * 39L / 2)
  }

  test("minhashLshPairs: collapse-first expansion is bit-equal to the naive definition") {
    // the collapse+re-expand path must reproduce the naive all-replicas
    // output EXACTLY: every intra-group pair at est 1.0 (identical texts
    // share all k minhashes), every cross-group pair at its rep pair's
    // est. Same corpus as the flood test: 40 replicas (groups {1..40})
    // + near-dup 100 whose rep pair (1, 100) scores 0.8125.
    val baseText =
      "alpha beta gamma delta epsilon zeta theta iota kappa lam mu nu xi omicron pi rho"
    val nearText = baseText.split(' ').filterNot(_ == "zeta").mkString(" ")
    val flood = (1L to 40L).map(i => (i, "en", 40L, baseText))
    val near = Seq((100L, "en", 40L, nearText))
    val got = TextDedup.minhashLshPairs(docs(flood ++ near),
        shingleN = 2, bands = 4, rowsPerBand = 4, minEst = 0.25)
      .as[(Long, Long, Double)].collect().toSet
    val expected =
      (for { a <- 1L to 40L; b <- (a + 1) to 40L } yield (a, b, 1.0)).toSet ++
      (1L to 40L).map(a => (a, 100L, 0.8125)).toSet
    assert(got == expected)
  }

  test("incrementalNearDups works from a parquet-persisted band index") {
    // the production shape: the corpus index is a stored artifact, not a
    // same-DAG intermediate — round-trip it through parquet and verify
    // the batch verdicts are identical to the in-memory index's.
    val baseText =
      "alpha beta gamma delta epsilon zeta theta iota kappa lam mu nu xi omicron pi rho"
    val nearText = baseText.split(' ').filterNot(_ == "zeta").mkString(" ")
    val corpus = docs(Seq(
      (1L, "en", 40L, baseText),
      (2L, "en", 40L, "one two three four five six seven"),
      (3L, "en", 40L, "red green blue yellow purple orange")))
    val batch = docs(Seq(
      (10L, "en", 40L, nearText), // near-dup of 1, shares a band
      (11L, "en", 40L, "totally unrelated fresh novel content here")))
    val idx = TextDedup.minhashBandIndex(corpus, 2, 4, 4)
    val dir = tempDir("band_idx")
    idx.write.mode("overwrite").parquet(dir)
    val fromDisk = TextDedup.incrementalNearDups(spark.read.parquet(dir),
        batch, 2, 4, 4, minEst = 0.25)
      .as[(Long, Boolean, Option[Long], Option[Double])].collect().toSeq.sorted
    val fromMem = TextDedup.incrementalNearDups(idx, batch, 2, 4, 4, 0.25)
      .as[(Long, Boolean, Option[Long], Option[Double])].collect().toSeq.sorted
    assert(fromDisk == fromMem)
    assert(fromDisk.map(r => (r._1, r._2, r._3)) ==
      Seq((10L, false, Some(1L)), (11L, true, None)))
  }

  test("mergeBandIndex ≡ full rebuild, for append and for replacement") {
    val corpus = docs(Seq(
      (1L, "en", 40L, "alpha beta gamma delta epsilon"),
      (2L, "en", 40L, "one two three four five six")))
    val idx = TextDedup.minhashBandIndex(corpus, 2, 4, 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "band", "band_hash")
        .as[(Long, Int, String)].collect().toSeq.sorted
    // append: fresh ids — merged index must equal a rebuild over the union
    val fresh = docs(Seq((3L, "en", 40L, "seven eight nine ten eleven")))
    assert(rows(TextDedup.mergeBandIndex(idx, fresh, 2, 4, 4,
        replaceExisting = false)) ===
      rows(TextDedup.minhashBandIndex(docs(Seq(
        (1L, "en", 40L, "alpha beta gamma delta epsilon"),
        (2L, "en", 40L, "one two three four five six"),
        (3L, "en", 40L, "seven eight nine ten eleven"))), 2, 4, 4)))
    // replacement: doc 2's text changes — old rows must vanish, and the
    // merged index must equal a rebuild over the updated corpus
    val upd = docs(Seq((2L, "en", 40L, "totally different replacement text here")))
    assert(rows(TextDedup.mergeBandIndex(idx, upd, 2, 4, 4)) ===
      rows(TextDedup.minhashBandIndex(docs(Seq(
        (1L, "en", 40L, "alpha beta gamma delta epsilon"),
        (2L, "en", 40L, "totally different replacement text here"))), 2, 4, 4)))
    // and the matcher sees the maintained index identically to a rebuilt
    // one: a batch replica of doc 1 (est 1.0 — every band collides by
    // construction, no banding luck involved) matches through either
    val probe = docs(Seq((10L, "en", 40L, "alpha beta gamma delta epsilon")))
    val viaMerged = TextDedup.incrementalNearDups(
        TextDedup.mergeBandIndex(idx, upd, 2, 4, 4), probe, 2, 4, 4, 0.25)
      .as[(Long, Boolean, Option[Long], Option[Double])].collect().toSeq.sorted
    assert(viaMerged.map(r => (r._1, r._2, r._3)) === Seq((10L, false, Some(1L))))
  }

  test("containmentPairs finds the doc-in-doc pair Jaccard misses") {
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val snippet = (10 to 17).map(i => s"tok$i").mkString(" ") // 8 of 30 tokens
    val corpus = docs(Seq(
      (1L, "en", 200L, long),
      (2L, "en", 50L, snippet),
      (3L, "en", 50L, "wholly unrelated words nothing shared at all")))
    val got = TextDedup.containmentPairs(corpus)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // snippet: 7 bigrams, every one inside the long doc ⇒ containment 1.0;
    // jaccard would be 7/29 ≈ 0.24 — diluted by the long side's union
    assert(got == Seq((1L, 2L, 1.0, 7L)))
  }

  test("containmentPairs threshold is an exact integer boundary") {
    // min_set = 5 shingles, 4 shared ⇒ containment 0.8 EXACTLY — the pair
    // must survive (a double 0.8·5 lands just above 4 and would drop it)
    val a = "a b c d e f" // bigrams: ab bc cd de ef (5)
    val b = "a b c d e zzz" // bigrams: ab bc cd de e-zzz ⇒ 4 shared, min_set 5
    val got = TextDedup.containmentPairs(docs(Seq(
        (1L, "en", 20L, a), (2L, "en", 20L, b))))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0.8, 5L)))
  }

  test("containmentPairs is rep-level: a replica flood adds no pairs") {
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val snippet = (10 to 17).map(i => s"tok$i").mkString(" ")
    val flood = (100L to 160L).map(i => (i, "en", 50L, snippet))
    val got = TextDedup.containmentPairs(docs(
        Seq((1L, "en", 200L, long), (2L, "en", 50L, snippet)) ++ flood))
      .as[(Long, Long, Double, Long)].collect().toSeq
    // 61 replicas collapse into doc 2's rep: still exactly one pair
    assert(got == Seq((1L, 2L, 1.0, 7L)))
  }

  test("incrementalMatchPairs is the exact cross slice of the full banded join") {
    // pipe_dedup_incr's exactness claim: probing a corpus index with a
    // batch yields EXACTLY the batch↔corpus pairs of a one-shot LSH run
    // over corpus ∪ batch (same buckets, same signatures, same est)
    val corpus = docs(Seq(
      (1L, "en", 40L, "alpha beta gamma delta epsilon zeta"),
      (2L, "en", 40L, "alpha beta gamma delta epsilon eta"),
      (3L, "en", 30L, "one two three four five six")))
    val batch = docs(Seq(
      (10L, "en", 40L, "alpha beta gamma delta epsilon zeta"),
      (11L, "en", 30L, "one two three four five seven"),
      (12L, "en", 20L, "unrelated text entirely different")))
    val idx = TextDedup.minhashBandIndex(corpus, 2, 4, 4)
    val probe = TextDedup.incrementalMatchPairs(idx, batch, 2, 4, 4, 0.25)
      .select(col("c_id").as("doc_a"), col("b_id").as("doc_b"),
        round(col("est"), 4).as("est_jaccard"))
    val full = TextDedup.minhashLshPairs(
        corpus.unionByName(batch), 2, 4, 4, 0.25)
      .filter(col("doc_a") < 10 && col("doc_b") >= 10) // the cross slice
    assert(probe.except(full).isEmpty && full.except(probe).isEmpty)
    assert(probe.count() > 0)
  }
}
