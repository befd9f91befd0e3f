package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication suite for training-data pipelines.
  *
  * Scale design notes (the point of each variant):
  *  - exact: one hash-shuffle on a 32-byte fingerprint — the cheapest
  *    possible global dedup; at 100 TB the shuffle carries only
  *    (fingerprint, doc_id), not the text.
  *  - minhashLsh: MinHash signatures are a per-row projection (no shuffle);
  *    LSH banding turns all-pairs O(n²) into a self-join on (band, hash)
  *    buckets — shuffle is by band key, candidate pairs only within
  *    buckets. Signature hashing uses md5 so any engine reproduces it.
  *  - ngramJaccard: exact verification on candidate pairs only.
  *  - simhash: 16-bit signature groups near-identical token multisets.
  */
object TextDedup {

  /** Expand a SORTED array into all i<j element pairs, combined by
    * `combine(a, b)` — the one shared implementation of the
    * flatten/transform/slice idiom (the 1-based `i + 2` offset is subtle
    * enough to have earned a shared home; sortedness makes a < b).
    */
  private[graft] def expandSortedPairs(ids: org.apache.spark.sql.Column,
      combine: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)), y => combine(x, y))))

  /** Expand a SORTED array into STAR pairs (first element ↔ each later
    * element) — the linear g−1 analogue of `expandSortedPairs` for
    * connectivity-only consumers; shares a home for the same reason (the
    * 1-based `slice(_, 2, _)` offset is easy to get wrong twice).
    */
  private[graft] def expandStarPairs(ids: org.apache.spark.sql.Column,
      combine: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(slice(ids, lit(2), size(ids)), y => combine(element_at(ids, 1), y))

  /** Exact dedup by normalized-content fingerprint: keep min doc_id per
    * fingerprint, count duplicates.
    */
  // Content-addressed (Content.repsById): the fingerprint md5 runs once
  // per distinct text; dup_count re-weights by replica mass and
  // keep_doc_id is the min of the per-content mins.
  def exactGroups(docs: DataFrame,
                  salt: Option[org.apache.spark.sql.Column] = None): DataFrame =
    graft.operators.Content.repsById(docs, Seq("text"), salt = salt)
      .select(col("doc_id"), col(graft.operators.Content.G),
        TextFns.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"),
        sum(graft.operators.Content.G).as("dup_count"))

  /** Candidate near-dup pairs via MinHash + LSH banding, with signature-
    * estimated Jaccard. k = bands * rowsPerBand minhashes.
    * Returns (doc_a, doc_b, est_jaccard) for pairs sharing >= 1 band,
    * est_jaccard >= minEst, doc_a < doc_b.
    *
    * Duplicate-flood safety (the compute side): exact-duplicate groups are
    * collapsed to their min-id representative BEFORE any tokenize/sign/band
    * work, pairs are found over UNIQUE texts only, and the full pair set is
    * re-expanded through group membership afterwards. The expansion is
    * provably exact, not an approximation: signatures are functions of the
    * normalized text (tokens are the normalized text split on single
    * spaces), so replicas share their representative's signature verbatim —
    * every intra-group pair has est = k/k = 1.0, and every cross-group pair
    * (a, b) has exactly the est of its (rep(a), rep(b)) pair. A flood of g
    * bit-identical docs therefore costs ONE signature and one membership
    * array instead of g signatures quadratically colliding in every band
    * bucket — measured at the 100× replicated ladder rung this took
    * `dd_minhash_lsh` from 41.9 s to the same flat cost as the collapsed
    * variant, identical output. The pair OUTPUT is still C(g,2) per group —
    * that is the operator's definition; consumers who want one row per
    * duplicate group use [[minhashLshScaledPairs]] (pairs over
    * representatives + multiplicities, linear output).
    */
  def minhashLshPairs(docs: DataFrame, shingleN: Int, bands: Int,
                      rowsPerBand: Int, minEst: Double): DataFrame = {
    val spark = docs.sparkSession
    // The group table feeds four consumers (signatures, intra-group pairs,
    // both sides of the cross expansion): stage it once to scratch parquet
    // — same doctrine as ngramJaccardPairs' set file (persist() leaks, and
    // re-running the collapse shuffle per consumer re-reads the corpus).
    // At scale this staged table IS the exact-dedup artifact pipelines
    // already materialize.
    val path = graft.Scratch.dir(spark, "graft_lsh_") + "/groups"
    val groups = graft.Scratch.writeRead(docs
      .select(col("doc_id"), col("text"), TextFns.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("rep_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select("rep_id", "text", "members"), path)

    val repPairs = bandBucketPairs(
      groups.select(col("rep_id").as("doc_id"), col("text")),
      shingleN, bands, rowsPerBand, minEst)

    // intra-group pairs: replicas share all k minhashes, so est is 1.0
    // exactly (emitted iff the caller's threshold admits it, like naive)
    val intra = groups.filter(size(col("members")) >= 2)
      .select(explode(expandSortedPairs(col("members"), (x, y) =>
        struct(x.as("doc_a"), y.as("doc_b")))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        lit(1.0).as("est_jaccard"))
      .filter(lit(1.0) >= minEst)

    // cross-group pairs: each rep pair expands to members(a) × members(b);
    // a doc belongs to exactly one group, so no pair is ever produced twice
    val m = groups.select(col("rep_id"), col("members"))
    val cross = repPairs
      .join(m.toDF("doc_a", "ma"), "doc_a")
      .join(m.toDF("doc_b", "mb"), "doc_b")
      .select(explode(flatten(transform(col("ma"), x =>
        transform(col("mb"), y =>
          struct(least(x, y).as("doc_a"), greatest(x, y).as("doc_b")))))).as("p"),
        col("est_jaccard"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("est_jaccard"))

    intra.unionByName(cross)
  }

  /** The raw banded pair engine over a frame assumed duplicate-free:
    * one groupBy per (band, band_hash) bucket collects members and expands
    * i<j pairs from the sorted list — signatures are computed exactly once
    * (the round-1 self-join needed a `persist()` to avoid recomputing them
    * per leg, and that cache leaked for the session lifetime). Bucket
    * member lists are bounded by bucket size; over unique texts LSH
    * buckets are genuine near-dup groups and stay small.
    */
  private def bandBucketPairs(docs: DataFrame, shingleN: Int, bands: Int,
                              rowsPerBand: Int, minEst: Double): DataFrame = {
    val k = bands * rowsPerBand
    val banded = minhashBandIndex(docs, shingleN, bands, rowsPerBand)

    banded
      .groupBy("band", "band_hash")
      // sort_array on struct sorts by leading doc_id, so i<j ⇒ doc_a<doc_b
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(expandSortedPairs(col("ms"), (x, y) =>
        struct(
          x("doc_id").as("doc_a"),
          y("doc_id").as("doc_b"),
          (size(filter(zip_with(x("sig"), y("sig"), (p, q) => p === q),
            eq => eq)).cast("double") / k).as("est_jaccard")))).as("pr"))
      .select(col("pr.doc_a").as("doc_a"), col("pr.doc_b").as("doc_b"),
        col("pr.est_jaccard").as("est_jaccard"))
      .distinct() // same pair can collide in several bands
      .filter(col("est_jaccard") >= minEst)
      .withColumn("est_jaccard", round(col("est_jaccard"), 4))
  }

  /** MinHash band index: (doc_id, sig, band, band_hash) — one row per
    * (document, band). This is the PERSISTABLE dedup artifact: at corpus
    * scale it is written once (partitioned by band_hash prefix) and every
    * later ingest batch joins against it instead of re-tokenizing,
    * re-hashing, and re-banding the historical corpus — signatures are
    * amortized over the corpus lifetime, not recomputed per batch.
    * `minhashLshPairs` and `incrementalNearDups` both consume this exact
    * shape, so the one-shot and incremental paths can share one index.
    *
    * `tk` staged as its own column BEFORE shingles references it in a
    * lambda — a lambda body re-evaluates free expressions per element,
    * so an inlined tokenize would re-split the text once per shingle.
    */
  def minhashBandIndex(docs: DataFrame, shingleN: Int, bands: Int,
                       rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    val sigd = graft.Par.spread(docs) // k md5s per shingle: spread the hash work
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), TextFns.shingles(col("tk"), shingleN).as("sh"))
      .select(col("doc_id"), TextFns.minhashSignature(col("sh"), k).as("sig"))
    // explode into (band, bandHash) bucket keys — one shuffle by bucket
    sigd.select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(array_join(slice(col("sig"), b * lit(rowsPerBand) + 1, lit(rowsPerBand)), ",")))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Index maintenance for the incremental-ingest loop: fold a new batch
    * into an existing [[minhashBandIndex]] so the corpus is NEVER
    * re-signed. Only the batch is tokenized/signed; the result is
    * row-identical to rebuilding the index over (corpus ∖ replaced) ∪
    * batch because index rows are pure per-document functions
    * (spec-asserted for both the append and the replacement case).
    *
    * `replaceExisting = true` upserts: a re-ingested doc_id's old rows are
    * anti-joined out (the batch id set broadcasts — batches are small at
    * any corpus scale) before the batch rows append. With
    * `replaceExisting = false` the anti-join is skipped entirely and the
    * plan is a pure append — the common crawl-ingest case where ids are
    * fresh, and the shape that lets a 100 TB index be maintained as
    * partition appends plus an occasional compaction
    * (`KeyedStore.compact`, through `DocStream.compactBandStore`) rather
    * than rewrites.
    */
  def mergeBandIndex(corpusIndex: DataFrame, batch: DataFrame,
                     shingleN: Int, bands: Int, rowsPerBand: Int,
                     replaceExisting: Boolean = true): DataFrame = {
    val bIdx = minhashBandIndex(batch, shingleN, bands, rowsPerBand)
    val kept =
      if (replaceExisting)
        corpusIndex.join(broadcast(batch.select("doc_id").distinct()),
          Seq("doc_id"), "left_anti")
      else corpusIndex
    kept.unionByName(bIdx)
  }

  /** Incremental ingest dedup: match a NEW batch of documents against an
    * existing corpus' precomputed [[minhashBandIndex]] without touching
    * corpus text. Only the batch is tokenized/signed (linear in batch
    * size); candidate generation is the (band, band_hash) equi-join into
    * the index, and each batch doc reports its best corpus match (highest
    * estimated Jaccard, ties to the smallest corpus id) or `novel = true`.
    *
    * The at-scale contract: ingesting a 1 GB batch into a 100 TB corpus
    * costs O(batch + matched buckets), not O(corpus) — the historical
    * index is read only at the joined band-hash keys (partition/bucket
    * pruning on the persisted index makes that literal), and nothing is
    * ever recomputed for old documents. Batch-internal duplicates are
    * deliberately out of scope (run `minhashLshPairs` on the batch for
    * those); `bands`/`rowsPerBand` must match the index's parameters.
    */
  def incrementalNearDups(corpusIndex: DataFrame, batch: DataFrame,
                          shingleN: Int, bands: Int, rowsPerBand: Int,
                          minEst: Double): DataFrame = {
    val matches = incrementalMatchPairs(corpusIndex, batch,
      shingleN, bands, rowsPerBand, minEst)
    val w = Window.partitionBy("b_id").orderBy(desc("est"), col("c_id"))
    val best = matches
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("c_id").as("match_id"),
        round(col("est"), 4).as("match_est"))
    batch.select("doc_id").join(best, Seq("doc_id"), "left")
      .withColumn("novel", col("match_id").isNull)
      .select("doc_id", "novel", "match_id", "match_est")
  }

  /** ALL probe matches of a batch against a persisted
    * [[minhashBandIndex]] — the pair-level primitive
    * [[incrementalNearDups]] reduces to a best-match verdict, exposed
    * because the incremental CLUSTERING pipeline needs every fresh edge
    * (a batch doc can bridge two existing clusters; keeping only its
    * best match would silently drop the merge). Returns (b_id, c_id,
    * est) with est ≥ minEst over the index's k = bands × rowsPerBand
    * minhashes; row set is EXACTLY the batch↔corpus slice of the full
    * banded self-join over corpus ∪ batch (same buckets, same
    * signatures), which is what lets a fold over these pairs match a
    * one-shot recompute bit for bit. Same cost contract as the verdict
    * form: O(batch + matched buckets), corpus text never touched.
    */
  def incrementalMatchPairs(corpusIndex: DataFrame, batch: DataFrame,
                            shingleN: Int, bands: Int, rowsPerBand: Int,
                            minEst: Double): DataFrame = {
    val k = bands * rowsPerBand
    val bIdx = minhashBandIndex(batch, shingleN, bands, rowsPerBand)
      .select(col("band"), col("band_hash"),
        col("doc_id").as("b_id"), col("sig").as("b_sig"))
    val cIdx = corpusIndex.select(col("band"), col("band_hash"),
      col("doc_id").as("c_id"), col("sig").as("c_sig"))
    bIdx.join(cIdx, Seq("band", "band_hash"))
      .select(col("b_id"), col("c_id"),
        (size(filter(zip_with(col("b_sig"), col("c_sig"), (p, q) => p === q),
          eq => eq)).cast("double") / k).as("est"))
      .distinct() // same pair can collide in several bands
      .filter(col("est") >= minEst)
  }

  /** Collapse-first MinHash LSH: exact duplicates (same normalized text)
    * are collapsed to their min-id representative BEFORE signatures and
    * banding, so near-dup detection runs over UNIQUE texts only; each
    * emitted pair carries both sides' exact-dup multiplicities.
    *
    * This is the composition whose OUTPUT survives duplicate floods. The
    * plain pair output (`minhashLshPairs`) is inherently quadratic in
    * duplicate-cluster size by definition — g identical documents are
    * C(g,2) duplicate pairs, so a crawl where one boilerplate page repeats
    * 10⁶ times owes 5·10¹¹ result rows from that group alone (its COMPUTE
    * is flood-safe since it collapses internally, but the rows still have
    * to be emitted). Here the flood is one fingerprint group (g rows in,
    * ONE representative out of a single hash-shuffle) and the result stays
    * one row per near-dup REP pair with multiplicities — linear output,
    * flat 1×→100× on the replicated ladder (2.7 s → 3.0 s) because
    * unique-text count — and so LSH cost — doesn't grow with replication
    * at all.
    *
    * Representative choice can't affect results: fingerprint groups share
    * normalized text, and tokens/shingles/signatures are functions of the
    * normalized text, so every member yields the same signature.
    */
  def minhashLshScaledPairs(docs: DataFrame, shingleN: Int, bands: Int,
                            rowsPerBand: Int, minEst: Double): DataFrame = {
    val spark = docs.sparkSession
    // reps feeds THREE consumers (the band engine and both multiplicity
    // joins): stage it to scratch parquet like minhashLshPairs' group
    // table — left inline, the fingerprint collapse re-reads and
    // re-hashes the corpus once per consumer (measured 3.0 s → 1.1 s at
    // sf0.1; Spark reuses exchanges, not arbitrary subtrees, and the
    // post-collapse projections differ per consumer).
    val path = graft.Scratch.dir(spark, "graft_lshsc_") + "/reps"
    val reps = graft.Scratch.writeRead(docs
      .select(col("doc_id"), col("text"), TextFns.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        count(lit(1)).as("dup_count"))
      .select("doc_id", "text", "dup_count"), path)
    val dups = reps.select(col("doc_id"), col("dup_count"))
    // reps are unique texts by construction — feed the raw engine directly
    // (minhashLshPairs would pay a second, no-op collapse shuffle)
    bandBucketPairs(reps.select("doc_id", "text"),
        shingleN, bands, rowsPerBand, minEst)
      .join(dups.toDF("doc_a", "dups_a"), "doc_a")
      .join(dups.toDF("doc_b", "dups_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("dups_a"), col("dups_b"))
  }

  /** Exact n-gram Jaccard over candidate pairs bucketed by (lang, length
    * band) — a deterministic blocking strategy that bounds the pair count.
    *
    * Inverted-index candidate generation with a document-frequency cap
    * (prefix filtering): explode distinct shingles, group by
    * (block, shingle-hash), and expand i<j candidate pairs only from
    * shingle buckets whose document frequency is in [2, dfCap]. A
    * stop-shingle like "of the" occurs in nearly every doc of a block and
    * alone contributes O(df²) join rows — at corpus scale that single key
    * is a quadratic blowup, so high-df shingles are excluded from i<j
    * *candidate generation*. Shingles with df ∈ (dfCap, starCap] still
    * contribute linear STAR candidates (bucket-min ↔ member), so a
    * template cluster LARGER than dfCap — whose every shared shingle has
    * df ≈ cluster size — is still detected (each member pairs with the
    * cluster min; connected components restores the full cluster).
    * Jaccard is exact for every emitted pair; only pairs whose every
    * shared shingle has df > starCap are undetectable, and those share
    * exclusively corpus-wide stop-shingles.
    *
    * Pair keys are packed into one long (doc_a<<32 | doc_b) to halve the
    * distinct-key width; pack/unpack uses pure integer bit ops
    * (shiftleft / shiftrightunsigned / bitwiseAND), which round-trip every
    * id up to 2^32 exactly — `/` would go through double and silently
    * corrupt ids above 2^21.
    */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int, lenBand: Int,
                        minJaccard: Double, dfCap: Int = 64,
                        starCap: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val scratch = graft.Scratch.dir(spark, "graft_ngram_")
    // Collapse-first, like minhashLshPairs, with the SAME exactness
    // argument extended to df-based candidates: shingle sets are functions
    // of the normalized text, so the document frequency of a (block,
    // shingle) key equals the g-weighted count over unique texts —
    // sum(group size) reproduces every df EXACTLY, candidates and
    // verification run over representatives only, and doc pairs re-expand
    // through group membership per candidate class afterwards. The
    // collapse key includes the block columns (lang, len_bucket): two
    // identical texts with different lang/n_chars metadata must NOT share
    // a representative, or block-local dfs would drift.
    // The rep-level shingle-set projection feeds FOUR consumers
    // (candidate explosion, both verification legs, and the membership
    // expansion). Stage it ONCE to scratch parquet — collapse groupBy,
    // tokenize, and shingle-hash pipelined into a single job, so the raw
    // text is never materialized to disk at all (an earlier two-file
    // form staged (rep, text, members) first and re-read the text to
    // build the sets: one extra write barrier plus a parquet round-trip
    // of the corpus' biggest column, measured ~35% of the operator's 1×
    // wall time). The `members` arrays ride along as one column — parquet
    // column pruning means only the expansion consumer ever reads them.
    // Shingles staged as 64-bit hashes, not strings: fixed-width longs,
    // and verification intersects primitive arrays (collision odds
    // ~2^-64 per pair).
    //
    // Two deliberate moves in the projection (6× staging speedup measured
    // at derived sf1, 5.1 s → 0.8 s):
    //  - `tk` and `th` are staged as their OWN projection columns before
    //    any lambda references them — a lambda body re-evaluates a free
    //    expression per ELEMENT, so an inlined tokenize would re-split
    //    the text once per shingle (the dominant cost of the old form);
    //  - each shingle hash is xxhash64 over the window's n TOKEN hashes
    //    (fixed-arity hash of longs) instead of hashing a concatenated
    //    shingle string — no per-shingle string allocation at all. Same
    //    shingle ⇒ same token-hash tuple ⇒ same hash; the oracle never
    //    sees these internal keys (it verifies on shingle strings). Docs
    //    shorter than n keep a whole-text hash — disjoint from the
    //    n-window space, so cross-class equality never existed to lose.
    val path = scratch + "/sets"
    val winHash = when(size(col("th")) >= shingleN,
      transform(sequence(lit(1), size(col("th")) - (shingleN - 1)),
        i => xxhash64((0 until shingleN).map(k =>
          element_at(col("th"), (i + k).cast("int"))): _*)))
      .otherwise(array(xxhash64(concat_ws(" ", col("tk")))))
    val withSets = graft.Scratch.writeRead(graft.Par.spread(docs)
      .select(col("doc_id"), col("lang"),
        (col("n_chars") / lenBand).cast("long").as("len_bucket"),
        col("text"), TextFns.fingerprint(col("text")).as("fp"))
      .groupBy("fp", "lang", "len_bucket")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        sort_array(collect_list(col("doc_id"))).as("members"),
        count(lit(1)).as("g"))
      .select(col("doc_id"), col("lang"), col("len_bucket"), col("g"),
        col("members"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("len_bucket"), col("g"),
        col("members"), col("tk"),
        transform(col("tk"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), col("lang"), col("len_bucket"), col("g"),
        col("members"), array_distinct(winHash).as("sh")), path)
    val blockKeys = Seq("lang", "len_bucket", "sh_h")
    val exploded = withSets
      .select(col("lang"), col("len_bucket"), col("doc_id"), col("g"),
        explode(col("sh")).as("sh_h"))
    // DOCUMENT frequency per (block, shingle) — sum of group sizes, bit-
    // equal to counting docs directly; counts only, so a stop shingle with
    // df = 10⁶ costs one counter, never a collected list (round 2
    // collected EVERY bucket's member list before filtering).
    // Deliberately NOT staged to scratch despite three consumers:
    // measured at derived sf1, re-aggregating from the staged set file
    // (~1.5 s/consumer, fully pipelined) beats the synchronous write
    // barrier of materializing it (+50% end-to-end) — same verdict for
    // the bucket member lists (+30%). The set and group files stay the
    // only staged intermediates.
    val freq = exploded.groupBy(blockKeys.map(col): _*)
      .agg(sum(col("g")).as("df"))
    // EXACT low-df intersection per REP pair from the inverted index:
    // rep lists are collected only for df ∈ [2, dfCap] buckets (bounded
    // arrays), each bucket contributes one count per i<j rep pair —
    // groupBy(pair).count IS |A∩B| over low-df shingles. Shared shingles
    // always have df ≥ 2, so inter_full = inter_low + inter_high.
    // SELF pairs (r, r) for reps with g ≥ 2 ride the same packed-key path:
    // a duplicated text shares every shingle with its replicas, and the
    // identical verification algebra lands on jaccard 1.0 without a
    // special case (inter_low counts ALL its low shingles, inter_high the
    // rest, union = its own set).
    val selfPair = (x: org.apache.spark.sql.Column) =>
      shiftleft(x("doc_id"), 32).bitwiseOR(x("doc_id"))
    val lowPacked = exploded.join(freq.filter(col("df").between(2, dfCap))
        .select(blockKeys.map(col): _*), blockKeys)
      .groupBy(blockKeys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), col("g")))).as("ms"))
      .select(explode(concat(
        expandSortedPairs(col("ms"), (x, y) =>
          shiftleft(x("doc_id"), 32).bitwiseOR(y("doc_id"))),
        transform(filter(col("ms"), m => m("g") >= 2), selfPair))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("inter_low"))
    // star fallback for template-scale clusters: a cluster of MORE than
    // dfCap near-identical docs has no df ≤ dfCap shared shingle at all —
    // every shingle the cluster shares has df ≈ cluster size — so the
    // low-df index alone would miss the highest-jaccard family entirely.
    // Shingles with df ∈ (dfCap, starCap] instead contribute STAR pairs
    // (bucket-min ↔ member: df−1 edges, never df²/2), which is exactly
    // what downstream dedup clustering needs — every member of a big
    // template cluster pairs with the cluster's min doc, and connected
    // components restores the full cluster. Shingles beyond starCap
    // (true stop-shingles) stay excluded: even one edge per member of a
    // corpus-wide key would verify millions of ~0-jaccard pairs.
    // At rep level a star bucket contributes (minRep, r) for every other
    // rep — the bucket's min DOC is the min rep's id, since rep_id is its
    // group's min member and every group member shares the shingle — plus
    // (minRep, minRep) when the min rep itself is a multi-doc group.
    val starPacked = exploded.join(freq.filter(
        col("df") > dfCap && col("df") <= starCap)
        .select(blockKeys.map(col): _*), blockKeys)
      .groupBy(blockKeys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), col("g")))).as("ms"))
      .select(explode(concat(
        expandStarPairs(col("ms"), (x, y) =>
          shiftleft(x("doc_id"), 32).bitwiseOR(y("doc_id"))),
        transform(filter(slice(col("ms"), 1, 1), m => m("g") >= 2),
          selfPair))).as("pair"))
      .distinct()
      // star pairs not already counted by the low index truly share zero
      // low-df shingles — inter_low = 0 is exact, not an approximation
      // (and the anti-join is exact at rep level: a doc pair is low-
      // reachable iff its REP pair is, because low expansion covers every
      // member pair of a low rep pair)
      .join(lowPacked.select("pair"), Seq("pair"), "left_anti")
      .withColumn("inter_low", lit(0L))
    // star expansion is bucket-min ↔ member, not full bipartite — keep
    // the class through verification so each verified rep pair expands
    // with its own shape
    val pairsLow = lowPacked.withColumn("star", lit(false))
      .unionByName(starPacked.withColumn("star", lit(true)))
      .select(
        shiftrightunsigned(col("pair"), 32).as("doc_a"),
        col("pair").bitwiseAND(lit(0xFFFFFFFFL)).as("doc_b"),
        col("inter_low"), col("star"))
    // per-rep verification sidecar: total distinct-shingle count plus the
    // (small) array of this rep's high-df shingles — the only part of the
    // set an exact jaccard still needs once inter_low is known. The full
    // shingle arrays are never joined per pair again (round 2 shipped
    // both docs' complete sets through two joins for all ~d²-shaped
    // candidates — the dominant cost at every scale).
    val highKeys = freq.filter(col("df") > dfCap).select(blockKeys.map(col): _*)
    val aux = withSets.select(col("doc_id"), col("lang"), col("len_bucket"),
        size(col("sh")).cast("long").as("szt"))
      .join(exploded.join(highKeys, blockKeys)
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("sh_h"))).as("sh_high")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("szt"),
        coalesce(col("sh_high"), array().cast("array<bigint>")).as("sh_high"),
        coalesce(size(col("sh_high")), lit(0)).cast("long").as("szh"))
    // scalars and arrays join separately: ALL candidate pairs join the
    // two-long scalar sidecar for the prune; only the pruned survivors
    // (orders of magnitude fewer) ever join the high-df arrays
    val aScalar = aux.select(col("doc_id").as("doc_a"),
      col("szt").as("szt_a"), col("szh").as("szh_a"))
    val bScalar = aux.select(col("doc_id").as("doc_b"),
      col("szt").as("szt_b"), col("szh").as("szh_b"))
    val aHigh = aux.select(col("doc_id").as("doc_a"), col("sh_high").as("high_a"))
    val bHigh = aux.select(col("doc_id").as("doc_b"), col("sh_high").as("high_b"))
    // upper-bound prune, then exact verify: inter ≤ inter_low +
    // min(szh_a, szh_b), and jaccard grows with inter, so pairs whose
    // BEST-case jaccard misses the threshold are dropped before touching
    // any array — provably the same survivors, no approximation.
    // (1e-6 slack: the inequality is exact in rationals; evaluating it in
    // doubles must never drop a boundary pair, only the exact final
    // filter decides those)
    val ubInter = col("inter_low") + least(col("szh_a"), col("szh_b"))
    val verified = pairsLow.join(aScalar, "doc_a").join(bScalar, "doc_b")
      .filter(ubInter * (lit(1.0) + lit(minJaccard)) >=
        lit(minJaccard) * (col("szt_a") + col("szt_b")) - lit(1e-6))
      .join(aHigh, "doc_a").join(bHigh, "doc_b")
      .withColumn("inter",
        col("inter_low") + size(array_intersect(col("high_a"), col("high_b"))).cast("long"))
      .withColumn("uni", col("szt_a") + col("szt_b") - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard", "star")
    // re-expand verified REP pairs to DOC pairs, class by class:
    //  - low pair (r1, r2): every member pair — full bipartite for
    //    r1 ≠ r2, i<j within members for the self pair (replicas of one
    //    text at jaccard 1.0);
    //  - star pair (r0, r): bucket-min doc (= r0's rep_id, the global min
    //    of the bucket) ↔ every member of r — and for the self star,
    //    rep_id ↔ its other members.
    // A doc pair determines its rep pair and classes are disjoint after
    // the anti-join, so no pair is produced twice and no final distinct
    // is needed. least/greatest order cross-group pairs whose memberships
    // interleave.
    val m = withSets.select(col("doc_id").as("rep_id"), col("members"))
    val lowX = verified.filter(!col("star"))
      .join(m.toDF("doc_a", "ma"), "doc_a")
      .join(m.toDF("doc_b", "mb"), "doc_b")
      .select(explode(when(col("doc_a") === col("doc_b"),
        expandSortedPairs(col("ma"), (x, y) =>
          struct(x.as("doc_a"), y.as("doc_b"))))
        .otherwise(flatten(transform(col("ma"), x =>
          transform(col("mb"), y =>
            struct(least(x, y).as("doc_a"), greatest(x, y).as("doc_b"))))))).as("p"),
        col("jaccard"))
    val starX = verified.filter(col("star"))
      .join(m.toDF("doc_b", "mb"), "doc_b")
      .select(explode(transform(
        when(col("doc_a") === col("doc_b"),
          slice(col("mb"), lit(2), greatest(size(col("mb")) - 1, lit(0))))
          .otherwise(col("mb")),
        y => struct(col("doc_a").as("doc_a"), y.as("doc_b")))).as("p"),
        col("jaccard"))
    lowX.unionByName(starX)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("jaccard"))
  }

  /** Exact cross-document substring-span dedup (Lee et al. 2021,
    * arXiv:2107.06499), Spark-shaped: every MAXIMAL shared token span of
    * length >= `minSpan` between a doc pair, without a suffix array.
    *
    * Pigeonhole completeness: anchor `anchorK`-token windows are taken at
    * EVERY position, so any shared span of >= anchorK tokens contains an
    * aligned anchor in both docs — grouping by anchor hash is a complete
    * candidate generator (the same blocked-not-all-pairs shape as LSH
    * banding). Aligned anchor pairs chain into maximal runs on their
    * DIAGONAL (pa - pb): a shared span of L tokens is exactly L-anchorK+1
    * consecutive anchors on one diagonal, recovered with the islands trick
    * (pa - row_number), so span_len = run + anchorK - 1.
    *
    * `dfCap` is the scale valve: anchors shared by more than dfCap docs
    * are excluded from pairing — a boilerplate anchor in 1000 docs is a
    * template, not a copy (the collapse-first MinHash path owns that
    * regime), and pairing it would cost O(df²) join rows per anchor.
    * With dfCap = Int.MaxValue this IS the exact definition (the
    * pigeonhole argument leaves no other loss path), which is what
    * SubstringRecallSpec runs to MEASURE the capped recall on a planted
    * corpus: 100% of copy-regime spans (every span with df <= dfCap),
    * 0 of pure template-regime spans — by construction, not by accident.
    * Anchors hash to one long (xxhash64 over token hashes — no per-window
    * string concat), so the join key is an 8-byte primitive.
    */
  def substringSpanPairs(docs: DataFrame, anchorK: Int = 8,
                         minSpan: Int = 10, dfCap: Int = 16): DataFrame = {
    val win = graft.Par.spread(docs)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), transform(col("tk"), t => xxhash64(t)).as("th"))
      .filter(size(col("th")) >= anchorK)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("th")) - (anchorK - 1)),
          i => xxhash64((0 until anchorK).map(j =>
            element_at(col("th"), (i + lit(j)).cast("int"))): _*))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
    val rare = win.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") <= dfCap)
      .select("h")
    val keep = win.join(rare, "h")
    val pairs = keep.select(col("h"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(keep.select(col("h"), col("doc_id").as("doc_b"), col("pos").as("pb")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    val diag = Window.partitionBy(col("doc_a"), col("doc_b"), col("dg"))
      .orderBy(col("pa"))
    pairs.withColumn("dg", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(diag))
      .groupBy("doc_a", "doc_b", "dg", "isl")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (count(lit(1)) + (anchorK - 1)).cast("long").as("span_len"))
      .filter(col("span_len") >= minSpan)
      // (start_a, start_b) determines the diagonal and a diagonal's runs
      // are disjoint, so this 4-column order is total
      .select(col("doc_a"), col("doc_b"),
        col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"), col("span_len"))
  }

  /** Connected components over a near-dup pair list: every document in a
    * transitively-connected cluster gets the cluster's minimum doc_id as
    * its `cluster_id` — the canonical-representative step that turns
    * pairwise dedup output into keep/drop decisions.
    *
    * Large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires
    * every node's strictly-larger neighbors to its neighborhood minimum
    * (large-star), then collapses the remaining smaller neighbors onto
    * that minimum (small-star). A path graph halves its diameter every
    * round, so convergence takes O(log d) rounds — not the O(d) of plain
    * min-label propagation, which on a diameter-10⁴ web-crawl chain means
    * ~14 rounds instead of ten thousand. Each phase is joins + groupBys
    * on the edge list only — per-node state is a single min, never a
    * collected neighbor array, so a 10⁷-degree hot node costs one counter
    * (skew-linear, the property that survives 100 TB).
    *
    * The pair list, the canonical edge set, and every round's output are
    * checkpointed to cluster-safe scratch, so the analyzed plan stays
    * O(1)-deep at any graph depth and nothing is ever persisted (no cache
    * to leak). Convergence is detected by a (count, hash-sum) signature
    * collected as Observation metrics DURING each round's write — no
    * extra scan — and then CONFIRMED with an exact set-difference; a
    * colliding signature can cost one extra round but can never produce a
    * wrong fixpoint.
    * Non-convergence within `maxIter` still fails loudly: a silent
    * partial result would split true clusters and KEEP duplicates
    * downstream.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // Materialize the pair list ONCE to scratch parquet: every iteration
    // (and the returned plan) re-reads a compact file instead of
    // recomputing the — possibly expensive — candidate-pair plan per
    // round. scratch resolves to shared storage (see Scratch).
    val scratch = graft.Scratch.dir(spark, "graft_cc_")
    val path = scratch + "/pairs"
    val p = graft.Scratch.writeRead(pairs, path)
    // node set from the RAW pairs: a self-pair (x, x) contributes no
    // canonical edge but must still surface as a singleton label
    val nodes = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    ccFromCanonical(spark, scratch,
      p.select(
          greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(),
      nodes, maxIter)
  }

  /** [[connectedComponents]] for pair lists with NO self-pairs — the
    * common case (banded LSH and star pairs are strictly `doc_a <
    * doc_b`). Skips the raw-pair staging write entirely: the node set
    * equals the canonical edge file's endpoint set, so the input plan is
    * evaluated exactly once (inside the canonical-edge write) and one
    * whole write barrier per CC invocation disappears — measurable
    * because the mini-CC consumers (fold, right-to-forget) are
    * job-count-floor-bound, not data-bound (the flat delete-cost curve,
    * BENCH_NOTES round 14, "CcDelCheck").
    * A self-pair in the input is not silently mislabeled — it is
    * DROPPED from the node set; every production call site re-attaches
    * labels through `coalesce(label, doc_id)`, which restores exactly
    * the singleton semantics, and the delete/fold specs gate that end
    * to end.
    *
    * `stageLabels = false` (the default — optimization r15, guide §2.4
    * "fewer barriers") returns the final label projection LAZY: a
    * bounded-depth plan over the two staged files (node set from the
    * canonical edge file, labels from the converged fixpoint file) that
    * evaluates inside the consumer's own action instead of paying one
    * more write barrier + read. Correct for every single-consumer call
    * site (all of them except the fold's condensed labels, which is
    * read twice and passes `true`): evaluating the projection twice
    * would merely re-run two small file scans + one join, but staging
    * it costs a synchronous write on the critical path per invocation.
    */
  private[graft] def ccOverEdges(pairs: DataFrame,
                                 maxIter: Int = 20,
                                 stageLabels: Boolean = false,
                                 distinctPairs: Boolean = false): DataFrame = {
    val spark = pairs.sparkSession
    val scratch = graft.Scratch.dir(spark, "graft_cc_")
    // `distinctPairs = true` (optimization r15, §2.4 "remove shuffles
    // outright"): a caller that CERTIFIES its pair list is free of
    // duplicates as unordered pairs (e.g. a trailing .distinct(), or
    // strictly-oriented star/bucket pairs) skips the canonical dedup —
    // for such inputs it was a pure no-op shuffle on the staging write.
    // The certification is an EFFICIENCY contract, never a correctness
    // one: duplicate edges merely ride into edges_0 and collapse in
    // round 1's own distinct — the fixpoint, its convergence signature
    // comparisons (round k vs k+1 are both post-distinct sets), and the
    // final labels are unchanged for ANY input. Callers whose pair plan
    // can legitimately repeat an edge (foldIntoComponents' contracted
    // cond — the condensation IS the dedup) keep the default.
    val oriented = pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
    ccFromCanonical(spark, scratch,
      if (distinctPairs) oriented else oriented.distinct(),
      null, maxIter, stageLabels)
  }

  /** The shared large-star/small-star fixpoint over an already-canonical
    * (u > v, distinct, self-free) edge set. `nodes` null ⇒ derive the
    * node set from the staged canonical edge file (every node an edge
    * endpoint — the [[ccOverEdges]] contract).
    */
  private def ccFromCanonical(spark: org.apache.spark.sql.SparkSession,
                              scratch: String, canonical: DataFrame,
                              nodes: DataFrame, maxIter: Int,
                              stageLabels: Boolean = true): DataFrame = {
    // every staged edge file carries its convergence signature as
    // Observation metrics collected DURING the write — (row count,
    // decimal sum of row hashes; decimal: immune to overflow at any edge
    // count). No separate scan per round just to decide convergence.
    def writeWithSig(df: DataFrame, dest: String)
        : (DataFrame, (Long, java.math.BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n"),
          sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h"))
        .write.mode("overwrite").parquet(dest)
      val m = obs.get
      val h = m("h") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      // writer-schema read-back: skips the per-round footer-inference job
      // (one per CC round — the hottest writeRead-shaped site in the repo)
      (spark.read.schema(df.schema).parquet(dest),
        (m("n").asInstanceOf[Long], h))
    }
    def sameSig(a: (Long, java.math.BigDecimal),
                b: (Long, java.math.BigDecimal)): Boolean =
      a._1 == b._1 && a._2.compareTo(b._2) == 0

    // canonical (u > v) edge set, staged ONCE — large-star references its
    // input several times and the convergence check scans it again, so an
    // unstaged canonicalization would redo the distinct shuffle 3-4x per
    // round. Self-pairs drop here and are restored as singleton labels at
    // the end (by the caller's node set, or the caller's own coalesce on
    // the ccOverEdges path).
    var (edges, prevSig) = writeWithSig(canonical, s"$scratch/edges_0")
    val edges0 = edges

    // large-star: for every node c, attach each strictly-larger neighbor
    // to m(c) = min(neighborhood ∪ {c}). m comes from a groupBy MIN and a
    // join back — no neighbor list is ever collected.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("c"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, sym("u") === mins("c"))
        .filter(col("v") > col("u")) // larger neighbors only
        .select(col("v").as("u"), col("m").as("v")) // m ≤ u < v: canonical
        .distinct()
    }

    // small-star: for every node u, its (all smaller, by canonical
    // orientation) neighbors collapse onto m(u) = their minimum; the
    // (u, m) edge keeps u attached.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // m < v: canonical
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      // checkpoint EVERY round: a large-star/small-star round references
      // its input ~a dozen times, so a lazy (or merely persisted) chain
      // grows the LOGICAL plan ~12× per round — by round 5 the plan
      // string alone OOMs the driver. Writing the (small) edge list to
      // scratch parquet and re-reading keeps the plan O(1)-deep at any
      // depth; this is the per-iteration pattern production graph jobs
      // use, and it leaves no persisted RDDs to leak.
      val (next, s) = writeWithSig(
        smallStar(largeStar(edges)), s"$scratch/edges_r$rounds")
      if (sameSig(s, prevSig)) {
        // exact confirmation: equal counts + empty one-sided difference
        // of two distinct sets ⇒ set equality (hash collisions can only
        // delay convergence, never fake it)
        converged = next.except(edges).isEmpty
      }
      edges = next
      prevSig = s
      rounds += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"(O(log diameter) expected — raise maxIter)")
    }
    // at the fixpoint every edge is (member, cluster-min): labels are a
    // projection, plus the min labeling itself and any node the canonical
    // step dropped (self-pairs) labeled as its own singleton. On the
    // ccOverEdges path the node set comes from the staged canonical
    // file — two pruned column scans of a small parquet, no second
    // evaluation of the caller's pair plan.
    val ns =
      if (nodes != null) nodes
      else edges0.select(col("u").as("doc_id"))
        .unionByName(edges0.select(col("v").as("doc_id"))).distinct()
    val labels = ns
      .join(edges.select(col("u").as("doc_id"), col("v").as("cid")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"))
      // the fixpoint is a disjoint star union, so each doc_id carries one
      // label — the min-agg is a zero-cost invariant guard, not a merge
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    // ...then either checkpoint the CONVERGED labels (stageLabels — for
    // callers that evaluate the labels more than once) or hand the plan
    // back lazy: `edges` and the node-set source are both checkpoint
    // scans already, so the lazy plan is O(1)-deep (two small file scans
    // + one join) and evaluates inside the consumer's action — one write
    // barrier fewer per CC invocation for the single-consumer sites.
    // Either way the fixpoint work itself is never replayed.
    if (stageLabels) graft.Scratch.writeRead(labels, scratch + "/labels")
    else labels
  }

  /** Fold a NEW batch of near-dup pairs into PERSISTED component labels
    * without re-running [[connectedComponents]] over the historical
    * edge set — the `a14_incremental_agg` fold ≡ recompute doctrine
    * applied to clustering. At 100 TB the daily ingest's most expensive
    * recurring dedup cost is re-running O(log d) global CC rounds over
    * the full corpus edge list to absorb a batch of fresh pairs; this
    * absorbs them at O(batch) instead.
    *
    * Correctness rests on component contraction: each persisted label
    * IS its component's min, so contracting every labeled node to its
    * label preserves the merged graph's component structure, and the
    * CONDENSED graph — nodes are touched components' labels plus the
    * batch's novel ids, edges are the batch pairs with endpoints mapped
    * through their labels — has the same component mins as the full
    * union. Folding is therefore exact: CC over the condensed graph
    * (bounded by BATCH size, never corpus edge count), one relabel
    * projection over the label table, novel nodes labeled from the same
    * condensed fixpoint. Fold ≡ full recompute on the union is
    * spec-asserted bit-equal (TextDedupSpec) and oracle-gated
    * (`dd_cluster_incr` vs the recursive-CTE full recompute).
    *
    * Scale shape: `labels` is read twice — one semi-join producing the
    * touched slice (output bounded by 2·batch) and one final relabel
    * projection (linear scan, map-side join against the condensed
    * fixpoint) — and never shuffled on its own key; no hint is forced,
    * so AQE broadcasts the batch-bounded sides while they are small and
    * degrades to shuffles if a pathological batch outgrows them.
    */
  def foldIntoComponents(labels: DataFrame, newPairs: DataFrame,
                         preStagedPairs: Boolean = false): DataFrame = {
    val spark = labels.sparkSession
    val scratch = graft.Scratch.dir(spark, "graft_ccfold_")
    // stage the batch once: three derivations consume it, and staged
    // parquet gives AQE exact sizes for its broadcast decisions.
    // `preStagedPairs` (optimization r15): callers whose pair frame is
    // ALREADY parquet-backed (pipe_dedup_incr's staged fresh file,
    // dd_cluster_incr's filter over the staged pair table) skip the
    // redundant re-staging write barrier — the consumers then re-read
    // the caller's file (a pruned scan, or a scan + broadcast-joined
    // filter) instead of a byte-identical copy of it.
    val p =
      if (preStagedPairs) newPairs.select(col("doc_a"), col("doc_b"))
      else graft.Scratch.writeRead(
        newPairs.select(col("doc_a"), col("doc_b")), s"$scratch/pairs")
    val ends = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    // the touched slice of the persisted labels — the only label read
    // besides the final projection, output bounded by the batch's
    // endpoint count
    val touched = graft.Scratch.writeRead(
      labels.join(ends, Seq("doc_id"), "left_semi"), s"$scratch/touched")
    val la = touched.select(col("doc_id").as("doc_a"),
      col("cluster_id").as("la"))
    val lb = touched.select(col("doc_id").as("doc_b"),
      col("cluster_id").as("lb"))
    // contract: an edge between two members becomes an edge between
    // their component labels (novel endpoints stay themselves)
    val cond = p.join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
    // ccOverEdges: cond never holds a raw self-pair (probe pairs span
    // batch↔corpus, LSH pairs are doc_a < doc_b), and a CONTRACTED
    // self-pair (both endpoints already share a label) is exactly the
    // no-op case the relabel/novel coalesces below restore.
    // stageLabels: the condensed labels feed TWO consumers (relabel and
    // novel) — the one CC call site where the staged form still wins
    val condLabels = ccOverEdges(cond, stageLabels = true)
      .select(col("doc_id").as("node"), col("cluster_id").as("new_cid"))
    // relabel: a touched component's min can only DROP (to the merged
    // condensed component's min); untouched labels pass through the
    // left join unchanged
    val relabeled = labels
      .join(condLabels.withColumnRenamed("node", "cluster_id"),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("cluster_id")).as("cluster_id"))
    // novel nodes (batch endpoints with no persisted label) take their
    // condensed component's label; an endpoint the condensed CC dropped
    // (pure self-pair) is its own singleton
    val novel = ends.join(touched.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(condLabels.withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("doc_id")).as("cluster_id"))
    relabeled.unionByName(novel)
  }

  /** Staging for the right-to-forget pass: split the persisted
    * label table around a forget set. Returns (passthrough, members,
    * scratch) where `passthrough` is the labels of UNTOUCHED clusters
    * (no forgotten member — their components, and therefore their min
    * labels, cannot change) and `members` is the live membership of
    * AFFECTED clusters (bounded by the affected clusters' total size,
    * which a delete-set of size f bounds by f × max cluster size — the
    * recurring GDPR batch, never the corpus).
    *
    * Scale shape: the label table is scanned three times (forgotten →
    * affected ids, affected → live members, and the passthrough
    * projection), each a linear scan through a broadcast-size semi/anti
    * join — it is never shuffled on its own key, the foldIntoComponents
    * doctrine. The affected set is staged to scratch (two consuming
    * actions); the forget set rides as an explicit broadcast.
    */
  private def splitAffected(labels: DataFrame, forget: DataFrame)
      : (DataFrame, DataFrame, String) = {
    val spark = labels.sparkSession
    val scratch = graft.Scratch.dir(spark, "graft_ccdel_")
    // the forget set rides as an explicit broadcast instead of a staged
    // file (optimization r14, guide §1.2): it is consumed only as the
    // build side of one semi and one anti join, both of which its
    // delete-batch-bounded size contract already commits to broadcast —
    // the staging write barrier bought nothing but a job (AQE sizing is
    // moot under an explicit hint), and the rebuild per consuming action
    // is a pruned single-column scan
    val f = broadcast(forget.select("doc_id").distinct())
    val affected = graft.Scratch.writeRead(
      labels.join(f, Seq("doc_id"), "left_semi")
        .select("cluster_id").distinct(), s"$scratch/affected")
    // members stays lazy (optimization r15, §2.4 fewer barriers): the
    // delete pass consumes it in exactly ONE action (the generator-slice
    // staging write), so the projection evaluates inside that write
    val members = labels.join(affected, Seq("cluster_id"), "left_semi")
      .join(f, Seq("doc_id"), "left_anti")
    val passthrough = labels.join(affected, Seq("cluster_id"), "left_anti")
      .select("doc_id", "cluster_id")
    (passthrough, members, scratch)
  }

  /** Right-to-forget for KEY-GENERATED graphs (`dd_cluster`'s shape:
    * docs sharing a fingerprint or simhash key are a clique). A sparse
    * connectivity WITNESS of such a graph — star pairs, chains — is not
    * deletion-stable: forgetting a star's hub disconnects members that
    * are still same-key connected, and the only deletion-stable pair
    * list is the full clique (quadratic). So the persisted artifact here
    * is the edge GENERATOR itself — the (doc_id, k) key table, linear in
    * the corpus and trivially deletion-stable because a doc's keys are
    * intrinsic — and the delete pass re-derives the affected clusters'
    * live edges from their restricted key groups.
    *
    * The restricted groups are COMPLETE: any doc sharing a key with an
    * affected-cluster member is in that same cluster (a key is an edge),
    * so the semi-join slice of the key table loses no group member.
    * Star pairs are re-anchored per restricted group by a window MIN —
    * no member array is ever collected (flood-safe), and the window
    * partitions are delete-batch-bounded. Participation follows the
    * live graph: a doc whose every restricted group has one member has
    * no live edge and drops from the output, matching the full-recompute
    * convention (participants = docs in ≥ 1 pair).
    */
  def deleteFromComponentsKeyed(labels: DataFrame, keyed: DataFrame,
                                forget: DataFrame): DataFrame = {
    // members rides lazy — its one consumer is the km staging write below
    val (passthrough, members, scratch) = splitAffected(labels, forget)
    val spark = labels.sparkSession
    // the generator slice: key rows of live affected members only — on a
    // persisted key table partitioned by id range this read prunes to
    // the affected slice; staged so the window and the participant
    // filter read one compact file
    val km = graft.Scratch.writeRead(
      keyed.join(members.select("doc_id"), Seq("doc_id"), "left_semi"),
      s"$scratch/keyed")
    val w = Window.partitionBy("k")
    val starred = km
      .withColumn("mn", min("doc_id").over(w))
      .withColumn("gn", count(lit(1)).over(w))
    val liveEdges = starred.filter(col("doc_id") > col("mn"))
      .select(col("mn").as("doc_a"), col("doc_id").as("doc_b")).distinct()
    val participants = starred.filter(col("gn") >= 2)
      .select("doc_id").distinct()
    // liveEdges is explicitly distinct and strictly mn < doc_id — the
    // canonical dedup would be a no-op shuffle
    val mini = ccOverEdges(liveEdges, distinctPairs = true)
      .withColumnRenamed("cluster_id", "new_cid")
    // every participant is an edge endpoint (its group has ≥ 2 members),
    // so the coalesce is an invariant guard, not a semantic branch
    val relabeled = participants
      .join(mini, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("doc_id")).as("cluster_id"))
    passthrough.unionByName(relabeled)
  }

  /** SimHash grouping: docs sharing a 16-bit simhash signature.
    * The token-md5 array is projected in its own step so the 16 bit
    * extractors reference one computed column instead of re-hashing the
    * token list per bit (CollapseProject keeps non-cheap multi-referenced
    * projections separate).
    * Content-addressed (Content.repsById): the signature is a pure
    * function of the text, so it is computed once per distinct text;
    * group size re-weights by replica mass and min_doc_id is the min of
    * the per-content mins — no re-expansion needed.
    */
  def simhashGroups(docs: DataFrame,
                    salt: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    graft.operators.Content.repsById(docs, Seq("text"), salt = salt)
      .select(col("doc_id"), col(graft.operators.Content.G),
        transform(TextFns.tokens(col("text")), t => md5(t)).as("h"))
      .select(col("doc_id"), col(graft.operators.Content.G),
        TextFns.simhash16FromHashes(col("h")).as("simhash"))
      .groupBy("simhash")
      .agg(sum(graft.operators.Content.G).as("n_docs"),
        min("doc_id").as("min_doc_id"))
      .filter(col("n_docs") > 1)
  }

  /** Asymmetric near-dup detection: shingle-set CONTAINMENT
    * |A∩B| / min(|A|,|B|) — the doc-in-doc signal (a snippet quoted
    * inside a longer page scores ~1.0 where Jaccard, diluted by the long
    * side's union, misses it). This is why it deliberately does NOT block
    * on length band the way [[ngramJaccardPairs]] does: cross-length
    * pairs are exactly the interesting ones here.
    *
    * Defined over DISTINCT texts (one representative per (fingerprint,
    * lang) group, min doc_id): containment between exact replicas is
    * trivially 1.0 and already reported by [[exactGroups]], and the
    * rep-level definition makes the operator collapse-first by
    * construction — a duplicate flood can't quadratically inflate the
    * pair set, so the output is vocabulary-sized at any corpus scale.
    *
    * Scale shape: one fingerprint shuffle (the collapse), a df-capped
    * inverted index for candidates (a shingle shared by >dfCap reps is
    * boilerplate, not quotation — same regime split as ngramJaccard's
    * low/mid tiers), exact verification on candidate pairs only via a
    * bounded array intersect. No all-pairs join at any stage.
    */
  def containmentPairs(docs: DataFrame, shingleN: Int = 2,
                       minContainBp: Int = 8000, dfCap: Int = 64,
                       minSet: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    val scratch = graft.Scratch.dir(spark, "graft_contain_")
    val path = scratch + "/sets"
    // same staged-hashed-shingle projection as ngramJaccardPairs (fixed-
    // width longs, token hashes staged before the window lambda touches
    // them); short docs keep the whole-text fallback hash
    val winHash = when(size(col("th")) >= shingleN,
      transform(sequence(lit(1), size(col("th")) - (shingleN - 1)),
        i => xxhash64((0 until shingleN).map(k =>
          element_at(col("th"), (i + k).cast("int"))): _*)))
      .otherwise(array(xxhash64(concat_ws(" ", col("tk")))))
    val sets = graft.Scratch.writeRead(graft.Par.spread(docs)
      .select(col("lang"), TextFns.fingerprint(col("text")).as("fp"),
        col("doc_id"), col("text"))
      .groupBy("fp", "lang")
      .agg(min("doc_id").as("doc_id"), min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), col("tk"),
        transform(col("tk"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"), col("lang"), array_distinct(winHash).as("sh")), path)
    val exploded = sets.select(col("lang"), col("doc_id"),
      explode(col("sh")).as("sh_h"))
    val freq = exploded.groupBy("lang", "sh_h").agg(count(lit(1)).as("df"))
    // two-tier exact intersection (the ngramJaccardPairs machinery with
    // containment algebra): per-pair counts over df ∈ [2, dfCap] buckets
    // ARE the low-df intersection — candidates and inter_low come out of
    // the same groupBy, so the full shingle arrays are never joined for
    // the (much larger) pruned-away candidate majority. Pairs packed to
    // one long (ids < 2^32, the suite-wide pair-packing contract).
    val lowPairs = exploded
      .join(freq.filter(col("df").between(2, dfCap))
        .select("lang", "sh_h"), Seq("lang", "sh_h"))
      .groupBy("lang", "sh_h")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expandSortedPairs(col("ids"),
        (a, b) => shiftleft(a, 32).bitwiseOR(b))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("inter_low"))
      .select(shiftrightunsigned(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit((1L << 32) - 1)).as("doc_b"),
        col("inter_low"))
    // per-rep sidecar: total set size (scalar, joined by every candidate)
    // and the doc's df>dfCap shingles (array, joined only by survivors).
    // A shared shingle has df ≥ 2 and exactly one tier, so
    // inter = inter_low + |high_a ∩ high_b| EXACTLY.
    val aux = sets.select(col("doc_id"), size(col("sh")).cast("long").as("szt"))
      .join(exploded.join(freq.filter(col("df") > dfCap)
          .select("lang", "sh_h"), Seq("lang", "sh_h"))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("sh_h"))).as("sh_high")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("szt"),
        coalesce(col("sh_high"), array().cast("array<bigint>")).as("sh_high"),
        coalesce(size(col("sh_high")), lit(0)).cast("long").as("szh"))
    val aScalar = aux.select(col("doc_id").as("doc_a"),
      col("szt").as("szt_a"), col("szh").as("szh_a"))
    val bScalar = aux.select(col("doc_id").as("doc_b"),
      col("szt").as("szt_b"), col("szh").as("szh_b"))
    // upper-bound prune in EXACT integer basis points — unlike the
    // jaccard prune no double slack is needed, the containment threshold
    // is integral: best-case inter = inter_low + min(szh), and
    // inter/min_set ≥ bp/10⁴ ⇔ inter·10⁴ ≥ min_set·bp. (A double
    // 0.8·min_set lands just ABOVE the integer boundary and would
    // silently drop every exactly-at-threshold pair.)
    val minSetC = least(col("szt_a"), col("szt_b"))
    val ub = col("inter_low") + least(col("szh_a"), col("szh_b"))
    lowPairs.join(aScalar, "doc_a").join(bScalar, "doc_b")
      .filter(minSetC >= minSet && ub * 10000L >= minSetC * minContainBp)
      .join(aux.select(col("doc_id").as("doc_a"), col("sh_high").as("high_a")), "doc_a")
      .join(aux.select(col("doc_id").as("doc_b"), col("sh_high").as("high_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter_low") +
          size(array_intersect(col("high_a"), col("high_b"))).cast("long")).as("inter"),
        minSetC.as("min_set"))
      .filter(col("inter") * 10000L >= col("min_set") * minContainBp)
      .withColumn("containment",
        round(col("inter").cast("double") / col("min_set"), 4))
      .select("doc_a", "doc_b", "containment", "min_set")
      .orderBy("doc_a", "doc_b")
  }
}
