package graft.operators

import graft.{SparkSuite, Tables}
import graft.queries.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Content-addressed evaluation (Content.perContent): the collapsed mode
  * must be bit-identical to the naive per-document mode for every
  * converted query, on the real corpus AND on a replica-flooded one.
  * The naive side is the SAME derivation run with a per-row-unique salt
  * (doc_id) folded into the content key — singleton groups degenerate the
  * combinator to per-document evaluation, so the comparison isolates
  * exactly the collapse/re-expand machinery (including the weighted
  * corpus counts in txt_ppl_proxy, where `G` carries replica mass).
  */
class ContentSpec extends SparkSuite {

  import spark.implicits._

  private type Derived =
    (SparkSession, String, Option[org.apache.spark.sql.Column]) => DataFrame

  private val derivations: Seq[(String, Derived)] = Seq(
    "txt_stats" -> (TextQueries.statsDerived _),
    "txt_fingerprint" -> (TextQueries.fingerprintDerived _),
    "txt_winnow" -> (TextQueries.winnowDerived _),
    "txt_repetition" -> (TextQueries.repetitionDerived _),
    "txt_chunks" -> (TextQueries.chunksDerived _),
    "txt_self_span" -> (TextQueries.selfSpanDerived _),
    "txt_self_clean" -> (TextQueries.selfCleanDerived _),
    "txt_ppl_proxy" -> (TextQueries.pplProxyDerived _),
    "txt_dtm" -> (graft.queries.Analytics.dtmDerived _),
    // corpus-aggregate (Content.reps + G-weighted counts, no re-expansion)
    "vocab_merges" -> (graft.queries.Curation.vocabMergesDerived _),
    "tok_coverage" -> (graft.queries.Curation.tokCoverageDerived _),
    // content-pair overlap expanded through per-doc membership
    "dd_contaminate" -> (TextQueries.contaminateDerived _),
    // gate+fingerprint collapsed, doc-identity stages unchanged
    "pipe_curate" -> (graft.queries.Curation.pipeCurateDerived _),
    // stratified membership: per-content n_train weights the NB counts
    "txt_nb_quality" -> (graft.queries.Curation.txtNbQualityDerived _),
    // repsById: min-member-id stands in for the group, no re-expansion
    "dd_exact" -> ((s: SparkSession, d: String, salt: Option[org.apache.spark.sql.Column]) =>
      TextDedup.exactGroups(Tables.documents(s, d), salt)),
    "dd_simhash" -> ((s: SparkSession, d: String, salt: Option[org.apache.spark.sql.Column]) =>
      TextDedup.simhashGroups(Tables.documents(s, d), salt)),
    "dd_keep_best" -> (TextQueries.keepBestDerived _),
    // content-level connected components, members attach afterwards
    "dd_cluster" -> ((s: SparkSession, d: String, salt: Option[org.apache.spark.sql.Column]) =>
      TextQueries.clusterDerived(s, d, salt)),
    "dd_semdedup" -> (graft.queries.SimilarityQueries.semdedupDerived _),
    // vector collapse: per-distinct-vector quantize; weighted exact Lloyd's
    "emb_quantize" -> (graft.queries.SimilarityQueries.quantizeDerived _),
    "emb_kmeans" -> (graft.queries.SimilarityQueries.kmeansDerived _))

  // the per-row-unique salt column: embeddings-table derivations key by
  // vec_id
  private def saltFor(name: String): String =
    if (Set("dd_semdedup", "emb_quantize", "emb_kmeans")(name)) "vec_id" else "doc_id"

  private def assertSameRows(name: String, a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col(_))
    val da = a.select(cols: _*)
    val db = b.select(cols: _*)
    assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
      s"$name: collapsed != naive")
    assert(da.count() == db.count(), s"$name: row count differs")
  }

  test("collapsed == naive (salted) for every converted query on the real corpus") {
    derivations.foreach { case (name, f) =>
      assertSameRows(name, f(spark, sf, None), f(spark, sf, Some(col(saltFor(name)))))
    }
  }

  test("collapsed == naive on a replica-flooded corpus (40 copies of each of 30 docs)") {
    // ScaleUp-shaped flood: identical text under shifted ids — the regime
    // the collapse exists for. Written as parquet so the derivations read
    // it through the same Tables loader the shipped queries use.
    val dir = tempDir("graft_content_spec")
    val base = Tables.documents(spark, sf).limit(30).collect()
    val flood = (0 until 40).flatMap { r =>
      base.map { row =>
        (row.getLong(0) + r * 100000L, row.getString(1), row.getString(2),
          row.getString(3), row.getLong(4))
      }
    }
    flood.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // flooded embeddings for the vector-collapse derivations (identical
    // vectors under shifted ids, same ScaleUp shape)
    val baseEmb = Tables.embeddings(spark, sf).limit(30).collect()
    (0 until 40).flatMap { r =>
      baseEmb.map { row =>
        (row.getLong(0) + r * 100000L, row.getSeq[Float](1), row.getInt(2))
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    derivations.foreach { case (name, f) =>
      assertSameRows(name, f(spark, dir, None), f(spark, dir, Some(col(saltFor(name)))))
    }
  }

  test("contentKey separates null, empty, boundary-shifted, and FORGED tuples") {
    // the forgery rows are the reason for the length-prefixed rendering: a
    // separator+sentinel scheme collides when a VALUE contains the
    // separator or equals the null sentinel
    val rows = Seq(
      ("a", null.asInstanceOf[String]),
      ("a", "N"),          // value imitating the null marker
      ("aN", ""),          // marker absorbed into the neighbor field
      ("a", ""),
      ("a ", ""),
      ("", "a"),
      ("a", "b"),
      ("aV1:b", ""),       // value imitating a field header
      ("a", "V1:b"),
      ("ab", "")).toDF("x", "y")
    val keys = rows.select(Content.contentKey(Seq(col("x"), col("y"))).as("k"))
      .collect().map(_.getString(0))
    assert(keys.distinct.length == keys.length, keys.mkString(","))
  }

  test("contentKeyTyped separates forged ARRAY and STRUCT renderings") {
    // cast(array<string> as string) joins elements with ", " — so
    // ['a, b'] and ['a','b'] render identically; the typed key hashes per
    // ELEMENT (per FIELD for structs), restoring injectivity
    val rows = Seq(
      (Seq("a, b"), ""),
      (Seq("a", "b"), ""),
      (Seq("a"), "b"),
      (null.asInstanceOf[Seq[String]], ""),   // null array ≠ empty array
      (Seq.empty[String], ""),
      (Seq(null.asInstanceOf[String]), ""),   // [null] ≠ [] ≠ [""]
      (Seq(""), "")).toDF("xs", "y")
    val typed = Seq("xs", "y").map(c => (col(c), rows.schema(c).dataType))
    val keys = rows.select(Content.contentKeyTyped(typed).as("k"))
      .collect().map(_.getString(0))
    assert(keys.distinct.length == keys.length, keys.mkString(","))
    val srows = Seq(Tuple1(("a, b", "")), Tuple1(("a", "b"))).toDF("s")
    val skeys = srows.select(Content.contentKeyTyped(
      Seq((col("s"), srows.schema("s").dataType))).as("k"))
      .collect().map(_.getString(0))
    assert(skeys.distinct.length == 2, "struct fields conflated")
  }

  test("join-based membership keeps NULL-keyed rows (null-safe join)") {
    // grouping puts null keys in ONE group — exactly like the hash path's
    // `N` token — so the membership join must be null-safe; a plain
    // equi-join would silently drop rows 2 and 3
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, null.asInstanceOf[Seq[Float]]),
      (3L, null.asInstanceOf[Seq[Float]]),
      (4L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val r = Content.reps(emb, Seq("embedding"))
    val m = Content.membership(emb, r, Seq("embedding"), "vec_id")
    assert(m.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L), "membership dropped a null-keyed row")
    assert(m.select(Content.H).distinct().count() == 2,
      "null rows must share one rep, duplicates another")
  }

  test("unrecognized key types default to the sound join membership") {
    // a struct-of-double key is NOT on the hash-stable whitelist (floats
    // group-normalize), so it must take the join path and keep every row —
    // the blacklist's failure mode here was silent row loss
    val df = Seq((1L, (-0.0, "x")), (2L, (0.0, "x")), (3L, (2.0, "y")))
      .toDF("id", "s")
    val r = Content.reps(df, Seq("s"))
    val m = Content.membership(df, r, Seq("s"), "id")
    assert(m.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L), "struct-keyed membership dropped a row")
    assert(m.select(Content.H).distinct().count() == 2,
      "-0.0 and 0.0 struct keys must normalize to one rep")
  }

  test("a -0.0 embedding component survives the member/rep key agreement") {
    // Spark normalizes -0.0 to 0.0 in float-array GROUPING keys, so the
    // rep frame's hash sees the normalized value; an unnormalized
    // member-side hash would disagree and the re-expansion join would
    // silently DROP the row (naive + oracle emit every vec_id)
    val dir = tempDir("graft_negzero")
    def v(head: Float, rest: Float): Seq[Float] = head +: Seq.fill(7)(rest)
    Seq(
      (1L, v(-0.0f, 1.0f), 0),
      (2L, v(0.0f, 1.0f), 0),
      (3L, v(3.0f, 4.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val quant = graft.queries.SimilarityQueries.quantizeDerived(spark, dir, None)
    assert(quant.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L), "emb_quantize dropped a ±0.0 row")
    val sem = graft.queries.SimilarityQueries.semdedupDerived(spark, dir, None)
    assert(sem.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L), "dd_semdedup dropped a ±0.0 row")
  }
}
