package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** Pins every value the integer quantizers train at sf0.001: the
  * emb_kmeans clusters, the PQ codebooks and codes, and the IVF-PQ
  * coarse cells, residual codebooks and codes. All of them are exact
  * integer Lloyd's rounds, so a rewrite of the shared round must keep
  * every centroid and every code; the digests were computed before the
  * four quantizers shared one round. The oracle gate certifies the same
  * values against DuckDB, but runs outside the test suite.
  */
class QuantizerBytesSpec extends SparkSuite {

  /** SHA-256 of the frame's rows, each rendered as `a|b|[x,y,…]` and
    * sorted, so partitioning and row order do not count.
    */
  private def digest(df: DataFrame): String = {
    val lines = df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  test("emb_kmeans clusters are pinned") {
    assert(digest(SimilarityQueries.embKmeans(spark, sf)) ==
      "051cfd56289e3aefcc065ee6be7e2f03f42c36879fc2f6260e959d0a90252203")
  }

  test("pqIndex codebooks and codes are pinned") {
    val (cent, codes) = SimilarityQueries.pqIndex(spark, sf)
    assert((digest(cent), digest(codes)) == ((
      "c6ab3af427842b3c0f77ecbcb9e29bbab3f523d42dab8d2f1c6cefadb9c736e9",
      "a823f37970ee8b125d98d4c614178899dcb8caba2c16c6e6f1591c1dde52061d")))
  }

  test("ivfpqIndex coarse cells, residual codebooks and codes are pinned") {
    val (coarse, rcent, codes) = SimilarityQueries.ivfpqIndex(spark, sf)
    assert((digest(coarse), digest(rcent), digest(codes)) == ((
      "80e7802507735052b700a9732779977e902bd62676bb3a29b9933dc8b7f51da1",
      "743d6892a8949c1dab7c2d5bd6decd12798e3a5ac5fc7cab7b5685adffb97aec",
      "efe9e1ef28cd4b14a68ba6eb2dd123fffaae3e55dac97c679d506b547d164575")))
  }
}
