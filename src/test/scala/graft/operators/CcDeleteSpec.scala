package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Right-to-forget through persisted component labels
  * (TextDedup.deleteFromComponentsKeyed): delete ≡ full recompute over
  * the live graph, including the cases a naive min-relabel gets wrong —
  * a forgotten BRIDGE doc must drop or SPLIT its component, and a
  * forgotten cluster-min must re-anchor every member.
  */
class CcDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def labelsOf(pairs: DataFrame): DataFrame =
    TextDedup.connectedComponents(pairs)

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap

  test("keyed: bridge doc forgotten → both sides drop participation") {
    // 10 -k1- 11 -k2- 12: doc 11 bridges two key groups; forgetting it
    // leaves both restricted groups at size 1, so 10 and 12 are no
    // longer participants at all (the full-recompute convention)
    val keyed = Seq((10L, "k1"), (11L, "k1"), (11L, "k2"), (12L, "k2"),
      (20L, "k3"), (21L, "k3")).toDF("doc_id", "k")
    val labels = Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "cluster_id")
    val out = TextDedup.deleteFromComponentsKeyed(
      labels, keyed, Seq(11L).toDF("doc_id"))
    assert(asMap(out) === Map(20L -> 20L, 21L -> 20L))
  }

  test("keyed: forgetting the group min re-anchors via the live window min") {
    val keyed = Seq((20L, "k1"), (21L, "k1"), (22L, "k1")).toDF("doc_id", "k")
    val labels = Seq((20L, 20L), (21L, 20L), (22L, 20L))
      .toDF("doc_id", "cluster_id")
    val out = TextDedup.deleteFromComponentsKeyed(
      labels, keyed, Seq(20L).toDF("doc_id"))
    // a star witness anchored at 20 would disconnect 21 and 22 — the
    // regenerated group edge keeps them one cluster under the new min
    assert(asMap(out) === Map(21L -> 21L, 22L -> 21L))
  }

  test("keyed: delete ≡ full recompute over a random key table") {
    // ~120 docs × 2 keys from small key spaces → overlapping groups,
    // multi-key bridges, and cross-group merges
    val keyed = spark.range(120).select(col("id").as("doc_id"),
        concat(lit("a"), (xxhash64(col("id")) % 40).cast("string")).as("k"))
      .unionByName(spark.range(120).select(col("id").as("doc_id"),
        concat(lit("b"), (xxhash64(col("id") + 7) % 40).cast("string")).as("k")))
    def recompute(kt: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
      val st = kt.withColumn("mn", min("doc_id").over(w))
        .withColumn("gn", count(lit(1)).over(w))
      val edges = st.filter(col("doc_id") > col("mn"))
        .select(col("mn").as("doc_a"), col("doc_id").as("doc_b")).distinct()
      val parts = st.filter(col("gn") >= 2).select("doc_id").distinct()
      parts.join(labelsOf(edges).withColumnRenamed("cluster_id", "cid"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("cluster_id"))
    }
    val labels = recompute(keyed)
    val forget = spark.range(120).select(col("id").as("doc_id"))
      .filter(col("doc_id") % 7 === 3)
    val out = TextDedup.deleteFromComponentsKeyed(labels, keyed, forget)
    val expect = recompute(
      keyed.join(forget, Seq("doc_id"), "left_anti"))
    assert(out.except(expect).isEmpty && expect.except(out).isEmpty)
  }

  test("empty forget set is the identity on the label table") {
    val keyed = Seq((1L, "k1"), (2L, "k1"), (2L, "k2"), (3L, "k2"))
      .toDF("doc_id", "k")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val out = TextDedup.deleteFromComponentsKeyed(labels, keyed,
      spark.emptyDataset[Long].toDF("doc_id"))
    assert(out.except(labels).isEmpty && labels.except(out).isEmpty)
  }
}
