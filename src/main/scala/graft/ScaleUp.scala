package graft

import org.apache.spark.sql.functions._

/** Dev tool: derive a larger BENCH dataset from the driver's sf0.1 tables
  * by replicating each fact table K× with consistent key shifts —
  * `sbt "runMain graft.ScaleUp [srcDir dstDir K]"`.
  *
  * This is synthetic-scaled data for throughput/scaling measurements ONLY
  * (BENCH_sf1.json); correctness stays gated on the driver's own
  * testdata. Key shifts are applied to BOTH sides of every foreign key
  * (orders.o_custkey and customer.c_custkey shift together, etc.), so
  * join selectivities survive the scale-up instead of degenerating into
  * orphan floods. Dimension tables that facts reference by UNSHIFTED keys
  * (region, nation, and the nationkey columns) are copied as-is — at real
  * scale the nation dim doesn't grow 10× because the fact tables did.
  * Documents replicate with identical text: replica copies become exact
  * duplicates, which stresses the dedup stack the way a crawl corpus
  * would (doc_id shifts stay far below the 2^32 pair-packing bound).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    // events.ts round-trips whatever encoding the source uses: under the
    // contract's nanosAsLong a NANOS column reads as a plain long and
    // writes back as one; TIMESTAMP_MICROS NTZ reads/writes natively.
    // Tables.events probes the footer of the OUTPUT and normalizes either.
    val spark = Session()

    def copy(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def rep(name: String, shifts: Map[String, Long], parts: Int): Unit = {
      val df = spark.read.parquet(s"$src/$name.parquet")
      val replicated = df
        .withColumn("__r", explode(sequence(lit(0L), lit(k - 1L))))
      val shifted = shifts.foldLeft(replicated) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__r") * lit(s))
      }
      shifted.drop("__r")
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }

    copy("region")
    copy("nation")
    val F = 1000000000L // fact-key stride per replica
    rep("customer", Map("c_custkey" -> F), 4)
    rep("supplier", Map("s_suppkey" -> F), 2)
    rep("part", Map("p_partkey" -> F), 2)
    rep("orders", Map("o_orderkey" -> F, "o_custkey" -> F), 8)
    rep("lineitem",
      Map("l_orderkey" -> F, "l_partkey" -> F, "l_suppkey" -> F), 16)
    rep("events", Map("event_id" -> F, "user_id" -> 100000000L), 8)
    rep("documents", Map("doc_id" -> 1000000L), 4)
    rep("embeddings", Map("vec_id" -> 1000000L), 2)
    println(s"""{"scaled":"$dst","k":$k,"src":"$src"}""")
    spark.stop()
  }
}
