package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SaltSpec extends SparkSuite {
  import spark.implicits._

  // skewed corpus: key "hot" carries 90% of rows
  private lazy val skewed = ((1 to 900).map(i => ("hot", i.toDouble)) ++
    (1 to 100).map(i => (s"k${i % 10}", i.toDouble))).toDF("k", "v")

  test("saltedSumCount equals plain aggregation") {
    val plain = skewed.groupBy("k")
      .agg(sum("v").as("sum"), count(lit(1)).as("count"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Salt.saltedSumCount(skewed, "k", col("v"), col("v"), 8)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("saltedSumCount spreads a hot key over multiple salt buckets") {
    val buckets = skewed.filter($"k" === "hot")
      .withColumn("__salt", pmod(xxhash64(col("v")), lit(8)))
      .select("__salt").distinct().count()
    assert(buckets > 4) // the hot key's rows land in most of the 8 buckets
  }
}
