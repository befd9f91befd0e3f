package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation by key salting.
  *
  * When one group key carries a disproportionate share of rows, a plain
  * hash shuffle sends that share to one partition and the stage runs at
  * the speed of its hottest key. Salting fans a hot key out across
  * `saltBuckets` sub-keys; the price is a second aggregation pass.
  *
  * Salt derivation is deterministic — a hash of a high-cardinality column
  * of the row, not `rand()` — so the operator stays replay-stable and
  * testable. AQE's skew-join handling covers sort-merge joins at runtime;
  * this helper covers the aggregations AQE can't split, and it works with
  * AQE off.
  */
object Salt {

  /** Two-phase skewed aggregation: partial-aggregate on (key, salt), then
    * final-aggregate on key. `partials` must be re-aggregatable (sums,
    * counts, min/max — the usual partial-agg algebra).
    */
  def saltedSumCount(df: DataFrame, key: String, valueCol: Column,
                     saltFrom: Column, saltBuckets: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltFrom), lit(saltBuckets)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__s"), count(lit(1)).as("__c"))
      .groupBy(col(key))
      .agg(sum("__s").as("sum"), sum("__c").cast("long").as("count"))
}
