package graft

import org.apache.spark.sql.SparkSession

/** The contract session: the one place the confs that every timed,
  * verified, explained and tested run shares are set, so a plan printed
  * by `Explain` or locked by a spec is the plan `Bench` times and
  * `Verify` certifies.
  *
  *  - `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS`, else
  *    the host's core count;
  *  - UTC session time zone: ts-derived dates must group the way the
  *    DuckDB oracle groups them;
  *  - `GraftExtensions`: graft's optimizer rules and SQL functions
  *    (RewriteBoundedIntervalJoin, dot_f);
  *  - DPP `reuseBroadcastOnly=false`: the default reuse-only mode can
  *    never engage for a hinted broadcast join over a partitioned staged
  *    index (the filter silently degrades to `true`); with standalone
  *    pruning subqueries the cost model decides, declining at toy scale
  *    and pruning the scan at production scale;
  *  - `nanosAsLong`: an INT64 TIMESTAMP(NANOS) `events.ts` footer reads as
  *    a Long that `Tables.events` truncates, instead of failing the read;
  *  - UI off.
  */
object Session {

  /** Local parallelism and shuffle width of the contract session. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Get or create the contract session. `extra` confs apply after the
    * contract ones, so an overlapping key really overrides.
    */
  def apply(extra: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus
    val contract = Seq(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val spark = (contract ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$n]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
