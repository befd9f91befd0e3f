package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's star-schema testdata (TESTDATA.md).
  *
  * Every operator query receives an `sfDir` like `/root/testdata/sf0.01`
  * and reads single-file parquet tables from it. At cluster scale these
  * would be partitioned directories; the API is identical.
  */
object Tables {
  // memoized per (session, dir, name): repeated queries over the same
  // table reuse the resolved relation (file listing + parquet footer
  // schema read happen once per session, not once per query) — this is
  // pure driver-side bookkeeping, the data itself stays lazy.
  // Contract: testdata dirs are IMMUTABLE (the memoized relation pins the
  // file listing); mutable paths must go through spark.read directly.
  private val memo = new Memo.PerSession[(String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, (dir, name))(spark.read.parquet(s"$dir/$name.parquet"))

  /** `events.ts` has shipped in three physical encodings across testdata
    * generations, so the loader is schema-adaptive — it probes the parquet
    * footer type and normalizes `ts` to a session-TZ `TimestampType`:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects this
    *    ([PARQUET_TYPE_ILLEGAL]) unless `nanosAsLong` is set — the
    *    contract [[Session]] sets it; the loader reads the session's
    *    confs and never changes them — so we read a nanosecond Long and
    *    truncate to microseconds. The division MUST be integer `div`:
    *    epoch-ns (~1.7e18) exceeds 2^53, so `/` (double) can land ±1µs
    *    off DuckDB's integer truncation.
    *  - INT64 TIMESTAMP_MICROS with isAdjustedToUTC=false: Spark loads
    *    `TIMESTAMP_NTZ`; a cast under the UTC session re-tags the same
    *    micros as TimestampType (no value shift), matching what DuckDB
    *    reads, so oracle comparisons agree.
    *  - TIMESTAMP_MICROS UTC-adjusted: already TimestampType, pass through.
    *
    * The probe happens inside the memoized block, so it costs one footer
    * read per (session, dir) — the same footer `load` reads anyway.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    memo(s, (d, "events.norm")) {
      val raw = load(s, d, "events")
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType    => raw
        case other => throw new IllegalStateException(
          s"events.ts: unsupported parquet type $other (expected INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
