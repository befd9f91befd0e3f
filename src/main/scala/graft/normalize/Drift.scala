package graft.normalize

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Schema-drift normalization: pure Column-expression builders.
  *
  * The reference resolves vendor payload drift with per-field key-fallback
  * chains (reference `src/transformer.py:52-74,100-111`), lowercases and
  * buckets status strings (`src/transformer.py:66-72`), parses
  * heterogeneous timestamp formats leniently (`src/transformer.py:33`,
  * formats from `src/live_event_generator.py:50,62,71,129`), and derives
  * deterministic ids by hashing natural keys
  * (`src/bootstrap_loader.py:22-24,43`, `src/live_event_generator.py:27-29`).
  *
  * Everything here is a built-in Catalyst expression — no UDFs — so the
  * whole normalization layer stays inside whole-stage codegen and is
  * pushdown/pruning-transparent at any scale.
  */
object Drift {

  /** First non-null among candidate JSON paths of a JSON-string column.
    * Null-only semantics (SQL COALESCE), deliberately NOT Python-falsy
    * (SURVEY §2.10.4): empty string / 0 are real values here.
    *
    * Negative result, measured at the 100× SF: rewriting this as ONE
    * `from_json` over a struct of all candidate keys is 30% SLOWER
    * (8.8 s → 11.3 s on `p4_drift_coalesce`) — OptimizeJsonExprs prunes
    * the schema per extracted field, splitting the "single" parse back
    * into N full Jackson parses, each costlier than get_json_object's
    * streaming path matcher. The chained form stays.
    */
  def jsonCoalesce(jsonCol: Column, paths: Seq[String]): Column =
    coalesce(paths.map(p => get_json_object(jsonCol, s"$$.$p")): _*)

  /** Lowercase + bucket payment-status dialects into canonical
    * {failed, success, <passthrough>} (reference `src/transformer.py:66-72`).
    */
  def normalizeStatus(c: Column): Column = {
    val lc = lower(trim(c))
    when(lc.isin("failed", "fail", "error"), lit("failed"))
      .when(lc.isin("success", "successful", "completed", "paid"), lit("success"))
      .otherwise(lc)
  }

  /** Timestamp formats observed across vendor dialects. */
  val TimestampFormats: Seq[String] = Seq(
    "yyyy-MM-dd'T'HH:mm:ssXXX", // ISO-8601 with Z / offset
    "yyyy-MM-dd'T'HH:mm:ss",    // ISO-8601 naive
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm",         // vendor_a "created"
    "yyyy/MM/dd HH:mm:ss"       // vendor_a "paidAt"
  )

  /** Lenient multi-format timestamp parse, null on failure — the
    * `pd.to_datetime(errors="coerce", utc=True)` analogue. Accepts the
    * string dialects plus integer epoch seconds (vendor_c).
    *
    * Semantically a first-match coalesce over [[TimestampFormats]] + epoch
    * (the reference's try-them-all loop), but DISPATCHED: each format's
    * parse is gated by a cheap structural test (separator char, length)
    * that is a necessary condition for that format, so a row pays for at
    * most ONE real `try_to_timestamp` instead of failing through up to
    * five — each failed attempt costs a formatter run plus an internal
    * exception, the dominant cost of a 100-TB normalize scan (measured
    * ~3× on `p7_ts_multiformat` at the 100× SF). `DispatchEquivalenceSpec`
    * in PropertiesSpec fuzzes dispatch == plain cascade.
    */
  def parseTimestampMulti(c: Column): Column = {
    val s = trim(c)
    def f(fmt: String) = try_to_timestamp(s, lit(fmt))
    // dialect discriminators — cheap probes whose FALSE proves the gated
    // format(s) cannot parse (their literal layout requires the char),
    // so skipping them never changes the cascade's first match:
    //   all-digits 10-11 → epoch seconds (no format parses a digit run;
    //                      length guard avoids the YYYYMMDD clash)
    //   contains 'T'     → the two ISO forms (no other format's accepted
    //                      strings can contain a T); length 19 cannot
    //                      carry fmt-1's mandatory offset suffix
    //   contains '/'     → vendor_a paidAt
    //   length 19 / 16   → the dash-space pair, disjoint by layout width;
    //                      other lengths fall back to the 2-try cascade
    when(s.rlike("^[0-9]{10,11}$"), timestamp_seconds(s.cast("long")))
      .when(instr(s, "T") > 0,
        when(length(s) === 19, f("yyyy-MM-dd'T'HH:mm:ss"))
          .otherwise(coalesce(f("yyyy-MM-dd'T'HH:mm:ssXXX"),
            f("yyyy-MM-dd'T'HH:mm:ss"))))
      .when(instr(s, "/") > 0, f("yyyy/MM/dd HH:mm:ss"))
      .when(length(s) === 19, f("yyyy-MM-dd HH:mm:ss"))
      .when(length(s) === 16, f("yyyy-MM-dd HH:mm"))
      .otherwise(coalesce(f("yyyy-MM-dd HH:mm:ss"), f("yyyy-MM-dd HH:mm")))
  }

  /** The undisguised first-match cascade — kept as the executable spec of
    * [[parseTimestampMulti]]'s semantics; PropertiesSpec asserts the
    * dispatched form agrees with it on dialect strings and garbage alike.
    */
  private[graft] def parseTimestampCascade(c: Column): Column = {
    val s = trim(c)
    val viaFormats = TimestampFormats.map(f => try_to_timestamp(s, lit(f)))
    val epochSecs = when(s.rlike("^[0-9]{10,11}$"), timestamp_seconds(s.cast("long")))
    coalesce(viaFormats :+ epochSecs: _*)
  }

  /** Numeric coercion with 0.0 default (reference `src/transformer.py:31`).
    * `try_cast` (not `cast`) — Spark 4 runs ANSI mode by default, where a
    * plain cast throws on malformed input instead of yielding null.
    */
  def toDoubleOrZero(c: Column): Column = coalesce(c.try_cast("double"), lit(0.0))

  /** sha256 deterministic id over `prefix:naturalKey`
    * (reference `src/bootstrap_loader.py:22-24`).
    */
  def sha256Id(prefix: String, naturalKey: Column): Column =
    sha2(concat_ws(":", lit(prefix), naturalKey), 256)

  /** md5 content id over a canonical string form
    * (reference `src/bootstrap_loader.py:43` hashes sorted-key JSON; we
    * hash an explicit, ordered field list instead — key order is then
    * stable by construction).
    */
  def md5Id(fields: Seq[Column]): Column = md5(concat_ws("|", fields: _*))
}
