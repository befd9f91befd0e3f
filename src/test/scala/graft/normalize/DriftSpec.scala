package graft.normalize

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSuite {
  import spark.implicits._

  test("parseTimestampMulti handles all vendor formats and coerces garbage to null") {
    val rows = Seq(
      "2024-03-01T12:30:45",     // ISO naive
      "2024-03-01 12:30",        // vendor_a created
      "2024/03/01 12:30:45",     // vendor_a paidAt
      "1709296245",              // vendor_c epoch seconds
      "not-a-date",              // garbage -> null
      "2024-13-99"               // invalid -> null
    ).toDF("raw")
    val parsed = rows.select(Drift.parseTimestampMulti($"raw").as("ts")).collect().map(_.get(0))
    assert(parsed(0) != null && parsed(1) != null && parsed(2) != null && parsed(3) != null)
    assert(parsed(4) == null && parsed(5) == null)
    assert(parsed(0).toString.startsWith("2024-03-01 12:30:45"))
    assert(parsed(3).toString.startsWith("2024-03-01 12:30:45")) // 1709296245 = 2024-03-01T12:30:45Z
  }

  test("normalizeStatus buckets dialects, lowercases passthrough") {
    val got = Seq("FAILED", "fail", "Error", "SUCCESS", "successful", "Completed",
        "paid", "pending ", "REFUNDED")
      .toDF("s").select(Drift.normalizeStatus($"s")).as[String].collect()
    assert(got.toSeq == Seq("failed", "failed", "failed", "success", "success",
      "success", "success", "pending", "refunded"))
  }

  test("jsonCoalesce is null-only (keeps empty string and zero), first non-null wins") {
    val df = Seq(
      ("""{"a": "", "b": "x"}"""),   // empty string is a value -> ""
      ("""{"b": "x"}"""),            // a missing -> b
      ("""{"a": "0"}"""),            // zero-ish kept
      ("""{}""")                     // all missing -> null
    ).toDF("p")
    val got = df.select(Drift.jsonCoalesce($"p", Seq("a", "b")).as("v")).as[String].collect()
    assert(got.toSeq == Seq("", "x", "0", null))
  }

  test("deterministic ids are stable and well-formed") {
    val df = Seq(("ORD-1", "done")).toDF("id", "st")
    val r = df.select(
      Drift.sha256Id("order", $"id").as("sha"),
      Drift.md5Id(Seq($"id", $"st")).as("md5")).collect()(0)
    assert(r.getString(0).matches("[0-9a-f]{64}"))
    assert(r.getString(1).matches("[0-9a-f]{32}"))
    // re-evaluate -> identical (determinism)
    val r2 = df.select(Drift.sha256Id("order", $"id")).collect()(0).getString(0)
    assert(r2 == r.getString(0))
  }

  test("toDoubleOrZero defaults nulls and bad strings to 0.0") {
    val got = Seq(Some("12.5"), Some("junk"), None)
      .toDF("v").select(Drift.toDoubleOrZero($"v")).as[Double].collect()
    assert(got.toSeq == Seq(12.5, 0.0, 0.0))
  }
}
