package graft.normalize

import graft.SparkSuite
import graft.pipeline.{CommercePulse, EventGenerator}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** kernel ≡ chain: the single-pass payload kernel (`Drift.jsonFields`,
  * `Drift.jsonCoalesce`) returns, for every path group the pipeline
  * uses, exactly what the `coalesce(get_json_object(j, '$.p1'), …)`
  * chain it replaced returns — on seeded generator corpora, on the
  * testdata's `events.props`, on hand-written adversarial payloads and on
  * fuzzed ones. The chain is the executable spec of the kernel.
  */
class PayloadKernelSpec extends SparkSuite {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Every path group of the normalizers (extended and strict),
    * `readLiveOrdered`'s envelope, `p4_drift_coalesce` and `EventStream`.
    */
  private val groups: Seq[Seq[String]] = {
    import CommercePulse._
    Seq(OrderFields, PaymentFields, RefundFields,
      StrictOrderFields, StrictPaymentFields, StrictRefundFields)
      .flatMap(_.map(_._2)) ++
      Seq("event_id", "event_type", "event_time", "vendor", "payload",
        "ingested_at").map(Seq(_)) ++
      Seq(Seq("missing_key", "renamed_key", "k"), Seq("orderRef", "order_id"),
        Seq("order_id", "orderRef", "order.id", "orderId", "order"))
  }.distinct

  /** Each path alone too, so a path behind a higher-priority one in its
    * group is checked as well.
    */
  private val all: Seq[Seq[String]] =
    groups ++ groups.flatten.distinct.map(Seq(_)).filterNot(groups.contains)

  private def chain(j: Column, paths: Seq[String]): Column =
    coalesce(paths.map(p => get_json_object(j, "$." + p)): _*)

  /** Asserts both kernel forms equal the chain on every row of `docs`'
    * string column `j`; returns the number of rows checked.
    */
  private def assertKernelIsChain(docs: DataFrame): Long = {
    val n = all.size
    val viaFields = docs.select(
      (col("j") +: all.zipWithIndex.map { case (ps, i) => chain(col("j"), ps).as(s"r$i") }) :+
        Drift.jsonFields(col("j"), all.indices.map(i => s"k$i").zip(all)): _*)
    val viaCoalesce = docs.select(
      col("j") +: all.zipWithIndex.flatMap { case (ps, i) =>
        Seq(chain(col("j"), ps).as(s"r$i"), Drift.jsonCoalesce(col("j"), ps).as(s"k$i"))
      }: _*)
    val fieldRows = viaFields.collect()
    for (r <- fieldRows; i <- 0 until n)
      assert(r.getString(1 + n + i) == r.getString(1 + i),
        s"json_fields ${all(i)} on <${r.getString(0)}>")
    for (r <- viaCoalesce.collect(); i <- 0 until n)
      assert(r.getString(2 + 2 * i) == r.getString(1 + 2 * i),
        s"json_coalesce ${all(i)} on <${r.getString(0)}>")
    fieldRows.length.toLong
  }

  private def corpus(cfg: EventGenerator.Config): DataFrame = {
    val lines = EventGenerator.generate(cfg).map(_.line)
    val env = spark.read.schema(CommercePulse.EnvelopeSchema).json(lines.toDS())
    // the payloads the normalizers read, and the raw lines readLiveOrdered reads
    env.select(col("payload").as("j")).unionByName(lines.toDF("j"))
  }

  test("kernel ≡ chain on seeded generator corpora (defaults, all drift, all dups)") {
    for (cfg <- Seq(
        EventGenerator.Config(events = 1500, seed = 31L),
        EventGenerator.Config(events = 1500, seed = 32L, driftRate = 1.0),
        EventGenerator.Config(events = 1500, seed = 33L, dupRate = 1.0)))
      assert(assertKernelIsChain(corpus(cfg)) >= 3000)
  }

  test("kernel ≡ chain on the testdata's events.props (p4_drift_coalesce's input)") {
    assert(assertKernelIsChain(
      graft.Tables.events(spark, sf).select(col("props").as("j"))) > 0)
  }

  /** Adversarial payloads, each a case the byte pass must decide exactly
    * as the reference's Reader-based parse does.
    */
  private val adversarial: Seq[String] = Seq(
    // duplicate keys: the first non-null wins; a null never matches
    """{"order_id":"a","order_id":"b"}""",
    """{"order_id":null,"order_id":"b"}""",
    """{"order_id":null}""",
    // a key that is a scalar in one place and an object in another
    """{"order":"ORD-1","order":{"id":"ORD-2"}}""",
    """{"order":{"id":"ORD-2"},"order":"ORD-1"}""",
    """{"order":{"id":null},"order":{"id":"ORD-3"}}""",
    """{"order":{"x":1},"order":{"id":"ORD-4","ts":17}}""",
    """{"order":{"id":{"deep":[1,{"a":null}]},"ts":[1,2]}}""",
    """{"order":5,"order":true,"order":{"ts":1.50}}""",
    """{"order":{"order":{"id":"nested"}},"id":"top"}""",
    """{"customer":{"email":"c@x"},"buyer":{"email":null},"email":"e"}""",
    // arrays, as values and as would-be containers
    """{"order":[{"id":"in-array"}],"items":[1,[2,[3]],{}]}""",
    """{"order":[],"amount":[null]}""",
    // single quotes and raw control characters
    """{'order_id':'single','amount':'1.5'}""",
    "{\"order_id\":\"tab\there\u0001\",\"st\u0002ate\":\"x\"}",
    "{\"order_id\":\"nul\u0000byte\"}",
    // numbers, rendered through the generator
    """{"amount":1.50,"total":1e3,"amt":-0,"totalAmount":-0.0}""",
    """{"amount":12345678901234567890,"total":123456789012345678901234567890}""",
    """{"amount":1e400,"total":-1e-400,"amt":0.1,"k":9007199254740993}""",
    """{"amount":true,"total":false,"k":null}""",
    // escapes and non-ASCII
    """{"order_id":"%u00e9\n\"q\"\\","reason":"h%u00e9llo ✓ 😀"}""",
    """{"order_id":"%ud83d%ude00","reason":"%ud800","type":"%udc00x"}""",
    """{"or%u0064er_id":"escaped-name"}""",
    """{"order_id":"\q"}""",
    // truncated objects and trailing garbage
    """{"order_id":"a"""",
    """{"order_id":"a",""",
    """{"order_id":"a","amount":""",
    """{"order_id":"a","items":[1,2}""",
    """{"order_id":"a"} trailing""",
    """{"order_id":"a"}}""",
    """{"order_id":"a"}{"order_id":"b"}""",
    """{"order_id":"a",}""",
    """{"order_id":01}""",
    """{"order_id":NaN}""",
    """{order_id:"unquoted"}""",
    """{"order_id":"a" /* c */}""",
    // top-level values that are not an object, and odd starts
    """[{"order_id":"a"}]""", "\"order_id\"", "42", "null", "true",
    "", " ", "{", "}", "{}",
    """ {"order_id":"leading-space"}""",
    "\ufeff{\"order_id\":\"bom\"}",
    "\t{\"order_id\":\"tab\"}")
    // %u marks a JSON unicode escape, which Scala would decode in a literal
    .map(_.replace("%u", "\\u"))

  test("kernel ≡ chain on adversarial payloads, SQL NULL and malformed UTF-8") {
    val strings = (adversarial.map(Option(_)) :+ None).toDF("j")
    // bytes no UTF-8 decoder accepts: the Reader substitutes U+FFFD
    val badUtf8 = Seq(
        "7B226F726465725F6964223A2261FF62227D",   // {"order_id":"a\xFFb"}
        "7B226F726465725F6964223A22C3227D",       // truncated 2-byte char
        "7B226F726465725F6964223A22EDA080227D",   // encoded surrogate
        "7B226F726465725F6964223A22C0AF227D",     // overlong '/'
        "7B226F726465725F6964223A22F4908080227D", // above U+10FFFF
        "7B226FFF726465725F6964223A2261227D",     // bad byte in a name
        "7B226F726465725F6964223A22E282AC227D",   // € (well-formed)
        "7B00226F726465725F6964223A2261227D")     // NUL second byte
      .toDF("h").select(unhex(col("h")).cast("string").as("j"))
    assert(assertKernelIsChain(strings.unionByName(badUtf8)) ==
      adversarial.size + 1 + 8)
  }

  test("kernel ≡ chain on fuzzed payloads (random trees, truncations, garbage)") {
    val segments = groups.flatten.flatMap(_.split('.')).distinct
    val key: Gen[String] = Gen.frequency(
      8 -> Gen.oneOf(segments), 1 -> Gen.oneOf("x", "Order", "id ", "", "ïd"))
    val str: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(s => "\"" + s.take(6) + "\""),
      Gen.const("\"\""), Gen.const("'sq'"), Gen.const("\"a\\\"b\\\\c\""),
      Gen.const("\"\\u00e9\\n\""), Gen.const("\"\\ud83d\\ude00\""),
      Gen.const("\"\\udc00\""), Gen.const("\"é✓😀\""), Gen.const("\"t\tc\u0001\""))
    val num: Gen[String] = Gen.oneOf("0", "-0", "1.50", "1e3", "-0.0", "17",
      "12345678901234567890", "1E-7", "1e400", "0.1", "-12")
    val scalar: Gen[String] =
      Gen.frequency(4 -> str, 3 -> num, 1 -> Gen.oneOf("true", "false", "null"))
    def value(depth: Int): Gen[String] =
      if (depth == 0) scalar
      else Gen.frequency(5 -> scalar, 2 -> obj(depth - 1), 1 -> arr(depth - 1))
    def obj(depth: Int): Gen[String] = for {
      n <- Gen.chooseNum(0, 5)
      kvs <- Gen.listOfN(n, Gen.zip(key, value(depth), Gen.frequency(9 -> '"', 1 -> '\'')))
    } yield kvs.map { case (k, v, q) => s"$q$k$q:$v" }.mkString("{", ",", "}")
    def arr(depth: Int): Gen[String] =
      Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, value(depth)))
        .map(_.mkString("[", ",", "]"))
    val doc: Gen[String] = obj(3).flatMap(d => Gen.frequency(
      8 -> Gen.const(d),
      1 -> Gen.chooseNum(0, d.length).map(d.take),
      1 -> Gen.oneOf(" x", "}", ",", "]").map(d + _),
      1 -> Gen.zip(Gen.chooseNum(0, d.length), Gen.oneOf("\"", ":", "{", "\u0000", "\\"))
        .map { case (i, c) => d.take(i) + c + d.drop(i) },
      1 -> Gen.const(" " + d)))
    val docs = samples(Gen.listOfN(400, doc), 8).flatten
    assert(assertKernelIsChain(docs.toDF("j")) == docs.size)
  }

  test("the interpreted path agrees with the generated code") {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assertKernelIsChain(adversarial.toDF("j").unionByName(
      corpus(EventGenerator.Config(events = 200, seed = 34L))))
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a path that is not a dotted name is refused when the plan is built") {
    intercept[IllegalArgumentException](Drift.jsonCoalesce(col("j"), Seq("a[0]")))
    intercept[IllegalArgumentException](Drift.jsonFields(col("j"), Seq("f" -> Nil)))
  }
}
