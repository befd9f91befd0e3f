package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import scala.util.Random

/** Seeded noisy-event generator — the Scala analogue of the reference's
  * `src/live_event_generator.py:38-237`: three vendor payload dialects,
  * ~5 % exact duplicates (half with a bumped ingested_at), ~10 % late
  * arrivals (1–7 days), ~15 % schema drift (key renames within a dialect),
  * unknown-order noise, and sha1-12 content-derived event ids. Same
  * distributional semantics, not the same RNG stream — reproducibility
  * comes from the seed, so property suites can run the normalize / dedup /
  * aggregate invariants over 10k+ adversarial events instead of
  * hand-written fixtures.
  */
object EventGenerator {

  final case class Config(
      events: Int = 2000,
      dupRate: Double = 0.05,
      lateRate: Double = 0.10,
      driftRate: Double = 0.15,
      seed: Long = 42L,
      day: LocalDate = LocalDate.of(2026, 2, 19))

  /** One generated envelope line plus generator-side ground truth the
    * property tests compare the pipeline's extraction against.
    */
  final case class GenEvent(
      line: String,
      eventId: String,
      eventType: String,
      vendor: String,
      orderId: String,
      paymentId: Option[String],
      isDup: Boolean)

  private val Vendors = IndexedSeq("vendor_a", "vendor_b", "vendor_c")
  private val Regions = IndexedSeq("Lagos", "Abuja", "Kano", "Kaduna", "PH")
  private val EventTypes = IndexedSeq("order_created", "payment_succeeded",
    "refund_issued", "shipment_updated", "order_updated")
  private val TypeWeights = Seq(0.20, 0.33, 0.12, 0.25, 0.10)
  private val TypeWeightSum = TypeWeights.sum
  // running sums, added in the same order as a left-to-right scan would,
  // so a draw lands on the same type at every boundary
  private val TypeBounds = TypeWeights.scanLeft(0.0)(_ + _).tail.toArray
  private val Methods = IndexedSeq("card", "bank_transfer", "ussd")
  private val Reasons = IndexedSeq("customer_request", "duplicate", "damaged", "late_delivery")
  private val Amounts = IndexedSeq(5000, 9000, 12000, 18000, 25000, 40000, 65000)
  private val Prices = IndexedSeq(2500, 4000, 6500, 9000, 12000)
  private val ShipStatuses = IndexedSeq("CREATED", "PICKED_UP", "IN_TRANSIT", "DELIVERED")
  private val Changes = IndexedSeq("address_change", "qty_change", "phone_change")

  private val FmtA = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
  private val FmtPaidA = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
  private val FmtNaive = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val FmtDayTag = DateTimeFormatter.ofPattern("yyMMdd")
  private val Hex = "0123456789abcdef".toCharArray

  // ---- tiny JSON writer (payloads are maps/seqs/scalars), appending to
  // one builder so a payload is serialized once ----
  private[pipeline] def jstr(sb: StringBuilder, s: String): StringBuilder = {
    sb.append('"')
    // copy runs of characters that need no escape in one append each
    var from = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\' || c < ' ') {
        sb.underlying.append(s, from, i)
        if (c < ' ') sb.append("\\u00").append(Hex(c >> 4)).append(Hex(c & 0xf))
        else sb.append('\\').append(c)
        from = i + 1
      }
      i += 1
    }
    sb.underlying.append(s, from, s.length)
    sb.append('"')
  }

  private[pipeline] def jval(sb: StringBuilder, v: Any): StringBuilder = v match {
    case null => sb.append("null")
    case s: String => jstr(sb, s)
    case d: Double => sb.append(BigDecimal(d).underlying.stripTrailingZeros.toPlainString)
    case i: Int => sb.append(i)
    case l: Long => sb.append(l)
    case b: Boolean => sb.append(b)
    case m: Seq[_] if m.nonEmpty && m.head.isInstanceOf[(_, _)] =>
      sb.append('{')
      var sep = false
      m.asInstanceOf[Seq[(String, Any)]].foreach { case (k, x) =>
        if (sep) sb.append(',') else sep = true
        jval(jstr(sb, k).append(':'), x)
      }
      sb.append('}')
    case m: Seq[_] =>
      sb.append('[')
      var sep = false
      m.foreach { x =>
        if (sep) sb.append(',') else sep = true
        jval(sb, x)
      }
      sb.append(']')
    case other => jstr(sb, other.toString)
  }

  private def sha1Hex12(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
    val hex = new Array[Char](12)
    for (i <- 0 until 6) {
      hex(2 * i) = Hex((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = Hex(d(i) & 0xf)
    }
    new String(hex)
  }

  private def iso(dt: LocalDateTime): String = dt.format(FmtNaive) + "Z"

  /** `n` left-padded with zeros to `width` digits, as `%0<width>d` does. */
  private def zeroPad(n: Int, width: Int): String = {
    val digits = n.toString
    if (digits.length >= width) digits else "0" * (width - digits.length) + digits
  }

  private def eventType(r: Random): String = {
    val x = r.nextDouble() * TypeWeightSum
    val i = TypeBounds.indexWhere(x < _)
    if (i < 0) EventTypes.last else EventTypes(i)
  }

  /** Vendor payload dialects (`src/live_event_generator.py:38-163`):
    * vendor_a humpback-free legacy keys, vendor_b snake/camel mix with the
    * `state`-means-region homonym, vendor_c nested/abbreviated. Drift
    * renames a key within the dialect.
    */
  private def payload(r: Random, et: String, vendor: String, orderId: String,
                      dt: LocalDateTime, drift: Boolean,
                      currency: String, amount: Double): (Seq[(String, Any)], Option[String]) = {
    def items(n: Int): Seq[Any] = (1 to n).map(_ => Seq[(String, Any)](
      "sku" -> ("SKU-" + zeroPad(r.nextInt(220), 4)), "qty" -> (1 + r.nextInt(3)),
      "price" -> Prices(r.nextInt(Prices.length))))
    def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.length))
    val epoch = dt.toEpochSecond(java.time.ZoneOffset.UTC)

    (vendor, et) match {
      case ("vendor_a", "order_created") =>
        val base = Seq[(String, Any)](
          "orderRef" -> orderId, "created" -> dt.format(FmtA),
          (if (drift) "buyer" else "customer") ->
            Seq[(String, Any)]("email" -> s"user${1 + r.nextInt(2500)}@example.com"),
          (if (drift) "totalAmount" else "total") -> amount,
          "currency" -> currency, "region" -> pick(Regions),
          "items" -> items(1 + r.nextInt(4)))
        (base, None)
      case ("vendor_a", "payment_succeeded") =>
        val tx = "TX-" + sha1Hex12(s"$orderId|$dt|$amount")
        (Seq[(String, Any)](
          "orderRef" -> orderId, "paidAt" -> dt.format(FmtPaidA),
          (if (drift) "payment_status" else "status") -> "SUCCESS",
          "amount" -> amount, "currency" -> currency,
          "method" -> pick(Methods), "txRef" -> tx), Some(tx))
      case ("vendor_a", "refund_issued") =>
        (Seq[(String, Any)](
          "orderRef" -> orderId, "refundedAt" -> dt.format(FmtNaive),
          "amount" -> amount, "currency" -> currency,
          "reason" -> pick(Reasons),
          (if (drift) "refunded_items" else "items") -> null), None)
      case ("vendor_a", "shipment_updated") =>
        (Seq[(String, Any)](
          "orderRef" -> orderId, "tracking" -> ("TRK-" + sha1Hex12(s"$orderId|$vendor")),
          "status" -> pick(ShipStatuses),
          (if (drift) "update_time" else "updateTime") -> iso(dt)), None)
      case ("vendor_a", _) =>
        (Seq[(String, Any)](
          "orderRef" -> orderId,
          (if (drift) "updated_at" else "updatedAt") -> iso(dt),
          "change" -> pick(Changes),
          "notes" -> "customer requested update"), None)

      case ("vendor_b", "order_created") =>
        (Seq[(String, Any)](
          "order_id" -> orderId, "created_at" -> iso(dt),
          "buyerEmail" -> s"user${1 + r.nextInt(2500)}@mail.com",
          "totalAmount" -> amount,
          (if (drift) "currency" else "currencyCode") -> currency,
          "state" -> pick(Regions), // the region-homonym trap
          "line_items" -> items(1 + r.nextInt(4))), None)
      case ("vendor_b", "payment_succeeded") =>
        val tx = sha1Hex12(s"$orderId|$dt|$amount")
        (Seq[(String, Any)](
          "order_id" -> orderId, "paid_at" -> iso(dt), "payment_status" -> "SUCCESS",
          (if (drift) "amount_paid" else "amountPaid") -> amount,
          "currencyCode" -> currency, "channel" -> pick(Methods),
          "transaction_id" -> tx), Some(tx))
      case ("vendor_b", "refund_issued") =>
        (Seq[(String, Any)](
          "order_id" -> orderId, "refunded_at" -> iso(dt), "refundAmount" -> amount,
          "currencyCode" -> currency,
          (if (drift) "reason" else "refund_reason") -> pick(Reasons)), None)
      case ("vendor_b", "shipment_updated") =>
        (Seq[(String, Any)](
          "order_id" -> orderId, "tracking_code" -> ("TRK" + (1000000 + r.nextInt(9000000))),
          (if (drift) "status" else "shipment_status") ->
            pick(ShipStatuses),
          "time" -> iso(dt)), None)
      case ("vendor_b", _) =>
        (Seq[(String, Any)](
          "order_id" -> orderId, "updated_at" -> iso(dt),
          (if (drift) "change" else "change_type") ->
            pick(Changes)), None)

      case (_, "order_created") =>
        (Seq[(String, Any)](
          "order" -> Seq[(String, Any)]("id" -> orderId, "ts" -> epoch),
          "email" -> s"user${1 + r.nextInt(2500)}@pulse.africa",
          "amount" -> amount, "ccy" -> currency,
          "geo" -> Seq[(String, Any)]("region" -> pick(Regions)),
          "items" -> items(1 + r.nextInt(4))), None)
      case (_, "payment_succeeded") =>
        val tx = "TRX" + (100000 + r.nextInt(900000))
        (Seq[(String, Any)](
          "order" -> orderId, "timestamp" -> epoch,
          (if (drift) "payment_state" else "state") -> "SUCCESS",
          "amt" -> amount, "ccy" -> currency,
          "paymentMethod" -> pick(Methods), "txn" -> tx), Some(tx))
      case (_, "refund_issued") =>
        (Seq[(String, Any)](
          "order" -> orderId, "ts" -> epoch, "amt" -> amount,
          "ccy" -> currency, "reason" -> pick(Reasons)), None)
      case (_, "shipment_updated") =>
        (Seq[(String, Any)](
          "order" -> Seq[(String, Any)]("id" -> orderId),
          "tracking" -> (100000000 + r.nextInt(900000000)).toString,
          (if (drift) "status" else "state") ->
            pick(ShipStatuses),
          "ts" -> epoch), None)
      case _ =>
        (Seq[(String, Any)](
          "order" -> orderId, "ts" -> epoch,
          "change" -> pick(Changes),
          (if (drift) "note" else "notes") -> "legacy update"), None)
    }
  }

  /** The corpus. Each event draws from `r` in a fixed order, and a
    * duplicate reuses its original's envelope up to `ingested_at`.
    */
  def generate(cfg: Config): Seq[GenEvent] = {
    val r = new Random(cfg.seed)
    val dayStart = cfg.day.atStartOfDay()
    val dayTag = cfg.day.format(FmtDayTag)
    // the first order_created events take these in turn; every other
    // event names one at random
    val orderIds = Array.tabulate(math.max(1, (cfg.events * 0.15).toInt))(i =>
      s"ORD-$dayTag-${zeroPad(i + 1, 5)}")
    var created = 0
    val sb = new StringBuilder(1024)

    val out = Vector.newBuilder[GenEvent]
    (1 to cfg.events).foreach { _ =>
      val vendor = Vendors(r.nextInt(Vendors.length))
      val et = eventType(r)
      val orderId =
        if (et == "order_created" && created < orderIds.length) {
          created += 1
          orderIds(created - 1)
        }
        else if (r.nextDouble() < 0.03) s"ORD-UNKNOWN-${1000 + r.nextInt(9000)}"
        else orderIds(r.nextInt(orderIds.length))
      val ingestedAt = dayStart.plusSeconds(r.nextInt(86399).toLong)
      val eventTime =
        if (r.nextDouble() < cfg.lateRate)
          ingestedAt.minusDays((1 + r.nextInt(7)).toLong).minusHours((1 + r.nextInt(18)).toLong)
        else ingestedAt.minusMinutes(r.nextInt(121).toLong)
      val drift = r.nextDouble() < cfg.driftRate
      val baseAmount = Amounts(r.nextInt(Amounts.length))
      val currency = if (r.nextDouble() < 0.12) "USD" else "NGN"
      val amount =
        if (currency == "USD")
          math.round(baseAmount / (950.0 + r.nextInt(201) - 80) * 100) / 100.0
        else baseAmount.toDouble
      val (pl, paymentId) =
        payload(r, et, vendor, orderId, eventTime, drift, currency, amount)
      val eventTimeIso = iso(eventTime)
      sb.setLength(0)
      val plJson = jval(sb, pl).toString
      val eventId = sha1Hex12(s"$vendor|$et|$orderId|$eventTimeIso|$plJson")

      sb.setLength(0)
      jstr(sb.append("{\"event_id\":"), eventId)
      jstr(sb.append(",\"event_type\":"), et)
      jstr(sb.append(",\"event_time\":"), eventTimeIso)
      jstr(sb.append(",\"vendor\":"), vendor)
      sb.append(",\"payload\":").append(plJson).append(",\"ingested_at\":")
      val head = sb.length
      def line(ingested: String): String = {
        sb.setLength(head)
        jstr(sb, ingested).append('}').toString
      }
      val ev = GenEvent(line(iso(ingestedAt)), eventId, et, vendor, orderId, paymentId,
        isDup = false)
      out += ev
      if (r.nextDouble() < cfg.dupRate) {
        val dupIngested =
          if (r.nextDouble() < 0.5) iso(ingestedAt.plusMinutes((1 + r.nextInt(180)).toLong))
          else iso(ingestedAt)
        out += ev.copy(line = line(dupIngested), isDup = true)
      }
    }
    out.result()
  }

  /** Write a generated corpus as a dated JSONL directory (the reference's
    * on-disk layout).
    */
  def writeJsonl(cfg: Config, outRoot: String): String = {
    val dir = java.nio.file.Paths.get(outRoot, cfg.day.toString)
    java.nio.file.Files.createDirectories(dir)
    val path = dir.resolve("events.jsonl")
    val out = java.nio.file.Files.newBufferedWriter(path, UTF_8)
    try {
      var sep = false
      generate(cfg).foreach { e =>
        if (sep) out.write('\n') else sep = true
        out.write(e.line)
      }
    } finally out.close()
    path.toString
  }
}
