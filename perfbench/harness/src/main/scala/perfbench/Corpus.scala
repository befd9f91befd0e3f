package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.pipeline.EventGenerator

/** The vendor-feed corpus of the ELT workloads, made with the engine's
  * own seeded `EventGenerator` (duplicates, late events, schema drift),
  * plus corrupt lines the benchmark adds to every daily file.
  *
  * Layout under `dir`:
  *  - `historical/export.json`: one JSON-array export (`historical` events);
  *  - `live/<day>.jsonl`: one JSONL feed per day, `days` files of
  *    `perDay` generated events each, oldest file modified first;
  *  - `truth.csv`: `day,event_id` for every distinct generated event, the
  *    ground truth the checks compare the store against.
  */
final case class Corpus(seed: Long, days: Int, perDay: Int, historical: Int) {
  val firstDay: LocalDate = LocalDate.of(2026, 2, 1)

  private def cfg(events: Int, salt: Long, day: LocalDate) =
    EventGenerator.Config(events = events, seed = seed * 7919L + salt, day = day)

  def historicalEvents: Seq[EventGenerator.GenEvent] =
    if (historical == 0) Nil
    else EventGenerator.generate(cfg(historical, 1L, firstDay.minusDays(10)))

  def dayEvents(d: Int): Seq[EventGenerator.GenEvent] =
    EventGenerator.generate(cfg(perDay, 100L + d, firstDay.plusDays(d.toLong)))

  def liveFile(dir: String, d: Int): String = s"$dir/live/${firstDay.plusDays(d.toLong)}.jsonl"
  def historicalFile(dir: String): String = s"$dir/historical/export.json"

  /** Lines no loader may accept: no event id, or not JSON at all. */
  private val Corrupt = Seq(
    """{"event_type": "order_created", "vendor": "vendor_b", "payload": {"order_id": "ORD-CORRUPT""",
    """not json at all""",
    """{"event_type": "payment_succeeded", "vendor": "vendor_a", "payload": {}}""")

  /** Writes the corpus; returns ground truth over every generated event. */
  def write(dir: String): Truth = {
    Files.createDirectories(Paths.get(s"$dir/live"))
    Files.createDirectories(Paths.get(s"$dir/historical"))
    val hist = historicalEvents
    if (historical > 0)
      Files.writeString(Paths.get(historicalFile(dir)),
        hist.map(_.line).mkString("[\n", ",\n", "\n]\n"))
    val rnd = new scala.util.Random(seed)
    val live = (0 until days).map { d =>
      val evs = dayEvents(d)
      val lines = scala.collection.mutable.ArrayBuffer(evs.map(_.line): _*)
      val nCorrupt = math.max(1, perDay / 200)
      (0 until nCorrupt).foreach { i =>
        lines.insert(rnd.nextInt(lines.length + 1), Corrupt(i % Corrupt.length))
      }
      val path = Paths.get(liveFile(dir, d))
      Files.writeString(path, lines.mkString("", "\n", "\n"))
      // the streaming file source reads files oldest first
      Files.setLastModifiedTime(path,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + d * 60000L))
      (d, evs, lines.length)
    }
    val truthLines = live.flatMap { case (d, evs, _) =>
      evs.map(_.eventId).distinct.map(id => s"${firstDay.plusDays(d.toLong)},$id")
    }
    Files.writeString(Paths.get(s"$dir/truth.csv"),
      truthLines.mkString("day,event_id\n", "\n", "\n"))
    Truth(hist ++ live.flatMap(_._2), hist.length + live.map(_._3).sum)
  }
}

/** Generator-side ground truth: what a correct ELT must count. */
final case class Truth(events: Seq[EventGenerator.GenEvent], inputLines: Int) {
  private def orderish(t: String) = t == "order_created" || t == "order_updated"

  def counts: Map[String, Long] = Map(
    "events" -> events.map(_.eventId).distinct.size.toLong,
    "orders" -> events.filter(e => orderish(e.eventType)).map(_.orderId).distinct.size.toLong,
    "payments" -> events.filter(_.eventType == "payment_succeeded")
      .flatMap(_.paymentId).distinct.size.toLong,
    "refunds" -> events.filter(_.eventType == "refund_issued")
      .map(_.eventId).distinct.size.toLong)
}
