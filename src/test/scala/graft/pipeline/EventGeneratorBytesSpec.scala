package graft.pipeline

import graft.SparkSuite
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the generator's output bytes. Every seeded corpus the specs and
  * the benchmark read comes from `EventGenerator`, so a rewrite of its
  * hot path must keep the same RNG calls in the same order and format
  * every value as before. The digests were computed with the
  * `Seq`-building, `String.format`-based writer the generator had before
  * its allocation-light rewrite.
  */
class EventGeneratorBytesSpec extends AnyFunSuite {

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  /** Each line followed by a newline, so line boundaries count. */
  private def linesDigest(lines: Seq[String]): String =
    sha256(lines.map(_ + "\n").mkString.getBytes("UTF-8"))

  /** The generator-side ground truth the property specs and the
    * benchmark's checks count against.
    */
  private def truthDigest(events: Seq[EventGenerator.GenEvent]): String =
    linesDigest(events.map(e =>
      Seq(e.eventId, e.eventType, e.vendor, e.orderId, e.paymentId.getOrElse("-"),
        e.isDup.toString).mkString("|")))

  // (name, config, events emitted, lines digest, truth digest, file digest)
  private val pinned = Seq(
    ("default", EventGenerator.Config(), 2103,
      "62e16ce66bc2fcb5030ecc1844c5d215a84a038e1f31a3e4b712f449f805dab1",
      "d9a283fa369be58e519501bbac8996a2e3fba05317f458174552e367956ad569",
      "18e710b7f11ccc6f2a5cd2e591595d95b53de82c1b2a906292a664b762ba7dc0"),
    ("10k seed 7", EventGenerator.Config(events = 10000, seed = 7L), 10502,
      "38b228c8282dae4ec34ceec59cc9dc2b7320484bb81a18ba6c02f28901331ea6",
      "b1962db064c481f72c8faae54b3b648f9f772564b812b51d14105475ca0bab68",
      "9ed6be7cf715dbb32a0cf1222c03919b71fbef98f3670f2a95fe89e3aab4fb3c"),
    ("every branch", EventGenerator.Config(dupRate = 1, lateRate = 1, driftRate = 1), 4000,
      "0fb14d2cfe6376d25f9bd2593070935be82ba793ec7eefb2ffa44e4481dfdd1c",
      "8b2a6b1c64015a3014adc7603ab3d76f57cd8292f01b25ae61600a1e102b5c48",
      "b294d965b1b1c2ba380103236a22c2d1767d5000db4abc5da180e8dd6f87ea43"),
    ("one event", EventGenerator.Config(events = 1), 1,
      "dd1297948df50913055dd8eba2472140e20ccc92b32a71d2b7786285b89b7380",
      "8057cb40f3abc0f9664c17beb02c6c9579dcb703a92d8006ed5b930c1fafb416",
      "6b1b8898e2915356c0bbb6ceff4fcca67cefa54f7013c4666247994cbee966aa"))

  for ((name, cfg, n, lines, truth, file) <- pinned)
    test(s"generated bytes are pinned: $name") {
      val gen = EventGenerator.generate(cfg)
      val path = EventGenerator.writeJsonl(cfg, SparkSuite.tempDir("gen_bytes"))
      assert(Paths.get(path).endsWith(Paths.get(cfg.day.toString, "events.jsonl")))
      val got = (gen.size, linesDigest(gen.map(_.line)), truthDigest(gen),
        sha256(Files.readAllBytes(Paths.get(path))))
      assert(got == ((n, lines, truth, file)))
    }
}
