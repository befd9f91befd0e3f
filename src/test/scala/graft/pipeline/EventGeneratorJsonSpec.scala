package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

/** The generator's JSON writer against the per-value formulation it
  * replaced, kept here as the reference. No generated string needs an
  * escape, so the byte digests of `EventGeneratorBytesSpec` never reach
  * those paths; these cases do.
  */
class EventGeneratorJsonSpec extends AnyFunSuite {

  private object Reference {
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""

    def jval(v: Any): String = v match {
      case null => "null"
      case s: String => jstr(s)
      case d: Double => BigDecimal(d).underlying.stripTrailingZeros.toPlainString
      case i: Int => i.toString
      case l: Long => l.toString
      case b: Boolean => b.toString
      case m: Seq[_] if m.nonEmpty && m.head.isInstanceOf[(_, _)] =>
        m.asInstanceOf[Seq[(String, Any)]]
          .map { case (k, x) => jstr(k) + ":" + jval(x) }.mkString("{", ",", "}")
      case m: Seq[_] => m.map(jval).mkString("[", ",", "]")
      case other => jstr(other.toString)
    }
  }

  /** Both writers append to what the builder already holds. */
  private def assertSame(v: Any): Unit = {
    val expected = "prefix" + Reference.jval(v)
    assert(EventGenerator.jval(new StringBuilder("prefix"), v).toString == expected, String.valueOf(v))
    v match {
      case s: String =>
        assert(EventGenerator.jstr(new StringBuilder("prefix"), s).toString == expected, s)
      case _ =>
    }
  }

  test("strings: quotes, backslashes, control characters and non-ASCII") {
    val cases = Seq("", "plain", "a\"b", "\"", "back\\slash", "\\\\\"\"",
      "\u0000\u0001\u001f", "tab\there\nnew\rline\b\f", "\u007f and \u0080",
      "naïve ünïcödé €", "😀 astral", "\ud800 lone surrogate",
      "x\"\\\n😀y\u0000", "ends with escape\n", "\u0010starts with one") ++
      (0 until 0x80).map(c => s"<${c.toChar}>")
    cases.foreach(assertSame)
    val r = new scala.util.Random(11L)
    (1 to 2000).foreach { _ =>
      val s = Seq.fill(r.nextInt(12))(r.nextInt(4) match {
        case 0 => "\"\\\n\u0001"(r.nextInt(4))
        case 1 => r.nextPrintableChar()
        case 2 => r.nextInt(0x20).toChar
        case _ => r.nextInt(0x10000).toChar
      }).mkString
      assertSame(s)
    }
  }

  test("doubles: integral, fractional, zeros, large and a USD amount") {
    Seq(0.0, -0.0, 5000.0, 65000.0, 0.5, 5.26, 1.0e15, 1.0e16,
      math.round(5000 / (950.0 + 120 - 80) * 100) / 100.0).foreach(assertSame)
  }

  test("nested maps, arrays and other scalars") {
    Seq[Any](null, 7, -7L, true, false, Nil, Seq(1, 2.5, "s", null),
      Seq[(String, Any)]("k\"" -> Seq[(String, Any)]("n" -> 1L, "a" -> Seq()),
        "items" -> Seq(Seq[(String, Any)]("sku" -> "SKU-0001", "price" -> 2500)),
        "amount" -> 12.5, "none" -> null),
      BigDecimal("1.50"), Some("x")).foreach(assertSame)
  }
}
