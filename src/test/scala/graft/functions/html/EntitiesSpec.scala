package graft.functions.html

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** `Entities.decode` is a loop over `decodeAt`; the two-copy decoder it
  * replaced is kept here as the oracle.
  */
class EntitiesSpec extends AnyFunSuite {

  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u00A0", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·", "bull" -> "•",
    "times" -> "×", "deg" -> "°", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "szlig" -> "ß", "ccedil" -> "ç", "ntilde" -> "ñ", "pound" -> "£",
    "euro" -> "€", "sect" -> "§")

  private def oracle(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(2), 16))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(1)))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else named.get(body) match {
            case Some(v) => sb.append(v); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  test("decode == the old decoder on random mixes of &, ;, #x, names and invalid code points") {
    val piece: Gen[String] = Gen.frequency(
      8 -> Gen.oneOf("&", ";", "#", "#x", "#X", "x", "a", " ", "&amp;", "&;", "&&"),
      4 -> Gen.oneOf(named.keys.toSeq),
      4 -> Gen.oneOf("65", "0", "1F600", "110000", "-1", "+41", "D800", "FFFFFFFF", "99999999999", "zz"),
      2 -> Gen.oneOf("&copy", "&#", "&#x", "amp;", "é", "😀", "<p>", "0123456789"))
    val str: Gen[String] = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000),
      forAll(str) { s => Prop(Entities.decode(s) == oracle(s)) :| s"$s: ${Entities.decode(s)} vs ${oracle(s)}" })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("decodeAt stops at its end bound and at 12 chars after the &") {
    assert(Entities.decodeAt("&amp;", 0, 4) == -1L)
    assert(Entities.decodeAt("&amp;", 0, 5) == (5L << 32 | '&'))
    val at12 = "&#" + "0" * 8 + "65;" // the ; is 12 chars after the &
    assert(Entities.decodeAt(at12, 0, at12.length) == (13L << 32 | 'A'))
    val at13 = "&#" + "0" * 9 + "65;"
    assert(Entities.decodeAt(at13, 0, at13.length) == -1L)
  }

  test("2 MB of a& with no ; decodes in linear time") {
    val s = "a&" * (1 << 20)
    val t0 = System.nanoTime()
    assert(Entities.decode(s) == s)
    var literal = 0
    var i = s.indexOf('&')
    while (i >= 0) { if (Entities.decodeAt(s, i, s.length) == -1L) literal += 1; i = s.indexOf('&', i + 1) }
    val ms = (System.nanoTime() - t0) / 1000000
    assert(literal == 1 << 20)
    assert(ms < 2000, s"took $ms ms")
  }
}
