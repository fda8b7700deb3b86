package graft.functions.pdf

import graft.fixtures.{CorpusGen, PdfGen, Rng}
import graft.functions.FormatSniff
import java.nio.charset.StandardCharsets
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** The object-header scanner must find exactly the matches of the regex
  * it replaced, `(\d+)\s+0\s+obj`, kept here as the oracle.
  */
class PdfObjHeaderSpec extends AnyFunSuite {

  private val oracle = """(\d+)\s+0\s+obj""".r

  private def want(s: String): Seq[(Int, String, Int)] =
    oracle.findAllMatchIn(s).map(m => (m.start, m.group(1), m.end)).toSeq

  private def got(s: String): Seq[(Int, String, Int)] = PdfExtractor.objHeaders(s).toSeq

  private def latin1(b: Array[Byte]): String = new String(b, StandardCharsets.ISO_8859_1)

  test("scanner == regex on random strings of digits, regex spaces, obj and noise") {
    // every char of Java's ASCII \s, near misses of each part, and chars
    // that look like spaces or digits to other definitions
    val piece: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("0", "1", "7", "00", "12", "9"),
      6 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      4 -> Gen.oneOf("obj", "ob", "bj", "o", "endobj", "objobj"),
      2 -> Gen.oneOf("x", "R", "<<", "\u00A0", "\u0085", "\u001C", "\u0660", "\u2003"))
    val str: Gen[String] = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000),
      forAll(str) { s => Prop(got(s) == want(s)) :| s"${s.map(_.toInt)}: ${got(s)} vs ${want(s)}" })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("scanner == regex on fixed near misses") {
    Seq("1 0 0 obj", "12 00 obj", "99999999999 0 obj", "1 0 obj2 0 obj", "1 0 objobj 3\u000B0\fobj",
      "7 0  \r\nobj", "x1 0 obj", "1 0obj", "10 obj", " 0 obj", "12 0 obj 3 0 endobj 4 0 obj", "")
      .foreach(s => assert(got(s) == want(s), s))
    assert(got("1 0 0 obj") == Seq((2, "0", 9)))
    assert(got("12 00 obj").isEmpty)
  }

  test("a header number past Int fails the document as it always has") {
    assert(got("99999999999 0 obj") == Seq((0, "99999999999", 17)))
    val pdf = "%PDF-1.4\n99999999999 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF\n"
    assert(PdfExtractor.extract(pdf.getBytes(StandardCharsets.ISO_8859_1)) ==
      Left("pdf parse error: NumberFormatException"))
  }

  test("scanner == regex on every generated PDF") {
    var pdfs = 0
    (0 until 300).foreach { i =>
      val s = latin1(PdfGen.gen(new Rng(7000L + i)).bytes)
      assert(got(s) == want(s), s"PdfGen seed ${7000 + i}")
      assert(got(s).nonEmpty)
    }
    (0L until 3000L).foreach { id =>
      val b = CorpusGen.page(id).html
      if (FormatSniff.sniff(b) == FormatSniff.Pdf) {
        val s = latin1(b)
        assert(got(s) == want(s), s"CorpusGen page $id")
        pdfs += 1
      }
    }
    assert(pdfs > 100, s"only $pdfs corpus PDFs")
  }
}
