package graft.functions.pdf

import graft.InflateFixtures._
import graft.PageIn
import graft.operators.ExtractKernel
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The PDF kernel's work per document is bounded by counts, never by a
  * timer: content bytes interpreted ([[PdfExtractor.MaxContentBytes]]),
  * forms drawn included, and one pass of the line walk per run.
  */
class PdfWorkBoundSpec extends AnyFunSuite {

  private val ts = Timestamp.valueOf("2024-01-01 00:00:00")

  /** The kernel's row, or a failure when it takes longer than 30 s: a
    * regression fails the test instead of hanging the suite.
    */
  private def row(doc: Array[Byte]) =
    Await.result(Future(ExtractKernel.extractOneIn(PageIn("u", ts, doc, "en")))(ExecutionContext.global), 30.seconds)

  test("a 64.5 KB PDF whose content stream inflates to 63 MiB of zeros gets the budget row") {
    val doc = pdf(Seq(Flate -> zlibZeros(63L << 20)))
    assert(doc.length < 70000, doc.length)
    val r = row(doc)
    assert((r.format, r.status, r.error) == (("pdf", "failed", PdfExtractor.ContentOverBudgetError)), r)
  }

  test("each draw of a form counts against the budget") {
    val mib = 1 << 20
    val body = textContent("drawn form text")
    val form = "/Type /XObject /Subtype /Form" -> (body ++ Array.fill[Byte](mib - body.length)(' '))
    def drawn(n: Int) = row(pdf(Seq("" -> ("q /Im1 Do Q\n" * n).getBytes(ISO_8859_1)), Seq(form)))
    val within = drawn(PdfExtractor.MaxContentBytes / mib - 1)
    assert(within.status == "ok" && within.text.contains("drawn form text"), within)
    val past = drawn(PdfExtractor.MaxContentBytes / mib + 1)
    assert((past.status, past.error) == (("failed", PdfExtractor.ContentOverBudgetError)), past)
  }

  test("a text matrix entry that overflows to infinity still gives a row") {
    // 1e400 parses as infinity; the run's y becomes NaN, which no line
    // tolerance matches
    val r = row(pdf(Seq("" -> "BT /F1 12 Tf 1 0 0 1 72 1e400 Tm (lost) Tj ET".getBytes(ISO_8859_1))))
    assert(r.format == "pdf", r)
  }
}
