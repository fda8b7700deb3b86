package perfbench

import graft.{Page, PageIn}
import graft.fixtures.CorpusGen
import graft.functions.{Charsets, CsvKernel, FormatSniff, RtfKernel}
import graft.functions.html.HtmlStream
import graft.functions.office.{DocxKernel, OdtKernel, PptxKernel, XlsxKernel}
import graft.functions.pdf.PdfExtractor
import graft.operators.ExtractKernel
import scala.collection.mutable

/** Single-threaded calls into the `functions` layer's public entry points
  * over a sample of the seeded corpus, on the driver thread with no Spark
  * job running. Byte bases:
  *   - `unwrap`: raw page bytes (before gzip unwrapping);
  *   - `sniff` and every format kernel: the unwrapped payload bytes;
  *   - `charset`: the unwrapped bytes of HTML, TXT, CSV and RTF pages;
  *   - `mb_per_s_1core`: raw bytes through `ExtractKernel.extractOneIn`.
  * The TXT kernel is `Charsets.decode` itself; HTML, CSV and RTF kernels
  * take the decoded text, so their time excludes the decode.
  */
object KernelProbe {
  final val SamplePages = 1200
  final val WarmPasses = 3
  final val TimedPasses = 5
  final val Formats = Seq("html", "pdf", "txt", "csv", "rtf", "docx", "xlsx", "pptx", "odt")

  /** Keeps call results alive so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0L

  private final case class Item(raw: Array[Byte], inner: Array[Byte], format: String, decoded: String, in: PageIn)

  def run(firstId: Long): Map[String, Double] = {
    val items = (0 until SamplePages).map { k =>
      val p: Page = CorpusGen.page(firstId + k)
      val inner = FormatSniff.unwrapGzip(p.html).getOrElse(Array.emptyByteArray)
      val format = FormatSniff.sniff(inner)
      val decoded = format match {
        case "html" => Charsets.decode(inner, isHtml = true).text
        case "txt" | "csv" | "rtf" => Charsets.decode(inner).text
        case _ => null
      }
      Item(p.html, inner, format, decoded, PageIn(p.url, p.warc_ts, p.html, p.lang))
    }
    val ns = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
    var sink = 0L

    def time(key: String, base: Int, keepLatency: Boolean = false)(f: => Int): Unit = {
      val t0 = System.nanoTime()
      sink += f
      val dt = System.nanoTime() - t0
      ns(key) += dt
      bytes(key) += base
      if (keepLatency) latencies.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += dt
    }

    def pass(): Unit = items.foreach { it =>
      time("unwrap", it.raw.length)(FormatSniff.unwrapGzip(it.raw).fold(_.length, _.length))
      time("sniff", it.inner.length)(FormatSniff.sniff(it.inner).length)
      it.format match {
        case "html" =>
          time("charset", it.inner.length)(Charsets.decode(it.inner, isHtml = true).text.length)
          time("html", it.inner.length, keepLatency = true)(HtmlStream.extract(it.decoded).text.length)
        case "txt" =>
          time("charset", it.inner.length)(Charsets.decode(it.inner).text.length)
          time("txt", it.inner.length)(Charsets.decode(it.inner).text.length)
        case "csv" =>
          time("charset", it.inner.length)(Charsets.decode(it.inner).text.length)
          time("csv", it.inner.length)(CsvKernel.extract(it.decoded)._2)
        case "rtf" =>
          time("charset", it.inner.length)(Charsets.decode(it.inner).text.length)
          time("rtf", it.inner.length)(RtfKernel.extract(it.decoded)._2)
        case "pdf" =>
          time("pdf", it.inner.length, keepLatency = true)(PdfExtractor.extract(it.inner).fold(_.length, _.nLines))
        case "docx" => time("docx", it.inner.length)(DocxKernel.extract(it.inner)._2)
        case "xlsx" => time("xlsx", it.inner.length)(XlsxKernel.extract(it.inner)._2)
        case "pptx" => time("pptx", it.inner.length)(PptxKernel.extract(it.inner)._2)
        case "odt"  => time("odt", it.inner.length)(OdtKernel.extract(it.inner)._2)
        case _ => ()
      }
      time("extractOneIn", it.raw.length)(ExtractKernel.extractOneIn(it.in).text.length)
    }

    (1 to WarmPasses).foreach(_ => pass())
    ns.clear(); bytes.clear(); latencies.clear()
    (1 to TimedPasses).foreach(_ => pass())
    blackhole = sink

    def nsPerByte(k: String): Double = ns(k).toDouble / math.max(1L, bytes(k))
    def p99us(k: String): Double = {
      val s = latencies(k).sorted
      s(math.min(s.size - 1, (s.size * 0.99).toInt)) / 1e3
    }
    val stages = Seq("unwrap", "sniff", "charset").map(k => s"functions.$k.ns_per_byte" -> nsPerByte(k))
    val kernels = Formats.map(f => s"functions.$f.ns_per_byte" -> nsPerByte(f))
    (stages ++ kernels ++ Seq(
      "functions.html.p99_us" -> p99us("html"),
      "functions.pdf.p99_us" -> p99us("pdf"),
      "functions.mb_per_s_1core" -> bytes("extractOneIn") / 1e6 / (ns("extractOneIn") / 1e9))).toMap
  }
}
