package graft.operators

import graft.{Extracted, Page, PageIn}
import graft.functions.{Charsets, Codecs, CsvKernel, FormatSniff, RtfKernel, TextAssembly}
import graft.functions.office.{DocxKernel, OdtKernel, PptxKernel, XlsxKernel}
import graft.functions.html.HtmlStream
import graft.functions.pdf.PdfExtractor
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.col

/** The format-dispatched extraction operator (north rule): content sniff →
  * charset detect → per-format kernel, one `mapPartitions` stage so Catalyst
  * sees a single narrow transform and the columnar→row boundary is crossed
  * once (SURVEY.md §1.2, §4.3). The dispatch cascade mirrors the reference's
  * process_file switch (enhanced_extract.py:584-610) with OCR replaced by
  * deterministic kernels.
  */
object ExtractKernel {

  /** Per-row extraction — pure, total (never throws). Inflated bytes per
    * page are bounded by one envelope cap plus one kernel cap, each
    * [[Codecs.MaxInflatedBytes]]; past either the row carries
    * [[Codecs.OverCapError]]. PDF content-stream work is bounded per
    * document by [[PdfExtractor.MaxContentBytes]]; past it the row carries
    * [[PdfExtractor.ContentOverBudgetError]].
    */
  def extractOne(p: Page): Extracted = extractOneIn(PageIn(p.url, p.warc_ts, p.html, p.lang))

  @inline private def orPlaceholder(t: String): String =
    if (t.isEmpty) TextAssembly.NoText else t

  def extractOneIn(p: PageIn): Extracted = {
    val raw = if (p.html == null) Array.emptyByteArray else p.html
    val nBytes = raw.length.toLong // bytes READ — the transport size, pre-inflate
    // transparent gzip envelope (Content-Encoding / per-record WARC gzip):
    // unwrap with the SAME bounded rule the ingest sniff uses, then sniff +
    // extract the inner payload; a corrupt or bomb-sized stream is an
    // unsupported page, never a thrown task
    val bytes = FormatSniff.unwrapGzip(raw) match {
      case Right(inner) => inner
      case Left(err) =>
        return Extracted(p.url, p.warc_ts, "unsupported", TextAssembly.NoText,
          "binary", "unsupported", err, 0, nBytes)
    }
    FormatSniff.sniff(bytes) match {
      case FormatSniff.Pdf =>
        PdfExtractor.extract(bytes) match {
          case Right(res) =>
            Extracted(p.url, p.warc_ts, "pdf", orPlaceholder(res.text), "binary", "ok", null, res.nLines, nBytes)
          case Left(err) =>
            Extracted(p.url, p.warc_ts, "pdf", TextAssembly.NoText, "binary", "failed", err, 0, nBytes)
        }
      case FormatSniff.Html =>
        val dec = Charsets.decode(bytes, isHtml = true)
        try {
          val res = HtmlStream.extract(dec.text)
          Extracted(p.url, p.warc_ts, "html", orPlaceholder(res.text), dec.charset, "ok", null, res.nBlocks, nBytes)
        } catch {
          case e: Exception =>
            Extracted(p.url, p.warc_ts, "html", TextAssembly.NoText, dec.charset, "failed",
              s"html parse error: ${e.getClass.getSimpleName}", 0, nBytes)
        }
      case FormatSniff.Txt =>
        val dec = Charsets.decode(bytes)
        Extracted(p.url, p.warc_ts, "txt", orPlaceholder(dec.text), dec.charset, "ok", null, 1, nBytes)
      case FormatSniff.Csv =>
        val dec = Charsets.decode(bytes)
        val (text, rows) = CsvKernel.extract(dec.text)
        Extracted(p.url, p.warc_ts, "csv", orPlaceholder(text), dec.charset, "ok", null, rows, nBytes)
      case FormatSniff.Rtf =>
        val dec = Charsets.decode(bytes)
        val (text, lines) = RtfKernel.extract(dec.text)
        Extracted(p.url, p.warc_ts, "rtf", orPlaceholder(text), dec.charset, "ok", null, lines, nBytes)
      case f @ (FormatSniff.Docx | FormatSniff.Xlsx | FormatSniff.Pptx | FormatSniff.Odt) =>
        try {
          val (text, blocks) = f match {
            case FormatSniff.Docx => DocxKernel.extract(bytes)
            case FormatSniff.Xlsx => XlsxKernel.extract(bytes)
            case FormatSniff.Pptx => PptxKernel.extract(bytes)
            case _                => OdtKernel.extract(bytes)
          }
          Extracted(p.url, p.warc_ts, f, orPlaceholder(text), "zip", "ok", null, blocks, nBytes)
        } catch {
          case _: Codecs.OverCapException =>
            Extracted(p.url, p.warc_ts, f, TextAssembly.NoText, "zip", "failed", Codecs.OverCapError, 0, nBytes)
          case e: Exception =>
            Extracted(p.url, p.warc_ts, f, TextAssembly.NoText, "zip", "failed",
              s"$f parse error: ${e.getMessage}", 0, nBytes)
        }
      case other => // empty | binary
        Extracted(p.url, p.warc_ts, "unsupported", TextAssembly.NoText,
          if (other == FormatSniff.Empty) "none" else "binary", "unsupported",
          s"unsupported payload: $other", 0, nBytes)
    }
  }

  /** Map-only distributed extraction — the one physical plan.
    *
    * No pre-kernel shuffle: parquet scan splits are already byte-bounded by
    * `spark.sql.files.maxPartitionBytes`, so task input sizes are balanced
    * regardless of row-size skew or hot hosts — at 1000 executors each task
    * reads ≤128 MB no matter how pages are laid out. Kernel cost is linear
    * in bytes, so byte-bounded splits = time-bounded tasks. Per-run counts
    * (pages, bytes, failures) come from the commit's manifest lineage
    * ([[graft.sources.ManifestTable.latestStats]]), which stays exact when
    * tasks retry.
    */
  def extract(pages: Dataset[Page]): Dataset[Extracted] =
    // project away the golden text column BEFORE deserialization: the scan
    // then never decodes it (visible as ReadSchema in .explain)
    pages.select(col("url"), col("warc_ts"), col("html"), col("lang")).as(PageInEncoder)
      .mapPartitions(_.map(extractOneIn))(ExtractedEncoder)

  // derived once: deriving a product encoder reflects over the case class,
  // which every call would otherwise repeat
  private val PageInEncoder: Encoder[PageIn] = Encoders.product[PageIn]
  private val ExtractedEncoder: Encoder[Extracted] = Encoders.product[Extracted]
}
