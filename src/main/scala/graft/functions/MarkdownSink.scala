package graft.functions

import graft.Extracted
import graft.functions.html.{HtmlDom, HtmlExtractor}

/** Markdown rendering of an extraction record (SURVEY.md §2.1 S6): the
  * Spark analog of the reference's `_generate_markdown`
  * (normalizer.py:175-274) — document header, Document Information and
  * Processing Information bullet lists, Extracted Content with structured
  * elements (tables rendered as pipe rows with a `|---|` separator after the
  * header row, exactly the reference's table shape), full-text fallback when
  * no structured elements exist, and a Layout Analysis section with total
  * regions + per-type counts.
  *
  * Deliberate deviation, documented: no `Processing Date` line — the
  * reference stamps datetime.now() (normalizer.py:45), which breaks
  * determinism; run timestamps live in the manifest instead. OCR engine and
  * confidence have no analog (north rule drops OCR), so Method/Charset/
  * Status stand in. Not on the byte-identity path.
  */
object MarkdownSink {

  sealed trait Element
  final case class Paragraph(text: String) extends Element
  final case class Table(data: Seq[Seq[String]]) extends Element

  /** Structured render: the reference's full shape. `regionTypes` preserves
    * first-appearance order (the reference iterates dict insertion order).
    */
  def renderStructured(
      e: Extracted,
      elements: Seq[Element],
      regionTypes: Seq[(String, Int)]
  ): String = {
    val sb = new StringBuilder(e.text.length + 512)
    sb.append("# ").append(e.url).append("\n\n")
    sb.append("## Document Information\n")
    sb.append("- **File Type**: ").append(e.format).append('\n')
    sb.append("- **File Size**: ").append(e.n_bytes_in).append(" bytes\n\n")
    sb.append("## Processing Information\n")
    sb.append("- **Method**: ").append(e.format).append("-kernel\n")
    sb.append("- **Charset**: ").append(e.charset).append('\n')
    sb.append("- **Status**: ").append(e.status).append('\n')
    if (e.error != null) sb.append("- **Error**: ").append(e.error).append('\n')
    sb.append('\n')
    sb.append("## Extracted Content\n\n")
    if (elements.isEmpty) sb.append(e.text).append('\n')
    else {
      var tableIdx = 0
      elements.foreach {
        case Paragraph(t) => sb.append(t).append("\n\n")
        case Table(data) =>
          tableIdx += 1
          sb.append("### Table ").append(tableIdx).append("\n\n")
          if (data.nonEmpty) {
            sb.append("| ").append(data.head.mkString(" | ")).append(" |\n")
            sb.append("|").append(data.head.map(_ => "---").mkString("|")).append("|\n")
            data.tail.foreach(row => sb.append("| ").append(row.mkString(" | ")).append(" |\n"))
            sb.append('\n')
          }
      }
    }
    if (regionTypes.nonEmpty) {
      val total = regionTypes.map(_._2).sum
      sb.append("## Layout Analysis\n")
      sb.append("- **Total Regions**: ").append(total).append('\n')
      sb.append("- **Region Types**:\n")
      regionTypes.foreach { case (t, n) => sb.append("  - ").append(t).append(": ").append(n).append('\n') }
    }
    sb.toString
  }

  /** Build structured elements + region stats from an HTML payload:
    * paragraphs and tables IN DOCUMENT ORDER (the reference renders
    * structured elements in source order), boilerplate containers skipped,
    * table captions preserved as paragraphs before their table; region
    * types = per-tag counts over ALL blocks in first-appearance order.
    */
  def htmlElements(html: String): (Seq[Element], Seq[(String, Int)]) = {
    val root = HtmlDom.parse(html)
    val elements: Seq[Element] = HtmlExtractor.documentElements(root).map {
      case HtmlExtractor.DocParagraph(t) => Paragraph(t)
      case HtmlExtractor.DocTable(rows)  => Table(rows)
    }
    val order = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    HtmlExtractor.segment(root).foreach(b => order(b.tag) = order.getOrElse(b.tag, 0) + 1)
    (elements, order.toSeq)
  }

  /** Plain render from the flat record only (non-HTML formats): full-text
    * fallback shape, n_blocks as the single region count.
    */
  def render(e: Extracted): String =
    renderStructured(e, Seq.empty, if (e.n_blocks > 0) Seq(e.format -> e.n_blocks) else Seq.empty)
}
