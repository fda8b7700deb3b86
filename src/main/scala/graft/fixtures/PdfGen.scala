package graft.fixtures

import graft.functions.Codecs
import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Deterministic PDF writer for fixtures (SURVEY.md §5.2): classic layout
  * (xref table, catalog/pages/page objects) AND the PDF 1.5+ object-stream
  * layout, Helvetica Type1 font, content streams using
  * Tm/Td/TD/T*-with-TL/Tj/TJ positioning in several deterministic variants,
  * raw or /FlateDecode. Everything it writes, PdfExtractor parses (the
  * extractor additionally reads the real-world CID-font profiles the
  * generator does not emit — ReferenceParitySpec covers those).
  */
object PdfGen {

  /** One positioned line of ASCII text. */
  final case class PLine(x: Int, y: Int, text: String)

  final case class GenPdf(bytes: Array[Byte], golden: String)

  private def escStr(t: String): String =
    t.flatMap {
      case '\\' => "\\\\"
      case '('  => "\\("
      case ')'  => "\\)"
      case c    => c.toString
    }

  /** Render one page's content stream; variant picks the positioning style. */
  private def contentStream(lines: Seq[PLine], variant: Int, r: Rng): String = {
    val sb = new StringBuilder("BT /F1 12 Tf\n")
    variant match {
      case 0 => // absolute Tm per line
        lines.foreach(l => sb.append(s"1 0 0 1 ${l.x} ${l.y} Tm (${escStr(l.text)}) Tj\n"))
      case 1 => // relative Td chain
        var px = 0
        var py = 0
        lines.foreach { l =>
          sb.append(s"${l.x - px} ${l.y - py} Td (${escStr(l.text)}) Tj\n")
          px = l.x; py = l.y
        }
      case 2 => // TD to set leading, then ' (move-and-show); requires uniform spacing
        if (lines.isEmpty) ()
        else {
          val lead = if (lines.length > 1) lines.head.y - lines(1).y else 14
          sb.append(s"${lines.head.x} ${lines.head.y} Td $lead TL (${escStr(lines.head.text)}) Tj\n")
          lines.tail.foreach(l => sb.append(s"(${escStr(l.text)}) '\n"))
        }
      case _ => // TJ arrays: split text at word gaps with kern adjustments
        lines.foreach { l =>
          val words = l.text.split(" ", -1)
          val arr = words.zipWithIndex
            .map { case (w, i) => (if (i > 0) "-200 " else "") + s"(${escStr(w)})" }
            .mkString("[", " ", "]")
          sb.append(s"1 0 0 1 ${l.x} ${l.y} Tm $arr TJ\n")
        }
    }
    sb.append("ET\n")
    sb.toString
  }

  /** Build a complete PDF. `pages` holds lines per page in reading order for
    * a single column; `twoColumnPages` marks pages whose lines are split
    * into left (x=72) / right (x=340) columns — golden stays: left column
    * top-to-bottom, then right. `imagePages` (0-based page indices) embed a
    * real Image XObject (/Subtype /Image dict + raw RGB stream, painted via
    * `cm`/`Do` outside the text object) — images carry no text, so golden
    * output is unchanged while the F4 has_images feature turns on.
    * `objStm = true` emits the PDF 1.5+ layout instead: every non-stream
    * object (catalog/pages/font/page dicts) lives compressed inside ONE
    * /ObjStm container and /Root rides an XRef-stream-shaped trailer dict —
    * the pdflatex/modern-producer profile, same content streams, same
    * golden text.
    */
  def build(
      pages: Seq[Seq[PLine]],
      flate: Boolean,
      variant: Int,
      r: Rng,
      imagePages: Set[Int] = Set.empty,
      objStm: Boolean = false
  ): Array[Byte] = {
    if (objStm) return buildObjStm(pages, flate, variant, r, imagePages)
    val out = new ByteArrayOutputStream(8192)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    def write(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def beginObj(n: Int): Unit = { offsets += out.size(); write(s"$n 0 obj\n") }

    write("%PDF-1.4\n")
    val nPages = pages.length
    val pageObjStart = 4 // 1 catalog, 2 pages, 3 font
    val contentObjStart = pageObjStart + nPages
    val imageObjOf: Map[Int, Int] = imagePages.filter(_ < nPages).toSeq.sorted
      .zipWithIndex.map { case (p, k) => p -> (contentObjStart + nPages + k) }.toMap

    beginObj(1); write("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj(2)
    val kids = (0 until nPages).map(i => s"${pageObjStart + i} 0 R").mkString(" ")
    write(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    beginObj(3); write("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n")
    pages.indices.foreach { i =>
      beginObj(pageObjStart + i)
      val xobj = imageObjOf.get(i).map(n => s" /XObject << /Im1 $n 0 R >>").getOrElse("")
      write(
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >>$xobj >> /Contents ${contentObjStart + i} 0 R >>\nendobj\n"
      )
    }
    pages.zipWithIndex.foreach { case (lines, i) =>
      val text = contentStream(lines, variant, r)
      val full =
        if (imageObjOf.contains(i)) text + "q 96 0 0 72 72 48 cm /Im1 Do Q\n" else text
      val cs = full.getBytes(StandardCharsets.ISO_8859_1)
      val data = if (flate) Codecs.deflate(cs) else cs
      beginObj(contentObjStart + i)
      val filter = if (flate) " /Filter /FlateDecode" else ""
      write(s"<< /Length ${data.length}$filter >>\nstream\n")
      out.write(data)
      write("\nendstream\nendobj\n")
    }
    imageObjOf.toSeq.sortBy(_._2).foreach { case (_, objNum) =>
      // 4x4 8-bit RGB, raw (no filter): 48 payload bytes
      val px = Array.tabulate(48)(k => ((k * 37) & 0xFF).toByte)
      beginObj(objNum)
      write(
        "<< /Type /XObject /Subtype /Image /Width 4 /Height 4 " +
          s"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length ${px.length} >>\nstream\n"
      )
      out.write(px)
      write("\nendstream\nendobj\n")
    }
    val xrefPos = out.size()
    val total = offsets.length + 1
    write(s"xref\n0 $total\n0000000000 65535 f \n")
    offsets.foreach(o => write(f"$o%010d 00000 n \n"))
    write(s"trailer\n<< /Size $total /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n")
    out.toByteArray
  }

  /** The PDF 1.5+ object-stream layout (see build's scaladoc). Object
    * numbering: 1 catalog, 2 pages, 3 font, 4..3+n page dicts — all inside
    * the /ObjStm container (object 100) — then content streams and image
    * XObjects as ordinary stream objects, then the XRef-type trailer dict.
    */
  private def buildObjStm(
      pages: Seq[Seq[PLine]],
      flate: Boolean,
      variant: Int,
      r: Rng,
      imagePages: Set[Int]
  ): Array[Byte] = {
    val out = new ByteArrayOutputStream(8192)
    def write(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    write("%PDF-1.5\n")
    val nPages = pages.length
    val pageObjStart = 4
    val contentObjStart = pageObjStart + nPages
    val imageObjOf: Map[Int, Int] = imagePages.filter(_ < nPages).toSeq.sorted
      .zipWithIndex.map { case (p, k) => p -> (contentObjStart + nPages + k) }.toMap

    // the compressed members: (objNum, dict text)
    val kids = (0 until nPages).map(i => s"${pageObjStart + i} 0 R").mkString(" ")
    val members: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [$kids] /Count $nPages >>",
        3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
        pages.indices.map { i =>
          val xobj = imageObjOf.get(i).map(n => s" /XObject << /Im1 $n 0 R >>").getOrElse("")
          (pageObjStart + i) ->
            (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              s"/Resources << /Font << /F1 3 0 R >>$xobj >> /Contents ${contentObjStart + i} 0 R >>")
        }
    val offsets = members.scanLeft(0) { case (acc, (_, d)) => acc + d.length + 1 }
    val header = members.zip(offsets).map { case ((num, _), off) => s"$num $off" }.mkString(" ") + "\n"
    val payload = (header + members.map(_._2).mkString("\n") + "\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val stmData = if (flate) Codecs.deflate(payload) else payload
    val filt = if (flate) " /Filter /FlateDecode" else ""
    write(s"100 0 obj\n<< /Type /ObjStm /N ${members.length} /First ${header.length} " +
      s"/Length ${stmData.length}$filt >>\nstream\n")
    out.write(stmData)
    write("\nendstream\nendobj\n")

    pages.zipWithIndex.foreach { case (lines, i) =>
      val text = contentStream(lines, variant, r)
      val full =
        if (imageObjOf.contains(i)) text + "q 96 0 0 72 72 48 cm /Im1 Do Q\n" else text
      val cs = full.getBytes(StandardCharsets.ISO_8859_1)
      val data = if (flate) Codecs.deflate(cs) else cs
      write(s"${contentObjStart + i} 0 obj\n<< /Length ${data.length}$filt >>\nstream\n")
      out.write(data)
      write("\nendstream\nendobj\n")
    }
    imageObjOf.toSeq.sortBy(_._2).foreach { case (_, objNum) =>
      val px = Array.tabulate(48)(k => ((k * 37) & 0xFF).toByte)
      write(
        s"$objNum 0 obj\n<< /Type /XObject /Subtype /Image /Width 4 /Height 4 " +
          s"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length ${px.length} >>\nstream\n")
      out.write(px)
      write("\nendstream\nendobj\n")
    }
    // XRef-stream-shaped trailer dict carrying /Root (no classic trailer)
    write("101 0 obj\n<< /Type /XRef /Size 102 /Root 1 0 R /W [1 2 1] /Length 4 >>\nstream\n")
    out.write(Array[Byte](0, 0, 0, 0))
    write("\nendstream\nendobj\nstartxref\n0\n%%EOF\n")
    out.toByteArray
  }

  /** Generate a random PDF document + its golden extraction. */
  def gen(r: Rng): GenPdf = {
    val nPages = r.range(1, 5)
    val variant = r.nextInt(4)
    val flate = r.chance(50)
    // variant 2 (T-star/quote flow) positions every line at the first line's
    // x, so two-column layout is only generated for the other variants
    val pagesAndGold: Seq[(Seq[PLine], String)] = (0 until nPages).map { _ =>
      if (r.chance(15)) tablePage(r)
      else if (variant != 2 && r.chance(20)) twoColumnPage(r)
      else singleColumnPage(r)
    }
    // ~1 in 4 pages carries an embedded image (F4 has_images coverage)
    val imagePages = (0 until nPages).filter(_ => r.chance(25)).toSet
    // ~1 in 4 documents uses the PDF 1.5+ object-stream layout (modern
    // producers), putting /ObjStm on the byte-identity golden path
    val objStm = r.chance(25)
    val bytes = build(pagesAndGold.map(_._1), flate, variant, r, imagePages, objStm)
    val golden = pagesAndGold.zipWithIndex
      .map { case ((_, g), i) => s"[Page ${i + 1}]\n$g" }
      .mkString("\n\n")
    GenPdf(bytes, golden)
  }

  /** ASCII-only line text (PDF strings are WinAnsi; keep to the ASCII subset). */
  private def asciiLine(r: Rng): String = {
    var s = Words.sentence(r, r.range(3, 8), 0)
    // keep ASCII; swap any non-ASCII special token artifacts
    s = s.map(c => if (c > 126) '-' else c)
    s
  }

  private def singleColumnPage(r: Rng): (Seq[PLine], String) = {
    val n = r.range(18, 46)
    val x = 72
    val lines = (0 until n).map(i => PLine(x, 720 - i * 14, asciiLine(r)))
    (lines, lines.map(_.text).mkString("\n"))
  }

  /** A page whose body is pipe-separated table rows (plus a caption): drives
    * the F4 has_tables heuristic — page text with > 5 '|' characters
    * (combined_pipeline.py:271-291). Pipes are literal glyphs, so the golden
    * text is unchanged by the feature pass.
    */
  private def tablePage(r: Rng): (Seq[PLine], String) = {
    val nRows = r.range(4, 9)
    val x = 72
    val caption = asciiLine(r)
    val rows = (0 until nRows).map { i =>
      val cells = (0 until 3).map(_ => Words.core(r.nextInt(Words.core.length)))
      PLine(x, 700 - i * 14, cells.mkString(" | "))
    }
    val lines = PLine(x, 720, caption) +: rows
    (lines, lines.map(_.text).mkString("\n"))
  }

  /** Two columns with overlapping y ranges; reading order = left then right. */
  private def twoColumnPage(r: Rng): (Seq[PLine], String) = {
    val nl = r.range(12, 24)
    val nr = r.range(12, 24)
    val left = (0 until nl).map(i => PLine(72, 720 - i * 14, asciiLine(r)))
    val right = (0 until nr).map(i => PLine(340, 720 - i * 14, asciiLine(r)))
    // interleave physically (writer order is irrelevant; x-y cut restores order)
    val mixed = (left ++ right).sortBy(l => (-l.y, l.x))
    (mixed, (left.map(_.text) ++ right.map(_.text)).mkString("\n"))
  }
}
