package graft.functions.office

import graft.functions.Codecs
import graft.functions.Codecs.Inflated
import graft.functions.html.HtmlTokenizer
import java.io.{ByteArrayInputStream, EOFException, FilterInputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** ZIP container access for the OOXML/ODF kernels. Office documents are ZIP
  * archives of XML parts (public ECMA-376 / OASIS ODF formats); entries are
  * read via java.util.zip — no external libraries.
  */
object Zips {
  /** The entries `want` accepts (name → bytes), in container order; the
    * rest are skipped, never kept. Entries read sum against
    * [[Codecs.MaxInflatedBytes]] (past it: [[Codecs.OverCapException]]).
    */
  def entries(bytes: Array[Byte], want: String => Boolean): LinkedHashMap[String, Array[Byte]] = {
    val out = LinkedHashMap.empty[String, Array[Byte]]
    var left = Codecs.MaxInflatedBytes.toLong
    walk(bytes) { (e, zin) =>
      if (!e.isDirectory && want(e.getName)) // closing this view ends the entry, not the container
        Codecs.inflate(new FilterInputStream(zin) { override def close(): Unit = zin.closeEntry() }, left, 1024) match {
          case Some(Inflated(b, true)) => out(e.getName) = b; left -= b.length
          case None                    => throw new Codecs.OverCapException
          case _                       => throw new EOFException(s"truncated entry ${e.getName}")
        }
      true
    }
    out
  }

  /** Entry NAMES only, the first 64 (cheap container sniff). */
  def entryNames(bytes: Array[Byte]): List[String] = {
    val out = ArrayBuffer.empty[String]
    walk(bytes) { (e, _) => out += e.getName; out.length < 64 }
    out.toList
  }

  /** Visits entries while `visit` says so; skipping one inflates it into a scratch buffer. */
  private def walk(bytes: Array[Byte])(visit: (ZipEntry, ZipInputStream) => Boolean): Unit = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null && visit(e, zin)) { zin.closeEntry(); e = zin.getNextEntry }
    } finally zin.close()
  }

  def xml(bytes: Array[Byte]): String = new String(bytes, StandardCharsets.UTF_8)
}

/** XML event walk shared by the office kernels: reuses the streaming HTML
  * tokenizer (XML is a subset for these vendor-generated parts: lowercase
  * prefixed names, quoted attributes, &amp;-style entities).
  */
private[office] object XmlWalk {
  import HtmlTokenizer.{EndTag, StartTag, Text, Tok}
  def apply(xmlText: String)(f: Tok => Unit): Unit = HtmlTokenizer.tokenizeTo(xmlText, f)
}

/** DOCX kernel (SURVEY.md §2.7 F8). Reference contract
  * (simple_extract.py:142-151): paragraph texts (runs concatenated),
  * non-blank after strip, joined "\n".
  */
object DocxKernel {
  import HtmlTokenizer.{EndTag, StartTag, Text}

  def extract(bytes: Array[Byte]): (String, Int) = {
    val doc = Zips.entries(bytes, Set("word/document.xml")).getOrElse("word/document.xml", throw new IllegalArgumentException("no word/document.xml"))
    val paras = new ArrayBuffer[String]
    val para = new StringBuilder
    var inT = false
    XmlWalk(Zips.xml(doc)) {
      case StartTag("w:p", _, _) => para.clear()
      case EndTag("w:p")         => if (para.toString.trim.nonEmpty) paras += para.toString
      case StartTag("w:t", _, _) => inT = true
      case EndTag("w:t")         => inT = false
      case StartTag("w:tab", _, _) => if (para != null) para.append('\t')
      case Text(t)               => if (inT) para.append(t)
      case _                     => ()
    }
    (paras.mkString("\n"), paras.length)
  }
}

/** PPTX kernel (SURVEY.md §2.7 F9). Reference contract
  * (simple_extract.py:197-215): per slide "Slide N:" header + shape texts
  * joined "\n" (shape text = its paragraphs joined "\n"); slides joined
  * "\n\n"; slides without text skipped.
  */
object PptxKernel {
  import HtmlTokenizer.{EndTag, StartTag, Text}

  private val slideRe = """ppt/slides/slide(\d+)\.xml""".r

  def extract(bytes: Array[Byte]): (String, Int) = {
    val all = Zips.entries(bytes, slideRe.matches)
    val slides = all.keys.collect { case n @ slideRe(i) => (i.toInt, n) }.toSeq.sortBy(_._1)
    if (slides.isEmpty) throw new IllegalArgumentException("no slides")
    val out = new ArrayBuffer[String]
    slides.foreach { case (num, name) =>
      val shapeTexts = new ArrayBuffer[String]
      val paras = new ArrayBuffer[String]
      val para = new StringBuilder
      var inT = false
      XmlWalk(Zips.xml(all(name))) {
        case StartTag("p:sp", _, _) => paras.clear()
        case EndTag("p:sp")         => shapeTexts += paras.mkString("\n")
        case StartTag("a:p", _, _)  => para.clear()
        case EndTag("a:p")          => paras += para.toString
        case StartTag("a:t", _, _)  => inT = true
        case EndTag("a:t")          => inT = false
        case Text(t)                => if (inT) para.append(t)
        case _                      => ()
      }
      if (shapeTexts.nonEmpty)
        out += s"Slide $num:\n" + shapeTexts.mkString("\n")
    }
    (out.mkString("\n\n"), slides.length)
  }
}

/** XLSX kernel (SURVEY.md §2.7 F10). Reference contract
  * (simple_extract.py:217-237): per sheet "Sheet: {name}" header, rows as
  * "\t"-joined cell values (None → ""), rows blank after strip skipped,
  * sheets joined "\n\n". Shared strings resolved; inline numbers verbatim.
  */
object XlsxKernel {
  import HtmlTokenizer.{EndTag, StartTag, Text}

  private val sheetRe = """xl/worksheets/sheet[1-9]\d*\.xml""".r

  def extract(bytes: Array[Byte]): (String, Int) = {
    val all = Zips.entries(bytes,
      n => n == "xl/sharedStrings.xml" || n == "xl/workbook.xml" || sheetRe.matches(n))
    // shared strings (0-indexed <si><t>)
    val shared = new ArrayBuffer[String]
    all.get("xl/sharedStrings.xml").foreach { ss =>
      val cur = new StringBuilder
      var inT = false
      XmlWalk(Zips.xml(ss)) {
        case StartTag("si", _, _) => cur.clear()
        case EndTag("si")         => shared += cur.toString
        case StartTag("t", _, _)  => inT = true
        case EndTag("t")          => inT = false
        case Text(t)              => if (inT) cur.append(t)
        case _                    => ()
      }
    }
    // sheet names in workbook order; sheetN.xml files correspond by index
    val names = new ArrayBuffer[String]
    all.get("xl/workbook.xml").foreach { wb =>
      XmlWalk(Zips.xml(wb)) {
        case StartTag("sheet", attrs, _) =>
          attrs.collectFirst { case ("name", v) => v }.foreach(names += _)
        case _ => ()
      }
    }
    val sheetsOut = new ArrayBuffer[String]
    var idx = 1
    var done = false
    while (!done) {
      all.get(s"xl/worksheets/sheet$idx.xml") match {
        case None => done = true
        case Some(sx) =>
          val name = if (idx <= names.length) names(idx - 1) else s"Sheet$idx"
          val lines = new ArrayBuffer[String]
          lines += s"Sheet: $name"
          val row = new ArrayBuffer[String]
          val v = new StringBuilder
          var inV = false
          var cellIsShared = false
          XmlWalk(Zips.xml(sx)) {
            case StartTag("row", _, _) => row.clear()
            case EndTag("row") =>
              val rowText = row.mkString("\t")
              if (rowText.trim.nonEmpty) lines += rowText
            case StartTag("c", attrs, _) =>
              cellIsShared = attrs.exists { case (k, vv) => k == "t" && vv == "s" }
              v.clear()
            case EndTag("c") =>
              row += (if (cellIsShared) shared.lift(v.toString.trim.toIntOption.getOrElse(-1)).getOrElse("") else v.toString)
            case StartTag("v", _, _) => inV = true
            case EndTag("v")         => inV = false
            case Text(t)             => if (inV) v.append(t)
            case _                   => ()
          }
          sheetsOut += lines.mkString("\n")
          idx += 1
      }
    }
    if (sheetsOut.isEmpty) throw new IllegalArgumentException("no worksheets")
    (sheetsOut.mkString("\n\n"), sheetsOut.length)
  }
}

/** ODT kernel (SURVEY.md §2.7 F7). Reference contract
  * (enhanced_extract.py:516-537): content.xml, every text node stripped,
  * non-empty nodes each on its own line, joined "\n".
  */
object OdtKernel {
  import HtmlTokenizer.Text

  def extract(bytes: Array[Byte]): (String, Int) = {
    val content = Zips.entries(bytes, Set("content.xml")).getOrElse("content.xml", throw new IllegalArgumentException("no content.xml"))
    val lines = new ArrayBuffer[String]
    XmlWalk(Zips.xml(content)) {
      case Text(t) => val s = t.trim; if (s.nonEmpty) lines += s
      case _       => ()
    }
    (lines.mkString("\n"), lines.length)
  }
}
