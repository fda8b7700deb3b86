package graft

import graft.functions.{Charsets, FormatSniff, TextAssembly}
import graft.functions.html.{Entities, HtmlDom, HtmlExtractor, HtmlTokenizer}
import graft.functions.pdf.PdfExtractor
import graft.fixtures.{PdfGen, Rng}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

class TextAssemblySpec extends AnyFunSuite {
  test("cleanLines trims, drops blanks, joins with \\n (reference contract)") {
    assert(TextAssembly.cleanLines("  a  \n\n   \n b\t\n") == "a\nb")
    assert(TextAssembly.cleanLines("") == "")
    assert(TextAssembly.cleanLines("\n\n\n") == "")
  }
  test("normalizeWs collapses runs incl. NBSP") {
    assert(TextAssembly.normalizeWs("a  \t b\n\nc ") == "a b c")
    assert(TextAssembly.normalizeWs("   ") == "")
  }
  test("cleanLines output never has blank lines or edge whitespace (property)") {
    val pool = Vector("a", " b ", "", "\t", "x  y", " ", "w1 w2", "  ")
    val r = new graft.fixtures.Rng(99)
    (0 until 500).foreach { _ =>
      val parts = (0 until r.range(0, 8)).map(_ => r.pick(pool))
      val out = TextAssembly.cleanLines(parts.mkString("\n"))
      if (out.nonEmpty)
        assert(!out.split("\n", -1).exists(l => l != l.trim || l.isEmpty), s"parts=$parts out='$out'")
    }
  }
  test("pages assembly grammar") {
    assert(TextAssembly.assemblePages(Seq("a", "b")) == "[Page 1]\na\n\n[Page 2]\nb")
  }
  test("isSpace equals Java isWhitespace plus NBSP on all 65,536 chars") {
    // the streaming and DOM HTML paths both call isSpace, so their
    // equivalence cannot catch a wrong fast path; the full definition can
    def definition(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
        c == '\u000B' || c == '\u00A0' || Character.isWhitespace(c)
    val wrong = (Char.MinValue to Char.MaxValue).filter(c => TextAssembly.isSpace(c) != definition(c))
    assert(wrong.isEmpty, s"differs on ${wrong.take(10).map(c => f"U+${c.toInt}%04X")}")
    // the definition itself: separators beyond ASCII space count, a
    // zero-width space and printable ASCII do not
    Seq('\u001C', '\u001F', '\u00A0', '\u2003', '\u3000').foreach(c => assert(TextAssembly.isSpace(c)))
    Seq('!', '~', 'a', '\u007F', '\u200B').foreach(c => assert(!TextAssembly.isSpace(c)))
  }
}

class CharsetSpec extends AnyFunSuite {
  test("BOM detection") {
    val t = "héllo wörld"
    val utf8bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ t.getBytes(StandardCharsets.UTF_8)
    assert(Charsets.decode(utf8bom) == Charsets.Decoded("utf-8-bom", t))
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ t.getBytes(StandardCharsets.UTF_16LE)
    assert(Charsets.decode(le) == Charsets.Decoded("utf-16le", t))
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte) ++ t.getBytes(StandardCharsets.UTF_16BE)
    assert(Charsets.decode(be) == Charsets.Decoded("utf-16be", t))
  }
  test("strict utf-8 then latin-1 fallback (total, never fails)") {
    assert(Charsets.decode("plain".getBytes(StandardCharsets.UTF_8)).charset == "utf-8")
    val latin = "café".getBytes(StandardCharsets.ISO_8859_1)
    val d = Charsets.decode(latin)
    assert(d.charset == "iso-8859-1" && d.text == "café")
  }
  test("html meta charset sniff") {
    val html = "<html><head><meta charset=\"iso-8859-1\"></head><body>café</body></html>"
    val d = Charsets.decode(html.getBytes(StandardCharsets.ISO_8859_1), isHtml = true)
    assert(d.charset == "iso-8859-1" && d.text.contains("café"))
  }
  test("utf-8 roundtrip id (property)") {
    val r = new graft.fixtures.Rng(7)
    (0 until 500).foreach { _ =>
      val s = (0 until r.range(0, 40)).map { _ =>
        val c = r.nextInt(0xFFFF).toChar
        if (Character.isSurrogate(c)) 'x' else c
      }.mkString
      val d = Charsets.decode(s.getBytes(StandardCharsets.UTF_8))
      assert(d.text == s)
    }
  }
  test("latin-1 decode is total on arbitrary bytes (property)") {
    val r = new graft.fixtures.Rng(8)
    (0 until 500).foreach { _ =>
      val bs = Array.tabulate[Byte](r.range(0, 64))(_ => (r.nextInt(256) - 128).toByte)
      Charsets.decode(bs) // must never throw
    }
  }
}

class TokenizerSpec extends AnyFunSuite {
  import HtmlTokenizer._

  test("script/style raw text consumed, fake tags inside ignored") {
    val toks = tokenize("""<p>a</p><script>if(1<2){x="<div>f</div>"}</script><p>b</p>""")
    val texts = toks.collect { case Text(t) => t }
    assert(texts == Seq("a", "b"))
  }
  test("comments, CDATA, doctype, processing instructions dropped") {
    val toks = tokenize("<!DOCTYPE html><!-- <p>no</p> --><![CDATA[<x>]]><?php ?>hi")
    assert(toks.collect { case Text(t) => t } == Seq("hi"))
  }
  test("attributes: quoted values with '>', unquoted, boolean") {
    val toks = tokenize("""<div class="a" title='x > y' data-k=v hidden>t</div>""")
    val st = toks.collectFirst { case s: StartTag => s }.get
    assert(st.attrs.toMap == Map("class" -> "a", "title" -> "x > y", "data-k" -> "v", "hidden" -> ""))
  }
  test("entities: named, decimal, hex, unknown verbatim, bare ampersand") {
    assert(Entities.decode("a&amp;b &lt;x&gt; &#65;&#x42; &bogus; AT&T &nbsp;!") ==
      "a&b <x> AB &bogus; AT&T  !")
  }
  test("bare '<' that opens no tag is literal text") {
    val toks = tokenize("a < b <3 c")
    assert(toks.collect { case Text(t) => t }.mkString == "a < b <3 c")
  }
  test("textarea content is kept as text (RCDATA), entities decoded; markup inside is not parsed") {
    val html = """<p>a</p><textarea>line &amp; <b>not-a-tag</b></textarea><p>b</p>"""
    val texts = tokenize(html).collect { case Text(t) => t }
    assert(texts == Seq("a", "line & <b>not-a-tag</b>", "b"))
    // streaming extractor sees the same text as the DOM path
    val stream = graft.functions.html.HtmlStream.extract(s"<html><body><div>$html</div></body></html>")
    val dom = graft.functions.html.HtmlExtractor.extract(s"<html><body><div>$html</div></body></html>")
    assert(stream.text == dom.text)
    assert(stream.text.contains("line & <b>not-a-tag</b>"))
  }
  test("invalid numeric character references stay literal on both decode paths") {
    for (ref <- Seq("&#x110000;", "&#-1;", "&#99999999;")) {
      assert(Entities.decode(s"a${ref}b") == s"a${ref}b")
      assert(Entities.decodeAt(s"a${ref}b", 1, s"a${ref}b".length) == -1L)
    }
    // valid refs still decode identically at both entry points
    val src = "x&#65;y"
    val r = Entities.decodeAt(src, 1, src.length)
    assert((r & 0xFFFFFFFFL).toInt == 'A'.toInt && (r >>> 32).toInt == 6)
  }
  test("no non-markup text is ever lost (property)") {
    val r = new graft.fixtures.Rng(11)
    (0 until 300).foreach { _ =>
      val ws = (0 until 5).map(_ => graft.fixtures.Words.core(r.nextInt(graft.fixtures.Words.core.length)))
      val html = s"<div><p>${ws.mkString(" ")}</p><span>${ws.head}</span></div>"
      val text = tokenize(html).collect { case Text(t) => t }.mkString(" ")
      ws.foreach(w => assert(text.contains(w)))
    }
  }
}

class DomSpec extends AnyFunSuite {
  private def blocks(html: String): Seq[String] =
    HtmlExtractor.segment(HtmlDom.parse(html)).map(_.text).toSeq

  test("implied close: <p> chain") {
    assert(blocks("<body><p>one<p>two<p>three</body>") == Seq("one", "two", "three"))
  }
  test("implied close: li without </li>") {
    assert(blocks("<ul><li>a<li>b<li>c</ul>") == Seq("a", "b", "c"))
  }
  test("implied close: td/tr") {
    assert(blocks("<table><tr><td>c1<td>c2<tr><td>c3</table>") == Seq("c1", "c2", "c3"))
  }
  test("nested lists keep scoping") {
    assert(blocks("<ul><li>a<ul><li>a1<li>a2</ul><li>b</ul>") == Seq("a", "a1", "a2", "b"))
  }
  test("stray end tags ignored") {
    assert(blocks("<div>x</span></p></div>") == Seq("x"))
  }
  test("head subtree (title/style/script) contributes nothing") {
    assert(blocks("<html><head><title>T</title><style>p{}</style></head><body><p>x</p></body></html>") == Seq("x"))
  }
}

class BoilerplateSpec extends AnyFunSuite {
  test("nav/header/footer/aside/form containers dropped") {
    val html =
      """<body><nav><a href="/">Home</a></nav><header>site head</header>
        |<p>real content paragraph here</p>
        |<aside>related stuff</aside><footer>foot</footer>
        |<form><label>Search</label></form></body>""".stripMargin
    assert(HtmlExtractor.extract(html).text == "real content paragraph here")
  }
  test("link-dense block dropped, text-dense block kept") {
    val html =
      """<body><div><a href="1">One</a> <a href="2">Two</a> <a href="3">Three</a></div>
        |<div>This sentence has plenty of plain words with <a href="x">one link</a> inside it.</div></body>""".stripMargin
    val r = HtmlExtractor.extract(html)
    assert(r.text == "This sentence has plenty of plain words with one link inside it.")
  }
  test("class/id token heuristics (sidebar, menu, cookie-banner)") {
    val html =
      """<body><div class="sidebar"><p>ignore me</p></div>
        |<div id="main-menu"><p>nor me</p></div>
        |<div class="cookie-banner">accept</div>
        |<p>keep me</p></body>""".stripMargin
    assert(HtmlExtractor.extract(html).text == "keep me")
  }
  test("rawText baseline: reference get_text contract (boilerplate KEPT)") {
    val html = "<html><head><title>T</title><script>x</script></head><body><nav>N</nav><p> a </p>\n<p>b</p></body></html>"
    assert(HtmlExtractor.rawText(html) == "T\nN\na\nb")
  }
  test("stripTags regex fallback (reference enhanced_extract.py:504-514)") {
    assert(HtmlExtractor.stripTags("<p>a</p>\n<div> b </div>") == "a\nb")
  }
}

class PdfSpec extends AnyFunSuite {
  import PdfGen.PLine

  private def extractText(bytes: Array[Byte]): String =
    PdfExtractor.extract(bytes).fold(e => fail(s"parse failed: $e"), _.text)

  test("single column, absolute Tm positioning") {
    val pdf = PdfGen.build(Seq(Seq(PLine(72, 720, "first line"), PLine(72, 706, "second line"))), flate = false, variant = 0, new Rng(1))
    assert(extractText(pdf) == "[Page 1]\nfirst line\nsecond line")
  }
  test("relative Td chain + flate compression") {
    val lines = (0 until 5).map(i => PLine(72, 720 - 14 * i, s"line number $i"))
    val pdf = PdfGen.build(Seq(lines), flate = true, variant = 1, new Rng(2))
    assert(extractText(pdf) == "[Page 1]\n" + lines.map(_.text).mkString("\n"))
  }
  test("TD/TL with quote operator") {
    val lines = (0 until 4).map(i => PLine(100, 700 - 14 * i, s"flow $i"))
    val pdf = PdfGen.build(Seq(lines), flate = false, variant = 2, new Rng(3))
    assert(extractText(pdf) == "[Page 1]\n" + lines.map(_.text).mkString("\n"))
  }
  test("TJ arrays with kern-encoded word gaps") {
    val pdf = PdfGen.build(Seq(Seq(PLine(72, 720, "hello kerned world"))), flate = false, variant = 3, new Rng(4))
    assert(extractText(pdf) == "[Page 1]\nhello kerned world")
  }
  test("two-column page: left column read first (x-y cut)") {
    val left = Seq(PLine(72, 720, "L one"), PLine(72, 706, "L two"))
    val right = Seq(PLine(340, 720, "R one"), PLine(340, 706, "R two"))
    val mixed = (left ++ right).sortBy(l => (-l.y, l.x))
    val pdf = PdfGen.build(Seq(mixed), flate = false, variant = 0, new Rng(5))
    assert(extractText(pdf) == "[Page 1]\nL one\nL two\nR one\nR two")
  }
  test("multi-page assembly with [Page N] headers") {
    val p1 = Seq(PLine(72, 720, "page one text"))
    val p2 = Seq(PLine(72, 720, "page two text"))
    val pdf = PdfGen.build(Seq(p1, p2), flate = true, variant = 0, new Rng(6))
    assert(extractText(pdf) == "[Page 1]\npage one text\n\n[Page 2]\npage two text")
  }
  test("escaped parens and backslashes round-trip") {
    val t = """weird (paren) and \ backslash"""
    val pdf = PdfGen.build(Seq(Seq(PLine(72, 720, t))), flate = false, variant = 0, new Rng(7))
    assert(extractText(pdf) == s"[Page 1]\n$t")
  }
  test("F4 page features: has_text / has_images / n_lines / the verbatim table heuristic") {
    val tableRows = (0 until 3).map(i => PLine(72, 700 - 14 * i, s"cell${i}a | cell${i}b | cell${i}c"))
    val prose = Seq(PLine(72, 720, "one pipe | only"), PLine(72, 706, "plain line"))
    val pdf = PdfGen.build(Seq(tableRows, prose), flate = false, variant = 0, new Rng(9))
    val res = PdfExtractor.extract(pdf).fold(e => fail(s"parse failed: $e"), identity)
    assert(res.pages.map(_.page) == Seq(1, 2))
    assert(res.pages.forall(_.has_text))
    assert(res.pages.map(_.n_lines) == Seq(3, 2))
    // page 1: 3 rows x 2 pipes = 6 > 5 -> table; page 2: 1 pipe -> not
    assert(res.pages.map(_.has_tables) == Seq(true, false))
    assert(res.pages.forall(!_.has_images))
    // a tab alone also triggers the heuristic (reference's first branch)
    val tabbed = PdfGen.build(Seq(Seq(PLine(72, 720, "a\tb"))), flate = false, variant = 0, new Rng(10))
    assert(PdfExtractor.extract(tabbed).toOption.get.pages.head.has_tables)
    // image XObject on page 2 only: feature on, golden text unchanged, and
    // the extraction is byte-identical to the image-free build
    val noImg = PdfGen.build(Seq(prose, prose), flate = true, variant = 1, new Rng(11))
    val withImg = PdfGen.build(Seq(prose, prose), flate = true, variant = 1, new Rng(11), imagePages = Set(1))
    val a = PdfExtractor.extract(noImg).toOption.get
    val b = PdfExtractor.extract(withImg).toOption.get
    assert(b.pages.map(_.has_images) == Seq(false, true))
    assert(a.text == b.text)
  }
  test("truncated pdf fails cleanly") {
    val full = PdfGen.build(Seq(Seq(PLine(72, 720, "x"))), flate = false, variant = 0, new Rng(8))
    val cut = java.util.Arrays.copyOf(full, full.length / 2)
    assert(PdfExtractor.extract(cut).isLeft)
  }
  test("non-pdf bytes rejected") {
    assert(PdfExtractor.extract("not a pdf".getBytes).isLeft)
  }
}

class FormatSniffSpec extends AnyFunSuite {
  test("dispatch table") {
    assert(FormatSniff.sniff("%PDF-1.4\n".getBytes) == "pdf")
    assert(FormatSniff.sniff("<!DOCTYPE html><html>".getBytes) == "html")
    assert(FormatSniff.sniff("  <HTML><body>".getBytes) == "html")
    assert(FormatSniff.sniff("just words".getBytes) == "txt")
    assert(FormatSniff.sniff(Array.emptyByteArray) == "empty")
    assert(FormatSniff.sniff(Array[Byte](0, 1, 2, 3)) == "binary")
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++ "text".getBytes(StandardCharsets.UTF_16LE)
    assert(FormatSniff.sniff(le) == "txt")
  }
}

class C4LineCleanSpec extends AnyFunSuite {
  import graft.functions.TextStats

  test("c4LineClean: each rule fires independently; cleaned string rebuilt exactly") {
    val page = Seq(
      "good line stays here.",   // kept
      "no terminal punct",       // dropped: no terminal punctuation
      "too few.",                // dropped: < 3 words
      "enable JavaScript to view.", // dropped: javascript (case-insensitive)
      "  padded line kept too.  ",  // kept after trim
      "quoted line also fine\""  // kept: quote is terminal
    ).mkString("\n")
    val r = TextStats.c4LineClean(page)
    assert(r.nLines == 6 && r.nKept == 3)
    assert(r.cleaned ==
      "good line stays here.\npadded line kept too.\nquoted line also fine\"")
    assert(r.nKeptWords == 4 + 4 + 4)
  }

  test("c4LineClean: degenerate inputs and minWords gate") {
    assert(TextStats.c4LineClean(null) == TextStats.LineCleanResult("", 0, 0, 0))
    // empty string still splits to one (empty) line, kept count 0
    assert(TextStats.c4LineClean("") == TextStats.LineCleanResult("", 1, 0, 0))
    // minWords is a parameter, not a constant
    assert(TextStats.c4LineClean("one two.", minWords = 2).nKept == 1)
    assert(TextStats.c4LineClean("one two.", minWords = 3).nKept == 0)
  }
}
