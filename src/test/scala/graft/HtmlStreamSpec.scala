package graft

import graft.fixtures.{CorpusGen, HtmlGen, Rng}
import graft.functions.Charsets
import graft.functions.html.{HtmlExtractor, HtmlStream}
import org.scalatest.funsuite.AnyFunSuite

/** The streaming (SAX, no-DOM) extractor must be observationally identical
  * to the DOM reference implementation — over the whole synthetic corpus and
  * over the adversarial unit snippets.
  */
class HtmlStreamSpec extends AnyFunSuite {

  test("streaming == DOM over 3000 generated html payloads") {
    var checked = 0
    (0L until 3000L).foreach { id =>
      val p = CorpusGen.page(id)
      if (graft.functions.FormatSniff.sniff(p.html) == "html") {
        val s = Charsets.decode(p.html, isHtml = true).text
        val dom = HtmlExtractor.extract(s)
        val str = HtmlStream.extract(s)
        assert(str == dom, s"id=$id diverged")
        checked += 1
      }
    }
    assert(checked > 1000)
  }

  test("streaming == DOM on adversarial snippets") {
    val cases = Seq(
      "<body><p>one<p>two<p>three</body>",
      "<ul><li>a<li>b<li>c</ul>",
      "<table><tr><td>c1<td>c2<tr><td>c3</table>",
      "<ul><li>a<ul><li>a1<li>a2</ul><li>b</ul>",
      "<div>x</span></p></div>",
      "<html><head><title>T</title><style>p{}</style></head><body><p>x</p></body></html>",
      "<body><nav><a href='/'>Home</a></nav><p>real</p><footer>f</footer></body>",
      "<div class=\"sidebar\"><p>no</p></div><p>yes</p>",
      "<div>before<iframe><p>x</p></iframe>after</div>",
      "<p>a<br>b</p><hr><p>c</p>",
      "<div><a href=1>One</a> <a href=2>Two</a> <a href=3>Three</a></div><div>lots of plain words here with <a>one</a></div>",
      "<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>",
      "<select><option>A</option><option>B</option></select><p>keep</p>",
      "<div><textarea>raw &amp; <b>not-a-tag</b></textarea><p>after</p></div>",
      "<p>a</p><textarea>unterminated tail with <fake>",
      "<form><textarea>inside boiler form</textarea></form><p>keep</p>",
      "<textarea>&#x110000; invalid ref stays literal</textarea>",
      "text with no tags at all",
      "",
      // printable-ASCII runs (copied in bulk by the stream path) broken by
      // entities, NBSP, U+2003, U+001C-U+001F and link boundaries
      "<p>fish&amp;chips&amp;&amp;peas &amp; more&amp</p>",
      "<p>one\u00A0two\u00A0\u00A0three &nbsp;four&nbsp;</p>",
      "<p>em\u2003space\u2003\u2003run \u2003 end\u2003</p>",
      "<p>a\u001Cb\u001Dc\u001Ed\u001Fe \u001C\u001F f</p>",
      "<p>tab\tline\nfeed\rret\u000Bvt\fff</p>",
      "<p>caf\u00E9 na\u00EFve \u65E5\u672C &#x1F600;x&#233;y</p>",
      "<div>plain words before <a href=1>linked&amp;text\u00A0here</a> and after</div>",
      "<div><a href=1>One</a><a href=2>Two</a>\u2003<a href=3>Three&nbsp;</a> tail text</div>",
      "<p><a>x</a> <a> y </a>z</p><p> <a>only link text</a> </p>"
    )
    cases.foreach { html =>
      assert(HtmlStream.extract(html) == HtmlExtractor.extract(html), s"diverged on: $html")
    }
    // pinned texts: the DOM path shares the whitespace test, so it alone
    // cannot tell a wrong one
    def text(html: String) = HtmlStream.extract(html).text
    assert(text("<p>fish&amp;chips&amp;&amp;peas &amp; more&amp</p>") == "fish&chips&&peas & more&amp")
    assert(text("<p>one\u00A0two\u00A0\u00A0three &nbsp;four&nbsp;</p>") == "one two three four")
    assert(text("<p>em\u2003space\u2003\u2003run \u2003 end\u2003</p>") == "em space run end")
    assert(text("<p>a\u001Cb\u001Dc\u001Ed\u001Fe \u001C\u001F f</p>") == "a b c d e f")
  }

  test("streaming == DOM on random adversarial pages") {
    (0 until 300).foreach { i =>
      val r = new Rng(1000L + i)
      val gp = HtmlGen.adversarial(r, 0)
      assert(HtmlStream.extract(gp.html) == HtmlExtractor.extract(gp.html), s"seed ${1000 + i}")
    }
  }
}
