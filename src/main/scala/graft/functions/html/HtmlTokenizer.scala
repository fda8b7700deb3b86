package graft.functions.html

import scala.collection.mutable.ArrayBuffer

/** Streaming HTML tokenizer written from scratch (north-rule flagship kernel,
  * SURVEY.md §2.7 F1). Single forward pass, no backtracking, bounded state —
  * suitable for giant pages. Behavioral contract mirrors what the reference
  * gets from BeautifulSoup's html.parser (enhanced_extract.py:486-498):
  * script/style subtrees discarded, comments/doctype/CDATA dropped, entities
  * decoded, a bare '<' that opens no tag is literal text.
  */
object HtmlTokenizer {

  sealed trait Tok
  final case class StartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean) extends Tok
  final case class EndTag(name: String) extends Tok
  final case class Text(text: String) extends Tok // entity-decoded

  /** Elements whose content is raw text (never parsed as markup).
    * script/style content is DISCARDED (BeautifulSoup decompose() analog);
    * textarea is RCDATA — its content IS text (html.parser's get_text
    * includes it), emitted as a normal text region so entities decode.
    */
  private val rawText = Set("script", "style", "textarea")
  private val rawTextKept = "textarea"

  def tokenize(html: String): ArrayBuffer[Tok] = {
    val out = new ArrayBuffer[Tok](64)
    tokenizeTo(html, out += _)
    out
  }

  /** Lowest-allocation interface: text arrives as RAW (entity-undecoded)
    * regions of the source string — zero copies in the tokenizer. boundary()
    * marks any markup between two text regions (tags, comments, doctype),
    * i.e. exactly where the old token stream would have split text nodes.
    */
  trait Sink {
    def text(src: String, start: Int, end: Int): Unit
    def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit
    def endTag(name: String): Unit
    def boundary(): Unit

    /** Raw (unparsed, entity-undecoded) span of a raw-text element
      * (script/style/textarea), between its start tag and its close tag
      * (or EOF when unclosed). Default no-op — the text-extraction path
      * keeps discarding script/style; structured-data consumers
      * (StructuredData's JSON-LD capture) override it.
      */
    def rawContent(name: String, src: String, start: Int, end: Int): Unit = ()
  }

  /** Streaming form: one callback per token, no token buffer — the DOM
    * builder consumes this directly.
    */
  def tokenizeTo(html: String, out: Tok => Unit): Unit = {
    val sink = new Sink {
      private val textBuf = new StringBuilder
      def flushText(): Unit =
        if (textBuf.nonEmpty) { out(Text(Entities.decode(textBuf.toString))); textBuf.clear() }
      def text(src: String, s: Int, e: Int): Unit = textBuf.append(src.substring(s, e))
      def startTag(n: String, a: List[(String, String)], sc: Boolean): Unit = { flushText(); out(StartTag(n, a, sc)) }
      def endTag(n: String): Unit = { flushText(); out(EndTag(n)) }
      def boundary(): Unit = flushText()
    }
    tokenizeSink(html, sink)
    sink.flushText() // trailing text with no closing markup
  }

  def tokenizeSink(html: String, out: Sink): Unit = {
    val n = html.length
    var i = 0
    var textStart = -1
    @inline def openText(at: Int): Unit = if (textStart < 0) textStart = at
    // text at `at` runs at least to the next '<', the only char that can
    // end it: open it and return where markup may start
    @inline def textRun(at: Int): Int = {
      openText(at)
      val lt = html.indexOf('<', at + 1)
      if (lt < 0) n else lt
    }
    def flushText(upTo: Int): Unit =
      if (textStart >= 0) { if (upTo > textStart) out.text(html, textStart, upTo); textStart = -1 }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText(i); out.boundary()
          if (html.startsWith("<!--", i)) {
            val e = html.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else if (html.startsWith("<![CDATA[", i)) {
            val e = html.indexOf("]]>", i + 9)
            i = if (e < 0) n else e + 3
          } else { // doctype etc.
            val e = html.indexOf('>', i + 2)
            i = if (e < 0) n else e + 1
          }
        } else if (c1 == '?') {
          flushText(i); out.boundary()
          val e = html.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else if (c1 == '/') {
          if (i + 2 < n && isNameStart(html.charAt(i + 2))) {
            flushText(i)
            var j = i + 2
            val s = j
            while (j < n && isNameChar(html.charAt(j))) j += 1
            val name = html.substring(s, j).toLowerCase
            while (j < n && html.charAt(j) != '>') j += 1
            out.endTag(name)
            i = if (j < n) j + 1 else n
          } else i = textRun(i)
        } else if (isNameStart(c1)) {
          flushText(i)
          val (tok, next) = parseStartTag(html, i)
          out.startTag(tok.name, tok.attrs, tok.selfClosing)
          i = next
          if (!tok.selfClosing && rawText(tok.name)) {
            // consume raw content up to matching close tag (case-insensitive)
            val close = "</" + tok.name
            var j = i
            var found = -1
            while (found < 0 && j >= 0) {
              j = indexOfIgnoreCase(html, close, j)
              if (j < 0) found = n
              else {
                val after = j + close.length
                if (after >= n || html.charAt(after) == '>' || TextUtil.isAsciiSpace(html.charAt(after))) found = j
                else j += 1
              }
            }
            if (found >= n) {
              if (n > i) out.rawContent(tok.name, html, i, n)
              if (tok.name == rawTextKept && n > i) out.text(html, i, n)
              i = n
            } else {
              if (found > i) out.rawContent(tok.name, html, i, found)
              if (tok.name == rawTextKept && found > i) out.text(html, i, found)
              val e = html.indexOf('>', found)
              out.endTag(tok.name)
              i = if (e < 0) n else e + 1
            }
          }
        } else i = textRun(i)
      } else i = textRun(i)
    }
    flushText(n)
  }

  private def parseStartTag(html: String, start: Int): (StartTag, Int) = {
    val n = html.length
    var i = start + 1
    val s = i
    while (i < n && isNameChar(html.charAt(i))) i += 1
    val name = html.substring(s, i).toLowerCase
    var attrs: List[(String, String)] = Nil
    var selfClosing = false
    var done = false
    while (!done && i < n) {
      while (i < n && TextUtil.isAsciiSpace(html.charAt(i))) i += 1
      if (i >= n) done = true
      else html.charAt(i) match {
        case '>' => i += 1; done = true
        case '/' =>
          if (i + 1 < n && html.charAt(i + 1) == '>') { selfClosing = true; i += 2; done = true }
          else i += 1
        case _ =>
          val as = i
          while (i < n && !TextUtil.isAsciiSpace(html.charAt(i)) &&
                 html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val aname = html.substring(as, i).toLowerCase
          while (i < n && TextUtil.isAsciiSpace(html.charAt(i))) i += 1
          var avalue = ""
          if (i < n && html.charAt(i) == '=') {
            i += 1
            while (i < n && TextUtil.isAsciiSpace(html.charAt(i))) i += 1
            if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
              val q = html.charAt(i); i += 1
              val vs = i
              while (i < n && html.charAt(i) != q) i += 1
              avalue = html.substring(vs, i)
              if (i < n) i += 1
            } else {
              val vs = i
              while (i < n && !TextUtil.isAsciiSpace(html.charAt(i)) && html.charAt(i) != '>') i += 1
              avalue = html.substring(vs, i)
            }
          }
          if (aname.nonEmpty) attrs = (aname -> Entities.decode(avalue)) :: attrs
      }
    }
    (StartTag(name, attrs.reverse, selfClosing), i)
  }

  @inline private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val n = hay.length
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (Character.toLowerCase(hay.charAt(i + j)) != Character.toLowerCase(needle.charAt(j))) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }
}

private[html] object TextUtil {
  @inline def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
}

/** HTML entity decoding: a fixed named map + numeric (&#dd; / &#xhh;) forms.
  * Unknown entities pass through verbatim (html.parser convert_charrefs
  * behavior for unterminated/unknown refs).
  */
object Entities {
  private val named: Map[String, Int] = Map[String, String](
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u00A0", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·", "bull" -> "•",
    "times" -> "×", "deg" -> "°", "eacute" -> "é", "egrave" -> "è",
    "agrave" -> "à", "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä",
    "szlig" -> "ß", "ccedil" -> "ç", "ntilde" -> "ñ", "pound" -> "£",
    "euro" -> "€", "sect" -> "§"
  ).map { case (k, v) => k -> v.codePointAt(0) }

  /** Decode a character reference starting at src(i)=='&' (i < end).
    * Returns (nextIndex.toLong << 32) | codepoint when a valid reference is
    * found, or -1L when the ampersand is literal. The `;` is searched for
    * in the next 12 chars only, so text with many `&` decodes in linear
    * time. Numeric refs outside the valid codepoint range (`&#x110000;`,
    * `&#-1;`) stay literal.
    */
  def decodeAt(src: String, i: Int, end: Int): Long = {
    val lim = math.min(end, i + 13)
    var semi = i + 1
    while (semi < lim && src.charAt(semi) != ';') semi += 1
    if (semi >= lim) return -1L
    val body = src.substring(i + 1, semi)
    val next = (semi + 1).toLong << 32
    if (body.startsWith("#x") || body.startsWith("#X")) {
      try {
        val cp = Integer.parseInt(body.substring(2), 16)
        if (Character.isValidCodePoint(cp)) next | cp.toLong else -1L
      } catch { case _: Exception => -1L }
    } else if (body.startsWith("#")) {
      try {
        val cp = Integer.parseInt(body.substring(1))
        if (Character.isValidCodePoint(cp)) next | cp.toLong else -1L
      } catch { case _: Exception => -1L }
    } else named.get(body) match {
      case Some(cp) => next | cp.toLong
      case None     => -1L
    }
  }

  /** Every character reference in `s` decoded, by [[decodeAt]]. */
  def decode(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (amp >= 0) {
      sb.append(s, i, amp)
      val r = decodeAt(s, amp, s.length)
      if (r < 0) { sb.append('&'); i = amp + 1 }
      else { sb.appendCodePoint(r.toInt); i = (r >>> 32).toInt }
      amp = s.indexOf('&', i)
    }
    sb.append(s, i, s.length).toString
  }
}
