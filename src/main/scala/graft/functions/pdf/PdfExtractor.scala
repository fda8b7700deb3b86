package graft.functions.pdf

import graft.functions.{Codecs, TextAssembly}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** From-scratch PDF text-layer extraction. Covers the constrained subset our
  * corpus generator emits (SURVEY.md §2.7 F3, §7.3) AND the real-world
  * classic-xref profile produced by Canva and Skia/Chrome print-to-PDF
  * (verified live against the reference's own `input_files/` PDFs,
  * ReferenceParitySpec):
  *
  *  - object table by `N 0 obj` scan with stream-interior guard; direct or
  *    indirect `/Length`, `endstream`-boundary fallback; /FlateDecode
  *  - page tree (`/Kids`), `/Contents` as a single ref or an array of refs,
  *    `/Resources` inline or indirect, inherited from the pages node
  *  - graphics state: `q`/`Q`/`cm` CTM stack; text matrices `Tm`/`Td`/`TD`/
  *    `T*`/`TL` composed through the CTM, so flipped/scaled coordinate
  *    systems (`0.24 0 0 -0.24 0 850 cm` + `1 0 0 -1 ...Tm`) cluster into
  *    the right device-space lines
  *  - Form XObjects (`Do`) executed recursively with their own resources
  *    and `/Matrix`, depth-capped
  *  - fonts: simple (Type1/TrueType, latin-1 passthrough + optional
  *    /ToUnicode) and composite Type0/Identity-H CID fonts — 2-byte codes
  *    decoded through the /ToUnicode CMap (bfchar + bfrange, array and
  *    increment forms), exact glyph advances from the descendant font's
  *    /W + /DW widths
  *  - strings: literal (escapes, octal, balanced parens — may carry binary
  *    2-byte CIDs) and hex `<...>`; inline dict operands (`BDC`) skipped
  *
  * Reading order is reconstructed by a recursive x-y cut over positioned
  * runs (column split on x-start gaps ≥ 100 device units, lines clustered on
  * |Δy| ≤ 2, top-to-bottom, left column first), the deterministic analog of
  * the reference's per-page page.get_text() + "[Page N]" assembly
  * (enhanced_extract.py:275-313). Within a line, runs are joined with a
  * space only across a real gap (> 0.35 em), so per-glyph emission (one Tj
  * per glyph, the Canva/Skia shape) reassembles into words exactly.
  * Anything outside the subset → Left(reason) → status='failed', text
  * placeholder, mirroring the reference's error rows
  * (enhanced_extract.py:617).
  */
object PdfExtractor {

  /** A positioned text run in DEVICE space: origin (x,y), estimated width w,
    * device-space font size fs.
    */
  final case class Run(x: Double, y: Double, w: Double, fs: Double, text: String)

  /** F4 per-page content analysis (combined_pipeline.py:271-291): has_text,
    * has_images (the page's /XObject resources reference an object whose
    * dict is /Subtype /Image), line count, and the reference's verbatim
    * table heuristic — page text containing a TAB or more than five '|'
    * characters.
    */
  final case class PageFeature(
      page: Int,
      has_text: Boolean,
      has_images: Boolean,
      n_lines: Int,
      has_tables: Boolean
  )

  final case class Result(text: String, nLines: Int, pages: Seq[PageFeature])

  private val rootRe: Regex = """/Root\s+(\d+)\s+0\s+R""".r
  private val pagesRe: Regex = """/Pages\s+(\d+)\s+0\s+R""".r
  private val kidsRe: Regex = """/Kids\s*\[([^\]]*)\]""".r
  private val refRe: Regex = """(\d+)\s+0\s+R""".r
  private val lengthDirectRe: Regex = """/Length\s+(\d+)(?![\s]*0[\s]+R)""".r
  private val lengthRefRe: Regex = """/Length\s+(\d+)\s+0\s+R""".r
  private val xobjRe: Regex = """/XObject\s*<<([^>]*)>>""".r
  private val imageSubtypeRe: Regex = """/Subtype\s*/Image""".r

  /** Content bytes interpreted per document: every page's content streams,
    * plus a form's stream each time a page draws it. Past it the document
    * fails with [[ContentOverBudgetError]]. A count, not a timer, so rows
    * stay reproducible.
    */
  final val MaxContentBytes: Int = 16 << 20
  final val ContentOverBudgetError = s"content streams over ${MaxContentBytes >> 20} MiB budget"
  private final class ContentOverBudget extends RuntimeException(ContentOverBudgetError, null, false, false)

  def extract(bytes: Array[Byte]): Either[String, Result] =
    try extractUnsafe(bytes)
    catch {
      case _: Codecs.OverCapException => Left(Codecs.OverCapError)
      case _: ContentOverBudget       => Left(ContentOverBudgetError)
      case e: Exception               => Left(s"pdf parse error: ${e.getClass.getSimpleName}")
    }

  // ---- affine matrices (row-vector convention: p' = p · M) ---------------

  private final case class Mat(a: Double, b: Double, c: Double, d: Double, e: Double, f: Double) {
    /** this THEN n: p·(this·n) */
    def *(n: Mat): Mat = Mat(
      a * n.a + b * n.c, a * n.b + b * n.d,
      c * n.a + d * n.c, c * n.b + d * n.d,
      e * n.a + f * n.c + n.e, e * n.b + f * n.d + n.f)
    def apply(x: Double, y: Double): (Double, Double) =
      (a * x + c * y + e, b * x + d * y + f)
    /** device-space length of a unit vertical text-space vector — the font
      * size scale factor for line clustering and gap thresholds
      */
    def yScale: Double = math.hypot(c, d)
  }
  private val Id = Mat(1, 0, 0, 1, 0, 0)
  private def translate(tx: Double, ty: Double): Mat = Mat(1, 0, 0, 1, tx, ty)

  // ---- fonts -------------------------------------------------------------

  /** Decoding + metrics for one font resource. `twoByte` = composite
    * Type0/Identity-H (2-byte codes); `uni` maps code → unicode string
    * (from /ToUnicode); `widths`/`dw` are CID advances in 1/1000 em.
    */
  private final case class PdfFont(
      twoByte: Boolean,
      uni: Map[Int, String],
      widths: Map[Int, Int],
      dw: Int) {

    /** (decoded text, advance in 1/1000 em) for a raw latin-1 string. */
    def decode(raw: String): (String, Double) = {
      if (twoByte) {
        val sb = new StringBuilder(raw.length / 2)
        var w = 0.0
        var i = 0
        while (i + 1 < raw.length) {
          val code = ((raw.charAt(i) & 0xFF) << 8) | (raw.charAt(i + 1) & 0xFF)
          uni.get(code).foreach(sb.append)
          w += widths.getOrElse(code, dw)
          i += 2
        }
        (sb.toString, w)
      } else {
        val sb = new StringBuilder(raw.length)
        var w = 0.0
        var i = 0
        while (i < raw.length) {
          val ch = raw.charAt(i)
          uni.get(ch.toInt) match {
            case Some(u) => sb.append(u)
            case None    => sb.append(ch)
          }
          w += PdfFont.classWidth(ch)
          i += 1
        }
        (sb.toString, w)
      }
    }
  }

  private object PdfFont {
    /** No font resource resolved: latin-1 passthrough with the legacy
      * 0.5 em/char advance estimate (keeps the constrained-subset behavior
      * bit-identical — generator PDFs carry no font metrics).
      */
    val Passthrough: PdfFont = PdfFont(twoByte = false, Map.empty, Map.empty, 500)

    /** Rough per-class advances for simple fonts without width tables. */
    def classWidth(ch: Char): Int =
      if (ch == ' ') 500 // legacy estimate: uniform 0.5 em (subset fixtures)
      else 500
  }

  // ---- document object table ---------------------------------------------

  /** Every object header `N 0 obj` in `s`, as (start, digits of N, end):
    * the leftmost, non-overlapping matches of the regex
    * `(\d+)\s+0\s+obj` (Java's ASCII `\d` and `\s`), found without one.
    * Each `obj` is matched backwards: a space run, `0`, a space run, then
    * the digit run before it, stopping at the previous match's end. A
    * regex match could start nowhere else: its digit and space runs are
    * maximal (no backtracking can help), and it contains no other `obj`.
    */
  private[pdf] def objHeaders(s: String): ArrayBuffer[(Int, String, Int)] = {
    val out = new ArrayBuffer[(Int, String, Int)]
    var from = 0 // end of the last match: the next one starts at or after it
    var q = s.indexOf("obj")
    while (q >= 0) {
      val zero = spacesBefore(s, q, from) - 1
      if (zero < q - 1 && zero >= from && s.charAt(zero) == '0') {
        val numEnd = spacesBefore(s, zero, from)
        if (numEnd < zero) {
          var start = numEnd
          while (start > from && isAsciiDigit(s.charAt(start - 1))) start -= 1
          if (start < numEnd) {
            out += ((start, s.substring(start, numEnd), q + 3))
            from = q + 3
          }
        }
      }
      q = s.indexOf("obj", q + 1)
    }
    out
  }

  /** The start of the run of regex `\s` chars that ends at `end`, not
    * before `from`.
    */
  private def spacesBefore(s: String, end: Int, from: Int): Int = {
    var i = end
    while (i > from && isRegexSpace(s.charAt(i - 1))) i -= 1
    i
  }

  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  private final class Doc(val s: String, val bytes: Array[Byte]) {
    /** objNum → (dict/body text, (start, length) of its stream data if any) */
    val objs = scala.collection.mutable.HashMap.empty[Int, (String, Option[(Int, Int)])]
    private val decoded = scala.collection.mutable.HashMap.empty[Int, Option[Array[Byte]]]
    private var budget = Codecs.MaxInflatedBytes.toLong // every stream inflated counts
    private var contentLeft = MaxContentBytes.toLong

    /** Spends `n` bytes of the document's content budget. */
    def interpret(n: Long): Unit = {
      contentLeft -= n
      if (contentLeft < 0) throw new ContentOverBudget
    }
    private val bodySpans = scala.collection.mutable.HashMap.empty[Int, (Int, Int, Int)] // bodyStart, streamKw(-1), endObj

    // pass 1: spans, skipping matches that fall inside a previous object's
    // stream (binary font/image payloads legitimately contain "N 0 obj")
    {
      var lastEnd = -1
      for ((start, digits, end) <- objHeaders(s)) {
        if (start >= lastEnd) {
          val num = digits.toInt
          val bodyStart = end
          val endObj = s.indexOf("endobj", bodyStart)
          if (endObj > 0) {
            val streamKw = s.indexOf("stream", bodyStart)
            bodySpans(num) = (bodyStart, if (streamKw >= 0 && streamKw < endObj) streamKw else -1, endObj)
            lastEnd = endObj
          }
        }
      }
    }

    /** An object whose body is a bare integer (indirect /Length target). */
    private def intObj(num: Int): Option[Int] =
      bodySpans.get(num).flatMap { case (b, _, e) =>
        val t = s.substring(b, e).trim
        if (t.nonEmpty && t.forall(_.isDigit)) Some(t.toInt) else None
      }

    // pass 2: materialize dicts + stream spans
    for ((num, (bodyStart, streamKw, endObj)) <- bodySpans) {
      if (streamKw < 0) objs(num) = (s.substring(bodyStart, endObj), None)
      else {
        val dict = s.substring(bodyStart, streamKw)
        var dataStart = streamKw + "stream".length
        if (dataStart < s.length && s.charAt(dataStart) == '\r') dataStart += 1
        if (dataStart < s.length && s.charAt(dataStart) == '\n') dataStart += 1
        val declared = lengthDirectRe.findFirstMatchIn(dict).map(_.group(1).toInt)
          .orElse(lengthRefRe.findFirstMatchIn(dict).map(_.group(1).toInt).flatMap(intObj))
        // trust the declared length only when "endstream" actually follows;
        // else recover the span from the endstream keyword itself
        val len = declared.filter { l =>
          val end = dataStart + l
          end <= bytes.length && {
            var i = end
            while (i < s.length && (s.charAt(i) == '\r' || s.charAt(i) == '\n' || s.charAt(i) == ' ')) i += 1
            s.startsWith("endstream", i)
          }
        }.getOrElse {
          val es = s.indexOf("endstream", dataStart)
          if (es < 0) -1
          else {
            var end = es
            if (end > dataStart && s.charAt(end - 1) == '\n') end -= 1
            if (end > dataStart && s.charAt(end - 1) == '\r') end -= 1
            end - dataStart
          }
        }
        objs(num) = (dict, if (len >= 0 && dataStart + len <= bytes.length) Some((dataStart, len)) else None)
      }
    }

    // pass 3: expand object streams (/Type /ObjStm, PDF 1.5+) — the modern
    // profile stores most non-stream objects COMPRESSED inside these, with
    // a header of N (objnum, offset) integer pairs and bodies at
    // /First + offset. The xref stream itself is never needed: the byte
    // scan finds the ObjStm containers, and this pass surfaces their
    // members. Top-level objects win on collision (incremental updates
    // append replacements at top level).
    {
      val members = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      for ((num, (dictText, _)) <- objs if dictText.contains("/ObjStm")) {
        stream(num).foreach { data =>
          val body = new String(data, StandardCharsets.ISO_8859_1)
          val n = valueAfter(dictText, "N").flatMap(_.trim.toIntOption).getOrElse(0)
          val first = valueAfter(dictText, "First").flatMap(_.trim.toIntOption).getOrElse(0)
          if (n > 0 && first > 0 && first <= body.length) {
            val headerInts = """\d+""".r.findAllIn(body.substring(0, first)).map(_.toInt).toArray
            if (headerInts.length >= 2 * n) {
              var k = 0
              while (k < n) {
                val objNum = headerInts(2 * k)
                val off = headerInts(2 * k + 1)
                val start = first + off
                val end = if (k + 1 < n) math.min(body.length, first + headerInts(2 * k + 3))
                else body.length
                if (start >= 0 && start <= end) members += objNum -> body.substring(start, end)
                k += 1
              }
            }
          }
        }
      }
      for ((num, body) <- members if !objs.contains(num)) objs(num) = (body, None)
    }

    def dict(num: Int): Option[String] = objs.get(num).map(_._1)

    /** Stream data, /FlateDecode inflated on first read: only content,
      * Form XObject, /ToUnicode and /ObjStm streams are read, so images and
      * fonts cost nothing. Cut short: what inflated; corrupt: the raw bytes.
      */
    def stream(num: Int): Option[Array[Byte]] = decoded.getOrElseUpdate(num,
      objs.get(num).flatMap { case (dict, span) =>
        span.map { case (start, len) =>
          def raw = java.util.Arrays.copyOfRange(bytes, start, start + len)
          if (!dict.contains("/FlateDecode")) raw
          else try Codecs.inflate(Codecs.zlib(bytes, start, len), budget, math.min(len.toLong * 4, budget).toInt) match {
            case Some(read) => budget -= read.bytes.length; read.bytes
            case None       => throw new Codecs.OverCapException
          } catch { case _: java.io.IOException => raw }
        }
      })
  }

  // ---- small dict-value helpers ------------------------------------------

  /** Index just past the `>>` matching the `<<` at `i` (skips nested dicts,
    * literal and hex strings).
    */
  private def dictEnd(s: String, i: Int): Int = {
    var p = i + 2
    var depth = 1
    val n = s.length
    while (p < n && depth > 0) {
      val c = s.charAt(p)
      if (c == '<' && p + 1 < n && s.charAt(p + 1) == '<') { depth += 1; p += 2 }
      else if (c == '>' && p + 1 < n && s.charAt(p + 1) == '>') { depth -= 1; p += 2 }
      else if (c == '(') p = parseString(s, p)._2
      else if (c == '<') { val e = s.indexOf('>', p + 1); p = if (e < 0) n else e + 1 }
      else p += 1
    }
    p
  }

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\n' || s.charAt(i) == '\r' || s.charAt(i) == '\t')) i += 1
    i
  }

  /** The raw text of the value after `/key` in `dict`: an inline dict, an
    * array, or the token run up to the next delimiter.
    */
  private def valueAfter(dict: String, key: String): Option[String] = {
    var from = 0
    while (true) {
      val k = dict.indexOf("/" + key, from)
      if (k < 0) return None
      val after = k + key.length + 1
      // exact name match: next char must be a delimiter
      if (after >= dict.length || " \n\r\t/<>[](".contains(dict.charAt(after))) {
        val v = skipWs(dict, after)
        if (v >= dict.length) return None
        val c = dict.charAt(v)
        if (c == '<' && v + 1 < dict.length && dict.charAt(v + 1) == '<')
          return Some(dict.substring(v, dictEnd(dict, v)))
        if (c == '[') {
          var depth = 0; var p = v
          while (p < dict.length) {
            val ch = dict.charAt(p)
            if (ch == '[') depth += 1
            else if (ch == ']') { depth -= 1; if (depth == 0) return Some(dict.substring(v, p + 1)) }
            else if (ch == '(') { p = parseString(dict, p)._2 - 1 }
            p += 1
          }
          return Some(dict.substring(v))
        }
        // token run: e.g. "7 0 R", "/Identity-H", "1652"
        var p = v
        var tokens = 0
        val sb = new StringBuilder
        while (p < dict.length && tokens < 3 && dict.charAt(p) != '/' && dict.charAt(p) != '<' &&
          dict.charAt(p) != '[' && dict.charAt(p) != '>') {
          if (dict.charAt(p) == ' ' || dict.charAt(p) == '\n' || dict.charAt(p) == '\r') tokens += 1
          sb.append(dict.charAt(p)); p += 1
        }
        if (c == '/') { // name value
          var q = v + 1
          val nb = new StringBuilder("/")
          while (q < dict.length && !" \n\r\t/<>[]()".contains(dict.charAt(q))) { nb.append(dict.charAt(q)); q += 1 }
          return Some(nb.toString)
        }
        return Some(sb.toString.trim)
      }
      from = k + 1
    }
    None
  }

  private def refValue(v: String): Option[Int] =
    """^(\d+)\s+0\s+R""".r.findFirstMatchIn(v).map(_.group(1).toInt)

  /** Resolve `/key` to a dict body: inline `<<...>>` or an indirect ref. */
  private def subDict(doc: Doc, dict: String, key: String): Option[String] =
    valueAfter(dict, key).flatMap { v =>
      if (v.startsWith("<<")) Some(v)
      else refValue(v).flatMap(doc.dict)
    }

  /** All refs in `/key`'s value (single ref or array of refs). */
  private def refsOf(dict: String, key: String): List[Int] =
    valueAfter(dict, key).toList.flatMap(v => refRe.findAllMatchIn(v).map(_.group(1).toInt).toList)

  // ---- ToUnicode CMap + CID widths ---------------------------------------

  private val hexTokRe: Regex = """<([0-9A-Fa-f]+)>""".r

  private def utf16FromHex(hex: String): String = {
    val padded = if (hex.length % 4 == 0) hex else hex + "0" * (4 - hex.length % 4)
    val sb = new StringBuilder(padded.length / 4)
    var i = 0
    while (i + 3 < padded.length) {
      sb.append(Integer.parseInt(padded.substring(i, i + 4), 16).toChar)
      i += 4
    }
    sb.toString
  }

  /** Parse a /ToUnicode CMap stream: bfchar + bfrange (increment and array
    * destination forms). Range sizes are capped so a hostile CMap cannot
    * expand into a giant map.
    */
  private[pdf] def parseCMap(cmap: String): Map[Int, String] = {
    val out = scala.collection.mutable.HashMap.empty[Int, String]
    var from = 0
    while ({ val b = cmap.indexOf("beginbfchar", from); b >= 0 && out.size < (1 << 17) }) {
      val b = cmap.indexOf("beginbfchar", from)
      val e = cmap.indexOf("endbfchar", b)
      if (e < 0) { from = cmap.length } else {
        val toks = hexTokRe.findAllMatchIn(cmap.substring(b, e)).map(_.group(1)).toList
        toks.grouped(2).foreach {
          case List(src, dst) => out(Integer.parseInt(src, 16)) = utf16FromHex(dst)
          case _              => ()
        }
        from = e + 9
      }
    }
    from = 0
    while ({ val b = cmap.indexOf("beginbfrange", from); b >= 0 && out.size < (1 << 17) }) {
      val b = cmap.indexOf("beginbfrange", from)
      val e = cmap.indexOf("endbfrange", b)
      if (e < 0) { from = cmap.length } else {
        val body = cmap.substring(b + 12, e)
        // walk entries: <lo> <hi> (<dst> | [<d1> <d2> ...])
        var p = 0
        def nextHex(): Option[(String, Int)] = {
          val m = hexTokRe.findFirstMatchIn(body.substring(p))
          m.map(mm => (mm.group(1), p + mm.end))
        }
        var done = false
        while (!done) {
          val lo = nextHex()
          lo match {
            case None => done = true
            case Some((loHex, p1)) =>
              p = p1
              nextHex() match {
                case None => done = true
                case Some((hiHex, p2)) =>
                  p = p2
                  // array destination or scalar?
                  val q = skipWs(body, p)
                  if (q < body.length && body.charAt(q) == '[') {
                    val close = body.indexOf(']', q)
                    val arr = hexTokRe.findAllMatchIn(body.substring(q, if (close < 0) body.length else close))
                      .map(_.group(1)).toList
                    val lo0 = Integer.parseInt(loHex, 16)
                    arr.zipWithIndex.foreach { case (h, k) => out(lo0 + k) = utf16FromHex(h) }
                    p = if (close < 0) body.length else close + 1
                  } else nextHex() match {
                    case None => done = true
                    case Some((dstHex, p3)) =>
                      p = p3
                      val lo0 = Integer.parseInt(loHex, 16)
                      val hi0 = Integer.parseInt(hiHex, 16)
                      if (hi0 >= lo0 && hi0 - lo0 <= 0xFFFF) {
                        val base = utf16FromHex(dstHex)
                        var c = lo0
                        while (c <= hi0 && out.size < (1 << 17)) {
                          if (base.nonEmpty) {
                            val inc = (base.last + (c - lo0)).toChar
                            out(c) = base.init + inc
                          }
                          c += 1
                        }
                      }
                  }
              }
          }
        }
        from = e + 10
      }
    }
    out.toMap
  }

  /** Parse a CID /W widths array: `c [w1 w2 ...]` and `cFirst cLast w`. */
  private[pdf] def parseCidWidths(w: String): Map[Int, Int] = {
    val out = scala.collection.mutable.HashMap.empty[Int, Int]
    val toks = """[-\d.]+|\[|\]""".r.findAllIn(w).toList
    var i = 0
    def num(t: String): Int = math.round(t.toDouble).toInt
    while (i < toks.length) {
      if (toks(i) == "[" || toks(i) == "]") i += 1
      else if (i + 1 < toks.length && toks(i + 1) == "[") {
        val c0 = num(toks(i))
        var j = i + 2
        var k = 0
        while (j < toks.length && toks(j) != "]") {
          if (out.size < (1 << 17)) out(c0 + k) = num(toks(j))
          k += 1; j += 1
        }
        i = j + 1
      } else if (i + 2 < toks.length && toks(i + 1) != "[" && toks(i + 2) != "[") {
        val c0 = num(toks(i)); val c1 = num(toks(i + 1)); val ww = num(toks(i + 2))
        if (c1 >= c0 && c1 - c0 <= 0xFFFF) {
          var c = c0
          while (c <= c1 && out.size < (1 << 17)) { out(c) = ww; c += 1 }
        }
        i += 3
      } else i += 1
    }
    out.toMap
  }

  // ---- resources ---------------------------------------------------------

  private final case class Res(
      fonts: Map[String, PdfFont],
      forms: Map[String, (String, Res, Mat)]) // content text, form resources, /Matrix

  /** WinAnsiEncoding (Windows-1252) for the 0x80-0x9F band where it
    * differs from latin-1 — the band real-world simple-font PDFs use for
    * curly quotes, dashes, bullets, ellipses.
    */
  private val WinAnsiHigh: Map[Int, String] = Map(
    0x80 -> "€", 0x82 -> "‚", 0x83 -> "ƒ", 0x84 -> "„",
    0x85 -> "…", 0x86 -> "†", 0x87 -> "‡", 0x88 -> "ˆ",
    0x89 -> "‰", 0x8A -> "Š", 0x8B -> "‹", 0x8C -> "Œ",
    0x8E -> "Ž", 0x91 -> "‘", 0x92 -> "’", 0x93 -> "“",
    0x94 -> "”", 0x95 -> "•", 0x96 -> "–", 0x97 -> "—",
    0x98 -> "˜", 0x99 -> "™", 0x9A -> "š", 0x9B -> "›",
    0x9C -> "œ", 0x9E -> "ž", 0x9F -> "Ÿ")

  /** The Adobe-glyph-list subset /Differences arrays actually use in web
    * documents (punctuation + ligatures; letters resolve structurally).
    */
  private val GlyphNames: Map[String, String] = Map(
    "space" -> " ", "exclam" -> "!", "quotedbl" -> "\"", "numbersign" -> "#",
    "dollar" -> "$", "percent" -> "%", "ampersand" -> "&", "quotesingle" -> "'",
    "parenleft" -> "(", "parenright" -> ")", "asterisk" -> "*", "plus" -> "+",
    "comma" -> ",", "hyphen" -> "-", "period" -> ".", "slash" -> "/",
    "colon" -> ":", "semicolon" -> ";", "less" -> "<", "equal" -> "=",
    "greater" -> ">", "question" -> "?", "at" -> "@", "bracketleft" -> "[",
    "backslash" -> "\\", "bracketright" -> "]", "underscore" -> "_",
    "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "endash" -> "–", "emdash" -> "—", "bullet" -> "•",
    "ellipsis" -> "…", "fi" -> "ﬁ", "fl" -> "ﬂ",
    "dagger" -> "†", "daggerdbl" -> "‡", "trademark" -> "™",
    "copyright" -> "©", "registered" -> "®", "degree" -> "°",
    "euro" -> "€", "sterling" -> "£", "yen" -> "¥",
    "cent" -> "¢", "section" -> "§", "paragraph" -> "¶") ++
    (('a' to 'z') ++ ('A' to 'Z')).map(c => c.toString -> c.toString).toMap ++
    Seq("zero" -> "0", "one" -> "1", "two" -> "2", "three" -> "3", "four" -> "4",
      "five" -> "5", "six" -> "6", "seven" -> "7", "eight" -> "8", "nine" -> "9")

  /** Simple-font byte decoding beyond the ToUnicode CMap: WinAnsiEncoding's
    * 0x80-0x9F band and /Differences name remaps, folded into the `uni`
    * code → string map (ToUnicode entries win — they are the author's
    * explicit statement).
    */
  private def simpleEncodingMap(doc: Doc, fd: String): Map[Int, String] = {
    val enc = valueAfter(fd, "Encoding")
    val encDict = enc.filter(_.startsWith("<<"))
      .orElse(enc.flatMap(refValue).flatMap(doc.dict))
    val base = new scala.collection.mutable.HashMap[Int, String]()
    val winAnsi = enc.contains("/WinAnsiEncoding") ||
      encDict.exists(_.contains("/WinAnsiEncoding"))
    if (winAnsi) WinAnsiHigh.foreach { case (c, s) => base(c) = s }
    // /Differences [ code /name /name ... code /name ... ]
    encDict.flatMap(d => valueAfter(d, "Differences")).foreach { arr =>
      var code = 0
      """(\d+)|/([^\s/\[\]<>()]+)""".r.findAllMatchIn(arr).foreach { m =>
        if (m.group(1) != null) code = m.group(1).toInt
        else {
          GlyphNames.get(m.group(2)).foreach(g => base(code) = g)
          code += 1
        }
      }
    }
    base.toMap
  }

  private def buildFont(doc: Doc, num: Int, cache: scala.collection.mutable.HashMap[Int, PdfFont]): PdfFont =
    cache.getOrElseUpdate(num, {
      doc.dict(num) match {
        case None => PdfFont.Passthrough
        case Some(fd) =>
          val toUni = refsOf(fd, "ToUnicode").headOption
            .flatMap(doc.stream)
            .map(b => parseCMap(new String(b, StandardCharsets.ISO_8859_1)))
            .getOrElse(Map.empty[Int, String])
          val isType0 = valueAfter(fd, "Subtype").contains("/Type0")
          if (isType0) {
            val desc = refsOf(fd, "DescendantFonts").headOption.flatMap(doc.dict)
            val widths = desc.flatMap(d => valueAfter(d, "W")).map(parseCidWidths).getOrElse(Map.empty[Int, Int])
            val dw = desc.flatMap(d => valueAfter(d, "DW")).flatMap(_.trim.toIntOption).getOrElse(1000)
            PdfFont(twoByte = true, toUni, widths, dw)
          } else PdfFont(twoByte = false, simpleEncodingMap(doc, fd) ++ toUni, Map.empty, 500)
      }
    })

  private def buildRes(
      doc: Doc,
      resDict: Option[String],
      fontCache: scala.collection.mutable.HashMap[Int, PdfFont],
      visitedForms: Set[Int],
      depth: Int): Res = {
    if (depth > 5 || resDict.isEmpty) return Res(Map.empty, Map.empty)
    val rd = resDict.get
    val fonts: Map[String, PdfFont] = subDict(doc, rd, "Font").map { fd =>
      // entries: /Name N 0 R (inline font dicts are rare; refs cover our profile)
      """/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R""".r.findAllMatchIn(fd)
        .map(m => m.group(1) -> buildFont(doc, m.group(2).toInt, fontCache))
        .toMap
    }.getOrElse(Map.empty)
    val forms: Map[String, (String, Res, Mat)] = subDict(doc, rd, "XObject").map { xd =>
      """/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R""".r.findAllMatchIn(xd).flatMap { m =>
        val objNum = m.group(2).toInt
        if (visitedForms.contains(objNum)) None
        else doc.dict(objNum) match {
          case Some(d) if d.contains("/Form") =>
            doc.stream(objNum).map { cs =>
              val inner = buildRes(doc, subDict(doc, d, "Resources"), fontCache, visitedForms + objNum, depth + 1)
              val mtx = valueAfter(d, "Matrix").map { v =>
                val ns = """[-\d.]+""".r.findAllIn(v).map(_.toDouble).toList
                if (ns.length == 6) Mat(ns(0), ns(1), ns(2), ns(3), ns(4), ns(5)) else Id
              }.getOrElse(Id)
              m.group(1) -> (new String(cs, StandardCharsets.ISO_8859_1), inner, mtx)
            }
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
    Res(fonts, forms)
  }

  // ---- top-level extraction ----------------------------------------------

  private def extractUnsafe(bytes: Array[Byte]): Either[String, Result] = {
    val s = new String(bytes, StandardCharsets.ISO_8859_1)
    if (!s.startsWith("%PDF-")) return Left("missing %PDF header")
    if (!s.contains("%%EOF")) return Left("truncated pdf (no %%EOF)")

    val doc = new Doc(s, bytes)
    if (doc.objs.isEmpty) return Left("no objects")

    val rootNum = rootRe.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(return Left("no /Root"))
    val catalog = doc.dict(rootNum).getOrElse(return Left("missing catalog object"))
    val pagesNum = pagesRe.findFirstMatchIn(catalog).map(_.group(1).toInt).getOrElse(return Left("no /Pages"))
    val pagesDict = doc.dict(pagesNum).getOrElse(return Left("missing pages object"))
    // page TREE walk: /Kids entries may be leaf pages or intermediate /Pages
    // nodes (balanced trees are the large-document norm); leaves in order
    val pageNums = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      val seen = scala.collection.mutable.HashSet.empty[Int]
      def walk(d: String, depth: Int): Unit = {
        if (depth > 16) return
        for (m <- kidsRe.findFirstMatchIn(d); r <- refRe.findAllMatchIn(m.group(1))) {
          val num = r.group(1).toInt
          if (seen.add(num)) doc.dict(num).foreach { kd =>
            if (kd.contains("/Kids")) walk(kd, depth + 1) else out += num
          }
        }
      }
      walk(pagesDict, 0)
      out.toList
    }
    if (pageNums.isEmpty) return Left("empty /Kids")

    val fontCache = scala.collection.mutable.HashMap.empty[Int, PdfFont]
    val inheritedRes = subDict(doc, pagesDict, "Resources")

    val pageResults = pageNums.map { pn =>
      val pageDict = doc.dict(pn).getOrElse(return Left(s"missing page object $pn"))
      val contentNums = refsOf(pageDict, "Contents")
      if (contentNums.isEmpty) return Left(s"page $pn: no /Contents")
      val streams = contentNums.map { cn =>
        doc.stream(cn).getOrElse(return Left(s"page $pn: missing content stream"))
      }
      doc.interpret(streams.map(_.length.toLong).sum + streams.length - 1)
      val content = streams.map(new String(_, StandardCharsets.ISO_8859_1)).mkString("\n")
      val res = buildRes(doc, subDict(doc, pageDict, "Resources").orElse(inheritedRes),
        fontCache, Set.empty, 0)
      val runs = new ArrayBuffer[Run](64)
      execContent(doc, content, res, Id, runs, 0)
      val hasImages = xobjRe.findFirstMatchIn(pageDict).exists { m =>
        refRe.findAllMatchIn(m.group(1)).exists { rm =>
          doc.dict(rm.group(1).toInt).exists(o => imageSubtypeRe.findFirstIn(o).isDefined)
        }
      }
      (assemblePage(runs), hasImages)
    }
    val pageTexts = pageResults.map(_._1)
    val features = pageResults.zipWithIndex.map { case (((text, nLines), hasImages), i) =>
      PageFeature(i + 1, text.nonEmpty, hasImages, nLines, hasTables(text))
    }
    Right(Result(TextAssembly.assemblePages(pageTexts.map(_._1)), pageTexts.map(_._2).sum, features))
  }

  /** The reference's table heuristic, verbatim: '\t' present or > 5 pipes
    * (combined_pipeline.py:283-285).
    */
  private def hasTables(pageText: String): Boolean = {
    if (pageText.indexOf('\t') >= 0) return true
    var pipes = 0
    var i = 0
    while (i < pageText.length) { if (pageText.charAt(i) == '|') pipes += 1; i += 1 }
    pipes > 5
  }

  // ---- content stream interpreter ----------------------------------------

  private sealed trait Operand
  private final case class Num(v: Double) extends Operand
  private final case class Str(v: String) extends Operand
  private final case class Arr(items: List[Operand]) extends Operand
  private final case class Name(v: String) extends Operand

  private val MaxFormDepth = 8

  private def execContent(doc: Doc, cs: String, res: Res, baseCtm: Mat, runs: ArrayBuffer[Run], depth: Int): Unit = {
    if (depth > MaxFormDepth) return
    val stack = new ArrayBuffer[Operand](8)
    var ctm = baseCtm
    val ctmStack = new ArrayBuffer[Mat](8)
    var tm = Id // text matrix
    var lm = Id // text line matrix
    var leading = 0.0
    var fontSize = 12.0
    var font: PdfFont = PdfFont.Passthrough
    var i = 0
    val n = cs.length

    def num(k: Int): Double = stack.lift(stack.length - k).collect { case Num(v) => v }.getOrElse(0.0)

    def emitDecoded(text: String, w1000: Double): Unit = {
      val wTxt = w1000 / 1000.0 * fontSize
      if (text.nonEmpty) {
        val m = tm * ctm
        val (x0, y0) = m(0, 0)
        val (x1, y1) = m(wTxt, 0)
        runs += Run(x0, y0, math.hypot(x1 - x0, y1 - y0), fontSize * m.yScale, text)
      }
      tm = translate(wTxt, 0) * tm
    }

    def emit(raw: String): Unit = {
      val (text, w) = font.decode(raw)
      emitDecoded(text, w)
    }

    def op(name: String): Unit = {
      name match {
        case "q"  => ctmStack += ctm
        case "Q"  => if (ctmStack.nonEmpty) { ctm = ctmStack.last; ctmStack.remove(ctmStack.length - 1) }
        case "cm" => ctm = Mat(num(6), num(5), num(4), num(3), num(2), num(1)) * ctm
        case "BT" => tm = Id; lm = Id
        case "ET" => ()
        case "Tf" =>
          fontSize = num(1)
          stack.lift(stack.length - 2).collect { case Name(f) => f }
            .foreach(f => font = res.fonts.getOrElse(f, PdfFont.Passthrough))
        case "TL" => leading = num(1)
        case "Td" => lm = translate(num(2), num(1)) * lm; tm = lm
        case "TD" => leading = -num(1); lm = translate(num(2), num(1)) * lm; tm = lm
        case "Tm" => lm = Mat(num(6), num(5), num(4), num(3), num(2), num(1)); tm = lm
        case "T*" => lm = translate(0, -leading) * lm; tm = lm
        case "Tj" =>
          stack.lastOption.collect { case Str(v) => v }.foreach(emit)
        case "'" =>
          lm = translate(0, -leading) * lm; tm = lm
          stack.lastOption.collect { case Str(v) => v }.foreach(emit)
        case "TJ" =>
          stack.lastOption.collect { case Arr(items) =>
            val sb = new StringBuilder
            var w = 0.0
            items.foreach {
              case Str(v) =>
                val (t, tw) = font.decode(v)
                sb.append(t); w += tw
              case Num(adj) =>
                if (adj <= -180) { sb.append(' '); w += -adj }
                else w += -adj
              case _ => ()
            }
            emitDecoded(sb.toString, w)
          }
        case "Do" =>
          stack.lastOption.collect { case Name(x) => x }.foreach { x =>
            res.forms.get(x).foreach { case (formCs, formRes, mtx) =>
              if (depth < MaxFormDepth) doc.interpret(formCs.length)
              execContent(doc, formCs, formRes, mtx * ctm, runs, depth + 1)
            }
          }
        case _ => () // graphics ops ignored
      }
      stack.clear()
    }

    while (i < n) {
      val c = cs.charAt(i)
      if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
      else if (c == '(') { val (v, j) = parseString(cs, i); stack += Str(v); i = j }
      else if (c == '<' && i + 1 < n && cs.charAt(i + 1) == '<') {
        i = dictEnd(cs, i) // inline dict operand (BDC property lists) — skipped
      } else if (c == '<') {
        val e = cs.indexOf('>', i + 1)
        if (e < 0) i = n
        else {
          val hex = cs.substring(i + 1, e).filterNot(ch => ch == ' ' || ch == '\n' || ch == '\r' || ch == '\t')
          val padded = if (hex.length % 2 == 0) hex else hex + "0"
          val sb = new StringBuilder(padded.length / 2)
          var k = 0
          var bad = false
          while (k + 1 < padded.length && !bad) {
            val hi = Character.digit(padded.charAt(k), 16)
            val lo = Character.digit(padded.charAt(k + 1), 16)
            if (hi < 0 || lo < 0) bad = true
            else sb.append(((hi << 4) | lo).toChar)
            k += 2
          }
          if (!bad) stack += Str(sb.toString)
          i = e + 1
        }
      } else if (c == '[') {
        val items = new ArrayBuffer[Operand]
        i += 1
        var done = false
        while (!done && i < n) {
          val ch = cs.charAt(i)
          if (ch == ']') { i += 1; done = true }
          else if (ch == ' ' || ch == '\n' || ch == '\r' || ch == '\t') i += 1
          else if (ch == '(') { val (v, j) = parseString(cs, i); items += Str(v); i = j }
          else if (ch == '<') {
            val e = cs.indexOf('>', i + 1)
            if (e < 0) i = n
            else {
              val hex = cs.substring(i + 1, e).filterNot(_.isWhitespace)
              val padded = if (hex.length % 2 == 0) hex else hex + "0"
              val sb = new StringBuilder(padded.length / 2)
              var k = 0
              while (k + 1 < padded.length) {
                val hi = Character.digit(padded.charAt(k), 16)
                val lo = Character.digit(padded.charAt(k + 1), 16)
                if (hi >= 0 && lo >= 0) sb.append(((hi << 4) | lo).toChar)
                k += 2
              }
              items += Str(sb.toString)
              i = e + 1
            }
          } else {
            val (tok, j) = readToken(cs, i)
            toNum(tok).foreach(v => items += Num(v))
            i = j
          }
        }
        stack += Arr(items.toList)
      } else if (c == '/') {
        val (tok, j) = readToken(cs, i + 1)
        stack += Name(tok)
        i = j
      } else {
        val (tok, j) = readToken(cs, i)
        i = j
        toNum(tok) match {
          case Some(v) => stack += Num(v)
          case None    => if (tok.nonEmpty) op(tok) else i += 1
        }
      }
    }
  }

  private def toNum(tok: String): Option[Double] =
    if (tok.nonEmpty && (tok.charAt(0).isDigit || tok.charAt(0) == '-' || tok.charAt(0) == '.'))
      try Some(tok.toDouble) catch { case _: NumberFormatException => None }
    else None

  private def readToken(cs: String, start: Int): (String, Int) = {
    var i = start
    val n = cs.length
    while (i < n && !isTokenEnd(cs.charAt(i))) i += 1
    if (i == start) ("", i + 1) else (cs.substring(start, i), i)
  }

  @inline private def isTokenEnd(c: Char): Boolean = c match {
    case ' ' | '\n' | '\r' | '\t' | '(' | ')' | '[' | ']' | '/' | '<' | '>' => true
    case _ => false
  }

  /** PDF literal string with escapes + balanced nested parens. Returns
    * (decoded, index after closing paren). The result is raw latin-1 chars —
    * composite-font strings carry binary 2-byte codes decoded later by the
    * current font.
    */
  private[pdf] def parseString(cs: String, start: Int): (String, Int) = {
    val sb = new java.lang.StringBuilder
    var depth = 1
    var i = start + 1
    val n = cs.length
    while (i < n && depth > 0) {
      val c = cs.charAt(i)
      if (c == '\\' && i + 1 < n) {
        val e = cs.charAt(i + 1)
        e match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '(' => sb.append('('); i += 2
          case ')' => sb.append(')'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case d if d >= '0' && d <= '7' =>
            var j = i + 1
            var v = 0
            var k = 0
            while (j < n && k < 3 && cs.charAt(j) >= '0' && cs.charAt(j) <= '7') { v = v * 8 + (cs.charAt(j) - '0'); j += 1; k += 1 }
            sb.append(v.toChar); i = j
          case '\n' => i += 2 // line continuation
          case '\r' =>
            // CR and CRLF are EOLs too (PDF 32000-1 §7.3.4.2): a
            // backslash before either continues the line — consume the
            // CR and an immediately following LF without appending
            i += 2
            if (i < n && cs.charAt(i) == '\n') i += 1
          case _ => sb.append(e); i += 2
        }
      } else if (c == '(') { depth += 1; sb.append(c); i += 1 }
      else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c); i += 1 }
      else {
        // plain bytes up to the next escape or paren are copied as they are
        var j = i + 1
        while (j < n && { val d = cs.charAt(j); d != '\\' && d != '(' && d != ')' }) j += 1
        sb.append(cs, i, j)
        i = j
      }
    }
    (sb.toString, i)
  }

  // ---- x-y cut assembly --------------------------------------------------

  private val yTol = 2.0
  private val colGap = 100.0
  private val spaceGapEm = 0.35 // intra-line gap (in em) that separates words

  /** Returns (pageText, nLines). */
  private def assemblePage(runs: ArrayBuffer[Run]): (String, Int) = {
    if (runs.isEmpty) return ("", 0)
    val lines = new ArrayBuffer[String]
    xyCut(runs.toVector, lines)
    (lines.mkString("\n"), lines.length)
  }

  private def xyCut(runs: Vector[Run], out: ArrayBuffer[String]): Unit = {
    if (runs.isEmpty) return
    // column split: cluster distinct x-starts, split at largest gap >= colGap
    val xs = runs.map(_.x).distinct.sorted
    var splitAt = -1.0
    var bestGap = 0.0
    var i = 1
    while (i < xs.length) {
      val gap = xs(i) - xs(i - 1)
      if (gap >= colGap && gap > bestGap) { bestGap = gap; splitAt = xs(i) }
      i += 1
    }
    if (splitAt > 0) {
      val (left, right) = runs.partition(_.x < splitAt)
      // only treat as columns when both sides have vertically-overlapping
      // content; otherwise it's indentation, keep single flow
      if (left.nonEmpty && right.nonEmpty && overlapsY(left, right)) {
        xyCut(left, out); xyCut(right, out)
        return
      }
    }
    // single column: cluster runs into lines by y (desc), x asc within line;
    // adjacent runs join seamlessly, a gap > spaceGapEm em inserts one space
    // (per-glyph emitters like Canva/Skia carry explicit space glyphs, so
    // small estimation error never splits words)
    val sorted = runs.sortBy(r => (-r.y, r.x))
    var j = 0
    while (j < sorted.length) {
      val y0 = sorted(j).y
      // a run always joins its own line, even at a NaN y (a matrix entry
      // that overflowed to infinity), so the walk always moves on
      var k = j + 1
      while (k < sorted.length && math.abs(sorted(k).y - y0) <= yTol) k += 1
      val lineRuns = sorted.slice(j, k).sortBy(_.x)
      val sb = new StringBuilder
      var prevEnd = Double.NaN
      var prevFs = 0.0
      lineRuns.foreach { r =>
        if (!prevEnd.isNaN) {
          val gap = r.x - prevEnd
          val fs = math.max(prevFs, r.fs)
          if (gap > spaceGapEm * math.max(fs, 1.0) && !sb.isEmpty && sb.last != ' ') sb.append(' ')
        }
        sb.append(r.text)
        prevEnd = r.x + r.w
        prevFs = r.fs
      }
      val line = sb.toString
      if (line.trim.nonEmpty) out += line
      j = k
    }
  }

  private def overlapsY(a: Vector[Run], b: Vector[Run]): Boolean = {
    val aMin = a.map(_.y).min; val aMax = a.map(_.y).max
    val bMin = b.map(_.y).min; val bMax = b.map(_.y).max
    math.min(aMax, bMax) - math.max(aMin, bMin) > -yTol
  }
}
