package graft.functions.html

import graft.functions.TextAssembly
import scala.collection.mutable.ArrayBuffer

/** Streaming (SAX-style) main-content extraction: the tokenizer feeds an
  * element STACK — no DOM tree is ever materialized, so per-page memory is
  * O(stack depth + current block) regardless of page size (the giant-page
  * property the north rule cares about), and every text byte is copied once
  * less than the DOM path.
  *
  * Block segmentation, implied-close rules, and boilerplate classification
  * replicate HtmlDom/HtmlExtractor exactly — equivalence is asserted over
  * the full synthetic corpus in HtmlStreamSpec. The DOM path remains the
  * readable reference implementation (and serves rawText/debugging).
  */
object HtmlStream {

  private val pClosers = HtmlDom.pClosers
  private val voidTags = HtmlDom.voidTags

  /** per-open-element state, parallel arrays for cheap scans */
  private final class Stack {
    var names = new Array[String](32)
    var flags = new Array[Int](32) // bit0 skip, bit1 boiler, bit2 link, bit3 block
    var prevTag = new Array[String](32)
    var size = 0
    def push(name: String, flag: Int, prev: String): Unit = {
      if (size == names.length) {
        names = java.util.Arrays.copyOf(names, size * 2)
        flags = java.util.Arrays.copyOf(flags, size * 2)
        prevTag = java.util.Arrays.copyOf(prevTag, size * 2)
      }
      names(size) = name; flags(size) = flag; prevTag(size) = prev; size += 1
    }
    def indexOf(name: String): Int = {
      var i = size - 1
      while (i >= 0) { if (names(i) == name) return i; i -= 1 }
      -1
    }
    def indexOfAny(a: String, b: String): Int = {
      var i = size - 1
      while (i >= 0) { if (names(i) == a || names(i) == b) return i; i -= 1 }
      -1
    }
  }

  private val SKIP = 1
  private val BOILER = 2
  private val LINK = 4
  private val BLOCK = 8

  def extract(html: String): HtmlExtractor.Result = {
    val blocks = new ArrayBuffer[HtmlExtractor.Block](16)
    val buf = new StringBuilder
    var bufLink = 0
    var blockTag = "body"
    var skipDepth = 0
    var boilerDepth = 0
    var linkDepth = 0
    val stack = new Stack
    // inline whitespace-normalization state: buf only ever holds NORMALIZED
    // text (single spaces, trimmed), so flush is a plain toString — no
    // second pass, no intermediate text-node strings
    var pendingSpace = false
    var nodeBoundary = false

    def flush(): Unit = {
      if (buf.nonEmpty) {
        val t = buf.toString
        blocks += HtmlExtractor.Block(t, t.length, math.min(bufLink, t.length), boilerDepth > 0, blockTag)
        buf.clear()
      }
      bufLink = 0
      pendingSpace = false
      nodeBoundary = false
    }

    @inline def emitChar(c: Char): Unit = {
      if (TextAssembly.isSpace(c)) { if (buf.nonEmpty) pendingSpace = true }
      else {
        if (pendingSpace) { buf.append(' '); if (linkDepth > 0) bufLink += 1; pendingSpace = false }
        buf.append(c)
        if (linkDepth > 0) bufLink += 1
      }
    }

    def appendRegion(src: String, start: Int, end: Int): Unit = {
      if (nodeBoundary) { if (buf.nonEmpty) pendingSpace = true; nodeBoundary = false }
      var i = start
      while (i < end) {
        val c = src.charAt(i)
        if (isPlain(c)) {
          // a run of printable ASCII holds no space and no entity: emitChar's
          // effect on every char of it is one pending-space check and one copy
          var j = i + 1
          while (j < end && isPlain(src.charAt(j))) j += 1
          if (pendingSpace) { buf.append(' '); if (linkDepth > 0) bufLink += 1; pendingSpace = false }
          buf.underlying.append(src, i, j)
          if (linkDepth > 0) bufLink += j - i
          i = j
        } else if (c == '&') {
          val r = Entities.decodeAt(src, i, end)
          if (r < 0) { emitChar('&'); i += 1 }
          else {
            val cp = (r & 0xFFFFFFFFL).toInt
            if (Character.isBmpCodePoint(cp)) emitChar(cp.toChar)
            else { emitChar(Character.highSurrogate(cp)); emitChar(Character.lowSurrogate(cp)) }
            i = (r >>> 32).toInt
          }
        } else { emitChar(c); i += 1 }
      }
    }

    /** pop ONE element with its side effects (flush for blocks, depth
      * bookkeeping) — mirrors leaving that element in the DOM walk.
      */
    def popOne(): Unit = {
      stack.size -= 1
      val f = stack.flags(stack.size)
      if ((f & SKIP) != 0) skipDepth -= 1
      else if ((f & BLOCK) != 0) {
        flush() // flush with the element's own boiler depth still active
        if ((f & BOILER) != 0) boilerDepth -= 1
        blockTag = stack.prevTag(stack.size)
      }
      if ((f & LINK) != 0) linkDepth -= 1
      // boiler on a non-block element (not produced today, but keep sane)
      if ((f & BOILER) != 0 && (f & BLOCK) == 0 && (f & SKIP) == 0) boilerDepth -= 1
    }

    def popThrough(idx: Int): Unit = while (stack.size > idx) popOne()

    def onStart(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
      // implied closes (same rules as HtmlDom.builder)
      if (stack.size > 0 && stack.names(stack.size - 1) == "p" && pClosers.contains(name)) popOne()
      name match {
        case "li" =>
          val li = stack.indexOf("li")
          if (li >= 0) {
            // close only if no ul/ol opened above that li
            var j = li + 1
            var scoped = false
            while (j < stack.size && !scoped) {
              if (stack.names(j) == "ul" || stack.names(j) == "ol") scoped = true
              j += 1
            }
            if (!scoped) popThrough(li)
          }
        case "dt" | "dd" =>
          if (stack.size > 0 && (stack.names(stack.size - 1) == "dt" || stack.names(stack.size - 1) == "dd")) popOne()
        case "td" | "th" =>
          if (stack.indexOfAny("td", "th") >= 0) {
            while (stack.size > 0 && !isCellStop(stack.names(stack.size - 1))) popOne()
          }
        case "tr" =>
          if (stack.indexOf("tr") >= 0) {
            while (stack.size > 0 && !isRowStop(stack.names(stack.size - 1))) popOne()
          }
        case _ => ()
      }

      if (name == "br") { if (skipDepth == 0 && buf.nonEmpty) pendingSpace = true; return }
      val isVoid = voidTags.contains(name) || selfClosing
      // inside a skipped subtree every non-skip element is inert: stack
      // bookkeeping only (so end tags match), no flush/boiler/link effects —
      // mirrors the DOM walk never visiting the subtree
      if (skipDepth > 0) {
        if (HtmlExtractor.skipTags.contains(name) && !isVoid) { skipDepth += 1; stack.push(name, SKIP, blockTag) }
        else if (!isVoid) stack.push(name, 0, blockTag)
        return
      }
      val isSkip = HtmlExtractor.skipTags.contains(name)
      val isBlock = HtmlExtractor.blockTags.contains(name)

      if (isVoid) {
        // void block (hr): acts as a flush boundary; others are inert
        if (isBlock && skipDepth == 0) flush()
        return
      }

      var flag = 0
      if (isSkip) { flag |= SKIP; skipDepth += 1 }
      else if (isBlock) {
        flag |= BLOCK
        if (skipDepth == 0) flush()
        val boiler = HtmlExtractor.boilerTags.contains(name) || hasBoilerAttr(attrs)
        if (boiler) { flag |= BOILER; boilerDepth += 1 }
        stack.push(name, flag | (if (name == "a") LINK else 0), blockTag)
        blockTag = name
        if (name == "a") linkDepth += 1
        return
      }
      if (name == "a") { flag |= LINK; linkDepth += 1 }
      stack.push(name, flag, blockTag)
    }

    def onEnd(name: String): Unit = {
      val idx = stack.indexOf(name)
      if (idx >= 0) popThrough(idx)
    }

    HtmlTokenizer.tokenizeSink(
      html,
      new HtmlTokenizer.Sink {
        def text(src: String, s: Int, e: Int): Unit =
          if (skipDepth == 0) appendRegion(src, s, e)
        def startTag(n: String, a: List[(String, String)], sc: Boolean): Unit = { nodeBoundary = true; onStart(n, a, sc) }
        def endTag(n: String): Unit = { nodeBoundary = true; onEnd(n) }
        def boundary(): Unit = nodeBoundary = true
      }
    )
    popThrough(0)
    flush()

    val content = blocks.filter(_.isContent)
    HtmlExtractor.Result(content.map(_.text).mkString("\n"), content.length)
  }

  /** Printable ASCII other than `&`: never whitespace, never an entity. */
  @inline private def isPlain(c: Char): Boolean = c > ' ' && c < '\u007F' && c != '&'

  @inline private def isCellStop(n: String): Boolean =
    n == "tr" || n == "table" || n == "tbody" || n == "thead" || n == "tfoot"
  @inline private def isRowStop(n: String): Boolean =
    n == "table" || n == "tbody" || n == "thead" || n == "tfoot"

  private def hasBoilerAttr(attrs: List[(String, String)]): Boolean = {
    var as = attrs
    while (as.nonEmpty) {
      val (k, v) = as.head
      if ((k == "class" || k == "id") && HtmlExtractor.hasBoilerToken(v)) return true
      as = as.tail
    }
    false
  }
}
