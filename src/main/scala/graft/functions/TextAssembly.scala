package graft.functions

/** The byte-identity whitespace grammar, centralized in ONE place (SURVEY.md
  * §2.7 F11 / §7.0). Every extractor funnels its output through these
  * functions, mirroring the reference's serialization contract:
  *   - lines trimmed, blanks dropped, joined "\n"
  *     (enhanced_extract.py:496-498)
  *   - PDF pages "[Page N]\n{text}" joined "\n\n" (enhanced_extract.py:283,313)
  *   - empty result placeholder "[No text extracted]"
  *     (enhanced_extract.py:624-627)
  */
object TextAssembly {

  final val NoText = "[No text extracted]"

  /** Trim each line, drop blank lines, join with \n — the reference's HTML
    * line-cleanup contract (enhanced_extract.py:496-498).
    */
  def cleanLines(text: String): String = {
    val sb = new StringBuilder(text.length)
    var first = true
    var i = 0
    val n = text.length
    while (i < n) {
      var j = i
      while (j < n && text.charAt(j) != '\n') j += 1
      // trim [i, j)
      var a = i
      var b = j
      while (a < b && isSpace(text.charAt(a))) a += 1
      while (b > a && isSpace(text.charAt(b - 1))) b -= 1
      if (b > a) {
        if (!first) sb.append('\n')
        sb.appendAll(text.toCharArray, a, b - a)
        first = false
      }
      i = j + 1
    }
    sb.toString
  }

  /** Collapse every whitespace run (incl. NBSP, which Java's isWhitespace
    * does NOT cover) to a single space, trim ends. Used for intra-block text
    * of the HTML extractor — deterministic across JVMs (pure char tests).
    */
  def normalizeWs(text: String): String = {
    val sb = new StringBuilder(text.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (isSpace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }

  /** The one whitespace test of the byte-identity grammar: Java's
    * isWhitespace plus NBSP. Printable ASCII (`!`..`~`), the bulk of any
    * text, is decided by its first compare; every other char takes the
    * full test. `TextAssemblySpec` checks all 65,536 chars against the
    * full definition.
    */
  @inline def isSpace(c: Char): Boolean =
    if (c > ' ' && c < '\u007F') false
    else c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' ||
      c == '\u000B' || c == '\u00A0' || Character.isWhitespace(c)

  /** Page header grammar — reference enhanced_extract.py:283. */
  def pageHeader(n: Int): String = s"[Page $n]"

  /** Assemble PDF pages: "[Page N]\n{text}" joined "\n\n". */
  def assemblePages(pages: Seq[String]): String =
    pages.zipWithIndex
      .map { case (t, i) => pageHeader(i + 1) + "\n" + t }
      .mkString("\n\n")
}
