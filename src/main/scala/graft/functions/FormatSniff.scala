package graft.functions

import java.nio.charset.StandardCharsets

/** Content-based format detection — the Spark analog of the reference's
  * MIME-first `detect_file_type` (combined_pipeline.py:178-206): magic bytes
  * first, structural sniff second, extension is unavailable (rows carry no
  * file name). This is the format-dispatch operator of the north rule
  * (SURVEY.md §2.1 S2).
  */
object FormatSniff {

  final val Pdf = "pdf"
  final val Html = "html"
  final val Txt = "txt"
  final val Csv = "csv"
  final val Rtf = "rtf"
  final val Docx = "docx"
  final val Xlsx = "xlsx"
  final val Pptx = "pptx"
  final val Odt = "odt"
  final val Empty = "empty"
  final val Binary = "binary"

  /** Max gzip-in-gzip nesting either sniff or kernel will unwrap; deeper
    * nesting is adversarial, not a real transport stack.
    */
  final val MaxGzipDepth = 4

  /** Unwrap up to [[MaxGzipDepth]] gzip envelopes, each bounded by
    * [[Codecs.MaxInflatedBytes]]. Right(inner) on success (identity when
    * not gzip), Left(reason) on corrupt/bomb/too-deep — shared by sniff
    * (ingest) and ExtractKernel (extraction) so the two can never disagree
    * about what the payload "is".
    */
  def unwrapGzip(bytes: Array[Byte]): Either[String, Array[Byte]] = {
    var b = bytes
    var depth = 0
    while (Codecs.isGzip(b)) {
      if (depth >= MaxGzipDepth) return Left("gzip nesting too deep")
      Codecs.gunzipOrWhy(b) match {
        case Right(inner) => b = inner; depth += 1
        case left         => return left
      }
    }
    Right(b)
  }

  def sniff(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return Empty
    // gzip envelope: the stored format names the INNER payload (the
    // dispatch predicate prunes on it); corrupt/bomb/too-deep is binary
    if (Codecs.isGzip(bytes))
      return unwrapGzip(bytes) match {
        case Right(inner) => sniff(inner)
        case Left(_)      => Binary
      }
    if (startsWith(bytes, "%PDF-")) return Pdf
    if (startsWith(bytes, "{\\rtf")) return Rtf
    if (startsWith(bytes, "PK\u0003\u0004")) return sniffZip(bytes)
    // UTF-16 BOMs are plain-text payloads in our corpus (HTML is 8-bit)
    Charsets.sniffBom(bytes) match {
      case Some(("utf-16le", _)) | Some(("utf-16be", _)) => return Txt
      case _                                             => ()
    }
    val n = math.min(bytes.length, 1024)
    val head = new String(bytes, 0, n, StandardCharsets.ISO_8859_1)
    val lower = head.toLowerCase
    if (
      lower.contains("<!doctype html") || lower.contains("<html") ||
      lower.contains("<head") || lower.contains("<body")
    ) return Html
    // binary garbage: NUL bytes or a high ratio of non-printables
    var nonPrintable = 0
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xFF
      if (b == 0) return Binary
      if (b < 0x09 || (b > 0x0D && b < 0x20)) nonPrintable += 1
      i += 1
    }
    if (nonPrintable * 10 > n) Binary
    else if (looksLikeCsv(head, truncated = bytes.length > n)) Csv
    else Txt
  }

  /** ZIP container dispatch by entry names (MIME-equivalent of the
    * reference's libmagic step, combined_pipeline.py:178-206).
    */
  private def sniffZip(bytes: Array[Byte]): String = {
    val names =
      try graft.functions.office.Zips.entryNames(bytes)
      catch { case _: Exception => return Binary }
    if (names.exists(_.startsWith("word/"))) Docx
    else if (names.exists(_.startsWith("xl/"))) Xlsx
    else if (names.exists(_.startsWith("ppt/"))) Pptx
    else if (names.contains("content.xml") || names.contains("mimetype")) Odt
    else Binary
  }

  /** CSV heuristic: >= 2 non-empty lines, each with the same positive
    * top-level (outside quotes) comma count.
    */
  private def looksLikeCsv(head: String, truncated: Boolean): Boolean = {
    val segs = head.split("\r?\n", -1)
    // a truncated head may cut the last line mid-field — ignore it
    val usable = if (truncated && segs.nonEmpty) segs.dropRight(1) else segs
    val lines = usable.iterator.filter(_.nonEmpty).take(5).toList
    if (lines.length < 2) return false
    def commas(l: String): Int = {
      var c = 0
      var q = false
      l.foreach {
        case '"' => q = !q
        case ',' if !q => c += 1
        case _ => ()
      }
      c
    }
    val counts = lines.map(commas)
    counts.head > 0 && counts.forall(_ == counts.head)
  }

  private def startsWith(b: Array[Byte], s: String): Boolean = {
    if (b.length < s.length) return false
    var i = 0
    while (i < s.length) {
      if (b(i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }
}
