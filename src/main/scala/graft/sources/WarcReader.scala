package graft.sources

import graft.functions.Codecs
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** WARC (ISO 28500) ingest — the source format crawl archives actually
  * ship in (Common Crawl publishes .warc.gz: one gzip member per record,
  * concatenated). From-scratch byte-level parser, no libraries:
  *
  *   - record grammar: `WARC/1.0\r\n` + headers + `\r\n` + Content-Length
  *     payload + `\r\n\r\n`; all offsets advance in Long arithmetic
  *     (untrusted lengths must not Int-wrap a bound check into a crash);
  *   - only `WARC-Type: response` records become pages; warcinfo /
  *     request / metadata records are skipped by their declared length —
  *     never scanned for content;
  *   - the HTTP envelope inside a response payload is stripped: status
  *     line + headers, then `Transfer-Encoding: chunked` de-chunking,
  *     then `Content-Encoding: gzip` inflation (bounded, via
  *     [[Codecs.gunzip]]). A record whose envelope is malformed is kept
  *     with an error tag and the raw payload — ingest must not silently
  *     drop pages;
  *   - a `.warc.gz` input (multi-member gzip) is inflated up front by the
  *     same bounded gunzip.
  *
  * Spark surface: `readWarcs` reads archives through [[ArchiveScan]]:
  * they are listed once on the Spark driver and packed by bytes into at most
  * `defaultParallelism` tasks, each reading its archives whole (WARC
  * members are not independently seekable without an external index)
  * and flatMapping the parser into rows in the pages-table shape
  * `(url, warc_ts, html, lang)`. The archive file (~1 GB each in Common
  * Crawl) stays the indivisible unit of work; record-level random access
  * goes through the CDX-style coordinates built by [[WarcIndex]].
  */
object WarcReader {

  final case class WarcRecord(
      url: String,
      warcTs: Timestamp,
      httpStatus: Int,
      body: Array[Byte],
      error: String) // null = clean

  private val HeaderEnd = "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Walk an archive's record grammar (plain or gzipped), yielding every
    * record's lower-cased headers + raw payload. Malformed tail data ends
    * the scan. Shared by the response path ([[parseWarc]]) and the WET
    * conversion path ([[WetSink.parseWet]]).
    */
  private[graft] def rawRecords(
      archive: Array[Byte]): Seq[(Map[String, String], Array[Byte])] =
    rawRecordsWithOffsets(archive).map { case (h, p, _, _) => (h, p) }

  /** Like [[rawRecords]] but each record also carries its (offset, length)
    * in the DECOMPRESSED record stream — the CDX-index coordinates that
    * make records independently addressable (offset points at `WARC/`,
    * length spans headers + payload).
    */
  private[graft] def rawRecordsWithOffsets(
      archive: Array[Byte]): Seq[(Map[String, String], Array[Byte], Long, Long)] = {
    // an unreadable archive envelope FAILS the task rather than yielding
    // zero records: index/WET builds have no error column, and an archive
    // silently vanishing from the corpus is the one outcome ingest must
    // never produce (parseWarc, which has an error channel, inflates
    // before calling this and surfaces the Left as an error record)
    val bytes = inflate(archive) match {
      case Left(err) => throw new java.io.IOException(s"unreadable WARC archive: $err")
      case Right(b)  => b
    }
    val out = Seq.newBuilder[(Map[String, String], Array[Byte], Long, Long)]
    var pos = 0
    while (pos < bytes.length) {
      // skip inter-record blank lines
      while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
      if (pos >= bytes.length) return out.result()
      val recStart = pos
      val hEnd = indexOf(bytes, HeaderEnd, pos)
      if (hEnd < 0) return out.result() // truncated header block: stop
      val headBlock = new String(bytes, pos, hEnd - pos, StandardCharsets.ISO_8859_1)
      val lines = headBlock.split("\r\n")
      if (lines.isEmpty || !lines(0).startsWith("WARC/")) return out.result()
      val headers = lines.drop(1).flatMap { l =>
        val c = l.indexOf(':')
        if (c < 0) None else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
      }.toMap
      val cl = headers.get("content-length").flatMap(s => s.toLongOption).getOrElse(-1L)
      val payloadStart = hEnd + 4
      // bound check by SUBTRACTION: a hostile Content-Length near
      // Long.MaxValue would overflow `payloadStart + cl` and sail past an
      // addition-based check
      if (cl < 0 || cl > bytes.length.toLong - payloadStart) return out.result()
      pos = payloadStart + cl.toInt
      out += ((headers,
        java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + cl.toInt),
        recStart.toLong, (pos - recStart).toLong))
    }
    out.result()
  }

  /** Decompressed bytes per gzipped archive or member (a JVM array bound). */
  final val MaxArchiveBytes: Int = 1 << 30

  /** Inflate a gzipped archive envelope, or pass plain bytes through.
    * Left = why the archive is unreadable (corrupt stream, or past
    * [[MaxArchiveBytes]] — bigger archives must be per-record-gzipped,
    * where members inflate independently).
    */
  private[graft] def inflate(archive: Array[Byte]): Either[String, Array[Byte]] =
    if (Codecs.isGzip(archive))
      Codecs.gunzip(archive, maxOut = MaxArchiveBytes)
        .toRight("archive gunzip failed: corrupt stream or > 1 GiB decompressed")
    else Right(archive)

  /** Parse one archive (plain or .warc.gz) into response pages.
    * Non-response records (warcinfo/request/metadata) are skipped by
    * their declared length; malformed HTTP envelopes surface `error`.
    * An unreadable archive envelope yields ONE error record instead of
    * silently vanishing — ingest must not silently drop pages.
    */
  def parseWarc(archive: Array[Byte]): Seq[WarcRecord] =
    inflate(archive) match {
      case Left(err) =>
        Seq(WarcRecord("", new Timestamp(0L), 0, Array.emptyByteArray, err))
      case Right(bytes) =>
        rawRecords(bytes).collect {
          case (headers, payload) if headers.getOrElse("warc-type", "") == "response" =>
            val url = headers.getOrElse("warc-target-uri", "")
            val ts = headers.get("warc-date").flatMap(parseTs).getOrElse(new Timestamp(0L))
            parseHttp(url, ts, payload)
        }
    }

  private[graft] def parseTs(iso: String): Option[Timestamp] =
    try Some(Timestamp.from(java.time.Instant.parse(iso)))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** Strip the HTTP envelope: status line + headers, de-chunk, inflate. */
  private def parseHttp(url: String, ts: Timestamp, payload: Array[Byte]): WarcRecord = {
    val hEnd = indexOf(payload, HeaderEnd, 0)
    if (hEnd < 0 || !startsWithHttp(payload))
      return WarcRecord(url, ts, 0, payload, "malformed http envelope")
    val head = new String(payload, 0, hEnd, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n")
    val status = lines(0).split(" ", 3) match {
      case parts if parts.length >= 2 => parts(1).toIntOption.getOrElse(0)
      case _                          => 0
    }
    val headers = lines.drop(1).flatMap { l =>
      val c = l.indexOf(':')
      if (c < 0) None else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
    }.toMap
    // encoding headers are comma-separated LISTS ("gzip, chunked") and
    // x-gzip is the RFC 2616 alias — whole-value equality would pass the
    // undecoded bytes through untagged as a clean record
    def tokens(header: String): Seq[String] = headers.get(header).toSeq
      .flatMap(_.split(',')).map(_.trim.toLowerCase).filter(_.nonEmpty)
    val te = tokens("transfer-encoding")
    val ce = tokens("content-encoding")
    val unsupported =
      te.filterNot(t => t == "chunked" || t == "identity") ++
        ce.filterNot(t => t == "gzip" || t == "x-gzip" || t == "identity")
    var body = java.util.Arrays.copyOfRange(payload, hEnd + 4, payload.length)
    if (unsupported.nonEmpty)
      return WarcRecord(url, ts, status, body,
        s"unsupported encoding: ${unsupported.mkString(",")}")
    if (te.contains("chunked"))
      dechunk(body) match {
        case Some(d) => body = d
        case None    => return WarcRecord(url, ts, status, body, "malformed chunked body")
      }
    if (ce.exists(t => t == "gzip" || t == "x-gzip"))
      Codecs.gunzip(body) match {
        case Some(d) => body = d
        case None    => return WarcRecord(url, ts, status, body, "gzip decode error")
      }
    WarcRecord(url, ts, status, body, null)
  }

  private def startsWithHttp(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == 'H' && b(1) == 'T' && b(2) == 'T' && b(3) == 'P' && b(4) == '/'

  /** Public header view of one HTTP response envelope: status code +
    * lower-cased header map (first occurrence wins), None when the bytes
    * are not an HTTP envelope. The curation surface over the SAME parse
    * the ingest path runs: content-type distribution audits, and the
    * cache validators (`etag`, `last-modified`) that drive
    * conditional-GET recrawl planning — a crawler that re-fetches a page
    * whose validators it already holds wastes the politeness budget
    * [[graft.operators.Revisit]] schedules.
    */
  def httpHeaderView(payload: Array[Byte]): Option[(Int, Map[String, String])] = {
    if (payload == null) return None
    val hEnd = indexOf(payload, HeaderEnd, 0)
    if (hEnd < 0 || !startsWithHttp(payload)) return None
    val head = new String(payload, 0, hEnd, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r\n")
    val status = lines(0).split(" ", 3) match {
      case parts if parts.length >= 2 => parts(1).toIntOption.getOrElse(0)
      case _                          => 0
    }
    val headers = lines.drop(1).foldLeft(Map.empty[String, String]) { (m, l) =>
      val c = l.indexOf(':')
      if (c < 0) m
      else {
        val k = l.substring(0, c).trim.toLowerCase
        if (m.contains(k)) m else m + (k -> l.substring(c + 1).trim)
      }
    }
    Some((status, headers))
  }

  /** RFC 7230 chunked decoding: hex-size line, data, CRLF, ... , 0-chunk.
    * Trailers after the 0-chunk are ignored. None on any malformation.
    */
  private def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var pos = 0
    while (true) {
      val lineEnd = indexOf(b, "\r\n".getBytes(StandardCharsets.ISO_8859_1), pos)
      if (lineEnd < 0) return None
      val sizeStr = new String(b, pos, lineEnd - pos, StandardCharsets.ISO_8859_1)
        .split(";")(0).trim // chunk extensions ignored
      val size =
        try java.lang.Long.parseLong(sizeStr, 16)
        catch { case _: NumberFormatException => return None }
      if (size < 0) return None
      if (size == 0) return Some(out.toByteArray)
      val dataStart = lineEnd + 2
      // same subtraction rule as the record-length check
      if (size > b.length.toLong - dataStart - 2) return None
      out.write(b, dataStart, size.toInt)
      if (b(dataStart + size.toInt) != '\r' || b(dataStart + size.toInt + 1) != '\n') return None
      pos = dataStart + size.toInt + 2
    }
    None // unreachable
  }

  /** Spark surface: archives matching `glob` (a glob or a directory) →
    * pages-shaped rows (url, warc_ts, html, lang='', plus
    * http_status/ingest_error for the gate). Archives are listed once on
    * the Spark driver and packed by bytes into at most
    * `defaultParallelism` tasks (see [[ArchiveScan]]).
    */
  def readWarcs(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob)((_, bytes) => parseWarc(bytes))
      .select(
        F.col("url"),
        F.col("warcTs").as("warc_ts"),
        F.col("body").as("html"),
        F.lit("").as("lang"),
        F.col("httpStatus").as("http_status"),
        F.col("error").as("ingest_error"))
  }

  // ---- writer leg (tests, fixture synthesis, re-publish) -------------------

  /** Serialize records in the per-record-gzipped layout (what Common Crawl
    * publishes as `.warc.gz`): ONE gzip member per record, members
    * concatenated. Unlike a whole-archive gzip, member byte ranges are
    * independently inflatable, so [[WarcIndex]] can hand out file
    * coordinates for true random access and record-level split reads.
    */
  def writeWarcRecordGz(
      records: Seq[(String, Timestamp, Array[Byte])],
      gzipBody: Long => Boolean = _ => false,
      chunked: Long => Boolean = _ => false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.zipWithIndex.foreach { case (r, i) =>
      out.write(Codecs.gzip(writeWarc(Seq(r),
        gzipBody = _ => gzipBody(i.toLong), chunked = _ => chunked(i.toLong))))
    }
    out.toByteArray
  }

  /** Serialize records to WARC/1.0 bytes. `gzipBody` wraps the HTTP body
    * with Content-Encoding: gzip; `chunked` re-frames it chunked.
    */
  def writeWarc(
      records: Seq[(String, Timestamp, Array[Byte])],
      gzipBody: Long => Boolean = _ => false,
      chunked: Long => Boolean = _ => false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    records.zipWithIndex.foreach { case ((url, ts, rawBody), i) =>
      val idx = i.toLong
      var body = rawBody
      val headers = new StringBuilder()
      if (gzipBody(idx)) {
        body = Codecs.gzip(body)
        headers ++= "Content-Encoding: gzip\r\n"
      }
      if (chunked(idx)) {
        val chunkSize = 100
        val framed = new java.io.ByteArrayOutputStream()
        var p = 0
        while (p < body.length) {
          val n = math.min(chunkSize, body.length - p)
          framed.write(s"${n.toHexString}\r\n".getBytes(StandardCharsets.ISO_8859_1))
          framed.write(body, p, n)
          framed.write("\r\n".getBytes(StandardCharsets.ISO_8859_1))
          p += n
        }
        framed.write("0\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
        body = framed.toByteArray
        headers ++= "Transfer-Encoding: chunked\r\n"
      }
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n$headers\r\n"
      val payloadLen = http.length + body.length
      w("WARC/1.0\r\n")
      w(s"WARC-Type: response\r\n")
      w(s"WARC-Target-URI: $url\r\n")
      w(s"WARC-Date: ${ts.toInstant}\r\n")
      w(s"Content-Length: $payloadLen\r\n")
      w("\r\n")
      w(http)
      out.write(body)
      w("\r\n\r\n")
    }
    out.toByteArray
  }

  // ---- revisit records (archive-layer storage dedup) -----------------------

  /** `sha1:BASE32` payload digest, the WARC convention (ISO 28500 §5.8 /
    * the identical-payload-digest revisit profile Common Crawl uses).
    */
  def payloadDigest(body: Array[Byte]): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1").digest(body)
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    var acc = 0L
    var bits = 0
    sha.foreach { b =>
      acc = (acc << 8) | (b & 0xFFL); bits += 8
      while (bits >= 5) { bits -= 5; sb.append(alphabet(((acc >> bits) & 31).toInt)) }
    }
    if (bits > 0) sb.append(alphabet(((acc << (5 - bits)) & 31).toInt))
    "sha1:" + sb.toString
  }

  private val RevisitProfile = "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"

  /** Serialize records with archive-layer DEDUP: the first capture of each
    * payload digest is a full `response` record; every later capture of
    * the same bytes becomes a `revisit` record (WARC-Payload-Digest +
    * WARC-Refers-To-Target-URI/Date, EMPTY block — the
    * identical-payload-digest profile) costing ~200 bytes instead of the
    * body. This is how web archives store recrawls of unchanged pages;
    * at corpus scale the same digest-keyed idea runs as a distributed
    * join ([[graft.operators.Dedup]] exact tier) — within one archive the
    * writer sees all records and dedups inline.
    */
  def writeWarcDeduped(records: Seq[(String, Timestamp, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    val seen = scala.collection.mutable.HashMap.empty[String, (String, Timestamp)]
    records.foreach { case (url, ts, body) =>
      val digest = payloadDigest(body)
      seen.get(digest) match {
        case None =>
          seen(digest) = (url, ts)
          val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
          val payloadLen = http.length + body.length
          w("WARC/1.0\r\nWARC-Type: response\r\n")
          w(s"WARC-Target-URI: $url\r\nWARC-Date: ${ts.toInstant}\r\n")
          w(s"WARC-Payload-Digest: $digest\r\n")
          w(s"Content-Length: $payloadLen\r\n\r\n")
          w(http); out.write(body); w("\r\n\r\n")
        case Some((refUrl, refTs)) =>
          w("WARC/1.0\r\nWARC-Type: revisit\r\n")
          w(s"WARC-Target-URI: $url\r\nWARC-Date: ${ts.toInstant}\r\n")
          w(s"WARC-Payload-Digest: $digest\r\n")
          w(s"WARC-Profile: $RevisitProfile\r\n")
          w(s"WARC-Refers-To-Target-URI: $refUrl\r\n")
          w(s"WARC-Refers-To-Date: ${refTs.toInstant}\r\n")
          w("Content-Length: 0\r\n\r\n")
          w("\r\n\r\n")
      }
    }
    out.toByteArray
  }

  /** Parse an archive RESOLVING revisit records: responses index their
    * payload by digest, each revisit takes the body of the response it
    * refers to (digest-keyed — the profile's contract is identical
    * bytes). A revisit whose digest has no response in this archive
    * surfaces as an error record (cross-archive resolution is the
    * digest-keyed JOIN of the distributed tier, not silent data loss).
    * Returns (resolved records, n_revisits_resolved).
    */
  def parseWarcResolved(archive: Array[Byte]): (Seq[WarcRecord], Int) =
    inflate(archive) match {
      case Left(err) =>
        (Seq(WarcRecord("", new Timestamp(0L), 0, Array.emptyByteArray, err)), 0)
      case Right(bytes) =>
        val entries = rawRecords(bytes).toSeq
        val byDigest = scala.collection.mutable.HashMap.empty[String, WarcRecord]
        val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
        var resolved = 0
        entries.foreach { case (headers, payload) =>
          headers.getOrElse("warc-type", "") match {
            case "response" =>
              val url = headers.getOrElse("warc-target-uri", "")
              val ts = headers.get("warc-date").flatMap(parseTs).getOrElse(new Timestamp(0L))
              val rec = parseHttp(url, ts, payload)
              headers.get("warc-payload-digest").foreach(d => byDigest.getOrElseUpdate(d, rec))
              out += rec
            case "revisit" =>
              val url = headers.getOrElse("warc-target-uri", "")
              val ts = headers.get("warc-date").flatMap(parseTs).getOrElse(new Timestamp(0L))
              headers.get("warc-payload-digest").flatMap(byDigest.get) match {
                case Some(ref) =>
                  resolved += 1
                  out += WarcRecord(url, ts, ref.httpStatus, ref.body, null)
                case None =>
                  out += WarcRecord(url, ts, 0, Array.emptyByteArray,
                    "unresolved revisit: digest not in archive")
              }
            case _ => () // warcinfo/request/metadata skipped as in parseWarc
          }
        }
        (out.toSeq, resolved)
    }
}
