package graft.sources

import graft.functions.Codecs
import java.io.{ByteArrayInputStream, IOException, InputStream}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.zip.{CRC32, DataFormatException, Inflater}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** WARC (ISO 28500) ingest — the source format crawl archives actually
  * ship in (Common Crawl publishes .warc.gz: one gzip member per record,
  * concatenated). From-scratch byte-level parser, no libraries:
  *
  *   - one lazy walk, [[records]], reads an archive stream record by
  *     record, inflating a gzipped one member at a time with one reused
  *     `Inflater` (FEXTRA/FNAME/FCOMMENT/FHCRC headers, CRC32 and length
  *     trailers checked). Plain, whole-archive gzip, per-record gzip and
  *     several records per member are one code path; heap is one record;
  *   - record grammar: `WARC/1.0\r\n` + headers + `\r\n` + Content-Length
  *     payload + `\r\n\r\n`. A stream that ends inside a record ends the
  *     walk quietly;
  *   - damage in the gzip layer (a corrupt or truncated member, or bytes
  *     after a member that start no other), a non-empty archive that
  *     starts with neither gzip magic nor `WARC/`, or a malformed record
  *     header (a header block past [[MaxHeaderBytes]], no `WARC/` line, or
  *     a `Content-Length` that is missing, not a number or past
  *     [[MaxRecordBytes]]) throws [[UnreadableArchive]] after the records
  *     before it: one error record from [[parseWarc]] and [[readWarcs]], a
  *     failure from index, WET and WAT reads;
  *   - only `WARC-Type: response` records become pages; warcinfo /
  *     request / metadata records are skipped by their declared length —
  *     never scanned for content;
  *   - the HTTP envelope inside a response payload is stripped: status
  *     line + headers, then `Transfer-Encoding: chunked` de-chunking,
  *     then `Content-Encoding: gzip` inflation (bounded, via
  *     [[Codecs.gunzip]]). A record whose envelope is malformed is kept
  *     with an error tag and the raw payload — ingest must not silently
  *     drop pages.
  *
  * Spark surface: `readWarcs` reads archives through [[ArchiveScan]]:
  * they are listed once on the Spark driver and packed by bytes into at most
  * `defaultParallelism` tasks, each streaming its archives through the walk
  * into rows in the pages-table shape `(url, warc_ts, html, lang)`. The
  * archive file (~1 GB each in Common Crawl) stays the indivisible unit of
  * work; record-level random access goes through the CDX-style coordinates
  * the walk hands [[WarcIndex]].
  */
object WarcReader {

  final case class WarcRecord(
      url: String,
      warcTs: Timestamp,
      httpStatus: Int,
      body: Array[Byte],
      error: String) // null = clean

  /** One record of the walk: lower-cased WARC headers (last wins), the
    * payload (empty when skipped) and coordinates. Seekable ones are the
    * file range that parses alone to this record (the record in a plain
    * archive, or the gzip member holding only it); others are its range in
    * the inflated stream.
    */
  final case class Record(headers: Map[String, String], payload: Array[Byte], offset: Long, length: Long,
      seekable: Boolean) {
    def warcType: String = headers.getOrElse("warc-type", "")
    def url: String = headers.getOrElse("warc-target-uri", "")
    def date: Timestamp = headers.get("warc-date").flatMap(parseTs).getOrElse(new Timestamp(0L))
  }

  /** The archive cannot be read past this point (see the object doc). */
  final class UnreadableArchive(message: String) extends IOException(message)

  /** Longest payload one record may declare. */
  final val MaxRecordBytes: Int = 1 << 30

  /** Longest WARC header block, blank line included, the walk searches. */
  final val MaxHeaderBytes: Int = 1 << 20

  private val HeaderEnd = "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
  private val Crlf = "\r\n".getBytes(StandardCharsets.ISO_8859_1)
  private val WarcMagic = "WARC/".getBytes(StandardCharsets.ISO_8859_1)

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

  /** `name: value` lines after the first as (lower-cased name, value), in order. */
  private def fields(lines: Array[String]): Seq[(String, String)] =
    lines.toSeq.drop(1).flatMap { l =>
      val c = l.indexOf(':')
      if (c < 0) None else Some(l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim)
    }

  /** Every record of one archive, read lazily from `in`, which the caller
    * closes; `payloads = false` skips payload bytes instead of keeping
    * them. See the object doc for layouts, bounds and damage.
    */
  def records(in: InputStream, payloads: Boolean = true): Iterator[Record] = {
    val walk = new Walk(in, payloads)
    Iterator.continually(walk.record()).takeWhile(_ != null)
  }

  private final class Walk(in: InputStream, payloads: Boolean) {
    // file bytes raw(rawPos until rawLim), raw(0) at file offset rawBase
    private val raw = new Array[Byte](1 << 16)
    private var rawPos, rawLim = 0
    private var rawBase = 0L
    while (rawLim < 2 && { val n = in.read(raw, rawLim, raw.length - rawLim); rawLim += math.max(n, 0); n > 0 }) ()
    private val gz = rawLim >= 2 && (raw(0) & 0xFF) == 0x1F && (raw(1) & 0xFF) == 0x8B
    // the record stream buf(pos until lim), buf(0) at stream offset
    // bufBase; a plain archive's record stream is its file
    private val buf = if (gz) new Array[Byte](1 << 16) else raw
    private var pos = 0
    private var lim = if (gz) 0 else rawLim
    private var bufBase = 0L
    // the gzip member being inflated; members count from 1
    private val inf = if (gz) new Inflater(true) else null
    private val crc = new CRC32
    private var inMember = false
    private var member, lastEndMember = 0
    private var memberStart = 0L

    private def damage(why: String): Nothing =
      throw new UnreadableArchive(s"archive gunzip failed: $why (member at byte $memberStart)")

    private def refill(): Boolean = {
      rawBase += rawLim; rawPos = 0; rawLim = math.max(in.read(raw, 0, raw.length), 0)
      rawLim > 0
    }

    /** The next file byte; -1 at the end, or damage `why` when given. */
    private def rawByte(why: String = null): Int = {
      if (rawPos == rawLim && !refill()) { if (why != null) damage(why); return -1 }
      rawPos += 1
      raw(rawPos - 1) & 0xFF
    }

    /** Reads the next member's header; false at the end of the file. */
    private def startMember(): Boolean = {
      memberStart = rawBase + rawPos
      val first = rawByte()
      if (first < 0) return false
      val hcrc = new CRC32
      hcrc.update(first)
      def hb(): Int = { val b = rawByte("truncated member header"); hcrc.update(b); b }
      if (first != 0x1F || hb() != 0x8B) damage("bytes after a member start no gzip member")
      if (hb() != 8) damage("compression method is not deflate")
      val flg = hb()
      (1 to 6).foreach(_ => hb()) // MTIME, XFL, OS
      if ((flg & 4) != 0) (1 to (hb() | hb() << 8)).foreach(_ => hb()) // FEXTRA
      if ((flg & 8) != 0) while (hb() != 0) () // FNAME, zero-terminated
      if ((flg & 16) != 0) while (hb() != 0) () // FCOMMENT, zero-terminated
      val want = (hcrc.getValue & 0xFFFF).toInt // FHCRC: the header's CRC32, low 16 bits
      if ((flg & 2) != 0 && (rawByte("truncated member header") | rawByte("truncated member header") << 8) != want)
        damage("header CRC mismatch")
      inf.reset(); crc.reset(); inMember = true; member += 1
      true
    }

    /** Up to `len` inflated bytes of the member; at its end, checks the trailer. */
    private def inflate(dst: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      while (n == 0 && inMember) {
        if (inf.needsInput()) {
          if (rawPos == rawLim && !refill()) damage("truncated member")
          inf.setInput(raw, rawPos, rawLim - rawPos)
          rawPos = rawLim
        }
        n = try inf.inflate(dst, off, len) catch { case _: DataFormatException => damage("corrupt deflate data") }
        crc.update(dst, off, n)
        if (inf.finished()) {
          rawPos = rawLim - inf.getRemaining
          def le32(): Int = (0 until 4).map(k => rawByte("truncated member trailer") << (8 * k)).sum
          if (le32() != crc.getValue.toInt || le32() != inf.getBytesWritten.toInt) damage("CRC or length mismatch")
          inMember = false
        } else if (n == 0 && inf.needsDictionary()) damage("preset dictionary")
      }
      n
    }

    /** Refills `buf`; false at the end of the stream or, unless `cross`, the member. */
    private def fill(cross: Boolean): Boolean = {
      bufBase += lim; pos = 0; lim = 0
      if (!gz) lim = math.max(in.read(buf, 0, buf.length), 0)
      else while (lim == 0 && (inMember || (cross && startMember()))) lim = inflate(buf, 0, buf.length)
      lim > 0
    }

    /** Skips CR and LF; true when another byte follows. */
    private def skipBlank(cross: Boolean): Boolean = {
      while (pos < lim || fill(cross)) {
        if (buf(pos) != '\r' && buf(pos) != '\n') return true
        pos += 1
      }
      false
    }

    private var head = new Array[Byte](1024)
    private var started = false

    /** A plain stream's first bytes must begin a WARC record: a non-empty
      * archive that starts with neither that nor gzip magic (a `.warc.gz`
      * whose first magic byte is damaged, say) is unreadable, not empty.
      */
    private def checkStart(n: Int): Unit =
      if (!gz && !started && (0 until math.min(n, WarcMagic.length)).exists(i => head(i) != WarcMagic(i)))
        throw new UnreadableArchive("archive starts with neither gzip magic nor a WARC record")

    private def malformed(why: String, at: Long): Nothing =
      throw new UnreadableArchive(s"malformed WARC record: $why (record at stream byte $at)")

    /** The header block before its blank line; null when the stream ends
      * first. A block past [[MaxHeaderBytes]] is malformed.
      */
    private def readHead(at: Long): String = {
      var n = 0
      while (n < 4 || head(n - 4) != '\r' || head(n - 3) != '\n' || head(n - 2) != '\r' || head(n - 1) != '\n') {
        if (n == MaxHeaderBytes) malformed(s"no header end within $MaxHeaderBytes bytes", at)
        if (pos == lim && !fill(cross = true)) { checkStart(n); return null }
        if (n == head.length) head = java.util.Arrays.copyOf(head, math.min(2 * n, MaxHeaderBytes))
        head(n) = buf(pos)
        n += 1; pos += 1
        if (n == WarcMagic.length) checkStart(n)
      }
      started = true
      new String(head, 0, n - 4, StandardCharsets.ISO_8859_1)
    }

    /** The next `len` stream bytes (skipped without payloads; null when the
      * stream ends first), in an array that grows as they arrive.
      */
    private def readPayload(len: Int): Array[Byte] = {
      var out = if (payloads) new Array[Byte](math.min(len, 1 << 23)) else Array.emptyByteArray
      var off = 0
      while (off < len) {
        if (pos == lim && !fill(cross = true)) return null
        val n = math.min(len - off, lim - pos)
        if (payloads) {
          if (off + n > out.length)
            out = java.util.Arrays.copyOf(out, math.min(len.toLong, math.max(off + n, 2L * out.length)).toInt)
          System.arraycopy(buf, pos, out, off, n)
        }
        pos += n; off += n
      }
      out
    }

    /** The next record; null at the end of the walk. */
    def record(): Record = {
      val r = next()
      if (r == null && inf != null) inf.end()
      r
    }

    private def next(): Record = {
      if (!skipBlank(cross = true)) return null
      val start = bufBase + pos
      val startMember = member
      val block = readHead(start)
      if (block == null) return null
      val lines = block.split("\r\n")
      if (!lines(0).startsWith("WARC/")) malformed("no WARC/ version line", start)
      val headers = fields(lines).toMap
      val cl = headers.get("content-length").flatMap(_.toLongOption).filter(l => l >= 0 && l <= MaxRecordBytes)
        .getOrElse(malformed(s"Content-Length missing, not a number or past $MaxRecordBytes", start))
      val payload = readPayload(cl.toInt)
      if (payload == null) return null
      val end = bufBase + pos
      // a gzip member is the record's coordinate when the record is all
      // it holds: no other record ends in it, and only CR/LF follows, up
      // to the member's end, where the file position now is
      val firstInMember = lastEndMember != startMember
      lastEndMember = member
      if (!gz) Record(headers, payload, start, end - start, seekable = true)
      else if (firstInMember && member == startMember && !skipBlank(cross = false))
        Record(headers, payload, memberStart, rawBase + rawPos - memberStart, seekable = true)
      else Record(headers, payload, start, end - start, seekable = false)
    }
  }

  /** Parse one archive (plain or .warc.gz) into response pages.
    * Non-response records (warcinfo/request/metadata) are skipped by
    * their declared length; malformed HTTP envelopes surface `error`.
    * An unreadable archive yields ONE error record after the pages
    * before it, instead of the rest silently vanishing.
    */
  def parseWarc(archive: Array[Byte]): Seq[WarcRecord] =
    responses(new ByteArrayInputStream(archive)).toVector

  /** [[parseWarc]] over a stream, lazily. */
  private[sources] def responses(in: InputStream): Iterator[WarcRecord] = {
    val pages = records(in).filter(_.warcType == "response").map(response)
    var failed = false
    Iterator.continually(
      if (failed) null
      else try if (pages.hasNext) pages.next() else null
      catch { case e: UnreadableArchive => failed = true; unreadable(e.getMessage) }
    ).takeWhile(_ != null)
  }

  private def unreadable(error: String): WarcRecord =
    WarcRecord("", new Timestamp(0L), 0, Array.emptyByteArray, error)

  /** A response record as a page: its HTTP envelope stripped. */
  private[sources] def response(r: Record): WarcRecord = parseHttp(r.url, r.date, r.payload)

  /** The WET and WAT read: (url, date, UTF-8 payload) of one WARC type's records. */
  private[sources] def texts(in: InputStream, warcType: String): Iterator[(String, Timestamp, String)] =
    records(in).collect {
      case r if r.warcType == warcType => (r.url, r.date, new String(r.payload, StandardCharsets.UTF_8))
    }

  private[graft] def parseTs(iso: String): Option[Timestamp] =
    try Some(Timestamp.from(java.time.Instant.parse(iso)))
    catch { case _: java.time.format.DateTimeParseException => None }

  /** Status code, header fields in order and body offset of an HTTP
    * response envelope; None when the payload is not one. The one head
    * parse behind [[parseHttp]] and [[httpHeaderView]].
    */
  private def httpHead(payload: Array[Byte]): Option[(Int, Seq[(String, String)], Int)] = {
    if (!startsWithHttp(payload)) return None
    val hEnd = indexOf(payload, HeaderEnd, 0)
    if (hEnd < 0) return None
    val lines = new String(payload, 0, hEnd, StandardCharsets.ISO_8859_1).split("\r\n")
    val status = lines(0).split(" ", 3) match {
      case parts if parts.length >= 2 => parts(1).toIntOption.getOrElse(0)
      case _                          => 0
    }
    Some((status, fields(lines), hEnd + 4))
  }

  /** Strip the HTTP envelope: status line + headers, de-chunk, inflate.
    * A repeated header's last value wins.
    */
  private def parseHttp(url: String, ts: Timestamp, payload: Array[Byte]): WarcRecord = {
    val (status, headers, bodyStart) = httpHead(payload) match {
      case Some((s, h, b)) => (s, h.toMap, b)
      case None            => return WarcRecord(url, ts, 0, payload, "malformed http envelope")
    }
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
    var body = java.util.Arrays.copyOfRange(payload, bodyStart, payload.length)
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
    * are not an HTTP envelope. The curation surface over the SAME head
    * parse the ingest path runs: content-type distribution audits, and the
    * cache validators (`etag`, `last-modified`) that drive
    * conditional-GET recrawl planning — a crawler that re-fetches a page
    * whose validators it already holds wastes the politeness budget
    * [[graft.operators.Revisit]] schedules.
    */
  def httpHeaderView(payload: Array[Byte]): Option[(Int, Map[String, String])] =
    Option(payload).flatMap(httpHead).map { case (status, headers, _) => (status, headers.reverse.toMap) }

  /** RFC 7230 chunked decoding: hex-size line, data, CRLF, ... , 0-chunk.
    * Trailers after the 0-chunk are ignored. None on any malformation.
    */
  private def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var pos = 0
    while (true) {
      val lineEnd = indexOf(b, Crlf, pos)
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
    * `defaultParallelism` tasks (see [[ArchiveScan]]), each streaming its
    * archives through the walk.
    */
  def readWarcs(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob)((_, in) => responses(in))
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
          framed.write(Crlf)
          p += n
        }
        framed.write("0\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1))
        body = framed.toByteArray
        headers ++= "Transfer-Encoding: chunked\r\n"
      }
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n$headers\r\n"
      out.write(writeRecord("response", url, ts, Nil, http.getBytes(StandardCharsets.ISO_8859_1), body))
    }
    out.toByteArray
  }

  /** One WARC/1.0 record: type, target URI and date, then `fields`,
    * Content-Length and the payload, written in parts.
    */
  private[sources] def writeRecord(warcType: String, url: String, ts: Timestamp,
      fields: Seq[(String, String)], payload: Array[Byte]*): Array[Byte] = {
    val length = payload.map(_.length).sum
    val head = ((Seq("WARC-Type" -> warcType, "WARC-Target-URI" -> url, "WARC-Date" -> ts.toInstant.toString) ++
      fields :+ ("Content-Length" -> length.toString)).map { case (k, v) => s"$k: $v\r\n" })
      .mkString("WARC/1.0\r\n", "", "\r\n").getBytes(StandardCharsets.ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream(head.length + length + HeaderEnd.length)
    out.write(head)
    payload.foreach(out.write)
    out.write(HeaderEnd)
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
    val seen = scala.collection.mutable.HashMap.empty[String, (String, Timestamp)]
    records.foreach { case (url, ts, body) =>
      val digest = payloadDigest(body)
      out.write(seen.get(digest) match {
        case None =>
          seen(digest) = (url, ts)
          writeRecord("response", url, ts, Seq("WARC-Payload-Digest" -> digest),
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1), body)
        case Some((refUrl, refTs)) =>
          writeRecord("revisit", url, ts, Seq("WARC-Payload-Digest" -> digest, "WARC-Profile" -> RevisitProfile,
            "WARC-Refers-To-Target-URI" -> refUrl, "WARC-Refers-To-Date" -> refTs.toInstant.toString))
      })
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
  def parseWarcResolved(archive: Array[Byte]): (Seq[WarcRecord], Int) = {
    val byDigest = scala.collection.mutable.HashMap.empty[String, WarcRecord]
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var resolved = 0
    try records(new ByteArrayInputStream(archive)).foreach { r =>
      r.warcType match {
        case "response" =>
          val rec = response(r)
          r.headers.get("warc-payload-digest").foreach(d => byDigest.getOrElseUpdate(d, rec))
          out += rec
        case "revisit" =>
          r.headers.get("warc-payload-digest").flatMap(byDigest.get) match {
            case Some(ref) =>
              resolved += 1
              out += WarcRecord(r.url, r.date, ref.httpStatus, ref.body, null)
            case None =>
              out += WarcRecord(r.url, r.date, 0, Array.emptyByteArray,
                "unresolved revisit: digest not in archive")
          }
        case _ => () // warcinfo/request/metadata skipped as in parseWarc
      }
    } catch { case e: UnreadableArchive => out += unreadable(e.getMessage) }
    (out.toSeq, resolved)
  }
}
