package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException, IOException, InputStream}
import java.util.zip.{Deflater, GZIPInputStream, Inflater, InflaterInputStream}

/** Compressed payloads: gzip envelopes (HTTP `Content-Encoding`),
  * PDF `/FlateDecode` streams, OOXML/ODF ZIP entries, PNG `IDAT`. Every
  * decompression of a document reads through ONE bounded loop,
  * [[inflate]]: a 10 KB bomb must not allocate 10 GB on an executor. The
  * one inflate loop outside it is the WARC member walk
  * ([[graft.sources.WarcReader.records]]), which inflates an archive one
  * gzip member at a time and keeps at most one record.
  */
object Codecs {

  /** Inflated bytes per document: the gzip envelope's cap, and what one
    * PDF's streams or one ZIP container's entries sum against.
    */
  final val MaxInflatedBytes: Int = 64 << 20
  final val OverCapError = s"decompressed size over ${MaxInflatedBytes >> 20} MiB cap"

  /** A kernel's document inflated past [[MaxInflatedBytes]]. */
  final class OverCapException extends RuntimeException(OverCapError, null, false, false)

  /** What [[inflate]] read: the whole stream, or (`complete` false) the
    * bytes inflated before its input ran out.
    */
  final case class Inflated(bytes: Array[Byte], complete: Boolean)

  /** Reads `in` to its end straight into a buffer of `initial` bytes that
    * doubles up to `cap` (None past it), and closes `in` in a finally.
    * Corrupt data throws its IOException; each caller keeps its own rule
    * for a truncated stream.
    */
  def inflate(in: InputStream, cap: Long, initial: Int): Option[Inflated] = {
    var buf = new Array[Byte](math.min(initial.toLong, cap).toInt)
    var size = 0
    try {
      var n = 0
      while (n >= 0) {
        if (size == buf.length) {
          if (size >= cap) return if (in.read() < 0) Some(Inflated(buf, complete = true)) else None
          buf = java.util.Arrays.copyOf(buf, math.min(cap, math.max(2L * size, 4096)).toInt)
        }
        n = in.read(buf, size, buf.length - size)
        if (n > 0) size += n
      }
      Some(Inflated(if (size == buf.length) buf else java.util.Arrays.copyOf(buf, size), complete = true))
    } catch { case _: EOFException => Some(Inflated(java.util.Arrays.copyOf(buf, size), complete = false)) }
    finally in.close()
  }

  /** zlib (RFC 1950) over `b(off until off + len)`; closing ends its inflater. */
  def zlib(b: Array[Byte], off: Int, len: Int): InputStream =
    new InflaterInputStream(new ByteArrayInputStream(b, off, len), new Inflater(), math.max(1, math.min(len, 1 << 16))) {
      override def close(): Unit = try super.close() finally inf.end()
    }

  /** RFC 1952 magic. */
  def isGzip(b: Array[Byte]): Boolean =
    b != null && b.length >= 2 && (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B

  /** Decompress one-or-more concatenated gzip members (RFC 1952). None on
    * corrupt or truncated input or past `maxOut` decompressed bytes.
    */
  def gunzip(bytes: Array[Byte], maxOut: Int = MaxInflatedBytes): Option[Array[Byte]] =
    gunzipOrWhy(bytes, maxOut).toOption

  /** [[gunzip]] with the reason: [[OverCapError]], or "gzip decode error". */
  def gunzipOrWhy(bytes: Array[Byte], maxOut: Int = MaxInflatedBytes): Either[String, Array[Byte]] =
    if (!isGzip(bytes)) Left("gzip decode error")
    else try inflate(new GZIPInputStream(new ByteArrayInputStream(bytes)), maxOut,
        math.min(bytes.length.toLong * 4, 1 << 16).toInt) match {
      case Some(Inflated(out, true)) => Right(out)
      case None                      => Left(OverCapError)
      case _                         => Left("gzip decode error")
    } catch { case _: IOException => Left("gzip decode error") } // corrupt header, data or CRC

  /** zlib (RFC 1950) at BEST_SPEED: PNG `IDAT` and generated PDF streams. */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED)
    try {
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Compress (single member). Test/generator helper and WARC writer leg. */
  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(64, bytes.length / 2))
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }
}
