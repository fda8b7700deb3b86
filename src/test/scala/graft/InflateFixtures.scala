package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.{DeflaterOutputStream, GZIPOutputStream, ZipEntry, ZipInputStream, ZipOutputStream}

/** Builders for compressed test documents: zero-filled streams of any size
  * (written 1 MiB at a time, so a bomb never exists inflated in the test
  * either), ZIP containers and one-page PDFs.
  */
object InflateFixtures {

  /** A zlib (RFC 1950) stream of `n` zero bytes. */
  def zlibZeros(n: Long): Array[Byte] = compress(new DeflaterOutputStream(_))(zeros(n))

  /** A gzip (RFC 1952) stream of `n` zero bytes. */
  def gzipZeros(n: Long): Array[Byte] = compress(new GZIPOutputStream(_))(zeros(n))

  def zlib(data: Array[Byte]): Array[Byte] = compress(new DeflaterOutputStream(_))(_.write(data))

  private def zeros(n: Long)(out: OutputStream): Unit = {
    val chunk = new Array[Byte](1 << 20)
    var left = n
    while (left > 0) {
      val k = math.min(left, chunk.length.toLong).toInt
      out.write(chunk, 0, k)
      left -= k
    }
  }

  private def compress[O <: OutputStream](wrap: OutputStream => O)(write: O => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = wrap(bos)
    write(out)
    out.close()
    bos.toByteArray
  }

  /** A ZIP container: Left(text) entries hold the text, Right(n) entries
    * hold `n` zero bytes.
    */
  def zip(parts: Seq[(String, Either[String, Long])]): Array[Byte] =
    compress(new ZipOutputStream(_)) { z =>
      parts.foreach { case (name, body) =>
        z.putNextEntry(new ZipEntry(name))
        body.fold(t => z.write(t.getBytes(StandardCharsets.UTF_8)), n => zeros(n)(z))
        z.closeEntry()
      }
    }

  /** The text entries of a ZIP container, in order. */
  def zipTexts(bytes: Array[Byte]): Seq[(String, Either[String, Long])] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> Left(new String(zin.readAllBytes(), StandardCharsets.UTF_8))).toList
    finally zin.close()
  }

  /** A one-page PDF. `contents` are the page's content streams and
    * `images` the image XObjects its resources name, each as (extra dict
    * entries, stream data).
    */
  def pdf(contents: Seq[(String, Array[Byte])], images: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    val contentNums = contents.indices.map(4 + _)
    val imageNums = images.indices.map(4 + contents.length + _)
    val xobjs = imageNums.zipWithIndex.map { case (n, i) => s"/Im${i + 1} $n 0 R" }.mkString(" ")
    w("%PDF-1.4\n")
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    w("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    w(s"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [${contentNums.map(n => s"$n 0 R").mkString(" ")}]" +
      s" /Resources << /Font << >> /XObject << $xobjs >> >> >>\nendobj\n")
    (contents ++ images).zip(contentNums ++ imageNums).foreach { case ((dict, data), n) =>
      w(s"$n 0 obj\n<< $dict /Length ${data.length} >>\nstream\n")
      out.write(data)
      w("\nendstream\nendobj\n")
    }
    w("trailer\n<< /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** A content stream drawing `text` in one line. */
  def textContent(text: String): Array[Byte] =
    s"BT /F1 12 Tf 1 0 0 1 72 720 Tm ($text) Tj ET".getBytes(ISO_8859_1)

  val Flate = "/Filter /FlateDecode"
  val Image = "/Type /XObject /Subtype /Image /Filter /FlateDecode"
}
