package graft

import graft.InflateFixtures._
import graft.fixtures.{OfficeGen, Rng}
import graft.functions.{Codecs, PngCodec}
import graft.functions.office.DocxKernel
import graft.functions.pdf.PdfExtractor
import graft.operators.ExtractKernel
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Behaviours every decompression path keeps under its inflate cap: what a
  * truncated stream means to each caller, and that streams and entries no
  * kernel reads are never inflated and never count against the cap.
  */
class BoundedInflateSpec extends AnyFunSuite {

  private val Cap = Codecs.MaxInflatedBytes
  private val ts = Timestamp.valueOf("2024-01-01 00:00:00")

  test("pdf: a Flate content stream missing its Adler-32 trailer extracts the same text") {
    val z = zlib(textContent("text before the missing checksum"))
    val whole = PdfExtractor.extract(pdf(Seq(Flate -> z)))
    val cut = PdfExtractor.extract(pdf(Seq(Flate -> java.util.Arrays.copyOf(z, z.length - 4))))
    assert(whole.map(_.text).exists(_.contains("text before the missing checksum")))
    assert(cut.map(_.text) == whole.map(_.text))
  }

  test("png: a CRC-valid IDAT whose zlib stream is truncated decodes to None") {
    val png = PngCodec.encode(PngCodec.Image(4, 3, Array.tabulate[Byte](36)(_.toByte)))
    assert(PngCodec.decode(png).isDefined)
    // chunks after the 8-byte signature: length, type, data, CRC over type+data
    def be32(i: Int): Int = java.nio.ByteBuffer.wrap(png, i, 4).getInt
    var pos = 8
    while (new String(png, pos + 4, 4, "ISO-8859-1") != "IDAT") pos += 12 + be32(pos)
    val len = be32(pos)
    val data = java.util.Arrays.copyOfRange(png, pos + 8, pos + 8 + len - 4) // drop the Adler-32
    val crc = new java.util.zip.CRC32()
    crc.update("IDAT".getBytes("ISO-8859-1")); crc.update(data)
    val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put("IDAT".getBytes("ISO-8859-1")).put(data).putInt(crc.getValue.toInt).array()
    val cut = png.take(pos) ++ chunk ++ png.drop(pos + 12 + len)
    assert(PngCodec.decode(cut).isEmpty)
  }

  test("pdf: an image stream that inflates past the cap is never inflated; the text extracts") {
    val content = Seq(Flate -> zlib(textContent("caption beside a large image")))
    val plain = ExtractKernel.extractOneIn(PageIn("u", ts, pdf(content), "en"))
    val big = ExtractKernel.extractOneIn(
      PageIn("u", ts, pdf(content, Seq(Image -> zlibZeros(Cap + (1L << 20)))), "en"))
    assert(plain.status == "ok" && plain.text.contains("caption beside a large image"))
    assert(big.status == "ok" && big.text == plain.text)
  }

  test("docx: an unread word/media entry past the cap is never inflated; the text extracts") {
    val d = OfficeGen.docx(new Rng(41L))
    val withMedia = zip(("word/media/image1.png" -> Right(Cap + (1L << 20))) +: zipTexts(d.bytes))
    assert(DocxKernel.extract(withMedia)._1 == d.golden)
    val row = ExtractKernel.extractOneIn(PageIn("u", ts, withMedia, "en"))
    assert(row.format == "docx" && row.status == "ok" && row.text == d.golden)
  }
}
