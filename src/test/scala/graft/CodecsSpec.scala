package graft

import graft.functions.{Codecs, FormatSniff}
import graft.operators.ExtractKernel
import graft.{PageIn}
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

class CodecsSpec extends AnyFunSuite {

  private val html =
    "<html><head><title>t</title></head><body><p>Alpha beta gamma delta epsilon.</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  test("gzip round-trips; isGzip; corrupt and truncated streams return None") {
    val z = Codecs.gzip(html)
    assert(Codecs.isGzip(z) && !Codecs.isGzip(html))
    assert(Codecs.gunzip(z).map(_.toSeq) == Some(html.toSeq))
    // truncated mid-deflate and header-only both fail closed
    assert(Codecs.gunzip(java.util.Arrays.copyOf(z, z.length / 2)).isEmpty)
    assert(Codecs.gunzip(Array[Byte](0x1F.toByte, 0x8B.toByte)).isEmpty)
    // flipped CRC byte fails closed
    val bad = z.clone(); bad(bad.length - 5) = (bad(bad.length - 5) ^ 0x7F).toByte
    assert(Codecs.gunzip(bad).isEmpty)
  }

  test("bomb guard: inflated size beyond maxOut returns None") {
    val bomb = Codecs.gzip(new Array[Byte](1 << 20)) // 1 MB of zeros, ~1 KB gzipped
    assert(Codecs.gunzip(bomb, maxOut = 1 << 10).isEmpty)
    assert(Codecs.gunzip(bomb).map(_.length) == Some(1 << 20))
  }

  test("inflate: complete, truncated and over-cap outcomes; the stream is closed on every path") {
    val data = Array.tabulate[Byte](100000)(i => (i * 7 % 251).toByte)
    val z = InflateFixtures.zlib(data)
    final class Tracked(in: java.io.InputStream) extends java.io.FilterInputStream(in) {
      var closed = false
      override def close(): Unit = { closed = true; super.close() }
    }
    def run(b: Array[Byte], cap: Long): (Tracked, Either[Throwable, Option[(Seq[Byte], Boolean)]]) = {
      val t = new Tracked(Codecs.zlib(b, 0, b.length))
      (t, try Right(Codecs.inflate(t, cap, 64).map(r => (r.bytes.toSeq, r.complete)))
          catch { case e: java.io.IOException => Left(e) })
    }
    val (t1, whole) = run(z, data.length)
    assert(whole == Right(Some((data.toSeq, true))) && t1.closed)
    val (t2, cut) = run(java.util.Arrays.copyOf(z, z.length - 4), data.length) // no Adler-32
    assert(cut == Right(Some((data.toSeq, false))) && t2.closed)
    val (t3, over) = run(z, data.length - 1L)
    assert(over == Right(None) && t3.closed)
    val bad = z.clone(); bad(2) = 0xFF.toByte // invalid deflate block type
    val (t4, corrupt) = run(bad, data.length)
    assert(corrupt.isLeft && t4.closed)
  }

  test("gunzipOrWhy: the over-cap reason is distinct from a decode error") {
    val bomb = Codecs.gzip(new Array[Byte](1 << 20))
    assert(Codecs.gunzipOrWhy(bomb, maxOut = 1 << 10) == Left(Codecs.OverCapError))
    assert(Codecs.gunzipOrWhy(java.util.Arrays.copyOf(bomb, bomb.length - 3)) == Left("gzip decode error"))
    assert(Codecs.gunzipOrWhy(bomb).map(_.length) == Right(1 << 20))
  }

  test("multi-member concatenated gzip decodes fully (RFC 1952 WARC shape)") {
    val a = "first member ".getBytes(StandardCharsets.UTF_8)
    val b = "second member".getBytes(StandardCharsets.UTF_8)
    val cat = Codecs.gzip(a) ++ Codecs.gzip(b)
    assert(Codecs.gunzip(cat).map(_.toSeq) == Some((a ++ b).toSeq))
  }

  test("unwrapGzip: bounded nesting, shared by sniff and kernel") {
    var nested = html
    for (_ <- 1 to FormatSniff.MaxGzipDepth) nested = Codecs.gzip(nested)
    assert(FormatSniff.unwrapGzip(nested).map(_.toSeq) == Right(html.toSeq))
    assert(FormatSniff.unwrapGzip(Codecs.gzip(nested)) == Left("gzip nesting too deep"))
    assert(FormatSniff.sniff(nested) == FormatSniff.Html)
    assert(FormatSniff.sniff(Codecs.gzip("%PDF-1.4\nx".getBytes(StandardCharsets.ISO_8859_1)))
      == FormatSniff.Pdf)
  }

  test("kernel sees through the envelope: gzip'd html extracts byte-identical; corrupt gzip is unsupported") {
    val ts = new java.sql.Timestamp(0L)
    val plain = ExtractKernel.extractOneIn(PageIn("u", ts, html, "en"))
    val zipped = ExtractKernel.extractOneIn(PageIn("u", ts, Codecs.gzip(html), "en"))
    assert(plain.status == "ok" && plain.format == "html")
    assert(zipped.text == plain.text && zipped.format == "html" && zipped.status == "ok")
    // n_bytes_in reports TRANSPORT bytes (what the scan read), not inflated
    assert(zipped.n_bytes_in == Codecs.gzip(html).length.toLong)
    val corrupt = java.util.Arrays.copyOf(Codecs.gzip(html), 12)
    val out = ExtractKernel.extractOneIn(PageIn("u", ts, corrupt, "en"))
    assert(out.format == "unsupported" && out.status == "unsupported"
      && out.error == "gzip decode error")
  }
}
