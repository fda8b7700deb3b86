package graft

import graft.functions.{ExifMeta, GifCodec, JpegCodec, Mp4Meta, PngCodec, WavCodec}
import graft.operators.ExtractKernel
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-byte totality: at 10^12 documents the kernel WILL see every
  * corruption the web can produce, and a single uncaught throw kills the
  * whole job stage. Property: for random garbage and for every magic-prefix
  * + garbage mutation, extractOne returns a row with the closed status
  * vocabulary, non-null placeholder-grammar text, and exact byte
  * accounting â it never throws; and every pure-JDK codec decode returns
  * None instead of throwing.
  */
class KernelFuzzSpec extends AnyFunSuite {

  private val statuses = Set("ok", "failed", "unsupported")
  private val ts = Timestamp.valueOf("2024-01-01 00:00:00")

  private val magics: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    "%PDF-".getBytes("ISO-8859-1"),
    "%PDF-1.7\n".getBytes("ISO-8859-1"),
    "{\\rtf1".getBytes("ISO-8859-1"),
    "PK".getBytes("ISO-8859-1"),
    Array(0x1f.toByte, 0x8b.toByte),                      // gzip
    Array(0x1f.toByte, 0x8b.toByte, 0x08.toByte, 0.toByte), // gzip + deflate flag
    Array(0xff.toByte, 0xfe.toByte),                      // UTF-16LE BOM
    Array(0xfe.toByte, 0xff.toByte),                      // UTF-16BE BOM
    Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte),         // UTF-8 BOM
    "<!doctype html><head><meta charset=\"".getBytes("ISO-8859-1"),
    "<html><body><table><tr><td>".getBytes("ISO-8859-1"),
    Array(0x89.toByte) ++ "PNG".getBytes("ISO-8859-1") ++ Array(0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte),
    Array(0xff.toByte, 0xd8.toByte, 0xff.toByte),         // JPEG SOI
    "GIF89a".getBytes("ISO-8859-1"),
    "RIFF".getBytes("ISO-8859-1"),
    "....ftypisom".getBytes("ISO-8859-1")
  )

  test("extractOne is total on 2000 adversarial payloads (magic prefixes + garbage)") {
    val rng = new scala.util.Random(7)
    for (i <- 0 until 2000) {
      val garbage = new Array[Byte](rng.nextInt(400))
      rng.nextBytes(garbage)
      val payload = magics(i % magics.length) ++ garbage
      val p = Page(s"u/fuzz-$i", ts, payload, null, "en")
      val e = ExtractKernel.extractOne(p)
      assert(statuses.contains(e.status), s"open status '${e.status}' on case $i")
      assert(e.text != null, s"null text on case $i (placeholder grammar broken)")
      assert(e.url == p.url && e.n_bytes_in == payload.length, s"accounting drift on case $i")
      if (e.status != "ok") assert(e.text == graft.functions.TextAssembly.NoText,
        s"non-ok row must carry the placeholder, got '${e.text.take(40)}' on case $i")
    }
  }

  test("decompression bombs past the inflate cap return a closed row with the fixed error") {
    import InflateFixtures._
    import graft.functions.Codecs
    val over = Codecs.MaxInflatedBytes + (1L << 20)
    val half = Codecs.MaxInflatedBytes / 2 + (1L << 20) // two of these pass the cap together
    val cases = Seq(
      ("pdf Flate content stream", "pdf", "failed", pdf(Seq(Flate -> zlibZeros(over)))),
      ("pdf, two content streams", "pdf", "failed",
        pdf(Seq(Flate -> zlibZeros(half), Flate -> zlibZeros(half)))),
      ("docx document.xml", "docx", "failed", zip(Seq("word/document.xml" -> Right(over)))),
      ("xlsx sheet1.xml", "xlsx", "failed", zip(Seq(
        "xl/workbook.xml" -> Left("<workbook><sheets><sheet name=\"S\"/></sheets></workbook>"),
        "xl/worksheets/sheet1.xml" -> Right(over)))),
      ("pptx slide1.xml", "pptx", "failed", zip(Seq("ppt/slides/slide1.xml" -> Right(over)))),
      ("pptx, two slides", "pptx", "failed",
        zip(Seq("ppt/slides/slide1.xml" -> Right(half), "ppt/slides/slide2.xml" -> Right(half)))),
      ("odt content.xml", "odt", "failed",
        zip(Seq("mimetype" -> Left("application/vnd.oasis.opendocument.text"), "content.xml" -> Right(over)))),
      ("gzip envelope", "unsupported", "unsupported", gzipZeros(over)),
      ("nested gzip", "unsupported", "unsupported", Codecs.gzip(gzipZeros(over))))
    for ((name, format, status, payload) <- cases) {
      assert(payload.length < (1 << 20), s"$name: the bomb itself should be small")
      val e = ExtractKernel.extractOne(Page("u/bomb", ts, payload, null, "en"))
      assert((e.format, e.status, e.error) == ((format, status, Codecs.OverCapError)), name)
      assert(e.text == graft.functions.TextAssembly.NoText && e.n_bytes_in == payload.length, name)
    }
  }

  test("every pure-JDK codec decode is total on garbage: None, never a throw") {
    val rng = new scala.util.Random(11)
    val codecMagics = Seq(
      Array(0x89.toByte) ++ "PNG".getBytes("ISO-8859-1") ++ Array(0x0d.toByte, 0x0a.toByte, 0x1a.toByte, 0x0a.toByte),
      Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte),
      "GIF89a".getBytes("ISO-8859-1"),
      "RIFFxxxxWAVEfmt ".getBytes("ISO-8859-1"),
      "....ftypisom....moov".getBytes("ISO-8859-1"),
      "ID3".getBytes("ISO-8859-1") ++ Array[Byte](3, 0, 0),
      Array(0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00.toByte),
      Array.empty[Byte]
    )
    for (i <- 0 until 600) {
      val garbage = new Array[Byte](rng.nextInt(256))
      rng.nextBytes(garbage)
      val b = codecMagics(i % codecMagics.length) ++ garbage
      assert(PngCodec.decode(b).forall(_.width > 0))
      assert(JpegCodec.decode(b).forall(_.width > 0))
      assert(GifCodec.decode(b).forall(_.width > 0))
      assert(WavCodec.decode(b).forall(c => c.sampleRate > 0 && c.samples != null))
      assert(Mp4Meta.decode(b).forall(m => m.durationMs >= 0))
      ExifMeta.parseJpeg(b) // total: Option, never a throw
      assert(ExifMeta.stripExif(b) != null)
      assert(graft.functions.Mp3Meta.parse(b).forall(_.nFrames >= 0))
    }
  }

  test("every structured-HTML consumer is total on 1500 adversarial markup strings") {
    import graft.functions.html.{HtmlLinks, ImageLinks, Microdata, StructuredData}
    val rng = new scala.util.Random(13)
    val shards = Seq(
      "", "<", "<>", "</", "<!--", "<!-- <a href=", "<base", "<base href",
      "<a href='", "<img srcset=\"a 1x,", "<link rel=\"canonical \" href=",
      "<meta http-equiv=refresh content=\"0; url=", "<div itemscope itemprop",
      "<span itemprop='a b' itemscope itemtype=", "<script type=\"application/ld+json\">{",
      "</div></div></span>", "<time itemprop=x datetime", "&#x; &amp &bogus;",
      "<a href=\"%zz%2\">", "<img src=\"http://[::bad\">")
    val base = "https://h.example/d/p.html"
    for (i <- 0 until 1500) {
      // random splice of structural shards + random chars (incl. controls,
      // quotes, '>' and surrogate-free unicode)
      val sb = new StringBuilder(shards(i % shards.length))
      for (_ <- 0 until rng.nextInt(80)) {
        if (rng.nextBoolean()) sb.append(shards(rng.nextInt(shards.length)))
        else sb.append((rng.nextInt(0x2000) + 1).toChar)
      }
      val h = sb.toString
      // totality: every consumer returns a value, never throws; resolved
      // link urls keep the http(s) contract
      val m = StructuredData.extract(h)
      assert(m.title != null && m.metas != null && m.links != null && m.hreflangs != null)
      m.metas.get("http-equiv:refresh").foreach(StructuredData.refreshTarget)
      assert(HtmlLinks.extract(h, base).forall(_._1.startsWith("http")))
      assert(ImageLinks.extract(h, base).forall(_.url.startsWith("http")))
      assert(Microdata.extract(h).forall(t =>
        t.itemtype != null && t.prop != null && t.value != null))
      // outline/section tier: numbering well-formed, chunk windows bounded
      StructuredData.firstTime(h)
      val hs = graft.functions.html.Outline.extract(h)
      assert(hs.forall(x => x.level >= 1 && x.level <= 6 &&
        x.number.nonEmpty && x.title != null))
      assert(graft.functions.html.Outline.sections(h).forall(_.text != null))
      assert(graft.functions.html.Outline.sectionChunks(h, 5)
        .forall(c => c.text.nonEmpty && c.chunk >= 0))
      assert(graft.functions.html.CodeBlocks.extract(h)
        .forall(b => b.lang != null && b.text.trim.nonEmpty))
    }
  }
}
