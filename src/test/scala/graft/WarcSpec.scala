package graft

import graft.functions.Codecs
import graft.sources.WarcReader
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-warc")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(i: Int) = Timestamp.from(java.time.Instant.parse(f"2026-01-${i + 1}%02dT00:00:00Z"))
  private def body(i: Int) =
    s"<html><head><title>p$i</title></head><body><p>page $i content words here.</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)

  test("round trip: plain, gzip content-encoding, chunked, chunked+gzip bodies all parse byte-identical") {
    val recs = (0 until 8).map(i => (s"https://w.example.org/p/$i", ts(i), body(i)))
    val archive = WarcReader.writeWarc(recs,
      gzipBody = i => i % 2 == 0, chunked = i => i % 3 == 0)
    val parsed = WarcReader.parseWarc(archive)
    assert(parsed.length == 8)
    parsed.zipWithIndex.foreach { case (r, i) =>
      assert(r.error == null, s"record $i: ${r.error}")
      assert(r.url == s"https://w.example.org/p/$i" && r.warcTs == ts(i) && r.httpStatus == 200)
      assert(r.body.toSeq == body(i).toSeq, s"record $i body differs")
    }
    // whole-archive gzip (.warc.gz shape) parses identically
    val gz = WarcReader.parseWarc(Codecs.gzip(archive))
    assert(gz.map(_.body.toSeq) == parsed.map(_.body.toSeq))
  }

  test("non-response records are skipped by length; malformed envelopes kept with error; truncation stops cleanly") {
    val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\nsoftware\n\r\n\r\n"
      .getBytes(StandardCharsets.ISO_8859_1)
    val good = WarcReader.writeWarc(Seq(("https://w/x", ts(0), body(0))))
    // response payload that is not HTTP at all
    val rawPayload = "just bytes, no status line".getBytes(StandardCharsets.ISO_8859_1)
    val nonHttp = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w/raw\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${rawPayload.length}\r\n\r\n")
      .getBytes(StandardCharsets.ISO_8859_1) ++ rawPayload ++
      "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    val parsed = WarcReader.parseWarc(info ++ good ++ nonHttp)
    assert(parsed.length == 2)
    assert(parsed(0).error == null && parsed(0).url == "https://w/x")
    assert(parsed(1).error == "malformed http envelope" && parsed(1).body.toSeq == rawPayload.toSeq)
    // truncated mid-payload: parser returns what it completed, no throw
    val truncated = WarcReader.parseWarc((info ++ good).dropRight(good.length / 2))
    assert(truncated.isEmpty)
    // hostile Content-Length must not wrap: a record with an absurd length
    // gives one error row and no page
    val hostile = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w/h\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: 9223372036854775806\r\n\r\nx")
      .getBytes(StandardCharsets.ISO_8859_1)
    val refused = WarcReader.parseWarc(hostile)
    assert(refused.length == 1 && refused.head.url == "" && refused.head.error.contains("malformed WARC record"))
  }

  test("encoding header lists and aliases: x-gzip decodes, unsupported tokens tag the record") {
    def record(httpHeaders: String, httpBody: Array[Byte]): Array[Byte] = {
      val http = s"HTTP/1.1 200 OK\r\n$httpHeaders\r\n".getBytes(StandardCharsets.ISO_8859_1) ++ httpBody
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w/e\r\n" +
        s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: ${http.length}\r\n\r\n")
        .getBytes(StandardCharsets.ISO_8859_1) ++ http ++
        "\r\n\r\n".getBytes(StandardCharsets.ISO_8859_1)
    }
    // RFC 2616 alias: Content-Encoding: x-gzip is gzip
    val xgz = WarcReader.parseWarc(record("Content-Encoding: x-gzip\r\n", Codecs.gzip(body(0))))
    assert(xgz.length == 1 && xgz.head.error == null && xgz.head.body.toSeq == body(0).toSeq)
    // unsupported tokens (br; TE gzip) tag the record instead of passing
    // undecoded bytes through as a clean page
    val br = WarcReader.parseWarc(record("Content-Encoding: br\r\n", body(0)))
    assert(br.head.error == "unsupported encoding: br")
    val teList = WarcReader.parseWarc(record("Transfer-Encoding: chunked, gzip\r\n", body(0)))
    assert(teList.head.error == "unsupported encoding: gzip")
    // list values still decode the supported combination
    val ceList = WarcReader.parseWarc(record("Content-Encoding: identity, gzip\r\n", Codecs.gzip(body(1))))
    assert(ceList.head.error == null && ceList.head.body.toSeq == body(1).toSeq)
  }

  test("unreadable archive envelope: error record from parseWarc, loud failure from the index walk") {
    // gzip magic followed by garbage: isGzip says yes, inflate fails
    val corrupt = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0, 42, 42, 42)
    val parsed = WarcReader.parseWarc(corrupt)
    assert(parsed.length == 1 && parsed.head.error != null &&
      parsed.head.error.contains("gunzip failed"))
    // the index/WET walk has no error channel: it must throw, not return empty
    assertThrows[java.io.IOException](WarcReader.records(new java.io.ByteArrayInputStream(corrupt)).toList)
    // the pages before a bad member stay, and the error row follows them
    val good = WarcReader.writeWarcRecordGz((0 until 3).map(i => (s"https://w/g$i", ts(i), body(i))))
    val mixed = WarcReader.parseWarc(good ++ corrupt)
    assert(mixed.map(_.url) == Seq("https://w/g0", "https://w/g1", "https://w/g2", ""))
    assert(mixed.take(3).forall(_.error == null) && mixed.last.error.contains("gunzip failed"))
  }

  test("readWarcs: archives on disk -> pages-shaped rows; extraction runs downstream") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warc").toFile
    try {
      val recsA = (0 until 5).map(i => (s"https://a.example.org/$i", ts(i), body(i)))
      val recsB = (5 until 9).map(i => (s"https://b.example.org/$i", ts(i), body(i)))
      java.nio.file.Files.write(new java.io.File(dir, "a.warc").toPath,
        WarcReader.writeWarc(recsA, gzipBody = _ % 2 == 0))
      java.nio.file.Files.write(new java.io.File(dir, "b.warc.gz").toPath,
        Codecs.gzip(WarcReader.writeWarc(recsB, chunked = _ % 2 == 1)))
      val df = WarcReader.readWarcs(spark, dir.getAbsolutePath + "/*")
      assert(df.columns.toSeq == Seq("url", "warc_ts", "html", "lang", "http_status", "ingest_error"))
      assert(df.count() == 9)
      assert(df.filter($"ingest_error".isNotNull).count() == 0)
      // ingested rows feed the kernel directly and extract as html
      val pages = df.select($"url", $"warc_ts", $"html", $"lang")
        .withColumn("text", org.apache.spark.sql.functions.lit(null).cast("string"))
        .select($"url", $"warc_ts", $"html", $"text", $"lang").as[Page]
      val extracted = graft.operators.ExtractKernel.extract(pages)
      assert(extracted.filter($"status" === "ok" && $"format" === "html").count() == 9)
      val one = extracted.filter($"url" === "https://a.example.org/3")
        .select($"text").as[String].head()
      assert(one.contains("page 3 content words here."))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("revisit dedup: first capture full, repeats as revisit records, resolution restores bytes") {
    import graft.sources.WarcReader
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // bodies must exceed the ~250-byte revisit record for dedup to win —
    // the tradeoff is real: a 13-byte body is CHEAPER stored inline
    val bodyA = ("alpha content " * 100).getBytes("UTF-8")
    val bodyB = ("beta " * 100).getBytes("UTF-8")
    val recs = Seq(
      ("https://w/a1", ts0, bodyA),
      ("https://w/b1", ts0, bodyB),
      ("https://w/a2", ts0, bodyA), // same bytes -> revisit of a1
      ("https://w/a3", ts0, bodyA),
      ("https://w/b2", ts0, bodyB))
    val deduped = WarcReader.writeWarcDeduped(recs)
    val full = WarcReader.writeWarc(recs)
    assert(deduped.length < full.length, "revisit records must shrink the archive")
    val (resolved, nRes) = WarcReader.parseWarcResolved(deduped)
    assert(nRes == 3)
    assert(resolved.length == 5)
    val byUrl = resolved.map(r => r.url -> r).toMap
    assert(byUrl("https://w/a2").body.sameElements(bodyA))
    assert(byUrl("https://w/a3").body.sameElements(bodyA))
    assert(byUrl("https://w/b2").body.sameElements(bodyB))
    assert(resolved.forall(_.error == null))
    // spec-pinned digest: SHA-1 of empty bytes in WARC base32 form
    assert(WarcReader.payloadDigest(Array.emptyByteArray) ==
      "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ")
  }

  test("unresolved revisit surfaces an error record, never silent loss") {
    import graft.sources.WarcReader
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // a deduped pair, then drop the response record: keep only the revisit
    val deduped = WarcReader.writeWarcDeduped(Seq(
      ("https://w/a1", ts0, "x".getBytes), ("https://w/a2", ts0, "x".getBytes)))
    // find the second record start (the revisit) and slice from there
    val text = new String(deduped, "ISO-8859-1")
    val second = text.indexOf("WARC/1.0", 8)
    val onlyRevisit = deduped.drop(second)
    val (recs, nRes) = WarcReader.parseWarcResolved(onlyRevisit)
    assert(nRes == 0 && recs.length == 1)
    assert(recs.head.error != null && recs.head.error.contains("unresolved revisit"))
  }

  test("httpHeaderView: status, lower-cased first-wins headers, non-HTTP None") {
    import graft.sources.WarcReader.httpHeaderView
    val env = ("HTTP/1.1 304 Not Modified\r\nETag: \"a\"\r\nEtAg: \"b\"\r\n" +
      "Content-Type: text/html; charset=utf-8\r\n\r\nbody").getBytes("ISO-8859-1")
    val (status, h) = httpHeaderView(env).get
    assert(status == 304)
    assert(h("etag") == "\"a\"") // duplicate header: first occurrence wins
    assert(h("content-type") == "text/html; charset=utf-8")
    assert(httpHeaderView("not http at all\r\n\r\nx".getBytes("ISO-8859-1")).isEmpty)
    assert(httpHeaderView(null).isEmpty)
    // header-terminator missing: not a complete envelope
    assert(httpHeaderView("HTTP/1.1 200 OK\r\nA: b".getBytes("ISO-8859-1")).isEmpty)
  }
}
