package graft

import graft.functions.Codecs
import graft.sources.{WarcIndex, WarcReader, WatSink, WetSink}
import java.io.ByteArrayInputStream
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, forAllNoShrink}
import org.scalatest.funsuite.AnyFunSuite

/** The streamed record walk, `WarcReader.records`: every archive layout,
  * damage in the gzip layer, and archives far larger than one array.
  */
class WarcWalkSpec extends AnyFunSuite {
  import WarcWalkSpec._

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-warc-walk")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(i: Int) = new Timestamp(1735689600000L + i * 1000L)

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-walk")
    try body(dir) finally Fs.deleteRecursively(dir)
  }

  private def walk(bytes: Array[Byte], payloads: Boolean = true): List[WarcReader.Record] =
    WarcReader.records(new ByteArrayInputStream(bytes), payloads).toList

  private def throws(f: => Any): Boolean = try { f; false } catch { case _: java.io.IOException => true }

  test("1,030 records of 1 MiB in a 1.3 MB per-record-gzip archive read as 1,030 clean rows") {
    val body = ("<p>" + "a" * ((1 << 20) - 3)).getBytes("UTF-8")
    val recs = (0 until 1030).map(i => (s"https://big.example.org/p/$i", ts(i), body))
    val archive = WarcReader.writeWarcRecordGz(recs)
    assert(archive.length < 1400000, s"${archive.length} bytes")
    withDir { dir =>
      Files.write(dir.resolve("big.warc.gz"), archive)
      val rows = WarcReader.readWarcs(spark, dir.toString)
        .select(F.col("url"), F.length(F.col("html")), F.col("http_status"), F.col("ingest_error"))
        .collect()
      assert(rows.length == 1030)
      assert(rows.map(_.getString(0)).toSet == recs.map(_._1).toSet)
      rows.foreach { r =>
        assert(r.isNullAt(3), String.valueOf(r.get(3)))
        assert(r.getInt(1) == body.length && r.getInt(2) == 200)
      }
    }
  }

  test("an archive that inflates past 2 GiB streams through readWarcs; every row is counted") {
    // one 1 MiB record's member, repeated: 2,100 MiB inflated from ~2 MB
    val member = Codecs.gzip(WarcReader.writeWarc(
      Seq(("https://huge.example.org/p", ts(0), Array.fill[Byte](1 << 20)('b')))))
    val copies = 2100
    withDir { dir =>
      val out = Files.newOutputStream(dir.resolve("huge.warc.gz"))
      try (0 until copies).foreach(_ => out.write(member)) finally out.close()
      val row = WarcReader.readWarcs(spark, dir.toString)
        .agg(F.count(F.lit(1)), F.count(F.col("ingest_error")), F.sum(F.length(F.col("html"))))
        .head()
      assert(row.getLong(0) == copies && row.getLong(1) == 0L)
      assert(row.getLong(2) == copies.toLong << 20 && row.getLong(2) > (2L << 30))
    }
  }

  // ---- every layout, with and without damage --------------------------

  /** RFC 1952 header fields a third-party writer may set, spliced into a
    * member that `GZIPOutputStream` wrote with none.
    */
  private def withFlags(member: Array[Byte], extra: Boolean, name: Boolean, comment: Boolean,
      hcrc: Boolean): Array[Byte] = {
    val flg = (if (hcrc) 2 else 0) | (if (extra) 4 else 0) | (if (name) 8 else 0) | (if (comment) 16 else 0)
    var head = member.take(3) ++ Array(flg.toByte) ++ member.slice(4, 10)
    if (extra) head ++= Array[Byte](5, 0, 87, 65, 1, 2, 3)
    if (name) head ++= "file.warc\u0000".getBytes("ISO-8859-1")
    if (comment) head ++= "a comment\u0000".getBytes("ISO-8859-1")
    if (hcrc) {
      val c = new java.util.zip.CRC32
      c.update(head)
      head ++= Array((c.getValue & 0xFF).toByte, ((c.getValue >> 8) & 0xFF).toByte)
    }
    head ++ member.drop(10)
  }

  private val genRecs: Gen[Seq[Rec]] = for {
    n <- Gen.choose(0, 10)
    bodies <- Gen.listOfN(n, Gen.frequency(
      3 -> Gen.choose(0, 300).flatMap(k => Gen.listOfN(k, Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray),
      1 -> Gen.oneOf("", "\r\n\r\n", "WARC/1.0\r\n\r\n", "HTTP/1.1 200 OK\r\n\r\n").map(_.getBytes("ISO-8859-1"))))
  } yield bodies.zipWithIndex.map { case (b, i) => Rec(s"https://walk.example.org/$i", ts(i), b) }

  private def writeOne(r: Rec): Array[Byte] = WarcReader.writeWarc(Seq((r.url, r.ts, r.body)))

  /** Every layout of `recs`, each record serialized by `one`. */
  private def genBuilt(recs: Seq[Rec], one: Rec => Array[Byte] = writeOne): Gen[Built] = {
    val plain = recs.map(one).foldLeft(Array.emptyByteArray)(_ ++ _)
    val flags = Gen.listOfN(4, Gen.prob(0.3))
    def gz(parts: Seq[Array[Byte]]): Gen[Seq[Array[Byte]]] =
      Gen.sequence[Seq[Array[Byte]], Array[Byte]](parts.map(p => flags.map(f =>
        withFlags(Codecs.gzip(p), f(0), f(1), f(2), f(3)))))
    Gen.oneOf(
      Gen.const(Built(plain, Nil, "plain")),
      gz(Seq(plain)).map(Built(plain, _, "whole-archive gzip")),
      gz(recs.map(one)).map(Built(plain, _, "per-record gzip")),
      Gen.choose(1, 4).flatMap(k => gz(recs.grouped(k).map(g => g.map(one).reduce(_ ++ _)).toSeq))
        .map(Built(plain, _, "records grouped in members")),
      Gen.listOfN(3, Gen.choose(0, plain.length)).flatMap { cuts =>
        val at = (0 +: cuts.sorted :+ plain.length).distinct
        gz(at.sliding(2).collect { case Seq(a, b) => plain.slice(a, b) }.toSeq)
      }.map(Built(plain, _, "members cut anywhere")))
  }

  /** What the walk must give: the writer's records as pages. */
  private def pages(recs: Seq[Rec]): Seq[(String, Timestamp, Seq[Byte])] =
    recs.map(r => (r.url, r.ts, r.body.toSeq))

  private def asPages(rs: Seq[WarcReader.WarcRecord]): Seq[(String, Timestamp, Seq[Byte])] =
    rs.map(r => (r.url, r.warcTs, r.body.toSeq))

  test("walk == writer on every layout; index coordinates round-trip through readRecordAt") {
    val prop = forAll(genRecs.flatMap(r => genBuilt(r).map(b => (r, b)))) { case (recs, built) =>
      val got = walk(built.bytes)
      val clean = asPages(WarcReader.parseWarc(built.bytes))
      val skipped = walk(built.bytes, payloads = false)
      val coords = got.map(r => (r.offset, r.length, r.seekable))
      val roundTrip = got.map { r =>
        val stream = if (r.seekable) built.bytes else built.plain
        WarcIndex.readRecordAt(stream, r.offset, r.length).map(w => (w.url, w.warcTs, w.body.toSeq))
      }
      val seekable = built.layout match {
        case "plain" | "per-record gzip" => got.forall(_.seekable)
        case "whole-archive gzip"        => got.forall(_.seekable == (recs.length == 1))
        case _                           => true
      }
      Prop(clean == pages(recs)) :| s"${built.layout}: parseWarc" &&
        Prop(skipped.map(r => (r.offset, r.length, r.seekable)) == coords &&
          skipped.forall(_.payload.isEmpty)) :| "coordinates without payloads" &&
        Prop(roundTrip == pages(recs).map(Some(_))) :| s"${built.layout}: readRecordAt $coords" &&
        Prop(seekable) :| s"${built.layout}: seekable flags $coords"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(400), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("damage: the writer's records up to it, then one error row from parseWarc; index, WET and WAT throw") {
    val damaged: Gen[(Seq[Rec], Built, Array[Byte], Long, Boolean)] = for {
      recs <- genRecs
      built <- genBuilt(recs)
      kind <- Gen.oneOf("truncate", "magic", "crc")
      cut <- Gen.choose(0, math.max(0, built.bytes.length - 1))
      at <- Gen.choose(0, math.max(0, built.members.length - 1))
    } yield {
      val memberStart = if (at == 0) 0L else built.memberEnds(at - 1)
      if (kind == "truncate" || built.members.isEmpty) {
        // a cut on a member boundary leaves whole members: no damage; a cut
        // after the first byte leaves a byte that starts no record
        val hurt = built.members.nonEmpty && cut >= 1 && !built.memberEnds.contains(cut.toLong)
        (recs, built, built.bytes.take(cut), if (hurt) built.memberEnds.filter(_ <= cut).lastOption.getOrElse(0L) else cut.toLong, hurt)
      } else {
        // broken magic on the first member leaves an archive that starts
        // with neither gzip magic nor a WARC record
        val bytes = built.bytes.clone()
        if (kind == "magic") bytes(memberStart.toInt) = 'W'
        else bytes(built.memberEnds(at).toInt - 8) = (bytes(built.memberEnds(at).toInt - 8) ^ 1).toByte
        (recs, built, bytes, memberStart, true)
      }
    }
    var hurtCases = 0
    val prop = forAll(damaged) { case (recs, built, bytes, intactTo, hurt) =>
      if (hurt) hurtCases += 1
      // records wholly inside the bytes before the damage must all come back
      val ends = recs.indices.map(i => WarcReader.writeWarc(recs.take(i + 1).map(r => (r.url, r.ts, r.body))).length - 4)
      val intactInflated =
        if (built.members.isEmpty) intactTo
        else built.members.zip(built.memberEnds).filter(_._2 <= intactTo)
          .map(m => Codecs.gunzip(m._1, Int.MaxValue - 16).get.length.toLong).sum
      val atLeast = ends.count(_ <= intactInflated)
      val walked = scala.collection.mutable.ArrayBuffer.empty[WarcReader.Record]
      val threw =
        try { WarcReader.records(new ByteArrayInputStream(bytes)).foreach(walked += _); false }
        catch { case _: WarcReader.UnreadableArchive => true }
      val got = walked.map(r => (r.url, r.date)).toSeq
      val prefix = got == recs.take(got.length).map(r => (r.url, r.ts))
      val parsed = WarcReader.parseWarc(bytes)
      val gzipMagic = bytes.length >= 2 && (bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B
      val why = if (gzipMagic) "gunzip failed" else "neither gzip magic nor a WARC record"
      Prop(threw == hurt) :| s"${built.layout}: threw $threw" &&
        Prop(prefix && got.length >= atLeast) :| s"${built.layout}: ${got.length} records, at least $atLeast" &&
        Prop(asPages(parsed.take(got.length)) == pages(recs.take(got.length))) :| "parseWarc pages" &&
        Prop(parsed.length == got.length + (if (hurt) 1 else 0) &&
          (!hurt || parsed.last.error.contains(why))) :| s"parseWarc error row ${parsed.lastOption.map(_.error)}" &&
        Prop(throws(walk(bytes, payloads = false)) == hurt) :| "index walk" &&
        Prop(throws(WetSink.parseWet(bytes)) == hurt && throws(WatSink.parseWat(bytes)) == hurt) :| "WET and WAT"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(400), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(hurtCases > 100, s"only $hurtCases damaged archives")
  }

  test("a malformed Content-Length: the records before it, then one error row; index, WET and WAT throw") {
    val damaged: Gen[(Seq[Rec], Int, Built)] = for {
      recs <- genRecs.suchThat(_.nonEmpty)
      k <- Gen.choose(0, recs.length - 1)
      built <- genBuilt(recs, r => {
        val bytes = writeOne(r)
        if (r.url != recs(k).url) bytes
        else new String(bytes, "ISO-8859-1").replaceFirst("Content-Length: ", "Content-Length: x")
          .getBytes("ISO-8859-1")
      })
    } yield (recs, k, built)
    val layouts = scala.collection.mutable.Set.empty[String]
    // no shrinking: a shrunk record list no longer matches the archive built from it
    val prop = forAllNoShrink(damaged) { case (recs, k, built) =>
      layouts += built.layout
      val walked = scala.collection.mutable.ArrayBuffer.empty[WarcReader.Record]
      val threw =
        try { WarcReader.records(new ByteArrayInputStream(built.bytes)).foreach(walked += _); false }
        catch { case _: WarcReader.UnreadableArchive => true }
      val parsed = WarcReader.parseWarc(built.bytes)
      Prop(threw && walked.map(r => (r.url, r.date)) == recs.take(k).map(r => (r.url, r.ts))) :|
        s"${built.layout}: threw $threw after ${walked.length} records, want $k" &&
        Prop(asPages(parsed.take(k)) == pages(recs.take(k)) && parsed.length == k + 1 &&
          parsed.last.error.contains("malformed WARC record")) :|
        s"${built.layout}: parseWarc ${parsed.length} rows, last ${parsed.lastOption.map(_.error)}" &&
        Prop(throws(walk(built.bytes, payloads = false))) :| "index walk" &&
        Prop(throws(WetSink.parseWet(built.bytes)) && throws(WatSink.parseWat(built.bytes))) :| "WET and WAT"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(400), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(layouts.size == 5, layouts)
  }

  test("index coordinates of every layout round-trip through readSplit and fetch") {
    import spark.implicits._
    val recs = (0 until 24).map(i => Rec(s"https://layout.example.org/$i", ts(i),
      s"<html><body>layout page $i</body></html>".getBytes("UTF-8")))
    def plain(rs: Seq[Rec]) = WarcReader.writeWarc(rs.map(r => (r.url, r.ts, r.body)))
    val groups = recs.grouped(6).toSeq
    withDir { dir =>
      Files.write(dir.resolve("a.warc"), plain(groups(0)))
      Files.write(dir.resolve("b.warc.gz"), Codecs.gzip(plain(groups(1))))
      Files.write(dir.resolve("c.warc.gz"), WarcReader.writeWarcRecordGz(groups(2).map(r => (r.url, r.ts, r.body))))
      Files.write(dir.resolve("d.warc.gz"), groups(3).grouped(2).map(g =>
        withFlags(Codecs.gzip(plain(g)), extra = true, name = true, comment = true, hcrc = true)).reduce(_ ++ _))
      val idx = WarcIndex.index(spark, dir.toString).cache()
      assert(idx.count() == 24)
      val seekable = idx.filter($"seekable").select($"url").as[String].collect().toSet
      assert(seekable == (groups(0) ++ groups(2)).map(_.url).toSet)
      val want = recs.map(r => (r.url, r.body.toSeq)).sortBy(_._1)
      val split = WarcIndex.readSplit(spark, idx.filter($"seekable"), numSlices = 3)
        .select($"url", $"html").as[(String, Array[Byte])].collect().map(r => (r._1, r._2.toSeq)).sortBy(_._1)
      assert(split.toSeq == want.filter(w => seekable(w._1)))
      val fetched = WarcIndex.fetch(spark, idx, recs.map(_.url).toDF("url"))
        .as[(String, Timestamp, Array[Byte])].collect().map(r => (r._1, r._3.toSeq)).sortBy(_._1)
      assert(fetched.toSeq == want)
      idx.unpersist()
    }
  }
}

object WarcWalkSpec {
  final case class Rec(url: String, ts: Timestamp, body: Array[Byte])

  /** An archive as its writer built it: the plain record stream and the
    * gzip members that carry it (none for a plain archive).
    */
  final case class Built(plain: Array[Byte], members: Seq[Array[Byte]], layout: String) {
    val bytes: Array[Byte] = if (members.isEmpty) plain else members.reduceOption(_ ++ _).getOrElse(Array.empty)
    /** File offset where each member ends. */
    val memberEnds: Seq[Long] = members.scanLeft(0L)(_ + _.length).tail
  }
}
