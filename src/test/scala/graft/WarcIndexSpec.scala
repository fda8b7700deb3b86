package graft

import graft.functions.Codecs
import graft.sources.{WarcIndex, WarcReader}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class WarcIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-warcindex")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(i: Int) = new java.sql.Timestamp(1735689600000L + i * 1000L)

  private val recs = (0 until 40).map(i =>
    (s"https://idx.example.org/p/$i", ts(i), s"<html><body>record $i</body></html>".getBytes("UTF-8")))

  test("coordinates address every record; readRecordAt round-trips bodies") {
    val stream = WarcReader.writeWarc(recs, gzipBody = _ % 3 == 0, chunked = _ % 4 == 0)
    val coords = WarcReader.records(new java.io.ByteArrayInputStream(stream)).map(r => (r.offset, r.length)).toSeq
    assert(coords.length === 40)
    // offsets strictly increase and tile the stream without overlap
    coords.sliding(2).foreach { case Seq((o1, l1), (o2, _)) =>
      assert(o1 + l1 <= o2)
    }
    coords.zip(recs).foreach { case ((off, len), (url, t, body)) =>
      val rec = WarcIndex.readRecordAt(stream, off, len).get
      assert(rec.url === url)
      assert(rec.warcTs === t)
      assert(rec.body.toSeq === body.toSeq)
      assert(rec.error === null)
    }
    // out-of-range coordinates refuse instead of crashing
    assert(WarcIndex.readRecordAt(stream, stream.length - 1L, 10L).isEmpty)
    assert(WarcIndex.readRecordAt(stream, -1L, 10L).isEmpty)
  }

  test("readSplit: one big plain archive spreads across tasks; rows equal the full read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warcsplit").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "big.warc"),
        WarcReader.writeWarc(recs, gzipBody = _ % 2 == 0))
      val idx = WarcIndex.index(spark, dir).cache()
      val split = WarcIndex.readSplit(spark, idx, numSlices = 4)
      // multiple tasks actually carry rows of the ONE archive
      val partCounts = split
        .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .groupBy($"p").count().count()
      assert(partCounts > 1, "records of one archive must spread across tasks")
      val got = split.select($"url", $"html").as[(String, Array[Byte])]
        .collect().sortBy(_._1)
      val want = recs.map(r => (r._1, r._3)).sortBy(_._1)
      assert(got.length === want.length)
      got.zip(want).foreach { case ((gu, gb), (wu, wb)) =>
        assert(gu === wu); assert(gb.toSeq === wb.toSeq)
      }
      // gzipped archives are refused with a pointer to fetch()
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "z.warc.gz"),
        graft.functions.Codecs.gzip(WarcReader.writeWarc(recs.take(2))))
      val idx2 = WarcIndex.index(spark, dir)
      val err = intercept[Exception](WarcIndex.readSplit(spark, idx2, 2).count())
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("|")
      assert(chain.contains("seekable"))
      idx.unpersist()
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("gzip member bounds: walks concatenated members, incl. third-party header flags") {
    def walk(b: Array[Byte]) = WarcReader.records(new java.io.ByteArrayInputStream(b)).toList
    val members = recs.take(3).map(r => Codecs.gzip(WarcReader.writeWarc(Seq(r))))
    val stream = members.reduce(_ ++ _)
    val coords = walk(stream).map(r => (r.offset, r.length, r.seekable))
    assert(coords.length === 3)
    coords.zip(members).foldLeft(0L) { case (pos, ((off, len, seekable), m)) =>
      assert(off === pos); assert(len === m.length.toLong); assert(seekable); pos + len
    }
    // third-party layout: a conformant writer may set FNAME (gzip CLI
    // does) and FEXTRA — splice both into the header and set FLG
    val named = members.head
    val withName = named.take(3) ++ Array[Byte](12) ++ named.slice(4, 10) ++
      Array[Byte](3, 0, 1, 2, 3) ++ "file.warc\u0000".getBytes("ISO-8859-1") ++ named.drop(10)
    val c2 = walk(withName ++ members(1))
    assert(c2.map(r => (r.offset, r.length)) === Seq((0L, withName.length.toLong),
      (withName.length.toLong, members(1).length.toLong)))
    assert(c2.head.url === recs.head._1)
    // a truncated member stream gives the members before it, then refuses
    // instead of mis-coordinating
    val cut = WarcReader.records(new java.io.ByteArrayInputStream(stream.dropRight(5)))
    assert(cut.next().offset === 0L && cut.next().offset === members.head.length.toLong)
    assertThrows[WarcReader.UnreadableArchive](cut.hasNext)
    // bytes that start neither a gzip member nor a WARC record are
    // refused; an empty file is an empty archive
    assertThrows[WarcReader.UnreadableArchive](walk("not gzip".getBytes("UTF-8")))
    assert(walk(Array.emptyByteArray).isEmpty)
  }

  test("per-record-gzipped archive: members are seekable coordinates; readSplit and fetch decode them") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warcmgz").toString
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "cc.warc.gz"),
        WarcReader.writeWarcRecordGz(recs, gzipBody = _ % 3 == 0, chunked = _ % 4 == 1))
      val idx = WarcIndex.index(spark, dir).cache()
      assert(idx.count() === 40)
      assert(idx.filter(!$"seekable").count() === 0) // every member seekable
      // split read seeks member ranges and inflates them independently
      val got = WarcIndex.readSplit(spark, idx, numSlices = 4)
        .select($"url", $"html").as[(String, Array[Byte])].collect().sortBy(_._1)
      val want = recs.map(r => (r._1, r._3)).sortBy(_._1)
      assert(got.length === want.length)
      got.zip(want).foreach { case ((gu, gb), (wu, wb)) =>
        assert(gu === wu); assert(gb.toSeq === wb.toSeq)
      }
      // fetch slices raw member bytes without inflating the archive
      val wantedUrls = recs.indices.filter(_ % 4 == 0).map(i => recs(i)._1)
      val fetched = WarcIndex.fetch(spark, idx, wantedUrls.toDF("url"))
        .as[(String, java.sql.Timestamp, Array[Byte])].collect().sortBy(_._1)
      assert(fetched.length === wantedUrls.length)
      fetched.foreach { case (u, _, b) =>
        val i = recs.indexWhere(_._1 == u)
        assert(b.toSeq === recs(i)._3.toSeq)
      }
      idx.unpersist()
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("index + fetch: only wanted records are decoded, byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-warcidx").toString
    try {
      val (ra, rb) = recs.splitAt(20)
      val warcInfo =
        "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
          .getBytes("ISO-8859-1")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.warc"),
        warcInfo ++ WarcReader.writeWarc(ra, chunked = _ % 2 == 0))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.warc.gz"),
        Codecs.gzip(WarcReader.writeWarc(rb, gzipBody = _ % 2 == 1)))
      val idx = WarcIndex.index(spark, dir + "/*").cache()
      assert(idx.count() === 41) // 40 responses + 1 warcinfo
      assert(idx.filter($"rec_type" === "warcinfo").count() === 1)
      // fetch a wanted subset spanning both archives
      val wantedUrls = recs.indices.filter(_ % 5 == 0).map(i => recs(i)._1)
      val got = WarcIndex.fetch(spark, idx, wantedUrls.toDF("url"))
        .as[(String, java.sql.Timestamp, Array[Byte])].collect().sortBy(_._1)
      val want = recs.filter(r => wantedUrls.contains(r._1)).sortBy(_._1)
      assert(got.length === want.length)
      got.zip(want).foreach { case ((gu, gt, gb), (wu, wt, wb)) =>
        assert(gu === wu); assert(gt === wt); assert(gb.toSeq === wb.toSeq)
      }
      idx.unpersist()
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("index, fetch and readSplit open archives under a path with a space") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-warcidx")
    try {
      val dir = java.nio.file.Files.createDirectory(tmp.resolve("warc dir"))
      val (ra, rb) = recs.splitAt(20)
      java.nio.file.Files.write(dir.resolve("a.warc"), WarcReader.writeWarc(ra))
      java.nio.file.Files.write(dir.resolve("b.warc.gz"), WarcReader.writeWarcRecordGz(rb))
      val idx = WarcIndex.index(spark, dir.toString).cache()
      // the file column is Hadoop's Path.toString, raw space included
      assert(idx.select($"file").distinct().as[String].collect().sorted.toSeq ==
        Seq("a.warc", "b.warc.gz").map(f => s"file:$dir/$f"))
      val wantedUrls = recs.indices.filter(_ % 3 == 0).map(i => recs(i)._1)
      val want = recs.filter(r => wantedUrls.contains(r._1)).map(r => (r._1, r._3.toSeq)).sortBy(_._1)
      val fetched = WarcIndex.fetch(spark, idx, wantedUrls.toDF("url"))
        .as[(String, java.sql.Timestamp, Array[Byte])].collect()
        .map(r => (r._1, r._3.toSeq)).sortBy(_._1)
      assert(fetched.toSeq == want)
      val split = WarcIndex.readSplit(spark, idx, numSlices = 4)
        .select($"url", $"html").as[(String, Array[Byte])].collect()
      assert(split.length == recs.length)
      idx.unpersist()
    } finally graft.Fs.deleteRecursively(tmp)
  }
}
