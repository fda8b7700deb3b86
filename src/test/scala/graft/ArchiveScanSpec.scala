package graft

import graft.functions.Codecs
import graft.sources.{ArchiveScan, WarcIndex, WarcReader, WatSink, WetSink}
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The shared archive scan: one job of byte-packed tasks per read, and
  * the listing rules of the binaryFile source it replaced.
  */
class ArchiveScanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-archive-scan")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(i: Int) = new Timestamp(1735689600000L + i * 1000L)
  private def page(i: Int) = (s"https://scan.example.org/p/$i", ts(i),
    s"<html><body>page $i</body></html>".getBytes("UTF-8"))

  private def withDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-scan")
    try body(dir) finally Fs.deleteRecursively(dir)
  }

  private def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  test("40 archives read in one job of one stage, at most defaultParallelism tasks, no shuffle") {
    // past Spark's 32-path parallelPartitionDiscovery.threshold, where the
    // binaryFile source started a listing job of its own
    withDir { dir =>
      (0 until 40).foreach { a =>
        val recs = (0 until 3).map(r => page(a * 3 + r))
        write(dir.resolve(f"warc/a$a%02d.warc.gz"), WarcReader.writeWarcRecordGz(recs))
        write(dir.resolve(f"wet/a$a%02d.warc.wet.gz"), Codecs.gzip(recs.map { case (u, t, _) =>
          WetSink.writeRecord(u, t, s"text of $u") }.reduce(_ ++ _)))
        write(dir.resolve(f"wat/a$a%02d.warc.wat.gz"), Codecs.gzip(recs.map { case (u, t, _) =>
          WatSink.writeRecord(u, t, s"""{"url":"$u"}""") }.reduce(_ ++ _)))
      }
      val slots = spark.sparkContext.defaultParallelism
      // each read lists inside the census: the old listing job ran at load
      val readers = Seq[(String, () => DataFrame)](
        "readWarcs" -> (() => WarcReader.readWarcs(spark, s"$dir/warc/*.warc.gz")),
        "readWet" -> (() => WetSink.readWet(spark, s"$dir/wet/*.warc.wet.gz")),
        "readWat" -> (() => WatSink.readWat(spark, s"$dir/wat/*.warc.wat.gz")),
        "index" -> (() => WarcIndex.index(spark, s"$dir/warc/*.warc.gz")))
      for ((name, read) <- readers) {
        var rows = 0L
        val c = JobCensus.of(spark) { rows = read().collect().length.toLong }
        info(s"$name: $c")
        assert(rows == 120L, s"$name read $rows rows")
        assert(c.jobs == 1 && c.stages == 1 && c.shuffleBytes == 0L, s"$name ran $c")
        assert(c.tasks >= 1 && c.tasks <= slots, s"$name ran ${c.tasks} tasks for $slots slots")
      }
    }
  }

  test("listing matches binaryFile: hidden names skipped, directory roots read recursively") {
    withDir { dir =>
      def warc(i: Int) = WarcReader.writeWarc(Seq(page(i)))
      write(dir.resolve("a.warc"), warc(0))
      write(dir.resolve("sub/b.warc.gz"), Codecs.gzip(warc(1)))
      write(dir.resolve("sub/deeper/c.warc"), warc(2))
      write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      write(dir.resolve("_partial.warc"), warc(3))
      write(dir.resolve(".hidden.warc"), warc(4))
      write(dir.resolve("sub/_temporary/x.warc"), warc(5))
      // written through Hadoop's checksummed local filesystem, which leaves
      // a `.d.warc.gz.crc` sidecar next to the archive
      val local = FileSystem.getLocal(new Configuration())
      val out = local.create(new HPath(dir.resolve("d.warc.gz").toUri))
      try out.write(WarcReader.writeWarcRecordGz(Seq(page(6)))) finally out.close()
      assert(Files.exists(dir.resolve(".d.warc.gz.crc")))

      // binaryFile reads a root directory's own files only, unless its
      // subdirectories are `k=v` partitions; the scan always recurses, as
      // binaryFile does with recursiveFileLookup
      def binaryFile(glob: String, recursive: Boolean): Seq[(String, Long)] =
        spark.read.format("binaryFile").option("recursiveFileLookup", recursive).load(glob)
          .select("path", "length").collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      def scan(glob: String): Seq[(String, Long)] =
        ArchiveScan.list(spark, glob).map(a => (a.path, a.length)).sorted
      for (glob <- Seq(dir.toString, s"$dir/*", s"$dir/sub", s"$dir/*.warc*"))
        assert(scan(glob) == binaryFile(glob, recursive = true), s"listing of $glob")
      assert(scan(s"$dir/*.warc*") == binaryFile(s"$dir/*.warc*", recursive = false))
      assert(scan(dir.toString).map(p => dir.toUri.relativize(new java.net.URI(p._1)).toString) ==
        Seq("a.warc", "d.warc.gz", "sub/b.warc.gz", "sub/deeper/c.warc"))

      import spark.implicits._
      val urls = WarcReader.readWarcs(spark, dir.toString).select($"url").as[String]
        .collect().sorted
      assert(urls.toSeq == Seq(0, 1, 2, 6).map(i => page(i)._1).sorted)
    }
  }

  test("a glob that matches nothing fails and names the glob") {
    withDir { dir =>
      for (glob <- Seq(s"$dir/*.warc.gz", s"$dir/absent")) {
        val e = intercept[java.io.FileNotFoundException](WarcReader.readWarcs(spark, glob))
        assert(e.getMessage.contains(glob))
        assert(intercept[java.io.FileNotFoundException](WarcIndex.index(spark, glob))
          .getMessage.contains(glob))
      }
    }
  }

  test("a sparse 2 GiB archive streams and ends its walk after one header window") {
    withDir { dir =>
      write(dir.resolve("small.warc"), WarcReader.writeWarc(Seq(page(0))))
      // sparse: setLength writes no data, so the file reads as zeros, which
      // hold no header end within WarcReader.MaxHeaderBytes
      val huge = new java.io.RandomAccessFile(dir.resolve("huge.warc.gz").toFile, "rw")
      try huge.setLength((2L << 30) + 1) finally huge.close()
      import spark.implicits._
      val urls = WarcReader.readWarcs(spark, dir.toString).select($"url").as[String].collect()
      assert(urls.toSeq == Seq(page(0)._1))
      assert(WarcIndex.index(spark, dir.toString).count() == 1L)
    }
    // the same zeros as a stream that counts what the walk reads of it
    var consumed = 0L
    val zeros = new java.io.InputStream {
      private val length = (2L << 30) + 1
      def read(): Int = throw new UnsupportedOperationException
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (consumed == length) -1
        else {
          val n = math.min(len.toLong, length - consumed).toInt
          java.util.Arrays.fill(b, off, off + n, 0.toByte)
          consumed += n
          n
        }
    }
    assert(WarcReader.records(zeros).isEmpty)
    assert(consumed <= WarcReader.MaxHeaderBytes + (1 << 17), s"the walk read $consumed bytes")
  }

  test("packing: largest first into the lightest bin, every archive once, no empty bin") {
    val archives = Seq(10L, 1L, 9L, 1L, 8L, 1L, 3L).zipWithIndex
      .map { case (len, i) => ArchiveScan.Archive(s"f$i", len) }
    val bins = ArchiveScan.pack(archives, 3)
    assert(bins.map(_.map(_.length).sum).sorted == Seq(11L, 11L, 11L))
    assert(bins.flatten.map(_.path).sorted == archives.map(_.path).sorted)
    assert(ArchiveScan.pack(archives.take(2), 8).map(_.size) == Seq(1, 1))
    assert(ArchiveScan.pack(Seq.empty, 8).isEmpty)
  }
}
