package graft

import graft.operators.{ExtractJob, Sharding}
import graft.sources.{Corpus, ManifestTable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The engine's path writes set file and directory modes in-process
  * ([[ForkFreeLocalFileSystem]]): the same modes as Hadoop's default local
  * filesystem, and no `chmod` child process per file. A commit writes its
  * files without Hadoop and gives them the same modes.
  */
class ForkFreeFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-forkfree")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpRoot(tag: String): Path = Files.createTempDirectory(s"graft-$tag")

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves exactly the requested bits, for every mode 0-0777") {
    val dir = tmpRoot("perm")
    val fs = new ForkFreeLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    try {
      val file = Files.createFile(dir.resolve("f"))
      val sub = Files.createDirectory(dir.resolve("d"))
      for (p <- Seq(file, sub); m <- 0 to 0x1ff) {
        fs.setPermission(new HPath(p.toUri), new FsPermission(m.toShort))
        val want = "rwxrwxrwx".zipWithIndex
          .map { case (c, i) => if (((m >> (8 - i)) & 1) == 1) c else '-' }.mkString
        assert(Files.getPosixFilePermissions(p) == PosixFilePermissions.fromString(want), f"$p mode $m%04o")
        assert(mode(p) == m, f"$p mode $m%04o")
      }
      // bits outside 0777 take Hadoop's own path unchanged
      fs.setPermission(new HPath(sub.toUri), new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(mode(sub) == Integer.parseInt("1755", 8))
      fs.setPermission(new HPath(sub.toUri), new FsPermission(Integer.parseInt("0755", 8).toShort))
    } finally Fs.deleteRecursively(dir)
  }

  /** Category (directory, checksum, parquet, other file) → modes seen. */
  private def modes(tree: Path): Map[String, Set[String]] =
    Using.resource(Files.walk(tree)) { w =>
      w.iterator().asScala.toSeq.groupBy { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) "dir"
        else if (n.endsWith(".crc")) "crc"
        else if (n.endsWith(".parquet")) "parquet"
        else "other"
      }.map { case (k, ps) =>
        k -> ps.map(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
      }
    }

  test("a committed tree carries the same modes as a plain parquet write") {
    import spark.implicits._
    val root = tmpRoot("modes")
    try {
      val seq = ExtractJob.extractAll(Corpus.generate(spark, 80L, 4), root.toString, 4)
      val plain = root.resolve("plain")
      ManifestTable.read(spark, root.toString)
        .withColumn("p_day", date_format($"warc_ts", "yyyy-MM-dd"))
        .write.parquet(plain.toString)
      val committed = Paths.get(ManifestTable.dataPath(root.toString), s"commit_seq=$seq")
      val got = modes(committed)
      // the commit writes no checksum sidecar and no success marker
      assert(got.keySet == Set("dir", "parquet"), got)
      assert(got == modes(plain).view.filterKeys(got.contains).toMap)
    } finally Fs.deleteRecursively(root)
  }

  test("commits start no process that names a path under the table root") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val root = tmpRoot("nofork")
    val probe = tmpRoot("nofork-probe")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    try {
      val pages = Corpus.generate(spark, 80L, 4)
      rec.start()
      ExtractJob.extractAll(pages, root.toString, 4)
      ManifestTable.deleteUrls(spark, root.toString, pages.select("url").limit(3),
        java.sql.Timestamp.valueOf("2025-02-01 12:00:00"))
      Sharding.writeSharded(pages.toDF(), root.resolve("shards").toString, "url", "warc_ts", 4)
      // a process that is recorded, so an empty result cannot mean "no recording"
      assert(new ProcessBuilder("sh", "-c", "exit 0", probe.toString).start().waitFor() == 0)
      rec.stop()
      val dump = probe.resolve("rec.jfr")
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
      assert(commands.exists(_.contains(probe.toString)), s"${commands.size} recorded")
      assert(ManifestTable.snapshots(root.toString).size == 2)
      assert(Fs.hasParquetFiles(root.resolve("shards")), "the sharded write wrote no files")
      assert(ManifestTable.read(spark, root.toString).select("warc_ts")
        .agg(countDistinct(to_date(col("warc_ts")))).head().getLong(0) > 2L,
        "the commit must span several days")
      val forked = commands.filter(_.contains(root.toString))
      assert(forked.size == 0, s"process starts under $root, e.g. ${forked.take(3)}")
    } finally {
      rec.close()
      Fs.deleteRecursively(root)
      Fs.deleteRecursively(probe)
    }
  }
}
