package graft

import graft.operators.ExtractJob
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The flat commit layout and what a day-range read opens: a commit is one
  * parquet file per write task under `commit_seq=N/`, and [[ManifestTable.prunedRead]]
  * skips whole commits by their manifests and row groups by the stored
  * `p_day` statistics.
  */
class PartitionPruneSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-prune")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withRoot(tag: String)(body: String => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft-$tag")
    try body(root.toString) finally Fs.deleteRecursively(root)
  }

  private def parquetFiles(dir: Path): List[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList)

  private def day(c: String) = date_format(col(c), "yyyy-MM-dd")

  /** Rows of `day` per the manifest of commit `seq`. */
  private def manifestRows(root: String, seq: Long, d: String): Long = {
    val json = Files.readString(Paths.get(root, "_manifests", f"manifest-$seq%06d.json"))
    s""""p_day":"$d","rows":(\\d+)""".r.findFirstMatchIn(json).fold(0L)(_.group(1).toLong)
  }

  test("an extractAll commit is one job and one parquet file per non-empty write task") {
    withRoot("files") { root =>
      val pages = Corpus.generate(spark, 4000L, 4)
      val c = JobCensus.of(spark)(ExtractJob.extractAll(pages, root, 4))
      val files = parquetFiles(Paths.get(ManifestTable.dataPath(root)))
      assert(c.jobs == 1 && c.tasks == 4 && c.writers == 4, c)
      // 4 tasks over many days: a file per task and day would be far more
      assert(ManifestTable.latestStats(root).size > 4)
      assert(files.size == c.writers, files)
      assert(files.forall(_.getParent.getFileName.toString == "commit_seq=0"), files)
    }
  }

  test("prunedRead opens only the commits whose manifest lists a day in range") {
    import spark.implicits._
    withRoot("prune-commits") { root =>
      val pages = Corpus.generate(spark, 300L, 4).cache()
      try {
        val days = pages.select(day("warc_ts").as("d")).distinct().as[String].collect().sorted
        assert(days.length >= 6, days.toSeq)
        val ranges = days.grouped((days.length + 2) / 3).toSeq
        assert(ranges.size == 3)
        ranges.foreach { r =>
          ExtractJob.extractAll(pages.filter(day("warc_ts").between(r.head, r.last)), root, 4)
        }
        def opened(q: DataFrame): Set[String] =
          q.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent.getFileName.toString).toSet
        ranges.zipWithIndex.foreach { case (r, seq) =>
          val d = r(r.length / 2)
          val q = ManifestTable.prunedRead(spark, root, d, d)
          assert(opened(q) == Set(s"commit_seq=$seq"), s"$d")
          assert(q.count() == manifestRows(root, seq, d), s"$d")
        }
        val none = ManifestTable.prunedRead(spark, root, "1999-01-01", "1999-12-31")
        assert(none.inputFiles.isEmpty && none.count() == 0L)
        assert(none.columns.toSeq == ManifestTable.read(spark, root).columns.toSeq)
        // a live commit whose own manifest expired cannot be skipped
        ManifestTable.expireSnapshots(root, keepLast = 1)
        val d = ranges(2)(ranges(2).length / 2)
        val kept = ManifestTable.prunedRead(spark, root, d, d)
        assert(opened(kept) == Set("commit_seq=0", "commit_seq=1", "commit_seq=2"))
        assert(kept.count() == manifestRows(root, 2, d))
      } finally pages.unpersist()
    }
  }

  test("prunedRead skips the row groups of a multi-day commit by their p_day statistics") {
    withRoot("prune-groups") { root =>
      spark.conf.set("parquet.block.size", "16384")
      try ExtractJob.extractAll(Corpus.generate(spark, 1200L, 2), root, 2)
      finally spark.conf.unset("parquet.block.size")
      val conf = spark.sparkContext.hadoopConfiguration
      val groups = parquetFiles(Paths.get(ManifestTable.dataPath(root))).map { f =>
        Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf)))(_.getRowGroups.size)
      }
      assert(groups.forall(_ >= 3), s"row groups per file: $groups")
      val stats = ManifestTable.latestStats(root)
      assert(stats.size > 4, stats)
      val d = stats(stats.size / 2).p_day
      val q = ManifestTable.prunedRead(spark, root, d, d)
      assert(q.collect().length == stats.find(_.p_day == d).get.rows)
      val scanned = collect(q.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
      assert(scanned < stats.map(_.rows).sum, s"the scan read $scanned of ${stats.map(_.rows).sum} rows")
    }
  }

  test("a table holding a commit in the day-directory layout fails at read") {
    import spark.implicits._
    withRoot("mixed") { root =>
      val pages = Corpus.generate(spark, 60L, 4).cache()
      try {
        ExtractJob.extractAll(pages.filter(xxhash64($"url") % 2 === 0), root, 4)
        val seq = ExtractJob.resume(pages, root)
        // the same rows, rewritten as `commit_seq=N/p_day=D/` directories
        val old = Paths.get(ManifestTable.dataPath(root), s"commit_seq=$seq")
        val tmp = Paths.get(root, "old-layout")
        spark.read.parquet(old.toString).write.partitionBy("p_day").parquet(tmp.toString)
        Fs.deleteRecursively(old)
        Files.move(tmp, old)
        val err = intercept[Throwable](ManifestTable.read(spark, root).count())
        assert(String.valueOf(err.getMessage).contains("Conflicting partition column names"), err)
      } finally pages.unpersist()
    }
  }
}
