package graft

import graft.operators.ExtractJob
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Job-count ceilings: a job count does not depend on host load, so it
  * guards an operator where a wall-clock timing cannot. The iterative
  * queries' bounds are the counts measured on the sf0.001 tables with
  * `collect()` as the action; the engine-core bounds are the counts
  * measured over 400 CorpusGen pages in 4 partitions. A change that adds
  * jobs to one of them fails here.
  */
class JobCensusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-job-census")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val bounds = Seq(
    "w_hits" -> 65,
    "w_kcore" -> 37,
    "p_zorder" -> 43,
    "t_bpe_merges" -> 43)

  for ((name, bound) <- bounds)
    test(s"$name stays within its Spark job bound at sf0.001") {
      val n = JobCensus.of(spark)(
        SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").collect()).jobs
      info(s"$name: $n jobs")
      assert(n <= bound, s"$name ran $n jobs, bound $bound")
    }

  test("every job of an AQE query carries the query's description") {
    // s_hybrid_rrf's shuffle and broadcast stages run as jobs that AQE
    // submits from its own threads
    val c = JobCensus.of(spark)(JobCensus.described(spark, "s_hybrid_rrf")(
      SparkEntry.queries("s_hybrid_rrf")(spark, "/root/testdata/sf0.001").count()))
    assert(c.perJob.size > 3, c.perJob)
    val other = c.perJob.filterNot(_.description == "s_hybrid_rrf")
    assert(other.isEmpty, s"${other.size} of ${c.perJob.size} jobs not described: ${other.take(3)}")
  }

  test("engine-core entry points stay within their Spark job bounds on 400 pages") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-census").toString
    try {
      // one table: a 200-page extractAll (PartitionPruneSpec pins it at 1
      // job), then each entry point in this order over the 400 pages
      val pages = Corpus.generate(spark, 400L, 4)
      ExtractJob.extractAll(Corpus.generate(spark, 200L, 4), root, 4)
      val day = ManifestTable.latestStats(root).map(_.p_day).min
      val ts = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
      val core: Seq[(String, Int, () => Any)] = Seq(
        ("resume", 2, () => ExtractJob.resume(pages, root)),
        ("incremental", 1, () => ExtractJob.incremental(pages, root)),
        ("upsertChanged", 3, () => ExtractJob.upsertChanged(pages, root)),
        ("retryFailed", 6, () => ExtractJob.retryFailed(pages, root)),
        ("deleteUrls", 2, () => ManifestTable.deleteUrls(spark, root, pages.limit(10).select($"url"), ts)),
        ("readLatest.count", 3, () => ManifestTable.readLatest(spark, root).count()),
        ("prunedRead.count", 2, () => ManifestTable.prunedRead(spark, root, day, day).count()),
        ("verifyIntegrity", 2, () => ManifestTable.verifyIntegrity(spark, root)),
        ("compactLatest", 2, () => ManifestTable.compactLatest(spark, root)),
        ("compact", 2, () => ManifestTable.compact(spark, root)))
      val over = core.flatMap { case (name, bound, run) =>
        val n = JobCensus.of(spark) { run(); () }.jobs
        info(s"$name: $n jobs")
        if (n > bound) Some(s"$name ran $n jobs, bound $bound") else None
      }
      assert(over.isEmpty, over.mkString("; "))
    } finally Fs.deleteRecursively(Paths.get(root))
  }
}
