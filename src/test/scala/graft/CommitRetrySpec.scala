package graft

import graft.operators.ExtractKernel
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Commit lineage under task retries. `local[n]` never retries a failed
  * task, so this suite runs a `local[2,2]` session of its own (two threads,
  * two attempts per task) and stops any session an earlier suite left.
  */
class CommitRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    spark = SparkSession.builder()
      .master("local[2,2]")
      .appName("graft-commit-retry")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("a write task that fails after emitting its rows is counted once") {
    val root = Files.createTempDirectory("graft-retry").toString
    try {
      val pages = Corpus.generate(spark, 240L, 2)
      val batch = CommitRetrySpec.failFirstAttempt(ExtractKernel.extract(pages))
      val seq = ManifestTable.commitAppend(spark, root, batch)
      assert(CommitRetrySpec.injected.get == 1, "the first attempt of partition 0 must have failed")
      val l = CommitOracle.check(spark, root, seq)
      assert(l.stats.map(_.rows).sum == 240L, s"double count: ${l.stats}")
      assert(l.stats.map(_.failures).sum > 0L)
      assert(ManifestTable.read(spark, root).select("url").distinct().count() == 240L)
    } finally Fs.deleteRecursively(Paths.get(root))
  }
}

object CommitRetrySpec {

  val injected = new AtomicInteger()

  /** `ds` whose partition 0 throws on its first attempt only after every
    * one of its rows has gone downstream (into the commit's observed
    * lineage); the retry then runs the partition again.
    */
  def failFirstAttempt(ds: Dataset[Extracted]): Dataset[Extracted] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      val ctx = TaskContext.get()
      new Iterator[Extracted] {
        def hasNext: Boolean = {
          val more = rows.hasNext
          if (!more && ctx.partitionId == 0 && ctx.attemptNumber == 0) {
            injected.incrementAndGet()
            throw new RuntimeException("injected failure after the partition's last row")
          }
          more
        }
        def next(): Extracted = rows.next()
      }
    }
  }
}
