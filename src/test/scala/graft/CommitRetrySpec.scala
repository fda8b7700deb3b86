package graft

import graft.operators.ExtractKernel
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._
import scala.util.Using

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

  test("an attempt that dies inside its open file leaves no file in the commit") {
    val root = Files.createTempDirectory("graft-retry-open").toString
    // small row groups, so the dying attempt has flushed rows to its file
    spark.conf.set("parquet.block.size", "16384")
    try {
      val pages = Corpus.generate(spark, 240L, 2)
      val staging = Paths.get(root, "_staging-0").toString
      val batch = CommitRetrySpec.failInsideFile(ExtractKernel.extract(pages), staging)
      val seq = ManifestTable.commitAppend(spark, root, batch)
      val (attempt, bytes) = CommitRetrySpec.dead.get
      assert(bytes > 4L, s"the dying attempt's file held $bytes bytes: no row group reached it")
      val dir = Paths.get(ManifestTable.dataPath(root), s"commit_seq=$seq")
      val files = Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toList)
      assert(files.size == 2, files)
      assert(!files.exists(_.endsWith(s"-$attempt.parquet")), s"attempt $attempt in $files")
      assert(!Files.exists(Paths.get(staging)))
      val l = CommitOracle.check(spark, root, seq)
      assert(l.stats.map(_.rows).sum == 240L, s"double count: ${l.stats}")
      assert(ManifestTable.read(spark, root).select("url").distinct().count() == 240L)
    } finally {
      spark.conf.unset("parquet.block.size")
      Fs.deleteRecursively(Paths.get(root))
    }
  }

  test("an empty batch commits an empty directory: 0 rows, no days, hw and fp of 0") {
    val root = Files.createTempDirectory("graft-retry-empty").toString
    try {
      val seq = ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Corpus.generate(spark, 20L, 2).limit(0)))
      val dir = Paths.get(ManifestTable.dataPath(root), s"commit_seq=$seq")
      assert(Files.isDirectory(dir))
      assert(Using.resource(Files.list(dir))(_.count()) == 0L)
      assert(ManifestTable.read(spark, root).count() == 0L)
      assert(ManifestTable.readLatest(spark, root).count() == 0L)
      // the manifest text: no partitions, content_fp and high watermark 0
      assert(CommitOracle.check(spark, root, seq) == CommitOracle.Lineage(Nil, 0L, 0L))
      assert(ManifestTable.verifyIntegrity(spark, root).map(r => (r.actual, r.actualRows)) == Seq((0L, 0L)))
    } finally Fs.deleteRecursively(Paths.get(root))
  }
}

object CommitRetrySpec {

  val injected = new AtomicInteger()

  /** (task attempt id, bytes of its file) of the attempt [[failInsideFile]] killed. */
  val dead = new AtomicReference[(Long, Long)]()

  private val seen = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()

  /** `ds` sorted by `warc_ts` within its partitions, whose partition 0
    * throws on its first attempt at its 110th row. The check is a
    * nondeterministic column above the sort, so the commit's own sort is
    * redundant and the check runs as the writer pulls rows: by then the
    * attempt's file under `staging` is open and holds a flushed row group.
    * The retry then runs the partition again.
    */
  def failInsideFile(ds: Dataset[Extracted], staging: String): Dataset[Extracted] = {
    import ds.sparkSession.implicits._
    val check = udf { (url: String) =>
      val ctx = TaskContext.get()
      if (seen.merge(ctx.taskAttemptId, 1, (a, b) => a + b) == 110 &&
          ctx.partitionId == 0 && ctx.attemptNumber == 0) {
        val file = Paths.get(staging, f"part-00000-${ctx.taskAttemptId}.parquet")
        dead.set((ctx.taskAttemptId, if (Files.exists(file)) Files.size(file) else -1L))
        throw new RuntimeException("injected failure inside the attempt's open file")
      }
      url
    }.asNondeterministic()
    ds.sortWithinPartitions("warc_ts").withColumn("url", check(col("url"))).as[Extracted]
  }

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
