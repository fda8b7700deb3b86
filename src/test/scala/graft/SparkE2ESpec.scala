package graft

import graft.functions.TextAssembly
import graft.operators.{ExtractJob, ExtractKernel}
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Using

/** End-to-end pipeline tests under a real SparkSession (FIXTURES.md §5):
  * golden byte-identity via the J3 join, determinism under repartition,
  * exact resume from manifests, incremental re-extract, commit lineage.
  */
class SparkE2ESpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private val N = 400L

  /** Rows the latest commit wrote, from its manifest lineage (exact when
    * tasks retry).
    */
  private def lastCommitRows(root: String): Long = ManifestTable.latestStats(root).map(_.rows).sum

  test("golden join: 0 mismatches over the synthetic corpus (byte identity)") {
    import spark.implicits._
    val pages = Corpus.generate(spark, N, 8).cache()
    val extracted = ExtractKernel.extract(pages)
    val bad = ExtractJob.mismatches(pages, extracted)
    val rows = bad.collect()
    assert(rows.isEmpty, s"${rows.length} mismatches, first: ${rows.headOption}")
    val statuses = extracted.groupBy($"status").count().as[(String, Long)].collect().toMap
    assert(statuses.getOrElse("ok", 0L) > 300L, s"statuses: $statuses")
    assert(statuses.contains("unsupported") || statuses.contains("failed"), s"statuses: $statuses")
    pages.unpersist()
  }

  test("extraction is invariant under repartitioning (k=1,8,32)") {
    import spark.implicits._
    val pages = Corpus.generate(spark, 120L, 4).cache()
    val results = Seq(1, 8, 32).map { k =>
      ExtractKernel.extract(pages.repartition(k)).orderBy($"url").collect().toSeq
    } :+ ExtractKernel.extract(pages).orderBy($"url").collect().toSeq
    assert(results.forall(_ == results.head))
    pages.unpersist()
  }

  test("resume processes exactly the un-committed complement") {
    import spark.implicits._
    val root = tmpRoot("resume")
    val pages = Corpus.generate(spark, 300L, 4).cache()
    // commit only even-id urls (simulates a half-finished run)
    val firstHalf = pages.filter(xxhash64($"url") % 2 === 0)
    val nFirst = firstHalf.count()
    ExtractJob.extractAll(firstHalf, root, 4)
    assert(ManifestTable.exists(root))
    assert(ManifestTable.read(spark, root).count() == nFirst)

    // resume with the FULL input: only the complement must be processed
    ExtractJob.resume(pages, root)
    assert(lastCommitRows(root) == 300L - nFirst, s"resume processed ${lastCommitRows(root)}, expected ${300L - nFirst}")

    // final table state == full-run table state
    val finalTable = ManifestTable.read(spark, root)
    assert(finalTable.count() == 300L)
    assert(finalTable.select("url").distinct().count() == 300L)
    val full = ExtractKernel.extract(pages)
    val diff = finalTable.select("url", "text").exceptAll(full.select("url", "text")).count()
    assert(diff == 0L, s"$diff rows differ from a from-scratch run")
    pages.unpersist()
  }

  test("incremental re-extract only processes pages past the high watermark") {
    import spark.implicits._
    val root = tmpRoot("incr")
    val pages = Corpus.generate(spark, 300L, 4).cache()
    val cutoff = "2025-01-08 00:00:00"
    val old = pages.filter($"warc_ts" < lit(cutoff)).as[Page]
    val nOld = old.count()
    ExtractJob.extractAll(old, root, 4)
    val hw = ManifestTable.highWatermark(root).get
    assert(hw > 0)

    ExtractJob.incremental(pages, root)
    val expectedNew = pages.filter(unix_timestamp($"warc_ts") > hw).count()
    assert(lastCommitRows(root) == expectedNew)
    assert(ManifestTable.read(spark, root).count() == nOld + expectedNew)
    pages.unpersist()
  }

  test("commit cost is O(this commit): prior commits' files are never read") {
    import spark.implicits._
    val root = tmpRoot("ocommit")
    val pages = Corpus.generate(spark, 120L, 4).cache()
    // three prior commits
    (0 until 3).foreach { i =>
      val slice = pages.filter(pmod(xxhash64($"url"), lit(3)) === i).as[Page]
      ExtractJob.extractAll(slice, root, 4)
    }
    // corrupt every prior commit's parquet files IN PLACE (names kept): if
    // commitAppend read ANY old file — the round-1 full-table re-read
    // anti-pattern — the parquet footer read would fail loudly. (chmod
    // can't gate this: tests run as root.)
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Paths.get(ManifestTable.dataPath(root))
    val oldFiles = java.nio.file.Files.walk(dataDir).iterator().asScala.toSeq
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    assert(oldFiles.nonEmpty)
    val saved = oldFiles.map(p => p -> java.nio.file.Files.readAllBytes(p))
    try {
      oldFiles.foreach(p => java.nio.file.Files.write(p, Array.fill[Byte](64)(0x7F)))
      val out = ExtractKernel.extract(pages.limit(30).as[Page])
      val seq = ManifestTable.commitAppend(spark, root, out)
      assert(seq == 3L)
      assert(ManifestTable.latestStats(root).map(_.rows).sum == 30L)
    } finally saved.foreach { case (p, b) => java.nio.file.Files.write(p, b) }
    assert(ManifestTable.read(spark, root).count() == 120L + 30L)
    pages.unpersist()
  }

  test("torn commit (data moved, manifest unpublished) is invisible to reads and resume") {
    import spark.implicits._
    val root = tmpRoot("torn")
    val pages = Corpus.generate(spark, 100L, 4).cache()
    val committed = pages.filter(xxhash64($"url") % 2 === 0).as[Page]
    ExtractJob.extractAll(committed, root, 4)
    val nCommitted = committed.count()
    // simulate a writer that crashed AFTER moving its data into place but
    // BEFORE publishing the manifest: materialize a commit dir by hand
    val torn = pages.filter(xxhash64($"url") % 2 =!= 0).as[Page]
    ExtractKernel.extract(torn)
      .withColumn("p_day", date_format($"warc_ts", "yyyy-MM-dd"))
      .write
      .parquet(s"${ManifestTable.dataPath(root)}/commit_seq=1")
    // reads are manifest-scoped: torn rows invisible
    assert(ManifestTable.read(spark, root).count() == nCommitted)
    // resume re-processes the torn complement exactly once (no double rows)
    ExtractJob.resume(pages, root)
    assert(lastCommitRows(root) == 100L - nCommitted)
    val finalTable = ManifestTable.read(spark, root)
    assert(finalTable.count() == 100L)
    assert(finalTable.select("url").distinct().count() == 100L)
    pages.unpersist()
  }

  test("empty commits are 0-row no-op snapshots (resume with nothing left must not crash)") {
    import spark.implicits._
    val root = tmpRoot("empty")
    val pages = Corpus.generate(spark, 60L, 4).cache()
    ExtractJob.extractAll(pages, root, 4)
    // everything is committed: resume's remaining set is EMPTY — the staged
    // write then contains no parquet files, which must not break the commit
    val seq = ExtractJob.resume(pages, root)
    assert(lastCommitRows(root) == 0L)
    assert(seq == 1L)
    assert(ManifestTable.latestStats(root).isEmpty) // 0-row snapshot
    assert(ManifestTable.read(spark, root).count() == 60L)
    // an empty stream micro-batch behaves the same
    val empty = ExtractKernel.extract(pages.limit(0).as[Page])
    assert(ManifestTable.commitStreamBatch(spark, root, 5L, empty).nonEmpty)
    assert(ManifestTable.read(spark, root).count() == 60L)
    pages.unpersist()
  }

  test("compaction: one live snapshot replaces N commit dirs; vacuum reclaims; history kept") {
    import spark.implicits._
    val root = tmpRoot("compact")
    val pages = Corpus.generate(spark, 90L, 4).cache()
    (0 until 3).foreach { i =>
      ExtractJob.extractAll(pages.filter(pmod(xxhash64($"url"), lit(3)) === i).as[Page], root, 4)
    }
    val before = ManifestTable.read(spark, root).orderBy($"url").collect()
    val hwBefore = ManifestTable.highWatermark(root)
    assert(ManifestTable.liveSeqs(root) == Seq(0L, 1L, 2L))

    val cseq = ManifestTable.compact(spark, root)
    assert(ManifestTable.liveSeqs(root) == Seq(cseq))
    val after = ManifestTable.read(spark, root).orderBy($"url").collect()
    assert(after.toSeq == before.toSeq, "compaction must preserve table content")
    assert(ManifestTable.highWatermark(root) == hwBefore, "history/high watermark preserved")

    val dead = ManifestTable.vacuum(root)
    assert(dead.toSet == Set(0L, 1L, 2L))
    assert(ManifestTable.read(spark, root).count() == 90L, "vacuum must not touch live data")

    // appends after compaction extend the live set normally; resume exact
    ExtractJob.resume(pages, root)
    assert(lastCommitRows(root) == 0L) // everything already committed
    assert(ManifestTable.liveSeqs(root) == Seq(cseq, cseq + 1))
    pages.unpersist()
  }

  test("time travel: as-of reads replay each snapshot; vacuum expires the window loudly") {
    import spark.implicits._
    val root = tmpRoot("asof")
    val pages = Corpus.generate(spark, 90L, 4).cache()
    val slices = (0 until 3).map(i =>
      pages.filter(pmod(xxhash64($"url"), lit(3)) === i).as[Page])
    slices.foreach(sl => ExtractJob.extractAll(sl, root, 4))
    val n = slices.map(_.count())
    assert(ManifestTable.snapshots(root) == Seq(0L, 1L, 2L))
    assert(ManifestTable.readAsOf(spark, root, 0L).count() == n(0))
    assert(ManifestTable.readAsOf(spark, root, 1L).count() == n(0) + n(1))
    val full = ManifestTable.readAsOf(spark, root, 2L).orderBy($"url").collect()
    assert(full.toSeq == ManifestTable.read(spark, root).orderBy($"url").collect().toSeq)

    // compaction publishes a new snapshot but must NOT rewrite history:
    // as-of still resolves the ORIGINAL directories until vacuum
    val cseq = ManifestTable.compact(spark, root)
    assert(ManifestTable.readAsOf(spark, root, 1L).count() == n(0) + n(1))
    // an as-of between/after published seqs resolves to the greatest <= it
    assert(ManifestTable.readAsOf(spark, root, cseq + 100).count() == 90L)
    intercept[IllegalArgumentException](ManifestTable.readAsOf(spark, root, -1L))

    ManifestTable.vacuum(root)
    val err = intercept[IllegalStateException](
      ManifestTable.readAsOf(spark, root, 1L).count())
    assert(err.getMessage.contains("vacuumed"))
    assert(ManifestTable.readAsOf(spark, root, cseq).count() == 90L)
    pages.unpersist()
  }

  test("manifest lineage: per-partition stats sum to totals; pruned read works") {
    import spark.implicits._
    val root = tmpRoot("lineage")
    val pages = Corpus.generate(spark, 200L, 4)
    ExtractJob.extractAll(pages, root, 4)
    val stats = ManifestTable.latestStats(root)
    assert(stats.nonEmpty)
    assert(stats.map(_.rows).sum == 200L)
    // hidden-partition pruning: day-range read returns exactly that range
    val day = stats.head.p_day
    val pruned = ManifestTable.prunedRead(spark, root, day, day)
    assert(pruned.count() == stats.head.rows)
    assert(!pruned.columns.contains("p_day"), "hidden partition column must be stripped")
  }

  test("every commit kind records exactly the lineage its committed files hold") {
    import spark.implicits._
    val root = tmpRoot("lineage-oracle")
    val pages = Corpus.generate(spark, 400L, 4).cache()
    try {
      val half = pages.filter(xxhash64($"url") % 2 === 0).as[Page]
      val all = CommitOracle.check(spark, root, ExtractJob.extractAll(half, root, 4))
      assert(all.stats.size > 1, s"one p_day only: ${all.stats}")
      assert(all.stats.map(_.failures).sum > 0, "the corpus must hold failed/unsupported rows")

      CommitOracle.check(spark, root, ExtractJob.resume(pages, root))
      val empty = CommitOracle.check(spark, root, ExtractJob.resume(pages, root))
      assert(empty == CommitOracle.Lineage(Nil, 0L, 0L))

      val gone = pages.select($"url").limit(7)
      val tomb = CommitOracle.check(spark, root, ManifestTable.deleteUrls(
        spark, root, gone, java.sql.Timestamp.valueOf("2025-02-01 12:00:00")))
      assert(tomb.stats.map(s => (s.p_day, s.rows, s.failures)) == Seq(("2025-02-01", 7L, 7L)))

      val c = CommitOracle.check(spark, root, ManifestTable.compact(spark, root))
      assert(c.stats.map(_.rows).sum == 400L)
      val cl = CommitOracle.check(spark, root, ManifestTable.compactLatest(spark, root))
      assert(cl.stats.map(_.rows).sum == 393L)
    } finally {
      pages.unpersist()
      Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("committed files: no dictionary for text and url, dictionaries for the low-cardinality columns") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import spark.implicits._
    val root = tmpRoot("encodings")
    def filesOf(seq: Long): List[java.nio.file.Path] =
      Using.resource(Files.list(java.nio.file.Paths.get(ManifestTable.dataPath(root), s"commit_seq=$seq"))) { s =>
        s.iterator().asScala.toList
      }
    def footer(f: java.nio.file.Path): ParquetMetadata = Using.resource(ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(f.toUri), spark.sparkContext.hadoopConfiguration)))(_.getFooter)
    def warcTs(ft: ParquetMetadata) = {
      val schema = ft.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("warc_ts")).asPrimitiveType
    }
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }
    try {
      val first = JobCensus.of(spark)(CommitOracle.check(spark, root,
        ExtractJob.extractAll(Corpus.generate(spark, 200L, 4), root, 4)))
      // distinct texts and urls fall back to plain encoding on their own; a
      // batch that repeats them would keep a dictionary unless it is off
      val day = java.sql.Timestamp.valueOf("2025-03-01 00:00:00")
      val repeats = (0 until 40).map(i =>
        Extracted(s"u/${i % 4}", day, "txt", TextAssembly.NoText, "utf-8", "ok", null, 1, 1L))
      val second = JobCensus.of(spark)(CommitOracle.check(spark, root,
        ManifestTable.commitAppend(spark, root, repeats.toDS().repartition(1))))
      // the timestamp type and the codec follow the session
      val micros = withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "spark.sql.parquet.compression.codec" -> "gzip") {
        CommitOracle.check(spark, root, ManifestTable.commitAppend(spark, root, repeats.toDS().repartition(1)))
        ManifestTable.snapshots(root).last
      }
      val files = filesOf(0) ++ filesOf(1)
      // one file per write task that wrote rows, whatever days it holds
      assert((first.writers, second.writers) == ((4, 1)))
      assert(files.size == first.writers + second.writers, s"files: $files")
      assert(files.forall(_.getFileName.toString.endsWith(".parquet")), s"files: $files")
      // no checksum sidecar, success marker or committer directory anywhere
      val entries = Using.resource(Files.walk(java.nio.file.Paths.get(root)))(_.iterator().asScala
        .map(_.getFileName.toString).toList)
      assert(!entries.exists(n => n.endsWith(".crc") || n == "_SUCCESS" || n.startsWith("_temporary")), entries)
      val stored = Encoders.product[Extracted].schema.add("p_day", "string")
      val footers = files.map(f => f -> footer(f))
      footers.foreach { case (f, ft) =>
        val blocks = ft.getBlocks.asScala.toSeq
        val dict: Map[String, Boolean] = blocks
          .flatMap(_.getColumns.asScala.map(c => c.getPath.toDotString -> c.hasDictionaryPage))
          .groupMapReduce(_._1)(_._2)(_ || _)
        Seq("text", "url").foreach(c => assert(dict.get(c).contains(false), s"$c in $f: $dict"))
        // parquet itself drops a dictionary no smaller than the plain
        // values, which happens in files of one to three rows; every file
        // here holds a whole task's rows
        assert(blocks.map(_.getRowCount).sum >= 10, s"rows in $f")
        Seq("format", "status", "charset").foreach(c => assert(dict.get(c).contains(true), s"$c in $f: $dict"))
        // Spark's row metadata: the stored columns, p_day included
        val meta = ft.getFileMetaData.getKeyValueMetaData.asScala
        assert(meta.get("org.apache.spark.sql.parquet.row.metadata")
          .map(org.apache.spark.sql.types.DataType.fromJson).contains(stored), s"$f: $meta")
        // session defaults: INT96 timestamps, snappy
        assert(warcTs(ft).getPrimitiveTypeName == PrimitiveTypeName.INT96, s"$f")
        assert(blocks.flatMap(_.getColumns.asScala).forall(_.getCodec == CompressionCodecName.SNAPPY), s"$f")
        // p_day carries row-group statistics, which a day read prunes by
        blocks.foreach { b =>
          val st = b.getColumns.asScala.find(_.getPath.toDotString == "p_day").get.getStatistics
          assert(st.hasNonNullValue && st.minAsString.nonEmpty && st.maxAsString.nonEmpty, s"$f: $st")
        }
      }
      assert(footers.exists(_._2.getBlocks.asScala.map(_.getRowCount).sum == 40L))
      filesOf(micros).map(footer).foreach { ft =>
        val ts = warcTs(ft)
        assert(ts.getPrimitiveTypeName == PrimitiveTypeName.INT64, ts)
        assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS), ts)
        assert(ft.getBlocks.asScala.flatMap(_.getColumns.asScala).forall(_.getCodec == CompressionCodecName.GZIP))
      }
      // a plain parquet read, schema inferred from the footers, reads every
      // commit: the data columns and the stored p_day
      Seq(0L -> 200L, 1L -> 40L, micros -> 40L).foreach { case (q, rows) =>
        val plain = spark.read.parquet(s"${ManifestTable.dataPath(root)}/commit_seq=$q")
        assert(plain.schema.fieldNames.toSeq == stored.fieldNames.toSeq, plain.schema)
        assert(plain.count() == rows, s"commit $q")
      }
    } finally Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("a batch with a null warc_ts (no p_day) fails its commit and publishes nothing") {
    import spark.implicits._
    val root = tmpRoot("null-ts")
    try {
      val ok = Extracted("u/a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "txt", "a", "utf-8", "ok", null, 1, 1L)
      ManifestTable.commitAppend(spark, root, Seq(ok).toDS())
      val err = intercept[IllegalArgumentException](
        ManifestTable.commitAppend(spark, root, Seq(ok.copy(url = "u/b", warc_ts = null)).toDS()))
      assert(err.getMessage.contains("null warc_ts"))
      // through ExtractJob the page is rejected before the kernel runs,
      // and the error names its url
      val page = Page("u/null-ts-page", null, "<p>x</p>".getBytes("UTF-8"), null, "en")
      val pages = Seq(page, page.copy(url = "u/c", warc_ts = ok.warc_ts)).toDS()
      val jobErr = intercept[Exception](ExtractJob.extractAll(pages, root, 1))
      val chain = Iterator.iterate[Throwable](jobErr)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("|")
      assert(chain.contains("null warc_ts") && chain.contains("u/null-ts-page"), chain)
      val left = Using.resource(Files.list(java.nio.file.Paths.get(root))) { s =>
        s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("_staging-")).toList
      }
      assert(left.isEmpty, s"a failed commit left its staging behind: $left")
      assert(ManifestTable.snapshots(root) == Seq(0L))
      assert(ManifestTable.read(spark, root).count() == 1L)
    } finally Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("job census: a map-only extractAll commit is one job, one stage, no shuffle") {
    val root = tmpRoot("census")
    try {
      val pages = Corpus.generate(spark, 80L, 4)
      val commit = JobCensus.of(spark)(ExtractJob.extractAll(pages, root, 4))
      assert((commit.jobs, commit.stages, commit.shuffleBytes) == ((1, 1, 0L)),
        "lineage must ride the staged write, not a read-back of the staged files")
      assert(lastCommitRows(root) == 80L)
      val jobs = JobCensus.of(spark)(ExtractJob.extractAll(pages.limit(0), root, 4)).jobs
      assert(jobs <= 1, s"an empty commit ran $jobs jobs")
    } finally Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("manifest ordering is numeric past the %06d padding width") {
    val root = tmpRoot("seqsort")
    val dir = java.nio.file.Paths.get(root, "_manifests")
    java.nio.file.Files.createDirectories(dir)
    def put(seq: Long): Unit =
      java.nio.file.Files.writeString(
        dir.resolve(f"manifest-$seq%06d.json"),
        s"""{"sequence": $seq, "live_commits": [$seq], "high_watermark_epoch_s": $seq, "partitions": []}"""
      )
    put(999999L)
    put(1000000L) // sorts BEFORE 999999 lexicographically
    assert(ManifestTable.liveSeqs(root) == Seq(1000000L),
      "latest manifest must be picked by numeric seq, not name order")
  }

  test("bucketed resume heals the first-run crash window (done table not created yet)") {
    import spark.implicits._
    val root = tmpRoot("bheal")
    val pagesTable = "bh_pages"
    val doneTable = "bh_done"
    Seq(pagesTable, doneTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(s"spark-warehouse/$t"))
    }
    val pages = Corpus.generate(spark, 120L, 4).cache()
    try {
      graft.sources.Bucketing.writeBucketed(pages.toDF(), pagesTable, "url", 8)
      // crash after the VERY FIRST commit, before the done table ever
      // existed: commit published, no done-set, no markers
      val half = pages.filter(xxhash64($"url") % 2 === 0)
      val nHalf = half.count()
      ManifestTable.commitAppend(spark, root, graft.operators.ExtractKernel.extract(half))
      ExtractJob.resumeBucketed(spark, pagesTable, doneTable, root, 8)
      assert(lastCommitRows(root) == 120L - nHalf,
        s"first-run heal must skip the ${nHalf} committed pages, processed ${lastCommitRows(root)}")
      val table = ManifestTable.read(spark, root)
      assert(table.count() == 120L)
      assert(table.groupBy($"url").count().filter($"count" > 1).count() == 0L,
        "no url may be extracted twice across the crash")
    } finally {
      Seq(pagesTable, doneTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      pages.unpersist()
    }
  }

  test("bucketed resume: exchange-free complement, identical result, incremental done-set") {
    import spark.implicits._
    val root = tmpRoot("bresume")
    val rootRef = tmpRoot("bresume-ref")
    val pagesTable = "br_pages"
    val doneTable = "br_done"
    Seq(pagesTable, doneTable).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(s"spark-warehouse/$t"))
    }
    val pages = Corpus.generate(spark, 300L, 4).cache()
    graft.sources.Bucketing.writeBucketed(pages.toDF(), pagesTable, "url", 8)
    // a half-finished run committed OUTSIDE the bucketed path, on both roots
    val firstHalf = pages.filter(xxhash64($"url") % 2 === 0)
    val nFirst = firstHalf.count()
    ExtractJob.extractAll(firstHalf, root, 4)
    ExtractJob.extractAll(firstHalf, rootRef, 4)
    ExtractJob.rebuildDoneTable(spark, root, doneTable, 8) // resync after the foreign commit
    // the 10^12-row shape: neither side broadcastable
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k))
    try {
      saved.foreach { case (k, _) => spark.conf.set(k, "-1") }
      val rem = ExtractJob.remainingBucketed(spark, pagesTable, doneTable)
      rem.collect() // finalize AQE
      val plan = rem.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"), s"plan:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed resume must not shuffle either side:\n$plan")

        ExtractJob.resumeBucketed(spark, pagesTable, doneTable, root, 8)
      assert(lastCommitRows(root) == 300L - nFirst, s"processed ${lastCommitRows(root)}, expected ${300L - nFirst}")

      // identical to the unbucketed resume on the reference root
      ExtractJob.resume(pages, rootRef)
      val got = ManifestTable.read(spark, root).orderBy($"url").collect().toSeq
      val ref = ManifestTable.read(spark, rootRef).orderBy($"url").collect().toSeq
      assert(got == ref, s"bucketed resume diverged: got ${got.length} rows, ref ${ref.length}")

      // the commit appended its own urls to the done-set: a second resume
      // finds nothing WITHOUT a rebuild
      ExtractJob.resumeBucketed(spark, pagesTable, doneTable, root, 8)
      assert(lastCommitRows(root) == 0L, s"re-resume reprocessed ${lastCommitRows(root)} pages")
      assert(ManifestTable.read(spark, root).count() == 300L)

      // CRASH WINDOW: a commit is published but the process dies before its
      // urls reach the done table (simulated by committing directly). The
      // next resume must reconcile from the marker gap and NOT duplicate.
      val extra = Corpus.generate(spark, 330L, 4)
        .join(pages.select("url"), Seq("url"), "left_anti").as[Page]
      val nExtra = extra.count()
      assert(nExtra > 0, "crash-window case needs fresh pages")
      locally {
        ManifestTable.commitAppend(spark, root, ExtractKernel.extract(extra))
        // re-register the extra pages in the pages table so resume sees them
        graft.sources.Bucketing.appendBucketed(extra.toDF(), pagesTable, "url", 8)
        ExtractJob.resumeBucketed(spark, pagesTable, doneTable, root, 8)
        assert(lastCommitRows(root) == 0L,
          s"crash-reconcile failed: re-extracted ${lastCommitRows(root)} already-committed pages")
        val dupes = ManifestTable.read(spark, root)
          .groupBy($"url").count().filter($"count" > 1).count()
        assert(dupes == 0L, s"$dupes urls duplicated after crash recovery")
        assert(ManifestTable.read(spark, root).count() == 300L + nExtra)
      }
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      Seq(pagesTable, doneTable).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      pages.unpersist()
    }
  }
}
