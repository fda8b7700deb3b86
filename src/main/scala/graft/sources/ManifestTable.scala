package graft.sources

import graft.Extracted
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Iceberg-semantics-over-Parquet table (SURVEY.md §7.0): no Iceberg runtime
  * jar exists in this environment, so we emulate the three semantics the
  * north rule needs —
  *
  *  1. **hidden partitioning**: each snapshot's data lives flat under
  *     `data/commit_seq=N/`, one parquet file per write task, rows sorted by
  *     warc_ts within the file. `p_day` is DERIVED from warc_ts at write
  *     time and stored as an ordinary column that reads do not return; the
  *     manifest, not the directory tree, records which days a commit holds
  *     (Iceberg's manifest-level partition values). [[prunedRead]] drops
  *     the commits whose manifest lists no day in range before opening any
  *     file, then filters the stored `p_day`, which parquet prunes by row
  *     group statistics. A table written in the older
  *     `commit_seq=N/p_day=D/` layout is not read: Spark's partition
  *     discovery fails on the mixed directory shapes.
  *  2. **snapshot manifests**: every commit writes
  *     `_manifests/manifest-<seq>.json` (write-then-atomic-rename) recording
  *     per-partition lineage: p_day → rows/bytes/failures, plus the commit's
  *     warc_ts high watermark. Reads are SCOPED TO PUBLISHED MANIFESTS — a
  *     writer that crashes after materializing data but before publishing its
  *     manifest leaves rows that are invisible (exactly Iceberg's
  *     only-manifest-listed-files rule), so resume/incremental can never
  *     double-process a torn commit.
  *  3. **incremental scans**: [[highWatermark]] + a warc_ts filter give
  *     `extract only pages newer than the last snapshot`.
  *
  * Commit protocol (all O(this commit), never O(table)):
  *   stage → move → publish.
  *   The batch is written to a private `_staging-<seq>` directory, and the
  *   same write job observes the lineage stats and content fingerprint
  *   (no read of the staged files, none of prior commits); the staging
  *   directory is renamed to `data/commit_seq=<seq>` (one directory rename,
  *   no data copy); finally the manifest is published by atomic rename. A
  *   leftover unpublished `commit_seq=<seq>` directory from a crashed
  *   writer is deleted before the rename — it was never visible, so this
  *   is safe. A commit whose staged write, lineage wait or null-`p_day`
  *   check throws deletes its own staging directory before rethrowing.
  *
  * The staged write goes through [[graft.ForkFreeLocalFileSystem]]
  * ([[graft.Fs.ForkFreeWriteOptions]]): without native libhadoop, Hadoop's
  * local filesystem starts a `chmod` process for every file, `.crc`
  * sidecar and directory it creates — 178 per commit on the benchmark's
  * `extractAll` input, which made the staged write slower than the
  * extraction kernel. The same nine permission bits are now set with one
  * syscall each; the files, sidecars and modes on disk are unchanged.
  *
  * The staged write also turns parquet's dictionary encoding off for `text`
  * and `url` ([[StagedWriteOptions]]). Nearly every value of those columns
  * is distinct, so parquet spent CPU on a dictionary for each column chunk
  * only to drop it and fall back to plain encoding. The low-cardinality
  * columns (`format`, `status`, `charset`, `error`) keep their
  * dictionaries.
  *
  * The seam is thin by design: a real Iceberg catalog drops in by replacing
  * this object's write/read with `.writeTo(table)` / `read.table`.
  */
object ManifestTable {

  final case class PartitionStat(p_day: String, rows: Long, bytes: Long, failures: Long)

  /** Wall-clock decomposition of the LAST commit on this JVM: `stage` is
    * the distributed parquet write (scales with executors; it also folds
    * the lineage and content fingerprint, and sets file and directory
    * modes in-process, never through a `chmod` child), `stats` the wait
    * for that write's observed lineage row to reach the driver (no Spark job,
    * sub-millisecond), `move`
    * the O(1) directory rename, `publish` the O(1) manifest write+rename.
    * Bench-facing observability — separates raw data-write cost from the
    * driver-serialized commit protocol so real-cluster projections are
    * defensible (the protocol tail is metadata-only and independent of
    * data volume; only `stage` grows with the batch).
    */
  final case class CommitPhases(stage: Double, stats: Double, move: Double, publish: Double)

  // keyed by root: the commit protocol serializes commits WITHIN a root
  // (nextSeq is per-root), so per-root last-phases cannot race with a
  // concurrent committer on a different root (e.g. a streaming sink
  // committing elsewhere while the bench measures its own temp root)
  private val phasesByRoot =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPhases]()

  /** Phase split of the most recent commit into `root` on this JVM. */
  def lastCommitPhases(root: String): CommitPhases =
    phasesByRoot.getOrDefault(root, CommitPhases(0, 0, 0, 0))

  def dataPath(root: String): String = s"$root/data"
  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")
  private def commitDir(root: String, seq: Long): Path =
    Paths.get(dataPath(root), s"commit_seq=$seq")

  /** Append a batch of extraction output as one committed snapshot.
    *
    * Exactly ONE action runs the upstream pipeline: the staged write, which
    * also observes the lineage stats and content fingerprint, so kernel
    * work is never recomputed, the staged files are never read back, and
    * commit cost is independent of table history. Counts stay exact under
    * task retries: observed metrics live in the write's result stage,
    * where Spark applies one update per output partition and drops failed
    * or commit-denied attempts, and only the committed attempt's rows land.
    * [[verifyIntegrity]] re-derives them from the committed files.
    */
  def commitAppend(spark: SparkSession, root: String, batch: Dataset[Extracted]): Long =
    commitInternal(spark, root, batch, streamBatchId = None)

  /** Exactly-once sink for Structured Streaming's foreachBatch: the micro-
    * batch id is recorded in the published manifest, and a REPLAYED batch
    * (foreachBatch re-delivers after a failed/restarted query) whose id is
    * already committed is skipped — the streaming analog of Iceberg's
    * idempotent snapshot commits. Returns None when skipped.
    */
  def commitStreamBatch(
      spark: SparkSession,
      root: String,
      batchId: Long,
      batch: Dataset[Extracted]
  ): Option[Long] =
    if (committedStreamBatchIds(root).contains(batchId)) None
    else Some(commitInternal(spark, root, batch, streamBatchId = Some(batchId)))

  /** Rewrite the live table as ONE snapshot whose manifest lists only
    * itself as live — the Iceberg-compaction analog. Commit directories
    * otherwise accumulate forever (10^4 incremental commits = 10^4
    * directories on every read listing); after compaction read() touches
    * one directory and [[vacuum]] may reclaim the dead ones. History
    * (manifests, high watermark, stream batch ids) is preserved.
    *
    * The snapshot holds the latest-commit winner per url, [[deleteUrls]]
    * tombstones included, so [[readLatest]] reads the same rows before and
    * after: one commit holds no superseded row whose `warc_ts` could
    * out-rank its successor. [[read]] no longer returns superseded rows.
    */
  def compact(spark: SparkSession, root: String): Long =
    compactTo(spark, root)(latestWinners(spark, root))

  /** Copy-on-write MERGE materialization: [[compact]] without the
    * tombstones, so the snapshot holds exactly the [[readLatest]] rows and
    * deleted urls' data is gone (read-amplification O(1), the Iceberg
    * rewrite-data-files analog for equality deletes). Run [[vacuum]] after
    * to reclaim the superseded and deleted rows' storage.
    */
  def compactLatest(spark: SparkSession, root: String): Long =
    compactTo(spark, root)(readLatest(spark, root))

  private def compactTo(spark: SparkSession, root: String)(derive: => DataFrame): Long =
    withCommitLock(root) {
      import spark.implicits._
      // derive + commit under ONE lock hold: the derive pins the live set
      // eagerly, so without the outer lock an append landing between the
      // pin and the compaction commit would be silently dropped from the
      // replacement snapshot (compaction rewrites live=[self])
      commitInternal(spark, root, derive.as[Extracted], streamBatchId = None, compaction = true)
    }

  /** Iceberg expire-snapshots analog — BOUNDED time-travel retention: keep
    * only the LAST `keepLast` published snapshots readable via [[readAsOf]];
    * older manifests are deleted, then every commit directory not
    * referenced by a kept snapshot's live set is reclaimed. [[vacuum]] is
    * the data-side keepLast=1 (current snapshot only) but keeps all
    * manifests, so expired as-of reads there fail on missing data; this
    * variant removes the manifest too, so an expired as-of read fails at
    * manifest resolution — one error surface, no half-expired states.
    * Returns (expired manifest seqs, reclaimed data dir seqs).
    *
    * Stream-replay ids recorded only in expired manifests are forgotten
    * with them — Iceberg shares this bounded-history property; streaming
    * checkpoints only ever replay the most recent batch, which by
    * construction lives in a kept manifest.
    */
  def expireSnapshots(root: String, keepLast: Int): (Seq[Long], Seq[Long]) = withCommitLock(root) {
    // under the commit lock: this lists data/ DIRECTLY (unlike vacuum,
    // which only touches published seqs), so racing a mid-commit writer it
    // would otherwise delete the writer's just-moved, not-yet-published
    // directory — exactly the clobber class the lock exists to prevent
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ms = listManifests(root)
    require(ms.nonEmpty, s"no published snapshots under $root")
    val (expire, keep) = ms.splitAt(math.max(0, ms.size - keepLast))
    val referenced = keep.flatMap(liveSeqsOf).toSet
    val expiredSeqs = expire.map(seqOf)
    expire.foreach(p => Files.delete(p))
    streamIdCache.remove(root) // batch-id set shrank; recompute lazily
    val dataDir = Paths.get(dataPath(root))
    val onDisk: Seq[Long] =
      if (!Files.exists(dataDir)) Seq.empty
      else {
        val s = Files.list(dataDir)
        try s.iterator().asScala.toSeq
          .map(_.getFileName.toString)
          .collect { case n if n.startsWith("commit_seq=") =>
            n.stripPrefix("commit_seq=").toLong }
        finally s.close()
      }
    val dead = onDisk.filterNot(referenced).sorted
    dead.foreach(q => graft.Fs.deleteRecursively(commitDir(root, q)))
    (expiredSeqs, dead)
  }

  /** Delete commit directories no longer referenced by the latest manifest.
    * Safe because every read is scoped to the live set; run after
    * [[compact]] to reclaim space.
    */
  def vacuum(root: String): Seq[Long] = {
    val live = liveSeqs(root).toSet
    val dead = publishedSeqs(root).filterNot(live)
    dead.foreach(q => graft.Fs.deleteRecursively(commitDir(root, q)))
    dead
  }

  /** Advisory per-root commit mutex. The protocol derives seq from the
    * published-manifest listing, so TWO concurrent writers on one root
    * would pick the SAME seq: the second's leftover-cleanup would delete
    * the first's just-moved data directory and its manifest rename would
    * silently replace the first's (POSIX rename replaces) — silent data
    * loss. `Files.createFile` is atomic (O_EXCL), so the loser fails
    * LOUDLY instead. A writer that crashes inside a commit leaves a stale
    * lock; the error message says what to verify before removing it —
    * the torn commit itself is already crash-safe (unpublished data is
    * invisible and cleaned by the next writer). A real Iceberg catalog
    * replaces this file with its transactional CAS; the seam is this one
    * function.
    */
  // reentrancy depth per (thread, root): compact/compactLatest take the
  // lock around their DERIVE-read + commit (the read must see the same
  // table state the commit replaces, or a racing append's rows silently
  // vanish from the compaction snapshot), and commitInternal inside then
  // re-enters rather than deadlocking on its own lock file.
  private val lockDepth = new ThreadLocal[java.util.HashMap[String, Integer]] {
    override def initialValue(): java.util.HashMap[String, Integer] =
      new java.util.HashMap[String, Integer]()
  }

  private def withCommitLock[T](root: String)(body: => T): T = {
    val depths = lockDepth.get()
    val d = Option(depths.get(root)).map(_.intValue).getOrElse(0)
    if (d > 0) {
      depths.put(root, d + 1)
      try body finally depths.put(root, d)
    } else {
      val dir = manifestDir(root)
      Files.createDirectories(dir)
      val lock = dir.resolve(".commit.lock")
      try Files.createFile(lock)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"concurrent commit in progress on $root ($lock exists). If no " +
              "writer is alive this is a stale lock from a crashed commit — " +
              "verify and delete it; the torn commit's data is unpublished " +
              "and will be cleaned by the next writer.")
      }
      depths.put(root, 1)
      try body
      finally {
        depths.remove(root)
        Files.deleteIfExists(lock)
      }
    }
  }

  private def commitInternal(
      spark: SparkSession,
      root: String,
      batch: Dataset[Extracted],
      streamBatchId: Option[Long],
      compaction: Boolean = false
  ): Long = withCommitLock(root) {
    val (seq, prevLive) = commitState(root)
    // live set AFTER this commit: append adds itself; compaction replaces
    // everything with itself. Resolved BEFORE the staged write so a
    // compaction snapshot is derived from the pre-commit state.
    val live = if (compaction) Seq(seq) else prevLive :+ seq
    val staging = Paths.get(root, s"_staging-$seq")
    graft.Fs.deleteRecursively(staging) // leftover from a crashed writer: never visible
    val t0 = System.nanoTime()
    val (t1, stats, hw, contentFp) =
      try {
        // lineage rides the staged write (exact under retries, see
        // [[commitAppend]]): folded per write task, merged on the driver
        val lineage = Observation()
        batch
          .withColumn("p_day", date_format(col("warc_ts"), "yyyy-MM-dd"))
          .observe(lineage,
            DayLineage.column(col("p_day"), col("n_bytes_in"),
              when(col("status") =!= "ok", 1L).otherwise(0L)).as("days"),
            max(unix_timestamp(col("warc_ts"))).as("hw"),
            bit_xor(RowFp).as("fp"))
          .sortWithinPartitions("warc_ts")
          .write
          .options(StagedWriteOptions)
          .mode(SaveMode.Overwrite)
          .parquet(staging.toString)
        val t1 = System.nanoTime()

        // the observed row reaches the driver through the listener bus after
        // the write returns; bounded wait, and a missing row publishes nothing
        val observed =
          try Await.result(lineage.future, LineageTimeout)
          catch {
            case e: java.util.concurrent.TimeoutException =>
              throw new IllegalStateException(
                s"commit $seq on $root: the staged write's lineage did not arrive " +
                  s"within $LineageTimeout; nothing published", e)
          }
        val days = observed.getAs[scala.collection.Seq[Row]]("days")
          .map(r => PartitionStat(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // a null warc_ts has no p_day: such a batch has never been committable
        require(days.forall(_.p_day != null),
          s"commit $seq on $root: rows with null warc_ts have no p_day; nothing published")
        // an empty batch observes no days and null hw/fp: a 0-row snapshot
        def orZero(field: String): Long =
          Option(observed.getAs[java.lang.Long](field)).fold(0L)(_.longValue)
        // "fp" is the commit-level content fingerprint: the same
        // order-independent xor [[verifyIntegrity]] recomputes from the data
        // alone (bit-rot audit)
        (t1, days.sortBy(_.p_day).toSeq, orZero("hw"), orZero("fp"))
      } catch {
        case e: Throwable =>
          // nothing is moved or published yet, so the staged files are garbage
          try graft.Fs.deleteRecursively(staging)
          catch { case s: Throwable => e.addSuppressed(s) }
          throw e
      }
    val t2 = System.nanoTime()

    // move staged data into place: one directory rename, no copy
    val target = commitDir(root, seq)
    Files.createDirectories(target.getParent)
    graft.Fs.deleteRecursively(target) // crashed unpublished attempt, see scaladoc
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    val t3 = System.nanoTime()

    // publish: manifest rename is the commit point
    val json = renderManifest(seq, stats, hw, streamBatchId, live, contentFp)
    val dir = manifestDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".manifest-$seq.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(f"manifest-$seq%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    commitStateCache.put(root, (seq, live))
    phasesByRoot.put(root, CommitPhases(
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      (System.nanoTime() - t3) / 1e9))
    // keep the batch-id cache coherent without a rescan (only if populated)
    streamIdCache.get(root).foreach { case (_, ids) =>
      streamIdCache.put(root, (listManifests(root).size, ids ++ streamBatchId))
    }
    seq
  }

  /** Fixed data schema — supplied explicitly so a table whose committed
    * snapshots are all empty (0-row no-op commits) still reads as an empty
    * DataFrame instead of failing schema inference. It leaves out the
    * stored `p_day`, so reads never return it.
    */
  private val dataSchema = org.apache.spark.sql.Encoders.product[Extracted].schema

  /** The rows of the commits `seqs` in `schema`, with the hidden
    * `commit_seq` directory column still attached. Every table read goes
    * through here.
    */
  private def scan(spark: SparkSession, root: String, seqs: Seq[Long],
      schema: StructType = dataSchema): DataFrame =
    spark.read
      .option("basePath", dataPath(root))
      .schema(schema)
      .parquet(seqs.map(q => commitDir(root, q).toString): _*)

  /** The live commit seqs; a root without a committed snapshot fails. */
  private def liveOrFail(root: String): Seq[Long] = {
    val seqs = liveSeqs(root)
    require(seqs.nonEmpty, s"no committed snapshots under $root")
    seqs
  }

  /** Read full table state — ONLY data listed by published manifests, hidden
    * columns stripped. Listing cost is O(published commits), and a torn
    * (data-moved-but-unpublished) commit is never read.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    scan(spark, root, liveOrFail(root)).drop("commit_seq")

  /** Read the rows whose `p_day` lies in `[fromDay, toDay]` — the emulated
    * Iceberg hidden-partitioning benefit (SURVEY.md §4.2). A live commit is
    * listed only when its own manifest records a day in range (one whose
    * manifest has expired is kept: nothing says it can be skipped). The
    * stored `p_day` filter then reaches parquet, whose row-group min/max
    * are tight because the write sorts each file by warc_ts.
    */
  def prunedRead(spark: SparkSession, root: String, fromDay: String, toDay: String): DataFrame = {
    val own = listManifests(root).map(p => seqOf(p) -> p).toMap
    val seqs = liveOrFail(root).filter(q => own.get(q).forall(p =>
      parseStats(Files.readString(p)).exists(s => s.p_day >= fromDay && s.p_day <= toDay)))
    if (seqs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), dataSchema)
    else scan(spark, root, seqs, dataSchema.add("p_day", StringType))
      .filter(col("p_day") >= fromDay && col("p_day") <= toDay)
      .drop("p_day", "commit_seq")
  }

  /** Status value marking a url-level delete; a tombstone row is a normal
    * committed row with this status, so deletes ride the exact same
    * manifest/commit/resume machinery as data.
    */
  final val DeletedStatus = "deleted"

  /** Url-level delete (takedown / opt-out honoring — at 100 TB this is a
    * compliance operation, not an edge case): commit one TOMBSTONE row per
    * url. [[readLatest]] resolves a tombstone winner to row-absent;
    * [[compactLatest]] then physically removes the data (the copy-on-write
    * "right to be forgotten" step — run [[vacuum]] after to reclaim bytes).
    * A LATER commit for the same url (recrawl upsert) wins over the
    * tombstone and resurrects it — deletes are snapshots in history, not
    * permanent bans. `ts` sets the tombstone's warc_ts (and thus p_day and
    * the commit's high watermark): pass the delete-request time; note a
    * far-future ts would advance [[highWatermark]] and mask subsequent
    * [[graft.operators.ExtractJob.incremental]] windows.
    *
    * Lineage note: tombstones count into the commit's `failures` stat
    * (status != ok) — a delete commit reads as rows=K, failures=K, which
    * keeps per-commit row accounting exact.
    */
  def deleteUrls(
      spark: SparkSession,
      root: String,
      urls: DataFrame,
      ts: java.sql.Timestamp
  ): Long = {
    import spark.implicits._
    val tombs = urls
      .select(col("url").cast("string").as("url"))
      .distinct()
      .withColumn("warc_ts", lit(ts))
      .withColumn("format", lit("tombstone"))
      .withColumn("text", lit(null).cast("string"))
      .withColumn("charset", lit(null).cast("string"))
      .withColumn("status", lit(DeletedStatus))
      .withColumn("error", lit(null).cast("string"))
      .withColumn("n_blocks", lit(0))
      .withColumn("n_bytes_in", lit(0L))
      .as[Extracted]
    commitInternal(spark, root, tombs, streamBatchId = None)
  }

  /** Merge-on-read: current row per url, LATEST COMMIT WINS — the Iceberg
    * equality-delete emulation that makes recrawl upserts readable without
    * rewriting history. `commit_seq` is a hidden partition column, so the
    * winner rank costs one url-shuffle window over only the LIVE commits
    * (exactly the merge-on-read price Iceberg pays; urls are unique within
    * a commit by the extract contract, so row_number is deterministic).
    * A url whose winner is a [[deleteUrls]] tombstone reads as ABSENT.
    * At 10^12 rows amortize that shuffle by calling [[compactLatest]]
    * periodically — reads between recrawls then skip the window entirely.
    */
  def readLatest(spark: SparkSession, root: String): DataFrame =
    latestWinners(spark, root).filter(col("status") =!= DeletedStatus)

  /** The latest-commit winner per url over the live commits, tombstones
    * included — the one window behind [[readLatest]], [[compact]] and
    * [[compactLatest]].
    */
  private def latestWinners(spark: SparkSession, root: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"))
      .orderBy(col("commit_seq").cast("long").desc, col("warc_ts").desc)
    scan(spark, root, liveOrFail(root))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "commit_seq")
  }

  def exists(root: String): Boolean =
    Files.exists(manifestDir(root)) && latestManifest(root).isDefined

  /** Url column of ONE committed snapshot (column-pruned read of that
    * commit's directory only — O(commit), not O(table)). Used to append the
    * just-committed urls to a bucketed done-set table.
    */
  def commitUrls(spark: SparkSession, root: String, seq: Long): DataFrame = {
    import spark.implicits._
    if (graft.Fs.hasParquetFiles(commitDir(root, seq))) scan(spark, root, Seq(seq)).select("url")
    else spark.createDataset(Seq.empty[String]).toDF("url")
  }

  /** Committed url set for resume (anti-join right side). */
  def committedUrls(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    if (exists(root)) read(spark, root).select("url")
    else spark.createDataset(Seq.empty[String]).toDF("url")
  }

  /** High watermark (max committed warc_ts, epoch seconds) across manifests. */
  def highWatermark(root: String): Option[Long] = {
    val ms = listManifests(root)
    if (ms.isEmpty) None
    else Some(ms.map(p => parseHw(Files.readString(p))).max)
  }

  /** Per-partition lineage of the latest snapshot (for audits/tests). */
  def latestStats(root: String): Seq[PartitionStat] =
    latestManifest(root).toSeq.flatMap(p => parseStats(Files.readString(p)))

  // ---- manifest encoding (hand-rolled JSON; no external deps) ------------

  private def renderManifest(
      seq: Long,
      stats: Seq[PartitionStat],
      hw: Long,
      streamBatchId: Option[Long],
      live: Seq[Long],
      contentFp: Long
  ): String = {
    val parts = stats
      .map(s => s"""    {"p_day":"${s.p_day}","rows":${s.rows},"bytes":${s.bytes},"failures":${s.failures}}""")
      .mkString(",\n")
    val batchLine = streamBatchId.map(id => s"""  "stream_batch_id": $id,\n""").getOrElse("")
    s"""{
  "sequence": $seq,
  "live_commits": [${live.mkString(",")}],
$batchLine  "content_fp": $contentFp,
  "high_watermark_epoch_s": $hw,
  "total_rows": ${stats.map(_.rows).sum},
  "total_bytes": ${stats.map(_.bytes).sum},
  "total_failures": ${stats.map(_.failures).sum},
  "partitions": [
$parts
  ]
}"""
  }

  private def listManifests(root: String): Seq[Path] = {
    val dir = manifestDir(root)
    if (!Files.exists(dir)) Seq.empty
    else
      scala.util.Using.resource(Files.list(dir)) { stream =>
        stream.iterator().asScala.toSeq
          .filter(_.getFileName.toString.matches("manifest-\\d+\\.json"))
          // NUMERIC order: name order breaks past the %06d padding
          // (manifest-1000000 sorts before manifest-999999 as a string,
          // which would silently pick a stale latest manifest)
          .sortBy(p => seqOf(p))
      }
  }

  private def seqOf(p: Path): Long =
    p.getFileName.toString.stripPrefix("manifest-").stripSuffix(".json").toLong

  private def latestManifest(root: String): Option[Path] = listManifests(root).lastOption

  private def publishedSeqs(root: String): Seq[Long] =
    listManifests(root).map(seqOf)

  private def nextSeq(root: String): Long =
    publishedSeqs(root).lastOption.map(_ + 1).getOrElse(0L)

  /** Per-root (lastPublishedSeq, its live set) — the ONLY manifest state a
    * commit needs. Without it every commit pays two O(#manifests)
    * directory listings (nextSeq + latestManifest) plus an O(live-set)
    * manifest re-parse; the 10^4-commit soak measured that as a real
    * latency slope (~6.5 µs/commit, +28% by commit 10,000). With it a
    * commit's manifest-state cost is two Files.exists probes. Guarded by
    * the commit lock; validated against foreign writers cheaply: the cache
    * is stale iff our last-known manifest vanished (expire/retention by
    * another process) or a successor manifest exists (another writer
    * appended — it would have derived exactly lastSeq+1). Either probe
    * failing falls back to one full listing.
    */
  private val commitStateCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Seq[Long])]

  /** (next seq to publish, live set of the latest manifest) in O(1) on the
    * single-writer fast path. Call only under the commit lock.
    */
  private def commitState(root: String): (Long, Seq[Long]) = {
    val dir = manifestDir(root)
    commitStateCache.get(root) match {
      case Some((lastSeq, live))
          if Files.exists(dir.resolve(f"manifest-$lastSeq%06d.json")) &&
            !Files.exists(dir.resolve(f"manifest-${lastSeq + 1}%06d.json")) =>
        (lastSeq + 1, live)
      case _ =>
        latestManifest(root) match {
          case None    => (0L, Seq.empty)
          case Some(p) => (seqOf(p) + 1, liveSeqsOf(p))
        }
    }
  }


  /** Stream micro-batch ids already committed (for foreachBatch replays).
    * The authoritative record is the manifests; a per-root in-memory cache
    * (keyed by manifest count) avoids re-reading every manifest file on
    * every micro-batch — without it a 10^4-batch stream would perform
    * O(commits) file reads per commit. A restarted query pays one full scan;
    * a foreign commit (count mismatch) also triggers one rescan. Single
    * writer per table assumed (as for any catalog-less table format).
    */
  def committedStreamBatchIds(root: String): Set[Long] = {
    val manifests = listManifests(root)
    streamIdCache.get(root) match {
      case Some((n, ids)) if n == manifests.size => ids
      case _ =>
        val ids = manifests
          .flatMap(p => batchIdRe.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong))
          .toSet
        streamIdCache.put(root, (manifests.size, ids))
        ids
    }
  }

  private val streamIdCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Set[Long])]

  /** Live commit seqs per the LATEST manifest (the table state). A manifest
    * without `live_commits` predates both live-set tracking AND the
    * commit_seq=N directory layout this reader lists, so "fall back to every
    * published seq" could never read it anyway — fail loudly instead of
    * constructing paths that don't exist.
    */
  def liveSeqs(root: String): Seq[Long] =
    latestManifest(root) match {
      case None    => Seq.empty
      case Some(p) => liveSeqsOf(p)
    }

  private def liveSeqsOf(p: Path): Seq[Long] =
    liveRe.findFirstMatchIn(Files.readString(p)) match {
      case Some(m) =>
        val body = m.group(1).trim
        if (body.isEmpty) Seq.empty else body.split(",").map(_.trim.toLong).toSeq
      case None =>
        throw new IllegalStateException(
          s"manifest ${p.getFileName} has no live_commits: table layout predates " +
            "commit_seq directories and cannot be read; re-ingest or migrate the table")
    }

  /** Published snapshot seqs, oldest first — the time-travel axis. */
  def snapshots(root: String): Seq[Long] = publishedSeqs(root)

  /** Time travel: read the table AS OF snapshot `asOfSeq` — the state the
    * greatest published manifest with seq <= asOfSeq describes. Every
    * published manifest pins its own live set, so a later compaction does
    * NOT rewrite history: as-of reads keep resolving the original
    * directories until `vacuum` physically deletes them (the Iceberg
    * expire-snapshots semantic) — after which this fails loudly instead of
    * returning a silently partial snapshot.
    */
  def readAsOf(spark: SparkSession, root: String, asOfSeq: Long): DataFrame = {
    val ms = listManifests(root).filter(p => seqOf(p) <= asOfSeq)
    require(ms.nonEmpty, s"no published snapshot with seq <= $asOfSeq under $root")
    val seqs = liveSeqsOf(ms.last)
    require(seqs.nonEmpty, s"snapshot ${seqOf(ms.last)} under $root is empty")
    seqs.map(q => commitDir(root, q)).find(d => !Files.exists(d)).foreach { d =>
      throw new IllegalStateException(
        s"snapshot $asOfSeq references vacuumed data $d; its time-travel window has expired")
    }
    scan(spark, root, seqs).drop("commit_seq")
  }

  /** Canonical per-row fingerprint (one column value, so the write-side
    * observe and the read-side audit can never drift): every
    * content-bearing column, nulls sentineled with U+0001. Accepted
    * collision: a null column and a literal U+0001 value hash identically —
    * the one swap this scheme cannot see. bit_xor over rows makes the
    * commit fingerprint order-independent (recompute ordering can't
    * matter); XOR's blindness to DUPLICATED rows (they self-cancel) is
    * covered by the row-count comparison the audit does alongside the
    * fingerprint.
    */
  private[graft] val RowFp: Column = {
    def orSentinel(c: String): Column = coalesce(col(c), lit("\u0001"))
    xxhash64(col("url"), unix_timestamp(col("warc_ts")), orSentinel("text"),
      col("format"), orSentinel("charset"), col("status"), orSentinel("error"),
      col("n_blocks"), col("n_bytes_in"))
  }

  /** Options of the staged write: no `chmod` process per file (see the
    * object's scaladoc), and no parquet dictionary for the two columns whose
    * values are nearly all distinct.
    */
  private val StagedWriteOptions: Map[String, String] = graft.Fs.ForkFreeWriteOptions ++ Map(
    "parquet.enable.dictionary#text" -> "false",
    "parquet.enable.dictionary#url" -> "false")

  /** Bound on the wait for a commit's observed lineage: the row is posted
    * through the listener bus right after the write, so a miss means it
    * was never produced, and the commit fails instead of hanging.
    */
  private val LineageTimeout: FiniteDuration = 2.minutes

  private type Days = mutable.HashMap[String, Array[Long]]

  /** Per-`p_day` (rows, bytes, failures) of one commit, folded inside the
    * staged write: one map per write task, merged on the driver. A null
    * p_day stays a key of its own so the commit can reject it.
    */
  private object DayLineage extends Aggregator[(String, Long, Long), Days, Seq[PartitionStat]] {
    private def add(b: Days, day: String, rows: Long, bytes: Long, failures: Long): Days = {
      val a = b.getOrElseUpdate(day, new Array[Long](3))
      a(0) += rows; a(1) += bytes; a(2) += failures
      b
    }
    def zero: Days = mutable.HashMap.empty
    def reduce(b: Days, in: (String, Long, Long)): Days = add(b, in._1, 1L, in._2, in._3)
    def merge(x: Days, y: Days): Days =
      y.foldLeft(x) { case (acc, (day, v)) => add(acc, day, v(0), v(1), v(2)) }
    def finish(b: Days): Seq[PartitionStat] =
      b.iterator.map { case (day, a) => PartitionStat(day, a(0), a(1), a(2)) }.toSeq
    // vals: a def would rebuild the encoders by reflection on every call
    private val buffer: Encoder[Days] = Encoders.javaSerialization
    private val output: Encoder[Seq[PartitionStat]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[PartitionStat]]()
    def bufferEncoder: Encoder[Days] = buffer
    def outputEncoder: Encoder[Seq[PartitionStat]] = output
    val column = udaf(this, Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
  }

  final case class IntegrityReport(
      seq: Long,
      expected: Option[Long],
      actual: Long,
      expectedRows: Option[Long],
      actualRows: Long,
      missing: Boolean
  ) {
    def ok: Boolean =
      !missing && expected.forall(_ == actual) && expectedRows.forall(_ == actualRows)
  }

  /** Bit-rot audit: recompute each LIVE commit's content fingerprint AND
    * row count from its data files and compare with what its manifest
    * recorded at commit time. One scan of the live data grouped by the
    * hidden commit_seq column — O(table) but embarrassingly parallel, the
    * shape of a scheduled integrity sweep at 100 TB. The row-count check
    * catches what XOR alone cannot (duplicated rows/files self-cancel in
    * bit_xor); a live commit whose directory VANISHED reports missing=true
    * instead of crashing the scan; a live commit whose own manifest was
    * expired (or predates the fields) reports expected=None and counts as
    * ok (nothing to compare against).
    */
  def verifyIntegrity(spark: SparkSession, root: String): Seq[IntegrityReport] = {
    import spark.implicits._
    val seqs = liveOrFail(root)
    val manifests: Map[Long, String] = listManifests(root)
      .map(p => seqOf(p) -> Files.readString(p))
      .toMap
    val expectedFp: Map[Long, Long] = manifests.flatMap { case (q, json) =>
      contentFpRe.findFirstMatchIn(json).map(m => q -> m.group(1).toLong)
    }
    val expectedRows: Map[Long, Long] = manifests.flatMap { case (q, json) =>
      totalRowsRe.findFirstMatchIn(json).map(m => q -> m.group(1).toLong)
    }
    val (present, vanished) = seqs.partition(q => Files.exists(commitDir(root, q)))
    val actual: Map[Long, (Long, Long)] =
      if (present.isEmpty) Map.empty
      else scan(spark, root, present)
        .groupBy(col("commit_seq").cast("long").as("seq"))
        .agg(bit_xor(RowFp).as("fp"), count(lit(1)).as("n"))
        .as[(Long, Long, Long)]
        .collect()
        .map(r => r._1 -> ((r._2, r._3)))
        .toMap
    seqs.map { q =>
      val (fp, n) = actual.getOrElse(q, (0L, 0L))
      IntegrityReport(q, expectedFp.get(q), fp, expectedRows.get(q), n,
        missing = vanished.contains(q))
    }
  }

  private val totalRowsRe = """"total_rows":\s*(\d+)""".r

  private val contentFpRe = """"content_fp":\s*(-?\d+)""".r
  private val liveRe = """"live_commits":\s*\[([^\]]*)\]""".r
  private val batchIdRe = """"stream_batch_id":\s*(\d+)""".r
  private val hwRe = """"high_watermark_epoch_s":\s*(\d+)""".r
  private val partRe =
    """\{"p_day":"([0-9-]+)","rows":(\d+),"bytes":(\d+),"failures":(\d+)\}""".r

  private def parseHw(json: String): Long =
    hwRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)

  private def parseStats(json: String): Seq[PartitionStat] =
    partRe.findAllMatchIn(json).map(m => PartitionStat(m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toLong)).toSeq
}
