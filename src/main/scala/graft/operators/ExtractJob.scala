package graft.operators

import graft.{Extracted, Page}
import graft.sources.{Bucketing, ManifestTable}
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The three north-rule query shapes over the pages table:
  * extract-all, resume (exact, manifest-driven), and incremental re-extract
  * (snapshot high-watermark). Join surface per SURVEY.md §2.3: the
  * committed-manifest LEFT ANTI join (J2) — broadcast when small — is
  * resume's only shuffle; extraction itself is map-only.
  */
object ExtractJob {

  /** The kernel over pages bound for a commit. A page with a null
    * `warc_ts` has no `p_day`: its task fails before the kernel runs,
    * naming the url, and the commit publishes nothing.
    */
  private def kernel(pages: Dataset[Page]): Dataset[Extracted] =
    ExtractKernel.extract(pages.withColumn("warc_ts", when(col("warc_ts").isNull,
      raise_error(concat(lit("page has a null warc_ts, so no commit can hold it: "), col("url"))))
      .otherwise(col("warc_ts"))).as(PageEncoder))

  // derived once, as ExtractKernel's encoders are
  private val PageEncoder: Encoder[Page] = Encoders.product[Page]

  /** Full extraction of a pages dataset into a committed snapshot. The
    * third argument is not read: the plan's parallelism is the scan's
    * byte-bounded splits. It stays because existing callers pass it.
    */
  def extractAll(pages: Dataset[Page], outRoot: String, partitions: Int): Long =
    ManifestTable.commitAppend(pages.sparkSession, outRoot, kernel(pages))

  /** Exact resume: process only pages whose url is NOT in any committed
    * snapshot (reference analog: skip-if-output-exists, main.py:42-44,62-66).
    * The done-set is broadcast when it is small enough; otherwise Spark
    * falls back to a shuffled anti hash join — both correct at 10^12 rows.
    */
  def resume(pages: Dataset[Page], outRoot: String): Long = {
    val spark = pages.sparkSession
    import spark.implicits._
    val done = ManifestTable.committedUrls(spark, outRoot)
    val remaining = pages.join(done, Seq("url"), "left_anti").as[Page]
    val out = kernel(remaining)
    ManifestTable.commitAppend(spark, outRoot, out)
  }

  /** Exchange-free resume for the 10^12-page shape where the done-set is NOT
    * broadcastable: pages live in a url-bucketed catalog table and the
    * committed-url set is MAINTAINED as a second bucketed table with the
    * same spec — each commit appends only its own urls (one new file per
    * touched bucket), so every subsequent resume plans a SortMergeJoin with
    * NO Exchange on either side. [[resume]] shuffles both sides on url every
    * run once broadcast is off the table; this variant pays the layout cost
    * once at write time instead. Reference analog: skip-if-output-exists
    * (main.py:42-44,62-66) at corpus scale.
    *
    * Crash safety: the manifest commit and the done-table append are two
    * separate writes, so a crash between them would leave a published
    * commit whose urls the anti-join cannot see — the next resume would
    * re-extract and DUPLICATE them. Every ingested commit therefore gets a
    * marker file under `outRoot/done-markers/<table>/<seq>`, and resume
    * starts by re-appending any live commit without a marker
    * (O(that commit), via [[ManifestTable.commitUrls]]). Re-appending is
    * idempotent for anti-join MEMBERSHIP, so the marker being written last
    * is safe, and a foreign append commit (extractAll on the same root) is
    * reconciled the same way. Compaction replaces the live set with one
    * O(table) commit — the reconcile still heals it, but run
    * [[rebuildDoneTable]] after compacting to avoid the one-off full
    * re-append.
    */
  def resumeBucketed(
      spark: SparkSession,
      pagesTable: String,
      doneTable: String,
      outRoot: String,
      nBuckets: Int = 64
  ): Long = {
    // reconcile UNCONDITIONALLY: on the first-ever resume the done table
    // may not exist yet while the root already has commits (a crash after
    // the very first commitAppend, or a foreign extractAll) — appendBucketed
    // creates the table, so the heal works from nothing
    val missing = ManifestTable.liveSeqs(outRoot).filterNot(ingestedSeqs(outRoot, doneTable))
    missing.foreach { q =>
      Bucketing.appendBucketed(
        ManifestTable.commitUrls(spark, outRoot, q), doneTable, "url", nBuckets)
      markIngested(outRoot, doneTable, q)
    }
    val remaining = remainingBucketed(spark, pagesTable, doneTable)
    val out = kernel(remaining)
    val seq = ManifestTable.commitAppend(spark, outRoot, out)
    Bucketing.appendBucketed(
      ManifestTable.commitUrls(spark, outRoot, seq), doneTable, "url", nBuckets)
    markIngested(outRoot, doneTable, seq)
    seq
  }

  private def markerDir(outRoot: String, doneTable: String): java.nio.file.Path =
    java.nio.file.Paths.get(outRoot, "done-markers", doneTable.replace('.', '_'))

  private def ingestedSeqs(outRoot: String, doneTable: String): Set[Long] = {
    val dir = markerDir(outRoot, doneTable)
    if (!java.nio.file.Files.isDirectory(dir)) Set.empty
    else {
      val ls = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.flatMap(p => p.getFileName.toString.toLongOption).toSet
      } finally ls.close()
    }
  }

  private def markIngested(outRoot: String, doneTable: String, seq: Long): Unit = {
    val dir = markerDir(outRoot, doneTable)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve(seq.toString), Array.empty[Byte])
  }

  /** The bucketed resume complement (exposed for plan assertions): pages not
    * yet in the done-set table, planned exchange-free when both tables share
    * the bucket spec.
    */
  def remainingBucketed(spark: SparkSession, pagesTable: String, doneTable: String): Dataset[Page] = {
    import spark.implicits._
    (if (spark.catalog.tableExists(doneTable))
       Bucketing.bucketedAntiJoin(spark, pagesTable, doneTable, "url")
     else spark.table(pagesTable)).as[Page]
  }

  /** Rebuild the bucketed done-set from the manifest table's full committed
    * url set (one bucketed shuffle-write, O(table) — run once after foreign
    * commits, then [[resumeBucketed]] stays incremental).
    */
  def rebuildDoneTable(
      spark: SparkSession,
      outRoot: String,
      doneTable: String,
      nBuckets: Int = 64
  ): Unit = {
    Bucketing.writeBucketed(ManifestTable.committedUrls(spark, outRoot), doneTable, "url", nBuckets)
    // the rebuilt table covers every live commit — mark them all so the
    // next resume's crash-reconcile pass has nothing to re-append
    ManifestTable.liveSeqs(outRoot).foreach(markIngested(outRoot, doneTable, _))
  }

  /** Incremental re-extract: only pages with warc_ts strictly newer than the
    * last snapshot's high watermark (Iceberg incremental-scan emulation).
    */
  def incremental(pages: Dataset[Page], outRoot: String): Long = {
    val spark = pages.sparkSession
    import spark.implicits._
    val hw = ManifestTable.highWatermark(outRoot).getOrElse(0L)
    val fresh = pages.filter(unix_timestamp(col("warc_ts")) > hw).as[Page]
    val out = kernel(fresh)
    ManifestTable.commitAppend(spark, outRoot, out)
  }

  /** Changed-only recrawl upsert: extract a recrawl batch and commit ONLY
    * rows that are new urls or whose extracted text actually changed vs the
    * table's current ([[ManifestTable.readLatest]]) row — unchanged pages
    * (the vast majority of any recrawl) cost zero write amplification.
    * Reads resolve supersession via readLatest (merge-on-read, latest
    * commit wins); [[ManifestTable.compactLatest]] materializes the winners
    * when the live-commit count grows.
    *
    * Scale shape: the diff join ships only (url, xxhash64(text)) from the
    * table side — 16ish bytes/row instead of full extracted text — and the
    * recrawl batch side is typically a small fraction of the corpus, so the
    * join broadcasts the BATCH side's digests when small; at 10^12 rows
    * both sides hash-shuffle on url, still column-pruned to digests.
    * Returns the committed snapshot seq.
    */
  def upsertChanged(pages: Dataset[Page], outRoot: String): Long = {
    val spark = pages.sparkSession
    val fresh = kernel(pages)
    ManifestTable.commitAppend(spark, outRoot, diffChanged(fresh, outRoot))
  }

  /** The changed-only upsert diff, shared by [[upsertChanged]] and the
    * streaming sink ([[graft.streaming.StreamingExtract.toManifestTableUpsert]]):
    * rows of `batch` that should commit against the table's current
    * ([[ManifestTable.readLatest]]) state.
    *
    * Supersession is STATUS-GATED: a NEW url always commits (failures
    * included — failure visibility matters), but an EXISTING url is
    * superseded only by an `ok` row whose text digest actually changed.
    * Extraction failures never emit null text (the kernel emits the
    * `[No text extracted]` placeholder), so without the gate a transient
    * recrawl failure would digest-differ from the good row, commit, win the
    * latest-wins window, and — after compaction — physically delete the
    * good bytes. Bootstraps to the whole batch when the table has no
    * commits yet.
    */
  def diffChanged(batch: Dataset[Extracted], outRoot: String): Dataset[Extracted] = {
    val spark = batch.sparkSession
    if (!ManifestTable.exists(outRoot)) batch
    else diffChangedAgainst(batch,
      ManifestTable.readLatest(spark, outRoot)
        .select(col("url"), xxhash64(col("text")).as("__cur_digest")))
  }

  /** The status-gated diff against a PRE-BUILT (url, __cur_digest) frame —
    * one implementation of the supersession rule for every caller
    * ([[diffChanged]], and [[retryFailed]] which reuses its single
    * readLatest pass for both the failed set and the digest side).
    *
    * Concurrency note: the digest frame pins the table's live set at build
    * time, so a commit racing in between diffs against a slightly stale
    * snapshot — benign for APPENDS (both commits land, readLatest's
    * latest-wins stays correct); the destructive derive (compaction) is
    * what holds the commit lock across derive+commit instead.
    */
  def diffChangedAgainst(
      batch: Dataset[Extracted],
      currentDigests: org.apache.spark.sql.DataFrame
  ): Dataset[Extracted] = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch
      .join(currentDigests, Seq("url"), "left")
      .filter(col("__cur_digest").isNull ||
        (col("status") === lit("ok") &&
          col("__cur_digest") =!= xxhash64(col("text"))))
      .drop("__cur_digest")
      .as[Extracted]
  }

  /** Retry loop for failed extractions: re-extract EXACTLY the urls whose
    * current ([[ManifestTable.readLatest]]) row is not `ok` — the heal pass
    * after transient fetch truncation / parse failures, fed by a re-fetched
    * pages batch. The failed-url set ships as (url) only; the commit goes
    * through the status-gated [[diffChanged]], so a retry that fails again
    * (or reproduces the identical placeholder) commits NOTHING, while one
    * that succeeds supersedes the failed row in the latest view. Returns
    * the committed snapshot seq.
    */
  def retryFailed(pages: Dataset[Page], outRoot: String): Long = {
    val spark = pages.sparkSession
    import spark.implicits._
    // readLatest is the table's most expensive read (live scan + url
    // window); ONE cached pass serves both the failed-url set and the
    // diff's digest side instead of two full evaluations per heal pass
    val current = ManifestTable
      .readLatest(spark, outRoot)
      .select(col("url"), col("status"), xxhash64(col("text")).as("__cur_digest"))
      .cache()
    try {
      val failed = current.filter(col("status") =!= lit("ok")).select("url")
      val todo = pages.join(failed, Seq("url")).as[Page]
      val fresh = kernel(todo)
      val changed = diffChangedAgainst(fresh,
        current.select(col("url"), col("__cur_digest")))
      ManifestTable.commitAppend(spark, outRoot, changed)
    } finally current.unpersist()
  }

  /** Golden verification join (J3): rows whose extracted text differs from
    * the golden `text` column, byte-for-byte. Must be empty (north-rule
    * invariant).
    */
  def mismatches(pages: Dataset[Page], extracted: Dataset[Extracted]): Dataset[(String, String, String)] = {
    val spark = pages.sparkSession
    import spark.implicits._
    extracted
      .as("e")
      .join(pages.as("g"), col("e.url") === col("g.url"))
      .filter(col("e.text") =!= col("g.text"))
      .select(col("e.url").as[String], col("g.text").as[String], col("e.text").as[String])
  }
}
