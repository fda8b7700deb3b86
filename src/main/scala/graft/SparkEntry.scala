package graft

import graft.functions.{PiiScrub, TextStats}
import graft.functions.expressions.{cosine_sim, fingerprint64}
import graft.operators.{Bitext, Decontaminate, Dedup, Dsir, ExtractKernel, Multimodal, Packing, Rocchio, Sampling, ScanPar, SemDedup, Sharding, Similarity}
import graft.sources.Corpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7.0): named queries + DuckDB oracle SQL.
  *
  * Two query families:
  *  - `x_*`: the north-rule extraction pipeline over the synthetic pages
  *    corpus (materialized once per sf under target/graft-corpus). The
  *    kernels are not SQL-expressible, so these are rows-only checks for
  *    the driver — byte-identity itself is enforced by `sbt -batch test`
  *    (KernelGoldenSpec / SparkE2ESpec golden joins).
  *  - the rest: operators over the driver-provided parquet tables
  *    (documents/embeddings/lineitem/...) with exact DuckDB oracle SQL.
  *    Column names/aliases match the SQL on both sides; all outputs are
  *    deterministically ordered; numeric aggregates avoid raw double sums
  *    (decimal casts or integer sums) so hashes match bit-for-bit.
  */
object SparkEntry {

  private def pq(dir: String, name: String) = s"$dir/$name.parquet"

  /** Ad-boilerplate tail injected by t_logreg_train on doc_id%3==0 docs —
    * ONE definition feeds both the Spark query and its SQL mirror (long
    * low-stopword words, so it moves the word-length/stopword features).
    */
  private val BoilerplateTail: String =
    " click here buy cheap deals limited offer unsubscribe newsletter" +
      " advertisement sponsored content affiliate promotion discount clearance"

  /** Flagship: full extraction of the sf0.001 corpus, summarized. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = Corpus.pages(spark, "/root/testdata/sf0.001")
    val out = ExtractKernel.extract(pages)
    out
      .join(pages.select($"url", $"text".as("golden")), "url")
      .groupBy($"format", $"status")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"text" === $"golden", 1L).otherwise(0L)).as("n_match"),
        sum($"n_bytes_in").as("bytes_in")
      )
      .orderBy($"format", $"status")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction pipeline (north rule; rows-only driver check) --------
    "x_extract_all" -> ((s, dir) => {
      import s.implicits._
      // full-corpus extraction, reduced to sf-invariant facts the DuckDB
      // oracle can assert: all 10 formats present, byte-identity holds in
      // every (format, status) group, and the status vocabulary is closed.
      val pages = Corpus.pages(s, dir)
      val out = ExtractKernel.extract(pages)
      out
        .join(pages.select($"url", $"text".as("golden")), "url")
        .groupBy($"format", $"status")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"text" <=> $"golden", 1L).otherwise(0L)).as("n_match")
        )
        .agg(
          countDistinct($"format").as("n_formats"),
          sum(when($"n_match" =!= $"n", 1L).otherwise(0L)).as("n_groups_with_mismatch"),
          sum(when(!$"status".isin("ok", "failed", "unsupported"), 1L).otherwise(0L))
            .as("n_unknown_status")
        )
    }),
    "x_match_rate" -> ((s, dir) => {
      import s.implicits._
      // sf-invariant form of the north-rule byte-identity check: per format,
      // the number of rows whose extracted text differs from the golden text
      // is ZERO at every scale — so the DuckDB oracle is the invariant
      // itself, not a corpus-size-dependent count.
      val pages = Corpus.pages(s, dir)
      val out = ExtractKernel.extract(pages)
      out
        .join(pages.select($"url", $"text".as("golden")), "url")
        .groupBy($"format")
        // null-SAFE inequality: a kernel regression that yields NULL text
        // must count as a mismatch, not slip past as "not unequal"
        .agg(sum(when(!($"text" <=> $"golden"), 1L).otherwise(0L)).as("n_mismatched"))
        .orderBy($"format")
    }),
    "x_extract_by_format" -> ((s, dir) => {
      import s.implicits._
      // extract-by-format: the dispatch predicate hits the STORED format
      // column (computed at ingest) so parquet prunes row groups before any
      // byte of non-HTML pages is read (PlanQualitySpec asserts the pushed
      // filter). Reference analog: extension predicate P1
      // (simple_extract.py:263-276). sf-invariant oracle: the pushed-filter
      // subset extraction must equal the html slice of the full extraction
      // column for column, and must contain nothing but html rows.
      // the equality check rides on url + a 64-bit digest of the compared
      // columns, NOT the full extracted rows — same invariant, but the
      // exceptAll shuffles 16 bytes/row instead of the whole text column
      // (at 100x the full-row variant was the widest harness shuffle)
      val pages = Corpus.pages(s, dir)
      val sub = ExtractKernel.extract(pages.filter($"format" === "html").as[Page])
        .cache()
      // per-column null indicators ride in the hash: Spark's hash functions
      // SKIP null inputs, so without them a bug that shifts a value
      // between adjacent nullable columns would collide to the same digest
      def digest(df: org.apache.spark.sql.DataFrame) = df.select(
        $"url",
        xxhash64($"url", $"format", $"text", $"status", $"charset", $"n_blocks",
          $"format".isNull, $"text".isNull, $"status".isNull, $"charset".isNull)
          .as("digest"))
      val subD = digest(sub.toDF())
      val fullD = digest(ExtractKernel.extract(pages).filter($"format" === "html").toDF())
      subD.exceptAll(fullD).agg(count(lit(1)).as("n_only_filtered"))
        .crossJoin(fullD.exceptAll(subD).agg(count(lit(1)).as("n_only_full")))
        .crossJoin(
          sub.filter($"format" =!= "html").agg(count(lit(1)).as("n_nonhtml")))
    }),
    "x_host_skew" -> ((s, dir) => {
      import s.implicits._
      // per-host skew stats via the typed Aggregator (custom UDAF surface),
      // cross-checked host by host against native SQL aggregates over the
      // same extraction — the sf-invariant oracle asserts zero divergence
      // plus internal consistency (max <= sum, positive counts).
      val pages = Corpus.pages(s, dir)
      val out = ExtractKernel.extract(pages).cache()
      def hostOf(url: String): String = {
        val start = url.indexOf("//") + 2
        val end = url.indexOf('/', start)
        if (start < 2 || end < 0) url else url.substring(start, end)
      }
      val hostUdf = udf(hostOf _)
      val viaTyped = out
        .groupByKey(e => hostOf(e.url))
        .agg(graft.operators.Aggregators.extractStats.toColumn.name("stats"))
        .toDF("host", "stats")
        .select($"host", $"stats.pages".as("t_pages"), $"stats.bytes".as("t_bytes"),
          $"stats.maxBytes".as("t_max"))
      val viaSql = out.toDF()
        .groupBy(hostUdf($"url").as("host"))
        .agg(count(lit(1)).as("s_pages"), sum($"n_bytes_in").as("s_bytes"),
          max($"n_bytes_in").as("s_max"))
      viaTyped
        .join(viaSql, Seq("host"), "full_outer")
        .agg(
          sum(when($"t_pages".isNull || $"s_pages".isNull, 1L).otherwise(0L)).as("n_host_missing"),
          sum(when(!($"t_pages" <=> $"s_pages") || !($"t_bytes" <=> $"s_bytes")
            || !($"t_max" <=> $"s_max"), 1L).otherwise(0L)).as("n_stat_mismatch"),
          sum(when($"t_max" > $"t_bytes" || $"t_pages" <= 0, 1L).otherwise(0L)).as("n_internal_bad")
        )
    }),
    "x_resume_antijoin" -> ((s, dir) => {
      import s.implicits._
      // J2: processed-manifest anti-join (url set simulated as even hash).
      // sf-invariant oracle form: resume is exactly-once iff the remaining
      // set is the exact complement of the done set — n_missing (pages in
      // neither set) and n_overlap (pages re-selected although done) are
      // ZERO at every scale.
      val pages = Corpus.pages(s, dir).select($"url")
      val done = pages.filter(pmod(xxhash64($"url"), lit(2)) === 0)
      val remaining = pages.join(broadcast(done), Seq("url"), "left_anti")
      val overlap = remaining.join(broadcast(done), Seq("url"), "left_semi")
      val nTotal = pages.agg(count(lit(1)).as("n_total"))
      val nDone = done.agg(count(lit(1)).as("n_done"))
      val nRem = remaining.agg(count(lit(1)).as("n_remaining"))
      val nOv = overlap.agg(count(lit(1)).as("n_overlap"))
      nTotal
        .crossJoin(nDone)
        .crossJoin(nRem)
        .crossJoin(nOv)
        .select(
          ($"n_total" - $"n_done" - $"n_remaining").as("n_missing"),
          $"n_overlap"
        )
    }),

    "x_json_sink" -> ((s, dir) => {
      import s.implicits._
      // S5 JSON sink + F16 parse, roundtripped: render the structured doc,
      // parse it back with get_json_object, count per-format roundtrip
      // mismatches — ZERO at every scale (sf-invariant oracle).
      val pages = Corpus.pages(s, dir)
      val j = graft.functions.JsonSink.render(ExtractKernel.extract(pages))
      j.withColumn("rt_text", get_json_object($"doc_json", "$.content.full_text"))
        .withColumn("rt_size", get_json_object($"doc_json", "$.document_info.file_size").cast("long"))
        .groupBy($"format")
        .agg(
          sum(when(!($"rt_text" <=> $"text") || !($"rt_size" <=> $"n_bytes_in"), 1L).otherwise(0L))
            .as("n_roundtrip_mismatched")
        )
        .orderBy($"format")
    }),
    "x_pdf_features" -> ((s, dir) => {
      import s.implicits._
      // F4 per-page content analysis (has_text/has_images/n_lines/
      // has_tables, combined_pipeline.py:271-291), reduced to sf-invariant
      // facts: feature-vs-text consistency is perfect, every generated page
      // carries text, and image/table/multi-page cases all occur.
      val featsUdf = udf { (b: Array[Byte]) =>
        graft.functions.pdf.PdfExtractor.extract(b) match {
          case Right(res) =>
            res.pages.map(p => (p.page, p.has_text, p.has_images, p.n_lines, p.has_tables))
          case Left(_) => Seq.empty[(Int, Boolean, Boolean, Int, Boolean)]
        }
      }
      Corpus.pages(s, dir)
        .filter($"format" === "pdf")
        .select(explode(featsUdf($"html")).as("pf"))
        .select($"pf._1".as("page"), $"pf._2".as("has_text"), $"pf._3".as("has_images"),
          $"pf._4".as("n_lines"), $"pf._5".as("has_tables"))
        .agg(
          sum(when($"has_text" =!= ($"n_lines" > 0), 1L).otherwise(0L)).as("n_lines_inconsistent"),
          sum(when(!$"has_text", 1L).otherwise(0L)).as("n_pages_without_text"),
          max(when($"has_images", 1L).otherwise(0L)).as("any_images"),
          max(when($"has_tables", 1L).otherwise(0L)).as("any_tables"),
          max(when($"page" > 1, 1L).otherwise(0L)).as("any_multipage")
        )
    }),

    "x_incremental" -> ((s, dir) => {
      import s.implicits._
      // snapshot lifecycle driven through the manifest table from the driver
      // surface: day-split commit, high-watermark incremental re-extract,
      // and the hidden-partition PRUNED read — all checked by sf-invariant
      // zeros (prunedRead's directory pruning is additionally plan-asserted
      // in PartitionPruneSpec).
      val pages = Corpus.pages(s, dir)
      val nTotal = pages.count()
      val root = java.nio.file.Files.createTempDirectory("graft-incr").toString
      try {
        val days = pages.select(date_format($"warc_ts", "yyyy-MM-dd").as("d"))
          .distinct().orderBy($"d").as[String].collect()
        val mid = days(days.length / 2)
        val early = pages.filter(date_format($"warc_ts", "yyyy-MM-dd") <= mid).as[Page]
        val nEarly = early.count()
        graft.operators.ExtractJob.extractAll(early, root, 32)
        val visibleAfterFirst = graft.sources.ManifestTable.read(s, root).count()
        // incremental: strictly-newer pages only; early's day boundary is
        // below any later day's timestamps, so the two commits partition
        // the corpus exactly
        graft.operators.ExtractJob.incremental(pages, root, 32)
        val total = graft.sources.ManifestTable.read(s, root).count()
        val pruned = graft.sources.ManifestTable.prunedRead(s, root, days.head, mid)
        val nPruned = pruned.count()
        val nPrunedOutside =
          pruned.filter(date_format($"warc_ts", "yyyy-MM-dd") > mid).count()
        Seq((visibleAfterFirst - nEarly, total - nTotal, nPruned - nEarly, nPrunedOutside))
          .toDF("n_first_visible_diff", "n_missing_after_incremental",
            "n_pruned_diff", "n_pruned_outside_range")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_recrawl_upsert" -> ((s, dir) => {
      import s.implicits._
      // recrawl upsert lifecycle, driver-surfaced end to end: extract-all,
      // then a recrawl batch (urls hashing 0 mod 4, warc_ts +1 day) where
      // HALF the pages changed content (0 mod 8 → payload replaced with a
      // per-url plain-text body) and half are byte-identical re-fetches.
      // upsertChanged must commit EXACTLY the changed rows (unchanged
      // re-fetches cost zero write amplification), readLatest must resolve
      // latest-wins with no duplicates and no drift on untouched urls, and
      // compactLatest+vacuum must collapse the table copy-on-write. All
      // sf-invariant zeros. readLatest pins its live-commit set eagerly at
      // call time, so `before` stays a pre-upsert snapshot by construction.
      val pages = Corpus.pages(s, dir)
      val n = pages.count()
      val root = java.nio.file.Files.createTempDirectory("graft-upsert").toString
      try {
        graft.operators.ExtractJob.extractAll(pages, root, 32)
        val before = graft.sources.ManifestTable.readLatest(s, root)
          .select($"url", $"text".as("old_text"))
        val touched = pages.filter(pmod(xxhash64($"url"), lit(4)) === 0)
        val changedUrls = touched
          .filter(pmod(xxhash64($"url"), lit(8)) === 0).select($"url")
        val nChanged = changedUrls.count()
        val recrawl = touched
          .withColumn("warc_ts", ($"warc_ts".cast("long") + 86400L).cast("timestamp"))
          .withColumn("html",
            when(pmod(xxhash64($"url"), lit(8)) === 0,
              encode(concat(lit("recrawl update of "), $"url"), "UTF-8"))
              .otherwise($"html"))
          .as[graft.Page]
        val seq = graft.operators.ExtractJob.upsertChanged(recrawl, root, 32)
        val nCommitted = graft.sources.ManifestTable.commitUrls(s, root, seq).count()
        val latest = graft.sources.ManifestTable.readLatest(s, root)
        val nLatest = latest.count()
        // every changed url must read back with NEW text...
        val nStale = latest.join(changedUrls, "url").join(before, "url")
          .filter($"text" <=> $"old_text").count()
        // ...and nothing else may have moved
        val nDrifted = latest.join(before, "url")
          .filter(!($"text" <=> $"old_text"))
          .join(changedUrls, Seq("url"), "left_anti").count()
        // copy-on-write collapse: one live commit, both prior seqs reclaimed
        graft.sources.ManifestTable.compactLatest(s, root)
        val nVacuumed = graft.sources.ManifestTable.vacuum(root).length.toLong
        val nAfterCompact = graft.sources.ManifestTable.read(s, root).count()
        Seq((nCommitted - nChanged, nLatest - n, nStale, nDrifted,
          nVacuumed - 2L, nAfterCompact - n))
          .toDF("n_committed_diff", "n_latest_diff", "n_stale_changed",
            "n_drifted", "n_vacuumed_diff", "n_compacted_diff")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_takedown" -> ((s, dir) => {
      import s.implicits._
      // takedown/opt-out lifecycle (the 100 TB compliance path): tombstone
      // a deterministic url subset (hash 0 mod 5), verify merge-on-read
      // absence with zero leakage, compact+vacuum for PHYSICAL removal,
      // then resurrect via a recrawl upsert (+1 day, identical content) and
      // verify the resurrected text equals a deterministic re-extraction.
      // All sf-invariant zeros; counts are forced before compaction so no
      // dataset depends on vacuumed files.
      val pages = Corpus.pages(s, dir)
      val n = pages.count()
      val root = java.nio.file.Files.createTempDirectory("graft-takedown").toString
      try {
        graft.operators.ExtractJob.extractAll(pages, root, 32)
        val delUrls = pages.filter(pmod(xxhash64($"url"), lit(5)) === 0)
          .select($"url")
        val nDel = delUrls.count()
        val maxTs = pages.agg(max($"warc_ts")).head.getTimestamp(0)
        graft.sources.ManifestTable.deleteUrls(s, root, delUrls.toDF(), maxTs)
        val afterDel = graft.sources.ManifestTable.readLatest(s, root)
        val nVisibleDiff = afterDel.count() - (n - nDel)
        val nLeaked = afterDel.join(delUrls, "url").count()
        // physical removal: copy-on-write compaction + storage reclaim
        graft.sources.ManifestTable.compactLatest(s, root)
        graft.sources.ManifestTable.vacuum(root)
        val nPhysDiff =
          graft.sources.ManifestTable.read(s, root).count() - (n - nDel)
        // resurrection: a LATER recrawl of the deleted urls wins over the
        // tombstone (deletes are history, not bans)
        val recrawl = pages.join(delUrls, "url")
          .withColumn("warc_ts", ($"warc_ts".cast("long") + 86400L).cast("timestamp"))
          .as[graft.Page]
        val seq = graft.operators.ExtractJob.upsertChanged(recrawl, root, 32)
        val nResCommitDiff =
          graft.sources.ManifestTable.commitUrls(s, root, seq).count() - nDel
        val latest2 = graft.sources.ManifestTable.readLatest(s, root)
        val nAfterResDiff = latest2.count() - n
        val expected = graft.operators.ExtractKernel
          .extract(pages.join(delUrls, "url").as[graft.Page])
          .select($"url", $"text".as("exp_text"))
        val nResDrift = latest2.join(expected, "url")
          .filter(!($"text" <=> $"exp_text")).count()
        Seq((nVisibleDiff, nLeaked, nPhysDiff, nResCommitDiff,
          nAfterResDiff, nResDrift))
          .toDF("n_visible_diff", "n_leaked", "n_phys_diff",
            "n_resurrect_commit_diff", "n_after_resurrect_diff",
            "n_resurrect_drift")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_retry_failed" -> ((s, dir) => {
      import s.implicits._
      // heal loop, driver-surfaced: extract-all leaves the corpus's
      // failed/unsupported rows in place; a re-fetch batch with repaired
      // payloads (every url gets a plain-text body — retryFailed's join
      // picks out JUST the failed ones) must heal every failure, commit
      // exactly the failed set, leave ok rows untouched, and keep the url
      // count stable. All sf-invariant zeros.
      val pages = Corpus.pages(s, dir)
      val n = pages.count()
      val root = java.nio.file.Files.createTempDirectory("graft-retry").toString
      try {
        graft.operators.ExtractJob.extractAll(pages, root, 32)
        val before = graft.sources.ManifestTable.readLatest(s, root)
        val nFailed = before.filter($"status" =!= "ok").count()
        val okBefore = before.filter($"status" === "ok")
          .select($"url", $"text".as("old_text"))
        val repaired = pages
          .withColumn("warc_ts", ($"warc_ts".cast("long") + 86400L).cast("timestamp"))
          .withColumn("html",
            encode(concat(lit("repaired content for "), $"url"), "UTF-8"))
          .as[graft.Page]
        val seq = graft.operators.ExtractJob.retryFailed(repaired, root, 32)
        val nCommitted = graft.sources.ManifestTable.commitUrls(s, root, seq).count()
        val latest = graft.sources.ManifestTable.readLatest(s, root)
        val nStillFailed = latest.filter($"status" =!= "ok").count()
        val nLatestDiff = latest.count() - n
        val nOkDrift = latest.join(okBefore, "url")
          .filter(!($"text" <=> $"old_text")).count()
        Seq((nCommitted - nFailed, nStillFailed, nLatestDiff, nOkDrift,
          if (nFailed > 0) 0L else 1L))
          .toDF("n_retry_commit_diff", "n_still_failed", "n_latest_diff",
            "n_ok_drift", "n_vacuous")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_dedup_extracted" -> ((s, dir) => {
      import s.implicits._
      // cross-tier invariant: exact dedup over the EXTRACTED text must keep
      // the same url set as dedup over the golden text — extraction
      // preserves content-equality classes (byte identity implies this; a
      // kernel bug that canonicalized two different pages into one string,
      // or split one class in two, breaks it). The corpus plants duplicate
      // pages at every sf, so has_duplicates pins non-degeneracy.
      val pages = Corpus.pages(s, dir)
      val extracted = ExtractKernel.extract(pages.as[Page]).toDF()
      // cached: each survivor set feeds three actions (count + two
      // exceptAll sides) and embeds a full extraction pass
      val keptE = Dedup.dedupExact(extracted.select($"url", $"text"), "url", "text")
        .select($"url").cache()
      val keptG = Dedup.dedupExact(pages.select($"url", $"text"), "url", "text")
        .select($"url").cache()
      val nPages = pages.count()
      val nG = keptG.count()
      val setDiff = keptE.exceptAll(keptG).count() + keptG.exceptAll(keptE).count()
      Seq((keptE.count() - nG, setDiff, math.min(1L, nPages - nG)))
        .toDF("n_kept_diff", "n_set_diff", "has_duplicates")
    }),
    "x_streaming" -> ((s, dir) => {
      import s.implicits._
      // §2.9 driven from the driver surface (previously spec-only): the
      // SAME kernels run under Structured Streaming over a parquet
      // landing dir. sf-invariant zeros: (1) two-drop streamed
      // extraction into the manifest table == one-shot batch extraction
      // (count drift + url/text fingerprint drift); (2) a THIRD query
      // restarted on the same checkpoint with no new files replays
      // nothing — exactly-once end to end; (3) watermarked
      // content-digest streaming dedup over a DOUBLED drop keeps exactly
      // the distinct-digest count.
      val pages = graft.sources.Corpus.pages(s, dir).as[graft.Page]
      val tmp = java.nio.file.Files.createTempDirectory("graft-x-stream").toString
      try {
        val landing = s"$tmp/landing"
        val ckpt = s"$tmp/ckpt"
        val root = s"$tmp/table"
        val h1 = pages.filter(pmod(xxhash64($"url"), lit(2)) === 0).as[graft.Page]
        val h2 = pages.filter(pmod(xxhash64($"url"), lit(2)) === 1).as[graft.Page]
        def drain(): Unit = {
          val q = graft.streaming.StreamingExtract.toManifestTable(
            graft.streaming.StreamingExtract.stream(s, landing), root, ckpt)
          q.processAllAvailable()
          q.stop()
        }
        h1.write.mode("append").parquet(landing)
        drain() // drop 1 streams in
        h2.write.mode("append").parquet(landing)
        drain() // restart on the same checkpoint, drop 2 streams in
        def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = df
          .agg(count(lit(1)),
            expr("bit_xor(xxhash64(concat(url, chr(0), coalesce(text, ''))))"))
          .as[(Long, Long)].head()
        val (nStream, fpStream) = fp(graft.sources.ManifestTable.read(s, root))
        drain() // no new files: exactly-once means NOTHING replays
        val (nReplay, fpReplay) = fp(graft.sources.ManifestTable.read(s, root))
        val (nBatch, fpBatch) =
          fp(graft.operators.ExtractKernel.extract(pages).toDF())
        // dedup leg: the same drop landed twice (a recrawl), one survivor
        // per distinct html digest within the watermark horizon
        val landing2 = s"$tmp/landing2"
        h1.write.mode("append").parquet(landing2)
        h1.write.mode("append").parquet(landing2)
        val survivors = s.sparkContext.longAccumulator("survivors")
        val countFn: (org.apache.spark.sql.Dataset[graft.Page], Long) => Unit =
          (b, _) => { survivors.add(b.count()); () }
        val dq = graft.streaming.StreamingExtract
          .dedupStream(s.readStream.schema(graft.streaming.StreamingExtract.pageSchema)
            .parquet(landing2).as[graft.Page])
          .writeStream
          .option("checkpointLocation", s"$tmp/ckpt2")
          .foreachBatch(countFn)
          .start()
        dq.processAllAvailable()
        dq.stop()
        val nDistinct = h1.select(md5($"html")).distinct().count()
        Seq((
          nStream - nBatch,
          if (fpStream == fpBatch) 0L else 1L,
          nReplay - nStream,
          if (fpReplay == fpStream) 0L else 1L,
          survivors.value - nDistinct
        )).toDF("n_count_drift", "n_fingerprint_drift", "n_replay_rows",
          "n_replay_fingerprint_drift", "n_dedup_drift")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    }),
    "x_stream_sessions" -> ((s, dir) => {
      import s.implicits._
      // Stateful streaming sessionization (flatMapGroupsWithState +
      // event-time timeout) driven from the driver surface, TWO drops
      // split at the event-time midpoint so sessions genuinely continue
      // ACROSS micro-batches (open state carried, watermark advanced
      // between drops — with delay 0s and a clean time split, a session
      // extendable by a drop-2 event has end+gap > drop-1's max event
      // time, so its timeout cannot fire early). Two far-future sentinel
      // drops flush the remaining open sessions through the timeout
      // path. Output: REAL sf-dependent session totals (count, events,
      // duration) oracled by the DuckDB lag/cumsum sessionization SQL,
      // plus a zero fingerprint-drift flag vs batch Sessionize on the
      // identical event set.
      import graft.streaming.StreamingExtract
      val gapUs = 30L * 60 * 1000000
      val ev = s.read.parquet(pq(dir, "events"))
        .filter($"ts".isNotNull)
        .select($"user_id", $"ts".cast("timestamp").as("ts"))
      val (minUs, maxUs) = ev
        .agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
        .as[(Long, Long)].head()
      val cutUs = (minUs + maxUs) / 2
      val tmp = java.nio.file.Files.createTempDirectory("graft-x-sess").toString
      try {
        val landing = s"$tmp/landing"
        ev.filter(unix_micros($"ts") < cutUs).write.mode("append").parquet(landing)
        val q = StreamingExtract.sessionizeStateful(
            s.readStream.schema(ev.schema).parquet(landing)
              .as[StreamingExtract.SessEvent],
            gapMicros = gapUs, watermarkDelay = "0 seconds")
          .writeStream.format("memory").queryName("x_stream_sessions_mem")
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append").start()
        q.processAllAvailable() // drop 1: early half
        ev.filter(unix_micros($"ts") >= cutUs).write.mode("append").parquet(landing)
        q.processAllAvailable() // drop 2: sessions continue across batches
        // sentinel pair: advance the watermark, then let timeouts fire
        Seq((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
          .toDF("user_id", "ts").write.mode("append").parquet(landing)
        q.processAllAvailable()
        Seq((-1L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00")))
          .toDF("user_id", "ts").write.mode("append").parquet(landing)
        q.processAllAvailable()
        q.stop()
        val fields = Seq($"user_id", $"start_us", $"end_us", $"n_events")
        def fp(df: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = df
          .agg(count(lit(1)), coalesce(sum($"n_events"), lit(0L)),
            coalesce(sum($"duration_us"), lit(0L)),
            coalesce(expr("bit_xor(xxhash64(concat_ws(',', user_id, start_us, end_us, n_events)))"), lit(0L)))
          .as[(Long, Long, Long, Long)].head()
        val (nS, evS, durS, fpS) = fp(s.table("x_stream_sessions_mem")
          .filter($"user_id" >= 0).select(fields :+ $"duration_us": _*))
        val (nB, evB, durB, fpB) = fp(graft.operators.Sessionize
          .sessionStats(ev, "user_id", "ts", "ts", gapUs)
          .select(fields :+ $"duration_us": _*))
        Seq((nS, evS, durS,
          nS - nB,
          if (fpS == fpB && evS == evB && durS == durB) 0L else 1L))
          .toDF("n_sessions", "n_events", "sum_dur_us",
            "n_count_drift", "n_fingerprint_drift")
      } finally {
        s.catalog.dropTempView("x_stream_sessions_mem")
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
      }
    }),

    "x_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      // stateful streaming FUNNEL from the driver surface: the batch
      // q_funnel semantics (anchor at first view, 24 h window) replayed
      // through flatMapGroupsWithState with event-time finalization, two
      // drops split at the event-time midpoint (funnel state carried
      // across micro-batches; users whose window closes inside drop 1
      // finalize early, provably unaffected by drop-2 events beyond the
      // window) + sentinel flushes. Output: the REAL per-reach totals of
      // the STREAMED result (oracled by the same SQL as q_funnel) plus a
      // zero drift flag vs the batch operator on the identical events.
      import graft.streaming.FunnelStateful
      val winUs = 86400000000L
      val steps = Seq("view", "click", "purchase")
      val ev = s.read.parquet(pq(dir, "events"))
        .filter($"ts".isNotNull)
        .select($"user_id", $"ts".cast("timestamp").as("ts"), $"event_type")
      val (minUs, maxUs) = ev
        .agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
        .as[(Long, Long)].head()
      val cutUs = (minUs + maxUs) / 2
      val tmp = java.nio.file.Files.createTempDirectory("graft-x-funnel").toString
      try {
        val landing = s"$tmp/landing"
        ev.filter(unix_micros($"ts") < cutUs).write.mode("append").parquet(landing)
        // State-store partition count is FIXED at stream start (a new
        // count needs a new checkpoint), so it is sized deliberately to
        // the stateful load rather than inherited from the batch shuffle
        // default: every micro-batch commits one state delta + one
        // member file PER partition regardless of data, so oversized
        // counts turn a small keyed stream into pure file-commit latency
        // (measured here: 32 -> slots/4 state partitions halves the
        // run). Derived from the cluster's slot count; the batch conf is
        // restored before any downstream plan executes.
        val batchShuffle = s.conf.get("spark.sql.shuffle.partitions")
        val streamParts = math.max(4, s.sparkContext.defaultParallelism / 4).toString
        val q = try {
          s.conf.set("spark.sql.shuffle.partitions", streamParts)
          FunnelStateful.funnelStateful(
              s.readStream.schema(ev.schema).parquet(landing)
                .as[FunnelStateful.FunnelEvent],
              steps, winUs, watermarkDelay = "0 seconds")
            .writeStream.format("memory").queryName("x_stream_funnel_mem")
            .option("checkpointLocation", s"$tmp/ckpt")
            .outputMode("append").start()
        } finally s.conf.set("spark.sql.shuffle.partitions", batchShuffle)
        q.processAllAvailable() // drop 1: early half
        ev.filter(unix_micros($"ts") >= cutUs).write.mode("append").parquet(landing)
        q.processAllAvailable() // drop 2: funnels continue across batches
        // ONE sentinel append: processAllAvailable drains the data batch
        // AND the watermark-advance batch it triggers, so every funnel
        // window below the sentinel finalizes exactly as under the old
        // two-step flush (the drift flag + oracle pin this) — one fewer
        // micro-batch round + landing write per run
        Seq(
          (-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "view"),
          (-1L, java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), "view"))
          .toDF("user_id", "ts", "event_type").write.mode("append").parquet(landing)
        q.processAllAvailable()
        q.stop()
        val streamed = s.table("x_stream_funnel_mem").filter($"user_id" >= 0)
          .select($"user_id".as("user"), $"reached", $"t1", $"t_last")
        val batch = graft.operators.Funnel
          .conversion(ev, "user_id", "ts", "event_type", steps, winUs)
          .select($"user", $"reached", $"t1", $"t_last")
        val drift = streamed.exceptAll(batch).count() +
          batch.exceptAll(streamed).count()
        streamed.groupBy($"reached")
          .agg(count(lit(1)).as("n_users"), sum($"user").as("id_sum"),
            sum($"t_last" - $"t1").as("conv_micros"))
          .withColumn("stream_batch_drift", lit(drift))
          .orderBy($"reached")
      } finally {
        s.catalog.dropTempView("x_stream_funnel_mem")
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
      }
    }),

    "x_stream_join" -> ((s, dir) => {
      import s.implicits._
      // STREAM-STREAM interval join driven from the driver surface: the
      // fetch-latency monitor (requests ⋈ responses on url within 600 s)
      // with requests landed in micro-batch 1 and ALL responses in
      // micro-batch 2 — every match is therefore proven to pair ACROSS
      // batches out of buffered join state, not within one batch. Inner
      // join emits on match (no watermark flush needed; the leftOuter
      // timeout path and its sentinel dance are deterministic in
      // StreamingSpec). Lags are (event_id % 900) s under the 600 s cap,
      // so ~1/3 of responses are too slow and id%7==0 requests get no
      // response at all — both exclusion families non-vacuous. Output:
      // REAL sf-dependent match stats oracled by the DuckDB range join,
      // plus zero row drift vs the identical batch join.
      import graft.streaming.StreamingExtract
      val ev = s.read.parquet(pq(dir, "events"))
        .filter($"ts".isNotNull)
        .select($"event_id", $"ts".cast("timestamp").as("ts"))
      val reqs = ev.select(
        concat(lit("u/"), $"event_id").as("url"), $"ts".as("req_ts"))
      val resps = ev.filter($"event_id" % 7 =!= 0).select(
        concat(lit("u/"), $"event_id").as("r_url"),
        ($"ts" + expr("make_interval(0,0,0,0,0,0, event_id % 900)")).as("resp_ts"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x-ssj").toString
      try {
        val reqDir = s"$tmp/req"
        val respDir = s"$tmp/resp"
        reqs.write.mode("overwrite").parquet(reqDir)
        // responses dir must exist before the stream starts; schema is
        // explicit so an empty first batch is fine
        resps.limit(0).write.mode("overwrite").parquet(respDir)
        val q = StreamingExtract.fetchLatency(
            s.readStream.schema(reqs.schema).parquet(reqDir),
            s.readStream.schema(resps.schema).parquet(respDir),
            maxLag = "10 minutes")
          .writeStream.format("memory").queryName("x_stream_join_mem")
          .option("checkpointLocation", s"$tmp/ckpt")
          .outputMode("append").start()
        q.processAllAvailable() // batch 1: requests only — state buffers
        resps.write.mode("append").parquet(respDir)
        q.processAllAvailable() // batch 2: responses — cross-batch matches
        q.stop()
        val streamed = s.table("x_stream_join_mem")
          .select($"url", $"latency_sec").cache()
        val batch = StreamingExtract.fetchLatency(
          reqs, resps, maxLag = "10 minutes").select($"url", $"latency_sec")
        val drift = streamed.exceptAll(batch).count() +
          batch.exceptAll(streamed).count()
        val (n, sumLag, nFast, nSlow) = streamed.agg(
            count(lit(1)), sum($"latency_sec"),
            sum(when($"latency_sec" <= 60, 1L).otherwise(0L)),
            sum(when($"latency_sec" > 60, 1L).otherwise(0L)))
          .as[(Long, Long, Long, Long)].head()
        streamed.unpersist()
        Seq((n, sumLag, nFast, nSlow, drift))
          .toDF("n_matched", "sum_latency_sec", "n_fast", "n_slow",
            "n_batch_drift")
      } finally {
        s.catalog.dropTempView("x_stream_join_mem")
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
      }
    }),

    "x_maintenance" -> ((s, dir) => {
      import s.implicits._
      // table-maintenance surface from the driver: three url-hash-split
      // commits -> compact (one live snapshot) -> vacuum (dead dirs
      // reclaimed) -> re-read. sf-invariant zeros: the row multiset must
      // not drift (count + url-hash-sum fingerprint), exactly one live
      // commit must remain, and no unreferenced commit dir may survive.
      val pages = Corpus.pages(s, dir)
      val root = java.nio.file.Files.createTempDirectory("graft-maint").toString
      try {
        (0 until 3).foreach { i =>
          val part = pages.filter(pmod(xxhash64($"url"), lit(3)) === i).as[Page]
          graft.sources.ManifestTable.commitAppend(s, root, ExtractKernel.extract(part))
        }
        def fingerprint(): (Long, Long) = {
          val df = graft.sources.ManifestTable.read(s, root)
          // bit_xor, not sum: summing full-range xxhash64 values overflows
          // Long under ANSI; xor is overflow-free and order-independent
          df.agg(count(lit(1)), expr("bit_xor(xxhash64(url))")).as[(Long, Long)].head()
        }
        val (nBefore, sumBefore) = fingerprint()
        graft.sources.ManifestTable.compact(s, root)
        graft.sources.ManifestTable.vacuum(root)
        val (nAfter, sumAfter) = fingerprint()
        val live = graft.sources.ManifestTable.liveSeqs(root)
        val dirsLeft = {
          val dataDir = java.nio.file.Paths.get(root, "data")
          val ls = java.nio.file.Files.list(dataDir)
          try ls.filter(p => java.nio.file.Files.isDirectory(p)).count()
          finally ls.close()
        }
        // integrity leg: every live commit's recomputed content fingerprint
        // must equal the one its manifest recorded at commit time
        val integ = graft.sources.ManifestTable.verifyIntegrity(s, root)
        val nIntegrityBad = integ.count(!_.ok).toLong
        val nFpMissing = integ.count(_.expected.isEmpty).toLong
        // retention leg: bound time travel to the compaction snapshot only.
        // The three pre-compaction manifests expire (vacuum already took
        // their dirs, so nothing further is reclaimed), rows must not
        // drift, and an as-of read of an expired snapshot must FAIL rather
        // than return a partial table.
        val (expired, reclaimed) =
          graft.sources.ManifestTable.expireSnapshots(root, keepLast = 1)
        val (nExp, sumExp) = fingerprint()
        val expiredAsOfReadable = scala.util.Try(
          graft.sources.ManifestTable.readAsOf(s, root, expired.head).count()
        ).isSuccess
        Seq((nAfter - nBefore, sumAfter - sumBefore, live.size.toLong, dirsLeft - live.size,
          nExp - nBefore, sumExp - sumBefore, expired.size.toLong - 3L,
          reclaimed.size.toLong, if (expiredAsOfReadable) 1L else 0L,
          nIntegrityBad, nFpMissing))
          .toDF("n_row_drift", "n_fingerprint_drift", "n_live_commits", "n_extra_dirs",
            "n_expire_row_drift", "n_expire_fp_drift", "n_expired_diff",
            "n_expire_reclaimed", "n_expired_asof_readable",
            "n_integrity_bad", "n_fp_missing")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),
    "x_resume_bucketed" -> ((s, dir) => {
      import s.implicits._
      // the 10^12-row resume shape, driven end to end from the driver
      // surface: pages live in a url-bucketed catalog table, the done-set
      // is a second bucketed table with the same spec, broadcast is OFF
      // (neither side would be broadcastable at scale), and the complement
      // plans as an exchange-free SortMergeJoin. Crash window simulated
      // for real: half the corpus is committed DIRECTLY (no done-table
      // append, no marker) — exactly the state a death between
      // commitAppend and markIngested leaves — and resumeBucketed must
      // heal from the marker gap, extract only the other half, and leave
      // every live commit marked. sf-invariant zeros.
      val pagesTable = "x_rb_pages"
      val doneTable = "x_rb_done"
      val root = java.nio.file.Files.createTempDirectory("graft-xrb").toString
      Seq(pagesTable, doneTable).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(s"spark-warehouse/$t"))
      }
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold"
      ).map(k => k -> s.conf.getOption(k))
      try {
        saved.foreach { case (k, _) => s.conf.set(k, "-1") }
        val pages = Corpus.pages(s, dir)
        val nPages = pages.count()
        graft.sources.Bucketing.writeBucketed(pages.toDF(), pagesTable, "url", 8)
        // crash-sim: a published commit the done-set never saw
        val firstHalf = pages.filter(xxhash64($"url") % 2 === 0).as[Page]
        val nFirst = firstHalf.count()
        graft.sources.ManifestTable.commitAppend(s, root, ExtractKernel.extract(firstHalf))
        val m = ExtractKernel.Metrics.register(s)
        graft.operators.ExtractJob.resumeBucketed(s, pagesTable, doneTable, root, 8, Some(m))
        // complement plan AFTER the resume (both tables now exist): must be
        // an exchange-free bucketed SMJ even with broadcast disabled
        val rem = graft.operators.ExtractJob.remainingBucketed(s, pagesTable, doneTable)
        rem.collect() // finalize AQE so executedPlan is the real one
        val plan = rem.queryExecution.executedPlan.toString
        val nExchange = "Exchange".r.findAllIn(plan).size.toLong
        val smjAnti = if (plan.contains("SortMergeJoin") && plan.contains("LeftAnti")) 1L else 0L
        val table = graft.sources.ManifestTable.read(s, root)
        val nDup = table.groupBy($"url").count().filter($"count" > 1).count()
        val nMissing = pages.select($"url").except(table.select($"url")).count()
        val unmarked = graft.sources.ManifestTable.liveSeqs(root)
          .count(q => !java.nio.file.Files.exists(
            java.nio.file.Paths.get(root, "done-markers", doneTable, q.toString)))
        Seq((m.pages.value - (nPages - nFirst), nDup, nMissing,
          unmarked.toLong, nExchange, 1L - smjAnti))
          .toDF("n_reprocessed", "n_dup_urls", "n_missing_urls",
            "n_unmarked_commits", "n_exchanges", "n_not_smj_anti")
      } finally {
        saved.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
        Seq(pagesTable, doneTable).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
      }
    }),
    "x_sql_surface" -> ((s, dir) => {
      import s.implicits._
      // SQL-callable function surface (SURVEY §2.10): after
      // SqlFunctions.register, the whole per-document pipeline runs from
      // spark.sql TEXT — extraction struct, format sniff, langid, quality,
      // classification, token count, and the codegen'd fingerprint64
      // native expression. This query runs that SQL verbatim and the
      // Dataset kernel path over the same pages, full-outer-joins on url,
      // and returns sf-invariant divergence zeros. n_fn_missing pins
      // catalog visibility (spark.catalog.functionExists for every
      // registered name). The inner/outer SQL split evaluates extract_doc
      // ONCE per row (CollapseProject keeps non-cheap expressions at their
      // own projection level).
      graft.functions.SqlFunctions.register(s)
      val pages = Corpus.pages(s, dir)
      pages.createOrReplaceTempView("pages_sql")
      val viaSql = s.sql(
        """SELECT url, d.format, d.text, d.charset, d.status, d.n_blocks,
          |       sniffed, lang_id(d.text) AS lang, quality_score(d.text) AS q,
          |       classify_doc(d.text) AS label, token_count(d.text) AS toks,
          |       fingerprint64(d.text) AS fp
          |FROM (SELECT url, extract_doc(html) AS d, sniff_format(html) AS sniffed
          |      FROM pages_sql) e""".stripMargin)
      val langU = udf((t: String) => graft.functions.TextStats.langId(t))
      val qU = udf((t: String) => graft.functions.TextStats.quality(t).score)
      val labelU = udf((t: String) => graft.functions.TextStats.classify(t)._1)
      val tokU = udf((t: String) => graft.functions.TextStats.tokenCount(t))
      val viaDs = ExtractKernel.extract(pages.as[Page]).toDF()
        .select($"url", $"format".as("e_format"), $"text".as("e_text"),
          $"charset".as("e_charset"), $"status".as("e_status"),
          $"n_blocks".as("e_n_blocks"))
        .withColumn("e_lang", langU($"e_text"))
        .withColumn("e_q", qU($"e_text"))
        .withColumn("e_label", labelU($"e_text"))
        .withColumn("e_toks", tokU($"e_text"))
        .withColumn("e_fp", graft.functions.expressions.fingerprint64($"e_text"))
      val fnMissing =
        graft.functions.SqlFunctions.All.count(f => !s.catalog.functionExists(f))
      viaSql.join(viaDs, Seq("url"), "full_outer").agg(
        lit(fnMissing.toLong).as("n_fn_missing"),
        sum(when($"format".isNull || $"e_format".isNull, 1L).otherwise(0L))
          .as("n_row_missing"),
        sum(when(!($"format" <=> $"e_format") || !($"text" <=> $"e_text")
          || !($"charset" <=> $"e_charset") || !($"status" <=> $"e_status")
          || !($"n_blocks" <=> $"e_n_blocks"), 1L).otherwise(0L))
          .as("n_extract_diff"),
        sum(when(!($"lang" <=> $"e_lang") || !($"q" <=> $"e_q")
          || !($"label" <=> $"e_label") || !($"toks" <=> $"e_toks"), 1L)
          .otherwise(0L)).as("n_textfn_diff"),
        sum(when(!($"fp" <=> $"e_fp"), 1L).otherwise(0L)).as("n_fp_diff"),
        // sniff_format is the RAW sniff (empty/binary stay distinct); the
        // kernel collapses both into format 'unsupported' — assert exactly
        // that mapping and nothing else
        sum(when(
          !(when($"sniffed".isin("empty", "binary"), lit("unsupported"))
            .otherwise($"sniffed") <=> $"format"), 1L).otherwise(0L))
          .as("n_sniff_diff"))
    }),

    // ---- text analysis over documents (SQL oracles) ----------------------
    "t_tokens" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", size(split($"text", "\\s+")).as("toks"), length($"text").as("chars"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"), sum($"chars").as("n_chars"))
        .orderBy($"lang")
    }),
    "t_readability" -> ((s, dir) => {
      import s.implicits._
      // readability profile (the LIX/Flesch raw material, kept as exact
      // integer numerators — the ratios are one divide away downstream):
      // sentence-terminator runs, words, long words (>= 7 chars), and
      // vowel runs (the classic syllable proxy). The synthetic corpus
      // carries no punctuation at all, so terminators are injected
      // deterministically (a period after every "the") — the sentence
      // counter is exercised non-vacuously in every language. Built-ins
      // only: the whole pass is whole-stage-codegen'd with zero UDF
      // calls, the cheapest per-doc quality signal in the library.
      s.read.parquet(pq(dir, "documents"))
        .select($"lang",
          regexp_replace(lower($"text"), "\\bthe\\b", "the.").as("ptext"))
        .select(
          $"lang",
          expr("size(regexp_extract_all(ptext, '[.!?]+', 0))").cast("long").as("sents"),
          expr("size(filter(split(ptext, '\\\\s+'), w -> w != ''))")
            .cast("long").as("words"),
          expr("size(filter(split(ptext, '\\\\s+'), w -> length(w) >= 7))")
            .cast("long").as("longw"),
          expr("size(regexp_extract_all(ptext, '[aeiou]+', 0))").cast("long").as("vruns")
        )
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"sents").as("n_sents"),
          sum($"words").as("n_words"),
          sum($"longw").as("n_long_words"),
          sum($"vruns").as("n_vowel_runs")
        )
        .orderBy($"lang")
    }),
    "t_compress_ratio" -> ((s, dir) => {
      import s.implicits._
      // Gopher-style zlib-compressibility quality signal. zlib output is
      // not expressible in SQL, so the oracle pins INVARIANTS (the x_*
      // pattern, sf-invariant zeros anchored by the mirrorable n_docs):
      // for every doc a repetition-stuffed variant (its first 10 tokens
      // cycled to >= max(doc length, 400) chars — the spam shape this
      // signal exists to catch) must deflate strictly below the natural
      // text, and every ratio must respect the deflate expansion bound
      // (raw deflate of already-dense input stays under ~1.1x).
      val ratioUdf = udf((t: String) => graft.functions.Compressibility.ratioPermille(t))
      val repUdf = udf((t: String) => {
        val ws = graft.functions.TextStats.tokens(if (t == null) "" else t)
        val seed = ws.take(10).mkString(" ") + " "
        val target = math.max(if (t == null) 0 else t.length, 400)
        val sb = new StringBuilder
        while (sb.length < target) sb.append(seed)
        sb.substring(0, target)
      })
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", ratioUdf($"text").as("nat"), ratioUdf(repUdf($"text")).as("rep"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"rep" >= $"nat", 1L).otherwise(0L)).as("n_rep_not_smaller"),
          sum(when($"nat" > lit(1100L) || $"rep" > lit(1100L), 1L).otherwise(0L))
            .as("n_expansion_violations")
        )
        .orderBy($"lang")
    }),
    "t_quality_counts" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(pq(dir, "documents"))
      d.select(
        $"source",
        length($"text").as("chars"),
        length(regexp_replace($"text", "[^a-zA-Z]", "")).as("letters"),
        length(regexp_replace($"text", "[^0-9]", "")).as("digits"),
        size(split($"text", "\\s+")).as("toks")
      ).groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"chars").as("sum_chars"),
          sum($"letters").as("sum_letters"),
          sum($"digits").as("sum_digits"),
          sum($"toks").as("sum_tokens")
        )
        .orderBy($"source")
    }),
    "t_langid" -> ((s, dir) => {
      import s.implicits._
      val langUdf = udf((t: String) => TextStats.langId(t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", langUdf($"text").as("detected"))
        .groupBy($"lang", $"detected")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"detected")
    }),
    "t_langid_segments" -> ((s, dir) => {
      import s.implicits._
      // CCNet runs language ID per PARAGRAPH, not per page (Wenzek et
      // al. 2020 §4.1): mixed-language pages — foreign boilerplate,
      // embedded quotes — surface as segments disagreeing with the
      // whole-document verdict, and the per-segment verdicts are what
      // the paragraph-level keep decisions consume. 50-token segments
      // (the chunk kernel), the SAME langId kernel per segment and per
      // full doc, disagreement counted per doc. Map-only: one UDF pass,
      // no shuffle before the final per-lang aggregate. The oracle
      // applies ONE shared SQL decision chain to both granularities.
      val segsUdf = udf((t: String) =>
        graft.functions.TextStats.chunk(if (t == null) "" else t, 50)
          .map(graft.functions.TextStats.langId).toArray)
      val docUdf = udf((t: String) =>
        graft.functions.TextStats.langId(if (t == null) "" else t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", docUdf($"text").as("docDet"), segsUdf($"text").as("segs"))
        .select($"lang", size($"segs").cast("long").as("nseg"),
          expr("size(filter(segs, x -> x != docDet))").cast("long").as("noff"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"nseg").as("n_segments"),
          sum($"noff").as("n_off_segments"),
          sum(when($"noff" > 0, 1L).otherwise(0L)).as("n_mixed_docs")
        )
        .orderBy($"lang")
    }),
    "t_quality_score" -> ((s, dir) => {
      import s.implicits._
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", qUdf($"text").as("score"))
        .groupBy($"score")
        .agg(count(lit(1)).as("n"))
        .orderBy($"score")
    }),
    "t_chunks" -> ((s, dir) => {
      import s.implicits._
      // F13 chunking kernel, cross-checked against a pure-SQL oracle
      val chunksUdf = udf((t: String) => TextStats.chunk(t, 100).length)
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", chunksUdf($"text").as("chunks"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"chunks").as("n_chunks"))
        .orderBy($"lang")
    }),
    "t_classify" -> ((s, dir) => {
      import s.implicits._
      // F15 keyword-rule classifier tier (reference combined_pipeline.py:724-770)
      val clsUdf = udf((t: String) => TextStats.classify(t)._1)
      s.read.parquet(pq(dir, "documents"))
        .select(clsUdf($"text").as("label"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"))
        .orderBy($"label")
    }),
    "q_keywords" -> ((s, dir) => {
      import s.implicits._
      // F12/A6: corpus-wide keyword frequency ranking, top 20
      s.read.parquet(pq(dir, "documents"))
        .select(explode(split(lower($"text"), "\\s+")).as("w"))
        .select(regexp_replace($"w", "[^a-z]", "").as("kw"))
        .filter(length($"kw") >= 4 && !$"kw".isin("that", "with", "this"))
        .groupBy($"kw")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"kw")
        .limit(20)
    }),
    "t_textrank" -> ((s, dir) => {
      import s.implicits._
      // F14 TextRank summarization (deterministic sentence-graph power
      // iteration). The documents corpus has no sentence punctuation, so
      // pseudo-sentences are built from 12-token chunks (F13) — the rank
      // iteration then really runs per doc. Oracle checks n_docs and the
      // summary-sentence count (= min(2, ceil(tokens/12)), pure arithmetic);
      // n_bad counts non-extractive summary sentences — zero by contract.
      val sumBadUdf = udf { (t: String) =>
        val sdoc = TextStats.chunk(t, 12).mkString(". ")
        val ss = graft.functions.TextRank.summarize(sdoc, 2)
        (ss.length, ss.count(x => !sdoc.contains(x)))
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", sumBadUdf($"text").as("s"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"s._1".cast("long")).as("n_summary_sentences"),
          sum($"s._2".cast("long")).as("n_bad")
        )
        .orderBy($"lang")
    }),
    "t_fingerprint" -> ((s, dir) => {
      import s.implicits._
      // native codegen'd expression; distinct fingerprints == distinct texts
      s.read.parquet(pq(dir, "documents"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(fingerprint64($"text")).as("n_fingerprints")
        )
    }),

    "t_repetition" -> ((s, dir) => {
      import s.implicits._
      // Gopher-style repetition signals as exact integer numerators /
      // denominators (fractions would float-hash-mismatch the oracle):
      // top bigram occurrences, duplicated-trigram positions, per lang
      val repUdf = udf((t: String) => TextStats.repetitionStats(t))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", repUdf($"text").as("r"))
        .select($"lang", $"r" (0).as("top2"), $"r" (1).as("n2"),
          $"r" (2).as("dup3"), $"r" (3).as("n3"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"top2").as("sum_top2"),
          max($"top2").as("max_top2"),
          sum($"n2").as("sum_bigrams"),
          sum($"dup3").as("sum_dup3"),
          sum($"n3").as("sum_3grams"),
          sum(when($"dup3" > 0, 1L).otherwise(0L)).as("n_docs_with_dup3")
        )
        .orderBy($"lang")
    }),
    "p_decontaminate" -> ((s, dir) => {
      import s.implicits._
      // benchmark decontamination: docs with doc_id % 41 == 0 stand in for
      // the eval/benchmark set; a train doc is contaminated when it shares
      // any word 4-gram with any eval doc (eval gram set broadcast — the
      // train corpus is scanned map-side only, zero train-side shuffle
      // before the per-doc hit count)
      val d = s.read.parquet(pq(dir, "documents"))
      val evalDocs = d.filter($"doc_id" % 41 === 0)
      val train = d.filter($"doc_id" % 41 =!= 0)
      val h = Decontaminate.hits(train, evalDocs, "doc_id", "text", k = 4)
      train
        .join(h, train("doc_id") === h("id"), "left")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_train"),
          count($"id").as("n_contaminated"),
          coalesce(sum($"n_hit"), lit(0L)).as("n_hits")
        )
        .orderBy($"lang")
    }),
    "p_scrub_pii" -> ((s, dir) => {
      import s.implicits._
      // PII redaction over a deterministically PII-injected corpus (the
      // synthetic docs are letter-words only, so every hit is a planted
      // one): emails on doc_id%5, phones on %7, IPv4s on %11. The oracle
      // rebuilds the identical injection in SQL and runs the SAME portable
      // regexes through DuckDB's RE2, sequentially like the kernel.
      val scrubUdf = udf((t: String) => PiiScrub.scrub(t))
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"source",
        concat(
          $"text",
          when($"doc_id" % 5 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" call 415-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0,
            concat(lit(" from 10."), ($"doc_id" % 200).cast("string"), lit("."),
              ($"doc_id" % 250).cast("string"), lit("."), ($"doc_id" % 254).cast("string")))
            .otherwise(lit(""))
        ).as("text"))
      inj.select($"source", $"text", scrubUdf($"text").as("s"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"s.n_email".cast("long")).as("n_emails"),
          sum($"s.n_phone".cast("long")).as("n_phones"),
          sum($"s.n_ip".cast("long")).as("n_ips"),
          sum(length($"s.clean")).cast("long").as("sum_clean_len"),
          sum(when(!($"s.clean" <=> $"text"), 1L).otherwise(0L)).as("n_docs_redacted")
        )
        .orderBy($"source")
    }),

    "p_sample_stratified" -> ((s, dir) => {
      import s.implicits._
      // deterministic per-lang 20% sample (exact variant, digest-rank
      // order); the oracle re-derives the kept SET, so sum_kept_ids checks
      // membership, not just counts
      val d = s.read.parquet(pq(dir, "documents"))
      val kept = Sampling.stratifiedExact(d, "lang", "text", "doc_id", 1, 5)
      d.groupBy($"lang")
        .agg(count(lit(1)).as("n_total"))
        .join(
          kept.groupBy($"lang")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          "lang"
        )
        .orderBy($"lang")
    }),

    "t_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      // Misra-Gries(k=64) sketch over the corpus token stream. The oracle
      // computes the TRUE heavy set (count*65 > N -- above the N/(k+1)
      // noise floor, so presence in the sketch is GUARANTEED, not
      // probabilistic) with exact counts; in_sketch is the live sketch
      // membership and must be uniformly true. The 64-entry sketch is the
      // only thing the driver ever holds.
      // three consumers (sketch pass, exact counts, total) share one
      // tokenize+explode pass via the cache; Verify/Bench clearCache()
      // between ops
      val toks = s.read.parquet(pq(dir, "documents"))
        .select(explode(TextStats.lowerTokensUdf($"text")).as("w"))
        .cache()
      val sketch = toks.as[String]
        .select(graft.operators.HeavyHitters.MisraGries(64).toColumn)
        .head()
      val exact = toks.groupBy($"w").agg(count(lit(1)).as("n"))
      exact
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("__N"))))
        .filter($"n" * 65 > $"__N")
        .select($"w".as("token"), $"n",
          $"w".isInCollection(sketch.keySet).as("in_sketch"))
        .orderBy($"token")
    }),

    "t_unigram_lm" -> ((s, dir) => {
      import s.implicits._
      // two-phase corpus-LM scoring (CCNet shape): top-500 vocabulary
      // aggregated from the corpus itself, broadcast, every doc scored
      // map-only. commonness = summed corpus frequency of in-vocab
      // tokens (integer analog of negative log-perplexity); the oracle
      // rebuilds the identical vocabulary (count DESC, token ASC — a
      // total order, so the V-boundary is deterministic) and re-scores.
      val d = s.read.parquet(pq(dir, "documents"))
      val scored = graft.operators.UnigramLm.scoreDocs(d, "doc_id", "text", topV = 500)
      d.select($"doc_id", $"lang")
        .join(scored, Seq("doc_id"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").as("n_tokens"),
          sum($"n_oov").as("n_oov"),
          sum($"commonness").as("sum_commonness")
        )
        .orderBy($"lang")
    }),

    "t_bigram_fluency" -> ((s, dir) => {
      import s.implicits._
      // the word-ORDER-sensitive half of the CCNet filter (what
      // perplexity adds over unigram stats): every doc is scored twice —
      // as-is and token-REVERSED (identical unigram profile, destroyed
      // order) — against a bigram table trained on the original variant
      // only. The synthetic corpus is near-i.i.d. at the word level
      // (reversal alone barely moves its bigram mass), so fluent
      // structure is INJECTED the d_span_dedup way: a fixed 30-word
      // ordered chain appended to every doc. Its 29 chain bigrams each
      // occur ~n_docs times — they dominate the small top-64 table — and
      // reversal destroys every one of them, so orig docs clear the keep
      // gate (avg in-vocab frequency >= n_docs/20, corpus-size-relative
      // hence sf-invariant) and reversed docs fall far below it.
      val chain = "amber basalt cedar dune ember fjord grove harbor inlet " +
        "juniper kelp lagoon marble nectar opal prairie quartz reef summit " +
        "tundra umber violet willow xenon yarrow zephyr azure boulder canyon delta"
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"lang", concat($"text", lit(" " + chain)).as("text"))
      val nDocs = d.count()
      val variantUdf = udf((t: String, rev: Boolean) => {
        val ws = graft.functions.TextStats.tokens(if (t == null) "" else t.toLowerCase)
        (if (rev) ws.reverse else ws).mkString(" ")
      })
      val orig = d.select($"doc_id", $"lang", lit("orig").as("variant"),
        variantUdf($"text", lit(false)).as("vtext"))
      val variants = orig.unionByName(d.select($"doc_id", $"lang", lit("rev").as("variant"),
        variantUdf($"text", lit(true)).as("vtext")))
      val tbl = graft.operators.BigramLm.table(orig, "vtext", topB = 64)
      graft.operators.BigramLm.scoreWith(tbl, variants, "vtext")
        .groupBy($"variant", $"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_bigrams").as("n_bigrams"),
          sum($"n_oov_bigrams").as("n_oov_bigrams"),
          sum($"fluency").as("sum_fluency"),
          sum(when($"fluency" * lit(20L) >= $"n_bigrams" * lit(nDocs), 1L)
            .otherwise(0L)).as("n_kept")
        )
        .orderBy($"variant", $"lang")
    }),

    "t_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      // distributed BPE merge learning (Sennrich et al. 2016): 8 rounds
      // over the word vocabulary — each round one pair-count aggregation
      // plus a 1-row argmax to the driver; output pins both the CHOICE
      // (t1, t2, cnt; ties by (t1,t2) asc) and the APPLICATION
      // (tokens_after counts the corpus after the greedy overlap-aware
      // merge). The oracle replays all 8 rounds as chained CTEs over the
      // identical two-space symbolization + literal-replace merge step,
      // so both engines share greedy semantics by construction.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.BpeTrain.learn(s, d, "text", numMerges = 8)
        .orderBy($"rank")
    }),
    "t_bpe_merges_deep" -> ((s, dir) => {
      import s.implicits._
      // production-DEPTH merge learning (VERDICT r4 ask #4): 64 merges
      // (8x the distributed query's depth; the sf0.001 corpus exhausts
      // its pair supply at 89, so 64 is the every-scale-safe depth — the
      // in-memory trainer itself is spec-proven against the sequential
      // reference and handles 30k-merge production runs architecturally)
      // through BpeTrain.learnInMemory — the vocabulary collapses
      // distributed, collects once (the k-means-centroids shape), and the
      // merge loop runs with incremental pair-count maintenance + a
      // lazy-invalidation heap: ZERO Spark jobs per merge vs 2 in the
      // 8-round distributed path above, with bit-identical semantics
      // (UTF-8-byte tie order, overlap-counted argmax, greedy
      // non-overlapping application). The oracle replays all 64 rounds
      // as chained literal-replace CTEs — the exact sequential contract,
      // not a batch approximation.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 64)
        .orderBy($"rank")
    }),

    "t_cms_sketch" -> ((s, dir) => {
      import s.implicits._
      // Count-min over the corpus token stream (depth 4 × width 256):
      // probes cover a frequent token, mid tokens, and an absent one.
      // Both the true counts (LEFT join, 0 for absent) and the CMS
      // estimates are exact integers the oracle reproduces — the
      // over-estimate deltas are data, not tolerance.
      val d = s.read.parquet(pq(dir, "documents"))
      val toks = d.select(explode(graft.functions.TextStats.lowerTokensUdf($"text")).as("w"))
        .cache()
      val cells = graft.operators.CountMin.table(toks, "w", depth = 4, width = 256)
      val probes = Seq("data", "query", "spark", "zzznever").toDF("p")
      val est = graft.operators.CountMin.estimate(cells, probes, "p", depth = 4, width = 256)
      val truth = toks.groupBy($"w".as("p")).agg(count(lit(1)).as("n_true"))
      est.join(truth, Seq("p"), "left")
        .select($"p".as("token"), coalesce($"n_true", lit(0L)).as("n_true"), $"n_est")
        .orderBy($"token")
    }),

    "t_hll_distinct" -> ((s, dir) => {
      import s.implicits._
      // HyperLogLog register tables over two cardinalities (distinct
      // tokens, distinct doc ids): the md5-prefix hash and the
      // bin()-length rho make every register deterministic DATA the
      // oracle reproduces exactly — the sketch is verified at the
      // register level, the float estimate only spec-tested.
      val d = s.read.parquet(pq(dir, "documents"))
      def leg(kind: String, vals: org.apache.spark.sql.DataFrame) = {
        val regs = graft.operators.HllSketch.registers(vals, "v")
        regs.agg(
            count(lit(1)).as("n_buckets"),
            sum($"reg").as("sum_regs"),
            max($"reg").as("max_reg"))
          .crossJoin(broadcast(vals.agg(countDistinct($"v").as("n_exact"))))
          .select(lit(kind).as("kind"), $"n_exact", $"n_buckets", $"sum_regs", $"max_reg")
      }
      // no upstream .distinct(): registers' max(rho) is duplicate-
      // insensitive and countDistinct dedups once — a pre-distinct
      // would just run the same shuffle twice
      val words = d.select(explode(split(lower($"text"), "\\s+")).as("v"))
        .filter($"v" =!= "")
      val ids = d.select($"doc_id".as("v"))
      leg("tokens", words).union(leg("doc_ids", ids)).orderBy($"kind")
    }),

    "t_theta_sketch" -> ((s, dir) => {
      import s.implicits._
      // KMV/theta sketch SET ALGEBRA — the cross-snapshot question HLL
      // registers cannot answer: how many distinct word TRIGRAMS do the
      // even- and odd-doc_id halves of the corpus share? (Trigrams, not
      // tokens: the fixture vocabulary is ~31 words — token sketches
      // would be unsaturated and the check vacuous; trigram cardinality
      // is ~10k per side with a ~4k overlap, so both sketches saturate
      // and every output quantity is distinct.) Sketch content is
      // deterministic md5-prefix data (the k minimum distinct 48-bit
      // hashes), so theta, the sketch sizes, and the common-below-theta
      // count are exact integers the oracle replays; the float
      // distinct/intersection ESTIMATES stay spec-side (KmvSketchSpec).
      // Build is a typed Aggregator: each input partition reduces to
      // ≤k longs map-side, the exchange carries P partial buffers.
      val k = 256
      val d = s.read.parquet(pq(dir, "documents"))
      val gramsU = udf((t: String) =>
        if (t == null) Array.empty[String] else TextStats.wordGrams(t, 3))
      val toks = d.select(
          pmod($"doc_id", lit(2)).cast("int").as("side"),
          explode(gramsU($"text")).as("w"))
      val agg = udaf(graft.operators.KmvSketch.Kmv(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      def leg(side: Int) = toks.filter($"side" === lit(side))
        .select($"w", graft.operators.KmvSketch.hash48($"w").as("h"))
        .agg(agg($"h").as("sk"), countDistinct($"w").as("n_exact"))
      // exact intersection (the reference answer the estimate targets):
      // distinct per side then INTERSECT — the only full-width pass, and
      // exactly what the sketch makes unnecessary at 10^12 rows
      val exactCommon = toks.filter($"side" === 0).select($"w").distinct()
        .intersect(toks.filter($"side" === 1).select($"w").distinct())
        .agg(count(lit(1)).as("n_exact_common"))
      val thA = graft.operators.KmvSketch.thetaCol($"ska", k)
      val thB = graft.operators.KmvSketch.thetaCol($"skb", k)
      leg(0).select($"sk".as("ska"), $"n_exact".as("n_exact_a"))
        .crossJoin(leg(1).select($"sk".as("skb"), $"n_exact".as("n_exact_b")))
        .crossJoin(exactCommon)
        .select(
          $"n_exact_a", $"n_exact_b", $"n_exact_common",
          size($"ska").cast("long").as("n_sk_a"),
          size($"skb").cast("long").as("n_sk_b"),
          thA.as("theta_a"), thB.as("theta_b"),
          size(filter(array_intersect($"ska", $"skb"),
            h => h < least(thA, thB))).cast("long").as("n_common_sk"))
    }),

    "t_hash_classifier" -> ((s, dir) => {
      import s.implicits._
      // hashed-linear classifier inference (fastText-quality-filter shape)
      // with a deterministic integer weight table standing in for trained
      // weights: w[b] = ((b*37 + 11) % 201) - 100. Scores are exact
      // integer sums, decisions are sign tests, and the oracle replays
      // bucket + weight + score from md5 hex arithmetic.
      val weights = graft.functions.SqlFunctions.DefaultGateWeights
      val scoreUdf = udf((t: String) => graft.functions.HashClassifier.score(t, weights))
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", scoreUdf($"text").as("s"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"s._1" > 0, 1L).otherwise(0L)).as("n_keep"),
          sum($"s._1").as("sum_score"),
          sum($"s._2").as("n_tokens")
        )
        .orderBy($"lang")
    }),

    "p_url_patterns" -> ((s, dir) => {
      import s.implicits._
      // crawler-trap mining: four synthesized URL families per host —
      // a calendar grid (/cal/YYYY/M/D: unbounded numeric slots), a
      // session-id query (/item/ID?session=S), a static page (/about, no
      // variable slot — high count must NOT flag), and a small finite tag
      // set (/tag/0..4 — variable slot but under the distinct threshold).
      // Templatization (digit runs -> N, query values -> V) and the
      // (host, template) mine run verbatim in the DuckDB mirror.
      val d = s.read.parquet(pq(dir, "documents"))
      val url = concat(
        lit("https://host"), ($"doc_id" % 7).cast("string"),
        lit(".example.com"),
        when($"doc_id" % 4 === 0, concat(
          lit("/cal/"), (lit(2000) + $"doc_id" % 30).cast("string"),
          lit("/"), ($"doc_id" % 12 + 1).cast("string"),
          lit("/"), ($"doc_id" % 28 + 1).cast("string")))
          .when($"doc_id" % 4 === 1, concat(
            lit("/item/"), $"doc_id".cast("string"),
            lit("?session="), (($"doc_id" * 48271) % 100000).cast("string")))
          .when($"doc_id" % 4 === 2, lit("/about"))
          .otherwise(concat(lit("/tag/"), ($"doc_id" % 5).cast("string"))))
      graft.operators.UrlPatterns
        .mineTraps(d.select(url.as("url")), "url", minDistinct = 10)
        .orderBy($"host", $"template")
    }),

    "p_url_canon" -> ((s, dir) => {
      import s.implicits._
      // URL canonicalization over deterministically synthesized messy URLs
      // (mixed-case scheme/host, default + explicit ports, tracking params
      // out of order, trailing slashes, fragments). The oracle rebuilds
      // the same URLs and canonicalizes them with SQL string/list
      // functions; the md5-prefix sum pins the canonical STRINGS, not just
      // their counts.
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val urls = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(
          lit("HTTP"), when($"doc_id" % 2 === 0, lit("S")).otherwise(lit("")),
          lit("://Site"), ($"doc_id" % 50).cast("string"), lit(".COM"),
          when($"doc_id" % 3 === 0, lit(":443"))
            .when($"doc_id" % 3 === 1, lit(":8080")).otherwise(lit("")),
          lit("/Path"), ($"doc_id" % 20).cast("string"),
          when($"doc_id" % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?z="), ($"doc_id" % 9).cast("string"),
          lit("&utm_source=feed&a="), ($"doc_id" % 5).cast("string"),
          when($"doc_id" % 6 === 0, lit("&ref=x")).otherwise(lit("")),
          lit("#Sec"), ($"doc_id" % 3).cast("string")
        ).as("url"))
      urls.select($"source", canonUdf($"url").as("canon"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct($"canon").as("n_distinct_canon"),
          sum(length($"canon")).cast("long").as("sum_canon_len"),
          sum(conv(substring(md5($"canon"), 1, 4), 16, 10).cast("long")).as("sum_canon_md5pfx")
        )
        .orderBy($"source")
    }),
    "p_url_dedup" -> ((s, dir) => {
      import s.implicits._
      // recrawl dedup: many snapshots of one logical page differ only in
      // URL mess (port spelled out, trailing slash, tracking params,
      // fragment) — canonicalize, keep the LATEST snapshot per canonical
      // URL (doc_id is the recency proxy here; warc_ts on the pages
      // table). The mess varies on residues the canonical form erases
      // (doc_id % 2 -> explicit :443, % 4 -> trailing slash), so exactly
      // 15 canonical groups exist at every sf. Keep-latest is a
      // map-side-combined groupBy max — never a per-key window sort; at
      // scale the full kept row comes back via max_by(struct(...)) or a
      // join on (canon, kept_id). The oracle pins the canonical STRINGS
      // in closed form — every canonicalization rule is load-bearing.
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val urls = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat(
          lit("HTTPS://Host"), ($"doc_id" % 5).cast("string"), lit(".Example.COM"),
          when($"doc_id" % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/a/"), ($"doc_id" % 3).cast("string"),
          when($"doc_id" % 4 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_campaign=w&q="), ($"doc_id" % 3).cast("string"),
          lit("#top")
        ).as("url"))
      urls.select($"doc_id", canonUdf($"url").as("canon"))
        .groupBy($"canon")
        .agg(
          count(lit(1)).as("n_snapshots"),
          max($"doc_id").as("kept_doc_id"),
          (count(lit(1)) - 1).as("n_dropped")
        )
        .orderBy($"canon")
    }),

    "x_warc_ingest" -> ((s, dir) => {
      import s.implicits._
      // WARC ingest driven end to end from the driver surface: a
      // deterministic 240-record archive pair (plain / gzip
      // content-encoding / chunked / chunked+gzip HTTP bodies; one
      // warcinfo record that must be length-skipped; one .warc.gz
      // whole-archive member stream) is written to disk, read back
      // through WarcReader.readWarcs, and joined against the in-memory
      // truth. sf-invariant: every count pinned, every drift column zero.
      val nRecs = 240
      val root = java.nio.file.Files.createTempDirectory("graft-warc").toString
      try {
        def tsOf(i: Int) = new java.sql.Timestamp(1735689600000L + i * 1000L)
        def bodyOf(i: Int): Array[Byte] =
          (s"<html><head><title>w$i</title></head><body><p>warc page $i body " +
            (s"w$i " * (1 + i % 7)) + "</p></body></html>")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val recs = (0 until nRecs).map(i => (s"https://warc.example.org/p/$i", tsOf(i), bodyOf(i)))
        val (ra, rb) = recs.splitAt(nRecs / 2)
        val warcInfo = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\nsoftware\n\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "a.warc"),
          warcInfo ++ graft.sources.WarcReader.writeWarc(ra, gzipBody = _ % 2 == 0, chunked = _ % 3 == 0))
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "b.warc.gz"),
          graft.functions.Codecs.gzip(
            graft.sources.WarcReader.writeWarc(rb, chunked = _ % 2 == 1, gzipBody = _ % 5 == 0)))
        val got = graft.sources.WarcReader.readWarcs(s, root)
        val want = recs.toDF("url", "want_ts", "want_body")
        // materialize before the finally deletes the archives (the returned
        // frame must not re-scan the temp dir when the caller executes it)
        val row = got.join(want, Seq("url"), "full_outer")
          .agg(
            count(lit(1)).cast("long").as("n_rows"),
            sum(when($"html".isNull, 1L).otherwise(0L)).as("n_missing"),
            sum(when($"want_body".isNull, 1L).otherwise(0L)).as("n_extra"),
            sum(when($"html" =!= $"want_body", 1L).otherwise(0L)).as("n_body_mismatch"),
            sum(when($"warc_ts" =!= $"want_ts", 1L).otherwise(0L)).as("n_ts_mismatch"),
            sum(when($"ingest_error".isNotNull || $"http_status" =!= 200, 1L).otherwise(0L))
              .as("n_error"))
          .as[(Long, Long, Long, Long, Long, Long)].head()
        Seq(row).toDF("n_rows", "n_missing", "n_extra", "n_body_mismatch",
          "n_ts_mismatch", "n_error")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_time_travel" -> ((s, dir) => {
      import s.implicits._
      // snapshot time travel on the manifest table from the driver surface:
      // three commits split by doc_id%3, then compact + vacuum. as-of reads
      // must replay each historical snapshot (counts mirrored from documents
      // by the same mod arithmetic), survive compaction untouched, and fail
      // LOUDLY once vacuum expires the window — a silent partial read would
      // show up as a nonzero drift, a missing error as n_expired=0.
      val root = java.nio.file.Files.createTempDirectory("graft-asof").toString
      try {
        val docs = s.read.parquet(pq(dir, "documents")).select(
          concat(lit("https://corpus.example.org/d/"), $"doc_id").as("url"),
          to_timestamp(lit("2025-01-01 00:00:00")).plus(
            expr("make_interval(0, 0, 0, 0, 0, 0, doc_id)")).as("warc_ts"),
          $"text", ($"doc_id" % 3).as("slice"), length($"text").cast("long").as("n_in"))
          .cache()
        def sliceDs(i: Int) = docs.filter($"slice" === i)
          .select($"url", $"warc_ts", lit("txt").as("format"), $"text",
            lit("utf-8").as("charset"), lit("ok").as("status"),
            lit(null).cast("string").as("error"), lit(1).as("n_blocks"),
            $"n_in".as("n_bytes_in")).as[Extracted]
        (0 until 3).foreach(i => graft.sources.ManifestTable.commitAppend(s, root, sliceDs(i)))
        val want = (0 until 3).map(i => docs.filter($"slice" <= i).count())
        val asof = (0 until 3).map(i => graft.sources.ManifestTable.readAsOf(s, root, i).count())
        val cseq = graft.sources.ManifestTable.compact(s, root)
        val afterCompact = graft.sources.ManifestTable.readAsOf(s, root, 1L).count()
        graft.sources.ManifestTable.vacuum(root)
        val expired =
          try { graft.sources.ManifestTable.readAsOf(s, root, 1L).count(); 0L }
          catch { case e: IllegalStateException if e.getMessage.contains("vacuumed") => 1L }
        val latest = graft.sources.ManifestTable.readAsOf(s, root, cseq + 100).count()
        docs.unpersist()
        Seq((graft.sources.ManifestTable.snapshots(root).length.toLong,
          asof(0) - want(0), asof(1) - want(1), asof(2) - want(2),
          afterCompact - want(1), expired, latest - want(2)))
          .toDF("n_snapshots", "n_snap0_drift", "n_snap1_drift", "n_snap2_drift",
            "n_after_compact_drift", "n_expired", "n_latest_drift")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_wet_roundtrip" -> ((s, dir) => {
      import s.implicits._
      // WET publish leg: every document's text written as WARC conversion
      // records (8 gzipped archives, one per partition, concatenated
      // per-record gzip members) and re-ingested through WetSink.readWet.
      // Byte/char identity per url is the invariant — multi-byte UTF-8
      // (zh docs) makes Content-Length-in-bytes load-bearing. n_rows
      // mirrors count(*) on documents so the oracle is sf-proof.
      val root = java.nio.file.Files.createTempDirectory("graft-wet").toString
      try {
        val docs = s.read.parquet(pq(dir, "documents")).select(
          concat(lit("https://corpus.example.org/d/"), $"doc_id").as("url"),
          to_timestamp(lit("2025-01-01 00:00:00")).plus(
            expr("make_interval(0, 0, 0, 0, 0, 0, doc_id)")).as("warc_ts"),
          $"text")
        graft.sources.WetSink.writeWet(docs.repartition(8), root, gzip = true)
        val back = graft.sources.WetSink.readWet(s, root)
          .select($"url", $"warc_ts".as("got_ts"), $"text".as("got_text"))
        val row = docs.join(back, Seq("url"), "full_outer")
          .agg(
            count(lit(1)).cast("long").as("n_rows"),
            sum(when($"got_text".isNull, 1L).otherwise(0L)).as("n_missing"),
            sum(when($"text".isNull, 1L).otherwise(0L)).as("n_extra"),
            sum(when($"got_text" =!= $"text", 1L).otherwise(0L)).as("n_text_mismatch"),
            sum(when($"got_ts" =!= $"warc_ts", 1L).otherwise(0L)).as("n_ts_mismatch"))
          .as[(Long, Long, Long, Long, Long)].head()
        Seq(row).toDF("n_rows", "n_missing", "n_extra", "n_text_mismatch", "n_ts_mismatch")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_lake_roundtrip" -> ((s, dir) => {
      import s.implicits._
      // ORC/CSV/JSONL lake interop (§2.1 beyond parquet): the documents
      // table through each non-parquet format Spark natively speaks,
      // read back under the WRITER schema and compared row-for-row with
      // null-safe struct equality. The text column is prefixed with the
      // characters each codec is weakest at (comma, quote, newline,
      // multi-byte unicode) so the zeros prove the ESCAPING round-trips,
      // not just the happy path — a backslash-escaped CSV (Spark's
      // default) would shear on the embedded quote under the RFC 4180
      // reader. Collected before the temp dir dies (the read-back plan
      // is lazy); 3 summary rows, sf-proof oracle.
      val root = java.nio.file.Files.createTempDirectory("graft-lake").toString
      try {
        val docs = s.read.parquet(pq(dir, "documents")).select(
          $"doc_id", $"lang", $"n_chars",
          concat(lit("x,\"y\"\nż漢 "), $"text").as("text"))
        val rows = graft.sources.LakeFormats.roundTrip(s, docs, "doc_id", root)
          .as[(String, Long, Long, Long)].collect().toSeq
        rows.toDF("format", "n_rows", "n_missing", "n_mismatch")
          .orderBy($"format")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "x_warc_index" -> ((s, dir) => {
      import s.implicits._
      // CDX-style random access driven end to end over all THREE archive
      // layouts: plain .warc (file coordinates), whole-archive .warc.gz
      // (decompressed-stream coordinates, non-seekable), and per-record-
      // gzipped .warc.gz — the Common Crawl layout, whose gzip MEMBER
      // ranges are seekable coordinates. A 1-in-3 url subset is re-read
      // through WarcIndex.fetch (decoding ONLY the addressed slices), and
      // every seekable record (plain + per-record-gz) is re-read through
      // the record-level split ingest, byte-for-byte against the
      // in-memory truth.
      val nRecs = 360
      val root = java.nio.file.Files.createTempDirectory("graft-warcidx").toString
      try {
        def tsOf(i: Int) = new java.sql.Timestamp(1735689600000L + i * 1000L)
        def bodyOf(i: Int): Array[Byte] =
          (s"<html><head><title>w$i</title></head><body><p>indexed page $i " +
            (s"w$i " * (1 + i % 7)) + "</p></body></html>")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val recs = (0 until nRecs).map(i => (s"https://warc.example.org/p/$i", tsOf(i), bodyOf(i)))
        val Seq(ra, rb, rc) = recs.grouped(nRecs / 3).toSeq
        val warcInfo = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\nsoftware\n\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "a.warc"),
          warcInfo ++ graft.sources.WarcReader.writeWarc(ra, gzipBody = _ % 2 == 0, chunked = _ % 3 == 0))
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "b.warc.gz"),
          graft.functions.Codecs.gzip(
            graft.sources.WarcReader.writeWarc(rb, chunked = _ % 2 == 1, gzipBody = _ % 5 == 0)))
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "c.warc.gz"),
          graft.sources.WarcReader.writeWarcRecordGz(rc,
            gzipBody = _ % 4 == 0, chunked = _ % 5 == 1))
        val idx = graft.sources.WarcIndex.index(s, root).cache()
        val nIndexed = idx.count()
        val nResponses = idx.filter($"rec_type" === "response").count()
        val nNonSeekable = idx.filter($"rec_type" === "response" && !$"seekable").count()
        val wantedIdx = (0 until nRecs).filter(_ % 3 == 0)
        val want = wantedIdx.map(i => recs(i)).toDF("url", "want_ts", "want_body")
        val got = graft.sources.WarcIndex.fetch(s, idx, want.select($"url"))
        val row = got.join(want, Seq("url"), "full_outer")
          .agg(
            count(lit(1)).cast("long").as("n_fetched"),
            sum(when($"html".isNull, 1L).otherwise(0L)).as("n_missing"),
            sum(when($"want_body".isNull, 1L).otherwise(0L)).as("n_extra"),
            sum(when($"html" =!= $"want_body", 1L).otherwise(0L)).as("n_body_mismatch"),
            sum(when($"warc_ts" =!= $"want_ts", 1L).otherwise(0L)).as("n_ts_mismatch"))
          .as[(Long, Long, Long, Long, Long)].head()
        // record-level split ingest over every seekable coordinate row
        // (plain file ranges AND gzip member ranges): 240 records re-read
        // by seeked ranges across 4 tasks, byte-exact
        val wantSeek = (ra ++ rc).toDF("url", "want_ts", "want_body")
        val splitDrift = graft.sources.WarcIndex
          .readSplit(s, idx.filter($"seekable"), numSlices = 4)
          .join(wantSeek, Seq("url"), "full_outer")
          .agg(
            count(lit(1)).cast("long").as("n"),
            sum(when($"html".isNull || $"want_body".isNull ||
              $"html" =!= $"want_body", 1L).otherwise(0L)).as("bad"))
          .as[(Long, Long)].head()
        idx.unpersist()
        Seq((nIndexed, nResponses, nNonSeekable, row._1, row._2, row._3, row._4, row._5,
          splitDrift._1, splitDrift._2))
          .toDF("n_indexed", "n_responses", "n_nonseekable", "n_fetched", "n_missing",
            "n_extra", "n_body_mismatch", "n_ts_mismatch", "n_split", "n_split_bad")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }),

    "w_pagerank" -> ((s, dir) => {
      import s.implicits._
      // Host link graph synthesized by doc_id arithmetic (the oracle
      // rebuilds the identical edge set in SQL — no HTML parse needed to
      // pin graph semantics): 41 hosts, host 40 is never a source, so the
      // dangling-mass path is exercised. Integer-exact PageRank
      // (LinkGraph scaladoc) at 5 iterations joined with in/out degrees;
      // every rank is a deterministic BIGINT, so the oracle matches
      // bit-for-bit, not within-epsilon.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct().cache()
      val pr = graft.operators.LinkGraph.pagerankInt(e, iters = 5)
      val deg = graft.operators.LinkGraph.degrees(e)
      deg.join(pr, Seq("node"))
        .select($"node", $"out_deg", $"in_deg", $"pr")
        .orderBy($"node")
    }),

    "w_trustrank" -> ((s, dir) => {
      import s.implicits._
      // TrustRank (seed-personalized PageRank, Gyöngyi et al. 2004) over
      // the SAME synthesized 41-host graph as w_pagerank, trusted seeds =
      // hosts ≡ 3 (mod 10). pr and tr side by side on identical edges is
      // the spam-demotion readout: a host keeps its uniform-teleport pr
      // but holds trust only through paths from seeds. Integer-exact
      // (LinkGraph.trustrankInt scaladoc: teleport AND dangling mass go
      // to seeds only), so the oracle replays every round bit-for-bit —
      // including the personalization delta, since the mirror reuses the
      // one shared pagerank CTE block for the pr column.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct().cache()
      val seeds = s.range(0, 41).filter($"id" % 10 === 3).select($"id".as("node"))
      val tr = graft.operators.LinkGraph.trustrankInt(e, seeds, iters = 5)
      val pr = graft.operators.LinkGraph.pagerankInt(e, iters = 5)
      tr.join(pr, Seq("node"))
        .select($"node", $"is_seed", $"pr", $"tr")
        .orderBy($"node")
    }),

    "w_hits" -> ((s, dir) => {
      import s.implicits._
      // Integer-exact HITS over the same synthesized 41-host graph as
      // w_pagerank (host 40 never a source → a pure authority; its hub
      // mass must go to zero). 4 rounds of the L1-rescaled recurrence
      // (LinkGraph.hitsInt scaladoc); every auth/hub value is a
      // deterministic BIGINT the oracle replays bit-for-bit.
      val d = s.read.parquet(pq(dir, "documents"))
      // no entry-level cache: hitsInt caches its own projection of the
      // edges and nothing else here consumes them
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst").distinct()
      graft.operators.LinkGraph.hitsInt(e, iters = 4)
        .orderBy($"node")
    }),

    "w_components" -> ((s, dir) => {
      import s.implicits._
      // Weakly-connected components over a host graph synthesized with
      // BLOCK structure (edges stay inside groups of 10 hosts → several
      // true components, not one giant blob): the distributed min-label
      // propagation (Dedup.connectedComponents) vs a recursive-CTE
      // transitive closure. Per-component (n_nodes, sum, max) pins the
      // exact membership.
      val d = s.read.parquet(pq(dir, "documents"))
      val pairs = d
        .select($"doc_id",
          explode(array(($"doc_id" * 7 + 1) % 10, ($"doc_id" * 13 + 3) % 10)).as("dp"))
        .select(($"doc_id" % 60).as("a"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("b"))
        .filter($"a" =!= $"b").distinct()
      val labels = graft.operators.Dedup.connectedComponents(pairs)
      val out = labels.groupBy($"comp".as("component"))
        .agg(count(lit(1)).as("n_nodes"), sum($"id").as("sum_nodes"),
          max($"id").as("max_node"))
        .orderBy($"component")
      val collected = out.cache()
      collected.count() // materialize before the iteration chain unpersists
      labels.unpersist()
      collected
    }),

    "w_communities" -> ((s, dir) => {
      import s.implicits._
      // Label-propagation communities (Raghavan 2007, made deterministic
      // — LinkGraph.labelPropagation scaladoc) over the block graph of
      // w_components PLUS a sparse ring of bridge edges between blocks:
      // the graph is ONE weakly-connected component (what
      // connectedComponents would report), but 4 synchronous LPA rounds
      // split it along its dense 10-host cores — communities !=
      // components is the point of the operator. The oracle replays all
      // 4 rounds CTE by CTE (fixed round count, (count desc, label asc)
      // vote order, self-vote included).
      val d = s.read.parquet(pq(dir, "documents"))
      val block = d
        .select($"doc_id",
          explode(array(($"doc_id" * 7 + 1) % 10, ($"doc_id" * 13 + 3) % 10)).as("dp"))
        .select(($"doc_id" % 60).as("src"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("dst"))
      val bridges = d.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" % 60).as("src"), (($"doc_id" % 60 + 10) % 60).as("dst"))
      val e = block.unionByName(bridges).filter($"src" =!= $"dst").distinct()
      graft.operators.LinkGraph.labelPropagation(e, iters = 4)
        .groupBy($"lab".as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"),
          max($"node").as("max_node"))
        .orderBy($"community")
    }),

    "p_bpe_pack" -> ((s, dir) => {
      import s.implicits._
      // The LLM data-prep endgame composed end to end: BPE training
      // (8 merges) → corpus tokenization under the learned merges
      // (codegen'd replace chain) → exact global token offsets
      // (distributed prefix-sum) → 2048-token sequence count. First 10
      // docs by id pin the running offsets; the totals pin the rest.
      val d = s.read.parquet(pq(dir, "documents"))
      // learnInMemory: bit-identical merges to the 8-round distributed
      // trainer (same UTF-8-byte argmax order, overlap-counted pair
      // counts, greedy application — the parity t_bpe_merges_deep's
      // oracle replays), at ONE vocab collapse + zero jobs per merge
      // instead of 2 vocabulary aggregations per merge
      val merges = graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 8)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val counts = graft.operators.BpeTrain.subwordCounts(d, "doc_id", "text", merges)
      val full = d.select($"doc_id")
        .join(counts.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"n_subwords", lit(0L)).as("n_subwords"))
      val packed = graft.operators.Packing
        .withGlobalOffsets(full, "doc_id", "n_subwords").cache()
      val totals = packed.agg(
        count(lit(1)).as("n_docs"),
        sum($"n_subwords").as("total_subwords"),
        expr("(sum(n_subwords) + 2047) div 2048").as("n_sequences"))
      packed.orderBy($"doc_id").limit(10)
        .crossJoin(broadcast(totals))
        .select($"doc_id", $"n_subwords", $"cum", $"n_docs", $"total_subwords", $"n_sequences")
        .orderBy($"doc_id")
    }),

    "p_epoch_shuffle" -> ((s, dir) => {
      import s.implicits._
      // Deterministic training-order permutation: position = global rank
      // in (md5(doc_id), doc_id) order via the distributed prefix-sum
      // (no single-task global sort). First 15 (position, doc_id) rows
      // plus constant totals; sum(position * doc_id) is a checksum that
      // pins the ENTIRE permutation, not just the shown head.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val pos = graft.operators.Packing.epochShuffle(d, "doc_id").cache()
      val totals = pos.agg(
        count(lit(1)).as("n_docs"),
        sum($"position" * $"doc_id").as("perm_sum"))
      pos.orderBy($"position").limit(15)
        .crossJoin(broadcast(totals))
        .select($"position", $"doc_id", $"n_docs", $"perm_sum")
        .orderBy($"position")
    }),

    "p_token_budget" -> ((s, dir) => {
      import s.implicits._
      // token-budget corpus selection (the data-constrained-scaling
      // primitive: spend a fixed token budget on the BEST documents):
      // quality buckets (floor((1-score)*4) — exact double grid, bit-
      // mirrored like t_quality_score) order best-first via
      // curriculumOrder, exact global token offsets via the distributed
      // prefix-sum, keep while cum <= 60% of corpus tokens. Everything
      // is the two library scaffolds composed — no single-task sort, no
      // global window; the budget cut is a map-only filter on cum.
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          floor((lit(1.0) - qUdf($"text")) * 4).cast("long").as("bucket"),
          size(split($"text", "\\s+")).cast("long").as("toks"))
      val budget = d.agg(sum($"toks")).as[Long].head() * 6 / 10
      val ordered = graft.operators.Packing.curriculumOrder(d, "doc_id", "bucket")
      graft.operators.Packing.withGlobalOffsets(ordered, "position", "toks")
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"cum" <= budget, 1L).otherwise(0L)).as("n_kept"),
          sum(when($"cum" <= budget, $"toks").otherwise(0L)).as("kept_tokens")
        )
        .orderBy($"bucket")
    }),

    "p_c4_lines" -> ((s, dir) => {
      import s.implicits._
      // C4's line-granularity cleaning rules (Raffel 2020 §2.2): keep a
      // line only if it ends in terminal punctuation, has >= 3 words,
      // and never mentions javascript — the tier that surgically strips
      // boilerplate lines while keeping the page (distinct from the
      // document-level quality gates). The fixture text is single-line,
      // so pages are synthesized from its OWN tokens (4 words per line;
      // line j of doc d gets terminal '.' iff (d+j)%3>0 and an injected
      // 'javascript' token iff (d+j)%7==0) so every rule fires on every
      // doc; the kernel then operates on the real multi-line STRING and
      // the oracle replays line membership and rebuilt-string lengths
      // from the shared tokenize CTEs. Two chained UDFs, map-only; the
      // only shuffle is the per-source aggregate.
      val pageUdf = udf { (id: Long, text: String) =>
        val toks = TextStats.tokens(if (text == null) "" else text)
        val sb = new StringBuilder
        var i = 0
        var j = 0
        while (i < toks.length) {
          if (j > 0) sb.append('\n')
          sb.append(toks.slice(i, math.min(i + 4, toks.length)).mkString(" "))
          if ((id + j) % 7 == 0) sb.append(" javascript")
          if ((id + j) % 3 > 0) sb.append('.')
          i += 4
          j += 1
        }
        sb.toString
      }
      val cleanUdf = udf((page: String) => TextStats.c4LineClean(page))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source", cleanUdf(pageUdf($"doc_id", $"text")).as("r"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"r.nLines".cast("long")).as("n_lines"),
          sum($"r.nKept".cast("long")).as("n_kept"),
          sum($"r.nKeptWords".cast("long")).as("n_kept_words"),
          sum(length($"r.cleaned").cast("long")).as("sum_clean_len")
        )
        .orderBy($"source")
    }),

    "p_curriculum" -> ((s, dir) => {
      import s.implicits._
      // Curriculum data ordering (sequence-length warmup: short docs
      // train first): length deciles capped at 9 -> bucket-major global
      // positions, digest-shuffled within each bucket, via the same
      // distributed-rank scaffold as p_epoch_shuffle (composite
      // bucket<<48|digest48 key — one pass, no single-task sort). Output
      // pins per bucket: the position RANGE (contiguity: max-min+1 ==
      // n_docs is visible in the row) and sum(position*doc_id), the
      // checksum fixing the entire within-bucket permutation.
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          least(floor($"n_chars" / 100), lit(9)).cast("long").as("bucket"))
      graft.operators.Packing.curriculumOrder(d, "doc_id", "bucket")
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          min($"position").as("min_pos"),
          max($"position").as("max_pos"),
          sum($"position" * $"doc_id").as("perm_sum")
        )
        .orderBy($"bucket")
    }),

    "w_triangles" -> ((s, dir) => {
      import s.implicits._
      // Exact triangle counting over DENSE 10-host blocks: the dst
      // arithmetic mixes doc_id div 60 so a source's neighbors vary
      // across the docs sharing its residue (a formula in doc_id % 60
      // alone is CONSTANT per source — each source then holds <= 2
      // edges and the graph is triangle-free, a vacuous query; hit
      // once, now pinned by the oracle's nonzero totals). Ordered-edge
      // two-path-plus-closure join, each triangle once as a < b < c.
      val d = s.read.parquet(pq(dir, "documents"))
      val edges = d
        .select($"doc_id",
          explode(array(
            expr("((doc_id div 60) * 7 + doc_id) % 10"),
            expr("((doc_id div 60) * 3 + doc_id + 5) % 10"))).as("dp"))
        .select(($"doc_id" % 60).as("src"),
          (expr("((doc_id % 60) div 10) * 10") + $"dp").as("dst"))
        .filter($"src" =!= $"dst")
      val tri = graft.operators.LinkGraph.triangleCounts(edges).cache()
      tri.crossJoin(broadcast(tri.agg(
          (sum($"n_triangles") / 3).cast("long").as("total_triangles"))))
        .orderBy($"node")
    }),

    "w_cocitation" -> ((s, dir) => {
      import s.implicits._
      // "Related pages" by co-citation over the standard 41-host graph:
      // top-20 target pairs by common-in-neighbor count. The 40 sources
      // accumulate out-degrees of ~36-39 here (each source aggregates
      // many docs' links), so the hot-source guard is set ABOVE that
      // (50): every source is kept and the pair mining is exercised on
      // real data — a cap at typical per-page degree would classify all
      // of these aggregate sources as directory pages and return an
      // always-empty (vacuous) result. The guard's binding behavior is
      // covered by the spec's directory-page case; the oracle applies
      // the identical cap.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.select(($"doc_id" % 40).as("src"),
          explode(array(($"doc_id" * 7 + 1) % 41, ($"doc_id" * 11 + 3) % 41,
            ($"doc_id" * 13 + 5) % 41)).as("dst"))
        .filter($"src" =!= $"dst")
      graft.operators.LinkGraph.coCitationPairs(e, maxOutDeg = 50)
        .orderBy($"n_common".desc, $"a", $"b").limit(20)
        .orderBy($"n_common".desc, $"a", $"b")
    }),

    "t_pmi_pairs" -> ((s, dir) => {
      import s.implicits._
      // Collocation mining: top-20 adjacent pairs by log-free PMI
      // (scaled-integer ratio — every score a deterministic BIGINT),
      // minCount 5, ties broken by (w1, w2) so the cut is a total order.
      graft.operators.Collocations.pmiPairs(
        s.read.parquet(pq(dir, "documents")), "text", minCount = 5, topK = 20)
        .orderBy($"score".desc, $"w1", $"w2")
    }),

    "p_crawl_budget" -> ((s, dir) => {
      import s.implicits._
      // Politeness-budgeted frontier selection: 23 hosts, priority
      // synthesized from doc_id, per-host cap 5, global budget 100 under
      // the total (priority DESC, url) order — url uniqueness makes the
      // 100-row cut deterministic. Per-host aggregation of the selected
      // set pins exact membership; the oracle replays with a window +
      // LIMIT (fine at oracle scale; the engine side uses the bounded
      // aggregator precisely because a window is NOT the 100 TB shape).
      val d = s.read.parquet(pq(dir, "documents"))
      val frontier = d.select($"doc_id".as("url"), ($"doc_id" % 23).as("host"),
        (($"doc_id" * 31) % 1000).as("priority"))
      graft.operators.CrawlBudget
        .allocate(frontier, "host", "url", "priority", perHostCap = 5, totalBudget = 100)
        .groupBy($"host")
        .agg(count(lit(1)).as("n_selected"), sum($"url").as("sum_url_ids"),
          max($"priority").as("max_priority"))
        .orderBy($"host")
    }),

    "s_bm25" -> ((s, dir) => {
      import s.implicits._
      // Ranked retrieval over documents: postings filtered to the query
      // terms before any stat, log-free BM25 (InvertedIndex scaladoc)
      // with a fixed-order per-term combine — scores are bit-identical
      // doubles vs the SQL mirror, order pinned by (score desc, doc asc).
      graft.operators.InvertedIndex.bm25TopK(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text",
        terms = Seq("data", "spark", "fast"), k1 = 1.2, b = 0.75, topK = 20)
        .select($"doc".as("doc_id"), $"score", $"rank")
        .orderBy($"rank")
    }),

    "s_phrase" -> ((s, dir) => {
      import s.implicits._
      // Exact positional phrase search over the real documents text:
      // three phrases exercise the distinct corners — a common bigram, a
      // REPEATED-term bigram ("data data": overlapping occurrences must
      // each count, the same position array checked against itself
      // shifted), and a trigram. Aggregated per phrase to (n_docs,
      // n_occurrences, sum of matching doc_ids) — the id-sum pins the
      // matching doc SET, not just counts. A zero-match phrase still
      // yields its (0, 0, 0) row; the oracle mirrors that via a VALUES
      // left join, so parity does not depend on every phrase occurring.
      val d = s.read.parquet(pq(dir, "documents"))
      val phrases = Seq(
        "data query" -> Seq("data", "query"),
        "data data" -> Seq("data", "data"),
        "data the query" -> Seq("data", "the", "query"))
      // ONE tokenize pass shared by all phrases: postings filtered to the
      // union of their terms, cached (Verify/Bench clear caches per query)
      val post = graft.operators.InvertedIndex
        .positionalPostings(d, "doc_id", "text")
        .filter($"term".isin(phrases.flatMap(_._2).distinct: _*))
        .cache()
      def leg(name: String, ph: Seq[String]) =
        graft.operators.InvertedIndex.phraseCountOver(post, ph)
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum($"n_occurrences"), lit(0L)).as("n_occurrences"),
            coalesce(sum($"doc"), lit(0L)).as("sum_doc_ids"))
          .select(lit(name).as("phrase"), $"n_docs", $"n_occurrences", $"sum_doc_ids")
      phrases.map { case (n, ph) => leg(n, ph) }.reduce(_ union _)
        .orderBy($"phrase")
    }),

    "s_near" -> ((s, dir) => {
      import s.implicits._
      // NEAR-operator proximity search: three legs cover the corners —
      // distinct terms within 3 tokens, the REPEATED-term case (ordered
      // pairs, each unordered pair twice), and a term that never occurs
      // (exercises the zero-match (0,0,0) contract end to end: the leg
      // aggregates an empty frame while the oracle VALUES-left-joins).
      val d = s.read.parquet(pq(dir, "documents"))
      val legs = Seq(
        ("data ~3 query", "data", "query", 3),
        ("data ~2 data", "data", "data", 2),
        ("data ~5 zzznever", "data", "zzznever", 5))
      val post = graft.operators.InvertedIndex
        .positionalPostings(d, "doc_id", "text")
        .filter($"term".isin(legs.flatMap(l => Seq(l._2, l._3)).distinct: _*))
        .cache()
      def leg(name: String, t1: String, t2: String, w: Int) =
        graft.operators.InvertedIndex.nearCount(post, t1, t2, w)
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum($"n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(sum($"doc"), lit(0L)).as("sum_doc_ids"))
          .select(lit(name).as("q"), $"n_docs", $"n_pairs", $"sum_doc_ids")
      legs.map { case (n, a, b, w) => leg(n, a, b, w) }.reduce(_ union _)
        .orderBy($"q")
    }),

    "s_snippets" -> ((s, dir) => {
      import s.implicits._
      // KWIC highlighting: every occurrence of "data" with its ±2-token
      // context window; first 20 rows in (doc_id, pos) order — a unique
      // key, so the LIMIT selects the identical set in both engines —
      // each row carrying corpus-wide occurrence totals so the unshown
      // tail is pinned too.
      val d = s.read.parquet(pq(dir, "documents"))
      val occ = graft.operators.InvertedIndex
        .kwicSnippets(d, "doc_id", "text", "data", ctx = 2).cache()
      val totals = occ.agg(
        count(lit(1)).as("n_occ_total"),
        countDistinct($"doc").as("n_docs_total"))
      occ.orderBy($"doc", $"pos").limit(20)
        .crossJoin(broadcast(totals))
        .select($"doc".as("doc_id"), $"pos", $"snippet",
          $"n_occ_total", $"n_docs_total")
        .orderBy($"doc_id", $"pos")
    }),

    "s_related_docs" -> ((s, dir) => {
      import s.implicits._
      // Content-based related documents over synthesized tag vocabularies
      // (tag/grp/cat tokens by doc_id arithmetic — the real corpus's 31
      // near-universal words all exceed any useful df gate, which would
      // make the query vacuously empty): integer tf-idf inner product,
      // df-gated at 120 (at sf0.1 only the 100-doc tag classes qualify;
      // at sf0.01 all three families do — both regimes non-vacuous),
      // per-doc top-3 via the bounded aggregator. First 10 docs' ranked
      // neighbors + the global row count as a constant column.
      val d = s.read.parquet(pq(dir, "documents"))
      val tagged = d.select($"doc_id", concat(
        lit("tag"), ($"doc_id" % 50).cast("string"),
        lit(" grp"), ($"doc_id" % 20).cast("string"),
        lit(" cat"), ($"doc_id" % 7).cast("string")).as("text"))
      val rel = graft.operators.InvertedIndex
        .relatedDocs(tagged, "doc_id", "text", maxDf = 120, topK = 3).cache()
      rel.filter($"doc" < 10)
        .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_rows_total"))))
        .select($"doc", $"rank", $"other", $"score", $"n_rows_total")
        .orderBy($"doc", $"rank")
    }),

    "s_index_merge" -> ((s, dir) => {
      import s.implicits._
      // LSM segment merge: base = postings of the full corpus, delta =
      // re-crawled docs (doc_id % 7 == 0, text updated), tombstones =
      // doc_id % 13 == 0. The merged index must equal a full rebuild
      // from the merged corpus state — stale base postings for updated
      // docs are the failure mode this pins (base rows for %7 docs
      // carry the OLD text). Output: top-20 terms by (df DESC, term)
      // with corpus-wide postings totals as constant columns.
      val d = s.read.parquet(pq(dir, "documents"))
      val base = graft.operators.InvertedIndex.postings(d, "doc_id", "text")
      val recrawled = d.filter($"doc_id" % 7 === 0)
      val delta = graft.operators.InvertedIndex.postings(
        recrawled.withColumn("text", concat($"text", lit(" updated"))),
        "doc_id", "text")
      val tombs = d.filter($"doc_id" % 13 === 0).select($"doc_id".as("doc"))
      val merged = graft.operators.InvertedIndex
        .mergeSegments(base, delta, recrawled.select($"doc_id".as("doc")), tombs).cache()
      val totals = merged.agg(
        count(lit(1)).as("n_postings_total"),
        countDistinct($"doc").as("n_docs_total"),
        sum($"tf").as("sum_tf_total"))
      merged.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("tf_total"))
        .orderBy($"df".desc, $"term").limit(20)
        .crossJoin(broadcast(totals))
        .orderBy($"df".desc, $"term")
    }),

    "p_snapshot_gc" -> ((s, dir) => {
      import s.implicits._
      // Snapshot retention over a multi-generation table: 100 urls with
      // one snapshot per crawl generation (day = (doc div 100) div 2,
      // so generation PAIRS share a timestamp — the commit sequence
      // must break those ties or retained sets drift), keep latest 2
      // per url, everything else is the vacuum list. Aggregates pin the
      // retained/deleted SETS via seq and ts sums.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val snaps = d.select(($"doc_id" % 100).as("url"),
        timestamp_seconds(lit(1735689600L) +
          expr("((doc_id div 100) div 2) * 86400")).as("ts"),
        $"doc_id".as("seq"))
      graft.operators.CrawlDiff.retentionPlan(snaps, "url", "ts", "seq", n = 2)
        .groupBy($"retained")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"url").as("n_urls"),
          sum($"seq").as("sum_seq"),
          sum($"ts_sec").as("sum_ts_sec"))
        .orderBy($"retained")
    }),

    "p_crawl_diff" -> ((s, dir) => {
      import s.implicits._
      // Two crawl generations synthesized from documents (the oracle
      // rebuilds both): generation B drops the %10==2 slice, gains the
      // %10==7 slice (absent from A), and rewrites every %5==0 doc.
      // Hash-only diff (CrawlDiff scaladoc — bodies never shuffle); the
      // status histogram + id-sums pin per-class membership.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id", $"text")
      val a = d.filter($"doc_id" % 10 =!= 7)
        .select($"doc_id".as("url"), md5($"text").as("digest"))
      val bSnap = d.filter($"doc_id" % 10 =!= 2)
        .select($"doc_id".as("url"),
          md5(when($"doc_id" % 5 === 0, concat($"text", lit(" updated")))
            .otherwise($"text")).as("digest"))
      graft.operators.CrawlDiff.diff(a, bSnap, "url", "digest")
        .groupBy($"status")
        .agg(count(lit(1)).as("n_urls"), sum($"key").as("sum_ids"))
        .orderBy($"status")
    }),

    "p_host_blocklist" -> ((s, dir) => {
      import s.implicits._
      // subdomain-suffix blocklist filtering over deterministically
      // synthesized hosts (subK.siteM.com from doc_id): site2.com blocks
      // a whole domain at any depth, sub1.site4.com blocks one exact
      // subdomain, badsite.com matches nothing. The oracle rebuilds the
      // hosts and replays the suffix decomposition in SQL list functions.
      val blocklist = Seq("site2.com", "sub1.site4.com", "badsite.com")
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(lit("sub"), ($"doc_id" % 7).cast("string"),
          lit(".site"), ($"doc_id" % 5).cast("string"), lit(".com")).as("host"))
      val kept = graft.operators.HostFilter.dropBlockedHosts(docs, "host", blocklist)
      docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    }),

    "p_meta_robots" -> ((s, dir) => {
      import s.implicits._
      // the in-page half of robots exclusion: per-page <meta
      // name="robots"> admission on the streaming tokenizer sink (no
      // DOM). Seven deterministic directive families are synthesized
      // IN-PLAN (codegen'd concat/CASE, one parse UDF per page): plain
      // noindex; case/whitespace-mangled NOFOLLOW with an unknown
      // directive; none (= both); two tags combining restrictively; a
      // BODY-placed decoy that engines (and this parser) must ignore; a
      // name="description" decoy; and no tag at all. The oracle replays
      // the family->verdict map arithmetically; the parse itself is
      // MetaRobotsSpec's job.
      val metaUdf = udf((h: String) => {
        val d = graft.functions.html.MetaRobots.parse(h)
        (d.noindex, d.nofollow)
      })
      val b = $"doc_id" % 7
      val html = concat(
        lit("<html><head><title>x</title>"),
        when(b === 0, lit("<meta name=\"robots\" content=\"noindex\">"))
          .when(b === 1, lit("<meta name=\"ROBOTS\" content=\" NOFOLLOW , noarchive \">"))
          .when(b === 2, lit("<meta name=\"robots\" content=\"none\">"))
          .when(b === 3, lit("<meta name=\"robots\" content=\"nofollow\">" +
            "<meta name=\"robots\" content=\"noindex\">"))
          .when(b === 5, lit("<meta name=\"description\" content=\"noindex\">"))
          .otherwise(lit("")),
        lit("</head><body>"),
        when(b === 4, lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit("")),
        lit("<p>"), $"text", lit("</p></body></html>"))
      s.read.parquet(pq(dir, "documents"))
        .select(b.cast("long").as("bucket"), metaUdf(html).as("d"))
        .groupBy($"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"d._1", 1L).otherwise(0L)).as("n_noindex"),
          sum(when($"d._2", 1L).otherwise(0L)).as("n_nofollow"),
          sum(when(!$"d._1", 1L).otherwise(0L)).as("n_admitted")
        )
        .orderBy($"bucket")
    }),

    "p_robots_filter" -> ((s, dir) => {
      import s.implicits._
      // RFC 9309 robots compliance over synthesized hosts/paths: the
      // kernel must pick the graftbot groups (ignoring otherbot and the
      // poisoned '*' group on site2), combine multiple named groups, and
      // apply longest-match with Allow winning ties (the /dup pair). The
      // oracle rebuilds hosts/paths and replays longest-match as an
      // integer argmax (2*len(prefix)+allow; odd = allowed) over the
      // EFFECTIVE graftbot rules — so a wrong group selection, a missed
      // combine, or a tie broken the wrong way all shift the counts.
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(lit("site"), ($"doc_id" % 5).cast("string"), lit(".com")).as("host"),
        concat(lit("/"),
          element_at(
            array(lit("private"), lit("private/open"), lit("dup"), lit("public")),
            ($"doc_id" % 4).cast("int") + 1),
          lit("/"), ($"doc_id" % 11).cast("string")).as("path"))
      val robots = Seq(
        ("site1.com",
          "User-agent: otherbot\nAllow: /\n\nUser-agent: graftbot\nDisallow: /\n"),
        ("site2.com",
          "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\nDisallow: /private\n" +
            "Allow: /private/open\n\nUser-agent: graftbot\nDisallow: /dup\nAllow: /dup\n"),
        ("site4.com", "User-agent: otherbot\nDisallow: /\n")).toDF("host", "robots_body")
      val kept = graft.operators.Robots
        .allowedPages(docs, robots, "host", "path", "robots_body", "graftbot")
      docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    }),

    "p_crawl_admission" -> ((s, dir) => {
      import s.implicits._
      // The crawler admission pipeline composed end to end from the
      // library operators: URL canonicalization (upper-case scheme/host,
      // default port, tracking params, fragment, unsorted params) →
      // canonical dedup → subdomain blocklist → RFC 9309 robots →
      // politeness budget. The canonical key (k, m, n) is re-derived
      // from the CANONICAL STRING by an anchored regex, so any
      // canonicalization drift breaks the match and surfaces in
      // n_canon_bad (pinned 0) — the kernel is load-bearing, not
      // decorative. The oracle reconstructs every stage as closed-form
      // predicates on doc_id % 840.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val raw = docs.select(concat(
        lit("HTTP://Sub"), ($"doc_id" % 7).cast("string"),
        lit(".Site"), ($"doc_id" % 5).cast("string"),
        lit(".com:80/p/"), ($"doc_id" % 120).cast("string"),
        lit("?utm_source=x&b=2&a=1#frag")).as("url"))
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val canon = raw.select(canonUdf($"url").as("canon")).distinct().cache()
      val pat = "^http://sub([0-9]+)\\.site([0-9]+)\\.com(/p/([0-9]+))\\?a=1&b=2$"
      val parsed = canon.filter($"canon".rlike(pat)).select(
        regexp_extract($"canon", pat, 1).cast("long").as("k"),
        regexp_extract($"canon", pat, 2).cast("long").as("m"),
        regexp_extract($"canon", pat, 3).as("path"),
        regexp_extract($"canon", pat, 4).cast("long").as("n"))
        .withColumn("host", concat(lit("sub"), $"k", lit(".site"), $"m", lit(".com")))
        .cache()
      val afterBlock = graft.operators.HostFilter
        .dropBlockedHosts(parsed, "host", Seq("site2.com", "sub1.site4.com")).cache()
      val robots = (0 until 7).map(k =>
        (s"sub$k.site3.com", "User-agent: graftbot\nDisallow: /p\nAllow: /p/1\n"))
        .toDF("host", "robots_body")
      val afterRobots = graft.operators.Robots
        .allowedPages(afterBlock, robots, "host", "path", "robots_body", "graftbot").cache()
      val frontier = afterRobots.select(
        (($"k" * 5 + $"m") * 120 + $"n").as("url"),
        ($"k" * 10 + $"m").as("host_id"), $"n".as("priority"))
      val sel = graft.operators.CrawlBudget
        .allocate(frontier, "host_id", "url", "priority", perHostCap = 5, totalBudget = 60)
      raw.agg(count(lit(1)).as("n_raw"))
        .crossJoin(canon.agg(count(lit(1)).as("n_canon")))
        .crossJoin(parsed.agg(count(lit(1)).as("__p")))
        .crossJoin(afterBlock.agg(count(lit(1)).as("n_after_block")))
        .crossJoin(afterRobots.agg(count(lit(1)).as("n_after_robots")))
        .crossJoin(sel.agg(count(lit(1)).as("n_budget"),
          coalesce(sum($"url"), lit(0L)).as("sum_budget_urls")))
        .select($"n_raw", $"n_canon", ($"n_canon" - $"__p").as("n_canon_bad"),
          $"n_after_block", $"n_after_robots", $"n_budget", $"sum_budget_urls")
    }),

    "p_sitemap_frontier" -> ((s, dir) => {
      import s.implicits._
      // sitemap-driven crawl frontier: every doc becomes a one-entry
      // urlset (locs collide across docs mod 50, and lastmod day
      // = 1 + k%10 + 3*(d%3), so the per-loc MAX-lastmod aggregation is
      // load-bearing: max day = 7 + k%10 splits crawled urls into stale
      // (k%10 >= 6) and current at the 2025-01-12 watermark — a min or a
      // first-wins would flip rows). The crawled table covers k%3!=0;
      // up-to-date urls must be dropped. Zero-padded <lastmod> is
      // load-bearing too (a non-padded date fails W3C parsing and would
      // kill every stale).
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val sitemaps = docs.select(
        concat(lit("https://site"), ($"doc_id" % 5).cast("string"),
          lit(".com/sitemap"), $"doc_id".cast("string"), lit(".xml")).as("url"),
        concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>https://site"),
          ($"doc_id" % 5).cast("string"), lit(".com/p/"),
          ($"doc_id" % 50).cast("string"),
          lit("</loc><lastmod>2025-01-"),
          lpad((lit(1) + $"doc_id" % 50 % 10 + lit(3) * ($"doc_id" % 3)).cast("string"), 2, "0"),
          lit("</lastmod></url></urlset>")).cast("binary").as("body"))
      val crawledKeys = docs.select(($"doc_id" % 50).as("k")).distinct()
        .filter($"k" % 3 =!= 0)
        .select(
          concat(lit("https://site"), ($"k" % 5).cast("string"), lit(".com/p/"),
            $"k".cast("string")).as("url"))
      // TWO snapshots per crawled url (a stale 01-02 fetch plus the 01-12
      // re-crawl): staleness must be judged against the LATEST snapshot
      // only — an un-aggregated left join would fan each url into one row
      // per snapshot and mark day>2 urls stale against the old fetch
      val crawled = crawledKeys
        .select($"url", to_timestamp(lit("2025-01-12 00:00:00")).as("warc_ts"))
        .union(crawledKeys
          .select($"url", to_timestamp(lit("2025-01-02 00:00:00")).as("warc_ts")))
      graft.sources.Sitemap.frontier(sitemaps, crawled)
        .select($"status",
          regexp_extract($"loc", "([0-9]+)$", 1).cast("long").as("k"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_urls"), sum($"k").as("sum_k"))
        .orderBy($"status")
    }),

    "p_feed_ingest" -> ((s, dir) => {
      import s.implicits._
      // RSS/Atom feed ingestion: even docs become RSS 2.0 feeds, odd
      // docs Atom feeds, each with one dated and one undated item. The
      // parse must skip channel-level title/link (outside items), decode
      // the &amp; entity in titles, prefer the rel-less Atom link over
      // the rel="self" one, parse RFC 1123 (rss) and ISO-8601 (atom)
      // dates, and leave the undated item's published null. The oracle
      // reconstructs every aggregate arithmetically from doc_id.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val a = ($"doc_id" % 50).cast("string")
      val m = ($"doc_id" % 5).cast("string")
      val d = (lit(1) + $"doc_id" % 28).cast("string")
      val dd = lpad(d, 2, "0")
      val rssBody = concat(
        lit("<?xml version=\"1.0\"?><rss><channel><title>chan</title>" +
          "<link>https://ignored.example.com</link><item><title>post &amp; "),
        a, lit("</title><link>https://site"), m, lit(".com/a/"), a,
        lit("</link><pubDate>"), d, lit(" Jan 2025 00:00:00 GMT</pubDate></item>" +
          "<item><title>late</title><link>https://site"), m, lit(".com/b/"), a,
        lit("</link></item></channel></rss>"))
      val atomBody = concat(
        lit("<?xml version=\"1.0\"?><feed><title>chan</title>" +
          "<entry><title>post &amp; "), a,
        lit("</title><link rel=\"self\" href=\"https://self.example.com\"/>" +
          "<link href=\"https://site"), m, lit(".com/a/"), a,
        lit("\"/><updated>2025-02-"), dd, lit("T00:00:00Z</updated></entry>" +
          "<entry><title>late</title><link href=\"https://site"), m, lit(".com/b/"), a,
        lit("\"/></entry></feed>"))
      val feeds = docs.select(
        concat(lit("https://site"), m, lit(".com/feed"), $"doc_id".cast("string"),
          lit(".xml")).as("url"),
        when($"doc_id" % 2 === 0, rssBody).otherwise(atomBody).cast("binary").as("body"))
      graft.sources.Feed.items(feeds, "url", "body")
        .groupBy($"kind")
        .agg(
          count(lit(1)).as("n_items"),
          sum(when($"published".isNotNull, 1L).otherwise(0L)).as("n_dated"),
          sum(regexp_extract($"link", "([0-9]+)$", 1).cast("long")).as("sum_k"),
          sum(coalesce(unix_micros($"published"), lit(0L))).as("sum_epoch_us"),
          sum(length($"title")).as("sum_title_len"))
        .orderBy($"kind")
    }),

    "p_anchor_text" -> ((s, dir) => {
      import s.implicits._
      // anchor-text aggregation over REAL synthesized HTML: the streaming
      // link harvest must resolve absolute, rooted, and ../-relative hrefs
      // (each producing a different target family by doc_id arithmetic),
      // decode the &amp; entity, and drop javascript:/#fragment noise.
      // The oracle rebuilds the resolved link rows arithmetically and
      // replays the exact bounded top-k as a row_number window — any
      // parse, resolution, or tie-break drift shifts rows.
      val pages = s.read.parquet(pq(dir, "documents")).select(
        concat(lit("https://site"), ($"doc_id" % 5).cast("string"),
          lit(".com/dir/page"), $"doc_id".cast("string"), lit(".html")).as("url"),
        concat(
          lit("<html><body><p>intro</p><a href=\"https://site"),
          (($"doc_id" + 1) % 5).cast("string"),
          lit(".com/t/"), ($"doc_id" % 7).cast("string"),
          lit("\">t zero "), ($"doc_id" % 3).cast("string"),
          lit("</a> mid <a href=\"/t/"), ($"doc_id" % 7).cast("string"),
          lit("\">t one</a><a href=\"../t/"), (($"doc_id" + 1) % 7).cast("string"),
          lit("\">t &amp; two</a><a href=\"javascript:void(0)\">noise</a>" +
            "<a href=\"#frag\">noise2</a></body></html>")
        ).cast("binary").as("html"))
      val links = graft.operators.AnchorText.links(pages, "url", "html")
      graft.operators.AnchorText.topAnchors(links, 2)
        .select($"dst", $"n_inlinks", $"n_distinct_anchors",
          concat_ws("|", $"top_anchors").as("top_anchors"))
        .orderBy($"dst")
    }),

    "p_decontam_bloom" -> ((s, dir) => {
      import s.implicits._
      // the Bloom-sketch decontamination path vs the exact path: the
      // bloom gate has NO false negatives, so its kept set must be a
      // SUBSET of the exact kept set — the oracle mirrors the exact kept
      // counts per lang and pins the containment violation count at a
      // provable zero (the over-drop rate is bounded in a spec, not here,
      // because DuckDB cannot replay the sketch).
      val docs = s.read.parquet(pq(dir, "documents"))
      val evalSet = docs.filter($"doc_id" % 41 === 0)
      val train = docs.filter($"doc_id" % 41 =!= 0)
      // keptExact feeds both the anti-join and the per-lang aggregate —
      // cache it or the gram explode + broadcast join runs twice
      val keptExact = Decontaminate
        .dropContaminated(train, evalSet, "doc_id", "text", k = 4, hashGrams = false)
        .cache()
      val keptBloom = Decontaminate
        .dropContaminatedBloom(train, evalSet, "doc_id", "text", k = 4, fpp = 1e-6)
      val bloomOnly = keptBloom.select($"doc_id", $"lang")
        .join(keptExact.select($"doc_id"), Seq("doc_id"), "left_anti")
        .groupBy($"lang").agg(count(lit(1)).as("n_bloom_kept_not_exact"))
      train.groupBy($"lang").agg(count(lit(1)).as("__n_train"))
        .join(keptExact.groupBy($"lang").agg(count(lit(1)).as("n_exact_kept")),
          Seq("lang"), "left")
        .join(bloomOnly, Seq("lang"), "left")
        .select($"lang",
          coalesce($"n_exact_kept", lit(0L)).as("n_exact_kept"),
          coalesce($"n_bloom_kept_not_exact", lit(0L)).as("n_bloom_kept_not_exact"))
        .orderBy($"lang")
    }),

    "p_decontam_fuzzy" -> ((s, dir) => {
      import s.implicits._
      // fuzzy decontamination (the near-dup tier above the exact k-gram
      // rule): eval docs are PERTURBED copies of every 37th train doc — a
      // 3-token "benchmark answer key" prefix, the light re-wrap that
      // defeats exact gram matching for short k but leaves 3-gram Jaccard
      // = n/(n+3) >= 0.8 whenever the doc has >= 12 distinct shingles.
      // The operator broadcasts the eval band + text tables and verifies
      // with exact Jaccard in the scan pipeline (zero train shuffle);
      // with 16x2 bands the per-pair miss at j=0.8 is < 1e-7, so the
      // output equals the exact cross-set Jaccard definition the DuckDB
      // oracle computes — recall AND precision, end to end.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val evalSet = docs.filter($"doc_id" % 37 === 0)
        .select(($"doc_id" + 9000000L).as("doc_id"),
          concat(lit("benchmark answer key "), $"text").as("text"))
      Decontaminate.fuzzyHits(docs, evalSet, "doc_id", "text",
          shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"train_id", $"eval_id", round($"jaccard", 6).as("jaccard"))
        .orderBy($"train_id", $"eval_id")
    }),

    "p_domain_mix" -> ((s, dir) => {
      import s.implicits._
      // temperature-based domain mixing at alpha = 1/2, total target = half
      // the corpus: head domains are squashed toward sqrt(n), tail domains
      // keep a larger share. The oracle re-derives the kept SET (same
      // md5-rank rule), so sum_kept_ids pins membership per domain.
      val d = s.read.parquet(pq(dir, "documents"))
      val kept = Sampling.domainMixExact(d, "source", "text", "doc_id", 1, 2)
      d.groupBy($"source")
        .agg(count(lit(1)).as("n_total"))
        .join(
          kept.groupBy($"source")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids")),
          Seq("source"), "left")
        .select($"source", $"n_total",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"))
        .orderBy($"source")
    }),

    "p_dsir_select" -> ((s, dir) => {
      import s.implicits._
      // DSIR-style importance selection (Xie et al. 2023): rank the raw
      // corpus by how target-like each doc's hashed unigram+bigram
      // distribution is, keep the top slice. Target = the doc_id % 17
      // slice, raw = the whole documents table; buckets are the
      // md5-prefix-16 % 256 oracle-replayable discipline, scores the
      // integer linear analog (Dsir scaladoc), selection a TakeOrdered on
      // (score desc, doc_id). Each selected row carries its exact BIGINT
      // score and gram count, so the oracle must reproduce the ranking AND
      // the score arithmetic bucket for bucket.
      val d = s.read.parquet(pq(dir, "documents"))
      val nB = 256
      val tCounts = Dsir.bucketCounts(d.filter($"doc_id" % 17 === 0), "text", nB)
      val rCounts = Dsir.bucketCounts(d, "text", nB)
      Dsir.selectTop(d, "doc_id", "text", tCounts, rCounts, 25)
    }),

    "p_zorder" -> ((s, dir) => {
      import s.implicits._
      // Z-order (Morton) clustering for multi-column data-skipping —
      // the OPTIMIZE ZORDER BY shape: rank-bucket l_partkey and
      // l_suppkey into 16 buckets each (value-deterministic percent_rank
      // buckets, distributed via the prefix-sum scaffold), interleave to
      // a z-value (pure codegen'd shift/mask arithmetic), range-assign
      // 512-row files, and measure what a min/max-stats scan planner
      // must read under (a) the z-order layout vs (b) a LINEAR layout
      // clustered by bucket_a alone, for THREE predicate shapes: a 2-D
      // box, an a-only slice, and a b-only slice. This is z-order's
      // actual contract: the linear layout wins narrowly on its own
      // sort key and collapses to a FULL scan on the other dimension,
      // while the z layout prunes all three. The oracle recomputes
      // buckets, interleave, both layouts, and all six scan counts in
      // SQL — sum_zvalue pins the interleave arithmetic per-row.
      import graft.operators.ZOrder
      val li = s.read.parquet(pq(dir, "lineitem"))
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
      val ties = Seq("l_orderkey", "l_linenumber")
      val assigned = ZOrder.assignFiles(
        li, "l_partkey", "l_suppkey", bits = 4, rowsPerFile = 512L, tieCols = ties)
        .cache()
      val statsZ = ZOrder.fileStats(assigned)
      val statsL = ZOrder.fileStats(
        ZOrder.assignByKey(assigned.drop("file_id"), "bucket_a", 512L, ties))
      val out = statsZ
        .agg(
          count(lit(1)).as("n_files"),
          ZOrder.filesToScan(statsZ, 3, 5, 9, 12).as("z_box"),
          ZOrder.filesToScan(statsZ, 3, 5, 0, 15).as("z_a_only"),
          ZOrder.filesToScan(statsZ, 0, 15, 9, 12).as("z_b_only"))
        .crossJoin(statsL.agg(
          ZOrder.filesToScan(statsL, 3, 5, 9, 12).as("lin_box"),
          ZOrder.filesToScan(statsL, 3, 5, 0, 15).as("lin_a_only"),
          ZOrder.filesToScan(statsL, 0, 15, 9, 12).as("lin_b_only")))
        .crossJoin(assigned.agg(sum($"zvalue").as("sum_zvalue")))
        .select($"n_files", $"z_box", $"z_a_only", $"z_b_only",
          $"lin_box", $"lin_a_only", $"lin_b_only", $"sum_zvalue")
      val r = out.head()
      assigned.unpersist()
      Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
        .toDF("n_files", "z_box", "z_a_only", "z_b_only",
          "lin_box", "lin_a_only", "lin_b_only", "sum_zvalue")
    }),

    "p_shard_plan" -> ((s, dir) => {
      import s.implicits._
      // content-hash output sharding into 8 shards: per-shard doc/token
      // mass plus an id-sum membership pin. The assignment is a pure
      // digest function, so the oracle recomputes every shard_id from
      // md5 hex arithmetic and must land the identical partition.
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"text", size(split($"text", "\\s+")).cast("long").as("toks"))
      Sharding.assignShards(d, "text", nShards = 8)
        .groupBy($"shard_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"toks").as("n_tokens"),
          sum($"doc_id").as("sum_ids")
        )
        .orderBy($"shard_id")
    }),

    "p_pipeline_clean" -> ((s, dir) => {
      import s.implicits._
      // The modern web-cleaning pipeline (CCNet/RefinedWeb shape) composed
      // from the round-4 operators as ONE job: PII scrub -> span-level
      // substring dedup -> hashed-classifier quality gate -> temperature
      // domain mix -> content-hash shard assignment. The corpus carries
      // the same deterministic injections as the per-operator queries
      // (viral quote on %3, email/phone/IP on %5/%7/%11) so every stage
      // has real work, and the DuckDB mirror chains every stage CTE;
      // sum_kept_ids pins final membership through all five stages.
      val quote = "winter storms bring heavy snow across the northern valley" +
        " roads closing schools until further notice"
      val scrubUdf = udf((t: String) => PiiScrub.scrub(t))
      val clsWeights = graft.functions.SqlFunctions.DefaultGateWeights
      val scoreUdf = udf((t: String) => graft.functions.HashClassifier.score(t, clsWeights))
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id", $"source",
        concat(
          $"text",
          when($"doc_id" % 3 === 0, lit(" " + quote)).otherwise(lit("")),
          when($"doc_id" % 5 === 0,
            concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 7 === 0,
            concat(lit(" call 415-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0,
            concat(lit(" from 10."), ($"doc_id" % 200).cast("string"), lit("."),
              ($"doc_id" % 250).cast("string"), lit("."), ($"doc_id" % 254).cast("string")))
            .otherwise(lit(""))
        ).as("text"))
      // stage caches (same discipline as p_pipeline_keep/p_corpus_build):
      // scrubbed feeds the gram explode, the occurrence join AND the
      // stats join (the regex pass must not run once per consumer), and
      // scored feeds both the final aggregate and the gate->mix->shard
      // branch. At petabyte scale these become manifest-table snapshots.
      val scrubbed = inj
        .select($"doc_id", $"source", scrubUdf($"text").as("sc"))
        .select($"doc_id", $"source", $"sc.clean".as("text"),
          ($"sc.n_email" + $"sc.n_phone" + $"sc.n_ip").cast("long").as("pii_hits"))
        .cache()
      val sp = Dedup.dedupSpans(scrubbed.select($"doc_id", $"text"), "doc_id", "text", k = 5)
        .withColumnRenamed("text", "clean")
      val scored = scrubbed.drop("text")
        .join(sp, Seq("doc_id"))
        .select($"doc_id", $"source", $"clean", $"pii_hits", $"n_removed",
          scoreUdf($"clean").as("s"))
        .cache()
      val gated = scored.filter($"s._1" > 0)
      val kept = Sampling.domainMixExact(gated, "source", "clean", "doc_id", 1, 2)
      val sharded = Sharding.assignShards(kept, "clean", nShards = 8)
      scored.groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"pii_hits").as("n_pii_hits"),
          sum($"n_removed").as("n_span_removed"),
          sum(when($"s._1" > 0, 1L).otherwise(0L)).as("n_gate")
        )
        .join(
          sharded.groupBy($"source")
            .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_kept_ids"),
              sum($"shard_id".cast("long")).as("sum_shards")),
          Seq("source"), "left")
        .select($"source", $"n_docs", $"n_pii_hits", $"n_span_removed", $"n_gate",
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"sum_kept_ids", lit(0L)).as("sum_kept_ids"),
          coalesce($"sum_shards", lit(0L)).as("sum_shards"))
        .orderBy($"source")
    }),

    "p_pack_sequences" -> ((s, dir) => {
      import s.implicits._
      // GPT-style sequence packing stats over 256-token contexts: docs
      // concatenated in doc_id order, sliced at fixed boundaries. cum comes
      // from the distributed prefix-sum (Packing.withGlobalOffsets — never
      // a single-partition global window); the oracle recomputes it as a
      // naive global cumsum. Integer div only (no float ceil drift).
      val ctx = 256
      val d = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("toks"))
      val withCum = Packing.withGlobalOffsets(d, "doc_id", "toks", 8)
      withCum
        .select($"toks", $"cum",
          expr(s"(cum - toks) div $ctx").as("seq_first"),
          expr(s"(cum - 1) div $ctx").as("seq_last"))
        .agg(
          count(lit(1)).as("n_docs"),
          max($"cum").as("total_tokens"),
          expr(s"(max(cum) + ${ctx - 1}) div $ctx").as("n_sequences"),
          sum(when($"seq_first" =!= $"seq_last", 1L).otherwise(0L)).as("n_split_docs")
        )
    }),

    // ---- dedup over documents --------------------------------------------
    "d_exact" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5($"text")).as("n_unique")
        )
    }),
    "d_incremental_bloom" -> ((s, dir) => {
      import s.implicits._
      // recrawl ingest dedup at 10^12-corpus shape: the EXISTING corpus
      // never joins the new batch — its content digests live in a Bloom
      // filter and the batch drops probably-seen rows map-only. Batch =
      // every even doc recrawled verbatim (a true dup — MUST drop, the
      // one-sided guarantee) + every odd doc with fresh appended content
      // (genuinely new — kept unless an fpp collision, deterministic for
      // this fixed corpus and measured zero at all three sfs, which the
      // closed-form oracle therefore pins exactly).
      val docs = s.read.parquet(pq(dir, "documents"))
      val batch = docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"source", $"text")
        .unionByName(docs.filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"source",
            concat($"text", lit(" fresh recrawl delta "), $"doc_id").as("text")))
      graft.operators.Dedup.dedupIncrementalBloom(docs, batch, "text")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_admitted"),
          sum($"doc_id" % 2).as("n_admitted_odd")
        )
        .orderBy($"source")
    }),
    "d_winnowing" -> ((s, dir) => {
      import s.implicits._
      // Winnowing fingerprints (k=3 grams, w=4 windows) with a planted
      // shared passage on every third doc: the detection guarantee says
      // every pair of quote carriers must share fingerprints, so
      // n_shared_docs >= the carrier count. The single row pins the
      // fingerprint SET (positions via sum_pos, hashes via sum_h)
      // against a frame-window + packed-key SQL replay.
      val quote = "storm warnings continue across the northern valley as" +
        " heavy snow closes mountain roads again"
      val inj = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat($"text",
          when($"doc_id" % 3 === 0, lit(" " + quote)).otherwise(lit(""))).as("text"))
      val fp = graft.operators.Winnowing
        .fingerprints(inj, "doc_id", "text", k = 3, w = 4).cache()
      val hdf = fp.groupBy($"h").agg(countDistinct($"doc").as("df"))
      val shared = fp.join(hdf.filter($"df" > 1), "h")
        .select($"doc").distinct()
      fp.agg(
          count(lit(1)).as("n_fp_total"),
          countDistinct($"h").as("n_distinct_hashes"),
          sum($"pos").as("sum_pos"),
          sum($"h").as("sum_h"))
        .crossJoin(broadcast(shared.agg(count(lit(1)).as("n_shared_docs"))))
        .select($"n_fp_total", $"n_distinct_hashes", $"n_shared_docs",
          $"sum_pos", $"sum_h")
    }),

    "d_paragraph_dedup" -> ((s, dir) => {
      import s.implicits._
      // CCNet-style paragraph-level exact dedup. Every doc gets the same
      // 10-word boilerplate paragraph prepended (cookie-banner stand-in —
      // the duplication mode this op exists to kill): exactly ONE copy
      // must survive corpus-wide while every doc keeps its own tail, and
      // the recomposed per-source char mass is closed-form in SQL.
      val boiler = "accept all cookies to continue reading this page free today"
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source", concat(lit(boiler + " "), $"text").as("text"))
      val out = Dedup.dedupParagraphs(docs, "doc_id", "text", paraWords = 10)
      docs.select($"doc_id", $"source")
        .join(out, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum($"n_paras"), lit(0L)).as("n_paras"),
          coalesce(sum($"n_kept"), lit(0L)).as("n_kept"),
          coalesce(sum(length($"text")).cast("long"), lit(0L)).as("sum_kept_chars")
        )
        .orderBy($"source")
    }),
    "d_span_dedup" -> ((s, dir) => {
      import s.implicits._
      // ExactSubstr-style span dedup (Lee et al. 2021) at 5-gram
      // granularity. A fixed 15-word "viral quote" is appended to every
      // third doc: only the FIRST such doc keeps it (all its grams are
      // global winners); every later copy has exactly the quote's 15
      // tokens removed (grams straddling the doc-specific tail are unique,
      // so coverage stops at the quote boundary), and natural cross-doc
      // 5-gram repeats are handled identically by the SQL mirror.
      val quote = "winter storms bring heavy snow across the northern valley" +
        " roads closing schools until further notice"
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"source",
          when($"doc_id" % 3 === 0, concat($"text", lit(" " + quote)))
            .otherwise($"text").as("text"))
      val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 5)
        .withColumnRenamed("text", "clean")
      docs.select($"doc_id", $"source")
        .join(out, Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum($"n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(sum($"n_removed"), lit(0L)).as("n_removed"),
          coalesce(sum(length($"clean")).cast("long"), lit(0L)).as("sum_clean_len"),
          sum(when($"n_removed" > 0, 1L).otherwise(0L)).as("n_docs_affected")
        )
        .orderBy($"source")
    }),
    "d_template_lines" -> ((s, dir) => {
      import s.implicits._
      // Per-site template-line removal (the CCNet/RefinedWeb cross-page
      // boilerplate tier). Synthetic sites keyed by doc_id mod 7 — coprime
      // with every condition modulus, so residues spread within each site
      // — plant four chrome shapes: an every-page nav (template), a
      // 3/4-frequency cookie banner (template), a 1/3-frequency CROSS-site
      // promo (kept: frequency is scoped per site), and a 1/2-frequency
      // footer sitting EXACTLY on the df*2 >= n boundary — template in
      // some sites, kept in others (parity of the site's doc count), so
      // both engines must agree on the inclusive integer threshold site by
      // site. The md5-prefix sum pins the recomposed clean STRINGS.
      // Oracle parity assumes documents.text contains no newline (checked:
      // zero docs with chr(10) at every sf) — the Spark side re-splits the
      // assembled doc on \n while the SQL mirror keeps text as ONE list
      // element, so an embedded newline would diverge the line sets.
      val empty = array().cast("array<string>")
      val docs = s.read.parquet(pq(dir, "documents")).select(
        $"doc_id",
        concat(lit("site"), ($"doc_id" % 7).cast("string")).as("site"),
        array_join(
          concat(
            array(concat(lit("Home | About | Site "), ($"doc_id" % 7).cast("string"))),
            array($"text"),
            when($"doc_id" % 4 =!= 0,
              array(concat(lit("This site uses cookies "), ($"doc_id" % 7).cast("string"))))
              .otherwise(empty),
            when($"doc_id" % 3 === 0, array(lit("Subscribe to our newsletter today")))
              .otherwise(empty),
            when($"doc_id" % 2 === 0,
              array(concat(lit("All rights reserved "), ($"doc_id" % 7).cast("string"))))
              .otherwise(empty)
          ),
          "\n").as("text"))
      val out = graft.operators.Boilerplate.stripTemplateLines(
        docs, "doc_id", "site", "text", fracNum = 1, fracDen = 2, minDocs = 3)
      out.groupBy($"site")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_lines").as("n_lines"),
          sum($"n_removed").as("n_removed"),
          sum(length($"text")).cast("long").as("sum_clean_len"),
          sum(conv(substring(md5($"text"), 1, 4), 16, 10).cast("long")).as("sum_clean_md5pfx")
        )
        .orderBy($"site")
    }),
    "d_ngram_pairs" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, minJaccard = 0.8)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    }),
    "d_containment" -> ((s, dir) => {
      import s.implicits._
      // Directed shingle containment (inclusion detection — what Jaccard
      // misses when a small doc is quoted inside a big one). The raw corpus
      // has only symmetric near-dups, so the query plants the asymmetric
      // case deterministically: 20 "container" docs, each the concatenation
      // of two adjacent originals — the originals are fully contained
      // (containment 1.0 into their container) while the reverse direction
      // falls below threshold. The oracle builds the IDENTICAL augmented
      // table in SQL and replays the exact ratio.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id", $"text")
      val containers = docs.as("a")
        .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(col("a.doc_id") < 20)
        .select((col("a.doc_id") + 1000000).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val aug = docs.unionByName(containers)
      Dedup.containmentPairs(aug, "doc_id", "text", k = 3, minContainment = 0.6)
        .select($"src", $"dst", round($"containment", 6).as("containment"))
        .orderBy($"src", $"dst")
    }),
    "d_minhash_pairs" -> ((s, dir) => {
      import s.implicits._
      // production near-dup pipeline: MinHash-LSH candidate generation +
      // exact-Jaccard verification. With bands=16 x rows=2 the per-pair miss
      // probability at j=0.8 is < 1e-7, so the output EQUALS the exact
      // d_ngram_pairs definition — which is exactly what the DuckDB oracle
      // checks (end-to-end recall + precision, not just shape).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.minhashVerifiedPairs(docs, "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    }),
    "p_redirect_resolve" -> ((s, dir) => {
      import s.implicits._
      // redirect-chain resolution by pointer doubling: synthetic alias
      // chains i -> i-1 -> ... down to the nearest multiple of 5 (chain
      // lengths 1..4; multiples of 5 are terminal canonicals with no
      // outgoing edge). Truth is closed-form: final = 5*floor(i/5),
      // hops = i mod 5 — which the oracle computes directly, making both
      // the terminal TARGET and the composed hop count exact.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val edges = docs.filter($"doc_id" % 5 =!= 0)
        .select($"doc_id".as("src"), ($"doc_id" - 1).as("dst"))
      graft.operators.Redirects.resolve(edges, "src", "dst")
        .select($"src".as("url_id"), $"final".as("final_id"), $"n_hops")
        .orderBy($"url_id")
    }),
    "p_revisit_schedule" -> ((s, dir) => {
      import s.implicits._
      // adaptive revisit scheduling (Cho & Garcia-Molina): per-url change
      // rates from a synthetic crawl history — 6 observations per doc whose
      // digest advances every (doc_id % 5 + 1) visits, so the truth spans
      // ratio 1.0 (changes every revisit) down to 0.2 — tiered hot/warm/
      // cold. Oracle replays the same lag/count arithmetic in SQL.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val hist = docs
        .withColumn("i", explode(sequence(lit(0), lit(5))))
        .withColumn("ts", ($"i".cast("long") * 86400L).cast("timestamp"))
        .withColumn("digest",
          $"doc_id" * 31 + expr("i div (doc_id % 5 + 1)"))
      graft.operators.Revisit
        .tiered(graft.operators.Revisit.changeRates(hist, "doc_id", "ts", "digest"))
        .select($"doc_id".as("url_id"), $"n_obs", $"n_changes",
          round($"change_ratio", 6).as("change_ratio"), $"tier")
        .orderBy($"url_id")
    }),
    "d_incremental_minhash" -> ((s, dir) => {
      import s.implicits._
      // index-once / probe-per-batch near-dup (the daily-crawl shape): the
      // standing corpus (doc_id % 10 != 0) is banded into a stored MinHash
      // index ONCE; the "new batch" (doc_id % 10 == 0) probes it — only
      // batch band keys shuffle, never the corpus pair set — and candidates
      // are verified by exact Jaccard. Oracle: the exact cross-set j>=0.8
      // pair definition in SQL (end-to-end recall + precision).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val standing = docs.filter($"doc_id" % 10 =!= 0)
      val fresh = docs.filter($"doc_id" % 10 === 0)
      val index = Dedup.minhashIndex(standing, "doc_id", "text")
      Dedup.minhashProbeVerified(index, fresh, docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
        .select($"a".as("old_id"), $"b".as("new_id"),
          round($"jaccard", 6).as("jaccard"))
        .orderBy($"old_id", $"new_id")
    }),
    "d_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      // SimHash over DISTINCT 3-gram shingles (the Jaccard feature set),
      // candidates = the hamming<=15 ball via 8x8-bit bands + 1-bit-flip
      // probes (recall within the ball is exact by pigeonhole: a missed
      // pair would need >15 differing bits), then exact-Jaccard verify;
      // oracle = the exact pair definition. True j>=0.8 pairs measure
      // hamming <= 12 across sf0.001-0.1 while unrelated docs measure
      // >= 16, so the ball captures every true pair and almost nothing
      // else. maxBucket=500 bounds the worst bucket join (never hit on
      // this corpus: 8-bit band keys spread 5000 docs ~20 per bucket).
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      Dedup.simhashVerifiedPairs(docs, "doc_id", "text", maxHamming = 15, shingleK = 3,
          minJaccard = 0.8, maxBucket = 500)
        .select($"a", $"b", round($"jaccard", 6).as("jaccard"))
        .orderBy($"a", $"b")
    }),
    "d_clusters" -> ((s, dir) => {
      import s.implicits._
      // duplicate CLUSTERS (what a training pipeline keeps one doc of):
      // connected components over the verified near-dup pair set, via
      // distributed min-label propagation. The pair set equals the exact
      // Jaccard definition (see d_minhash_pairs), so the DuckDB oracle is a
      // recursive-CTE transitive closure over the same pairs.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      Dedup.connectedComponents(pairs)
        .groupBy($"comp".as("component"))
        .agg(count(lit(1)).as("n_docs"), max($"id").as("max_doc"))
        .orderBy($"component")
    }),
    "d_cluster_best" -> ((s, dir) => {
      import s.implicits._
      // score-aware representative selection: per duplicate cluster keep
      // the LONGEST member (argmax of (n_chars, -id) — a total order),
      // the policy production dedup actually runs (the fullest duplicate
      // survives, not the min-label anchor). Components computed once and
      // shared between the keep operator and the output join. Oracle: the
      // same recursive-CTE transitive closure, representative picked by a
      // window over the identical order.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val comps = Dedup.connectedComponents(pairs).cache()
      val kept = Dedup.keepRepresentativesOf(docs, "doc_id", comps, "n_chars")
      kept.join(comps, kept("doc_id") === comps("id"))
        .select($"comp".as("component"), $"doc_id".as("rep_id"),
          $"n_chars".as("rep_chars"))
        .orderBy($"component")
    }),
    "p_pipeline_keep" -> ((s, dir) => {
      import s.implicits._
      // the full training-corpus keep pipeline as ONE composed job — what a
      // 100 TB ingest actually runs: quality gate -> exact dedup (min-id
      // survivor per content digest) -> verified near-dup pairs ->
      // connected components -> keep one representative per cluster. Every
      // stage is the library operator; the oracle is a complete DuckDB
      // mirror (bit-exact quality scores, md5 grouping, recursive-CTE
      // transitive closure over the exact Jaccard pairs).
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      // ScanPar BEFORE the quality UDF: the gate is per-row kernel work,
      // and the cached `qualified` inherits the parallel layout so every
      // downstream stage (dedup digests, signatures) stays parallel too
      val docs = ScanPar(s.read.parquet(pq(dir, "documents")))
      val qualified = docs.filter(qUdf($"text") >= 0.9).cache()
      val exDocs = Dedup.dedupExact(qualified, "doc_id", "text").cache()
      val pairs = Dedup.minhashVerifiedPairs(
        exDocs.filter(size(split(lower($"text"), "\\s+")) >= 3),
        "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val kept = Dedup.keepRepresentatives(exDocs, "doc_id", pairs)
      docs.agg(count(lit(1)).as("n_input"))
        .crossJoin(qualified.agg(count(lit(1)).as("n_quality")))
        .crossJoin(exDocs.agg(count(lit(1)).as("n_exact")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
    }),
    "p_corpus_build" -> ((s, dir) => {
      import s.implicits._
      // the COMPLETE corpus-construction pipeline as one composed job:
      // quality gate -> exact dedup -> near-dup representatives (the
      // p_pipeline_keep stages) -> benchmark decontamination (word-4-gram
      // overlap vs the doc_id%41==0 eval set; eval members drop via
      // self-overlap) -> deterministic per-lang 1/5 stratified sample.
      // The oracle mirrors every stage; sum_sampled_ids pins the final
      // kept SET, so a wrong survivor anywhere upstream breaks the hash.
      // Stage caches (MEMORY_AND_DISK, session-scoped) hold the already-
      // gated subsets reused by 2+ downstream stages; a petabyte run would
      // materialize stage outputs as manifest-table snapshots instead.
      val qUdf = udf((t: String) => TextStats.quality(t).score)
      // ScanPar: same rationale as p_pipeline_keep — parallelize before
      // the quality UDF so every cached stage keeps the layout
      val docs = ScanPar(s.read.parquet(pq(dir, "documents")))
      val qualified = docs.filter(qUdf($"text") >= 0.9).cache()
      val exDocs = Dedup.dedupExact(qualified, "doc_id", "text").cache()
      val pairs = Dedup.minhashVerifiedPairs(
        exDocs.filter(size(split(lower($"text"), "\\s+")) >= 3),
        "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val kept = Dedup.keepRepresentatives(exDocs, "doc_id", pairs).cache()
      val evalDocs = docs.filter($"doc_id" % 41 === 0)
      val clean = Decontaminate
        .dropContaminated(kept, evalDocs, "doc_id", "text", k = 4, hashGrams = false)
        .cache()
      val sampled = Sampling.stratifiedExact(clean, "lang", "text", "doc_id", 1, 5)
      kept.groupBy($"lang").agg(count(lit(1)).as("n_kept"))
        .join(clean.groupBy($"lang").agg(count(lit(1)).as("n_clean")), Seq("lang"), "left")
        .join(
          sampled.groupBy($"lang")
            .agg(count(lit(1)).as("n_sampled"), sum($"doc_id").as("sum_sampled_ids")),
          Seq("lang"), "left")
        .select($"lang", $"n_kept",
          coalesce($"n_clean", lit(0L)).as("n_clean"),
          coalesce($"n_sampled", lit(0L)).as("n_sampled"),
          coalesce($"sum_sampled_ids", lit(0L)).as("sum_sampled_ids"))
        .orderBy($"lang")
    }),
    "d_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      // this corpus has no true embedding near-dups (max pairwise cosine
      // ~0.51), so the demo threshold 0.3 is low — which forces a wide
      // OR-construction (nBits=2 x 16 tables) for full recall; production
      // callers pass minCosine~0.95 with nBits=16 x 8 tables. Output is the
      // pair SET (cosine values dropped: DuckDB accumulates float32, ours
      // float64 — ranks/sets agree, trailing decimals do not).
      Dedup.embeddingNearDup(s.read.parquet(pq(dir, "embeddings")), "vec_id", "embedding",
          minCosine = 0.3, nBits = 2, tables = 32)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    }),
    "d_embed_neardup_prod" -> ((s, dir) => {
      import s.implicits._
      // the PRODUCTION near-dup config (minCosine=0.95, nBits=16 x 8
      // tables — the one Dedup.embeddingNearDup's scaladoc recommends),
      // oracle-exact. The corpus has no cos>=0.95 pairs, so 25 families of
      // 4 true near-duplicates are planted on the first 25 base vectors:
      // member k of family f = cos(k*0.8deg)*u_f + sin(k*0.8deg)*w_f (u_f
      // the normalized base, w_f a fixed axis orthogonalized against it).
      // Geometry makes the true pair set CLOSED-FORM: intra-family angles
      // <= 2.4deg (cos >= 0.999), while every other pair in the input is
      // bounded by the corpus' max base angle minus the spread — max base
      // cosine is 0.601 across sfs, so cross pairs stay under cos(48.3deg)
      // = 0.67, nowhere near 0.95. Bases 0..24 are EXCLUDED from the
      // input (members stand in for them); bases >= 25 ride along to
      // prove the config admits no false positives at corpus scale.
      // Verification inside the operator is exact cosine, so the oracle is
      // exactly the 150 intra-family pairs.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val base = embs.filter($"vec_id" < 25)
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val members = base.flatMap { case (f, v) =>
        val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
        val u = v.map(_ / norm)
        // fixed axis e0 orthogonalized against u (|e0.u| <= 0.33 on this
        // corpus — never degenerate)
        val w0 = u.indices.map(i => (if (i == 0) 1.0 else 0.0) - u(0) * u(i)).toArray
        val wn = math.sqrt(w0.map(x => x * x).sum)
        val w = w0.map(_ / wn)
        (0 until 4).map { k =>
          val th = k * 0.8 * math.Pi / 180
          (100000L + f * 4 + k,
            u.indices.map(i => (math.cos(th) * u(i) + math.sin(th) * w(i)).toFloat).toArray)
        }
      }.toSeq
      val input = embs.filter($"vec_id" >= 25)
        .select($"vec_id".cast("long").as("id"), $"embedding".as("vec"))
        .union(members.toDF("id", "vec"))
      Dedup.embeddingNearDup(input, "id", "vec", minCosine = 0.95, nBits = 16, tables = 8)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    }),
    "d_semdedup" -> ((s, dir) => {
      import s.implicits._
      // SemDeDup (Abbas et al. 2023) over the embeddings table: 8 seed
      // centroids (the vec_id < 8 embeddings), nearest-seed assignment,
      // within-cluster greedy drop at eps = 0.41. The eps sits in the
      // widest float-precision gap of the corpus' pairwise-cosine
      // distribution (min |cos - 0.41| >= 4.2e-5 at every sf, argmax
      // assignment margin >= 4.7e-5), so Spark's float64 accumulation and
      // DuckDB's float32 list_cosine_similarity cannot disagree on any
      // threshold or assignment decision. Per-cluster kept-id sums pin
      // the survivor SET, not just its size.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val cents = SemDedup.seedCentroids(embs, "vec_id", "embedding", 0L until 8L)
      SemDedup.semDeDup(embs, "vec_id", "embedding", cents, eps = 0.41)
        .groupBy($"cluster")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"is_kept", 1L).otherwise(0L)).as("n_kept"),
          coalesce(sum(when($"is_kept", $"vec_id")), lit(0L)).as("sum_kept_ids"))
        .orderBy($"cluster")
    }),

    // ---- similarity search over embeddings --------------------------------
    "s_knn_brute" -> ((s, dir) => {
      import s.implicits._
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val queries = embs.filter($"vec_id" < 10).collect()
      // ranks (not raw cosine) are oracle-checked: DuckDB's
      // list_cosine_similarity accumulates in float32, so the 6th decimal
      // can differ while the ordering agrees
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id")
        .orderBy($"cosine".desc, $"neighbor_id")
      Similarity
        .knnBrute(embs, queries, k = 5)
        .toDF("query_id", "neighbor_id", "cosine")
        .withColumn("rank", row_number().over(w))
        .select($"query_id", $"rank", $"neighbor_id")
        .orderBy($"query_id", $"rank")
    }),

    "s_kmeans" -> ((s, dir) => {
      import s.implicits._
      // embedding clustering: two integer-grid Lloyd rounds (quantize to
      // the floor(100x) grid, exact integer argmin assignment, floorDiv
      // recentering) from the k=8 smallest-id init. Bit-for-bit
      // deterministic, so the DuckDB mirror replays every round exactly —
      // per-cluster size, id-sum, and exact integer inertia pin both the
      // final assignment and the distances.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      graft.operators.KMeans
        .lloydIntGrid(embs, "vec_id", "embedding", k = 8, iters = 2)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_points"), sum($"vec_id").as("id_sum"),
          sum($"sq_dist").as("inertia"))
        .orderBy($"cluster")
    }),

    "s_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      // Hybrid retrieval: a BM25 lexical leg and a dense cosine leg over
      // the aligned documents/embeddings id space, fused by Reciprocal
      // Rank Fusion (Cormack 2009). The fused score is pure arithmetic
      // on RANK integers (1/(60+rank), sparse added before dense), so it
      // is bit-deterministic across engines even though the legs' raw
      // scores live on different scales — the oracle recomputes both
      // legs (the bm25 CTE authority shared with s_bm25; knn rank CTEs
      // in s_knn_brute's shape) and the same fixed-order sum. Fusion
      // inputs are already-reduced top-10 lists, so the fuse joins are
      // broadcast-tiny; the heavy lifting stays inside the legs.
      val docs = s.read.parquet(pq(dir, "documents"))
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val termSets = Seq(
        0L -> Seq("data", "query"),
        1L -> Seq("spark", "fast"),
        2L -> Seq("data", "fast"))
      // ONE postings/doc-length build serves all three legs: the frames
      // are the SAME subtree across legs (postings filtered to the UNION
      // of the query sets), so the engine's exchange reuse materializes
      // each shuffle once; each leg re-filters to its own terms and
      // computes its own df inside bm25TopKOver — bit-identical to three
      // independent bm25TopK calls, minus the repeated corpus passes
      val unionTerms = termSets.flatMap(_._2).distinct
      val post = graft.operators.InvertedIndex.postings(docs, "doc_id", "text")
        .filter($"term".isin(unionTerms: _*))
      val dls = graft.operators.InvertedIndex.docLens(docs, "doc_id", "text")
      val corpus = dls.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      val sparse = termSets.map { case (qid, ts) =>
        graft.operators.InvertedIndex
          .bm25TopKOver(post, dls, corpus, ts, topK = 10)
          .select(lit(qid).as("qid"), $"doc", $"rank")
      }.reduce(_ unionByName _)
      val qs = embs.filter($"vec_id" < 3).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id")
        .orderBy($"cosine".desc, $"neighbor_id")
      val dense = Similarity
        .knnBrute(embs, qs, k = 10)
        .toDF("query_id", "neighbor_id", "cosine")
        .withColumn("rank", row_number().over(w).cast("long"))
        .select($"query_id".as("qid"), $"neighbor_id".as("doc"), $"rank")
      graft.operators.Fusion
        .rrfFuse(Seq(sparse, dense), kk = 60, topK = 10)
        .select($"qid".as("query_id"), $"rank", $"doc".as("doc_id"),
          $"rrf".as("rrf_score"))
        .orderBy($"query_id", $"rank")
    }),

    "s_wand" -> ((s, dir) => {
      import s.implicits._
      // WAND/MaxScore-style EXACT top-k: per-term upper bound
      // idf*(k1+1) prunes the scoring join to provably-competitive
      // candidates (threshold = k-th exact score of the top-k docs by
      // upper-bound sum, broadcast as one row — never a driver collect).
      // The oracle is the PLAIN exact BM25 top-k SQL: pruning must be
      // invisible in the result, bit-identical scores included. Terms
      // span common and rarer vocabulary so the upper bounds differ.
      graft.operators.InvertedIndex.wandTopK(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text",
        terms = Seq("merge", "vector", "slow", "window"), k1 = 1.2, b = 0.75, topK = 15)
        .select($"doc".as("doc_id"), $"score", $"rank")
        .orderBy($"rank")
    }),

    "s_fuzzy" -> ((s, dir) => {
      import s.implicits._
      // Fuzzy (edit-distance <= 1) term search: each query term expands
      // against the VOCABULARY (distinct-term set — bounded by token
      // types, not corpus size) via codegen'd levenshtein, and the tiny
      // match set broadcast-joins back to the postings. Query corners:
      // a single-expansion misspelling ('dada' -> data), a MULTI-
      // expansion one ('sart' -> part AND sort), a transposed one
      // ('spak' -> spark), and a never-matching term whose (0,0,0,0)
      // row survives via the literal left join — mirrored by a VALUES
      // left join in the oracle. sum(DISTINCT doc) pins the matched
      // doc SET per query term.
      val d = s.read.parquet(pq(dir, "documents"))
      val qterms = Seq("dada", "sart", "spak", "zzzzz")
      val post = graft.operators.InvertedIndex.postings(d, "doc_id", "text")
      val agg = graft.operators.InvertedIndex
        .fuzzySearch(post, qterms, maxDist = 1)
        .groupBy($"qterm")
        .agg(
          countDistinct($"term").as("m_terms"),
          countDistinct($"doc").as("m_docs"),
          sum($"tf").as("m_occ"),
          sum_distinct($"doc").as("m_ids"))
      qterms.toDF("qterm")
        .join(agg, Seq("qterm"), "left")
        .select($"qterm",
          coalesce($"m_terms", lit(0L)).as("n_terms"),
          coalesce($"m_docs", lit(0L)).as("n_docs"),
          coalesce($"m_occ", lit(0L)).as("n_occurrences"),
          coalesce($"m_ids", lit(0L)).as("sum_doc_ids"))
        .orderBy($"qterm")
    }),

    "s_mmr" -> ((s, dir) => {
      import s.implicits._
      // MMR diversified retrieval over the same fixture: the embeddings
      // table plants near-duplicate families (d_embed_neardup_prod), so
      // a pure top-k hands back family members back-to-back; the
      // redundancy term forces one representative per family. Rank-level
      // oracle like the knn trio (DuckDB accumulates cosine in float32);
      // the spec asserts the MMR sequence actually diverges from pure
      // relevance order on this fixture (de-vacuity).
      val embs = s.read.parquet(pq(dir, "embeddings"))
        .select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])]
      val queries = embs.filter($"vec_id" < 5).collect()
      Similarity.mmrSelect(embs, queries, poolK = 20, selectK = 5)
    }),
    "s_knn_lsh" -> ((s, dir) => {
      import s.implicits._
      // multi-probe + 64 OR-tables: measured 100% top-5 recall vs knnBrute
      // for these 10 queries at BOTH sf0.001 and sf0.01 (32 tables missed 1
      // neighbor at sf0.001), so the brute-force rank oracle applies to the
      // LSH path too. Ranks, not raw cosines, are compared (float32 vs
      // float64 accumulation).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.filter($"vec_id" < 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnLsh(embs, "vec_id", "embedding", queries, k = 5, nBits = 8, tables = 64)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),

    "s_knn_ivf" -> ((s, dir) => {
      import s.implicits._
      // IVF scale path. Oracle config probes ALL cells (nProbe = nCells), so
      // the brute-force rank oracle checks the full machinery — k-means
      // assignment loses no vector, the probe join and top-k are exact.
      // Production pruning (nProbe << nCells) is quantified in OperatorSpecs
      // instead (recall >= 0.8 at 16/4 on these embeddings): this corpus has
      // no close neighbors (max cosine ~0.5), so NO sublinear ANN can reach
      // 100% recall here, and pretending otherwise would be a fake oracle.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.filter($"vec_id" < 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      // countHint: the testdata embeddings table is <= 5000 rows at every
      // sf, and any hint <= maxSample/2 keeps the sample modulus at 1
      // (sample = full table) — skips the sizing count() pass; a real
      // deployment passes the manifest row count the same way
      Similarity
        .knnIvf(embs, "vec_id", "embedding", queries, k = 5, nCells = 16, nProbe = 16,
          countHint = Some(5000L))
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),

    // ---- multimodal: REAL header decode (PNG IHDR / JPEG SOF), oracle = the
    // dimension arithmetic the generated headers carry. These payloads are
    // header-only (no pixel data), so featurize reports empty features —
    // the pixel paths are oracle-checked by m_media_pixels/m_jpeg_pixels.
    "m_media_features" -> ((s, dir) => {
      import s.implicits._
      val mediaUdf = udf { (id: Long) =>
        val w = (id % 640).toInt + 1
        val h = ((id * 7) % 480).toInt + 1
        if (id % 2 == 0) Multimodal.makePng(w, h) else Multimodal.makeJpeg(w, h)
      }
      val media = s.read.parquet(pq(dir, "documents"))
        .select(
          $"doc_id".as("id"),
          mediaUdf($"doc_id").as("media"),
          when($"doc_id" % 2 === 0, "image/png").otherwise("image/jpeg").as("mime")
        )
        .as[Multimodal.MediaRow]
      Multimodal
        .extractFeatures(media)
        .groupBy($"codec")
        .agg(
          count(lit(1)).as("n"),
          sum($"n_bytes").as("total_bytes"),
          min($"width").as("min_w"),
          max($"width").as("max_w"),
          min($"height").as("min_h"),
          max($"height").as("max_h")
        )
        .orderBy($"codec")
    }),

    "m_media_pixels" -> ((s, dir) => {
      import s.implicits._
      // REAL pixel round trip, oracle-checked: per doc, build an actual
      // 8-bit RGB image (even ids solid, odd ids two-band; colors and dims
      // closed-form in doc_id), PNG-encode it with a DIFFERENT scanline
      // filter per row (None/Sub/Up/Average/Paeth all exercised), fully
      // decode (zlib inflate + defilter + CRCs), and sum per-pixel
      // luminance numerators. The oracle recomputes the sums as pure
      // DuckDB arithmetic — one wrong byte anywhere in the codec path
      // breaks the hash. Even ids are solid, so their aHash64 must be
      // all-ones (every 8x8 block equals the global mean; dims >= 8 keep
      // every block populated).
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val w = (id % 16 + 8).toInt
        val h = ((id * 3) % 15 + 8).toInt
        val c1 = ((id * 3 % 256).toInt, (id * 5 % 256).toInt, (id * 7 % 256).toInt)
        val c2 = ((id * 11 % 256).toInt, (id * 13 % 256).toInt, (id * 17 % 256).toInt)
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          val (r, g, b) = if (id % 2 == 0 || y < h / 2) c1 else c2
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
            x += 1
          }
          y += 1
        }
        PngCodec.encode(PngCodec.Image(w, h, rgb), filterMode = -1)
      }
      // one decode per row: luminance and aHash come from the same decoded
      // image (two separate UDFs would run the inflate+defilter twice)
      val featUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png) match {
          case Some(img) => Array(PngCodec.sumLuminance(img), PngCodec.aHash64(img))
          case None      => Array(-1L, 0L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featUdf(pngUdf($"doc_id")).as("f"))
        .select($"doc_id", $"f" (0).as("lum"), $"f" (1).as("ahash"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"lum").as("sum_lum"),
          sum(when($"lum" === -1L, 1L).otherwise(0L)).as("n_bad_decode"),
          sum(when($"doc_id" % 2 === 0 && $"ahash" =!= -1L, 1L).otherwise(0L))
            .as("n_solid_ahash_wrong")
        )
    }),

    "m_image_resize" -> ((s, dir) => {
      import s.implicits._
      // thumbnail tier of the multimodal pipeline, oracle-checked
      // through the FULL path: synthesize a w x h RGB image whose f x f
      // blocks are solid (colors closed-form in (doc_id, bx, by)),
      // PNG-encode with cycling scanline filters, fully decode,
      // box-downsample by the per-doc factor (2 or 3), and sum
      // resized-pixel luminance. Block-constant inputs make the
      // truncated-mean resize exact, so the oracle recomputes the
      // resized image as pure per-block arithmetic (an unnest(range)
      // grid in DuckDB); edge blocks (w, h not multiples of f) are
      // exercised by construction (w, h span 8..17 against f in {2,3}).
      // One wrong byte in encode, decode, or the resize kernel breaks
      // the hash. Map-only: one UDF pass, the only shuffle is the
      // final 1-row aggregate.
      import graft.functions.PngCodec
      val resUdf = udf { (id: Long) =>
        val f = (2 + id % 2).toInt
        val w = (id % 10 + 8).toInt
        val h = ((id * 3) % 10 + 8).toInt
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val bx = x / f; val by = y / f
            val i = (y * w + x) * 3
            rgb(i) = ((id * 3 + bx * 7 + by * 11) % 256).toByte
            rgb(i + 1) = ((id * 5 + bx * 13 + by * 17) % 256).toByte
            rgb(i + 2) = ((id * 7 + bx * 19 + by * 23) % 256).toByte
            x += 1
          }
          y += 1
        }
        val png = PngCodec.encode(PngCodec.Image(w, h, rgb), filterMode = -1)
        PngCodec.decode(png) match {
          case Some(img) =>
            val r = PngCodec.resizeBox(img, f)
            Array(r.width.toLong, r.height.toLong, PngCodec.sumLuminance(r))
          case None => Array(-1L, -1L, -1L)
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", resUdf($"doc_id").as("r"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"r" (0)).as("sum_w"),
          sum($"r" (1)).as("sum_h"),
          sum($"r" (2)).as("sum_lum"),
          sum(when($"r" (0) === -1L, 1L).otherwise(0L)).as("n_bad")
        )
    }),

    "m_jpeg_pixels" -> ((s, dir) => {
      import s.implicits._
      // REAL JPEG entropy decode, oracle-checked: per doc, (a) a grayscale
      // baseline JPEG whose 8x8 blocks carry closed-form values (bw x bh
      // grid, bw/bh/values all formulas of doc_id; every 4th doc adds a
      // restart interval so DRI/RSTn and DC-predictor resets are driven
      // from the driver surface), and (b) a solid-color YCbCr 4:4:4 JPEG.
      // Both fully decode through JpegCodec (Huffman + dequant + IDCT) and
      // reduce to luminance sums. Exactness argument: block-constant
      // blocks are DC-only and the encoder's Q(0,0)=8 makes the quantized
      // DC v-128 with zero error, so decoded gray pixels equal v exactly
      // and decoded color pixels equal the integer fixed-point YCbCr
      // transform of the planted constants — both sides pure arithmetic
      // in DuckDB. One wrong bit anywhere in marker parse, Huffman
      // tables, bit unstuffing, dequant, IDCT, or color transform breaks
      // the hash.
      import graft.functions.{JpegCodec, PngCodec}
      val grayUdf = udf { (id: Long) =>
        val bw = (id % 4 + 1).toInt; val bh = ((id * 3) % 4 + 1).toInt
        val w = bw * 8; val h = bh * 8
        val pix = new Array[Byte](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            pix(y * w + x) = ((id * 7 + (x / 8) * 13 + (y / 8) * 29) % 256).toByte
            x += 1
          }
          y += 1
        }
        JpegCodec.encodeGray(w, h, pix, restartInterval = if (id % 4 == 0) 1 else 0)
      }
      val colorUdf = udf { (id: Long) =>
        val yv = ((id * 11) % 256).toByte
        val cb = ((id * 13) % 256).toByte
        val cr = ((id * 17) % 256).toByte
        JpegCodec.encodeYcc444(16, 16,
          Array.fill(256)(yv), Array.fill(256)(cb), Array.fill(256)(cr))
      }
      val lumUdf = udf((jpg: Array[Byte]) =>
        JpegCodec.decode(jpg).map(PngCodec.sumLuminance).getOrElse(-1L))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id",
          lumUdf(grayUdf($"doc_id")).as("glum"),
          lumUdf(colorUdf($"doc_id")).as("clum"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"glum").as("sum_gray_lum"),
          sum($"clum").as("sum_color_lum"),
          sum(when($"glum" === -1L || $"clum" === -1L, 1L).otherwise(0L))
            .as("n_bad_decode"))
    }),

    "m_gif_pixels" -> ((s, dir) => {
      import s.implicits._
      // REAL GIF LZW decode, oracle-checked INCLUDING row order: per doc,
      // a two-band palette image (band colors + dims closed-form in
      // doc_id; h spans 1..17 so interlace passes 2-4 are sometimes
      // empty), GIF-encoded INTERLACED for odd ids. The reduced statistic
      // is the ROW-WEIGHTED luminance sum sum((y+1) * lum(x,y)) — a plain
      // luminance sum is invariant under row permutation, so it cannot
      // see a broken four-pass deinterlace; the weighted sum pins every
      // row to its position. Oracle = triangular-number arithmetic over
      // the two bands in DuckDB. One wrong bit in the LZW dictionary
      // replay, code-size widening, sub-block reassembly, palette lookup,
      // or interlace row mapping breaks the hash. Map-only; the only
      // shuffle is the final 1-row aggregate.
      import graft.functions.{GifCodec, PngCodec}
      val gifUdf = udf { (id: Long) =>
        val w = (id % 14 + 3).toInt
        val h = ((id * 5) % 17 + 1).toInt
        val c1 = ((id * 3 % 256).toInt, (id * 5 % 256).toInt, (id * 7 % 256).toInt)
        val c2 = ((id * 11 % 256).toInt, (id * 13 % 256).toInt, (id * 17 % 256).toInt)
        val rgb = new Array[Byte](w * h * 3)
        var y = 0
        while (y < h) {
          val (r, g, b) = if (y < h / 2) c1 else c2
          var x = 0
          while (x < w) {
            val i = (y * w + x) * 3
            rgb(i) = r.toByte; rgb(i + 1) = g.toByte; rgb(i + 2) = b.toByte
            x += 1
          }
          y += 1
        }
        GifCodec.encode(PngCodec.Image(w, h, rgb), interlaced = id % 2 == 1)
      }
      val wlumUdf = udf { (gif: Array[Byte]) =>
        GifCodec.decode(gif) match {
          case Some(img) =>
            var s = 0L
            var y = 0
            while (y < img.height) {
              var x = 0
              while (x < img.width) {
                val i = (y * img.width + x) * 3
                s += (y + 1) * PngCodec.lumNum(
                  img.rgb(i) & 0xFF, img.rgb(i + 1) & 0xFF, img.rgb(i + 2) & 0xFF)
                x += 1
              }
              y += 1
            }
            s
          case None => -1L
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", wlumUdf(gifUdf($"doc_id")).as("wlum"))
        .agg(
          count(lit(1)).as("n_images"),
          sum($"wlum").as("sum_weighted_lum"),
          sum(when($"wlum" === -1L, 1L).otherwise(0L)).as("n_bad_decode"))
    }),

    "m_audio_features" -> ((s, dir) => {
      import s.implicits._
      // audio leg of the multimodal tier: per doc synthesize a square wave
      // (amplitude, half-period, cycle count all closed-form in doc_id),
      // WAV-encode (RIFF PCM mono 16-bit), fully decode, and reduce exact
      // integer waveform features. Square waves make every statistic
      // closed-form: sum of squares = n*A^2 (all samples +-A), strict sign
      // changes = 2*cycles - 1, peak = A — one wrong byte in the RIFF
      // walk or PCM unpack breaks the oracle hash.
      import graft.functions.WavCodec
      val wavUdf = udf { (id: Long) =>
        val amp = ((id * 37) % 8000 + 1000).toInt
        val half = (id % 16 + 1).toInt
        val cycles = (id % 5 + 3).toInt
        val n = 2 * half * cycles
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = (if ((i / half) % 2 == 0) amp else -amp).toShort
          i += 1
        }
        WavCodec.encode(WavCodec.Clip(16000, samples))
      }
      val featsUdf = udf((wav: Array[Byte]) =>
        WavCodec.decode(wav) match {
          case Some(c) =>
            Array(c.samples.length.toLong, WavCodec.sumSquares(c),
              WavCodec.zeroCrossings(c), WavCodec.peak(c).toLong)
          case None => Array(-1L, -1L, -1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featsUdf(wavUdf($"doc_id")).as("f"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum($"f" (0)).as("sum_samples"),
          sum($"f" (1)).as("sum_sq"),
          sum($"f" (2)).as("sum_crossings"),
          sum(when($"f" (0) === -1L, 1L).otherwise(0L)).as("n_bad_decode")
        )
    }),

    "m_audio_resample" -> ((s, dir) => {
      import s.implicits._
      // rate normalization: per doc synthesize the m_audio_features square
      // wave, WAV-encode + decode (the codec roundtrip is the Spark side's
      // burden), then linear-interp resample to 8/12/16 kHz in EXACT
      // integer arithmetic. The oracle replays the interpolation term by
      // term from doc_id with the same truncating division — per-cohort
      // sample counts, energy, signed mass, and peak pin every output
      // sample.
      import graft.functions.WavCodec
      val featsUdf = udf { (id: Long) =>
        val amp = ((id * 37) % 8000 + 1000).toInt
        val half = (id % 16 + 1).toInt
        val cycles = (id % 5 + 3).toInt
        val n = 2 * half * cycles
        val samples = new Array[Short](n)
        var i = 0
        while (i < n) {
          samples(i) = (if ((i / half) % 2 == 0) amp else -amp).toShort
          i += 1
        }
        val enc = WavCodec.encode(WavCodec.Clip(16000, samples))
        val dec = WavCodec.decode(enc).getOrElse(
          throw new IllegalStateException(s"roundtrip decode failed for doc $id"))
        val outRate = (8000 + (id % 3) * 4000).toInt
        val r = WavCodec.resample(dec, outRate)
        var sumSq = 0L; var sumV = 0L; var pk = 0L
        var j = 0
        while (j < r.samples.length) {
          val v = r.samples(j).toLong
          sumSq += v * v; sumV += v; if (math.abs(v) > pk) pk = math.abs(v)
          j += 1
        }
        Array(r.samples.length.toLong, sumSq, sumV, pk)
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", featsUdf($"doc_id").as("f"))
        .groupBy(($"doc_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum($"f"(0)).as("n_samples"),
          sum($"f"(1)).as("sum_sq"),
          sum($"f"(2)).as("sum_amp"),
          max($"f"(3)).as("peak"))
        .orderBy($"cohort")
    }),

    "m_image_neardup" -> ((s, dir) => {
      import s.implicits._
      // image-level near-dup: the SAME hamming-banding machinery as text
      // simhash, fed by perceptual aHash64 over fully DECODED pixels.
      // Per doc: 16x16 image whose 2x2 block (by,bx) is dark/bright per
      // bit ((by+bx) % 8) of the family id — each family bit still covers
      // 8 blocks (a wrapped anti-diagonal repetition code -> distinct
      // families differ in >= 8 aHash bits, guaranteed > maxHamming 7),
      // but every 8-bit aHash BAND now reads a rotation of the full
      // family id instead of one repeated bit, so band bucket keys spread
      // across ~families instead of collapsing to {0x00, 0xFF} (which
      // made every band bucket hold half the corpus — a quadratic bucket
      // self-join). A within-color +-5 one-pixel perturbation (shifts a
      // 2x2 block mean by <= 1.25, never across the dark/bright
      // threshold) keeps intra-family hamming 0. True pair set =
      // intra-family pairs, closed-form in SQL.
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val f = (id / 20 % 250 + 1).toInt // 1..250: never uniform, no wrap
        val rgb = new Array[Byte](16 * 16 * 3)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            val base = if (((f >> ((y / 2 + x / 2) % 8)) & 1) == 1) 240 else 10
            val i = (y * 16 + x) * 3
            val p = ((id * 7) % 256).toInt
            val v = if (y * 16 + x == p) base + (if (id % 2 == 0) 5 else -5) else base
            rgb(i) = v.toByte; rgb(i + 1) = v.toByte; rgb(i + 2) = v.toByte
            x += 1
          }
          y += 1
        }
        PngCodec.encode(PngCodec.Image(16, 16, rgb), filterMode = -1)
      }
      val ahashUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png).map(PngCodec.aHash64).getOrElse(0L))
      val sigs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("id"), ahashUdf(pngUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    }),
    "m_phash_neardup" -> ((s, dir) => {
      import s.implicits._
      // the DCT tier of image near-dup: pHash64 (spectral shape) where
      // m_image_neardup's aHash64 is block brightness. Families are
      // constructed IN THE DCT DOMAIN (PhashGen scaladoc): ±Amp at the
      // 63 coefficients pHash reads, signs = a constant-weight-31 spread
      // of famid, so the hash EQUALS the family code (all 127 codes
      // enumerated + asserted in PhashSpec — famid is the only input, so
      // that pins every sf). Members vary by PNG scanline filter
      // (doc_id%5 → all five filters) and doc_id%3==0 members are 2×
      // pixel-duplicated (the block-mean fold recovers the plane
      // exactly), so intra-family hamming is 0 through genuinely
      // different byte streams and geometries; inter-family ≥ 8 by the
      // code distance. maxHamming 7 ⇒ the pair set is exactly the
      // intra-family self-join, closed-form in SQL.
      import graft.fixtures.PhashGen
      import graft.functions.PngCodec
      val pngUdf = udf { (id: Long) =>
        val img = PhashGen.image((id / 20 % 120 + 1).toInt)
        val member = if (id % 3 == 0) PhashGen.upscale2x(img) else img
        PngCodec.encode(member, filterMode = (id % 5).toInt)
      }
      val phashUdf = udf((png: Array[Byte]) =>
        PngCodec.decode(png).map(PngCodec.pHash64).getOrElse(0L))
      // ScanPar: the PNG encode+decode+DCT kernel is the dominant cost —
      // a single scan split would run all of it on one core
      val sigs = ScanPar(s.read.parquet(pq(dir, "documents")))
        .select($"doc_id".as("id"), phashUdf(pngUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    }),
    "m_video_meta" -> ((s, dir) => {
      import s.implicits._
      // video leg: per doc build a real ISO-BMFF box tree (ftyp +
      // moov[mvhd + trak[tkhd]]) with closed-form dims/duration, walk it
      // back out, and aggregate — container parsing is genuine even though
      // codec payloads (like JPEG entropy data) stay out of scope.
      import graft.functions.Mp4Meta
      val mp4Udf = udf { (id: Long) =>
        Mp4Meta.encode(Mp4Meta.Meta(
          (id % 1280 + 16).toInt, ((id * 3) % 720 + 16).toInt, (id * 7) % 3600000 + 1000))
      }
      val metaUdf = udf((mp4: Array[Byte]) =>
        Mp4Meta.decode(mp4) match {
          case Some(m) => Array(m.width.toLong, m.height.toLong, m.durationMs)
          case None    => Array(-1L, -1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", metaUdf(mp4Udf($"doc_id")).as("m"))
        .agg(
          count(lit(1)).as("n_videos"),
          sum($"m" (0)).as("sum_w"),
          sum($"m" (1)).as("sum_h"),
          sum($"m" (2)).as("sum_duration_ms"),
          sum(when($"m" (0) === -1L, 1L).otherwise(0L)).as("n_bad_parse")
        )
    }),
    "m_exif_meta" -> ((s, dir) => {
      import s.implicits._
      // EXIF curation tier (ExifMeta scaladoc): per doc build a conformant
      // JPEG carrying an Exif APP1 with closed-form field values, walk the
      // TIFF/IFD structure back out, and aggregate per camera make. The
      // strip leg runs the PII scrub on every row and counts residual
      // EXIF after it (must be zero) — the oracle rebuilds every value
      // from the same doc_id arithmetic, never re-running the parser.
      import graft.functions.ExifMeta
      val jpegUdf = udf { (id: Long) =>
        ExifMeta.encode(
          "Cam" + (id % 3), "M" + (id % 5), (id % 8 + 1).toInt,
          f"2026:08:${id % 28 + 1}%02d ${id % 24}%02d:00:00",
          (id % 1000 + 1).toInt, ((id * 3) % 1000 + 1).toInt,
          withGps = id % 4 == 0)
      }
      val parseUdf = udf { (jpeg: Array[Byte]) =>
        ExifMeta.parseJpeg(jpeg) match {
          case Some(e) => (e.make.getOrElse(""), e.orientation.getOrElse(-1),
            e.dateTimeOriginal.getOrElse(""), e.pixelX.getOrElse(-1L) + e.pixelY.getOrElse(-1L),
            if (e.hasGps) 1L else 0L, 0L)
          case None => ("", -1, "", -2L, 0L, 1L)
        }
      }
      val residualUdf = udf { (jpeg: Array[Byte]) =>
        if (ExifMeta.parseJpeg(ExifMeta.stripExif(jpeg)).isDefined) 1L else 0L
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", jpegUdf($"doc_id").as("jpeg"))
        .select($"doc_id", parseUdf($"jpeg").as("e"), residualUdf($"jpeg").as("res"))
        .groupBy($"e._1".as("make"))
        .agg(
          count(lit(1)).as("n"),
          sum($"e._5").as("n_gps"),
          sum($"e._2").cast("long").as("sum_orient"),
          min($"e._3").as("min_dto"),
          max($"e._3").as("max_dto"),
          sum($"e._4").as("sum_px"),
          sum($"res").as("n_strip_residual"),
          sum($"e._6").as("n_bad_parse"))
        .orderBy($"make")
    }),
    "m_mp3_meta" -> ((s, dir) => {
      import s.implicits._
      // MP3 curation tier (Mp3Meta scaladoc): per doc a conformant
      // ID3v2.3-tagged MPEG-1 Layer III stream with closed-form tag
      // fields and frame count, parsed back by the tag walk + frame-length
      // walk; per-artist rollup. Duration is the frame-counted integer
      // (nFrames*1152*1000/44100) the oracle recomputes with the same
      // single truncating division.
      import graft.functions.Mp3Meta
      val mp3Udf = udf { (id: Long) =>
        Mp3Meta.encode("T" + (id % 7), "A" + (id % 5), "B" + (id % 3), (id % 20 + 1).toInt)
      }
      val parseUdf = udf { (b: Array[Byte]) =>
        Mp3Meta.parse(b) match {
          case Some(m) => (m.artist.getOrElse(""), m.album.getOrElse(""),
            m.title.getOrElse(""), m.nFrames.toLong, m.durationMs,
            m.bitrateKbps.toLong, m.sampleRate.toLong, 0L)
          case None => ("", "", "", -1L, -1L, -1L, -1L, 1L)
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", parseUdf(mp3Udf($"doc_id")).as("m"))
        .groupBy($"m._1".as("artist"))
        .agg(
          count(lit(1)).as("n"),
          sum($"m._4").as("sum_frames"),
          sum($"m._5").as("sum_duration_ms"),
          countDistinct($"m._2").cast("long").as("n_albums"),
          min($"m._3").as("min_title"), max($"m._3").as("max_title"),
          sum(when($"m._6" =!= 128L || $"m._7" =!= 44100L, 1L).otherwise(0L)).as("n_codec_drift"),
          sum($"m._8").as("n_bad_parse"))
        .orderBy($"artist")
    }),

    "m_video_frames" -> ((s, dir) => {
      import s.implicits._
      // frame-sampling PLAN from real container parses: the same
      // synthesized ISO-BMFF files as m_video_meta, decoded, then turned
      // into the 1-fps seek schedule a frame extractor would execute
      // (timestamps 0, 1000, ..., <= duration). The oracle recomputes
      // frame counts and the per-video arithmetic-series timestamp sums
      // in closed form, so the parse AND the schedule arithmetic are
      // both pinned; the pixel decode itself stays out of scope (no
      // video codec), exactly as documented for JPEG entropy pre-r4.
      import graft.functions.Mp4Meta
      val mp4Udf = udf { (id: Long) =>
        Mp4Meta.encode(Mp4Meta.Meta(
          (id % 1280 + 16).toInt, ((id * 3) % 720 + 16).toInt, (id * 7) % 3600000 + 1000))
      }
      val planUdf = udf((mp4: Array[Byte]) =>
        Mp4Meta.decode(mp4) match {
          case Some(m) =>
            val ts = Mp4Meta.framePlan(m, 1000L)
            Array(ts.length.toLong, ts.sum)
          case None => Array(-1L, -1L)
        })
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", planUdf(mp4Udf($"doc_id")).as("p"))
        .agg(
          count(lit(1)).as("n_videos"),
          sum($"p" (0)).as("sum_frames"),
          sum($"p" (1)).as("sum_ts_ms"),
          sum(when($"p" (0) === -1L, 1L).otherwise(0L)).as("n_bad_parse")
        )
    }),

    "m_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      // audio near-dup through the SAME hamming-banding core as text
      // simhash and image aHash — the multimodal dedup tier is one
      // machinery, three signatures. Per doc: a 1024-sample PCM clip
      // whose 64 energy windows encode the family id with the rotated
      // band layout the image fix established (band b window j reads
      // family bit (b+j)%8, so 8-bit band keys spread across families
      // instead of collapsing to {0x00,0xFF}); families differ in >= 8
      // profile bits > maxHamming 7. Per-doc amplitude jitter (8000 +
      // id%7 vs 500 low) can never cross the above-mean energy
      // threshold, so intra-family hamming stays 0 and the true pair
      // set is exactly the family self-join, closed-form in SQL.
      import graft.functions.WavCodec
      val wavUdf = udf { (id: Long) =>
        val f = (id / 20 % 250 + 1).toInt
        val hi = (8000 + id % 7).toInt
        val samples = new Array[Short](1024)
        var w = 0
        while (w < 64) {
          val amp = if (((f >> ((w / 8 + w % 8) % 8)) & 1) == 1) hi else 500
          var i = 0
          while (i < 16) {
            samples(w * 16 + i) = (if (i % 2 == 0) amp else -amp).toShort
            i += 1
          }
          w += 1
        }
        WavCodec.encode(WavCodec.Clip(8000, samples))
      }
      val hashUdf = udf((wav: Array[Byte]) =>
        WavCodec.decode(wav).map(WavCodec.audioHash64).getOrElse(0L))
      val sigs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("id"), hashUdf(wavUdf($"doc_id")).as("sig"))
      Dedup.hammingPairs64(sigs, maxHamming = 7)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    }),

    // ---- relational coverage (SURVEY §2.2-2.6 analogs; SQL oracles) -------
    "q_agg_pricing" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "lineitem"))
        .filter($"l_shipdate" <= lit("1998-09-01"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast("decimal(18,4)")).cast("double").as("revenue")
        )
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "q_join_revenue" -> ((s, dir) => {
      import s.implicits._
      val cust = s.read.parquet(pq(dir, "customer"))
      val nat = s.read.parquet(pq(dir, "nation"))
      val ord = s.read.parquet(pq(dir, "orders"))
      ord
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .groupBy($"n_name")
        .agg(
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .orderBy($"revenue".desc, $"n_name")
        .limit(10)
    }),
    "q_funnel" -> ((s, dir) => {
      import s.implicits._
      // ordered-funnel conversion view -> click -> purchase within 24 h of
      // each user's FIRST view (greedy-earliest per step, exact epoch-micro
      // comparisons). conv_micros = total anchor-to-deepest-step time,
      // pinning every matched timestamp, not just the reach counts.
      val ev = s.read.parquet(pq(dir, "events"))
      graft.operators.Funnel
        .conversion(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), windowMicros = 86400000000L)
        .groupBy($"reached")
        .agg(count(lit(1)).as("n_users"), sum($"user").as("id_sum"),
          sum($"t_last" - $"t1").as("conv_micros"))
        .orderBy($"reached")
    }),

    "q_sessionize" -> ((s, dir) => {
      import s.implicits._
      // 30-minute-gap sessionization of the event stream, cohorted by
      // user_id % 10: session counts, event mass, total session duration
      // (integer micros), and the longest session. The oracle replays
      // lag/cumsum session assignment with the identical (ts, event_id)
      // total order.
      val ev = s.read.parquet(pq(dir, "events"))
      graft.operators.Sessionize
        .sessionStats(ev, "user_id", "ts", "event_id", gapMicros = 30L * 60 * 1000000)
        .groupBy(($"user_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum($"n_events").as("n_events"),
          sum($"duration_us").as("sum_dur_us"),
          max($"n_events").as("max_sess_events")
        )
        .orderBy($"cohort")
    }),
    "q_asof_join" -> ((s, dir) => {
      import s.implicits._
      // Backward as-of join: each click event picks up the user's most
      // recent purchase value at-or-before it (the snapshot-alignment
      // primitive; union+window plan — one Exchange, no range explosion).
      // Build side is pre-aggregated per (user, ts) so the as-of winner is
      // unique; oracle is DuckDB's native ASOF LEFT JOIN on the same micros.
      val ev = s.read.parquet(pq(dir, "events"))
      val builds = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id", $"ts").agg(max($"value").as("bval"))
        .select($"user_id", unix_micros($"ts".cast("timestamp")).as("tus"), $"bval")
      val probes = ev.filter($"event_type" === "click")
        .select($"user_id", unix_micros($"ts".cast("timestamp")).as("tus"), $"event_id")
      graft.operators.AsofJoin
        .asofBackward(probes, builds, Seq("user_id"), "tus")
        .groupBy(($"user_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_probes"),
          count($"bval").as("n_matched"),
          sum($"bval".cast("decimal(18,6)")).cast("double").as("sum_bval")
        )
        .orderBy($"cohort")
    }),
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      // Point-in-interval band join with NO equi key: lineitem prices into
      // ±10 bands around order totals. Catalyst would plan the bare BETWEEN
      // as BroadcastNestedLoopJoin (O(P·I)); the bucket-expansion rewrite
      // makes it a shuffled equi-join on floor(x/32) buckets (plan-asserted
      // BNLJ-free in PlanQualitySpec). Oracle: DuckDB's native range join.
      val li = s.read.parquet(pq(dir, "lineitem"))
        .select($"l_orderkey", $"l_extendedprice", $"l_returnflag")
      val iv = s.read.parquet(pq(dir, "orders"))
        .select($"o_orderkey", ($"o_totalprice" - 10.0).as("lo"),
          ($"o_totalprice" + 10.0).as("hi"), $"o_orderpriority")
      graft.operators.RangeJoin
        .pointInInterval(li, iv, "l_extendedprice", "lo", "hi", bucketWidth = 32.0)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price")
        )
        .orderBy($"o_orderpriority")
    }),
    "q_skew_join" -> ((s, dir) => {
      import s.implicits._
      // Salted skew join: events fact on event_type (a handful of hot keys,
      // each ~1/|types| of the corpus — the shape that pins a shuffle
      // partition to one straggler task at cluster scale). The fact side is
      // salted 8 ways from event_id (deterministic — retries re-derive it),
      // the dim replicated 8×; the oracle is the UNSALTED join in SQL, so
      // the hash check proves salting is result-invariant row for row.
      val ev = s.read.parquet(pq(dir, "events"))
      val dim = ev.select($"event_type").distinct()
        .withColumn("w", length($"event_type").cast("long"))
      graft.operators.SkewJoin
        .saltedJoin(ev, dim, "event_type", "event_id", nSalts = 8)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(($"value" * $"w").cast("decimal(18,6)")).cast("double").as("weighted")
        )
        .orderBy($"event_type")
    }),
    "t_quantile_sketch" -> ((s, dir) => {
      import s.implicits._
      // Mergeable KLL quantile sketch over event values (integer micros).
      // Oracle contract: k = 2^17 >> corpus rows at every verify/bench sf
      // (events: 10k @ sf0.01, 100k @ sf0.1), so the sketch sits in its
      // exactness window and the answers equal a full sort's — the oracle
      // replays exact rank targeting ceil(phi·n) in SQL. Compaction (n >> k)
      // is exercised against the KLL error bound in TemporalQuantileSpec.
      val phis = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val agg = udaf(graft.operators.KllSketch.KllAgg(1 << 17, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      s.read.parquet(pq(dir, "events"))
        .select(round($"value" * 1000000).cast("long").as("v"))
        .agg(agg($"v").as("qs"))
        .select(posexplode($"qs").as(Seq("i", "qv")))
        .select(element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"phi")
    }),
    "t_stats_incremental" -> ((s, dir) => {
      import s.implicits._
      // Incremental corpus statistics WITHOUT rescan: stage 1 builds one
      // raw KLL sketch per commit batch (event_id % 8 plays the commit id —
      // the artifact a manifest would store beside its data files); stage 2
      // merges the 8 stored sketches into corpus quantiles. Associativity
      // makes merge(batch sketches) == sketch(full scan), so the oracle is
      // the SAME exact full-data rank targeting as t_quantile_sketch —
      // proving the incremental path loses nothing (exactness window).
      val phis = Seq(0.1, 0.5, 0.9)
      val k = 1 << 17
      val bufAgg = udaf(graft.operators.KllSketch.KllBufAgg(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val mergeAgg = udaf(graft.operators.KllSketch.KllMergeAgg(k, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[graft.operators.KllBuf]())
      s.read.parquet(pq(dir, "events"))
        .select(($"event_id" % 8).as("commit"), round($"value" * 1000000).cast("long").as("v"))
        .groupBy($"commit")
        .agg(bufAgg($"v").as("sketch"))
        // product input encoders take one arg per case-class field
        .agg(mergeAgg($"sketch.k", $"sketch.n", $"sketch.coin",
          $"sketch.levels", $"sketch.sizes").as("qs"))
        .select(posexplode($"qs").as(Seq("i", "qv")))
        .select(element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"phi")
    }),
    "t_quantiles_by_group" -> ((s, dir) => {
      import s.implicits._
      // Per-group KLL sketches: one sketch per lang, merged per-group by
      // the object aggregation (the shape a 100 TB per-domain length-
      // distribution job runs — partial sketches per partition, one merge
      // per group, never a per-group sort). Same exactness-window contract
      // as t_quantile_sketch: k >> any group's row count at verify/bench
      // scales, so per-group answers equal the full per-group sort.
      val phis = Seq(0.25, 0.5, 0.75, 0.95)
      val agg = udaf(graft.operators.KllSketch.KllAgg(1 << 17, phis),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      s.read.parquet(pq(dir, "documents"))
        .select($"lang", $"n_chars".cast("long").as("v"))
        .groupBy($"lang")
        .agg(agg($"v").as("qs"))
        .select($"lang", posexplode($"qs").as(Seq("i", "qv")))
        .select($"lang", element_at(array(phis.map(lit): _*), $"i" + 1).as("phi"), $"qv")
        .orderBy($"lang", $"phi")
    }),
    "t_unicode_norm" -> ((s, dir) => {
      import s.implicits._
      // Unicode NFC canonicalization (codegen'd UnicodeNorm expression) —
      // the dedup canonical form. Both engines build the SAME mixed
      // composed/decomposed string (doc prefix + e+U+0301 + U+FB01 ligature
      // + fullwidth A + A+U+030A), then Spark runs our kernel and DuckDB its
      // reference nfc_normalize; lengths and md5 must agree per doc. NFKC
      // (no DuckDB mirror) is unit-tested in TemporalQuantileSpec.
      val docs = s.read.parquet(pq(dir, "documents"))
      val mixed = concat(substring($"text", 1, 40),
        lit(" e\u0301 \uFB01 \uFF21 A\u030A"))
      docs
        .select($"doc_id", mixed.as("s0"))
        .select($"doc_id", length($"s0").as("len_raw"),
          graft.functions.UnicodeNorm.nfcNorm($"s0").as("nfc"))
        .select($"doc_id", $"len_raw", length($"nfc").as("len_nfc"),
          md5($"nfc".cast("binary")).as("md5_nfc"))
        .orderBy($"doc_id")
    }),
    "t_mojibake" -> ((s, dir) => {
      import s.implicits._
      // Mojibake repair end to end: every doc gets a non-ASCII suffix
      // line (2-, 3-, and 4-byte UTF-8 plus cp1252 punctuation), then
      // doc_id % 3 corruption passes (UTF-8 bytes mis-decoded as sloppy
      // cp1252 — Mojibake.corrupt, the exact inverse of one repair
      // pass), then Mojibake.fix. Parity on REAL aggregates: every doc
      // must repair to byte-exact original (n_exact = n_docs), the
      // recovered corruption depth must sum to sum(doc_id % 3), and the
      // damage itself must have changed every k>0 doc (vacuity guard:
      // the repair undid something real). The body text is ASCII at all
      // sfs (checked), so depth is pinned by the suffix line alone.
      val suffix = " café – “niño”… 漢字 😀 straße"
      val corruptUdf = udf { (t: String, k: Int) =>
        var c = t
        var i = 0
        while (i < k) { c = graft.functions.Mojibake.corrupt(c); i += 1 }
        c
      }
      val fixUdf = udf((t: String) => graft.functions.Mojibake.fix(t))
      s.read.parquet(pq(dir, "documents"))
        .select(
          $"doc_id",
          concat($"text", lit("\n"), lit(suffix)).as("orig"),
          ($"doc_id" % 3).cast("int").as("k"))
        .withColumn("bad", corruptUdf($"orig", $"k"))
        .withColumn("f", fixUdf($"bad"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"f._1" === $"orig", 1L).otherwise(0L)).as("n_exact"),
          sum($"f._2".cast("long")).as("sum_depth"),
          sum(when($"k" > 0 && $"bad" =!= $"orig", 1L).otherwise(0L)).as("n_damaged"))
    }),
    "s_knn_sq8" -> ((s, dir) => {
      import s.implicits._
      // int8 scalar-quantized ANN (4x index memory reduction) with exact
      // float rerank of the overfetched candidates. Measured 100% top-5
      // parity with knnBrute at sf0.001/0.01/0.1 (overfetch 4), so the
      // shared brute-force rank oracle applies; ranks, not raw cosines,
      // are compared (float32 vs float64 accumulation).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnSq8(embs, "vec_id", "embedding", queries, k = 5, overfetch = 4)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),
    "s_knn_pq" -> ((s, dir) => {
      import s.implicits._
      // product-quantization ANN (16x index shrink at dim=64, m=16) with
      // exact float rerank of the ADC-overfetched candidates. Measured
      // 100% top-5 parity with knnBrute at sf0.001/0.01/0.1 at
      // m=16/overfetch=16 — m=8 and overfetch=8 each lost tail neighbors
      // at sf0.1 (the planted near-dup families crowd the ADC margin), so
      // the finer codebooks carry the verified config. Shared brute-force
      // rank oracle; ranks, not raw cosines, compared (ADC is table
      // arithmetic, not cosine).
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnPq(embs, "vec_id", "embedding", queries, k = 5, m = 16, overfetch = 16,
          countHint = Some(5000L))
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),
    "s_knn_bq" -> ((s, dir) => {
      import s.implicits._
      // binary-sketch ANN — the bit-index tier: 512 hyperplane sign bits
      // per vector (64 B vs 256 B float here; the sketch width is a knob
      // INDEPENDENT of dim, so at production dim=768 the same 64 B is
      // 48x below float32), scanned with asymmetric projection scoring
      // (index stores bits, the query keeps float projections), exact
      // float rerank of the overfetched candidates. nBits=512/of=16
      // carries the verified config — measured 100% top-5 parity with
      // knnBrute at sf0.001/0.01/0.1 (raw dim-bit signs and symmetric
      // hamming both measured unable to reach parity; see scaladoc).
      // Shared brute-force rank oracle; ranks, not raw cosines, compared.
      val embs = s.read.parquet(pq(dir, "embeddings"))
      val queries = embs.select($"vec_id".cast("long"), $"embedding")
        .as[(Long, Array[Float])].filter(_._1 < 10).collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid")
        .orderBy($"cosine".desc, $"nid")
      Similarity
        .knnBq(embs, "vec_id", "embedding", queries, k = 5, overfetch = 16)
        .withColumn("rank", row_number().over(w))
        .select($"qid".as("query_id"), $"rank", $"nid".as("neighbor_id"))
        .orderBy($"query_id", $"rank")
    }),
    "q_star_revenue" -> ((s, dir) => {
      import s.implicits._
      // TPC-H Q5 shape exercising ALL seven relational tables in one
      // plan: revenue from small parts (p_size <= 25) sold by LOCAL
      // suppliers (s_nationkey == c_nationkey), one order year, rolled
      // up to region. supplier/part/nation/region are broadcast dims —
      // at 100 TB the only shuffling joins are fact><fact
      // (lineitem><orders><customer); the dims stay map-side however
      // large the facts grow. Plan-asserted in PlanQualitySpec.
      val li = s.read.parquet(pq(dir, "lineitem"))
      val ord = s.read.parquet(pq(dir, "orders"))
        .filter($"o_orderdate" >= lit("1996-01-01") && $"o_orderdate" < lit("1997-01-01"))
      val cust = s.read.parquet(pq(dir, "customer"))
      val sup = s.read.parquet(pq(dir, "supplier"))
      val nat = s.read.parquet(pq(dir, "nation"))
      val reg = s.read.parquet(pq(dir, "region"))
      val prt = s.read.parquet(pq(dir, "part")).filter($"p_size" <= 25)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy($"r_name")
        .agg(
          count(lit(1)).as("n_items"),
          sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast("decimal(18,4)"))
            .cast("double").as("revenue")
        )
        .orderBy($"r_name")
    }),
    "q_antijoin_customers" -> ((s, dir) => {
      import s.implicits._
      val cust = s.read.parquet(pq(dir, "customer"))
      val ord = s.read.parquet(pq(dir, "orders"))
        .filter($"o_totalprice" > 300000)
        .select($"o_custkey")
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    }),
    "q_window_running" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      s.read.parquet(pq(dir, "events"))
        .withColumn("running_value", sum($"value".cast("decimal(18,6)")).over(w).cast("double"))
        .withColumn(
          "rn",
          row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          )
        )
        .filter($"rn" <= 3)
        .select($"user_id", $"rn", $"event_id", $"running_value")
        .orderBy($"user_id", $"rn")
    }),
    "q_median" -> ((s, dir) => {
      import s.implicits._
      // SURVEY §2.5 W5 analog: exact percentiles (sort-based, linear
      // interpolation — bit-identical to DuckDB quantile_cont on this
      // integer-valued column). At 10^12 rows swap for approx_percentile
      // (t-digest, map-side mergeable); the exact form is the oracle.
      s.read.parquet(pq(dir, "lineitem"))
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("median_qty"),
          expr("percentile(l_quantity, 0.75)").as("q75")
        )
        .orderBy($"l_returnflag")
    }),
    "q_rollup" -> ((s, dir) => {
      import s.implicits._
      // hierarchical totals (nation -> year -> grand total) in ONE pass —
      // Spark plans rollup as a single Expand + hash aggregate, not three
      // jobs. Rollup nulls are coalesced to sentinels on both engines so
      // the oracle never compares engine-specific null ordering.
      val o = s.read.parquet(pq(dir, "orders"))
        .join(s.read.parquet(pq(dir, "customer")), $"o_custkey" === $"c_custkey")
        .join(broadcast(s.read.parquet(pq(dir, "nation"))), $"c_nationkey" === $"n_nationkey")
        .select($"n_name", year($"o_orderdate").cast("long").as("yr"), $"o_totalprice")
      o.rollup($"n_name", $"yr")
        .agg(
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("revenue")
        )
        .select(
          coalesce($"n_name", lit("(all)")).as("n_name"),
          coalesce($"yr", lit(-1L)).as("yr"),
          $"n_orders", $"revenue"
        )
        .orderBy($"n_name", $"yr")
    }),
    "q_cube" -> ((s, dir) => {
      import s.implicits._
      // the FULL grouping-set lattice ((source,lang), (source), (lang),
      // ()) in ONE pass — Spark plans cube as a single Expand + hash
      // aggregate, 4 grouping sets, not 4 jobs; cube nulls coalesced to
      // sentinels on both engines exactly like q_rollup.
      s.read.parquet(pq(dir, "documents"))
        .cube($"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars".cast("long")).as("sum_chars"))
        .select(
          coalesce($"source", lit("(all)")).as("source"),
          coalesce($"lang", lit("(all)")).as("lang"),
          $"n_docs", $"sum_chars")
        .orderBy($"source", $"lang")
    }),

    "q_grouping_sets" -> ((s, dir) => {
      import s.implicits._
      // ARBITRARY grouping lattice — the shape cube/rollup cannot spell:
      // exactly ((source,lang),(source),(lang)), no grand total. Spark 4
      // plans it as ONE Expand + hash aggregate with 3 projections
      // (a cube would expand 4, a union-of-groupbys would scan 3×);
      // sentinel coalescing identical to q_cube/q_rollup so the oracle
      // never compares engine null ordering.
      s.read.parquet(pq(dir, "documents"))
        .groupingSets(
          Seq(Seq($"source", $"lang"), Seq($"source"), Seq($"lang")),
          $"source", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars".cast("long")).as("sum_chars"))
        .select(
          coalesce($"source", lit("(all)")).as("source"),
          coalesce($"lang", lit("(all)")).as("lang"),
          $"n_docs", $"sum_chars")
        .orderBy($"source", $"lang")
    }),

    "q_pivot" -> ((s, dir) => {
      import s.implicits._
      // relational pivot: per source, one char-mass column per language,
      // in ONE hash aggregate. The lang domain is passed EXPLICITLY —
      // a values-less pivot first runs a hidden collect-distinct job
      // over the fact table, a full extra corpus pass at 100 TB (and a
      // nondeterministic column set if the domain drifts between runs).
      s.read.parquet(pq(dir, "documents"))
        .groupBy($"source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(sum($"n_chars"))
        .orderBy($"source")
    }),
    "q_topk_docs" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"n_chars", $"lang")
        .orderBy($"n_chars".desc, $"doc_id")
        .limit(20)
    }),
    "q_set_ops" -> ((s, dir) => {
      import s.implicits._
      val d = s.read.parquet(pq(dir, "documents"))
      val es = d.filter($"lang" === "es").select($"source").distinct()
      val zh = d.filter($"lang" === "zh").select($"source").distinct()
      es.except(zh).orderBy($"source")
    }),
    "q_json_extract" -> ((s, dir) => {
      import s.implicits._
      // F16 analog: JSON parsing via built-ins (get_json_object)
      s.read.parquet(pq(dir, "events"))
        .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    }),
    "q_word_hist" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(pq(dir, "documents"))
        .select(explode(split(lower($"text"), "\\s+")).as("word"))
        .filter(length($"word") > 3)
        .groupBy($"word")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"word")
        .limit(20)
    }),

    "p_ccnet_buckets" -> ((s, dir) => {
      import s.implicits._
      // CCNet head/middle/tail: per-language terciles of the integer
      // commonness-per-token rate (top-500 corpus vocab, scale 10^6, floor
      // division). The confusion-free integer rate + rank arithmetic makes
      // the bucket assignment engine-exact.
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.UnigramLm.ccnetBuckets(d, "doc_id", "text", "lang", topV = 500)
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_ids"))
        .orderBy($"lang", $"bucket")
    }),

    "x_stream_neardup" -> ((s, dir) => {
      import s.implicits._
      // streaming near-dup ADMISSION gate driven end to end: drop 1 (even
      // docs) streams into an empty store, drop 2 (odd docs + exact copies
      // of every 4th even doc under +100000 ids) must reject every copy
      // against the store; a third drain on the same checkpoint replays
      // nothing. The expected store is composed INDEPENDENTLY from the
      // batch operators (verified pairs -> representatives -> index probe),
      // so the zeros certify stream == sequential batch admission.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id".as("id"), $"text")
      val drop1 = d.filter($"id" % 2 === 0)
      val nd = drop1.filter($"id" % 4 === 0)
        .select(($"id" + 100000L).as("id"), $"text")
      val drop2 = d.filter($"id" % 2 === 1).unionByName(nd)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ndgate").toString
      try {
        val root = s"$tmp/store"; val landing = s"$tmp/landing"; val ckpt = s"$tmp/ckpt"
        def drain(): Unit = {
          val q = graft.streaming.NearDupGate.gate(
            s.readStream.schema("id BIGINT, text STRING").parquet(landing),
            root, ckpt)
          q.processAllAvailable()
          q.stop()
        }
        drop1.write.mode("append").parquet(landing); drain()
        drop2.write.mode("append").parquet(landing); drain()
        val store = graft.streaming.NearDupGate.admittedDocs(s, root).cache()
        val (n1, xorStore) = store
          .agg(count(lit(1)), coalesce(expr("bit_xor(id)"), lit(0L)))
          .as[(Long, Long)].head()
        val leaked = store.filter($"id" >= 100000L).count()
        drain() // no new files: exactly-once
        val n2 = graft.streaming.NearDupGate.admittedDocs(s, root).count()
        // independent batch-operator composition of the same admission.
        // Lineage is truncated at each stage seam: the pair miners self-join
        // their input from several branches, so an un-truncated composition
        // nests the whole upstream chain once per branch and the RENDERED
        // plan (explain/UI strings) grows exponentially — at sf0.01 it OOMs
        // the driver before any task runs. Flat checkpoints keep every
        // stage's plan O(stage), which is also how admitBatch itself runs.
        val a1 = Dedup.keepRepresentatives(drop1, "id",
          Dedup.minhashVerifiedPairs(drop1, "id", "text", 3, 16, 2, 0.8, 500))
          .localCheckpoint(true)
        val idx = Dedup.minhashIndex(a1, "id", "text", 3, 16, 2)
        val rej = Dedup.minhashProbeVerified(idx, drop2, a1.unionByName(drop2),
          "id", "text", 3, 16, 2, 0.8, 500).select($"b".as("id")).distinct()
        val kept2 = drop2.join(rej, Seq("id"), "left_anti").localCheckpoint(true)
        val a2 = Dedup.keepRepresentatives(kept2, "id",
          Dedup.minhashVerifiedPairs(kept2, "id", "text", 3, 16, 2, 0.8, 500))
        val (nExp, xorExp) = a1.unionByName(a2)
          .agg(count(lit(1)), coalesce(expr("bit_xor(id)"), lit(0L)))
          .as[(Long, Long)].head()
        Seq((n1 - nExp, xorStore ^ xorExp, leaked, n2 - n1))
          .toDF("n_admitted_drift", "id_xor_drift", "n_neardup_leaked",
            "n_replay_drift")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(tmp))
    }),

    "t_dist_drift" -> ((s, dir) => {
      import s.implicits._
      // crawl-over-crawl drift monitor: even/odd doc_id halves stand in for
      // two crawl snapshots; top-15 drifting tokens of the union top-300
      // vocabulary by the exact scaled-L1 numerator (no float division —
      // the ranking is engine-reproducible).
      val d = s.read.parquet(pq(dir, "documents"))
      graft.operators.CorpusDrift.tokenDrift(
        d.filter($"doc_id" % 2 === 0), d.filter($"doc_id" % 2 === 1),
        "text", topV = 300, k = 15)
    }),

    "d_cdc_chunks" -> ((s, dir) => {
      import s.implicits._
      // storage-tier dedup across crawl snapshots: content-defined chunking
      // (LBFS boundary rule, k=8 window, m=64 target) over snapshot v1 (the
      // corpus) and v2 (every 4th doc gets a prefix edit that shifts all
      // offsets). CDC boundaries resynchronize after the edit, so shared
      // chunk mass stays high — the single output row pins chunk counts,
      // distinct-chunk store size, and the shared (cross-snapshot) mass.
      val d = s.read.parquet(pq(dir, "documents"))
      val base = d.filter($"text".isNotNull && length($"text") > 0)
        .select($"doc_id", $"text")
      val v1 = base.withColumn("snap", lit(1L))
      val v2 = base.withColumn("text",
          when($"doc_id" % 4 === 0, concat(lit("UPDATED "), $"text"))
            .otherwise($"text"))
        .withColumn("snap", lit(2L))
      val chunks = graft.operators.Cdc
        .chunkDocs(v1.unionByName(v2), "text", k = 8, m = 64).cache()
      val perSnap = chunks.agg(
        sum(when($"snap" === 1, 1L).otherwise(0L)).as("n_chunks_v1"),
        sum(when($"snap" === 2, 1L).otherwise(0L)).as("n_chunks_v2"))
      // identical hash => identical content => identical length (max = the value)
      val dist = chunks.groupBy($"chunk_hash")
        .agg(max($"chunk_len").as("l"), countDistinct($"snap").as("ns"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when($"ns" === 2, 1L).otherwise(0L)).as("n_shared"),
          sum(when($"ns" === 2, $"l").otherwise(0L)).as("shared_chars"))
      val out = perSnap.crossJoin(dist)
      val materialized = out.cache()
      materialized.count()
      chunks.unpersist()
      materialized
    }),

    "w_scc" -> ((s, dir) => {
      import s.implicits._
      // spider-trap detection: strongly connected components of a directed
      // host graph synthesized as ten 6-node rings (true multi-node SCCs)
      // plus sparse one-way cross edges from every 17th doc (these must NOT merge
      // components unless they happen to close a mutual path — the oracle's
      // transitive-closure mutual-reachability decides). FW-BW coloring vs
      // recursive-CTE exact SCC; per-component aggregates pin membership.
      val d = s.read.parquet(pq(dir, "documents"))
      val a = $"doc_id" % 60
      val ring = d.select(a.as("src"),
        ((a - a % 6) + ($"doc_id" + 1) % 6).as("dst"))
      val cross = d.filter($"doc_id" % 17 === 0)
        .select(a.as("src"), (($"doc_id" * 7 + 3) % 60).as("dst"))
      val labels = graft.operators.LinkGraph.stronglyConnectedComponents(
        ring.unionByName(cross))
      labels.groupBy($"scc")
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"))
        .orderBy($"scc")
    }),

    "w_kcore" -> ((s, dir) => {
      import s.implicits._
      // link-density tiers: k-core decomposition of a host graph with a
      // deliberate core spread — a 60-node ring (coreness 2), chord edges
      // from every 3rd doc densifying the ring (coreness ~10 once the
      // residues saturate), pendant nodes 100.. hanging off the ring
      // (coreness 1), and a dense 10-node cluster at 200.. . Oracle: the
      // peeling recurrence unrolled to a FIXED depth in plain SQL —
      // coreNumbers throws past the same bound, so a converged Spark run
      // and the unrolled mirror compute the identical fixpoint.
      // Per-tier aggregates pin membership (count + id-sum).
      val d = s.read.parquet(pq(dir, "documents"))
      val ring = d.select(($"doc_id" % 60).as("src"),
        (($"doc_id" + 1) % 60).as("dst"))
      val chords = d.filter($"doc_id" % 3 === 0)
        .select(($"doc_id" % 60).as("src"), (($"doc_id" * 13 + 7) % 60).as("dst"))
      val pendants = d.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" % 97 + 100).as("src"), ($"doc_id" % 60).as("dst"))
      val cluster = d.filter($"doc_id" % 4 === 0)
        .select(($"doc_id" % 10 + 200).as("src"),
          (($"doc_id" * 3 + 1) % 10 + 200).as("dst"))
      val core = graft.operators.LinkGraph.coreNumbers(
        ring.unionByName(chords).unionByName(pendants).unionByName(cluster),
        maxK = 12, maxPeelRounds = 8)
      core.groupBy($"coreness")
        .agg(count(lit(1)).as("n_nodes"), sum($"node").as("sum_nodes"))
        .orderBy($"coreness")
    }),

    "w_harmonic" -> ((s, dir) => {
      import s.implicits._
      // bounded harmonic centrality from trusted seeds {0,1,2} over a
      // sparse synthesized host graph (every 11th doc contributes an
      // edge): one seed-LABELED multi-source BFS, then h(v) =
      // sum(60 div d) — 60 = lcm(1..5), so every term is an exact
      // integer and the score is engine-portable. Oracle: recursive-CTE
      // per-seed shortest paths capped at 5 hops, same integer division.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" % 89).as("src"), (($"doc_id" * 23 + 11) % 89).as("dst"))
        .filter($"src" =!= $"dst")
      val seeds = s.range(0, 3).select($"id".as("node"))
      graft.operators.LinkGraph
        .harmonicFromSeeds(e, seeds, maxDepth = 5)
        .orderBy($"node")
    }),

    "w_seed_distance" -> ((s, dir) => {
      import s.implicits._
      // crawl depth: directed BFS distance from trusted seeds {0, 1} over a
      // SPARSE synthesized host graph (only doc_id%7==0 docs contribute an
      // edge → a chain-like 97-node graph whose radius exceeds the cap, so
      // both the frontier iteration and the maxDepth bound are exercised).
      // Oracle: recursive-CTE shortest path, min over all <=6-step walks.
      val d = s.read.parquet(pq(dir, "documents"))
      val e = d.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" % 97).as("src"), (($"doc_id" * 17 + 29) % 97).as("dst"))
        .filter($"src" =!= $"dst")
      val seeds = s.range(0, 2).select($"id".as("node"))
      graft.operators.LinkGraph.bfsDistances(e, seeds, maxDepth = 6)
        .orderBy($"node")
    }),

    "p_bitext_mine" -> ((s, dir) => {
      import s.implicits._
      // parallel-corpus mining by URL pattern (ParaCrawl-style): pages of a
      // multilingual site differ only in the language path segment, so the
      // stripped URL is the alignment key. The synthetic urls are built from
      // documents identically in both engines (doc_id div 5 groups ~5 docs
      // of assorted langs under one site path); en<->fr candidates then pass
      // the integer length-ratio gate.
      val d = s.read.parquet(pq(dir, "documents"))
        .withColumn("url", concat(lit("https://ex.com/"), $"lang", lit("/p"),
          expr("doc_id div 5").cast("string")))
      Bitext.minePairs(d, "url", "lang", "doc_id", "text",
          srcLang = "en", tgtLang = "fr",
          allLangs = Seq("de", "en", "es", "fr", "zh"), ratio = 2)
        .orderBy($"key")
    }),

    "t_train_classifier" -> ((s, dir) => {
      import s.implicits._
      // in-cluster classifier TRAINING (the half HashClassifier defers to
      // an offline model): train a Rocchio centroid classifier on the
      // doc_id%5==0 seed split (label = lang), classify the held-out 80%,
      // return the confusion matrix. Training is one map-side-combined
      // (label, token) aggregation + a bounded top-V vocabulary; inference
      // is map-only over the broadcast V*C model; the argmax is decided by
      // exact integer cross-multiplication, so DuckDB replays the whole
      // train-then-classify path bit-for-bit.
      val d = s.read.parquet(pq(dir, "documents"))
      val train = d.filter($"doc_id" % 5 === 0)
      val test = d.filter($"doc_id" % 5 =!= 0)
      Rocchio.confusion(train, test, "doc_id", "lang", "text", topV = 400)
    }),

    "t_logreg_train" -> ((s, dir) => {
      import s.implicits._
      // GRADIENT-DESCENT classifier training in the engine (LogReg
      // scaladoc): a linear boilerplate/spam-pollution probe. Pollution
      // is INJECTED the d_span_dedup way — doc_id%3==0 docs get a fixed
      // ad-boilerplate tail appended — so learnability is by
      // construction (the synthetic corpus's text does not vary by its
      // lang/source labels). Features per doc (integers, centered by
      // fixed constants so epoch-1 full-batch GD is conditioned):
      // bias, stopword-set rate −6, capped avg word length ×10 −45,
      // long-word (≥7 chars) rate −25; 3 epochs on the doc_id%5==0
      // split at lr 1/(16n), confusion on the held-out 80% (94% held-out
      // accuracy at sf0.01). Every weight and every confusion cell is an
      // exact BIGINT (scaled-integer hard-sigmoid arithmetic
      // throughout), so the DuckDB mirror replays training epoch by
      // epoch — the learned MODEL is oracle-checked, not just its
      // predictions. Output: (metric, value) rows.
      val d = s.read.parquet(pq(dir, "documents"))
      val f = d
        .select($"doc_id",
          when($"doc_id" % 3 === 0, 1L).otherwise(0L).as("y"),
          when($"doc_id" % 3 === 0, concat($"text", lit(BoilerplateTail)))
            .otherwise($"text").as("text"))
        .select($"doc_id", $"y",
          expr("filter(split(lower(text), '\\\\s+'), t -> t <> '')").as("toks"))
        .select($"doc_id", $"y",
          size($"toks").cast("long").as("nt"),
          expr("CAST(size(filter(toks, t -> t IN ('the','and','of','to','a','in','is','it'))) AS BIGINT)")
            .as("nsw"),
          expr("CAST(size(filter(toks, t -> length(t) >= 7)) AS BIGINT)").as("nlong"),
          expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").as("swl"))
        .filter($"nt" > 0)
        .select($"doc_id", $"y",
          lit(1L).as("x0"),
          expr("(100L * nsw) div nt - 6L").as("x1"),
          expr("least((10L * swl) div nt, 200L) - 45L").as("x2"),
          expr("(100L * nlong) div nt - 25L").as("x3"))
      val xs = Seq("x0", "x1", "x2", "x3")
      val train = f.filter($"doc_id" % 5 === 0).cache()
      val test = f.filter($"doc_id" % 5 =!= 0)
      val (w, nTrain) = graft.operators.LogReg
        .trainHardSigmoid(train, xs, "y", epochs = 3, lrDen = 16L)
      val conf = test
        .select($"y", graft.operators.LogReg.predictExpr(xs, w).as("p"))
        .agg(
          sum(when($"y" === 1L && $"p" === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when($"y" === 0L && $"p" === 1L, 1L).otherwise(0L)).as("fp"),
          sum(when($"y" === 1L && $"p" === 0L, 1L).otherwise(0L)).as("fn"),
          sum(when($"y" === 0L && $"p" === 0L, 1L).otherwise(0L)).as("tn"),
          count(lit(1)).as("n_test"))
        .head()
      train.unpersist()
      (w.zipWithIndex.map { case (wi, i) => (s"w$i", wi) }.toSeq ++ Seq(
        ("n_train", nTrain), ("n_test", conf.getLong(4)),
        ("tp", conf.getLong(0)), ("fp", conf.getLong(1)),
        ("fn", conf.getLong(2)), ("tn", conf.getLong(3))))
        .toDF("metric", "value").orderBy("metric")
    }),

    "t_structured_meta" -> ((s, dir) => {
      import s.implicits._
      // STRUCTURED-metadata extraction (StructuredData scaladoc): JSON-LD
      // Article blocks, OpenGraph/named <meta> tags, and <title> mined
      // from real HTML built around each document — markup quirks varied
      // by doc_id parity (quote style, attribute order, tag/attr case,
      // MIME params on the LD type) plus decoys a naive regex would trip
      // on (comment-wrapped meta, a non-LD script carrying a fake
      // headline, a style block). The kernel parses the page; the oracle
      // recomputes every expected field directly from the columns the
      // page was built from — any parse drift (missed quirk, captured
      // decoy, entity mishandling) diverges a count. JSON values are
      // pulled with get_json_object over the captured LD block, so the
      // JSON round-trips through the real parse too.
      val d = s.read.parquet(pq(dir, "documents"))
      val headline = concat(lit("Doc "), $"doc_id", lit(": "), $"source")
      val author = concat(lit("author-"), $"doc_id" % 7)
      val date = concat(lit("2026-"), lpad(($"doc_id" % 12 + 1).cast("string"), 2, "0"),
        lit("-"), lpad(($"doc_id" % 28 + 1).cast("string"), 2, "0"))
      val ld = concat(
        lit("""{"@context":"https://schema.org","@type":"Article","headline":""""),
        headline, lit("""","author":""""), author,
        lit("""","datePublished":""""), date,
        lit("""","wordCount":"""), $"n_chars", lit("}"))
      val metaOg = when($"doc_id" % 2 === 0,
          concat(lit("<meta property=\"og:title\" content=\"OG "), $"doc_id", lit("\">")))
        .otherwise(
          concat(lit("<META content='OG "), $"doc_id", lit("' PROPERTY='og:title'>")))
      val scriptOpen = when($"doc_id" % 4 < 2,
          lit("<script type=\"application/ld+json\">"))
        .otherwise(lit("<script TYPE=\"Application/LD+JSON; charset=utf-8\">"))
      val html = concat(
        lit("<!doctype html><html><head><title>T&amp; "), $"doc_id", lit("</title>\n"),
        lit("<!-- <meta property=\"og:title\" content=\"DECOY\"> -->\n"),
        metaOg, lit("\n<meta name=\"og:locale\" content=\""), $"lang", lit("\">\n"),
        lit("<script type=\"text/javascript\">var x = {\"headline\": \"DECOY\"};</script>\n"),
        scriptOpen, lit("\n"), ld, lit("\n</script>\n"),
        lit("<style>.decoy { content: \"x\"; }</style>"),
        lit("</head><body><p>"), $"text", lit("</p></body></html>"))
      val metaUdf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(if (h == null) "" else h))
      val ext = d
        .select($"doc_id", $"source", $"lang", $"n_chars", metaUdf(html).as("m"))
        .select($"doc_id", $"source", $"lang", $"n_chars",
          $"m.title".as("title"), $"m.metas".as("metas"),
          $"m.jsonld".getItem(0).as("ld"))
      ext.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum(when($"title" === concat(lit("T& "), $"doc_id"), 1L).otherwise(0L))
          .as("n_title_ok"),
        sum(when(element_at($"metas", "og:title") === concat(lit("OG "), $"doc_id"), 1L)
          .otherwise(0L)).as("n_og_ok"),
        sum(when(element_at($"metas", "og:locale") === $"lang", 1L).otherwise(0L))
          .as("n_locale_ok"),
        sum(get_json_object($"ld", "$.wordCount").cast("long")).as("sum_wc"),
        countDistinct(get_json_object($"ld", "$.author")).as("n_authors"),
        min(get_json_object($"ld", "$.datePublished")).as("min_date"),
        sum(length(get_json_object($"ld", "$.headline")).cast("long"))
          .as("sum_headline_len"))
        .orderBy($"source")
    }),

    "p_paginate_stitch" -> ((s, dir) => {
      import s.implicits._
      // pagination stitching (Paginate scaladoc): groups of 5 consecutive
      // docs become one article split across 5 pages, each page's html
      // carrying <link rel="next"> to its successor — markup quirks varied
      // by parity (attr order, case, quote style) plus a commented-out
      // decoy link. The REAL chain: StructuredData parses rel=next out of
      // the html, Paginate.stitch resolves chains by pointer doubling over
      // the reversed edges and reassembles texts in page order. Truth is
      // closed-form (head = 5*floor(id/5), order = id), so the oracle
      // rebuilds the stitched text with an ordered string_agg — any parse
      // miss, mis-resolved head, or out-of-order concat diverges the text.
      val d = s.read.parquet(pq(dir, "documents"))
      val nextUrl = concat(lit("u"), $"doc_id" + 1)
      val linkTag = when($"doc_id" % 2 === 0,
          concat(lit("<link rel=\"next\" href=\""), nextUrl, lit("\">")))
        .otherwise(concat(lit("<LINK HREF='"), nextUrl, lit("' REL='next'>")))
      val html = concat(
        lit("<html><head><title>P"), $"doc_id", lit("</title>\n"),
        lit("<!-- <link rel=\"next\" href=\"uDECOY\"> -->\n"),
        lit("<link rel=\"stylesheet\" href=\"s.css\">\n"),
        when($"doc_id" % 5 =!= 4, linkTag).otherwise(lit("")),
        lit("</head><body>"), $"text", lit("</body></html>"))
      val nextOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).links.get("next"))
      val pages = d.select(concat(lit("u"), $"doc_id").as("url"), $"text",
        nextOf(html).as("next"))
      // dangling tail guard: keep only edges whose target page exists
      // (the last chain of a truncated corpus would otherwise stitch
      // under a never-fetched head)
      val edges = pages.filter($"next".isNotNull)
        .select($"url".as("src"), $"next".as("dst"))
        .join(pages.select($"url".as("dst")), Seq("dst"), "left_semi")
      graft.operators.Paginate.stitch(pages, edges, "url", "text")
        .select($"head", $"n_pages", md5($"text".cast("binary")).as("text_md5"),
          length($"text").cast("long").as("n_chars"))
        .orderBy($"head")
    }),

    "p_canonical_dedup" -> ((s, dir) => {
      import s.implicits._
      // rel=canonical alias-cluster dedup: every 3 consecutive docs alias
      // one canonical url (print/mobile/AMP variants of one article — the
      // highest-volume duplication class in real crawls, and the one class
      // the SITE declares itself, no similarity pass needed). The html
      // carries the canonical <link> with parity-varied markup plus decoys
      // (a commented link, an alternate-rel link, a meta refresh); the REAL
      // parse extracts it, then the cluster reduces to (canonical,
      // n_aliases, representative = min url id, total chars) — the exact
      // groupBy a 10^12-page dedup would run, keyed on the declared
      // canonical instead of a content signature. Oracle: closed-form
      // cluster arithmetic (doc_id // 3).
      val d = s.read.parquet(pq(dir, "documents"))
      val canon = concat(lit("https://ex.com/a"), expr("doc_id div 3"))
      val linkTag = when($"doc_id" % 2 === 0,
          concat(lit("<link rel=\"canonical\" href=\""), canon, lit("\">")))
        .otherwise(concat(lit("<LINK HREF='"), canon, lit("' REL='CANONICAL'>")))
      val html = concat(
        lit("<html><head><title>C"), $"doc_id", lit("</title>\n"),
        lit("<!-- <link rel=\"canonical\" href=\"https://ex.com/DECOY\"> -->\n"),
        lit("<link rel=\"alternate\" href=\"https://ex.com/alt\">\n"),
        linkTag,
        lit("</head><body>"), $"text", lit("</body></html>"))
      val canonOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).links.get("canonical"))
      d.select($"doc_id", $"n_chars", canonOf(html).as("canonical"))
        .groupBy($"canonical")
        .agg(count(lit(1)).as("n_aliases"),
          min($"doc_id").as("rep_id"),
          sum($"n_chars").as("sum_chars"))
        .orderBy($"canonical")
    }),

    "t_soft404" -> ((s, dir) => {
      import s.implicits._
      // soft-404 gating (Soft404 scaladoc): docs with doc_id%17==0 get a
      // templated error page (title marker for even multiples, thin
      // error BODY under the token ceiling for odd ones — both rule arms
      // exercised); everything else keeps its real title/text, so the
      // phrase match runs against the full natural corpus, not only
      // planted rows. The oracle mirrors the two-signal rule itself
      // (phrase LIKEs + token-count gate), NOT the planting arithmetic —
      // a natural text that happens to contain a phrase must classify
      // identically in both engines.
      val d = s.read.parquet(pq(dir, "documents"))
      val title = when($"doc_id" % 34 === 0, lit("404 Not Found"))
        .otherwise(concat(lit("Doc "), $"doc_id"))
      val body = when($"doc_id" % 17 === 0 && $"doc_id" % 34 =!= 0,
          lit("the page you requested does not exist on this server"))
        .otherwise($"text")
      d.select($"source", title.as("title"), body.as("text"))
        .select($"source",
          graft.functions.Soft404.label($"title", $"text").as("label"))
        .groupBy($"source", $"label")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"source", $"label")
    }),

    "p_refresh_redirects" -> ((s, dir) => {
      import s.implicits._
      // client-side redirect mining: meta-refresh chains the HTTP layer
      // never sees (interstitials, geo hops, link shorteners). Chains
      // i -> i-1 down to the nearest multiple of 4; terminals carry a
      // pure-DELAY refresh ("30", no url=) that must NOT become an edge.
      // Refresh grammar quirks vary by parity (URL case, quoting, space
      // around ';'/'='), plus a commented-out decoy. The REAL path:
      // StructuredData captures http-equiv:refresh, refreshTarget parses
      // the grammar, Redirects resolves by pointer doubling. Oracle:
      // closed-form terminal + hop count, like p_redirect_resolve — but
      // the edges here come out of an html parse, not arithmetic.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val tgt = concat(lit("u"), $"doc_id" - 1)
      val refresh = when($"doc_id" % 4 === 0,
          lit("<meta http-equiv=\"refresh\" content=\"30\">"))
        .when($"doc_id" % 2 === 0,
          concat(lit("<meta http-equiv=\"refresh\" content=\"0; url="), tgt, lit("\">")))
        .otherwise(
          concat(lit("<META CONTENT=\"0 ;URL='"), tgt, lit("'\" HTTP-EQUIV='Refresh'>")))
      val html = concat(
        lit("<html><head><title>R"), $"doc_id", lit("</title>\n"),
        lit("<!-- <meta http-equiv=\"refresh\" content=\"0; url=uDECOY\"> -->\n"),
        refresh, lit("</head><body>b</body></html>"))
      val targetOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h)
          .metas.get("http-equiv:refresh")
          .flatMap(graft.functions.html.StructuredData.refreshTarget))
      val edges = d.select(concat(lit("u"), $"doc_id").as("src"), targetOf(html).as("dst"))
        .filter($"dst".isNotNull)
      graft.operators.Redirects.resolve(edges, "src", "dst")
        .select($"src".as("url"), $"final", $"n_hops")
        .orderBy($"url")
    }),

    "p_hreflang_pairs" -> ((s, dir) => {
      import s.implicits._
      // declared-translation mining: hreflang alternate clusters feed the
      // bitext tier with SITE-declared language variants (no URL heuristic
      // needed). Clusters of 4 consecutive docs carry langs en/de/fr/pt by
      // doc_id mod 4; every page declares all four variants plus an
      // x-default and a duplicate-lang decoy (first href wins). The REAL
      // parse: StructuredData.hreflangs (per-LANGUAGE map — the rel map
      // would collapse all alternates to one href). Output: one bitext
      // candidate pair per non-English page, its url against the en
      // variant its own markup declares. Oracle: closed-form cluster
      // arithmetic.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val base = expr("(doc_id div 4) * 4")
      val variant = udf((i: Long) => Seq("en", "de", "fr", "pt")(i.toInt))
      val declaredLang = Seq("EN", "de", "fr", "pt") // EN: value case-folds
      val decl = (0 to 3).map { k =>
        val langAttr = if (k % 2 == 0) "hreflang" else "HREFLANG"
        concat(
          lit(s"""<link rel="alternate" $langAttr="${declaredLang(k)}" href="uh"""),
          base + k, lit("\">\n"))
      }.reduce(concat(_, _))
      val html = concat(
        lit("<html><head>\n"),
        lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\"uhDEFAULT\">\n"),
        decl,
        lit("<link rel=\"alternate\" hreflang=\"en\" href=\"uhDUPLICATE-LOSES\">\n"),
        lit("</head><body>b</body></html>"))
      val hrefsOf = udf((h: String) =>
        graft.functions.html.StructuredData.extract(h).hreflangs)
      d.select($"doc_id", variant($"doc_id" % 4).as("lang"), hrefsOf(html).as("hl"))
        .filter($"lang" =!= "en")
        .select(concat(lit("uh"), $"doc_id").as("url"), $"lang",
          element_at($"hl", "en").as("en_url"))
        .orderBy($"url")
    }),

    "t_microdata" -> ((s, dir) => {
      import s.implicits._
      // schema.org microdata mining (Microdata scaladoc): Product items
      // with text/meta/href/nested-Offer/token-list properties built
      // around each doc — quote style and attribute order vary by parity,
      // the name text carries an entity and a line break (decode +
      // whitespace-collapse on the real path), and an orphan itemprop plus
      // a commented decoy must drop. The oracle rebuilds the TRIPLE
      // relation closed-form and aggregates identically, so a scope leak,
      // orphan capture, or value-rule miss diverges a count.
      val d = s.read.parquet(pq(dir, "documents"))
      val openP = when($"doc_id" % 2 === 0,
          lit("<div itemscope itemtype=\"https://schema.org/Product\">"))
        .otherwise(lit("<div ITEMTYPE='https://schema.org/Product' itemscope>"))
      val html = concat(
        lit("<html><body><span itemprop=\"orphan\">dropped</span>\n"),
        openP,
        lit("\n<span itemprop=\"name\">Item &amp;\n   "), $"doc_id", lit("</span>"),
        lit("\n<!-- <meta itemprop=\"decoy\" content=\"x\"> -->"),
        lit("\n<meta itemprop=\"sku\" content=\"S"), $"doc_id", lit("\">"),
        lit("\n<a itemprop=\"url\" href=\"/p/"), $"doc_id", lit("\">see</a>"),
        lit("\n<b itemprop=\"category tag\">c"), $"doc_id" % 7, lit("</b>"),
        lit("\n<div itemprop=\"offers\" itemscope itemtype=\"https://schema.org/Offer\">"),
        lit("\n<span itemprop=\"price\">"), $"doc_id" % 997, lit("</span></div>"),
        lit("</div></body></html>"))
      val tripUdf = udf((h: String) =>
        graft.functions.html.Microdata.extract(h).map(t => (t.itemtype, t.prop, t.value)))
      d.select($"source", explode(tripUdf(html)).as("t"))
        .select($"source", $"t._1".as("itemtype"), $"t._2".as("prop"), $"t._3".as("value"))
        .groupBy($"source", $"itemtype", $"prop")
        .agg(count(lit(1)).as("n"),
          countDistinct($"value").as("n_vals"),
          sum(expr("try_cast(value AS BIGINT)")).as("sum_num"))
        .orderBy($"source", $"itemtype", $"prop")
    }),

    "p_base_links" -> ((s, dir) => {
      import s.implicits._
      // base-href-aware link harvest: the frontier needs ABSOLUTE urls,
      // and <base href> silently re-roots every relative link on the
      // page (CDN-hosted mirrors, amp caches). Three page families by
      // doc_id%3 — absolute base, RELATIVE base (composes against the
      // page url), no base — each carrying the four href shapes
      // (relative, rooted, protocol-relative, absolute) plus fragment
      // and mailto noise that must drop. The REAL path: AnchorText.links
      // → HtmlLinks streaming harvest → RFC 3986 resolution against the
      // effective base. Oracle: every resolved url rebuilt closed-form —
      // one mis-rooted link diverges a string.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val u = concat(lit("https://h"), $"doc_id" % 50, lit(".com"))
      val baseTag = when($"doc_id" % 3 === 0,
          concat(lit("<base href=\"https://cdn"), $"doc_id" % 5, lit(".org/assets/\">")))
        .when($"doc_id" % 3 === 1, lit("<base href=\"sub/\">"))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head>"), baseTag, lit("</head><body>"),
        lit("<a href=\"a.html\">r</a><a href=\"/root.html\">o</a>"),
        lit("<a href=\"//other.net/x\">p</a><a href=\"https://abs.com/y\">a</a>"),
        lit("<a href=\"#frag\">f</a><a href=\"mailto:x@y\">m</a></body></html>"))
      val pages = d.select(
        concat(u, lit("/dir/page"), $"doc_id", lit(".html")).as("url"),
        html.cast("binary").as("html"))
      graft.operators.AnchorText.links(pages, "url", "html")
        .select($"src".as("url"), $"dst")
        .orderBy($"url", $"dst")
    }),

    "m_image_pairs" -> ((s, dir) => {
      import s.implicits._
      // image-alt pair mining (ImageLinks scaladoc) — the CLIP-corpus
      // harvest: per page one <img> with an entity-carrying alt, a 2x
      // srcset variant on even docs, a base-href re-root on doc_id%3==0,
      // plus data:-inline and commented decoys that must drop. The REAL
      // path: streaming tokenizer → srcset tokenization → base-aware
      // RFC 3986 resolution. Oracle rebuilds every (page, image url, alt,
      // from_srcset) row closed-form.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val pageUrl = concat(lit("https://h"), $"doc_id" % 50,
        lit(".com/g/p"), $"doc_id", lit(".html"))
      val baseTag = when($"doc_id" % 3 === 0,
          concat(lit("<base href=\"https://img"), $"doc_id" % 5, lit(".cdn/\">")))
        .otherwise(lit(""))
      val srcset = when($"doc_id" % 2 === 0,
          concat(lit(" srcset=\"m"), $"doc_id", lit("-2x.jpg 2x\"")))
        .otherwise(lit(""))
      val html = concat(
        lit("<html><head>"), baseTag, lit("</head><body>\n"),
        lit("<!-- <img src=\"decoy.jpg\" alt=\"x\"> -->\n"),
        lit("<img src=\"data:image/gif;base64,R0=\" alt=\"inline-drops\">\n"),
        lit("<img src=\"m"), $"doc_id", lit(".jpg\" alt=\"Alt &amp; "), $"doc_id",
        lit("\""), srcset, lit("></body></html>"))
      val imgUdf = udf((h: String, u: String) =>
        graft.functions.html.ImageLinks.extract(h, u).map(i => (i.url, i.alt, i.fromSrcset)))
      d.select(pageUrl.as("url"), explode(imgUdf(html, pageUrl)).as("i"))
        .select($"url", $"i._1".as("img_url"), $"i._2".as("alt"),
          $"i._3".as("from_srcset"))
        .orderBy($"url", $"img_url", $"from_srcset")
    }),

    "p_image_corpus" -> ((s, dir) => {
      import s.implicits._
      // the multimodal corpus-build composition: harvest image-alt pairs
      // (ImageLinks over real html) → canonicalize image urls (UrlCanon —
      // pairs of pages reference the SAME image through host-case and
      // tracking-param variants that MUST collapse) → one representative
      // alt per image (longest, tie = lexicographic min via min_by on
      // (-len, alt): a total order) → caption gate (non-empty alt; every
      // group g%7==0 carries empty alts on both pages and must drop).
      // Output: per-stage counts plus length checksums over the kept
      // canonicals AND their chosen alts — a wrong representative or a
      // canonicalization miss shifts a sum.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val g = expr("doc_id div 2")
      val pageUrl = concat(lit("https://h"), $"doc_id" % 50,
        lit(".com/g/p"), $"doc_id", lit(".html"))
      // even doc of the pair: clean url, LONG alt; odd doc: host-case +
      // tracking-param variant of the same image, short alt
      val src = when($"doc_id" % 2 === 0,
          concat(lit("https://cdn"), g % 5, lit(".net/i/m"), g, lit(".jpg")))
        .otherwise(
          concat(lit("https://CDN"), g % 5, lit(".net/i/m"), g,
            lit(".jpg?utm_source=tr")))
      val alt = when(g % 7 === 0, lit(""))
        .when($"doc_id" % 2 === 0, concat(lit("Alt "), g, lit(" long caption")))
        .otherwise(concat(lit("Alt "), g))
      val html = concat(lit("<html><body><img src=\""), src,
        lit("\" alt=\""), alt, lit("\"></body></html>"))
      val imgUdf = udf((h: String, u: String) =>
        graft.functions.html.ImageLinks.extract(h, u).map(i => (i.url, i.alt)))
      val canonUdf = udf((u: String) => graft.functions.UrlCanon.canonicalize(u))
      val raw = d.select(explode(imgUdf(html, pageUrl)).as("i"))
        .select(canonUdf($"i._1").as("img"), $"i._2".as("alt"))
      val best = raw.groupBy($"img")
        .agg(count(lit(1)).as("n_variants"),
          min_by($"alt", struct((-length($"alt")).as("a"), $"alt".as("b")))
            .as("alt"))
      best.agg(
        count(lit(1)).as("n_images"),
        sum($"n_variants").as("n_raw"),
        sum(when(length($"alt") > 0, 1L).otherwise(0L)).as("n_kept"),
        sum(when(length($"alt") > 0, length($"img"))).as("sum_img_len"),
        sum(when(length($"alt") > 0, length($"alt"))).as("sum_alt_len"))
    }),

    "p_url_dates" -> ((s, dir) => {
      import s.implicits._
      // publish-date mining from URL paths (UrlDates scaladoc): four url
      // families by doc_id%4 — slash form, dash form, an INVALID
      // /2026/13/40/ calendar-trap segment that must reject, and no date
      // at all. The real regexp+validation chain runs over constructed
      // urls; the oracle rebuilds the expected ISO strings from the same
      // arithmetic (never re-running a regex), so a validation hole or a
      // grammar drift diverges a count or a min/max.
      val d = s.read.parquet(pq(dir, "documents")).select($"doc_id")
      val mm = lpad(($"doc_id" % 12 + 1).cast("string"), 2, "0")
      val dd = lpad(($"doc_id" % 28 + 1).cast("string"), 2, "0")
      val url = when($"doc_id" % 4 === 0,
          concat(lit("https://h.com/2026/"), mm, lit("/"), dd, lit("/post-"),
            $"doc_id", lit(".html")))
        .when($"doc_id" % 4 === 1,
          concat(lit("https://h.com/blog/item-2026-"), mm, lit("-"), dd,
            lit("-"), $"doc_id", lit(".html")))
        .when($"doc_id" % 4 === 2,
          concat(lit("https://h.com/2026/13/40/trap-"), $"doc_id", lit(".html")))
        .otherwise(concat(lit("https://h.com/page-"), $"doc_id", lit(".html")))
      d.select(($"doc_id" % 4).as("family"),
          graft.functions.UrlDates.publishDate(url).as("dt"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), count($"dt").as("n_dated"),
          min($"dt").as("min_date"), max($"dt").as("max_date"))
        .orderBy($"family")
    }),
    "p_lexicon_filter" -> ((s, dir) => {
      import s.implicits._
      // Aho-Corasick policy-lexicon tagging (Lexicon scaladoc): K terms in
      // ONE text pass, broadcast automaton, map-only. Synthesis plants the
      // semantics the automaton must get right on top of the natural text:
      // a multiword phrase twice per hit-doc (doc_id%5), boundary probes
      // (doc_id%3: "grandwinner" must NOT count — word char before;
      // "winner-takes-all" must — '-' is not a word char), ASCII case
      // folding (doc_id%7: CASINO/Casino/casino = 3), a digit-suffix decoy
      // plus one real hit (doc_id%11: "jackpot2000" rejected, "jackpot!"
      // counted), and a never-planted term whose zero row must survive the
      // left join. The oracle recomputes every count with RE2 \b word
      // boundaries over lower() of the same augmented text (all-occurrence
      // == non-overlapping here: border-free terms; documented contract).
      val terms = Seq("free money", "winner", "casino", "jackpot", "forbidden")
      val aug = s.read.parquet(pq(dir, "documents")).select($"doc_id",
        concat($"text",
          when($"doc_id" % 5 === 0, lit(" free money today and free money tomorrow")).otherwise(lit("")),
          when($"doc_id" % 3 === 0, lit(" the grandwinner takes winner-takes-all")).otherwise(lit("")),
          when($"doc_id" % 7 === 0, lit(" CASINO Casino casino")).otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(" jackpot2000 hit the jackpot!")).otherwise(lit(""))
        ).as("text"))
      val tagged = graft.operators.Lexicon.tagDocs(aug, "doc_id", "text", terms)
      graft.operators.Lexicon.termStats(tagged, terms).orderBy($"term")
    }),
    "t_outline" -> ((s, dir) => {
      import s.implicits._
      // document-outline extraction (Outline scaladoc): three heading
      // families pin the whole numbering contract — a regular tree
      // (entities + inline markup in titles), a level SKIP (visible as a
      // zero component), and a deep start — plus script/comment heading
      // decoys that must never surface. Every doc of a family must yield
      // the family's exact TOC string (min == max pins all docs, not a
      // sample); the oracle carries the expected constants.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html><body><script>var x='<h1>fake</h1>';</script>" +
            "<h1>Intro</h1><p>b</p><h2>R&amp;<em>D</em></h2><h2>Setup</h2><h1>End</h1></body></html>"
          case 1L => "<html><body><!-- <h2>no</h2> --><h1>Top</h1><h3>Deep</h3><h2>Back</h2></body></html>"
          case _  => "<html><body><h2>Loose</h2><h1>Main</h1></body></html>"
        }
      }
      val tocUdf = udf { (html: String) =>
        val hs = graft.functions.html.Outline.extract(html)
        (hs.map(h => s"${h.number} ${h.title}").mkString("|"), hs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), tocUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_toc"), max($"t._1").as("max_toc"),
          sum($"t._2").cast("long").as("sum_headings"))
        .orderBy($"family")
    }),
    "t_section_chunks" -> ((s, dir) => {
      import s.implicits._
      // section-aware chunking (Outline.sectionChunks scaladoc): split at
      // heading boundaries, <=2-token windows, heading context prefixed to
      // every chunk so none loses its section. Two families: one with a
      // preamble (no-context chunks) + two sections of known word counts,
      // one single-section page. The full chunk DUMP (ids, numbers,
      // context-prefixed texts) is a per-family constant — min == max
      // pins every doc bit-for-bit; the oracle carries the expected dumps
      // with '~' standing for newline (replaced via chr(10)).
      val htmlUdf = udf { (fam: Long) =>
        if (fam == 0L)
          "<p>p0 p1</p><h1>Alpha</h1><p>w0 w1 w2 w3 w4</p><h2>Beta</h2><p>u0 u1 u2</p>"
        else "<h1>Solo</h1><p>a b c d</p>"
      }
      val dumpUdf = udf { (html: String) =>
        val cs = graft.functions.html.Outline.sectionChunks(html, maxTokens = 2)
        (cs.map(c => s"${c.section}/${c.chunk}/${c.number}/${c.text}").mkString("|"), cs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 2).as("family"), dumpUdf(htmlUdf($"doc_id" % 2)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_chunks"))
        .orderBy($"family")
    }),
    "t_tables" -> ((s, dir) => {
      import s.implicits._
      // table mining to a relation (HtmlExtractor.documentElements): the
      // structured-elements walk harvests caption + row/cell structure in
      // document order, skips boilerplate-container tables (the nav-class
      // decoy must vanish), and harvests NESTED tables separately with
      // inner content excluded from outer cells. Three families pin the
      // whole contract as dump constants: caption + 2x3 + decoy; outer
      // with nested inner; no tables at all. Dump rows are
      // table/row/col/cell tuples — a cell drift, a leaked decoy, or a
      // nesting mistake changes the constant.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<body><table><caption>Stats</caption>" +
            "<tr><th>k</th><th>v</th><th>u</th></tr><tr><td>a</td><td>1</td><td>x</td></tr></table>" +
            "<div class=\"nav\"><table><tr><td>decoy</td></tr></table></div></body>"
          case 1L => "<body><table><tr><td>out1</td><td>" +
            "<table><tr><td>in1</td><td>in2</td></tr></table>" +
            "</td></tr></table></body>"
          case _  => "<body><p>tableless</p></body>"
        }
      }
      val dumpUdf = udf { (html: String) =>
        val els = graft.functions.html.HtmlExtractor
          .documentElements(graft.functions.html.HtmlDom.parse(html))
        val tables = els.collect { case graft.functions.html.HtmlExtractor.DocTable(rows) => rows }
        val caps = els.collect { case graft.functions.html.HtmlExtractor.DocParagraph(t) => t }
        val dump = tables.zipWithIndex.flatMap { case (rows, ti) =>
          rows.zipWithIndex.flatMap { case (r, ri) =>
            r.zipWithIndex.map { case (c, ci) => s"$ti/$ri/$ci/$c" }
          }
        }.mkString("|")
        (dump, tables.length, tables.map(_.map(_.length).sum).sum, caps.mkString("|"))
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), dumpUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_tables"),
          sum($"t._3").cast("long").as("sum_cells"),
          min($"t._4").as("min_caps"), max($"t._4").as("max_caps"))
        .orderBy($"family")
    }),
    "p_length_buckets" -> ((s, dir) => {
      import s.implicits._
      // doc-length distribution — the dataset-card length figure, in
      // power-of-2 buckets computed INTEGER-exactly on both engines:
      // bucket = length(bin(tokens)) = floor(log2)+1 (bin() renders the
      // binary string in Spark and DuckDB alike — no floating log2 whose
      // boundary values differ). Zero-token docs land in bucket 0. Pure
      // built-ins, map-only to one small rollup.
      s.read.parquet(pq(dir, "documents"))
        .select(size(filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
          .cast("long").as("toks"))
        .withColumn("bucket",
          when($"toks" === 0L, lit(0)).otherwise(length(bin($"toks")))
            .cast("long"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("sum_tokens"),
          min($"toks").as("min_tokens"), max($"toks").as("max_tokens"))
        .orderBy($"bucket")
    }),
    "d_cluster_histogram" -> ((s, dir) => {
      import s.implicits._
      // duplicate-family SIZE HISTOGRAM — the dedup-savings figure corpus
      // papers publish: clusters per size, docs per size, and the
      // removable count ((size-1) per cluster), with the singleton row
      // (size 1) derived from the same >=3-token domain the pair mining
      // runs on. Reuses the verified pair set + connected components; the
      // oracle extends the recursive-closure mirror with the histogram
      // and singleton arithmetic.
      val docs = s.read.parquet(pq(dir, "documents"))
        .filter(size(split(lower($"text"), "\\s+")) >= 3)
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text",
        shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      val sizes = Dedup.connectedComponents(pairs)
        .groupBy($"comp").agg(count(lit(1)).as("sz"))
      val hist = sizes.groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
      val tot = docs.agg(count(lit(1)).as("n_total"))
        .crossJoin(sizes.agg(coalesce(sum($"sz"), lit(0L)).as("n_in")))
      val single = tot.select(lit(1L).as("sz"), ($"n_total" - $"n_in").as("n_clusters"))
      hist.select($"sz".cast("long").as("size"), $"n_clusters")
        .unionByName(single.select($"sz".as("size"), $"n_clusters"))
        .withColumn("n_docs", $"size" * $"n_clusters")
        .withColumn("n_removable", ($"size" - 1L) * $"n_clusters")
        .orderBy($"size")
    }),
    "t_zipf" -> ((s, dir) => {
      import s.implicits._
      // Zipf rank-frequency audit — corpus-health at a glance: natural
      // language keeps rank·frequency roughly constant over the head;
      // templated/boilerplate-heavy corpora bow the curve (a few chrome
      // words at abnormal mass). Exact integers only: per-rank r·f for
      // the top-50 words plus the head/tail-of-head ratio as a rational
      // (min and max r·f) — no log fitting, the SAME evidence. Token
      // rollup is map-side combined; only 50 rows reach the window.
      val freqs = s.read.parquet(pq(dir, "documents"))
        .select(explode(filter(split(lower($"text"), "\\s+"), w => length(w) > 0)).as("w"))
        .groupBy($"w").agg(count(lit(1)).as("f"))
        .orderBy($"f".desc, $"w")
        .limit(50)
      val w = org.apache.spark.sql.expressions.Window.orderBy($"f".desc, $"w")
      freqs.withColumn("r", row_number().over(w).cast("long"))
        .agg(count(lit(1)).as("n_words"),
          min($"r" * $"f").as("min_rf"), max($"r" * $"f").as("max_rf"),
          max(when($"r" === 1L, $"w")).as("top_word"),
          max(when($"r" === 1L, $"f")).as("top_freq"))
    }),
    "t_entity_spans" -> ((s, dir) => {
      import s.implicits._
      // entity-span mining — the KB-seeding signal: multi-word
      // capitalized spans (>= 2 words of [A-Z][a-z]+ joined by single
      // spaces; the bigram+ rule sidesteps sentence-start capitals
      // without needing sentence segmentation) harvested corpus-wide and
      // ranked. Pure built-in regexp (Java and RE2 agree on this
      // lookaround-free pattern — the PiiScrub discipline), zero UDF,
      // map-only until the count exchange; synthesized spans planted on
      // top of natural text so the ranking head is pinned.
      val aug = s.read.parquet(pq(dir, "documents")).select(
        concat($"text",
          when($"doc_id" % 3 === 0, lit(" Visit New York City today")).otherwise(lit("")),
          when($"doc_id" % 5 === 0, lit(" according to World Health Organization reports"))
            .otherwise(lit("")),
          when($"doc_id" % 2 === 0, lit(" say Hello World and again Hello World"))
            .otherwise(lit(""))).as("text"))
      aug.select(explode(expr(
          "regexp_extract_all(text, '([A-Z][a-z]+(?: [A-Z][a-z]+)+)', 1)")).as("entity"))
        .groupBy($"entity").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"entity")
        .limit(20)
    }),
    "p_mix_schedule" -> ((s, dir) => {
      import s.implicits._
      // data-mixing SCHEDULE — the sampling-proportions table a training
      // run publishes (per-source weights -> per-source token targets ->
      // upsampling epochs): target_i = budget·w_i/Σw, upsampling
      // reported as the exact integer rational epochs_x1000 =
      // target·1000 div have, capped at 4 epochs (the repeat ceiling
      // mixing studies respect). Weights derive from the lang string
      // itself (no side-channel table to drift), budget = 2x the corpus
      // so some source must upsample; everything integer, one aggregate
      // + a |langs|-row rollup.
      val toks = s.read.parquet(pq(dir, "documents"))
        .select($"lang", size(split($"text", "\\s+")).cast("long").as("toks"))
        .groupBy($"lang").agg(sum($"toks").as("have"))
        .withColumn("w", (length($"lang") * 7 + ascii(substring($"lang", 1, 1))) % 10 + 1)
      val tot = toks.agg(sum($"have").as("total_have"), sum($"w").as("total_w"))
      toks.crossJoin(broadcast(tot))
        .withColumn("target", expr("(2 * total_have * w) div total_w"))
        .withColumn("epochs_x1000",
          least(expr("(target * 1000) div have"), lit(4000L)))
        .withColumn("capped", (expr("(target * 1000) div have") > 4000L).cast("int"))
        .select($"lang", $"have", $"w".cast("long").as("w"), $"target",
          $"epochs_x1000", $"capped".cast("long").as("capped"))
        .orderBy($"lang")
    }),
    "p_polite_budget" -> ((s, dir) => {
      import s.implicits._
      // the politeness COMPOSITION (CrawlBudget.allocateWithCaps
      // scaladoc): robots crawl-delay -> per-host fetch capacity in a
      // 60 s window (cap = 60/delay, absent robots -> default 10 s ->
      // cap 6), variable caps enforced at selection, then the global
      // budget. 11 hosts by delay family (5 s -> 12, 30 s -> 2,
      // none -> 6); the oracle replays crawl-delay arithmetic, per-host
      // windows, and the global cut.
      val robotsUdf = udf { (host: Long) =>
        host % 3 match {
          case 0 => "User-agent: *\nCrawl-delay: 5\nDisallow: /tmp\n"
          case 1 => "User-agent: *\nCrawl-delay: 30\n"
          case _ => "User-agent: *\nDisallow: /x\n"
        }
      }
      val capUdf = udf { (body: String) =>
        60 / graft.operators.Robots.crawlDelay(body, "graftbot").getOrElse(10)
      }
      val frontier = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id".as("url"), ($"doc_id" % 11).as("host"),
          (($"doc_id" * 31) % 1000).as("priority"))
      val caps = frontier.select($"host").distinct()
        .select($"host", capUdf(robotsUdf($"host")).as("cap"))
      graft.operators.CrawlBudget
        .allocateWithCaps(frontier, "host", "url", "priority", caps, "cap",
          defaultCap = 6, maxCap = 12, totalBudget = 40)
        .groupBy($"host")
        .agg(count(lit(1)).as("n_selected"), sum($"url").as("sum_url_ids"),
          max($"priority").as("max_priority"))
        .orderBy($"host")
    }),
    "w_reciprocal" -> ((s, dir) => {
      import s.implicits._
      // reciprocal-link rate — the link-exchange signal (mutual links at
      // abnormal rates mark reciprocal farms; organic webs are strongly
      // asymmetric). Functional synthetic graph src -> (src*3+1)%50 plus
      // a planted mutual pair; an edge is reciprocal iff its reverse
      // exists — ONE self-join on the reversed key, dedup'd edges, loops
      // excluded. The oracle replays both hops of the functional map.
      val docs = s.read.parquet(pq(dir, "documents"))
      val edges = docs
        .select(($"doc_id" % 50).as("src"), (($"doc_id" % 50) * 3 + 1) % 50 as "dst")
        .union(Seq((7L, 22L), (22L, 7L)).toDF("src", "dst")) // planted mutual pair
        .filter($"src" =!= $"dst")
        .distinct()
        .cache()
      val rev = edges.select($"dst".as("src"), $"src".as("dst"))
      val recip = edges.join(rev, Seq("src", "dst"), "left_semi")
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal"),
          sum($"src" + $"dst").as("recip_key_sum")))
    }),
    "t_host_gini" -> ((s, dir) => {
      import s.implicits._
      // host-concentration audit: the EXACT Gini coefficient of the
      // per-host page distribution as a scaled integer (ppm) — the
      // source-balance number corpus cards report (a corpus where three
      // hosts carry half the pages is a diversity risk no mean can see).
      // Synthesized skew: every fourth doc piles onto host 0. Integer
      // arithmetic end to end: G = (2·Σ rank·c − (n+1)·Σc) / (n·Σc),
      // rank by (count asc, host asc) — ties commute, so the rank order
      // is value-deterministic. The global rank runs through the
      // distributed prefix-sum scaffold (Packing.globalRank), NOT an
      // unpartitioned row_number window: at web scale |hosts| is 10^8
      // and a single-task global sort is the one non-parallel stage this
      // audit would otherwise have (VERDICT r4 fix; plan-asserted in
      // PlanQualitySpec — the only SinglePartition exchange left is the
      // final 1-row aggregate).
      val hosts = s.read.parquet(pq(dir, "documents"))
        .select(when($"doc_id" % 4 === 0, lit(0L)).otherwise($"doc_id" % 13).as("host"))
        .groupBy($"host").agg(count(lit(1)).as("c"))
      graft.operators.Packing.globalRank(hosts, "c", "host", "rk", numParts = 8)
        .agg(count(lit(1)).as("n_hosts"), sum($"c").as("n_pages"),
          sum($"rk" * $"c").as("wsum"))
        .select($"n_hosts", $"n_pages",
          // `div`, not `/`: Spark's slash is double division on longs
          expr("CAST((wsum * 2 - (n_hosts + 1) * n_pages) * 1000000 div (n_hosts * n_pages) AS BIGINT)")
            .as("gini_ppm"))
    }),
    "t_bpe_fertility" -> ((s, dir) => {
      import s.implicits._
      // tokenizer FERTILITY audit — subwords per word, per language: the
      // standard tokenizer-quality metric (a vocabulary trained on one
      // language fragments the others; fertility spread across langs is
      // the evidence multilingual corpus builders act on). Reuses the
      // learned 8-merge BPE and the SAME subwordCounts path p_bpe_pack
      // verifies; fertility is reported as an exact integer rational
      // (sum_subwords / sum_words), never a float.
      val d = s.read.parquet(pq(dir, "documents"))
      // learnInMemory: bit-identical to the distributed 8-merge result
      // (see p_bpe_pack note) at a fraction of the job count
      val merges = graft.operators.BpeTrain.learnInMemory(s, d, "text", numMerges = 8)
        .orderBy($"rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val sub = graft.operators.BpeTrain.subwordCounts(d, "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
      val words = ScanPar(d).select($"doc_id", $"lang",
        size(filter(split(lower($"text"), "\\s+"), w => length(w) > 0)).cast("long").as("n_words"))
      words.join(sub, Seq("doc_id"), "left")
        .select($"lang", $"n_words", coalesce($"n_subwords", lit(0L)).as("n_subwords"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_words").as("sum_words"),
          sum($"n_subwords").as("sum_subwords"))
        .orderBy($"lang")
    }),
    "p_fim_transform" -> ((s, dir) => {
      import s.implicits._
      // fill-in-the-middle transformation (Fim scaladoc): half the docs
      // (md5 rate class) rewritten to PSM order with md5-chosen token
      // cuts, empty segments dropped by concat_ws-skip semantics —
      // mirrored exactly in SQL with nullif + FILTERed string_aggs. The
      // md5-prefix sums pin every output string bit-for-bit; plain docs
      // must round-trip their token join untouched.
      val out = graft.operators.Fim.transform(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text", rateMod = 2)
      out.agg(
        count(lit(1)).as("n_docs"),
        sum(when($"mode" === "fim", 1L).otherwise(0L)).as("n_fim"),
        sum($"n_middle").as("n_middle_tokens"),
        sum(conv(substring(md5($"output"), 1, 4), 16, 10).cast("long")).as("sum_out_md5pfx"))
    }),
    "p_span_corrupt" -> ((s, dir) => {
      import s.implicits._
      // span-corruption data generation (SpanCorrupt scaladoc): the
      // T5-denoising shape with deterministic grid-aligned masking (md5
      // rate class per cell — the engine-reproducible hex device), map
      // only. The oracle REBUILDS every input/target string through SQL
      // string_agg over the replayed mask and compares md5-prefix sums —
      // a sentinel off by one, a lost span token, or a joining-space
      // drift diverges the sums.
      val out = graft.operators.SpanCorrupt.corrupt(
        s.read.parquet(pq(dir, "documents")), "doc_id", "text", gridL = 3, modD = 5)
      out.agg(
        count(lit(1)).as("n_docs"),
        sum($"n_spans").as("n_spans"),
        sum($"n_masked").as("n_masked"),
        sum(conv(substring(md5($"input"), 1, 4), 16, 10).cast("long")).as("sum_input_md5pfx"),
        sum(conv(substring(md5($"target"), 1, 4), 16, 10).cast("long")).as("sum_target_md5pfx"))
    }),
    "p_frontier_discovery" -> ((s, dir) => {
      import s.implicits._
      // frontier discovery: out-edges whose destination is NOT in the
      // crawled corpus are the next fetch candidates, ranked by in-degree
      // (citation count — the OPIC-lite prioritization every crawler
      // starts from). Synthesized link table: each doc cites three
      // targets by modulus, two resolving inside the corpus id space and
      // one landing beyond it (the discovery tail). Plan shape: edge
      // aggregate (map-side combined) -> LEFT ANTI join against the
      // corpus keys -> top-k; the oracle replays the moduli and the
      // anti-join arithmetic exactly.
      val docs = s.read.parquet(pq(dir, "documents")).select($"doc_id").cache()
      val n = docs.count() // corpus size: the known-url universe
      val edges = docs.select(explode(array(
        ($"doc_id" * 7 + 1) % (n * 2), // half land beyond the corpus
        ($"doc_id" * 11 + 3) % n, // always known
        ($"doc_id" * 13 + 5) % (n * 2)
      )).as("dst"))
      val indeg = edges.groupBy($"dst").agg(count(lit(1)).as("citations"))
      val frontier = indeg
        .join(docs.select($"doc_id".as("dst")), Seq("dst"), "left_anti")
        .orderBy($"citations".desc, $"dst")
        .limit(20)
      frontier.select($"dst", $"citations")
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"citations".desc, $"dst")).cast("long"))
        .orderBy($"rank")
    }),
    "p_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      // hard-negative mining for retrieval/embedding training: per probe
      // query, the top BM25 hit stands in for the labeled positive and
      // ranks 2..k are the hard negatives (the top-retrieved-non-positive
      // recipe; with labels the gold doc swaps in, nothing else changes).
      // Three probe queries run the SAME bm25TopK operator the retrieval
      // tier verifies bit-identically; the oracle reuses the mirrored
      // BM25 legs and pins gold + negative-id sums per query.
      val probes = Seq(
        0L -> Seq("data", "spark"),
        1L -> Seq("fast", "data"),
        2L -> Seq("spark", "fast"))
      val docs = s.read.parquet(pq(dir, "documents"))
      // shared-frame legs (same discipline as s_hybrid_rrf): union-term
      // postings + doc lengths are one subtree shared by every probe, so
      // exchange reuse materializes them once; each probe re-filters and
      // rescores bit-identically via bm25TopKOver
      val unionTerms = probes.flatMap(_._2).distinct
      val post = graft.operators.InvertedIndex.postings(docs, "doc_id", "text")
        .filter($"term".isin(unionTerms: _*))
      val dls = graft.operators.InvertedIndex.docLens(docs, "doc_id", "text")
      val corpus = dls.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      val legs = probes.map { case (qid, terms) =>
        graft.operators.InvertedIndex
          .bm25TopKOver(post, dls, corpus, terms, k1 = 1.2, b = 0.75, topK = 10)
          .select(lit(qid).as("qid"), $"doc", $"rank")
      }
      legs.reduce(_.unionByName(_))
        .groupBy($"qid")
        .agg(
          min(when($"rank" === 1L, $"doc")).as("gold_doc"),
          sum(when($"rank" > 1L, 1L).otherwise(0L)).as("n_neg"),
          sum(when($"rank" > 1L, $"doc").otherwise(0L)).as("neg_id_sum"))
        .orderBy($"qid")
    }),
    "p_corpus_report" -> ((s, dir) => {
      import s.implicits._
      // corpus REPORT — the dataset-card row every published corpus
      // ships: size, token mass, exact-dup rate, language spread, and the
      // dominant detected language, composed from the SAME library
      // kernels the pipeline stages run (langId, token grammar, digest
      // dedup) in two tiny aggregates + a 1-row cross join (nothing wide
      // reaches the driver; at 100 TB this is one map-side-combined pass
      // + a |langs|-row rollup). The oracle recomputes every number
      // through the mirrored kernel SQL — a drift in any underlying
      // kernel surfaces here too.
      val langUdf = udf { (t: String) =>
        graft.functions.TextStats.langId(if (t == null) "" else t)
      }
      val base = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"text", langUdf($"text").as("detected"))
        .cache()
      val global = base.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_distinct_texts"),
        sum(size(split($"text", "\\s+"))).cast("long").as("n_tokens"),
        countDistinct($"detected").cast("long").as("n_langs"))
      val top = base.groupBy($"detected").count()
        .orderBy($"count".desc, $"detected")
        .limit(1)
        .select($"detected".as("top_lang"), $"count".as("top_lang_docs"))
      global.crossJoin(top)
        .withColumn("n_dup_docs", $"n_docs" - $"n_distinct_texts")
        .select($"n_docs", $"n_distinct_texts", $"n_dup_docs", $"n_tokens",
          $"n_langs", $"top_lang", $"top_lang_docs")
    }),
    "t_truncation" -> ((s, dir) => {
      import s.implicits._
      // truncated-page detection (Truncation scaladoc): one state scan
      // classifying the byte stream's END — the evidence the tolerant
      // tokenizer papers over. Five families cover every tier: mid-tag,
      // unclosed comment, unclosed script body, the weak no-</html>
      // prior, and a complete page whose CLOSED script contains decoy
      // markup that must not trip the scan. tailChars sums are pinned
      // closed-form (the cut constructs have fixed lengths).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html><body><p>fine</p><a href=\"x" // in_tag, tail 10
          case 1L => "<html><body><!-- comment cut"       // in_comment, tail 16
          case 2L => "<html><body><script>var x = 1;"     // in_script, tail 10
          case 3L => "<html><body><p>done</p></body>"     // no_close
          case _  => "<html><script>var s = '</p><a href=';</script><p>ok</p></html>"
        }
      }
      val detUdf = udf { (html: String) =>
        val t = graft.functions.html.Truncation.detect(html)
        (t.state, t.tailChars.toLong)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 5).as("family"), detUdf(htmlUdf($"doc_id" % 5)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"t._1").as("min_state"), max($"t._1").as("max_state"),
          sum($"t._2").as("sum_tail"))
        .orderBy($"family")
    }),
    "d_dom_templates" -> ((s, dir) => {
      import s.implicits._
      // DOM-shape template clustering (DomShape scaladoc): pages from the
      // same template share their tag skeleton even when every word
      // differs — the per-doc TEXT varies with doc_id here while the
      // skeleton depends only on doc_id%3, so text-level identity would
      // find nothing and the shape must find exactly three families.
      // Shapes cluster per site (doc_id%7); the oracle recomputes family
      // sizes from the moduli and pins each family's tag path constant.
      val htmlUdf = udf { (fam: Long, id: Long) =>
        val uniqueText = s"page $id with its own words ${id * 7}"
        fam match {
          case 0L => s"<html><body><article><h1>t$id</h1><p>$uniqueText</p></article></body></html>"
          case 1L => s"<html><body><ul><li>a$id</li><li>b$id</li></ul></body></html>"
          case _  => s"<html><body><div><table><tr><td>$uniqueText</td></tr></table></div></body></html>"
        }
      }
      val shapeUdf = udf { (html: String) =>
        val sh = graft.functions.html.DomShape.shape(html)
        (sh.path, sh.hash)
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", ($"doc_id" % 3).as("family"), ($"doc_id" % 7).as("site"))
        .select($"family", $"site", shapeUdf(htmlUdf($"family", $"doc_id")).as("sh"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"sh._1").as("min_path"), max($"sh._1").as("max_path"),
          countDistinct($"sh._2").cast("long").as("n_shapes"),
          countDistinct($"site").cast("long").as("n_sites"))
        .orderBy($"family")
    }),
    "t_lang_declared" -> ((s, dir) => {
      import s.implicits._
      // declared-vs-detected language audit (StructuredData.declaredLang
      // scaladoc): the html lang attribute is the page's own claim; the
      // langId kernel is the evidence. Three families: agreement, a LYING
      // declaration (fr attr over english text — the template/CMS-default
      // failure), and a missing attribute over french text. Agreement
      // compares the BCP 47 primary subtag (en-US == en).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<html lang=\"en-US\"><body>the quick brown fox and the lazy dog " +
            "with some of the words that are most common in the english language</body></html>"
          case 1L => "<html lang=\"fr\"><body>the quick brown fox and the lazy dog " +
            "with some of the words that are most common in the english language</body></html>"
          case _  => "<html><body>le chat et le chien sont dans la maison avec " +
            "les enfants et les livres pour une petite histoire</body></html>"
        }
      }
      val auditUdf = udf { (html: String) =>
        val declared = graft.functions.html.StructuredData.declaredLang(html).getOrElse("")
        val text = graft.functions.html.HtmlExtractor.extract(html).text
        val detected = graft.functions.TextStats.langId(text)
        val primary = declared.split("-")(0)
        (declared, detected,
          if (declared.isEmpty) "missing" else if (primary == detected) "agree" else "disagree")
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), auditUdf(htmlUdf($"doc_id" % 3)).as("a"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"a._1").as("min_declared"), max($"a._1").as("max_declared"),
          min($"a._2").as("min_detected"), max($"a._2").as("max_detected"),
          min($"a._3").as("min_verdict"), max($"a._3").as("max_verdict"))
        .orderBy($"family")
    }),
    "x_warc_revisit" -> ((s, dir) => {
      import s.implicits._
      // WARC revisit records (WarcReader.writeWarcDeduped scaladoc): the
      // archive-layer dedup web archives run on recrawls — first capture
      // of a payload digest is a full response, repeats become ~250-byte
      // revisit records, resolution restores identical bytes. Docs bucket
      // by doc_id%32 (one archive per bucket, deterministic in-bucket
      // order), content repeats by doc_id%5, bodies sized so dedup wins;
      // the oracle recomputes every count from the modulus arithmetic and
      // pins body-exact resolution and strict size savings per bucket.
      import graft.sources.WarcReader
      val ts0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      def bodyOf(id: Long): Array[Byte] =
        (s"content-${id % 5} " * 120).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val statsUdf = udf { (ids: Seq[Long]) =>
        val sorted = ids.sorted
        val recs = sorted.map(id => (s"https://w/${id % 5}/$id", ts0, bodyOf(id)))
        val full = WarcReader.writeWarc(recs)
        val dd = WarcReader.writeWarcDeduped(recs)
        val (resolved, nRes) = WarcReader.parseWarcResolved(dd)
        val bodyOk = resolved.zip(sorted).count { case (r, id) =>
          r.error == null && r.body.sameElements(bodyOf(id))
        }
        (sorted.length.toLong, sorted.map(_ % 5).distinct.length.toLong,
          (sorted.length - sorted.map(_ % 5).distinct.length).toLong,
          nRes.toLong, bodyOk.toLong, if (dd.length < full.length) 1L else 0L)
      }
      s.read.parquet(pq(dir, "documents"))
        .groupBy(($"doc_id" % 32).as("bucket"))
        .agg(collect_list($"doc_id").as("ids"))
        .select(statsUdf($"ids").as("st"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum($"st._1").as("n_records"),
          sum($"st._2").as("n_responses"),
          sum($"st._3").as("n_revisits"),
          sum($"st._4").as("n_resolved"),
          sum($"st._5").as("n_body_ok"),
          sum($"st._6").as("n_buckets_smaller"))
    }),
    "t_code_blocks" -> ((s, dir) => {
      import s.implicits._
      // code-block mining (CodeBlocks scaladoc): <pre> blocks verbatim —
      // indentation preserved, entities decoded, syntax-highlight spans
      // flattened — with the language-x/lang-x class convention from the
      // pre or its first code child; inline <code> prose and script-body
      // decoys must never surface. Per-family dumps (order/lang/text with
      // '~' for newline) are constants pinned by min == max.
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<pre class=\"language-python\">\ndef f(x):\n    return x &amp; 1\n</pre>" +
            "<script>var s = '<pre>no</pre>';</script>"
          case 1L => "<p>use <code>grep</code></p>" +
            "<pre><code class=\"lang-js\"><span class=\"kw\">let</span> x = 1;\n  let y = 2;</code></pre>"
          case _  => "<p>prose only</p>"
        }
      }
      val dumpUdf = udf { (html: String) =>
        val bs = graft.functions.html.CodeBlocks.extract(html)
        (bs.map(b => s"${b.order}/${b.lang}/${b.text}").mkString("|"), bs.length)
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), dumpUdf(htmlUdf($"doc_id" % 3)).as("t"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), min($"t._1").as("min_dump"), max($"t._1").as("max_dump"),
          sum($"t._2").cast("long").as("sum_blocks"))
        .orderBy($"family")
    }),
    "x_warc_headers" -> ((s, dir) => {
      import s.implicits._
      // HTTP header mining + conditional-GET planning (WarcReader
      // .httpHeaderView scaladoc): per doc a synthesized response
      // envelope with closed-form validators, parsed by the SAME header
      // parse the WARC ingest path runs, then classified into the
      // revisit strategy: etag (If-None-Match wins when both validators
      // exist), modified (If-Modified-Since), unconditional. Duplicate
      // header lines keep the FIRST value (pinned by the etag constant);
      // charset mined from content-type parameters.
      val envUdf = udf { (fam: Long, id: Long) =>
        val base = "HTTP/1.1 200 OK\r\nServer: g\r\n"
        val body = "\r\nhello"
        (fam match {
          case 0L => base + s"Content-Type: text/html; charset=utf-8\r\nETag: \"v$id\"\r\n" +
            "ETag: \"dupe-ignored\"\r\nLast-Modified: Mon, 01 Jan 2024 00:00:00 GMT\r\n" + body
          case 1L => base + "Content-Type: application/pdf\r\nLast-Modified: Mon, 01 Jan 2024 00:00:00 GMT\r\n" + body
          case _  => base + "Content-Type: text/plain\r\n" + body
        }).getBytes("ISO-8859-1")
      }
      val mineUdf = udf { (b: Array[Byte]) =>
        graft.sources.WarcReader.httpHeaderView(b) match {
          case Some((status, h)) =>
            val ct = h.getOrElse("content-type", "")
            val mime = ct.split(";")(0).trim
            val strategy =
              if (h.contains("etag")) "etag"
              else if (h.contains("last-modified")) "modified"
              else "unconditional"
            (status.toLong, mime, strategy, h.getOrElse("etag", ""))
          case None => (-1L, "", "parse-error", "")
        }
      }
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", ($"doc_id" % 3).as("family"))
        .select($"family", mineUdf(envUdf($"family", $"doc_id")).as("h"), $"doc_id")
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          sum($"h._1").as("sum_status"),
          min($"h._2").as("min_mime"), max($"h._2").as("max_mime"),
          min($"h._3").as("min_strategy"), max($"h._3").as("max_strategy"),
          // first-wins dedup pinned: the etag must be "v<doc_id>", never the dupe
          sum(when($"h._4" === concat(lit("\"v"), $"doc_id", lit("\"")) ||
            $"h._4" === "", 0L).otherwise(1L)).as("n_etag_drift"))
        .orderBy($"family")
    }),
    "p_robots_directives" -> ((s, dir) => {
      import s.implicits._
      // robots.txt DIRECTIVE mining (Robots.sitemaps/crawlDelay scaladoc):
      // Sitemap records are non-group (apply anywhere, dedup, comment
      // strip) — robots.txt is how a crawler discovers sitemaps; the
      // crawl-delay is group-scoped with named-agent-beats-star
      // precedence, feeding politeness scheduling. Three host families
      // pin discovery, dedup, comment handling, precedence (named 2 wins
      // over star 10), star fallback (5), and the no-directive null.
      val robotsUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "User-agent: graftbot\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 10\n" +
            "Sitemap: https://h0.com/a.xml\nSitemap: https://h0.com/b.xml\nSitemap: https://h0.com/a.xml\n"
          case 1L => "User-agent: *\nCrawl-delay: 5\nSitemap: https://h1.com/s.xml # main\n"
          case _  => "User-agent: *\nDisallow: /tmp\n"
        }
      }
      val mineUdf = udf { (body: String) =>
        val sm = graft.operators.Robots.sitemaps(body)
        val cd = graft.operators.Robots.crawlDelay(body, "graftbot")
        (sm.mkString("|"), sm.length, cd.map(_.toLong).getOrElse(-1L))
      }
      s.read.parquet(pq(dir, "documents"))
        .select(($"doc_id" % 3).as("family"), mineUdf(robotsUdf($"doc_id" % 3)).as("r"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"),
          min($"r._1").as("min_maps"), max($"r._1").as("max_maps"),
          sum($"r._2").cast("long").as("sum_sitemaps"),
          min($"r._3").as("min_delay"), max($"r._3").as("max_delay"))
        .orderBy($"family")
    }),
    "p_pubdate_fuse" -> ((s, dir) => {
      import s.implicits._
      // publish-date FUSION (UrlDates.publishDateFused scaladoc): declared
      // meta > in-content <time datetime> > url-path hint, every layer
      // through the same calendar gate. Four families: declared wins over
      // both lower layers; time-element wins over url; url-only; and a
      // poisoned family whose INVALID declaration (2026-13-40) and
      // unparseable time element must fall through to 'none' — the
      // fall-through is the contract under test. Per-family date and
      // source are constants (min == max pins every doc).
      val htmlUdf = udf { (fam: Long) =>
        fam match {
          case 0L => "<head><meta property=\"article:published_time\" content=\"2026-01-15T10:00:00Z\"></head>" +
            "<body><time datetime=\"2026-02-16\">Feb</time></body>"
          case 1L => "<body><p>x</p><time datetime=\"2026-02-16T08:00:00Z\">Feb</time></body>"
          case 2L => "<body>no dates here</body>"
          case _  => "<head><meta property=\"article:published_time\" content=\"2026-13-40T00:00:00Z\"></head>" +
            "<body><time datetime=\"yesterday\">?</time></body>"
        }
      }
      val metaUdf = udf { (html: String) =>
        graft.functions.html.StructuredData.extract(html)
          .metas.get("article:published_time").orNull
      }
      val timeUdf = udf { (html: String) =>
        graft.functions.html.StructuredData.firstTime(html).orNull
      }
      val url = when($"family" < 3, concat(lit("https://h.com/2026/03/17/post-"), $"doc_id"))
        .otherwise(concat(lit("https://h.com/page-"), $"doc_id"))
      s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", ($"doc_id" % 4).as("family"))
        .select($"family", htmlUdf($"family").as("html"), url.as("url"))
        .select($"family", graft.functions.UrlDates.publishDateFused(
          metaUdf($"html"), timeUdf($"html"), $"url").as("f"))
        .groupBy($"family")
        .agg(count(lit(1)).as("n"), count($"f.date").as("n_dated"),
          min($"f.date").as("min_date"), max($"f.date").as("max_date"),
          min($"f.source").as("min_src"), max($"f.source").as("max_src"))
        .orderBy($"family")
    }),
    "p_holdout_split" -> ((s, dir) => {
      import s.implicits._
      // deterministic leakage-free train/val/test split (Sampling
      // .holdoutSplit scaladoc): the split is a pure function of the key
      // (stable under corpus growth, page-snapshot leakage-free when
      // keyed on url), bucket = md5-prefix-8 % Σweights replayed exactly
      // by the oracle. doc_id-as-string stands in for the canonical url;
      // id sums pin the exact membership of every split, not just sizes.
      val docs = s.read.parquet(pq(dir, "documents"))
        .select($"doc_id", $"doc_id".cast("string").as("k"))
      graft.operators.Sampling
        .holdoutSplit(docs, "k", Seq("train" -> 8, "val" -> 1, "test" -> 1))
        .groupBy($"split")
        .agg(count(lit(1)).as("n"), sum($"doc_id").as("id_sum"))
        .orderBy($"split")
    }),
    "x_corpus_snapshot" -> ((s, dir) => {
      import s.implicits._
      // the snapshot-MATERIALIZED corpus build (CorpusBuild scaladoc;
      // VERDICT r4 ask #6): p_corpus_build's five stages, each committed
      // through ManifestTable instead of session caches — the petabyte
      // shape the p_corpus_build comment promises. Run TWICE in one root:
      // the second run must resume every stage from its published
      // snapshot (n_reused_on_rerun = 4 — the crash-safe resume path,
      // exercised stage-by-stage in CorpusBuildSpec). The summary rows
      // are bit-identical to p_corpus_build's, which the shared oracle
      // pins; the two literal columns pin the lineage facts.
      val root = java.nio.file.Files.createTempDirectory("graft-corpus-snap").toString
      val docs = s.read.parquet(pq(dir, "documents"))
      graft.operators.CorpusBuild.buildSnapshotted(s, docs, root)
      val r2 = graft.operators.CorpusBuild.buildSnapshotted(s, docs, root)
      r2.summary
        .withColumn("n_stages", lit(r2.stages.length.toLong))
        .withColumn("n_reused_on_rerun", lit(r2.stages.count(_.reused).toLong))
    }),
    "x_reference_parity" -> ((s, _) => {
      import s.implicits._
      // Parity against the reference's OWN corpus (VERDICT r4 ask #2): the
      // text-payload files of /root/reference/input_files through the real
      // binaryFile-scan → sniff → extract path. The DuckDB oracle reads the
      // SAME files independently (read_text) and asserts our md5 — i.e. the
      // extracted text must equal the payload byte-for-byte (modulo the
      // consumed UTF-8 BOM, a documented charset-signaling delta). Four of
      // the six are the reference's committed pass-through goldens; the
      // other two (sample.pdf, the fake .docx) are text payloads wearing
      // binary extensions, where the reference's extension routing emitted
      // its failure placeholder and our CONTENT sniff extracts everything —
      // the full-file evidence (incl. the two real CID-font PDFs, token-
      // exact vs the reference outputs) lives in ReferenceParitySpec.
      val files = Seq(
        "test.txt", "KMRL_demo_text.txt", "ocr_output.txt", "ocr_outut.txt",
        "sample.pdf", "Autonomous Vehicle Simulation project.docx")
      val paths = files.map(f => s"/root/reference/input_files/$f")
      // the binaryFile path column is a URI string that keeps raw spaces —
      // take the last path segment textually rather than through URI parsing
      val nameUdf = udf { (p: String) => p.substring(p.lastIndexOf('/') + 1) }
      val extracted = ExtractKernel.extract(
        s.read.format("binaryFile").load(paths: _*)
          .select(
            nameUdf($"path").as("url"),
            lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("warc_ts"),
            $"content".as("html"),
            lit("").as("text"),
            lit("en").as("lang"))
          .as[Page])
      extracted
        .select(
          $"url".as("file"),
          $"format",
          $"status",
          md5($"text".cast("binary")).as("text_md5"))
        .orderBy($"file")
    })
  )

  /** Shared CTE prefix computing the exact distinct-3-gram intersection
    * counts over `src` (feeds the pair, cluster, and pipeline oracles).
    */
  /** The shared word-4-gram CTE block (tokenize → re-rank after dropping
    * empties → lead-window concat → DISTINCT per doc, NULL rows for the
    * tail positions left for the caller to filter). One definition serves
    * the p_decontaminate oracle and both sides of the corpus-build mirror —
    * a drift in the gram shape must not silently diverge them.
    */
  /** Tokenize → re-rank-after-empty-filter CTE pair (`${p}tok0`,
    * `${p}tok` with 1-based token rank `i`) — the ONE oracle-side
    * definition of the word tokenizer; the gram and phrase mirrors both
    * build on it so a tokenizer drift cannot silently diverge them.
    */
  /** Shared PageRank-mirror CTE block: the 41-host graph synthesis
    * (pgsrc/pnodes/podeg/pn) plus `iters` unrolled integer-PageRank
    * rounds ending at `ppr$iters`, trailing comma included so callers
    * append their own CTEs. ONE definition serves the w_pagerank and
    * w_trustrank oracles — the edge synthesis and the uniform-teleport
    * rank arithmetic cannot silently diverge between them.
    */
  private def pagerankCtes(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val p = s"ppr${i - 1}"
      s"""pinc$i AS (SELECT e.dst AS node, sum(p.pr // o.od) AS inc
         |  FROM pgsrc e JOIN podeg o ON e.src = o.src JOIN $p p ON p.node = e.src
         |  GROUP BY 1),
         |pdg$i AS (SELECT coalesce(sum(p.pr), 0) AS d
         |  FROM $p p LEFT JOIN podeg o ON p.node = o.src WHERE o.src IS NULL),
         |ppr$i AS (SELECT n.node,
         |  CAST((15 * 1000000000000) // 100
         |    + (85 * (coalesce(i.inc, 0) + (SELECT d FROM pdg$i) // (SELECT nn FROM pn))) // 100 AS BIGINT) AS pr
         |  FROM pnodes n LEFT JOIN pinc$i i ON n.node = i.node),""".stripMargin
    }.mkString("\n")
    s"""pgsrc AS (
       |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
       |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
       |    FROM documents)
       |  WHERE (doc_id % 40) <> dst),
       |pnodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM pgsrc UNION ALL SELECT dst FROM pgsrc)),
       |podeg AS (SELECT src, count(*) AS od FROM pgsrc GROUP BY 1),
       |pn AS (SELECT count(*) AS nn FROM pnodes),
       |ppr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM pnodes),
       |$iterCtes""".stripMargin
  }

  private def tokCtesOver(src: String, p: String): String =
    raw"""${p}tok0 AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
      |         generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
      |  FROM $src),
      |${p}tok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      |        FROM ${p}tok0 WHERE w <> '')""".stripMargin

  /** The langId decision chain (script-range counts -> Latin stopword
    * profile -> verdict CASE) over a source CTE exposing `head`/`lhead`
    * plus the caller's key columns — ONE SQL authority shared by the
    * per-document (t_langid) and per-segment (t_langid_segments)
    * oracles, so the kernel mirror can never drift per caller. Emits
    * CTEs `${p}sc`, `${p}st`, `${p}d`; `${p}d` carries `$keyCols,
    * detected`.
    */
  private def langIdDetectSql(p: String, srcCte: String, keyCols: String): String =
    raw"""${p}sc AS (
      |  SELECT $keyCols,
      |    len(regexp_extract_all(head, '[\x{0D00}-\x{0D7F}]')) AS ml,
      |    len(regexp_extract_all(head, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]')) AS cjk,
      |    len(regexp_extract_all(head, '[\x{0400}-\x{04FF}]')) AS cyr,
      |    len(regexp_extract_all(head, '[\x{0600}-\x{06FF}]')) AS arab,
      |    len(regexp_extract_all(head, '[A-Za-z\x{00AA}\x{00B5}\x{00BA}\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]')) AS lat,
      |    string_split_regex(lhead, '\s+') AS toks
      |  FROM $srcCte),
      |${p}st AS (
      |  SELECT $keyCols, ml, cjk, cyr, arab, lat,
      |    len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','that','it','for','with','was','on','are','this','a'))) AS en,
      |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','los','del','las','por','un','una','con','para','es'))) AS es,
      |    len(list_filter(toks, t -> t IN ('der','die','und','das','von','zu','mit','den','im','für','ist','des','ein','auf','nicht'))) AS de,
      |    len(list_filter(toks, t -> t IN ('le','la','les','de','des','et','en','un','une','du','est','que','dans','pour','qui'))) AS fr
      |  FROM ${p}sc),
      |${p}d AS (
      |  SELECT $keyCols,
      |    CASE
      |      WHEN (ml+cjk+cyr+arab)*5 > lat THEN
      |        CASE WHEN ml >= cjk AND ml >= cyr AND ml >= arab THEN 'ml'
      |             WHEN cjk >= cyr AND cjk >= arab THEN 'zh'
      |             WHEN cyr >= arab THEN 'ru'
      |             ELSE 'ar' END
      |      WHEN lat = 0 THEN 'und'
      |      WHEN greatest(en, es, de, fr) = 0 THEN 'und'
      |      WHEN en = greatest(en, es, de, fr) THEN 'en'
      |      WHEN es = greatest(en, es, de, fr) THEN 'es'
      |      WHEN de = greatest(en, es, de, fr) THEN 'de'
      |      ELSE 'fr' END AS detected
      |  FROM ${p}st)""".stripMargin

  /** DuckDB-side integer value of the first `digits` hex chars of
    * md5(arg) — the mirror of Spark's `conv(substring(md5(x), 1, d),
    * 16, 10)` (DuckDB has no base conversion; positional strpos
    * arithmetic replays it exactly). Shared by the HLL, CMS, epoch-
    * shuffle, and winnowing oracles.
    */
  private def md5PrefixSql(arg: String, digits: Int): String =
    (1 to digits).map { i =>
      val pow = math.pow(16, digits - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($arg), $i, 1)) - 1) * $pow"
    }.mkString("\n      + ")

  /** The shared stage CTEs of the BPE replay (tokenize → bpv0 →
    * k merge rounds), reused by t_bpe_merges and p_bpe_pack: bpv0 is
    * the two-space word symbolization weighted by word frequency; each
    * stage computes pair counts by list adjacency, picks the
    * (cnt DESC, t1, t2) argmax, and applies it with the same literal
    * replace as the Spark side ([[graft.operators.BpeTrain]]).
    */
  private def bpeStageCtes(k: Int): String = {
    // every per-stage CTE is MATERIALIZED and referenced via a single
    // cross join — without it DuckDB INLINES the recursion and the
    // expansion is exponential in k (the same multi-reference plan
    // blowup the Spark side hit in the PageRank loop, mirrored)
    val stages = (1 to k).map { i =>
      s"""bpb$i AS MATERIALIZED (
        |  SELECT l[j] AS t1, l[j+1] AS t2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT l, freq, unnest(generate_series(1, len(l)-1)) AS j
        |    FROM (SELECT string_split(trim(s), '  ') AS l, freq FROM bpv${i - 1}))
        |  GROUP BY 1, 2 ORDER BY cnt DESC, t1, t2 LIMIT 1),
        |bpv$i AS MATERIALIZED (
        |  SELECT replace(v.s, ' ' || b.t1 || '  ' || b.t2 || ' ',
        |                 ' ' || b.t1 || b.t2 || ' ') AS s, v.freq
        |  FROM bpv${i - 1} v, bpb$i b)""".stripMargin
    }.mkString(",\n")
    s"""${tokCtesOver("documents", "bp")},
      |bpv0 AS MATERIALIZED (
      |  SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s,
      |         CAST(count(*) AS BIGINT) AS freq
      |  FROM bptok GROUP BY 1),
      |$stages""".stripMargin
  }

  private def bpeOracleSql(k: Int): String = {
    val rows = (1 to k).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, b.t1, b.t2, b.cnt,
        |  (SELECT CAST(sum(freq * len(string_split(trim(s), '  '))) AS BIGINT)
        |   FROM bpv$i) AS tokens_after
        |FROM bpb$i b""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeStageCtes(k)}
      |SELECT * FROM ($rows) ORDER BY rank""".stripMargin
  }

  private def gramCtesOver(src: String, p: String): String =
    raw"""${tokCtesOver(src, p)},
      |${p}grams AS (SELECT DISTINCT doc_id,
      |    w || ' ' || lead(w,1) OVER ${p}win || ' ' || lead(w,2) OVER ${p}win || ' ' || lead(w,3) OVER ${p}win AS g
      |  FROM ${p}tok WINDOW ${p}win AS (PARTITION BY doc_id ORDER BY i))""".stripMargin

  private def exactPairsCtesOver(src: String): String =
    s"""words AS (
      |  SELECT doc_id, string_split_regex(lower(text),'\\s+') w FROM $src
      |  WHERE length(string_split_regex(lower(text),'\\s+')) >= 3),""".stripMargin +
      """
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s
      |  FROM words),
      |c AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id a, y.doc_id b, count(*) i
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val exactPairsCtes: String = exactPairsCtesOver("documents")

  /** Directed containment over the augmented (originals + planted
    * containers) table — exact mirror of the d_containment query: both
    * directions of every undirected intersection, ratio against the SOURCE
    * doc's distinct-shingle count.
    */
  private val containmentSql: String =
    s"""WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT 1000000 + a.doc_id, a.text || ' ' || b.text
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |  WHERE a.doc_id < 20),
      |${exactPairsCtesOver("aug")},
      |d AS (
      |  SELECT a AS src, b AS dst, i::DOUBLE / ca.n AS cont
      |  FROM inter JOIN c ca ON ca.doc_id = a
      |  UNION ALL
      |  SELECT b, a, i::DOUBLE / cb.n
      |  FROM inter JOIN c cb ON cb.doc_id = b)
      |SELECT src, dst, round(cont, 6) AS containment
      |FROM d WHERE cont >= 0.6 ORDER BY src, dst""".stripMargin

  /** Per-doc quality score mirror (bit-exact float op order vs
    * TextStats.quality — shared by t_quality_score and the pipeline oracle).
    */
  private val qualityCtes: String =
    """qraw AS (
      |  SELECT doc_id,
      |    length(text) AS nchars,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ntok,
      |    length(regexp_replace(text, '\s', '', 'g')) AS nonws,
      |    len(regexp_extract_all(text, '\p{L}')) AS letters,
      |    len(regexp_extract_all(text, '\p{Lu}')) AS uppers,
      |    len(regexp_extract_all(text, '\p{Nd}')) AS digits,
      |    len(list_filter(string_split_regex(text, '\s+'), t -> lower(t) IN ('the','and','of','to','in','is','that','it','for','with','was','on','are','this','a'))) AS stop
      |  FROM documents),
      |qs AS (
      |  SELECT doc_id, CASE WHEN ntok = 0 THEN 0.0 ELSE greatest(0.0,
      |    1.0
      |    - CASE WHEN nonws::DOUBLE / ntok < 3.0 OR nonws::DOUBLE / ntok > 10.0 THEN 0.25 ELSE 0.0 END
      |    - CASE WHEN stop::DOUBLE / ntok < 0.01 THEN 0.25 ELSE 0.0 END
      |    - CASE WHEN (nchars - letters - digits - (nchars - nonws))::DOUBLE / greatest(1, nchars) > 0.2 THEN 0.2 ELSE 0.0 END
      |    - CASE WHEN digits::DOUBLE / greatest(1, nchars) > 0.3 THEN 0.15 ELSE 0.0 END
      |    - CASE WHEN (CASE WHEN letters = 0 THEN 0.0 ELSE uppers::DOUBLE / letters END) > 0.5 THEN 0.15 ELSE 0.0 END
      |    - CASE WHEN ntok < 5 THEN 0.3 ELSE 0.0 END) END AS score
      |  FROM qraw)""".stripMargin

  /** Full training-corpus keep pipeline mirrored in one DuckDB query:
    * quality gate -> exact dedup (min doc_id per md5) -> exact near-dup
    * pairs over the survivors -> recursive-CTE connected components ->
    * representative count. Oracle for p_pipeline_keep.
    */
  private val pipelineKeepSql: String =
    s"""WITH RECURSIVE $qualityCtes,
      |qualified AS (
      |  SELECT d.* FROM documents d JOIN qs USING (doc_id) WHERE qs.score >= 0.9),
      |keepd AS (SELECT min(doc_id) AS doc_id FROM qualified GROUP BY md5(text)),
      |exdocs AS (SELECT q.* FROM qualified q JOIN keepd USING (doc_id)),
      |${exactPairsCtesOver("exdocs")},
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id)
      |SELECT (SELECT count(*) FROM documents) AS n_input,
      |  (SELECT count(*) FROM qualified) AS n_quality,
      |  (SELECT count(*) FROM exdocs) AS n_exact,
      |  (SELECT count(*) FROM exdocs)
      |    - (SELECT count(*) FROM comp WHERE id <> component) AS n_kept""".stripMargin

  /** Complete corpus-build mirror: the p_pipeline_keep stages, then word-
    * 4-gram decontamination vs the doc_id%41==0 eval set, then the
    * deterministic 1/5 per-lang stratified sample — every stage in SQL.
    */
  private val corpusBuildSql: String =
    s"""WITH RECURSIVE $qualityCtes,
      |qualified AS (
      |  SELECT d.* FROM documents d JOIN qs USING (doc_id) WHERE qs.score >= 0.9),
      |keepd AS (SELECT min(doc_id) AS doc_id FROM qualified GROUP BY md5(text)),
      |exdocs AS (SELECT q.* FROM qualified q JOIN keepd USING (doc_id)),
      |${exactPairsCtesOver("exdocs")},
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
      |keptdocs AS (
      |  SELECT e.* FROM exdocs e
      |  WHERE e.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
      |${gramCtesOver("keptdocs", "k")},
      |${gramCtesOver("(SELECT * FROM documents WHERE doc_id % 41 = 0)", "e")},
      |eval_g AS (SELECT DISTINCT g FROM egrams WHERE g IS NOT NULL),
      |contam AS (
      |  SELECT DISTINCT k.doc_id FROM kgrams k
      |  JOIN eval_g e ON k.g = e.g WHERE k.g IS NOT NULL),
      |clean AS (
      |  SELECT k.* FROM keptdocs k
      |  WHERE k.doc_id NOT IN (SELECT doc_id FROM contam)),
      |rk AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM clean),
      |samp AS (SELECT lang, doc_id FROM rk WHERE rk <= (n * 1 + 4) // 5)
      |SELECT kl.lang,
      |  CAST(kl.n_kept AS BIGINT) AS n_kept,
      |  CAST(coalesce(cl.n_clean, 0) AS BIGINT) AS n_clean,
      |  CAST(coalesce(sp.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(coalesce(sp.sum_ids, 0) AS BIGINT) AS sum_sampled_ids
      |FROM (SELECT lang, count(*) AS n_kept FROM keptdocs GROUP BY 1) kl
      |LEFT JOIN (SELECT lang, count(*) AS n_clean FROM clean GROUP BY 1) cl USING (lang)
      |LEFT JOIN (SELECT lang, count(*) AS n_sampled, sum(doc_id) AS sum_ids
      |           FROM samp GROUP BY 1) sp USING (lang)
      |ORDER BY 1""".stripMargin

  /** Exact distinct-3-gram Jaccard pairs at j >= 0.8 (the shared oracle for
    * d_ngram_pairs and the verified LSH pipelines, whose outputs are the
    * same set by construction).
    */
  private val exactJaccardSql: String =
    s"""WITH $exactPairsCtes
      |SELECT a, b, round(i::DOUBLE / (ca.n + cb.n - i), 6) AS jaccard
      |FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8
      |ORDER BY a, b""".stripMargin

  /** Connected components over the exact pair set via a recursive-CTE
    * transitive closure (component = min reachable doc id) — the oracle for
    * the distributed min-label propagation behind d_clusters.
    */
  private val clustersSql: String =
    s"""WITH RECURSIVE $exactPairsCtes,
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id)
      |SELECT component, count(*) AS n_docs, max(id) AS max_doc
      |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** Same transitive closure; representative = argmax (n_chars, -id) —
    * the d_cluster_best oracle.
    */
  private val clusterBestSql: String =
    s"""WITH RECURSIVE $exactPairsCtes,
      |p AS (
      |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
      |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
      |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
      |cc(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
      |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
      |ranked AS (
      |  SELECT comp.component, d.doc_id, d.n_chars,
      |    row_number() OVER (PARTITION BY comp.component
      |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      |  FROM comp JOIN documents d ON d.doc_id = comp.id)
      |SELECT component, CAST(doc_id AS BIGINT) AS rep_id,
      |  CAST(n_chars AS BIGINT) AS rep_chars
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin

  /** Brute-force top-5 cosine neighbor ranks for queries vec_id < 10 (the
    * shared oracle for s_knn_brute and the full-recall-verified s_knn_lsh).
    */
  /** Corpus-level BM25 CTEs (tokenize, doc lengths, corpus stats) under
    * prefix `p` — shared once per oracle even when several query legs
    * score against the same corpus. Emits `${p}tok0/${p}tok/${p}dl/${p}n`.
    */
  private def bm25CorpusCtesSql(p: String): String =
    raw"""${p}tok0 AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
      |${p}tok AS (SELECT doc_id, w FROM ${p}tok0 WHERE w <> ''),
      |${p}dl AS (SELECT doc_id AS doc, count(*) AS dl FROM ${p}tok GROUP BY 1),
      |${p}n AS (SELECT (SELECT count(*) FROM documents) AS n, (SELECT count(*) FROM ${p}tok) AS sumdl)""".stripMargin

  /** One BM25 query leg under prefix `p` against the corpus CTEs at
    * prefix `cp` — the SQL authority mirroring `InvertedIndex.bm25TopK`
    * (log-free idf, k1=1.2 b=0.75, fixed left-to-right per-term combine,
    * (score desc, doc asc) order). Emits `${p}post/${p}df/${p}sc/
    * ${p}piv/${p}top/${p}rank`; `${p}rank` carries (doc, score, rank
    * 1..topK). ONE authority for s_bm25 and every hybrid-fusion leg.
    */
  private def bm25LegCtesSql(p: String, cp: String, terms: Seq[String], topK: Int): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val pivot = terms
      .map(t => s"coalesce(max(CASE WHEN term = '$t' THEN w END), 0.0)")
      .mkString("\n  + ")
    s"""${p}post AS (SELECT w AS term, doc_id AS doc, count(*) AS tf FROM ${cp}tok
      |  WHERE w IN ($inList) GROUP BY 1, 2),
      |${p}df AS (SELECT term, count(*) AS df FROM ${p}post GROUP BY 1),
      |${p}sc AS (SELECT p.doc, p.term,
      |  ((CAST(n.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) / (CAST(f.df AS DOUBLE) + 0.5))
      |  * (CAST(p.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0))
      |  / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (CAST(d.dl AS DOUBLE) / (CAST(n.sumdl AS DOUBLE) / CAST(n.n AS DOUBLE))))) AS w
      |  FROM ${p}post p JOIN ${p}df f USING (term) JOIN ${cp}dl d ON p.doc = d.doc CROSS JOIN ${cp}n n),
      |${p}piv AS (SELECT doc,
      |  $pivot AS score
      |  FROM ${p}sc GROUP BY doc),
      |${p}top AS (SELECT doc, score FROM ${p}piv ORDER BY score DESC, doc LIMIT $topK),
      |${p}rank AS (SELECT doc, score,
      |  row_number() OVER (ORDER BY score DESC, doc) AS rank FROM ${p}top)""".stripMargin
  }

  private val knnRankSql: String =
    """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id nid, embedding nv FROM embeddings),
      |s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) cos FROM q, c WHERE qid <> nid),
      |r AS (SELECT qid, nid, cos,
      |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM s)
      |SELECT qid AS query_id, rn AS rank, nid AS neighbor_id
      |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  /** MMR greedy replay, one chained CTE pick per round: round 1 is the
    * pure-relevance argmax; round i scores every unpicked pool candidate
    * `0.5*rel - 0.5*max(cos to picked)` via a correlated subquery over
    * the union-of-picks CTE. Ties at every argmax break to the lower
    * nid, exactly the operator's contract.
    */
  private def mmrOracleSql(nQueries: Int, poolK: Int, selectK: Int): String = {
    val rounds = (2 to selectK).map { i =>
      s"""c$i AS (
         |  SELECT p.qid, p.nid, p.rel, p.nv,
         |    (SELECT max(list_cosine_similarity(p.nv, s.nv)) FROM u${i - 1} s
         |      WHERE s.qid = p.qid) AS red
         |  FROM pool p
         |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} x
         |                    WHERE x.qid = p.qid AND x.nid = p.nid)),
         |p$i AS (SELECT qid, nid, rel, nv, $i AS rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY 0.5 * rel - 0.5 * red DESC, nid) rn FROM c$i) WHERE rn = 1),
         |u$i AS (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < $nQueries),
       |c AS (SELECT vec_id nid, embedding nv FROM embeddings),
       |s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) rel, nv
       |      FROM q, c WHERE qid <> nid),
       |pool AS (SELECT qid, nid, rel, nv FROM (
       |  SELECT qid, nid, rel, nv,
       |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) rn FROM s)
       |  WHERE rn <= $poolK),
       |u1 AS (SELECT qid, nid, rel, nv, 1 AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) rn
       |  FROM pool) WHERE rn = 1),
       |$rounds
       |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, nid AS neighbor_id
       |FROM u$selectK ORDER BY 1, 2""".stripMargin
  }

  /** k-core peeling unrolled to a fixed depth: `rounds` CTE rounds per
    * level k (each round = degree-over-alive-restricted-edges with both
    * endpoints alive, keep deg >= k). Exact because coreNumbers THROWS if
    * any level needs more than `rounds` peel rounds — a converged run
    * makes the extra unrolled rounds no-ops, so both engines compute the
    * identical fixpoint.
    */
  private def kcoreOracleSql(maxK: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH d AS (SELECT doc_id FROM documents),
        |raw AS (
        |  SELECT doc_id % 60 AS a, (doc_id + 1) % 60 AS b FROM d
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id * 13 + 7) % 60 FROM d WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id % 97 + 100, doc_id % 60 FROM d WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id % 10 + 200, (doc_id * 3 + 1) % 10 + 200 FROM d
        |  WHERE doc_id % 4 = 0),
        |e AS MATERIALIZED (SELECT DISTINCT a, b FROM (
        |  SELECT a, b FROM raw WHERE a <> b
        |  UNION ALL SELECT b, a FROM raw WHERE a <> b)),
        |s0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM e)""".stripMargin)
    var prev = "s0"
    val levelFinals = Vector.newBuilder[(Int, String)]
    for (k <- 1 to maxK; r <- 1 to rounds) {
      val name = s"s${k}_$r"
      // MATERIALIZED is load-bearing: each round references the previous
      // one twice, so an inlining planner would expand the chain 2^96-fold
      sb.append(s",\n$name AS MATERIALIZED (SELECT e.a AS node FROM e" +
        s" JOIN $prev pa ON e.a = pa.node JOIN $prev pb ON e.b = pb.node" +
        s" GROUP BY e.a HAVING count(*) >= $k)")
      prev = name
      if (r == rounds) levelFinals += ((k, name))
    }
    val cases = levelFinals.result().reverse
      .map { case (k, n) => s"WHEN n.node IN (SELECT node FROM $n) THEN $k" }
      .mkString("\n    ", "\n    ", "")
    sb.append(
      s"""
         |SELECT coreness, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(node) AS BIGINT) AS sum_nodes
         |FROM (SELECT n.node, CAST(CASE$cases
         |    END AS BIGINT) AS coreness
         |  FROM s0 n)
         |GROUP BY 1 ORDER BY 1""".stripMargin)
    sb.toString
  }

  def oracleSql: Map[String, String] = Map(
    // sf-INVARIANT oracles for the pages-corpus queries: the synthetic pages
    // table is generated from the scale dir (not a driver parquet), so its
    // absolute counts are not DuckDB-derivable — but the north-rule
    // invariants are scale-free: byte-identity means ZERO mismatched rows
    // per format, and exactly-once resume means ZERO missing/overlapping
    // pages, at every sf. (Requires sf >= 0.01 so every format family,
    // including the degenerate 'unsupported' slot, is populated.)
    "x_match_rate" ->
      """SELECT format, CAST(z AS BIGINT) AS n_mismatched FROM (VALUES
        |  ('csv',0),('docx',0),('html',0),('odt',0),('pdf',0),('pptx',0),
        |  ('rtf',0),('txt',0),('unsupported',0),('xlsx',0)) t(format, z)
        |ORDER BY format""".stripMargin,
    "x_resume_antijoin" ->
      "SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_overlap",
    "x_extract_all" ->
      """SELECT CAST(10 AS BIGINT) AS n_formats,
        |  CAST(0 AS BIGINT) AS n_groups_with_mismatch,
        |  CAST(0 AS BIGINT) AS n_unknown_status""".stripMargin,
    "x_extract_by_format" ->
      """SELECT CAST(0 AS BIGINT) AS n_only_filtered,
        |  CAST(0 AS BIGINT) AS n_only_full,
        |  CAST(0 AS BIGINT) AS n_nonhtml""".stripMargin,
    "x_host_skew" ->
      """SELECT CAST(0 AS BIGINT) AS n_host_missing,
        |  CAST(0 AS BIGINT) AS n_stat_mismatch,
        |  CAST(0 AS BIGINT) AS n_internal_bad""".stripMargin,
    "x_pdf_features" ->
      """SELECT CAST(0 AS BIGINT) AS n_lines_inconsistent,
        |  CAST(0 AS BIGINT) AS n_pages_without_text,
        |  CAST(1 AS BIGINT) AS any_images,
        |  CAST(1 AS BIGINT) AS any_tables,
        |  CAST(1 AS BIGINT) AS any_multipage""".stripMargin,
    "x_incremental" ->
      """SELECT CAST(0 AS BIGINT) AS n_first_visible_diff,
        |  CAST(0 AS BIGINT) AS n_missing_after_incremental,
        |  CAST(0 AS BIGINT) AS n_pruned_diff,
        |  CAST(0 AS BIGINT) AS n_pruned_outside_range""".stripMargin,
    "x_recrawl_upsert" ->
      """SELECT CAST(0 AS BIGINT) AS n_committed_diff,
        |  CAST(0 AS BIGINT) AS n_latest_diff,
        |  CAST(0 AS BIGINT) AS n_stale_changed,
        |  CAST(0 AS BIGINT) AS n_drifted,
        |  CAST(0 AS BIGINT) AS n_vacuumed_diff,
        |  CAST(0 AS BIGINT) AS n_compacted_diff""".stripMargin,
    "x_retry_failed" ->
      """SELECT CAST(0 AS BIGINT) AS n_retry_commit_diff,
        |  CAST(0 AS BIGINT) AS n_still_failed,
        |  CAST(0 AS BIGINT) AS n_latest_diff,
        |  CAST(0 AS BIGINT) AS n_ok_drift,
        |  CAST(0 AS BIGINT) AS n_vacuous""".stripMargin,
    "x_takedown" ->
      """SELECT CAST(0 AS BIGINT) AS n_visible_diff,
        |  CAST(0 AS BIGINT) AS n_leaked,
        |  CAST(0 AS BIGINT) AS n_phys_diff,
        |  CAST(0 AS BIGINT) AS n_resurrect_commit_diff,
        |  CAST(0 AS BIGINT) AS n_after_resurrect_diff,
        |  CAST(0 AS BIGINT) AS n_resurrect_drift""".stripMargin,
    "x_dedup_extracted" ->
      """SELECT CAST(0 AS BIGINT) AS n_kept_diff,
        |  CAST(0 AS BIGINT) AS n_set_diff,
        |  CAST(1 AS BIGINT) AS has_duplicates""".stripMargin,
    "x_streaming" ->
      """SELECT CAST(0 AS BIGINT) AS n_count_drift,
        |  CAST(0 AS BIGINT) AS n_fingerprint_drift,
        |  CAST(0 AS BIGINT) AS n_replay_rows,
        |  CAST(0 AS BIGINT) AS n_replay_fingerprint_drift,
        |  CAST(0 AS BIGINT) AS n_dedup_drift""".stripMargin,
    // streamed-session totals recomputed by the batch sessionization SQL
    // (same 30-min gap, ts-only order — tie order cannot move stats);
    // drift columns pinned to zero
    "x_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER ew IS NULL
        |           OR tus - lag(tus) OVER ew > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW ew AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n, max(tus) - min(tus) AS dur
        |  FROM s GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_us,
        |  CAST(0 AS BIGINT) AS n_count_drift,
        |  CAST(0 AS BIGINT) AS n_fingerprint_drift
        |FROM per""".stripMargin,
    // stream-stream interval join mirror: the same request/response
    // synthesis and 600 s range condition as a plain SQL range join;
    // latency via second-boundary diff (both engines floor to seconds)
    // streamed funnel totals must equal the batch funnel recurrence (the
    // q_funnel oracle) AND carry a zero drift flag vs the batch operator
    "x_stream_funnel" ->
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) AS m, event_type AS et
        |  FROM events),
        |s1 AS (SELECT u, min(m) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
        |s2 AS (
        |  SELECT e.u, s1.t1, min(e.m) AS t2
        |  FROM ev e JOIN s1 ON e.u = s1.u
        |  WHERE e.et = 'click' AND e.m > s1.t1
        |    AND e.m - s1.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.u, s2.t1, min(e.m) AS t3
        |  FROM ev e JOIN s2 ON e.u = s2.u
        |  WHERE e.et = 'purchase' AND e.m > s2.t2
        |    AND e.m - s2.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT s1.u, s1.t1,
        |    CASE WHEN s3.t3 IS NOT NULL THEN 3
        |         WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached,
        |    coalesce(s3.t3, s2.t2, s1.t1) AS t_last
        |  FROM s1
        |  LEFT JOIN s2 ON s1.u = s2.u
        |  LEFT JOIN s3 ON s1.u = s3.u)
        |SELECT CAST(reached AS BIGINT) AS reached,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(u) AS BIGINT) AS id_sum,
        |  CAST(sum(t_last - t1) AS BIGINT) AS conv_micros,
        |  CAST(0 AS BIGINT) AS stream_batch_drift
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "x_stream_join" ->
      """WITH sjr AS (
        |  SELECT 'u/' || event_id AS url, ts AS req_ts
        |  FROM events WHERE ts IS NOT NULL),
        |sjp AS (
        |  SELECT 'u/' || event_id AS url,
        |    ts + (event_id % 900) * INTERVAL 1 SECOND AS resp_ts
        |  FROM events WHERE ts IS NOT NULL AND event_id % 7 <> 0),
        |sjj AS (
        |  SELECT r.url, date_diff('second', r.req_ts, p.resp_ts) AS lag
        |  FROM sjr r JOIN sjp p ON r.url = p.url
        |    AND p.resp_ts >= r.req_ts
        |    AND p.resp_ts <= r.req_ts + 600 * INTERVAL 1 SECOND)
        |SELECT CAST(count(*) AS BIGINT) AS n_matched,
        |  CAST(sum(lag) AS BIGINT) AS sum_latency_sec,
        |  CAST(sum(CASE WHEN lag <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
        |  CAST(sum(CASE WHEN lag > 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
        |  CAST(0 AS BIGINT) AS n_batch_drift
        |FROM sjj""".stripMargin,
    "x_maintenance" ->
      """SELECT CAST(0 AS BIGINT) AS n_row_drift,
        |  CAST(0 AS BIGINT) AS n_fingerprint_drift,
        |  CAST(1 AS BIGINT) AS n_live_commits,
        |  CAST(0 AS BIGINT) AS n_extra_dirs,
        |  CAST(0 AS BIGINT) AS n_expire_row_drift,
        |  CAST(0 AS BIGINT) AS n_expire_fp_drift,
        |  CAST(0 AS BIGINT) AS n_expired_diff,
        |  CAST(0 AS BIGINT) AS n_expire_reclaimed,
        |  CAST(0 AS BIGINT) AS n_expired_asof_readable,
        |  CAST(0 AS BIGINT) AS n_integrity_bad,
        |  CAST(0 AS BIGINT) AS n_fp_missing""".stripMargin,
    "x_resume_bucketed" ->
      """SELECT CAST(0 AS BIGINT) AS n_reprocessed,
        |  CAST(0 AS BIGINT) AS n_dup_urls,
        |  CAST(0 AS BIGINT) AS n_missing_urls,
        |  CAST(0 AS BIGINT) AS n_unmarked_commits,
        |  CAST(0 AS BIGINT) AS n_exchanges,
        |  CAST(0 AS BIGINT) AS n_not_smj_anti""".stripMargin,
    "x_sql_surface" ->
      """SELECT CAST(0 AS BIGINT) AS n_fn_missing,
        |  CAST(0 AS BIGINT) AS n_row_missing,
        |  CAST(0 AS BIGINT) AS n_extract_diff,
        |  CAST(0 AS BIGINT) AS n_textfn_diff,
        |  CAST(0 AS BIGINT) AS n_fp_diff,
        |  CAST(0 AS BIGINT) AS n_sniff_diff""".stripMargin,
    "x_json_sink" ->
      """SELECT format, CAST(z AS BIGINT) AS n_roundtrip_mismatched FROM (VALUES
        |  ('csv',0),('docx',0),('html',0),('odt',0),('pdf',0),('pptx',0),
        |  ('rtf',0),('txt',0),('unsupported',0),('xlsx',0)) t(format, z)
        |ORDER BY format""".stripMargin,
    // full SQL mirrors of the text-analysis kernels (langId / classify /
    // quality / fingerprint). Caveat shared by all four: Java's
    // Character.isWhitespace and RE2's \s differ on exotic whitespace
    // (U+000B, U+2000-U+200A, ...) — the documents corpus contains none
    // (asserted while authoring), so the mirrors are exact here.
    "t_fingerprint" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT rtrim(regexp_replace(text, '\s+', ' ', 'g'), ' ')) AS n_fingerprints
        |FROM documents""".stripMargin,
    "t_langid" ->
      s"""WITH b AS (
        |  SELECT lang, left(text, 4000) AS head, left(lower(text), 4000) AS lhead
        |  FROM documents),
        |${langIdDetectSql("", "b", "lang")}
        |SELECT lang, detected, count(*) AS n FROM d GROUP BY 1, 2 ORDER BY lang, detected""".stripMargin,
    // per-segment langid: case-preserved 50-token segments rebuilt in
    // SQL (string_agg ORDER BY position == the engine's chunk join), the
    // SAME decision chain applied per segment AND per full document, the
    // two verdicts compared per doc
    "t_langid_segments" ->
      s"""WITH lstok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i
        |  FROM documents),
        |lstok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |          FROM lstok0 WHERE w <> ''),
        |segsrc AS (
        |  SELECT doc_id, (i - 1) // 50 AS seg, string_agg(w, ' ' ORDER BY i) AS segtext
        |  FROM lstok GROUP BY 1, 2),
        |sb AS (SELECT doc_id, seg, left(segtext, 4000) AS head,
        |              left(lower(segtext), 4000) AS lhead FROM segsrc),
        |${langIdDetectSql("s", "sb", "doc_id, seg")},
        |fb AS (SELECT doc_id, left(text, 4000) AS head,
        |              left(lower(text), 4000) AS lhead FROM documents),
        |${langIdDetectSql("f", "fb", "doc_id")},
        |perdoc AS (
        |  SELECT s.doc_id, count(*) AS nseg,
        |    sum(CASE WHEN s.detected <> f.detected THEN 1 ELSE 0 END) AS noff
        |  FROM sd s JOIN fd f ON s.doc_id = f.doc_id
        |  GROUP BY 1)
        |SELECT dd.lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(p.nseg, 0)) AS BIGINT) AS n_segments,
        |  CAST(sum(coalesce(p.noff, 0)) AS BIGINT) AS n_off_segments,
        |  CAST(sum(CASE WHEN coalesce(p.noff, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mixed_docs
        |FROM documents dd LEFT JOIN perdoc p ON dd.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_classify" ->
      """WITH h AS (
        |  SELECT
        |    (CASE WHEN contains(lower(text), 'invoice') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'amount due') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'total due') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'invoice number') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'bill to') THEN 1 ELSE 0 END) AS h1,
        |    (CASE WHEN contains(lower(text), 'purchase order') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'po number') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'purchase order no') THEN 1 ELSE 0 END) AS h2,
        |    (CASE WHEN contains(lower(text), 'maintenance') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'job card') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'work order') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'technician') THEN 1 ELSE 0 END) AS h3,
        |    (CASE WHEN contains(lower(text), 'incident report') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'incident') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'reported') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'injury') THEN 1 ELSE 0 END) AS h4,
        |    (CASE WHEN contains(lower(text), 'board meeting') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'minutes') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'attendees') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'resolution') THEN 1 ELSE 0 END) AS h5,
        |    (CASE WHEN contains(lower(text), 'legal opinion') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'opinion of counsel') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'whereas') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'hereto') THEN 1 ELSE 0 END) AS h6,
        |    (CASE WHEN contains(lower(text), 'hr policy') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'human resources') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'leave policy') THEN 1 ELSE 0 END +
        |     CASE WHEN contains(lower(text), 'code of conduct') THEN 1 ELSE 0 END) AS h7,
        |    CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END AS empty
        |  FROM documents),
        |lab AS (
        |  SELECT CASE
        |    WHEN empty = 1 THEN 'Unknown'
        |    WHEN greatest(h1,h2,h3,h4,h5,h6,h7) = 0 THEN 'Unknown'
        |    WHEN h1 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'invoice'
        |    WHEN h2 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'purchase order'
        |    WHEN h3 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'maintenance'
        |    WHEN h4 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'incident report'
        |    WHEN h5 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'board meeting'
        |    WHEN h6 = greatest(h1,h2,h3,h4,h5,h6,h7) THEN 'legal opinion'
        |    ELSE 'hr policy' END AS label
        |  FROM h)
        |SELECT label, count(*) AS n FROM lab GROUP BY 1 ORDER BY label""".stripMargin,
    "t_textrank" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(least(2, CAST(ceil(len(string_split_regex(text,'\s+')) / 12.0) AS BIGINT))) AS BIGINT) AS n_summary_sentences,
        |  CAST(0 AS BIGINT) AS n_bad
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "t_quality_score" ->
      s"""WITH $qualityCtes
        |SELECT score, count(*) AS n FROM qs GROUP BY 1 ORDER BY score""".stripMargin,
    "t_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(string_split_regex(text,'\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // readability numerators: the same injected-terminator text (global
    // \b-bounded replace), regexp_extract_all run counts + filtered
    // token-length counts, both engines over the identical patterns
    "t_readability" ->
      raw"""WITH rsrc AS (
        |  SELECT lang, regexp_replace(lower(text), '\bthe\b', 'the.', 'g') AS ptext
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(ptext, '[.!?]+'))) AS BIGINT) AS n_sents,
        |  CAST(sum(len(list_filter(string_split_regex(ptext, '\s+'),
        |    w -> w <> ''))) AS BIGINT) AS n_words,
        |  CAST(sum(len(list_filter(string_split_regex(ptext, '\s+'),
        |    w -> len(w) >= 7))) AS BIGINT) AS n_long_words,
        |  CAST(sum(len(regexp_extract_all(ptext, '[aeiou]+'))) AS BIGINT) AS n_vowel_runs
        |FROM rsrc GROUP BY 1 ORDER BY 1""".stripMargin,
    // compressibility invariants: zlib is engine-side-only, so the
    // oracle is the x_*-style sf-invariant-zeros form anchored by n_docs
    "t_compress_ratio" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_rep_not_smaller,
        |  CAST(0 AS BIGINT) AS n_expansion_violations
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_quality_counts" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(regexp_replace(text,'[^a-zA-Z]','','g'))) AS BIGINT) AS sum_letters,
        |  CAST(sum(length(regexp_replace(text,'[^0-9]','','g'))) AS BIGINT) AS sum_digits,
        |  CAST(sum(length(string_split_regex(text,'\s+'))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // incremental bloom ingest: with zero fpp collisions (deterministic
    // for this corpus, asserted by the exact compare) the admitted set
    // is exactly the odd (fresh) leg; n_admitted_odd == n_admitted pins
    // that no recrawled duplicate slipped through
    "d_incremental_bloom" ->
      """SELECT source, count(*) AS n_admitted,
        |  CAST(count(*) AS BIGINT) AS n_admitted_odd
        |FROM documents WHERE doc_id % 2 = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "d_exact" ->
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents",
    // winnowing replay: lead-window 3-grams, md5-prefix hashes, packed
    // (h, rightmost-pos) key min over the 4-frame, distinct selections
    "d_winnowing" -> {
      val h8 = md5PrefixSql("g", 8)
      raw"""WITH winj AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 3 = 0
        |    THEN ' storm warnings continue across the northern valley as heavy snow closes mountain roads again'
        |    ELSE '' END AS text
        |  FROM documents),
        |${tokCtesOver("winj", "wn")},
        |wng0 AS (SELECT doc_id, i - 1 AS pos,
        |    w || ' ' || lead(w, 1) OVER wwin || ' ' || lead(w, 2) OVER wwin AS g
        |  FROM wntok WINDOW wwin AS (PARTITION BY doc_id ORDER BY i)),
        |wng AS (SELECT doc_id, pos,
        |    (""".stripMargin + h8 + raw""") AS h
        |  FROM wng0 WHERE g IS NOT NULL),
        |wnk AS (SELECT doc_id, pos, h,
        |    h * 1048576 + (1048575 - pos) AS wkey FROM wng),
        |wnw AS (SELECT doc_id, pos,
        |    min(wkey) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win,
        |    count(*) OVER (PARTITION BY doc_id) AS ng
        |  FROM wnk),
        |wfp AS (SELECT DISTINCT doc_id,
        |    1048575 - (win % 1048576) AS pos, win // 1048576 AS h
        |  FROM wnw WHERE pos <= ng - 4),
        |wdf AS (SELECT h, count(DISTINCT doc_id) AS df FROM wfp GROUP BY 1),
        |wsh AS (SELECT count(DISTINCT f.doc_id) AS n_shared_docs
        |  FROM wfp f JOIN wdf d ON f.h = d.h AND d.df > 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_fp_total,
        |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_hashes,
        |  (SELECT CAST(n_shared_docs AS BIGINT) FROM wsh) AS n_shared_docs,
        |  CAST(sum(pos) AS BIGINT) AS sum_pos,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM wfp""".stripMargin
    },
    // mirror of TextStats.chunk(.,10) segmentation + first-occurrence-wins
    // paragraph dedup + recomposition: kept chars = kept para lengths plus
    // the (n_kept - 1) single-space joiners
    "d_paragraph_dedup" ->
      raw"""WITH src AS (
        |  SELECT doc_id, source,
        |    'accept all cookies to continue reading this page free today ' || text AS text
        |  FROM documents),
        |ptok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
        |  FROM src),
        |ptok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |         FROM ptok0 WHERE w <> ''),
        |paras AS (
        |  SELECT doc_id, (i - 1) // 10 AS pos, string_agg(w, ' ' ORDER BY i) AS para
        |  FROM ptok GROUP BY doc_id, (i - 1) // 10),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM paras),
        |perdoc AS (
        |  SELECT doc_id,
        |    count(*) AS n_paras,
        |    sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS n_kept,
        |    coalesce(sum(CASE WHEN rk = 1 THEN length(para) END), 0)
        |      + CASE WHEN sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) > 1
        |             THEN sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) - 1 ELSE 0 END AS kept_chars
        |  FROM ranked GROUP BY doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_paras), 0) AS BIGINT) AS n_paras,
        |  CAST(coalesce(sum(p.n_kept), 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(p.kept_chars), 0) AS BIGINT) AS sum_kept_chars
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // mirror of Dedup.dedupSpans(k=5): all overlapping 5-gram occurrences,
    // global first occurrence per gram wins (ORDER BY doc_id, pos == the
    // Spark min(struct)), a token is removed iff covered by a losing
    // occurrence, clean chars = kept token lengths + (n_kept - 1) joiners
    "d_span_dedup" ->
      raw"""WITH src AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN text ||
        |      ' winter storms bring heavy snow across the northern valley roads closing schools until further notice'
        |    ELSE text END AS text
        |  FROM documents),
        |stok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
        |  FROM src),
        |stok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |         FROM stok0 WHERE w <> ''),
        |occ AS (
        |  SELECT doc_id, i AS pos,
        |    w || ' ' || lead(w,1) OVER swin || ' ' || lead(w,2) OVER swin || ' ' ||
        |    lead(w,3) OVER swin || ' ' || lead(w,4) OVER swin AS g
        |  FROM stok WINDOW swin AS (PARTITION BY doc_id ORDER BY i)),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
        |  FROM occ WHERE g IS NOT NULL),
        |dups AS (SELECT doc_id, pos FROM ranked WHERE rk > 1),
        |removed AS (
        |  SELECT DISTINCT t.doc_id, t.i
        |  FROM stok t JOIN dups d ON t.doc_id = d.doc_id
        |    AND t.i >= d.pos AND t.i < d.pos + 5),
        |perdoc AS (
        |  SELECT t.doc_id,
        |    count(*) AS n_tokens,
        |    sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(sum(CASE WHEN r.i IS NULL THEN length(t.w) END), 0)
        |      + CASE WHEN count(*) - sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) > 1
        |             THEN count(*) - sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) - 1
        |             ELSE 0 END AS clean_len
        |  FROM stok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        |  GROUP BY t.doc_id)
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(p.n_removed), 0) AS BIGINT) AS n_removed,
        |  CAST(coalesce(sum(p.clean_len), 0) AS BIGINT) AS sum_clean_len,
        |  CAST(coalesce(sum(CASE WHEN p.n_removed > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_docs_affected
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // mirror of Boilerplate.stripTemplateLines(1/2, minDocs=3): the same
    // synthesized line lists, per-(site, line) distinct-doc frequency vs
    // the site's doc count in exact integer arithmetic, recomposition in
    // original line order (string_agg skips the template lines' NULLs)
    "d_template_lines" ->
      """WITH aug AS (
        |  SELECT doc_id, 'site' || CAST(doc_id % 7 AS VARCHAR) AS site,
        |    ['Home | About | Site ' || CAST(doc_id % 7 AS VARCHAR)]
        |    || [text]
        |    || (CASE WHEN doc_id % 4 <> 0
        |             THEN ['This site uses cookies ' || CAST(doc_id % 7 AS VARCHAR)]
        |             ELSE [] END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN ['Subscribe to our newsletter today'] ELSE [] END)
        |    || (CASE WHEN doc_id % 2 = 0
        |             THEN ['All rights reserved ' || CAST(doc_id % 7 AS VARCHAR)]
        |             ELSE [] END) AS ls
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, site,
        |    generate_subscripts(ls, 1) - 1 AS pos, unnest(ls) AS line
        |  FROM aug),
        |nd AS (SELECT site, count(DISTINCT doc_id) AS n FROM aug GROUP BY 1),
        |freq AS (SELECT site, line, count(DISTINCT doc_id) AS df
        |         FROM lines GROUP BY 1, 2),
        |tmpl AS (SELECT f.site, f.line FROM freq f JOIN nd USING (site)
        |         WHERE f.df >= 3 AND f.df * 2 >= nd.n),
        |kept AS (
        |  SELECT l.doc_id, l.site, l.pos, l.line,
        |         (t.line IS NOT NULL) AS isb
        |  FROM lines l LEFT JOIN tmpl t ON l.site = t.site AND l.line = t.line),
        |perdoc AS (
        |  SELECT doc_id, min(site) AS site, count(*) AS n_lines,
        |    sum(CASE WHEN isb THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN NOT isb THEN line END, chr(10) ORDER BY pos), '')
        |      AS clean
        |  FROM kept GROUP BY doc_id)
        |SELECT site, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_lines) AS BIGINT) AS n_lines,
        |  CAST(sum(n_removed) AS BIGINT) AS n_removed,
        |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(clean), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(clean), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(clean), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(clean), 4, 1)) - 1)) AS BIGINT)
        |    AS sum_clean_md5pfx
        |FROM perdoc GROUP BY site ORDER BY site""".stripMargin,
    "p_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(length(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(cum) AS BIGINT) AS total_tokens,
        |  CAST((max(cum) + 255) // 256 AS BIGINT) AS n_sequences,
        |  CAST(sum(CASE WHEN (cum - toks) // 256 <> (cum - 1) // 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM c""".stripMargin,
    "p_sample_stratified" ->
      """WITH rk AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |kept AS (SELECT lang, doc_id FROM rk WHERE rk <= (n * 1 + 4) // 5),
        |tot AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1)
        |SELECT t.lang, CAST(t.n_total AS BIGINT) AS n_total,
        |  CAST(count(k.doc_id) AS BIGINT) AS n_kept,
        |  CAST(sum(k.doc_id) AS BIGINT) AS sum_kept_ids
        |FROM tot t JOIN kept k USING (lang)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // TRUE heavy set with exact counts; in_sketch = TRUE is the provable
    // Misra-Gries no-false-negative guarantee above the N/(k+1) floor
    "t_heavy_hitters" ->
      raw"""WITH ht0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |ht AS (SELECT w FROM ht0 WHERE w <> ''),
        |hc AS (SELECT w, count(*) AS n FROM ht GROUP BY 1),
        |htot AS (SELECT count(*) AS tot FROM ht)
        |SELECT w AS token, CAST(n AS BIGINT) AS n, TRUE AS in_sketch
        |FROM hc, htot WHERE n * 65 > tot
        |ORDER BY token""".stripMargin,
    // mirror of UnigramLm.scoreDocs(topV=500): same tokenization, vocab
    // re-ranked by (count DESC, token ASC), LEFT JOIN scores each token,
    // per-doc LEFT JOIN keeps token-less docs
    "t_unigram_lm" ->
      raw"""WITH utok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |utok AS (SELECT doc_id, w FROM utok0 WHERE w <> ''),
        |vc AS (SELECT w, count(*) AS cnt FROM utok GROUP BY 1),
        |vocab AS (
        |  SELECT w, cnt FROM (
        |    SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM vc)
        |  WHERE rk <= 500),
        |perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |    coalesce(sum(v.cnt), 0) AS commonness
        |  FROM utok t LEFT JOIN vocab v ON t.w = v.w
        |  GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(p.n_oov), 0) AS BIGINT) AS n_oov,
        |  CAST(coalesce(sum(p.commonness), 0) AS BIGINT) AS sum_commonness
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // bigram-LM fluency: the same appended 30-word chain, both variants
    // from one renumbered token sequence (rev = ORDER BY -i), bigrams by
    // lead(), top-64 table from the orig variant with the (cnt DESC, w1,
    // w2) total order, corpus-size-relative integer keep gate mirrored
    // verbatim
    "t_bigram_fluency" ->
      raw"""WITH bsrc AS (
        |  SELECT doc_id, lang, text ||
        |    ' amber basalt cedar dune ember fjord grove harbor inlet' ||
        |    ' juniper kelp lagoon marble nectar opal prairie quartz reef summit' ||
        |    ' tundra umber violet willow xenon yarrow zephyr azure boulder canyon delta'
        |    AS text
        |  FROM documents),
        |${tokCtesOver("bsrc", "bg")},
        |var AS (
        |  SELECT doc_id, 'orig' AS variant, w, i FROM bgtok
        |  UNION ALL
        |  SELECT doc_id, 'rev' AS variant, w, -i AS i FROM bgtok),
        |big0 AS (
        |  SELECT doc_id, variant, w AS w1,
        |         lead(w) OVER (PARTITION BY doc_id, variant ORDER BY i) AS w2
        |  FROM var),
        |big AS (SELECT * FROM big0 WHERE w2 IS NOT NULL),
        |vc AS (SELECT w1, w2, count(*) AS cnt FROM big WHERE variant = 'orig' GROUP BY 1, 2),
        |vocab AS (
        |  SELECT w1, w2, cnt FROM (
        |    SELECT w1, w2, cnt, row_number() OVER (ORDER BY cnt DESC, w1, w2) AS rk FROM vc)
        |  WHERE rk <= 64),
        |perdoc AS (
        |  SELECT b.doc_id, b.variant, count(*) AS nb,
        |         sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS noov,
        |         coalesce(sum(v.cnt), 0) AS flu
        |  FROM big b LEFT JOIN vocab v ON b.w1 = v.w1 AND b.w2 = v.w2
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT d.doc_id, d.lang, vr.variant,
        |         coalesce(p.nb, 0) AS nb, coalesce(p.noov, 0) AS noov,
        |         coalesce(p.flu, 0) AS flu
        |  FROM bsrc d
        |  CROSS JOIN (SELECT 'orig' AS variant UNION ALL SELECT 'rev') vr
        |  LEFT JOIN perdoc p ON d.doc_id = p.doc_id AND vr.variant = p.variant)
        |SELECT variant, lang, count(*) AS n_docs,
        |  CAST(sum(nb) AS BIGINT) AS n_bigrams,
        |  CAST(sum(noov) AS BIGINT) AS n_oov_bigrams,
        |  CAST(sum(flu) AS BIGINT) AS sum_fluency,
        |  CAST(sum(CASE WHEN flu * 20 >= nb * (SELECT count(*) FROM documents)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // 8-round BPE replay: stage i = pair counts over the two-space
    // symbolization (list-indexed adjacency), argmax by (cnt DESC, t1,
    // t2), literal-replace merge application (leftmost non-overlapping
    // replace == greedy BPE under the double-space boundary scheme)
    "t_bpe_merges" -> bpeOracleSql(8),
    "t_bpe_merges_deep" -> bpeOracleSql(64),
    // CMS replay: per-row hash = md5("i|w") 4-hex-digit prefix mod 256;
    // cell table and min-over-rows estimates both exact integers
    "t_cms_sketch" -> {
      def h4(arg: String) = md5PrefixSql(arg, 4)
      s"""WITH ${tokCtesOver("documents", "cm")},
        |cmr AS (SELECT i AS ri FROM range(0, 4) r(i)),
        |cmcells AS (SELECT ri AS i, (${h4("CAST(ri AS VARCHAR) || '|' || w")}) % 256 AS b,
        |    count(*) AS c
        |  FROM cmtok CROSS JOIN cmr GROUP BY 1, 2),
        |cmp(p) AS (VALUES ('data'), ('query'), ('spark'), ('zzznever')),
        |cmpe AS (SELECT p.p, min(coalesce(t.c, 0)) AS n_est
        |  FROM cmp p CROSS JOIN cmr r
        |  LEFT JOIN cmcells t ON t.i = r.ri
        |    AND t.b = (${h4("CAST(r.ri AS VARCHAR) || '|' || p.p")}) % 256
        |  GROUP BY 1),
        |cmtrue AS (SELECT w AS p, count(*) AS n FROM cmtok GROUP BY 1)
        |SELECT e.p AS token, CAST(coalesce(tr.n, 0) AS BIGINT) AS n_true,
        |  CAST(e.n_est AS BIGINT) AS n_est
        |FROM cmpe e LEFT JOIN cmtrue tr USING (p)
        |ORDER BY token""".stripMargin
    },
    // HLL register replay: same md5-prefix 32-bit hash (strpos hex
    // arithmetic), bucket = top 8 bits, rho = 25 - length(bin(suffix))
    // (bin drops leading zeros in both engines; suffix 0 pinned to 25)
    "t_hll_distinct" -> {
      def hash32(v: String) = md5PrefixSql(v, 8)
      def leg(kind: String, p: String, srcSql: String, v: String) =
        s"""${p}src AS (SELECT DISTINCT $v AS v FROM $srcSql),
          |${p}h AS (SELECT ${hash32("CAST(v AS VARCHAR)")} AS h FROM ${p}src),
          |${p}r AS (SELECT h // 16777216 AS bucket,
          |  CASE WHEN h % 16777216 = 0 THEN 25 ELSE 25 - length(bin(h % 16777216)) END AS rho
          |  FROM ${p}h),
          |${p}g AS (SELECT bucket, max(rho) AS reg FROM ${p}r GROUP BY 1),
          |${p}out AS (SELECT '$kind' AS kind,
          |  (SELECT CAST(count(*) AS BIGINT) FROM ${p}src) AS n_exact,
          |  CAST(count(*) AS BIGINT) AS n_buckets,
          |  CAST(sum(reg) AS BIGINT) AS sum_regs,
          |  CAST(max(reg) AS BIGINT) AS max_reg FROM ${p}g)""".stripMargin
      s"""WITH hltok0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents),
        |${leg("tokens", "hl1", "(SELECT w FROM hltok0 WHERE w <> '')", "w")},
        |${leg("doc_ids", "hl2", "documents", "doc_id")}
        |SELECT * FROM (SELECT * FROM hl1out UNION ALL SELECT * FROM hl2out)
        |ORDER BY kind""".stripMargin
    },
    // KMV/theta sketch mirror: the k minimum DISTINCT 12-hex-digit
    // md5-prefix hashes per side are plain ORDER BY h LIMIT k in SQL;
    // theta is the k-th minimum (or 2^48 when unsaturated), and the
    // common-below-theta count is an exact integer join. Value domain is
    // word trigrams (same list_transform construction as the ngram-pair
    // oracles) so both sketches saturate at k=256.
    "t_theta_sketch" -> {
      val h12 = md5PrefixSql("w", 12)
      s"""WITH tsw0 AS (
        |  SELECT doc_id % 2 AS side, string_split_regex(lower(text), '\\s+') AS ws
        |  FROM documents
        |  WHERE length(string_split_regex(lower(text), '\\s+')) >= 3),
        |tsw AS (SELECT DISTINCT side,
        |    unnest(list_transform(generate_series(1, len(ws)-2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS w
        |  FROM tsw0),
        |tsh AS (SELECT side, w, $h12 AS h FROM tsw),
        |tska AS (SELECT DISTINCT h FROM tsh WHERE side = 0 ORDER BY h LIMIT 256),
        |tskb AS (SELECT DISTINCT h FROM tsh WHERE side = 1 ORDER BY h LIMIT 256),
        |tsa AS (SELECT CAST(count(*) AS BIGINT) AS n_sk_a,
        |  CAST(CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS BIGINT) AS theta_a
        |  FROM tska),
        |tsb AS (SELECT CAST(count(*) AS BIGINT) AS n_sk_b,
        |  CAST(CASE WHEN count(*) < 256 THEN 281474976710656 ELSE max(h) END AS BIGINT) AS theta_b
        |  FROM tskb),
        |tsna AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact_a FROM tsh WHERE side = 0),
        |tsnb AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact_b FROM tsh WHERE side = 1),
        |tsnc AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_common FROM
        |  (SELECT w FROM tsh WHERE side = 0 INTERSECT SELECT w FROM tsh WHERE side = 1)),
        |tscs AS (SELECT CAST(count(*) AS BIGINT) AS n_common_sk
        |  FROM tska JOIN tskb USING (h), tsa, tsb
        |  WHERE h < least(theta_a, theta_b))
        |SELECT n_exact_a, n_exact_b, n_exact_common, n_sk_a, n_sk_b,
        |  theta_a, theta_b, n_common_sk
        |FROM tsna, tsnb, tsnc, tsa, tsb, tscs""".stripMargin
    },
    // mirror of HashClassifier.score with the driver's weight formula:
    // bucket = int(md5(lower(token))[0..4)) % 256 via strpos arithmetic,
    // weight = ((b*37 + 11) % 201) - 100, per-doc integer score summed
    // per lang (LEFT JOIN keeps token-less docs as score-0 non-keeps)
    "t_hash_classifier" ->
      raw"""WITH ctok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |ctok AS (SELECT doc_id, lower(w) AS w FROM ctok0 WHERE w <> ''),
        |cb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) % 256 AS b
        |  FROM ctok),
        |perdoc AS (
        |  SELECT doc_id, sum(((b * 37 + 11) % 201) - 100) AS score,
        |         count(*) AS toks
        |  FROM cb GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN p.score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(coalesce(sum(p.score), 0) AS BIGINT) AS sum_score,
        |  CAST(coalesce(sum(p.toks), 0) AS BIGINT) AS n_tokens
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // mirror of Sampling.domainMixExact(1, 2): w = floor(sqrt(n)) is
    // engine-exact for n < 2^52, targets are pure integer div in the SAME
    // operation order as the Spark expr, kept set re-derived by md5 rank
    "p_domain_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS nsum, sum(w) AS wsum FROM c),
        |tgt AS (SELECT c.source, c.n,
        |          least(c.n, ((tot.nsum * 1 // 2) * c.w) // tot.wsum) AS target
        |        FROM c, tot),
        |rk AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents),
        |kept AS (
        |  SELECT r.source, r.doc_id
        |  FROM rk r JOIN tgt t ON r.source = t.source WHERE r.rk <= t.target)
        |SELECT c.source, CAST(c.n AS BIGINT) AS n_total,
        |  CAST(count(k.doc_id) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
        |FROM c LEFT JOIN kept k ON c.source = k.source
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // mirror of Dsir.selectTop over target = doc_id % 17, raw = all docs:
    // unigram+bigram grams (repeats kept, positions renumbered after the
    // empty-token filter), md5-prefix-16 % 256 buckets, per-bucket delta
    // = cntT*totR - cntR*totT, per-doc integer score = sum of deltas,
    // gram-free docs kept at score 0, top-25 by (score desc, doc_id)
    "p_dsir_select" ->
      raw"""WITH tok0 AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS w0
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS ls
        |        FROM documents)),
        |tok AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
        |    lower(w0) AS w
        |  FROM tok0 WHERE w0 <> ''),
        |grams AS (
        |  SELECT doc_id, w AS g FROM tok
        |  UNION ALL
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1),
        |gb AS (
        |  SELECT doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 256 AS b
        |  FROM grams),
        |rcnt AS (SELECT b, count(*) AS c FROM gb GROUP BY 1),
        |tcnt AS (SELECT b, count(*) AS c FROM gb WHERE doc_id % 17 = 0 GROUP BY 1),
        |tot AS (SELECT (SELECT sum(c) FROM tcnt) AS tt,
        |               (SELECT sum(c) FROM rcnt) AS tr),
        |delta AS (
        |  SELECT r.b, coalesce(t.c, 0) * tot.tr - r.c * tot.tt AS d
        |  FROM rcnt r LEFT JOIN tcnt t USING (b) CROSS JOIN tot),
        |sc AS (
        |  SELECT gb.doc_id, CAST(sum(delta.d) AS BIGINT) AS score,
        |         CAST(count(*) AS BIGINT) AS n_grams
        |  FROM gb JOIN delta ON gb.b = delta.b GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(s.score, 0) AS BIGINT) AS score,
        |  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams
        |FROM documents d LEFT JOIN sc s ON d.doc_id = s.doc_id
        |ORDER BY score DESC, d.doc_id LIMIT 25""".stripMargin,
    // complete five-stage mirror of p_pipeline_clean: injection -> the
    // p_scrub_pii regex chain -> the d_span_dedup gram/winner/coverage
    // CTEs -> per-doc recompose + hashed-classifier score over the KEPT
    // tokens (identical to scoring the recomposed text: tokens contain no
    // whitespace) -> domain-mix targets over gate survivors -> shard ids
    // from md5(recomposed) hex arithmetic
    "p_pipeline_clean" ->
      raw"""WITH inj AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' winter storms bring heavy snow across the northern valley roads closing schools until further notice' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 254 AS VARCHAR) ELSE '' END
        |    AS text
        |  FROM documents),
        |c1 AS (SELECT doc_id, source,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne
        |       FROM inj),
        |c2 AS (SELECT doc_id, source, ne,
        |         regexp_replace(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS t,
        |         len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS np
        |       FROM c1),
        |c3 AS (SELECT doc_id, source, ne, np,
        |         regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean,
        |         len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni
        |       FROM c2),
        |sc AS (SELECT doc_id, source, clean, CAST(ne + np + ni AS BIGINT) AS pii_hits FROM c3),
        |stok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(clean, '\s+')) AS w,
        |         generate_subscripts(string_split_regex(clean, '\s+'), 1) AS i
        |  FROM sc),
        |stok AS (SELECT doc_id, w, md5(lower(w)) AS hw,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |         FROM stok0 WHERE w <> ''),
        |occ AS (
        |  SELECT doc_id, i AS pos,
        |    w || ' ' || lead(w,1) OVER swin || ' ' || lead(w,2) OVER swin || ' ' ||
        |    lead(w,3) OVER swin || ' ' || lead(w,4) OVER swin AS g
        |  FROM stok WINDOW swin AS (PARTITION BY doc_id ORDER BY i)),
        |ranked AS (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
        |  FROM occ WHERE g IS NOT NULL),
        |dups AS (SELECT doc_id, pos FROM ranked WHERE rk > 1),
        |removed AS (
        |  SELECT DISTINCT t.doc_id, t.i
        |  FROM stok t JOIN dups d ON t.doc_id = d.doc_id
        |    AND t.i >= d.pos AND t.i < d.pos + 5),
        |sdoc AS (
        |  SELECT t.doc_id,
        |    sum(CASE WHEN r.i IS NOT NULL THEN 1 ELSE 0 END) AS n_removed,
        |    coalesce(string_agg(CASE WHEN r.i IS NULL THEN t.w END, ' ' ORDER BY t.i), '') AS clean2,
        |    coalesce(sum(CASE WHEN r.i IS NULL THEN
        |      ((((strpos('0123456789abcdef', substr(t.hw, 1, 1)) - 1) * 4096
        |         + (strpos('0123456789abcdef', substr(t.hw, 2, 1)) - 1) * 256
        |         + (strpos('0123456789abcdef', substr(t.hw, 3, 1)) - 1) * 16
        |         + (strpos('0123456789abcdef', substr(t.hw, 4, 1)) - 1)) % 256) * 37 + 11) % 201 - 100
        |      ELSE 0 END), 0) AS score
        |  FROM stok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.i = r.i
        |  GROUP BY t.doc_id),
        |docstats AS (
        |  SELECT s.doc_id, s.source, s.pii_hits,
        |    coalesce(d.n_removed, 0) AS n_removed,
        |    coalesce(d.clean2, '') AS clean2,
        |    coalesce(d.score, 0) AS score
        |  FROM sc s LEFT JOIN sdoc d ON s.doc_id = d.doc_id),
        |gated AS (SELECT * FROM docstats WHERE score > 0),
        |mc AS (SELECT source, count(*) AS n,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        |       FROM gated GROUP BY 1),
        |mtot AS (SELECT sum(n) AS nsum, sum(w) AS wsum FROM mc),
        |mtgt AS (SELECT mc.source,
        |           least(mc.n, ((mtot.nsum * 1 // 2) * mc.w) // mtot.wsum) AS target
        |         FROM mc, mtot),
        |mrk AS (
        |  SELECT source, doc_id, clean2,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(clean2), doc_id) AS rk
        |  FROM gated),
        |mkept AS (
        |  SELECT r.source, r.doc_id, r.clean2
        |  FROM mrk r JOIN mtgt t ON r.source = t.source WHERE r.rk <= t.target),
        |kshard AS (
        |  SELECT source, doc_id,
        |    ((strpos('0123456789abcdef', substr(md5(clean2), 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(md5(clean2), 4, 1)) - 1)) % 8 AS shard_id
        |  FROM mkept)
        |SELECT b.source, b.n_docs, b.n_pii_hits, b.n_span_removed, b.n_gate,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(k.sum_kept_ids, 0) AS BIGINT) AS sum_kept_ids,
        |  CAST(coalesce(k.sum_shards, 0) AS BIGINT) AS sum_shards
        |FROM (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(pii_hits) AS BIGINT) AS n_pii_hits,
        |    CAST(sum(n_removed) AS BIGINT) AS n_span_removed,
        |    CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gate
        |  FROM docstats GROUP BY 1) b
        |LEFT JOIN (
        |  SELECT source, count(*) AS n_kept, sum(doc_id) AS sum_kept_ids,
        |    sum(shard_id) AS sum_shards
        |  FROM kshard GROUP BY 1) k
        |ON b.source = k.source
        |ORDER BY b.source""".stripMargin,
    // mirror of Sharding.assignShards(nShards=8): the 16-bit md5 hex
    // prefix parsed via strpos arithmetic (DuckDB has no base-16 conv;
    // the VALUE is what must match, and integer ops are exact). The
    // coalesce mirrors the kernel's null-total assignment.
    // z-order replay: identical percent_rank buckets, expanded-literal
    // Morton interleave, both file layouts, both stats-pruning counts
    "p_zorder" ->
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    least(15, CAST(floor(percent_rank() OVER (ORDER BY l_partkey) * 16.0) AS BIGINT)) AS ba,
        |    least(15, CAST(floor(percent_rank() OVER (ORDER BY l_suppkey) * 16.0) AS BIGINT)) AS bb
        |  FROM lineitem),
        |z AS (
        |  SELECT *,
        |    ((ba >> 0) & 1) * 2 + ((bb >> 0) & 1) * 1
        |    + ((ba >> 1) & 1) * 8 + ((bb >> 1) & 1) * 4
        |    + ((ba >> 2) & 1) * 32 + ((bb >> 2) & 1) * 16
        |    + ((ba >> 3) & 1) * 128 + ((bb >> 3) & 1) * 64 AS zv
        |  FROM b),
        |fz AS (SELECT *, (row_number() OVER (ORDER BY zv, l_orderkey, l_linenumber) - 1) // 512 AS fid FROM z),
        |sz AS (SELECT fid, min(ba) AS mina, max(ba) AS maxa, min(bb) AS minb, max(bb) AS maxb
        |       FROM fz GROUP BY 1),
        |fl AS (SELECT *, (row_number() OVER (ORDER BY ba, l_orderkey, l_linenumber) - 1) // 512 AS fid FROM z),
        |sl AS (SELECT fid, min(ba) AS mina, max(ba) AS maxa, min(bb) AS minb, max(bb) AS maxb
        |       FROM fl GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM sz) AS n_files,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3 AND minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_box,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_a_only,
        |  (SELECT CAST(sum(CASE WHEN minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sz) AS z_b_only,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3 AND minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_box,
        |  (SELECT CAST(sum(CASE WHEN mina <= 5 AND maxa >= 3
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_a_only,
        |  (SELECT CAST(sum(CASE WHEN minb <= 12 AND maxb >= 9
        |     THEN 1 ELSE 0 END) AS BIGINT) FROM sl) AS lin_b_only,
        |  (SELECT CAST(sum(zv) AS BIGINT) FROM z) AS sum_zvalue""".stripMargin,
    "p_shard_plan" ->
      raw"""WITH h AS (
        |  SELECT doc_id, md5(coalesce(text, '')) AS h,
        |    CAST(length(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, CAST(
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |     + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |     + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 8
        |    AS INTEGER) AS shard_id
        |  FROM h)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // every doc counts in n_docs (LEFT JOIN from documents + coalesce):
    // a <2-token doc has no bigram rows but the Spark side still reports
    // it with all-zero stats
    "t_repetition" ->
      """WITH tok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w,
        |         generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS i
        |  FROM documents),
        |tok AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
        |        FROM tok0 WHERE w <> ''),
        |grams AS (SELECT doc_id,
        |    w || ' ' || lead(w,1) OVER win AS g2,
        |    w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win AS g3
        |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY i)),
        |c2 AS (SELECT doc_id, g2, count(*) AS c FROM grams WHERE g2 IS NOT NULL GROUP BY 1,2),
        |per2 AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS n2 FROM c2 GROUP BY 1),
        |c3 AS (SELECT doc_id, g3, count(*) AS c FROM grams WHERE g3 IS NOT NULL GROUP BY 1,2),
        |per3 AS (SELECT doc_id, CAST(sum(CASE WHEN c>=2 THEN c ELSE 0 END) AS BIGINT) AS dup3,
        |                CAST(sum(c) AS BIGINT) AS n3 FROM c3 GROUP BY 1)
        |SELECT d.lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(top2,0)) AS BIGINT) AS sum_top2,
        |  CAST(max(coalesce(top2,0)) AS BIGINT) AS max_top2,
        |  CAST(sum(coalesce(n2,0)) AS BIGINT) AS sum_bigrams,
        |  CAST(sum(coalesce(dup3,0)) AS BIGINT) AS sum_dup3,
        |  CAST(sum(coalesce(n3,0)) AS BIGINT) AS sum_3grams,
        |  CAST(sum(CASE WHEN coalesce(dup3,0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup3
        |FROM documents d LEFT JOIN per2 USING (doc_id) LEFT JOIN per3 USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "p_decontaminate" ->
      s"""WITH ${gramCtesOver("documents", "d")},
        |g AS (SELECT doc_id, g FROM dgrams WHERE g IS NOT NULL),
        |eval_g AS (SELECT DISTINCT g FROM g WHERE doc_id % 41 = 0),
        |hits AS (SELECT g.doc_id, count(*) AS n_hit FROM g JOIN eval_g USING (g)
        |         WHERE g.doc_id % 41 <> 0 GROUP BY 1)
        |SELECT d.lang,
        |  CAST(count(*) AS BIGINT) AS n_train,
        |  CAST(count(h.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(coalesce(sum(h.n_hit), 0) AS BIGINT) AS n_hits
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 41 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical URL synthesis; UrlCanon's first-occurrence splits replayed
    // as strpos arithmetic, param filter+sort via list functions, the
    // canonical strings themselves pinned by the md5-prefix sum
    // recrawl dedup: the canonical strings in CLOSED FORM (lowercased
    // host, default :443 stripped, trailing slash collapsed, utm_*
    // dropped, fragment stripped — each rule load-bearing), keep-latest
    // as max(doc_id) per canonical
    "p_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |    'https://host' || (doc_id % 5) || '.example.com/a/' || (doc_id % 3)
        |      || '?q=' || (doc_id % 3) AS canon
        |  FROM documents)
        |SELECT canon, count(*) AS n_snapshots,
        |  CAST(max(doc_id) AS BIGINT) AS kept_doc_id,
        |  CAST(count(*) - 1 AS BIGINT) AS n_dropped
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "p_url_patterns" ->
      """WITH urls AS (
        |  SELECT 'https://host' || CAST(doc_id % 7 AS VARCHAR)
        |    || '.example.com' ||
        |    CASE WHEN doc_id % 4 = 0 THEN
        |        '/cal/' || CAST(2000 + doc_id % 30 AS VARCHAR)
        |        || '/' || CAST(doc_id % 12 + 1 AS VARCHAR)
        |        || '/' || CAST(doc_id % 28 + 1 AS VARCHAR)
        |      WHEN doc_id % 4 = 1 THEN
        |        '/item/' || CAST(doc_id AS VARCHAR)
        |        || '?session=' || CAST((doc_id * 48271) % 100000 AS VARCHAR)
        |      WHEN doc_id % 4 = 2 THEN '/about'
        |      ELSE '/tag/' || CAST(doc_id % 5 AS VARCHAR) END AS url
        |  FROM documents),
        |t AS (
        |  SELECT
        |    regexp_replace(regexp_replace(url, '^[a-z]+://', ''),
        |      '/.*', '') AS host,
        |    regexp_replace(regexp_replace(
        |      regexp_replace(regexp_replace(url, '^[a-z]+://', ''),
        |        '^[^/]*', ''),
        |      '[0-9]+', 'N', 'g'), '=[^&#]*', '=V', 'g') AS template,
        |    url
        |  FROM urls)
        |SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_distinct,
        |  CAST(CASE WHEN count(DISTINCT url) >= 10
        |    AND (template LIKE '%N%' OR template LIKE '%=V%')
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_trap
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "p_url_canon" ->
      """WITH usrc AS (
        |  SELECT doc_id, source,
        |    'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END
        |    || '://Site' || CAST(doc_id % 50 AS VARCHAR) || '.COM'
        |    || CASE WHEN doc_id % 3 = 0 THEN ':443' WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
        |    || '/Path' || CAST(doc_id % 20 AS VARCHAR)
        |    || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
        |    || '?z=' || CAST(doc_id % 9 AS VARCHAR)
        |    || '&utm_source=feed&a=' || CAST(doc_id % 5 AS VARCHAR)
        |    || CASE WHEN doc_id % 6 = 0 THEN '&ref=x' ELSE '' END
        |    || '#Sec' || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, source,
        |         CASE WHEN strpos(url, '#') > 0 THEN substr(url, 1, strpos(url, '#') - 1) ELSE url END AS u
        |       FROM usrc),
        |u2 AS (SELECT doc_id, source,
        |         lower(substr(u, 1, strpos(u, '://') - 1)) AS scheme,
        |         substr(u, strpos(u, '://') + 3) AS rest
        |       FROM u1),
        |u3 AS (SELECT doc_id, source, scheme, rest,
        |         CASE WHEN strpos(rest, '/') > 0 AND (strpos(rest, '?') = 0 OR strpos(rest, '/') < strpos(rest, '?')) THEN strpos(rest, '/')
        |              WHEN strpos(rest, '?') > 0 THEN strpos(rest, '?') ELSE 0 END AS cut
        |       FROM u2),
        |u3b AS (SELECT doc_id, source, scheme,
        |         CASE WHEN cut > 0 THEN substr(rest, 1, cut - 1) ELSE rest END AS autraw,
        |         CASE WHEN cut > 0 THEN substr(rest, cut) ELSE '' END AS pathq
        |       FROM u3),
        |u3c AS (SELECT doc_id, source, scheme, pathq,
        |         CASE WHEN strpos(autraw, '@') > 0
        |              THEN substr(autraw, 1, strpos(autraw, '@')) || lower(substr(autraw, strpos(autraw, '@') + 1))
        |              ELSE lower(autraw) END AS auth0
        |       FROM u3b),
        |u4 AS (SELECT doc_id, source, scheme,
        |         CASE WHEN scheme = 'http' AND ends_with(auth0, ':80') THEN substr(auth0, 1, len(auth0) - 3)
        |              WHEN scheme = 'https' AND ends_with(auth0, ':443') THEN substr(auth0, 1, len(auth0) - 4)
        |              ELSE auth0 END AS auth,
        |         CASE WHEN strpos(pathq, '?') > 0 THEN substr(pathq, 1, strpos(pathq, '?') - 1) ELSE pathq END AS path0,
        |         CASE WHEN strpos(pathq, '?') > 0 THEN substr(pathq, strpos(pathq, '?') + 1) ELSE '' END AS query
        |       FROM u3c),
        |u5 AS (SELECT doc_id, source, scheme, auth,
        |         CASE WHEN len(path0) > 1 THEN (CASE WHEN rtrim(path0, '/') = '' THEN '/' ELSE rtrim(path0, '/') END) ELSE path0 END AS path,
        |         list_sort(list_filter(string_split(query, '&'),
        |           p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
        |                AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'ref='))) AS q
        |       FROM u4),
        |uc AS (SELECT doc_id, source,
        |         scheme || '://' || auth || path ||
        |         CASE WHEN len(q) > 0 THEN '?' || array_to_string(q, '&') ELSE '' END AS canon
        |       FROM u5)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_distinct_canon,
        |  CAST(sum(length(canon)) AS BIGINT) AS sum_canon_len,
        |  CAST(sum(
        |    (strpos('0123456789abcdef', substr(md5(canon), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(md5(canon), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(md5(canon), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(md5(canon), 4, 1)) - 1)) AS BIGINT) AS sum_canon_md5pfx
        |FROM uc GROUP BY 1 ORDER BY 1""".stripMargin,
    // time travel: drifts vs the documents-mod-3 mirror are constructed
    // zeros; 4 snapshots (3 appends + compaction); expired window = 1
    "x_time_travel" ->
      """SELECT CAST(4 AS BIGINT) AS n_snapshots,
        |  CAST(0 AS BIGINT) AS n_snap0_drift,
        |  CAST(0 AS BIGINT) AS n_snap1_drift,
        |  CAST(0 AS BIGINT) AS n_snap2_drift,
        |  CAST(0 AS BIGINT) AS n_after_compact_drift,
        |  CAST(1 AS BIGINT) AS n_expired,
        |  CAST(0 AS BIGINT) AS n_latest_drift""".stripMargin,
    // WET publish/re-ingest: text identity pinned at zero drift; the row
    // count comes from the table so the oracle holds at every sf
    "x_wet_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_text_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch
        |FROM documents""".stripMargin,
    // lake round-trip: one all-zero row per format, n_rows sf-proof
    "x_lake_roundtrip" ->
      """SELECT format, CAST(n AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_mismatch
        |FROM (SELECT count(*) AS n FROM documents),
        |  (SELECT unnest(['csv', 'json', 'orc']) AS format)
        |ORDER BY format""".stripMargin,
    // CDX index invariants: 361 coordinates (360 responses + warcinfo)
    // across plain / whole-gzip / per-record-gzip layouts; only the 120
    // whole-gzip records are non-seekable; 120 fetched (1-in-3 subset)
    // with zero drift; 240-record seeked split ingest over BOTH seekable
    // layouts (file ranges + gzip member ranges), byte-exact
    "x_warc_index" ->
      """SELECT CAST(361 AS BIGINT) AS n_indexed,
        |  CAST(360 AS BIGINT) AS n_responses,
        |  CAST(120 AS BIGINT) AS n_nonseekable,
        |  CAST(120 AS BIGINT) AS n_fetched,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_body_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch,
        |  CAST(240 AS BIGINT) AS n_split,
        |  CAST(0 AS BIGINT) AS n_split_bad""".stripMargin,
    // WARC ingest invariants: synthesized archives round-trip exactly
    "x_warc_ingest" ->
      """SELECT CAST(240 AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_body_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch,
        |  CAST(0 AS BIGINT) AS n_error""".stripMargin,
    // identical edge synthesis; 5 unrolled integer-PageRank iterations —
    // integer div/sum arithmetic is reduce-order-independent, so every
    // rank matches bit-for-bit (see LinkGraph scaladoc)
    "w_pagerank" ->
      s"""WITH ${pagerankCtes(5)}
         |pind AS (SELECT dst, count(*) AS ind FROM pgsrc GROUP BY 1)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(coalesce(o.od, 0) AS BIGINT) AS out_deg,
         |  CAST(coalesce(i.ind, 0) AS BIGINT) AS in_deg,
         |  p.pr
         |FROM pnodes n
         |LEFT JOIN podeg o ON n.node = o.src
         |LEFT JOIN pind i ON n.node = i.dst
         |JOIN ppr5 p ON n.node = p.node
         |ORDER BY node""".stripMargin,
    // TrustRank replay: the shared pagerank CTE block supplies the graph
    // + the pr column; 5 unrolled personalized rounds (teleport and
    // dangling mass to seeds only, integer div — LinkGraph.trustrankInt)
    "w_trustrank" -> {
      val titers = (1 to 5).map { i =>
        val p = s"tpr${i - 1}"
        s"""tinc$i AS (SELECT e.dst AS node, sum(p.tr // o.od) AS inc
           |  FROM pgsrc e JOIN podeg o ON e.src = o.src JOIN $p p ON p.node = e.src
           |  GROUP BY 1),
           |tdg$i AS (SELECT coalesce(sum(p.tr), 0) AS d
           |  FROM $p p LEFT JOIN podeg o ON p.node = o.src WHERE o.src IS NULL),
           |tpr$i AS (SELECT n.node, n.is_seed,
           |  CAST(n.is_seed * (((15 * 1000000000000) // 100 * (SELECT nn FROM pn)) // (SELECT ns FROM pns))
           |    + (85 * (coalesce(i.inc, 0) + n.is_seed * ((SELECT d FROM tdg$i) // (SELECT ns FROM pns)))) // 100 AS BIGINT) AS tr
           |  FROM tnodes n LEFT JOIN tinc$i i ON n.node = i.node),""".stripMargin
      }.mkString("\n")
      s"""WITH ${pagerankCtes(5)}
         |tnodes AS (SELECT node, CASE WHEN node % 10 = 3 THEN 1 ELSE 0 END AS is_seed FROM pnodes),
         |pns AS (SELECT sum(is_seed) AS ns FROM tnodes),
         |tpr0 AS (SELECT node, is_seed,
         |  CAST(is_seed * (((SELECT nn FROM pn) * 1000000000000) // (SELECT ns FROM pns)) AS BIGINT) AS tr
         |  FROM tnodes),
         |$titers
         |tfin AS (SELECT node, tr FROM tpr5)
         |SELECT CAST(n.node AS BIGINT) AS node,
         |  CAST(n.is_seed AS BIGINT) AS is_seed,
         |  p.pr, t.tr
         |FROM tnodes n
         |JOIN ppr5 p ON n.node = p.node
         |JOIN tfin t ON n.node = t.node
         |ORDER BY node""".stripMargin
    },
    // component replay: recursive-CTE transitive closure over the same
    // block-structured synthesized edge set; min-reachable-node labeling
    "w_components" ->
      """WITH RECURSIVE wce AS (
        |  SELECT DISTINCT doc_id % 60 AS src,
        |    ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 10, (doc_id*13+3) % 10)) AS dp
        |    FROM documents)
        |  WHERE (doc_id % 60) <> ((doc_id % 60) // 10) * 10 + dp),
        |wcedges AS (SELECT src, dst FROM wce UNION ALL SELECT dst, src FROM wce),
        |wcc(id, r) AS (
        |  SELECT DISTINCT src, src FROM wcedges
        |  UNION
        |  SELECT e.dst, wcc.r FROM wcc JOIN wcedges e ON e.src = wcc.id),
        |wcomp AS (SELECT id, min(r) AS component FROM wcc GROUP BY id)
        |SELECT CAST(component AS BIGINT) AS component,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(id) AS BIGINT) AS sum_nodes,
        |  CAST(max(id) AS BIGINT) AS max_node
        |FROM wcomp GROUP BY 1 ORDER BY 1""".stripMargin,
    // LPA replay: the same undirected edge build, then each round is a
    // (gather neighbor labels + self-vote) -> (count per label) ->
    // (argmax by count desc, label asc) CTE triple — the synchronous
    // deterministic recurrence the operator defines
    "w_communities" -> {
      val rounds = (1 to 4).map { r =>
        val q = r - 1
        s"""lpv$r AS (SELECT u.a AS node, l.lab FROM lpund u JOIN lpl$q l ON u.b = l.node
          |  UNION ALL SELECT node, lab FROM lpl$q),
          |lpc$r AS (SELECT node, lab, count(*) AS c FROM lpv$r GROUP BY 1, 2),
          |lpl$r AS (SELECT node, lab FROM (
          |  SELECT node, lab, row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
          |  FROM lpc$r) WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH lpe AS (SELECT DISTINCT src, dst FROM (
        |  SELECT doc_id % 60 AS src, ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 10, (doc_id*13+3) % 10)) AS dp
        |    FROM documents)
        |  UNION ALL
        |  SELECT doc_id % 60, (doc_id % 60 + 10) % 60 FROM documents WHERE doc_id % 10 = 0)
        | WHERE src <> dst),
        |lpund AS (SELECT src AS a, dst AS b FROM lpe UNION SELECT dst, src FROM lpe),
        |lpl0 AS (SELECT DISTINCT a AS node, a AS lab FROM lpund),
        |$rounds
        |SELECT CAST(lab AS BIGINT) AS community, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(node) AS BIGINT) AS sum_nodes, CAST(max(node) AS BIGINT) AS max_node
        |FROM lpl4 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // BPE→pack replay: the 8 merge stages (shared CTEs), a word →
    // subword-count map recovered from the final symbolization (word =
    // the symbolization with spaces stripped — symbolize is injective),
    // per-doc LEFT-join sums (token-less docs stay at 0), global cumsum
    "p_bpe_pack" ->
      s"""WITH ${bpeStageCtes(8)},
        |bpmap AS (SELECT replace(s, ' ', '') AS w,
        |    len(string_split(trim(s), '  ')) AS nsub FROM bpv8),
        |bpperdoc AS (
        |  SELECT d.doc_id, CAST(coalesce(sum(m.nsub), 0) AS BIGINT) AS n_subwords
        |  FROM documents d
        |  LEFT JOIN bptok t ON t.doc_id = d.doc_id
        |  LEFT JOIN bpmap m ON m.w = t.w
        |  GROUP BY 1),
        |bpcum AS (SELECT doc_id, n_subwords,
        |    sum(n_subwords) OVER (ORDER BY doc_id) AS cum FROM bpperdoc),
        |bptot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
        |  CAST((sum(n_subwords) + 2047) // 2048 AS BIGINT) AS n_sequences
        |  FROM bpperdoc)
        |SELECT c.doc_id, c.n_subwords, CAST(c.cum AS BIGINT) AS cum,
        |  t.n_docs, t.total_subwords, t.n_sequences
        |FROM bpcum c CROSS JOIN bptot t
        |ORDER BY doc_id LIMIT 10""".stripMargin,
    // epoch-shuffle replay: 48-bit md5-prefix key via strpos hex
    // arithmetic (no conv() in DuckDB), one global row_number — the
    // oracle may single-task what the engine distributes
    "p_epoch_shuffle" -> {
      val k = md5PrefixSql("CAST(doc_id AS VARCHAR)", 12)
      s"""WITH eps AS (SELECT doc_id,
        |    $k AS k
        |  FROM documents),
        |epr AS (SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS position
        |  FROM eps),
        |ept AS (SELECT count(*) AS n_docs, sum(position * doc_id) AS perm_sum
        |  FROM epr)
        |SELECT CAST(r.position AS BIGINT) AS position,
        |  CAST(r.doc_id AS BIGINT) AS doc_id,
        |  CAST(t.n_docs AS BIGINT) AS n_docs,
        |  CAST(t.perm_sum AS BIGINT) AS perm_sum
        |FROM epr r CROSS JOIN ept t
        |ORDER BY position LIMIT 15""".stripMargin
    },
    // token-budget replay: the shared quality CTEs feed the same bucket
    // grid, one window in (bucket, digest48, doc_id) order cumsums the
    // token counts, the 60% budget cut mirrored in integer arithmetic
    "p_token_budget" -> {
      val k = md5PrefixSql("CAST(q.doc_id AS VARCHAR)", 12)
      s"""WITH $qualityCtes,
        |tb AS (SELECT q.doc_id,
        |    CAST(floor((1.0 - q.score) * 4) AS BIGINT) AS bucket,
        |    len(string_split_regex(d.text, '\\s+')) AS toks,
        |    $k AS k
        |  FROM qs q JOIN documents d ON q.doc_id = d.doc_id),
        |tr AS (SELECT doc_id, bucket, toks,
        |    sum(toks) OVER (ORDER BY bucket, k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM tb),
        |tg AS (SELECT (sum(toks) * 6) // 10 AS budget FROM tb)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cum <= budget THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM tr CROSS JOIN tg GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // C4 line-rules replay: lines regrouped from the shared tokenize
    // CTEs (4 tokens per line), rule flags recomputed from (doc, line)
    // arithmetic, and the rebuilt cleaned-string length mirrored as
    // sum(token chars) + (wc-1) spaces + 1 terminal dot per kept line
    // + (nk-1) newline joiners per doc
    "p_c4_lines" ->
      s"""WITH ${tokCtesOver("documents", "lc")},
        |ll AS (SELECT doc_id, (i - 1) // 4 AS line, count(*) AS wc, sum(length(w)) AS cw
        |       FROM lctok GROUP BY 1, 2),
        |fl AS (SELECT doc_id, line, wc, cw,
        |       (doc_id + line) % 3 > 0 AS terminal,
        |       (doc_id + line) % 7 = 0 AS js
        |  FROM ll),
        |kp AS (SELECT doc_id, wc, cw + wc AS linelen
        |  FROM fl WHERE terminal AND NOT js AND wc >= 3),
        |tl AS (SELECT doc_id, count(*) AS nl FROM ll GROUP BY 1),
        |pd AS (SELECT d.doc_id, d.source, t.nl,
        |    count(k.wc) AS nk, coalesce(sum(k.wc), 0) AS nkw,
        |    coalesce(sum(k.linelen), 0)
        |      + CASE WHEN count(k.wc) > 1 THEN count(k.wc) - 1 ELSE 0 END AS clen
        |  FROM documents d JOIN tl t USING (doc_id) LEFT JOIN kp k USING (doc_id)
        |  GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nl) AS BIGINT) AS n_lines,
        |  CAST(sum(nk) AS BIGINT) AS n_kept,
        |  CAST(sum(nkw) AS BIGINT) AS n_kept_words,
        |  CAST(sum(clen) AS BIGINT) AS sum_clean_len
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    // curriculum replay: same length buckets, one window in
    // (bucket, digest48, doc_id) order — the single-window naive form the
    // distributed scaffold must equal row for row
    "p_curriculum" -> {
      val k = md5PrefixSql("CAST(doc_id AS VARCHAR)", 12)
      s"""WITH cb AS (SELECT doc_id,
        |    least(CAST(floor(n_chars / 100) AS BIGINT), 9) AS bucket,
        |    $k AS k
        |  FROM documents),
        |cr AS (SELECT doc_id, bucket,
        |    row_number() OVER (ORDER BY bucket, k, doc_id) AS position
        |  FROM cb)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(min(position) AS BIGINT) AS min_pos,
        |  CAST(max(position) AS BIGINT) AS max_pos,
        |  CAST(sum(position * doc_id) AS BIGINT) AS perm_sum
        |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // co-citation replay: same synthesized edges, same maxOutDeg guard,
    // source self-join on a<b target pairs
    "w_cocitation" ->
      """WITH cce AS (
        |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
        |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
        |    FROM documents)
        |  WHERE (doc_id % 40) <> dst),
        |cck AS (SELECT src FROM (SELECT src, count(*) AS od FROM cce GROUP BY 1)
        |  WHERE od <= 50),
        |ccf AS (SELECT e.src, e.dst FROM cce e JOIN cck USING (src)),
        |ccp AS (SELECT x.dst AS a, y.dst AS b, count(*) AS n_common
        |  FROM ccf x JOIN ccf y ON x.src = y.src AND x.dst < y.dst
        |  GROUP BY 1, 2)
        |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        |  CAST(n_common AS BIGINT) AS n_common
        |FROM ccp ORDER BY n_common DESC, a, b LIMIT 20""".stripMargin,
    // triangle replay: canonical a<b edges, two-path + closure join,
    // unnest corners, per-node counts, total = sum // 3
    "w_triangles" ->
      """WITH tre AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
        |    SELECT doc_id % 60 AS src,
        |      ((doc_id % 60) // 10) * 10 + dp AS dst FROM (
        |      SELECT doc_id, unnest(list_value(
        |        ((doc_id // 60) * 7 + doc_id) % 10,
        |        ((doc_id // 60) * 3 + doc_id + 5) % 10)) AS dp
        |      FROM documents))
        |  WHERE src <> dst),
        |trt AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM tre e1 JOIN tre e2 ON e2.a = e1.b
        |    JOIN tre e3 ON e3.a = e1.a AND e3.b = e2.b),
        |trn AS (SELECT unnest(list_value(x, y, z)) AS node FROM trt),
        |trc AS (SELECT node, count(*) AS n_triangles FROM trn GROUP BY 1),
        |trtot AS (SELECT sum(n_triangles) // 3 AS total FROM trc)
        |SELECT CAST(c.node AS BIGINT) AS node,
        |  CAST(c.n_triangles AS BIGINT) AS n_triangles,
        |  CAST(t.total AS BIGINT) AS total_triangles
        |FROM trc c CROSS JOIN trtot t ORDER BY node""".stripMargin,
    // PMI replay: unigrams + lead-window bigrams off the shared tokenize
    // CTE, scaled-integer ratio score, (score DESC, w1, w2) total order
    "t_pmi_pairs" ->
      s"""WITH ${tokCtesOver("documents", "pm")},
        |pmu AS (SELECT w, count(*) AS c FROM pmtok GROUP BY 1),
        |pmn AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM pmu),
        |pmb AS (SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
        |  FROM pmtok),
        |pmp AS (SELECT w1, w2, count(*) AS n_pair FROM pmb WHERE w2 IS NOT NULL
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |pms AS (SELECT p.w1, p.w2, p.n_pair, u1.c AS n_w1, u2.c AS n_w2,
        |  (p.n_pair * n.n_total * 1000000) // (u1.c * u2.c) AS score
        |  FROM pmp p JOIN pmu u1 ON u1.w = p.w1 JOIN pmu u2 ON u2.w = p.w2
        |  CROSS JOIN pmn n)
        |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
        |  CAST(n_w1 AS BIGINT) AS n_w1, CAST(n_w2 AS BIGINT) AS n_w2,
        |  CAST(score AS BIGINT) AS score
        |FROM pms ORDER BY score DESC, w1, w2 LIMIT 20""".stripMargin,
    // budget replay: per-host window rank capped at 5, global LIMIT 100
    // under (priority DESC, url) — url-unique total order
    "p_crawl_budget" ->
      """WITH cbf AS (
        |  SELECT doc_id AS url, doc_id % 23 AS host, (doc_id * 31) % 1000 AS priority
        |  FROM documents),
        |cbh AS (SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS rk
        |  FROM cbf),
        |cbsel AS (SELECT host, url, priority FROM cbh WHERE rk <= 5
        |  ORDER BY priority DESC, url LIMIT 100)
        |SELECT CAST(host AS BIGINT) AS host, CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(url) AS BIGINT) AS sum_url_ids,
        |  CAST(max(priority) AS BIGINT) AS max_priority
        |FROM cbsel GROUP BY 1 ORDER BY 1""".stripMargin,
    // HITS replay: same synthesized edge set as w_pagerank; 4 rounds of
    // gather + L1 rescale in integer arithmetic. MATERIALIZED per-round
    // CTEs — each raw vector is referenced twice, so non-materialized
    // inlining would grow the expansion exponentially (BPE/PageRank
    // lesson); // on non-negative HUGEINT == Spark's div on longs
    "w_hits" -> {
      val iterCtes = (1 to 4).map { i =>
        s"""hra$i AS MATERIALIZED (SELECT n.node, coalesce(s.raw, 0) AS raw
           |  FROM hnodes n LEFT JOIN (
           |    SELECT e.dst AS node, sum(h.hub) AS raw
           |    FROM hedges e JOIN hhub${i - 1} h ON h.node = e.src GROUP BY 1) s USING (node)),
           |hauth$i AS MATERIALIZED (SELECT r.node,
           |  CAST((r.raw * (SELECT nn * 10000000 FROM hn)) // (SELECT sum(raw) FROM hra$i) AS BIGINT) AS auth
           |  FROM hra$i r),
           |hrh$i AS MATERIALIZED (SELECT n.node, coalesce(s.raw, 0) AS raw
           |  FROM hnodes n LEFT JOIN (
           |    SELECT e.src AS node, sum(a.auth) AS raw
           |    FROM hedges e JOIN hauth$i a ON a.node = e.dst GROUP BY 1) s USING (node)),
           |hhub$i AS MATERIALIZED (SELECT r.node,
           |  CAST((r.raw * (SELECT nn * 10000000 FROM hn)) // (SELECT sum(raw) FROM hrh$i) AS BIGINT) AS hub
           |  FROM hrh$i r)""".stripMargin
      }.mkString(",\n")
      s"""WITH hedges AS MATERIALIZED (
         |  SELECT DISTINCT doc_id % 40 AS src, dst FROM (
         |    SELECT doc_id, unnest(list_value((doc_id*7+1) % 41, (doc_id*11+3) % 41, (doc_id*13+5) % 41)) AS dst
         |    FROM documents)
         |  WHERE (doc_id % 40) <> dst),
         |hnodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM hedges UNION ALL SELECT dst FROM hedges)),
         |hn AS (SELECT count(*) AS nn FROM hnodes),
         |hhub0 AS (SELECT node, CAST(10000000 AS BIGINT) AS hub FROM hnodes),
         |$iterCtes
         |SELECT CAST(n.node AS BIGINT) AS node, a.auth, h.hub
         |FROM hnodes n JOIN hauth4 a ON n.node = a.node JOIN hhub4 h ON n.node = h.node
         |ORDER BY node""".stripMargin
    },
    // same tokenization as t_heavy_hitters; log-free BM25 replayed with
    // the identical IEEE op tree (InvertedIndex scaladoc), fixed-order
    // per-term combine, (score DESC, doc) total order
    "s_bm25" ->
      s"""WITH ${bm25CorpusCtesSql("b")},
        |${bm25LegCtesSql("b", "b", Seq("data", "spark", "fast"), 20)}
        |SELECT doc AS doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM brank ORDER BY rank""".stripMargin,
    // hybrid RRF replay: the SAME bm25 leg authority per term set + the
    // knn rank CTEs, fused by the identical fixed-order 1/(60+rank) sum
    // (sparse contribution added before dense — float order is part of
    // the contract); (rrf desc, doc asc) final ranks
    "s_hybrid_rrf" -> {
      val legs = Seq(
        0 -> Seq("data", "query"),
        1 -> Seq("spark", "fast"),
        2 -> Seq("data", "fast"))
      val legCtes = legs
        .map { case (q, ts) => bm25LegCtesSql(s"h$q", "hb", ts, 10) }
        .mkString(",\n")
      val sparseUnion = legs
        .map { case (q, _) => s"SELECT $q AS qid, doc, rank FROM h${q}rank" }
        .mkString("\n  UNION ALL ")
      s"""WITH ${bm25CorpusCtesSql("hb")},
        |$legCtes,
        |hq AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 3),
        |hc AS (SELECT vec_id nid, embedding nv FROM embeddings),
        |hs AS (SELECT qid, nid, list_cosine_similarity(qv, nv) cos FROM hq, hc WHERE qid <> nid),
        |hr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) rn FROM hs),
        |hsparse AS (
        |  $sparseUnion),
        |hdense AS (SELECT qid, nid AS doc, rn AS rank FROM hr WHERE rn <= 10),
        |hall AS (
        |  SELECT qid, doc, CAST(1.0 AS DOUBLE) / (60 + rank) AS c, 0 AS leg FROM hsparse
        |  UNION ALL
        |  SELECT qid, doc, CAST(1.0 AS DOUBLE) / (60 + rank) AS c, 1 AS leg FROM hdense),
        |hf AS (SELECT qid, doc,
        |    coalesce(max(CASE WHEN leg = 0 THEN c END), 0.0)
        |    + coalesce(max(CASE WHEN leg = 1 THEN c END), 0.0) AS rrf
        |  FROM hall GROUP BY 1, 2),
        |hrank AS (SELECT qid, doc, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc) AS rank
        |  FROM hf)
        |SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank, doc AS doc_id,
        |  rrf AS rrf_score
        |FROM hrank WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // phrase-occurrence replay: consecutive-token n-grams via token-rank
    // self-joins on the SHARED tokenize CTE (overlapping occurrences
    // count separately — gram rows == anchor positions); id-sum over the
    // DISTINCT doc set. VALUES left join keeps a zero-match phrase at
    // (0,0,0), matching the Spark side's always-one-row-per-phrase aggs.
    "s_phrase" ->
      s"""WITH ${tokCtesOver("documents", "ph")},
        |ph2 AS (SELECT a.doc_id, a.w || ' ' || b.w AS phrase
        |  FROM phtok a JOIN phtok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        |ph3 AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS phrase
        |  FROM phtok a JOIN phtok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |               JOIN phtok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |phall AS (
        |  SELECT doc_id, phrase FROM ph2 WHERE phrase IN ('data query', 'data data')
        |  UNION ALL
        |  SELECT doc_id, phrase FROM ph3 WHERE phrase = 'data the query'),
        |phagg AS (SELECT phrase, count(*) AS n_occurrences,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM phall GROUP BY 1),
        |phids AS (SELECT phrase, sum(doc_id) AS sum_doc_ids
        |  FROM (SELECT DISTINCT phrase, doc_id FROM phall) GROUP BY 1),
        |phq(phrase) AS (VALUES ('data query'), ('data data'), ('data the query'))
        |SELECT q.phrase, CAST(coalesce(p.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(p.n_occurrences, 0) AS BIGINT) AS n_occurrences,
        |  CAST(coalesce(i.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM phq q LEFT JOIN phagg p USING (phrase)
        |           LEFT JOIN phids i USING (phrase)
        |ORDER BY phrase""".stripMargin,
    // NEAR replay: ordered distinct-position pairs within the window via
    // a token-rank self-join on the shared tokenize CTE (rank DIFFERENCES
    // equal 0-based-position differences, shift-invariant); VALUES left
    // join keeps the never-occurring term's leg at (0,0,0) on both sides
    "s_near" ->
      s"""WITH ${tokCtesOver("documents", "nr")},
        |nrp AS (
        |  SELECT 'data ~3 query' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'query'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 3
        |  UNION ALL
        |  SELECT 'data ~2 data' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'data'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 2
        |  UNION ALL
        |  SELECT 'data ~5 zzznever' AS q, a.doc_id
        |  FROM nrtok a JOIN nrtok b ON a.doc_id = b.doc_id
        |    AND a.w = 'data' AND b.w = 'zzznever'
        |    AND a.i <> b.i AND abs(a.i - b.i) <= 5),
        |nragg AS (SELECT q, count(*) AS n_pairs, count(DISTINCT doc_id) AS n_docs
        |  FROM nrp GROUP BY 1),
        |nrids AS (SELECT q, sum(doc_id) AS sum_doc_ids
        |  FROM (SELECT DISTINCT q, doc_id FROM nrp) GROUP BY 1),
        |nrq(q) AS (VALUES ('data ~3 query'), ('data ~2 data'), ('data ~5 zzznever'))
        |SELECT v.q, CAST(coalesce(g.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(g.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(i.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM nrq v LEFT JOIN nragg g USING (q)
        |           LEFT JOIN nrids i USING (q)
        |ORDER BY q""".stripMargin,

    // related-docs replay: synthesized tag postings, df gate, integer
    // tf-idf weights, shared-term pair join, per-doc row_number top-3
    "s_related_docs" ->
      """WITH rdd AS (SELECT doc_id AS doc FROM documents),
        |rdp AS (
        |  SELECT 'tag' || CAST(doc % 50 AS VARCHAR) AS term, doc FROM rdd
        |  UNION ALL SELECT 'grp' || CAST(doc % 20 AS VARCHAR), doc FROM rdd
        |  UNION ALL SELECT 'cat' || CAST(doc % 7 AS VARCHAR), doc FROM rdd),
        |rdf AS (SELECT term, count(DISTINCT doc) AS df FROM rdp GROUP BY 1
        |  HAVING count(DISTINCT doc) BETWEEN 2 AND 120),
        |rdn AS (SELECT count(*) AS n FROM rdd),
        |rdw AS (SELECT p.term, p.doc,
        |    p.tf * (((SELECT n FROM rdn) * 1000) // f.df) AS w
        |  FROM (SELECT term, doc, count(*) AS tf FROM rdp GROUP BY 1, 2) p
        |  JOIN rdf f USING (term)),
        |rdpair AS (SELECT x.doc AS a, y.doc AS b, sum(x.w * y.w) AS dot
        |  FROM rdw x JOIN rdw y ON x.term = y.term AND x.doc < y.doc
        |  GROUP BY 1, 2),
        |rsym AS (SELECT a AS doc, b AS other, dot FROM rdpair
        |  UNION ALL SELECT b, a, dot FROM rdpair),
        |rrk AS (SELECT doc, other, dot,
        |    row_number() OVER (PARTITION BY doc ORDER BY dot DESC, other) AS rank
        |  FROM rsym),
        |rtot AS (SELECT count(*) AS n FROM rrk WHERE rank <= 3)
        |SELECT CAST(doc AS BIGINT) AS doc, CAST(rank AS BIGINT) AS rank,
        |  CAST(other AS BIGINT) AS other, CAST(dot AS BIGINT) AS score,
        |  (SELECT CAST(n AS BIGINT) FROM rtot) AS n_rows_total
        |FROM rrk WHERE rank <= 3 AND doc < 10
        |ORDER BY doc, rank""".stripMargin,
    // segment-merge replay: the oracle REBUILDS postings from the merged
    // corpus state (base survivors + updated delta survivors, tombstones
    // gone) — equivalence-to-rebuild IS the merge contract
    "s_index_merge" ->
      s"""WITH mdocs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 7 <> 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text || ' updated' FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0),
        |${tokCtesOver("mdocs", "mg")},
        |mpost AS (SELECT w AS term, doc_id AS doc, count(*) AS tf
        |  FROM mgtok GROUP BY 1, 2),
        |mtot AS (SELECT count(*) AS n_postings_total,
        |  count(DISTINCT doc) AS n_docs_total, sum(tf) AS sum_tf_total FROM mpost),
        |mterms AS (SELECT term, count(*) AS df, sum(tf) AS tf_total
        |  FROM mpost GROUP BY 1 ORDER BY df DESC, term LIMIT 20)
        |SELECT t.term, CAST(t.df AS BIGINT) AS df, CAST(t.tf_total AS BIGINT) AS tf_total,
        |  CAST(m.n_postings_total AS BIGINT) AS n_postings_total,
        |  CAST(m.n_docs_total AS BIGINT) AS n_docs_total,
        |  CAST(m.sum_tf_total AS BIGINT) AS sum_tf_total
        |FROM mterms t CROSS JOIN mtot m
        |ORDER BY df DESC, term""".stripMargin,

    // KWIC replay: occurrences from the shared tokenize CTE, window =
    // a token-rank range join re-joined by string_agg in rank order;
    // (doc_id, i) is a unique key so ORDER BY + LIMIT picks the same 20
    "s_snippets" ->
      s"""WITH ${tokCtesOver("documents", "kw")},
        |kocc AS (SELECT doc_id, i FROM kwtok WHERE w = 'data'),
        |ksnip AS (
        |  SELECT o.doc_id, o.i - 1 AS pos, string_agg(t.w, ' ' ORDER BY t.i) AS snippet
        |  FROM kocc o JOIN kwtok t
        |    ON t.doc_id = o.doc_id AND t.i BETWEEN o.i - 2 AND o.i + 2
        |  GROUP BY o.doc_id, o.i),
        |ktot AS (SELECT count(*) AS n_occ_total, count(DISTINCT doc_id) AS n_docs_total
        |  FROM ksnip)
        |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, CAST(s.pos AS BIGINT) AS pos,
        |  s.snippet, CAST(t.n_occ_total AS BIGINT) AS n_occ_total,
        |  CAST(t.n_docs_total AS BIGINT) AS n_docs_total
        |FROM ksnip s CROSS JOIN ktot t
        |ORDER BY doc_id, pos LIMIT 20""".stripMargin,

    // retention replay: same synthesis, per-url window rank over
    // (second DESC, seq DESC), retained = rank <= 2
    "p_snapshot_gc" ->
      """WITH sg AS (
        |  SELECT doc_id % 100 AS url,
        |    1735689600 + ((doc_id // 100) // 2) * 86400 AS ts_sec,
        |    doc_id AS seq
        |  FROM documents),
        |sgr AS (SELECT url, ts_sec, seq,
        |    row_number() OVER (PARTITION BY url ORDER BY ts_sec DESC, seq DESC) AS rk
        |  FROM sg)
        |SELECT rk <= 2 AS retained, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
        |  CAST(sum(seq) AS BIGINT) AS sum_seq,
        |  CAST(sum(ts_sec) AS BIGINT) AS sum_ts_sec
        |FROM sgr GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical two-generation synthesis; full-outer digest compare
    "p_crawl_diff" ->
      """WITH cda AS (
        |  SELECT doc_id AS url, md5(text) AS digest
        |  FROM documents WHERE doc_id % 10 <> 7),
        |cdb AS (
        |  SELECT doc_id AS url,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' updated' ELSE text END) AS digest
        |  FROM documents WHERE doc_id % 10 <> 2),
        |cdd AS (
        |  SELECT coalesce(a.url, b.url) AS key,
        |    CASE WHEN a.url IS NULL THEN 'added'
        |         WHEN b.url IS NULL THEN 'removed'
        |         WHEN a.digest = b.digest THEN 'unchanged'
        |         ELSE 'changed' END AS status
        |  FROM cda a FULL OUTER JOIN cdb b ON a.url = b.url)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(key) AS BIGINT) AS sum_ids
        |FROM cdd GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical host synthesis; suffix decomposition via list slicing
    // (parts[i:] re-joined), blocked = any suffix in the blocklist
    "p_host_blocklist" ->
      """WITH hsrc AS (
        |  SELECT doc_id, source,
        |    'sub' || CAST(doc_id % 7 AS VARCHAR) || '.site' ||
        |    CAST(doc_id % 5 AS VARCHAR) || '.com' AS host
        |  FROM documents),
        |hm AS (
        |  SELECT doc_id, source,
        |    len(list_filter(
        |      list_transform(generate_series(1, len(string_split(host, '.'))),
        |        i -> array_to_string(string_split(host, '.')[i:], '.')),
        |      sfx -> list_contains(['site2.com', 'sub1.site4.com', 'badsite.com'], sfx)
        |    )) > 0 AS blocked
        |  FROM hsrc)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN blocked THEN NULL ELSE doc_id END), 0) AS BIGINT) AS sum_kept_ids
        |FROM hm GROUP BY 1 ORDER BY 1""".stripMargin,
    // meta-robots admission: the family->verdict map replayed
    // arithmetically over the same doc_id % 7 synthesis (noindex for
    // families 0/2/3, nofollow for 1/2/3; body/description decoys and
    // the bare family admit)
    "p_meta_robots" ->
      """SELECT bucket, count(*) AS n_docs,
        |  CAST(count(*) * (CASE WHEN bucket IN (0, 2, 3) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_noindex,
        |  CAST(count(*) * (CASE WHEN bucket IN (1, 2, 3) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_nofollow,
        |  CAST(count(*) * (CASE WHEN bucket IN (0, 2, 3) THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_admitted
        |FROM (SELECT CAST(doc_id % 7 AS BIGINT) AS bucket FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // longest-match replay over the EFFECTIVE graftbot rules: verdict key
    // = max(2*len(prefix)+allow) over matching rules; odd (or absent) =
    // allowed. Mirrors Robots.evaluate's ordering exactly (ties -> Allow).
    "p_robots_filter" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host,
        |    '/' || CASE CAST(doc_id % 4 AS INT)
        |             WHEN 0 THEN 'private' WHEN 1 THEN 'private/open'
        |             WHEN 2 THEN 'dup' ELSE 'public' END
        |        || '/' || CAST(doc_id % 11 AS VARCHAR) AS path
        |  FROM documents),
        |r(host, allow, prefix) AS (VALUES
        |  ('site1.com', 0, '/'),
        |  ('site2.com', 0, '/private'), ('site2.com', 1, '/private/open'),
        |  ('site2.com', 0, '/dup'),     ('site2.com', 1, '/dup')),
        |v AS (
        |  SELECT d.doc_id, d.source,
        |    max(CASE WHEN r.host IS NOT NULL AND starts_with(d.path, r.prefix)
        |             THEN 2 * length(r.prefix) + r.allow END) AS vkey
        |  FROM d LEFT JOIN r ON d.host = r.host
        |  GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN vkey IS NULL OR vkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN vkey IS NULL OR vkey % 2 = 1 THEN doc_id END), 0) AS BIGINT) AS sum_kept_ids
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // admission replay: every stage a closed-form predicate on the
    // canonical key u = doc_id % 840 (k=u%7, m=u%5, n=u%120 — the
    // mixed-radix url id is injective); blocklist = m!=2 and not
    // (k=1,m=4); robots on site3 = n starts with '1' (Allow /p/1 beats
    // Disallow /p by longest-match); budget = window rank + LIMIT
    "p_crawl_admission" ->
      """WITH ad AS (SELECT DISTINCT doc_id % 840 AS u FROM documents),
        |at AS (SELECT u, u % 7 AS k, u % 5 AS m, u % 120 AS n FROM ad),
        |ab AS (SELECT * FROM at WHERE m <> 2 AND NOT (k = 1 AND m = 4)),
        |ar AS (SELECT * FROM ab WHERE m <> 3 OR CAST(n AS VARCHAR) LIKE '1%'),
        |af AS (SELECT (k*5 + m)*120 + n AS url, k*10 + m AS host_id, n AS priority
        |  FROM ar),
        |ah AS (SELECT url, priority,
        |    row_number() OVER (PARTITION BY host_id ORDER BY priority DESC, url) AS rk
        |  FROM af),
        |asel AS (SELECT url FROM ah WHERE rk <= 5 ORDER BY priority DESC, url LIMIT 60)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_raw,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ad) AS n_canon,
        |  CAST(0 AS BIGINT) AS n_canon_bad,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ab) AS n_after_block,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ar) AS n_after_robots,
        |  (SELECT CAST(count(*) AS BIGINT) FROM asel) AS n_budget,
        |  (SELECT CAST(coalesce(sum(url), 0) AS BIGINT) FROM asel) AS sum_budget_urls""".stripMargin,
    // frontier replay: per-loc MAX lastmod day (1 + k%10 + 3*(d%3)) vs
    // the day-12 watermark; crawled set = k%3!=0 over the 50 loc keys
    "p_sitemap_frontier" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |l0 AS (SELECT doc_id % 50 AS k,
        |         1 + doc_id % 50 % 10 + 3 * (doc_id % 3) AS day FROM d),
        |l AS (SELECT k, max(day) AS day FROM l0 GROUP BY 1),
        |c AS (SELECT DISTINCT k FROM l0 WHERE k % 3 <> 0),
        |f AS (SELECT l.k,
        |        CASE WHEN c.k IS NULL THEN 'new'
        |             WHEN l.day > 12 THEN 'stale'
        |             ELSE 'current' END AS status
        |      FROM l LEFT JOIN c USING (k))
        |SELECT status, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM f WHERE status <> 'current' GROUP BY 1 ORDER BY 1""".stripMargin,
    // resolved link rows rebuilt arithmetically; bounded top-k replayed as
    // a row_number window (cnt DESC, anchor — the aggregator's ordering)
    "p_anchor_text" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |l AS (
        |  SELECT 'https://site' || CAST((doc_id+1)%5 AS VARCHAR) || '.com/t/' ||
        |         CAST(doc_id%7 AS VARCHAR) AS dst,
        |         't zero ' || CAST(doc_id%3 AS VARCHAR) AS anchor FROM d
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id%5 AS VARCHAR) || '.com/t/' ||
        |         CAST(doc_id%7 AS VARCHAR), 't one' FROM d
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id%5 AS VARCHAR) || '.com/t/' ||
        |         CAST((doc_id+1)%7 AS VARCHAR), 't & two' FROM d),
        |c AS (SELECT dst, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
        |r AS (SELECT dst, anchor, cnt,
        |        row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rn
        |      FROM c)
        |SELECT dst,
        |  CAST(sum(cnt) AS BIGINT) AS n_inlinks,
        |  CAST(count(*) AS BIGINT) AS n_distinct_anchors,
        |  string_agg(CASE WHEN rn <= 2 THEN anchor END, '|' ORDER BY rn) AS top_anchors
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // feed replay: every aggregate reconstructed arithmetically from
    // doc_id (two items per feed, one dated: epoch = month start +
    // (d-1) days; decoded title "post & {a}" = 7 + len(a) chars + the
    // undated "late" = 4)
    "p_feed_ingest" ->
      """WITH ff AS (
        |  SELECT doc_id, doc_id % 50 AS a, 1 + doc_id % 28 AS d,
        |    CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind
        |  FROM documents),
        |fr AS (SELECT kind,
        |  2 AS n_items, 1 AS n_dated, 2 * a AS sum_k,
        |  CASE WHEN kind = 'rss'
        |    THEN epoch_us(TIMESTAMP '2025-01-01 00:00:00') + (d - 1) * 86400000000
        |    ELSE epoch_us(TIMESTAMP '2025-02-01 00:00:00') + (d - 1) * 86400000000
        |  END AS epoch,
        |  (7 + length(CAST(a AS VARCHAR))) + 4 AS title_len
        |  FROM ff)
        |SELECT kind, CAST(sum(n_items) AS BIGINT) AS n_items,
        |  CAST(sum(n_dated) AS BIGINT) AS n_dated,
        |  CAST(sum(sum_k) AS BIGINT) AS sum_k,
        |  CAST(sum(epoch) AS BIGINT) AS sum_epoch_us,
        |  CAST(sum(title_len) AS BIGINT) AS sum_title_len
        |FROM fr GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact kept set mirrored like p_decontaminate; the bloom containment
    // column is a PROVABLE zero (no-false-negative sketch), not a replay
    "p_decontam_bloom" ->
      s"""WITH ${gramCtesOver("documents", "d")},
        |g AS (SELECT doc_id, g FROM dgrams WHERE g IS NOT NULL),
        |eval_g AS (SELECT DISTINCT g FROM g WHERE doc_id % 41 = 0),
        |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN eval_g USING (g)
        |         WHERE g.doc_id % 41 <> 0)
        |SELECT d.lang,
        |  CAST(count(*) - count(h.doc_id) AS BIGINT) AS n_exact_kept,
        |  CAST(0 AS BIGINT) AS n_bloom_kept_not_exact
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 41 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact cross-set distinct-3-gram Jaccard between the train corpus and
    // the perturbed eval set — the fuzzy-decontamination operator's output
    // equals this definition because verification is exact and the 16x2
    // band miss probability at j>=0.8 is < 1e-7 per pair
    "p_decontam_fuzzy" ->
      raw"""WITH tr AS (
        |  SELECT doc_id, string_split_regex(lower(text),'\s+') w FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3),
        |ev AS (
        |  SELECT doc_id + 9000000 AS doc_id,
        |         string_split_regex(lower('benchmark answer key ' || text),'\s+') w
        |  FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3 AND doc_id % 37 = 0),
        |sht AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s FROM tr),
        |she AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s FROM ev),
        |ct AS (SELECT doc_id, count(*) n FROM sht GROUP BY 1),
        |ce AS (SELECT doc_id, count(*) n FROM she GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id a, y.doc_id b, count(*) i
        |  FROM sht x JOIN she y ON x.s = y.s
        |  GROUP BY 1, 2)
        |SELECT a AS train_id, b AS eval_id,
        |  round(i::DOUBLE / (ct.n + ce.n - i), 6) AS jaccard
        |FROM inter JOIN ct ON ct.doc_id = a JOIN ce ON ce.doc_id = b
        |WHERE i::DOUBLE / (ct.n + ce.n - i) >= 0.8
        |ORDER BY train_id, eval_id""".stripMargin,
    // identical injection + the SAME (Java ∩ RE2) patterns as
    // PiiScrub.{EmailRe,PhoneRe,Ipv4Re}, applied sequentially like the
    // kernel (each count runs on the previous stage's masked string)
    "p_scrub_pii" ->
      raw"""WITH inj AS (
        |  SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 254 AS VARCHAR) ELSE '' END
        |    AS text
        |  FROM documents),
        |s1 AS (SELECT source, text,
        |         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS c1,
        |         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email
        |       FROM inj),
        |s2 AS (SELECT source, text, n_email,
        |         regexp_replace(c1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS c2,
        |         len(regexp_extract_all(c1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phone
        |       FROM s1),
        |s3 AS (SELECT source, text, n_email, n_phone,
        |         regexp_replace(c2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS clean,
        |         len(regexp_extract_all(c2, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ip
        |       FROM s2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS n_emails,
        |  CAST(sum(n_phone) AS BIGINT) AS n_phones,
        |  CAST(sum(n_ip) AS BIGINT) AS n_ips,
        |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
        |  CAST(sum(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted
        |FROM s3 GROUP BY source ORDER BY source""".stripMargin,
    "t_chunks" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(ceil(length(string_split_regex(text,'\s+')) / 100.0) AS BIGINT)) AS BIGINT) AS n_chunks
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_keywords" ->
      """SELECT kw, count(*) AS n FROM (
        |  SELECT regexp_replace(unnest(string_split_regex(lower(text),'\s+')), '[^a-z]', '', 'g') AS kw
        |  FROM documents)
        |WHERE length(kw) >= 4 AND kw NOT IN ('that','with','this')
        |GROUP BY kw ORDER BY n DESC, kw LIMIT 20""".stripMargin,
    "d_ngram_pairs" -> exactJaccardSql,
    "d_containment" -> containmentSql,
    // the LSH pipelines are candidate-generation + exact-Jaccard verify, so
    // their outputs equal the exact pair definition — same oracle
    "d_minhash_pairs" -> exactJaccardSql,
    // closed-form truth for the synthetic chains: nearest lower multiple
    // of 5 is the terminal, i mod 5 the chain length
    "p_redirect_resolve" ->
      """SELECT doc_id AS url_id, (doc_id // 5) * 5 AS final_id,
        |  CAST(doc_id % 5 AS BIGINT) AS n_hops
        |FROM documents WHERE doc_id % 5 <> 0 ORDER BY url_id""".stripMargin,
    // same lag/count change-rate arithmetic over the same synthetic history
    "p_revisit_schedule" ->
      """WITH h AS (
        |  SELECT doc_id, i, doc_id*31 + i // (doc_id % 5 + 1) AS digest
        |  FROM documents, generate_series(0, 5) AS g(i)),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN lag(digest) OVER w IS NOT NULL
        |           AND digest <> lag(digest) OVER w THEN 1 ELSE 0 END AS c
        |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY i, digest)),
        |r AS (SELECT doc_id, count(*) AS n_obs, sum(c) AS n_changes FROM m GROUP BY 1),
        |t AS (
        |  SELECT doc_id, n_obs, n_changes,
        |    CASE WHEN n_obs > 1 THEN n_changes::DOUBLE / (n_obs - 1)
        |         ELSE 0.0 END AS ratio
        |  FROM r)
        |SELECT doc_id AS url_id, CAST(n_obs AS BIGINT) AS n_obs,
        |  CAST(n_changes AS BIGINT) AS n_changes,
        |  round(ratio, 6) AS change_ratio,
        |  CASE WHEN ratio >= 0.8 THEN 'hot'
        |       WHEN ratio >= 0.4 THEN 'warm' ELSE 'cold' END AS tier
        |FROM t ORDER BY url_id""".stripMargin,
    // cross-set variant: standing corpus (doc_id % 10 <> 0) x new batch
    // (doc_id % 10 = 0), same exact distinct-3-gram Jaccard definition
    "d_incremental_minhash" ->
      raw"""WITH words AS (
        |  SELECT doc_id, string_split_regex(lower(text),'\s+') w FROM documents
        |  WHERE length(string_split_regex(lower(text),'\s+')) >= 3),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) s
        |  FROM words),
        |c AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id o, y.doc_id nw, count(*) i
        |  FROM sh x JOIN sh y ON x.s = y.s
        |  WHERE x.doc_id % 10 <> 0 AND y.doc_id % 10 = 0
        |  GROUP BY 1, 2)
        |SELECT o AS old_id, nw AS new_id,
        |  round(i::DOUBLE / (co.n + cn.n - i), 6) AS jaccard
        |FROM inter JOIN c co ON co.doc_id = o JOIN c cn ON cn.doc_id = nw
        |WHERE i::DOUBLE / (co.n + cn.n - i) >= 0.8
        |ORDER BY old_id, new_id""".stripMargin,
    "d_simhash_pairs" -> exactJaccardSql,
    "d_clusters" -> clustersSql,
    "d_cluster_best" -> clusterBestSql,
    "p_pipeline_keep" -> pipelineKeepSql,
    "p_corpus_build" -> corpusBuildSql,
    // same stage semantics as p_corpus_build (shared SQL), plus the two
    // lineage literals: 4 stages committed, all 4 reused on the rerun
    "x_corpus_snapshot" ->
      s"""SELECT q.*, CAST(4 AS BIGINT) AS n_stages, CAST(4 AS BIGINT) AS n_reused_on_rerun
        |FROM ($corpusBuildSql) q
        |ORDER BY q.lang""".stripMargin,
    "d_embed_neardup" ->
      """SELECT x.vec_id AS a, y.vec_id AS b
        |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.3
        |ORDER BY a, b""".stripMargin,
    // the planted-family geometry (see the query) makes the cos>=0.95 truth
    // exactly the intra-family pairs — closed-form ids, no SQL cosines
    "d_embed_neardup_prod" ->
      """SELECT 100000 + f.f*4 + p.pa AS a, 100000 + f.f*4 + p.pb AS b
        |FROM generate_series(0, 24) AS f(f),
        |     (VALUES (0,1),(0,2),(0,3),(1,2),(1,3),(2,3)) AS p(pa, pb)
        |ORDER BY a, b""".stripMargin,
    // mirror of SemDedup.semDeDup(seeds = vec_id < 8, eps = 0.41):
    // nearest-seed argmax (ties to the lowest seed id), then the
    // upper-triangle greedy — y drops iff ANY smaller-id x in the same
    // cluster has cos >= eps, whether or not x itself survived
    "d_semdedup" ->
      """WITH assign AS (
        |  SELECT vec_id, cl FROM (
        |    SELECT x.vec_id, s.vec_id AS cl,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY list_cosine_similarity(x.embedding, s.embedding) DESC,
        |                 s.vec_id) AS rn
        |    FROM embeddings x, embeddings s WHERE s.vec_id < 8)
        |  WHERE rn = 1),
        |drops AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM embeddings y
        |  JOIN assign ay ON y.vec_id = ay.vec_id
        |  JOIN assign ax ON ax.cl = ay.cl AND ax.vec_id < y.vec_id
        |  JOIN embeddings x ON x.vec_id = ax.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.41)
        |SELECT a.cl AS cluster, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END), 0)
        |    AS BIGINT) AS sum_kept_ids
        |FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_shipdate <= '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_revenue" ->
      """SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 10""".stripMargin,
    // mirror of Sessionize(gap = 30 min): integer-microsecond lag gaps,
    // cumulative-sum session ids over the same (ts, event_id) total order
    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id AS u, epoch_us(ts) AS m, event_type AS et
        |  FROM events),
        |s1 AS (SELECT u, min(m) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
        |s2 AS (
        |  SELECT e.u, s1.t1, min(e.m) AS t2
        |  FROM ev e JOIN s1 ON e.u = s1.u
        |  WHERE e.et = 'click' AND e.m > s1.t1
        |    AND e.m - s1.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.u, s2.t1, min(e.m) AS t3
        |  FROM ev e JOIN s2 ON e.u = s2.u
        |  WHERE e.et = 'purchase' AND e.m > s2.t2
        |    AND e.m - s2.t1 <= 86400000000
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT s1.u, s1.t1,
        |    CASE WHEN s3.t3 IS NOT NULL THEN 3
        |         WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END AS reached,
        |    coalesce(s3.t3, s2.t2, s1.t1) AS t_last
        |  FROM s1
        |  LEFT JOIN s2 ON s1.u = s2.u
        |  LEFT JOIN s3 ON s1.u = s3.u)
        |SELECT CAST(reached AS BIGINT) AS reached,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(u) AS BIGINT) AS id_sum,
        |  CAST(sum(t_last - t1) AS BIGINT) AS conv_micros
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        |m AS (
        |  SELECT user_id, event_id, tus,
        |    CASE WHEN lag(tus) OVER ew IS NULL
        |           OR tus - lag(tus) OVER ew > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW ew AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS UNBOUNDED PRECEDING) - 1 AS sid
        |  FROM m),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n, max(tus) - min(tus) AS dur
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id % 10 AS cohort,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_us,
        |  CAST(max(n) AS BIGINT) AS max_sess_events
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_asof_join" ->
      """WITH builds AS (
        |  SELECT user_id, epoch_us(ts) AS tus, max(value) AS bval
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id % 10 AS cohort,
        |  count(*) AS n_probes,
        |  count(b.bval) AS n_matched,
        |  CAST(sum(CAST(b.bval AS DECIMAL(18,6))) AS DOUBLE) AS sum_bval
        |FROM probes p ASOF LEFT JOIN builds b
        |  ON p.user_id = b.user_id AND p.tus >= b.tus
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_pairs,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders
        |  ON l_extendedprice BETWEEN o_totalprice - 10.0 AND o_totalprice + 10.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the UNSALTED join: salting must be result-invariant, so the mirror
    // simply omits it
    "q_skew_join" ->
      """WITH dim AS (
        |  SELECT DISTINCT event_type, CAST(length(event_type) AS BIGINT) AS w
        |  FROM events)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(e.value * d.w AS DECIMAL(18,6))) AS DOUBLE) AS weighted
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact rank targeting ceil(phi*n) in DOUBLE arithmetic on both sides
    // (identical IEEE ops -> identical rank even at representation edges)
    "t_quantile_sketch" ->
      """WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
        |n AS (SELECT count(*) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.01,0.1,0.25,0.5,0.75,0.9,0.99]) AS DOUBLE) AS phi)
        |SELECT phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q CROSS JOIN n
        |JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY phi ORDER BY phi""".stripMargin,
    // merge(per-commit sketches) == full-scan answer (associativity in the
    // exactness window), so the oracle is the full-data rank targeting
    "t_stats_incremental" ->
      """WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
        |n AS (SELECT count(*) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.1,0.5,0.9]) AS DOUBLE) AS phi)
        |SELECT phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q CROSS JOIN n
        |JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY phi ORDER BY phi""".stripMargin,
    "t_quantiles_by_group" ->
      """WITH s AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
        |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS c FROM s),
        |q AS (SELECT CAST(unnest([0.25,0.5,0.75,0.95]) AS DOUBLE) AS phi)
        |SELECT lang, phi, CAST(min(v) AS BIGINT) AS qv
        |FROM q JOIN r ON r.rn = GREATEST(1, CAST(ceil(phi * c) AS BIGINT))
        |GROUP BY lang, phi ORDER BY lang, phi""".stripMargin,
    // the same mixed composed/decomposed construction, normalized by
    // DuckDB's reference nfc_normalize: chr(769)=U+0301 combining acute,
    // chr(64257)=U+FB01 fi-ligature, chr(65313)=U+FF21 fullwidth A,
    // chr(778)=U+030A combining ring
    "t_unicode_norm" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' e' || chr(769) || ' ' || chr(64257) ||
        |      ' ' || chr(65313) || ' A' || chr(778) AS s0
        |  FROM documents)
        |SELECT doc_id, length(s0) AS len_raw,
        |  length(nfc_normalize(s0)) AS len_nfc,
        |  md5(nfc_normalize(s0)) AS md5_nfc
        |FROM m ORDER BY doc_id""".stripMargin,
    // mirror of t_mojibake's invariants: the repair is exact for every
    // doc (n_exact = n_docs), the recovered depth is the injected pass
    // count, and every corrupted doc was really changed — all derivable
    // from doc_id arithmetic alone because the repair must be lossless
    "t_mojibake" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_exact,
        |  CAST(sum(doc_id % 3) AS BIGINT) AS sum_depth,
        |  CAST(sum(CASE WHEN doc_id % 3 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_damaged
        |FROM documents""".stripMargin,
    // quantized scan + exact rerank reaches full top-5 parity with the
    // brute path on these embeddings (see the query comment), so the
    // shared brute-force rank oracle applies verbatim
    "s_knn_sq8" -> knnRankSql,
    "s_knn_bq" -> knnRankSql,
    // knnPq at m=8/overfetch=8 has measured 100% top-5 parity with brute
    // at all three verify scales — the shared rank oracle applies
    "s_knn_pq" -> knnRankSql,
    "q_star_revenue" ->
      """SELECT r_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
        |  AND p_size <= 25
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_antijoin_customers" ->
      """SELECT c_nationkey, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "s_knn_brute" -> knnRankSql,

    // integer-grid Lloyd replay: every step is exact integer arithmetic
    // (floor(100x) quantization, integer argmin with ties to the lowest
    // label, floorDiv recentering via the pmod identity), so the mirror
    // reproduces assignments, centroids, and inertia bit-for-bit.
    // MATERIALIZED is load-bearing: each CTE is referenced repeatedly and
    // inlining would re-expand the round chain exponentially.
    "s_kmeans" ->
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 100) AS BIGINT)) AS q
        |  FROM embeddings),
        |c0 AS MATERIALIZED (
        |  SELECT vec_id AS cl, r.i AS i, q[r.i] AS v
        |  FROM q, range(1, 65) r(i) WHERE vec_id < 8),
        |d1 AS MATERIALIZED (
        |  SELECT p.vec_id, c.cl,
        |    sum((p.q[c.i] - c.v) * (p.q[c.i] - c.v)) AS d
        |  FROM q p, c0 c GROUP BY 1, 2),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, cl FROM (
        |    SELECT vec_id, cl,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        |    FROM d1) WHERE rn = 1),
        |n1 AS MATERIALIZED (SELECT cl, count(*) AS n FROM a1 GROUP BY 1),
        |s1 AS MATERIALIZED (
        |  SELECT a.cl, r.i AS i, sum(p.q[r.i]) AS s
        |  FROM q p JOIN a1 a ON p.vec_id = a.vec_id
        |  CROSS JOIN range(1, 65) r(i)
        |  GROUP BY 1, 2),
        |c1 AS MATERIALIZED (
        |  SELECT s.cl, s.i,
        |    (s.s - (((s.s % n.n) + n.n) % n.n)) // n.n AS v
        |  FROM s1 s JOIN n1 n USING (cl)),
        |d2 AS MATERIALIZED (
        |  SELECT p.vec_id, c.cl,
        |    sum((p.q[c.i] - c.v) * (p.q[c.i] - c.v)) AS d
        |  FROM q p, c1 c GROUP BY 1, 2),
        |a2 AS MATERIALIZED (
        |  SELECT vec_id, cl, d FROM (
        |    SELECT vec_id, cl, d,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(d) AS BIGINT) AS inertia
        |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // knnLsh at nBits=8 x 64 tables has measured 100% recall for these 10
    // queries at BOTH verify scales (32 tables missed one neighbor at
    // sf0.001), so the brute-force rank oracle applies verbatim
    "s_knn_lsh" -> knnRankSql,
    // knnIvf probes all cells in the oracle config (see the query comment)
    "s_knn_ivf" -> knnRankSql,
    "s_mmr" -> mmrOracleSql(nQueries = 5, poolK = 20, selectK = 5),
    "q_window_running" ->
      """WITH r AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, rn, event_id, running_value FROM r WHERE rn <= 3
        |ORDER BY user_id, rn""".stripMargin,
    "q_topk_docs" ->
      "SELECT doc_id, n_chars, lang FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20",
    "q_median" ->
      """SELECT l_returnflag, count(*) AS n,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(n_name, '(all)') AS n_name,
        |  coalesce(yr, -1) AS yr,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY ROLLUP (n_name, yr)
        |ORDER BY 1, 2""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang) ORDER BY 1, 2""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(source, '(all)') AS source,
        |  coalesce(lang, '(all)') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source, lang), (source), (lang))
        |ORDER BY 1, 2""".stripMargin,
    // fuzzy replay: the same vocabulary expansion via DuckDB's built-in
    // levenshtein (identical unit-cost edit semantics), VALUES left join
    // for the zero-match leg
    "s_fuzzy" ->
      raw"""WITH fztok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |fztok AS (SELECT doc_id, w FROM fztok0 WHERE w <> ''),
        |fzpost AS (SELECT w AS term, doc_id AS doc, count(*) AS tf FROM fztok GROUP BY 1, 2),
        |fzq(qterm) AS (VALUES ('dada'), ('sart'), ('spak'), ('zzzzz')),
        |fzm AS (SELECT q.qterm, v.term FROM fzq q, (SELECT DISTINCT term FROM fzpost) v
        |        WHERE levenshtein(q.qterm, v.term) <= 1),
        |fzj AS (SELECT m.qterm, m.term, p.doc, p.tf FROM fzm m JOIN fzpost p USING (term)),
        |fza AS (SELECT qterm, count(DISTINCT term) AS n_terms, count(DISTINCT doc) AS n_docs,
        |        sum(tf) AS n_occurrences, sum(DISTINCT doc) AS sum_doc_ids FROM fzj GROUP BY 1)
        |SELECT q.qterm, CAST(coalesce(a.n_terms, 0) AS BIGINT) AS n_terms,
        |  CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(a.n_occurrences, 0) AS BIGINT) AS n_occurrences,
        |  CAST(coalesce(a.sum_doc_ids, 0) AS BIGINT) AS sum_doc_ids
        |FROM fzq q LEFT JOIN fza a USING (qterm) ORDER BY qterm""".stripMargin,
    // WAND replay: the oracle is the PLAIN exact BM25 top-k — the
    // operator's upper-bound pruning must be invisible in the result
    "s_wand" ->
      s"""WITH ${bm25CorpusCtesSql("wd")},
        |${bm25LegCtesSql("wd", "wd", Seq("merge", "vector", "slow", "window"), 15)}
        |SELECT doc AS doc_id, score, CAST(rank AS BIGINT) AS rank
        |FROM wdrank ORDER BY rank""".stripMargin,
    // pivot mirror: conditional aggregation over the same explicit lang
    // domain; sum over an empty/absent cell is NULL on both engines
    "q_pivot" ->
      """SELECT source,
        |  CAST(sum(CASE WHEN lang = 'de' THEN n_chars END) AS BIGINT) AS de,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars END) AS BIGINT) AS en,
        |  CAST(sum(CASE WHEN lang = 'es' THEN n_chars END) AS BIGINT) AS es,
        |  CAST(sum(CASE WHEN lang = 'fr' THEN n_chars END) AS BIGINT) AS fr,
        |  CAST(sum(CASE WHEN lang = 'zh' THEN n_chars END) AS BIGINT) AS zh
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_set_ops" ->
      """SELECT DISTINCT source FROM documents WHERE lang = 'es'
        |EXCEPT SELECT DISTINCT source FROM documents WHERE lang = 'zh'
        |ORDER BY source""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "m_image_neardup" ->
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 250 = (b.doc_id // 20) % 250
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin,
    // pHash replay: intra-family pairs only (code distance >= 8 between
    // families, hash == code asserted for all famids in PhashSpec)
    "m_phash_neardup" ->
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 120 = (b.doc_id // 20) % 120
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin,
    // frame plan: counts + arithmetic-series timestamp sums in closed
    // form from the same synthesized durations
    "m_video_frames" ->
      """WITH v AS (
        |  SELECT ((doc_id * 7) % 3600000 + 1000) // 1000 + 1 AS nf FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_videos,
        |  CAST(sum(nf) AS BIGINT) AS sum_frames,
        |  CAST(sum(1000 * (nf - 1) * nf // 2) AS BIGINT) AS sum_ts_ms,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM v""".stripMargin,
    // audio near-dup: the true pair set is exactly the family self-join
    // (intra-family profile hamming 0 by construction)
    "m_audio_neardup" ->
      """SELECT a.doc_id AS a, b.doc_id AS b, CAST(0 AS BIGINT) AS hamming
        |FROM documents a JOIN documents b
        |  ON (a.doc_id // 20) % 250 = (b.doc_id // 20) % 250
        | AND a.doc_id < b.doc_id
        |ORDER BY a, b""".stripMargin,
    "m_video_meta" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_videos,
        |  CAST(sum(doc_id % 1280 + 16) AS BIGINT) AS sum_w,
        |  CAST(sum((doc_id * 3) % 720 + 16) AS BIGINT) AS sum_h,
        |  CAST(sum((doc_id * 7) % 3600000 + 1000) AS BIGINT) AS sum_duration_ms,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM documents""".stripMargin,
    "m_exif_meta" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'Cam' || CAST(doc_id % 3 AS VARCHAR) AS make,
        |    doc_id % 8 + 1 AS orient,
        |    '2026:08:' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |      || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':00:00' AS dto,
        |    (doc_id % 1000 + 1) + ((doc_id * 3) % 1000 + 1) AS px,
        |    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS gps
        |  FROM documents)
        |SELECT make,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gps) AS BIGINT) AS n_gps,
        |  CAST(sum(orient) AS BIGINT) AS sum_orient,
        |  min(dto) AS min_dto, max(dto) AS max_dto,
        |  CAST(sum(px) AS BIGINT) AS sum_px,
        |  CAST(0 AS BIGINT) AS n_strip_residual,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM f GROUP BY make ORDER BY make""".stripMargin,
    "m_mp3_meta" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'A' || CAST(doc_id % 5 AS VARCHAR) AS artist,
        |    'B' || CAST(doc_id % 3 AS VARCHAR) AS album,
        |    'T' || CAST(doc_id % 7 AS VARCHAR) AS title,
        |    doc_id % 20 + 1 AS nf
        |  FROM documents)
        |SELECT artist,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(nf) AS BIGINT) AS sum_frames,
        |  CAST(sum((nf * 1152 * 1000) // 44100) AS BIGINT) AS sum_duration_ms,
        |  CAST(count(DISTINCT album) AS BIGINT) AS n_albums,
        |  min(title) AS min_title, max(title) AS max_title,
        |  CAST(0 AS BIGINT) AS n_codec_drift,
        |  CAST(0 AS BIGINT) AS n_bad_parse
        |FROM f GROUP BY artist ORDER BY artist""".stripMargin,
    // full term-by-term replay of the integer linear-interp resample:
    // output sample j of doc d is a pure function of doc_id, so the mirror
    // regenerates every resampled sample with the same truncating `//`
    // division and pins counts, energy, signed mass, and peak per cohort.
    // range(0,512) + inequality join = per-doc output index space (DuckDB
    // range() takes no lateral args; 512 > max nOut = 256).
    "m_audio_resample" ->
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id, (doc_id * 37) % 8000 + 1000 AS amp,
        |    doc_id % 16 + 1 AS half,
        |    2 * (doc_id % 16 + 1) * (doc_id % 5 + 3) AS n,
        |    8000 + (doc_id % 3) * 4000 AS outr
        |  FROM documents),
        |outs AS MATERIALIZED (
        |  SELECT d.doc_id, d.outr, d.amp, d.half, d.n, j.j,
        |    LEAST((j.j * 16000) // d.outr, d.n - 1) AS i0,
        |    (j.j * 16000) % d.outr AS frac
        |  FROM p d JOIN range(0, 512) j(j)
        |    ON j.j < (d.n * d.outr) // 16000),
        |vals AS MATERIALIZED (
        |  SELECT doc_id,
        |    ((outr - frac) *
        |      (CASE WHEN (i0 // half) % 2 = 0 THEN amp ELSE -amp END)
        |     + frac *
        |      (CASE WHEN (LEAST(i0 + 1, n - 1) // half) % 2 = 0
        |        THEN amp ELSE -amp END)) // outr AS v
        |  FROM outs)
        |SELECT doc_id % 10 AS cohort,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(sum(v) AS BIGINT) AS sum_amp,
        |  CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin,

    "m_audio_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id * 37) % 8000 + 1000 AS amp,
        |    doc_id % 16 + 1 AS half,
        |    doc_id % 5 + 3 AS cycles
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_clips,
        |  CAST(sum(2 * half * cycles) AS BIGINT) AS sum_samples,
        |  CAST(sum(2 * half * cycles * amp * amp) AS BIGINT) AS sum_sq,
        |  CAST(sum(2 * cycles - 1) AS BIGINT) AS sum_crossings,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM m""".stripMargin,
    "m_jpeg_pixels" ->
      """WITH g AS (
        |  SELECT doc_id, doc_id % 4 + 1 AS bw, (doc_id*3) % 4 + 1 AS bh FROM documents),
        |cells AS (
        |  SELECT g.doc_id, 64 * 1000 * ((g.doc_id*7 + i.i*13 + j.j*29) % 256) AS cell_lum
        |  FROM g, (VALUES (0),(1),(2),(3)) i(i), (VALUES (0),(1),(2),(3)) j(j)
        |  WHERE i.i < g.bw AND j.j < g.bh),
        |gray AS (SELECT doc_id, CAST(sum(cell_lum) AS BIGINT) AS glum FROM cells GROUP BY 1),
        |c AS (
        |  SELECT doc_id, (doc_id*11) % 256 AS yv,
        |         (doc_id*13) % 256 AS cbv, (doc_id*17) % 256 AS crv
        |  FROM documents),
        |crgb AS (
        |  SELECT doc_id,
        |    GREATEST(0, LEAST(255, yv + CAST(floor((91881*(crv-128)+32768)/65536.0) AS BIGINT))) AS r,
        |    GREATEST(0, LEAST(255, yv - CAST(floor((22554*(cbv-128)+46802*(crv-128)+32768)/65536.0) AS BIGINT))) AS gg,
        |    GREATEST(0, LEAST(255, yv + CAST(floor((116130*(cbv-128)+32768)/65536.0) AS BIGINT))) AS b
        |  FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(gray.glum) AS BIGINT) AS sum_gray_lum,
        |  CAST(sum(256 * (299*crgb.r + 587*crgb.gg + 114*crgb.b)) AS BIGINT) AS sum_color_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM documents d JOIN gray USING (doc_id) JOIN crgb USING (doc_id)""".stripMargin,
    // GIF replay: two-band image -> row-weighted luminance is triangular-
    // number arithmetic; rows 0..h/2-1 carry lum1, the rest lum2, row y
    // weighs (y+1), so band weights are tri(h2) and tri(h)-tri(h2)
    "m_gif_pixels" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    doc_id % 14 + 3 AS w,
        |    (doc_id*5) % 17 + 1 AS h,
        |    299*((doc_id*3) % 256) + 587*((doc_id*5) % 256) + 114*((doc_id*7) % 256) AS lum1,
        |    299*((doc_id*11) % 256) + 587*((doc_id*13) % 256) + 114*((doc_id*17) % 256) AS lum2
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, w, lum1, lum2,
        |    (h//2)*((h//2)+1)//2 AS tri_top,
        |    h*(h+1)//2 - (h//2)*((h//2)+1)//2 AS tri_bot
        |  FROM m)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(w * (lum1 * tri_top + lum2 * tri_bot)) AS BIGINT) AS sum_weighted_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode
        |FROM t""".stripMargin,
    "m_media_pixels" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    doc_id % 16 + 8 AS w,
        |    (doc_id*3) % 15 + 8 AS h,
        |    299*((doc_id*3) % 256) + 587*((doc_id*5) % 256) + 114*((doc_id*7) % 256) AS lum1,
        |    299*((doc_id*11) % 256) + 587*((doc_id*13) % 256) + 114*((doc_id*17) % 256) AS lum2
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN w*h*lum1
        |                ELSE w*((h//2)*lum1 + (h - h//2)*lum2) END) AS BIGINT) AS sum_lum,
        |  CAST(0 AS BIGINT) AS n_bad_decode,
        |  CAST(0 AS BIGINT) AS n_solid_ahash_wrong
        |FROM m""".stripMargin,
    // resize replay: output dims are ceil-division block grids; each
    // resized pixel is exactly the planted per-block color (block-
    // constant input makes the truncated mean exact), so the luminance
    // sum is the same (doc, bx, by) arithmetic over an unnest(range)
    // grid
    "m_image_resize" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 2 AS f, doc_id % 10 + 8 AS w,
        |         (doc_id * 3) % 10 + 8 AS h
        |  FROM documents),
        |g AS (SELECT doc_id, f, (w + f - 1) // f AS bw, (h + f - 1) // f AS bh FROM v),
        |gx AS (SELECT doc_id, bh, unnest(range(0, bw)) AS bx FROM g),
        |px AS (SELECT doc_id, bx, unnest(range(0, bh)) AS by FROM gx),
        |lm AS (
        |  SELECT 299 * ((doc_id * 3 + bx * 7 + by * 11) % 256)
        |    + 587 * ((doc_id * 5 + bx * 13 + by * 17) % 256)
        |    + 114 * ((doc_id * 7 + bx * 19 + by * 23) % 256) AS lum
        |  FROM px)
        |SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_images,
        |  CAST((SELECT sum(bw) FROM g) AS BIGINT) AS sum_w,
        |  CAST((SELECT sum(bh) FROM g) AS BIGINT) AS sum_h,
        |  CAST((SELECT sum(lum) FROM lm) AS BIGINT) AS sum_lum,
        |  CAST(0 AS BIGINT) AS n_bad""".stripMargin,
    "m_media_features" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec,
        |         CAST(doc_id % 640 + 1 AS INTEGER) AS w,
        |         CAST((doc_id * 7) % 480 + 1 AS INTEGER) AS h
        |  FROM documents)
        |SELECT codec, count(*) AS n,
        |  CAST(count(*) * CASE WHEN codec = 'png' THEN 45 ELSE 41 END AS BIGINT) AS total_bytes,
        |  min(w) AS min_w, max(w) AS max_w, min(h) AS min_h, max(h) AS max_h
        |FROM m GROUP BY codec ORDER BY codec""".stripMargin,
    "q_word_hist" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(text),'\s+')) AS word FROM documents)
        |WHERE length(word) > 3
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,
    // Extends the t_unigram_lm mirror with the integer rate + per-lang
    // tercile cut: same top-500 vocab, same floor division, same
    // (rate DESC, doc_id) rank order.
    "p_ccnet_buckets" ->
      raw"""WITH utok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |utok AS (SELECT doc_id, w FROM utok0 WHERE w <> ''),
        |vc AS (SELECT w, count(*) AS cnt FROM utok GROUP BY 1),
        |vocab AS (
        |  SELECT w, cnt FROM (
        |    SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rk FROM vc)
        |  WHERE rk <= 500),
        |perdoc AS (
        |  SELECT t.doc_id, count(*) AS n_tokens,
        |    coalesce(sum(v.cnt), 0) AS commonness
        |  FROM utok t LEFT JOIN vocab v ON t.w = v.w
        |  GROUP BY 1),
        |sc AS (
        |  SELECT d.doc_id, d.lang,
        |    CASE WHEN coalesce(p.n_tokens, 0) > 0
        |         THEN (p.commonness * 1000000) // p.n_tokens ELSE 0 END AS rate
        |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
        |rk AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY rate DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM sc),
        |b AS (SELECT lang, doc_id,
        |        CASE WHEN rk * 3 <= n THEN 'head'
        |             WHEN rk * 3 <= 2 * n THEN 'middle'
        |             ELSE 'tail' END AS bucket
        |      FROM rk)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // sf-invariant zeros: streamed admission == independent batch-operator
    // composition, no near-dup leaks, exactly-once replay.
    "x_stream_neardup" ->
      """SELECT CAST(0 AS BIGINT) AS n_admitted_drift,
        |  CAST(0 AS BIGINT) AS id_xor_drift,
        |  CAST(0 AS BIGINT) AS n_neardup_leaked,
        |  CAST(0 AS BIGINT) AS n_replay_drift""".stripMargin,
    // Full mirror of the drift monitor: same halves, same union top-300
    // vocabulary cut, same in-vocab totals, same scaled-L1 integer rank.
    "t_dist_drift" ->
      raw"""WITH ha AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |hb AS (SELECT text FROM documents WHERE doc_id % 2 = 1),
        |ta0 AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM ha),
        |tb0 AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM hb),
        |ca AS (SELECT w, count(*) AS c_a FROM ta0 WHERE w <> '' GROUP BY 1),
        |cb AS (SELECT w, count(*) AS c_b FROM tb0 WHERE w <> '' GROUP BY 1),
        |merged AS (
        |  SELECT coalesce(ca.w, cb.w) AS w,
        |    CAST(coalesce(c_a, 0) AS BIGINT) AS c_a,
        |    CAST(coalesce(c_b, 0) AS BIGINT) AS c_b
        |  FROM ca FULL OUTER JOIN cb ON ca.w = cb.w),
        |vocab AS (SELECT * FROM merged ORDER BY c_a + c_b DESC, w LIMIT 300),
        |tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM vocab)
        |SELECT w, c_a, c_b,
        |  CAST(abs(c_a * n_b - c_b * n_a) AS BIGINT) AS drift_num
        |FROM vocab, tot
        |ORDER BY drift_num DESC, w LIMIT 15""".stripMargin,
    // Full mirror of the CDC chunker: same snapshots, same LBFS boundary
    // rule (16-bit md5 prefix of the trailing 8-char window ≡ 0 mod 64),
    // same end-of-document cut, same whole-doc chunk for short texts.
    "d_cdc_chunks" ->
      raw"""WITH v AS (
        |  SELECT doc_id, 1 AS snap, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |  UNION ALL
        |  SELECT doc_id, 2,
        |    CASE WHEN doc_id % 4 = 0 THEN 'UPDATED ' || text ELSE text END
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |lng AS (SELECT * FROM v WHERE length(text) >= 8),
        |pos AS (SELECT doc_id, snap, text,
        |          unnest(generate_series(8, length(text))) AS i
        |        FROM lng),
        |bnd AS (SELECT doc_id, snap, i FROM pos
        |        WHERE ((strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 1, 1)) - 1) * 4096
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 2, 1)) - 1) * 256
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 3, 1)) - 1) * 16
        |             + (strpos('0123456789abcdef', substr(md5(substr(text, i - 7, 8)), 4, 1)) - 1)) % 64 = 0),
        |cut AS (SELECT doc_id, snap, i FROM bnd
        |        UNION
        |        SELECT doc_id, snap, length(text) FROM lng),
        |chk AS (SELECT doc_id, snap,
        |          md5(substr(text, coalesce(lag(i) OVER w, 0) + 1,
        |                     i - coalesce(lag(i) OVER w, 0))) AS h,
        |          CAST(i - coalesce(lag(i) OVER w, 0) AS BIGINT) AS l
        |        FROM (SELECT c.doc_id, c.snap, c.i, g.text
        |              FROM cut c JOIN lng g
        |              ON c.doc_id = g.doc_id AND c.snap = g.snap)
        |        WINDOW w AS (PARTITION BY doc_id, snap ORDER BY i)),
        |srt AS (SELECT doc_id, snap, md5(text) AS h,
        |          CAST(length(text) AS BIGINT) AS l
        |        FROM v WHERE length(text) < 8),
        |allc AS (SELECT * FROM chk UNION ALL SELECT * FROM srt),
        |dist AS (SELECT h, max(l) AS l, count(DISTINCT snap) AS ns
        |         FROM allc GROUP BY h)
        |SELECT
        |  CAST((SELECT count(*) FROM allc WHERE snap = 1) AS BIGINT) AS n_chunks_v1,
        |  CAST((SELECT count(*) FROM allc WHERE snap = 2) AS BIGINT) AS n_chunks_v2,
        |  CAST((SELECT count(*) FROM dist) AS BIGINT) AS n_distinct,
        |  CAST((SELECT count(*) FROM dist WHERE ns = 2) AS BIGINT) AS n_shared,
        |  CAST((SELECT coalesce(sum(l), 0) FROM dist WHERE ns = 2) AS BIGINT) AS shared_chars""".stripMargin,
    // Exact SCC by definition: transitive closure (recursive CTE, UNION
    // dedup) -> mutual-reachability pairs -> least mutual partner (or self)
    // labels each node; aggregates mirror the Spark output.
    "w_scc" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id % 60 AS src,
        |           ((doc_id % 60) // 6) * 6 + (doc_id + 1) % 6 AS dst
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id % 60, (doc_id * 7 + 3) % 60 FROM documents
        |    WHERE doc_id % 17 = 0)
        |  WHERE src <> dst),
        |nodes AS (SELECT DISTINCT src AS v FROM e
        |          UNION SELECT DISTINCT dst FROM e),
        |reach(a, b) AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |mutual AS (
        |  SELECT r1.a AS v, r1.b AS w
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
        |lab AS (
        |  SELECT n.v AS node, least(n.v, coalesce(min(m.w), n.v)) AS scc
        |  FROM nodes n LEFT JOIN mutual m ON m.v = n.v GROUP BY n.v)
        |SELECT scc, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(node) AS BIGINT) AS sum_nodes
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin,

    "w_kcore" -> kcoreOracleSql(maxK = 12, rounds = 8),
    // Recursive-CTE shortest path over the identical synthesized edge set:
    // every <=6-step walk from the seeds, min path length per node == the
    // BFS distance the frontier iteration settles.
    "w_harmonic" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT doc_id % 89 AS a, (doc_id * 23 + 11) % 89 AS b
        |  FROM documents
        |  WHERE doc_id % 11 = 0 AND doc_id % 89 <> (doc_id * 23 + 11) % 89),
        |walk(seed, node, dist) AS (
        |  SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (VALUES (0), (1), (2)) v(s)
        |  UNION ALL
        |  SELECT w.seed, e.b, w.dist + 1 FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < 5),
        |d AS (SELECT seed, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT node, CAST(sum(60 // dist) AS BIGINT) AS harmonic,
        |  CAST(count(*) AS BIGINT) AS n_seeds
        |FROM d WHERE dist >= 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    "w_seed_distance" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT doc_id % 97 AS a, (doc_id * 17 + 29) % 97 AS b
        |  FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 97 <> (doc_id * 17 + 29) % 97),
        |walk(node, dist) AS (
        |  SELECT CAST(node AS BIGINT), CAST(dist AS BIGINT)
        |  FROM (VALUES (0, 0), (1, 0)) v(node, dist)
        |  UNION ALL
        |  SELECT e.b, w.dist + 1 FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < 6)
        |SELECT node, min(dist) AS dist FROM walk GROUP BY 1 ORDER BY 1""".stripMargin,
    // Full mirror of the bitext miner: same synthetic urls, same anchored
    // language-segment strip, same min-id candidate per (key, lang), same
    // cross-multiplied length-ratio gate.
    "p_bitext_mine" ->
      raw"""WITH pg AS (
        |  SELECT doc_id, lang, text,
        |    'https://ex.com/' || lang || '/p' || CAST(doc_id // 5 AS VARCHAR) AS url
        |  FROM documents),
        |keyed AS (
        |  SELECT regexp_replace(url, '^(https?://[^/]+)/(de|en|es|fr|zh)/', '\1/') AS key,
        |         lang, doc_id AS id, CAST(length(coalesce(text, '')) AS BIGINT) AS len
        |  FROM pg WHERE lang IN ('en', 'fr')),
        |one AS (SELECT key, lang, id, len FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key, lang ORDER BY id) AS rn
        |  FROM keyed) WHERE rn = 1),
        |s AS (SELECT key, id AS src_id, len AS src_len FROM one WHERE lang = 'en'),
        |t AS (SELECT key, id AS tgt_id, len AS tgt_len FROM one WHERE lang = 'fr')
        |SELECT s.key, src_id, tgt_id, src_len, tgt_len
        |FROM s JOIN t ON s.key = t.key
        |WHERE tgt_len * 2 >= src_len AND src_len * 2 >= tgt_len
        |ORDER BY s.key""".stripMargin,
    // Full mirror of the Rocchio train-then-classify path: same top-400
    // vocabulary (count DESC, token ASC), same per-class totals, same
    // exact cross-multiplied argmax with ties to the smallest label.
    "t_train_classifier" ->
      raw"""WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
        |rtok0 AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |          FROM train),
        |rtok AS (SELECT doc_id, w FROM rtok0 WHERE w <> ''),
        |cnt AS (SELECT d.lang AS label, t.w, count(*) AS n_wc
        |        FROM rtok t JOIN train d USING (doc_id) GROUP BY 1, 2),
        |vocab AS (SELECT w FROM (SELECT w, sum(n_wc) AS g FROM cnt GROUP BY 1)
        |          ORDER BY g DESC, w LIMIT 400),
        |cv AS (SELECT label, c.w, n_wc FROM cnt c JOIN vocab v ON c.w = v.w),
        |tot AS (SELECT label, sum(n_wc) AS nc FROM cv GROUP BY 1),
        |stok0 AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |          FROM test),
        |stok AS (SELECT doc_id, w FROM stok0 WHERE w <> ''),
        |num AS (SELECT s.doc_id, c.label, sum(c.n_wc) AS num
        |        FROM stok s JOIN cv c ON s.w = c.w GROUP BY 1, 2),
        |allc AS (SELECT t.doc_id, tt.label,
        |           CAST(coalesce(n.num, 0) AS BIGINT) AS num,
        |           CAST(greatest(tt.nc, 1) AS BIGINT) AS den
        |         FROM test t CROSS JOIN tot tt
        |         LEFT JOIN num n ON n.doc_id = t.doc_id AND n.label = tt.label),
        |cmp AS (SELECT a.doc_id, a.label,
        |          sum(CASE WHEN a.num * b.den > b.num * a.den
        |                     OR (a.num * b.den = b.num * a.den AND a.label <= b.label)
        |              THEN 1 ELSE 0 END) AS wins, count(*) AS nclasses
        |        FROM allc a JOIN allc b ON a.doc_id = b.doc_id GROUP BY 1, 2),
        |pred AS (SELECT doc_id, label AS predicted FROM cmp WHERE wins = nclasses)
        |SELECT t.lang AS actual, p.predicted,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(t.doc_id) AS BIGINT) AS sum_ids
        |FROM test t JOIN pred p USING (doc_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Full GD-training replay: 3 unrolled epochs of the hard-sigmoid
    // integer recurrence (LogReg scaladoc), the learned weights AND the
    // held-out confusion both exact BIGINTs
    "t_logreg_train" -> {
      val epochCtes = (1 to 3).map { e =>
        val pw = s"lw${e - 1}"
        s"""le$e AS (SELECT t.y, t.x0, t.x1, t.x2, t.x3,
           |  greatest(0, least(1024, 512 + (w.w0*t.x0 + w.w1*t.x1 + w.w2*t.x2 + w.w3*t.x3) // 4)) - 1024*t.y AS err
           |  FROM lrtrain t CROSS JOIN $pw w),
           |lg$e AS (SELECT coalesce(sum(err*x0), 0) AS g0, coalesce(sum(err*x1), 0) AS g1,
           |  coalesce(sum(err*x2), 0) AS g2, coalesce(sum(err*x3), 0) AS g3 FROM le$e),
           |lw$e AS (SELECT
           |  CAST(w.w0 - g.g0 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w0,
           |  CAST(w.w1 - g.g1 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w1,
           |  CAST(w.w2 - g.g2 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w2,
           |  CAST(w.w3 - g.g3 // ((SELECT n FROM lrn) * 16) AS BIGINT) AS w3
           |  FROM $pw w CROSS JOIN lg$e g),""".stripMargin
      }.mkString("\n")
      raw"""WITH lrsrc AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y,
        |  CASE WHEN doc_id % 3 = 0 THEN text || '$BoilerplateTail' ELSE text END AS text
        |  FROM documents),
        |${tokCtesOver("lrsrc", "lr")},
        |lragg AS (SELECT doc_id, count(*) AS nt,
        |  sum(CASE WHEN w IN ('the','and','of','to','a','in','is','it') THEN 1 ELSE 0 END) AS nsw,
        |  sum(CASE WHEN length(w) >= 7 THEN 1 ELSE 0 END) AS nlong,
        |  sum(length(w)) AS swl
        |  FROM lrtok GROUP BY 1),
        |lrf AS (SELECT d.doc_id, d.y,
        |  CAST(1 AS BIGINT) AS x0,
        |  CAST((100 * a.nsw) // a.nt - 6 AS BIGINT) AS x1,
        |  CAST(least((10 * a.swl) // a.nt, 200) - 45 AS BIGINT) AS x2,
        |  CAST((100 * a.nlong) // a.nt - 25 AS BIGINT) AS x3
        |  FROM lrsrc d JOIN lragg a ON d.doc_id = a.doc_id WHERE a.nt > 0),
        |lrtrain AS (SELECT * FROM lrf WHERE doc_id % 5 = 0),
        |lrtest AS (SELECT * FROM lrf WHERE doc_id % 5 <> 0),
        |lrn AS (SELECT count(*) AS n FROM lrtrain),
        |lw0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
        |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
        |$epochCtes
        |lpred AS (SELECT t.y,
        |  CASE WHEN greatest(0, least(1024, 512 + (w.w0*t.x0 + w.w1*t.x1 + w.w2*t.x2 + w.w3*t.x3) // 4)) >= 512
        |       THEN 1 ELSE 0 END AS p
        |  FROM lrtest t CROSS JOIN lw3 w)
        |SELECT metric, value FROM (
        |  SELECT 'w0' AS metric, w0 AS value FROM lw3
        |  UNION ALL SELECT 'w1', w1 FROM lw3
        |  UNION ALL SELECT 'w2', w2 FROM lw3
        |  UNION ALL SELECT 'w3', w3 FROM lw3
        |  UNION ALL SELECT 'n_train', (SELECT CAST(n AS BIGINT) FROM lrn)
        |  UNION ALL SELECT 'n_test', (SELECT CAST(count(*) AS BIGINT) FROM lrtest)
        |  UNION ALL SELECT 'tp', (SELECT CAST(sum(CASE WHEN y=1 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'fp', (SELECT CAST(sum(CASE WHEN y=0 AND p=1 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'fn', (SELECT CAST(sum(CASE WHEN y=1 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |  UNION ALL SELECT 'tn', (SELECT CAST(sum(CASE WHEN y=0 AND p=0 THEN 1 ELSE 0 END) AS BIGINT) FROM lpred)
        |) ORDER BY metric""".stripMargin
    },
    // Structured-metadata mirror: the page was BUILT from these columns,
    // so the oracle recomputes every expected field directly — the
    // kernel's parse (title entity decode, meta quirks, LD capture past
    // the decoys) must land exactly on n_docs for every *_ok count
    "t_structured_meta" ->
      raw"""WITH ex AS (SELECT doc_id, source, lang, n_chars,
        |  'Doc ' || doc_id || ': ' || source AS headline,
        |  'author-' || (doc_id % 7) AS author,
        |  '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
        |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS d
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_title_ok,
        |  CAST(count(*) AS BIGINT) AS n_og_ok,
        |  CAST(count(*) AS BIGINT) AS n_locale_ok,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_wc,
        |  CAST(count(DISTINCT author) AS BIGINT) AS n_authors,
        |  min(d) AS min_date,
        |  CAST(sum(length(headline)) AS BIGINT) AS sum_headline_len
        |FROM ex GROUP BY source ORDER BY source""".stripMargin,
    // closed-form chain truth: chains are the 5-doc doc_id//5 groups, the
    // head is the group's min id, page order is doc_id order — the ordered
    // string_agg rebuilds the stitched text exactly (md5 compared, so a
    // single out-of-order or dropped page diverges)
    "p_paginate_stitch" ->
      """SELECT 'u' || min(doc_id) AS head,
        |  CAST(count(*) AS BIGINT) AS n_pages,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5,
        |  CAST(length(string_agg(text, ' ' ORDER BY doc_id)) AS BIGINT)
        |    AS n_chars
        |FROM documents GROUP BY doc_id // 5 ORDER BY head""".stripMargin,
    // closed-form alias-cluster truth: 3 consecutive ids per canonical
    "p_canonical_dedup" ->
      """SELECT 'https://ex.com/a' || (doc_id // 3) AS canonical,
        |  CAST(count(*) AS BIGINT) AS n_aliases,
        |  CAST(min(doc_id) AS BIGINT) AS rep_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY doc_id // 3 ORDER BY canonical""".stripMargin,
    // mirrors the two-signal RULE (title phrase decisive; body phrase only
    // under the token ceiling), not the planting arithmetic — natural
    // phrase hits (e.g. 'Doc 404') must classify identically in both
    // engines
    "t_soft404" ->
      raw"""WITH src AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 34 = 0 THEN '404 Not Found'
        |         ELSE 'Doc ' || doc_id END AS title,
        |    CASE WHEN doc_id % 17 = 0 AND doc_id % 34 <> 0
        |         THEN 'the page you requested does not exist on this server'
        |         ELSE text END AS text
        |  FROM documents),
        |lab AS (
        |  SELECT source,
        |    CASE WHEN contains(lower(title), '404')
        |           OR contains(lower(title), 'page not found')
        |           OR contains(lower(title), 'not be found')
        |           OR contains(lower(title), 'no longer available')
        |           OR contains(lower(title), 'does not exist') THEN 'title'
        |         WHEN (contains(lower(text), '404')
        |           OR contains(lower(text), 'page not found')
        |           OR contains(lower(text), 'not be found')
        |           OR contains(lower(text), 'no longer available')
        |           OR contains(lower(text), 'does not exist'))
        |           AND length(string_split_regex(text, '\s+')) < 80 THEN 'body'
        |         ELSE 'ok' END AS label
        |  FROM src)
        |SELECT source, label, CAST(count(*) AS BIGINT) AS n_docs
        |FROM lab GROUP BY source, label ORDER BY source, label""".stripMargin,
    // closed-form chain truth (chains of 4, terminals at multiples of 4;
    // pure-delay refreshes contribute no edge) — same shape as
    // p_redirect_resolve but the engine-side edges come from an html parse
    "p_refresh_redirects" ->
      """SELECT 'u' || doc_id AS url, 'u' || (doc_id // 4) * 4 AS final,
        |  CAST(doc_id % 4 AS BIGINT) AS n_hops
        |FROM documents WHERE doc_id % 4 <> 0 ORDER BY url""".stripMargin,
    // closed-form variant-cluster truth: clusters of 4, en at the
    // cluster base, every non-en page pairs with the declared en url
    "p_hreflang_pairs" ->
      """SELECT 'uh' || doc_id AS url,
        |  CASE doc_id % 4 WHEN 1 THEN 'de' WHEN 2 THEN 'fr'
        |       ELSE 'pt' END AS lang,
        |  'uh' || (doc_id // 4) * 4 AS en_url
        |FROM documents WHERE doc_id % 4 <> 0 ORDER BY url""".stripMargin,
    // the triple relation rebuilt closed-form (orphan and commented decoys
    // contribute nothing), aggregated identically — TRY_CAST nulls the
    // non-numeric values on both engines so sum_num pins only price
    "t_microdata" ->
      """WITH tr AS (
        |  SELECT source, 'https://schema.org/Product' AS itemtype,
        |         'name' AS prop, 'Item & ' || doc_id AS value FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'sku',
        |         'S' || doc_id FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'url',
        |         '/p/' || doc_id FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'offers',
        |         'https://schema.org/Offer' FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'category',
        |         'c' || (doc_id % 7) FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Product', 'tag',
        |         'c' || (doc_id % 7) FROM documents
        |  UNION ALL SELECT source, 'https://schema.org/Offer', 'price',
        |         CAST(doc_id % 997 AS VARCHAR) FROM documents)
        |SELECT source, itemtype, prop, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_vals,
        |  CAST(sum(TRY_CAST(value AS BIGINT)) AS BIGINT) AS sum_num
        |FROM tr GROUP BY source, itemtype, prop
        |ORDER BY source, itemtype, prop""".stripMargin,
    // every resolved url rebuilt closed-form per (base family, href
    // shape); fragment/mailto noise contributes nothing
    "p_base_links" ->
      """WITH b AS (SELECT doc_id,
        |    'https://h' || (doc_id % 50) || '.com' AS u,
        |    doc_id % 3 AS m, doc_id % 5 AS c FROM documents),
        |tr AS (
        |  SELECT doc_id, u,
        |    CASE m WHEN 0 THEN 'https://cdn' || c || '.org/assets/a.html'
        |           WHEN 1 THEN u || '/dir/sub/a.html'
        |           ELSE u || '/dir/a.html' END AS dst FROM b
        |  UNION ALL SELECT doc_id, u,
        |    CASE m WHEN 0 THEN 'https://cdn' || c || '.org/root.html'
        |           ELSE u || '/root.html' END FROM b
        |  UNION ALL SELECT doc_id, u, 'https://other.net/x' FROM b
        |  UNION ALL SELECT doc_id, u, 'https://abs.com/y' FROM b)
        |SELECT u || '/dir/page' || doc_id || '.html' AS url, dst
        |FROM tr ORDER BY url, dst""".stripMargin,
    // every (page, image url, alt, from_srcset) row rebuilt closed-form;
    // the data: inline and the commented img contribute nothing
    "m_image_pairs" ->
      """WITH b AS (SELECT doc_id,
        |    'https://h' || (doc_id % 50) || '.com/g/p' || doc_id || '.html' AS url,
        |    CASE WHEN doc_id % 3 = 0 THEN 'https://img' || (doc_id % 5) || '.cdn/'
        |         ELSE 'https://h' || (doc_id % 50) || '.com/g/' END AS root,
        |    'Alt & ' || doc_id AS alt FROM documents),
        |tr AS (
        |  SELECT url, root || 'm' || doc_id || '.jpg' AS img_url, alt,
        |         false AS from_srcset FROM b
        |  UNION ALL
        |  SELECT url, root || 'm' || doc_id || '-2x.jpg', alt, true FROM b
        |  WHERE doc_id % 2 = 0)
        |SELECT url, img_url, alt, from_srcset
        |FROM tr ORDER BY url, img_url, from_srcset""".stripMargin,
    // group truth: pairs of docs share image g = doc_id // 2 through a
    // case/tracking variant that canonicalizes away; the representative
    // alt is the even doc's longer caption; g%7==0 groups gate out
    "p_image_corpus" ->
      """WITH cnt AS (
        |  SELECT doc_id // 2 AS g, count(*) AS nv FROM documents GROUP BY 1),
        |m AS (
        |  SELECT g, nv,
        |    'https://cdn' || (g % 5) || '.net/i/m' || g || '.jpg' AS img,
        |    CASE WHEN g % 7 = 0 THEN ''
        |         ELSE 'Alt ' || g || ' long caption' END AS alt
        |  FROM cnt)
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |  CAST(sum(nv) AS BIGINT) AS n_raw,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN length(img) END) AS BIGINT)
        |    AS sum_img_len,
        |  CAST(sum(CASE WHEN length(alt) > 0 THEN length(alt) END) AS BIGINT)
        |    AS sum_alt_len
        |FROM m""".stripMargin,
    // expected ISO strings rebuilt from the same arithmetic; the invalid
    // and date-less families must count zero dated urls
    "p_url_dates" ->
      """WITH f AS (
        |  SELECT doc_id % 4 AS family,
        |    CASE WHEN doc_id % 4 IN (0, 1)
        |         THEN '2026-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
        |              || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    END AS dt
        |  FROM documents)
        |SELECT family, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(dt) AS BIGINT) AS n_dated,
        |  min(dt) AS min_date, max(dt) AS max_date
        |FROM f GROUP BY family ORDER BY family""".stripMargin,
    "p_lexicon_filter" ->
      raw"""WITH aug AS (
        |  SELECT doc_id,
        |    text
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' free money today and free money tomorrow' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' the grandwinner takes winner-takes-all' ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN ' CASINO Casino casino' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN ' jackpot2000 hit the jackpot!' ELSE '' END) AS s
        |  FROM documents),
        |terms(term) AS (VALUES ('free money'), ('winner'), ('casino'), ('jackpot'), ('forbidden')),
        |hits AS (
        |  SELECT t.term, a.doc_id,
        |    len(regexp_extract_all(lower(a.s), '\b' || t.term || '\b')) AS n
        |  FROM aug a CROSS JOIN terms t)
        |SELECT term,
        |  CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_hits
        |FROM hits GROUP BY term ORDER BY term""".stripMargin,
    "t_outline" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, toc, nh) AS (VALUES
        |  (0, '1 Intro|1.1 R&D|1.2 Setup|2 End', 4),
        |  (1, '1 Top|1.0.1 Deep|1.1 Back', 3),
        |  (2, '0.1 Loose|1 Main', 2))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.toc) AS min_toc, max(t.toc) AS max_toc,
        |  CAST(sum(t.nh) AS BIGINT) AS sum_headings
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "t_section_chunks" ->
      """WITH f AS (SELECT doc_id, doc_id % 2 AS family FROM documents),
        |t(family, dump, nc) AS (VALUES
        |  (0, replace('0/0//p0 p1|1/0/1/Alpha~~w0 w1|1/1/1/Alpha~~w2 w3|1/2/1/Alpha~~w4|2/0/1.1/Beta~~u0 u1|2/1/1.1/Beta~~u2', '~', chr(10)), 6),
        |  (1, replace('0/0/1/Solo~~a b|0/1/1/Solo~~c d', '~', chr(10)), 2))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nc) AS BIGINT) AS sum_chunks
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "t_tables" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, dump, nt, nc, caps) AS (VALUES
        |  (0, '0/0/0/k|0/0/1/v|0/0/2/u|0/1/0/a|0/1/1/1|0/1/2/x', 1, 6, 'Stats'),
        |  (1, '0/0/0/out1|0/0/1/|1/0/0/in1|1/0/1/in2', 2, 4, ''),
        |  (2, '', 0, 0, 'tableless'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nt) AS BIGINT) AS sum_tables,
        |  CAST(sum(t.nc) AS BIGINT) AS sum_cells,
        |  min(t.caps) AS min_caps, max(t.caps) AS max_caps
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "p_length_buckets" ->
      raw"""WITH t AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')) AS toks
        |  FROM documents),
        |b AS (SELECT toks,
        |        CASE WHEN toks = 0 THEN 0 ELSE length(bin(toks)) END AS bucket FROM t)
        |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
        |  CAST(min(toks) AS BIGINT) AS min_tokens, CAST(max(toks) AS BIGINT) AS max_tokens
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "d_cluster_histogram" ->
      s"""WITH RECURSIVE $exactPairsCtes,
        |p AS (
        |  SELECT a, b FROM inter JOIN c ca ON ca.doc_id = a JOIN c cb ON cb.doc_id = b
        |  WHERE i::DOUBLE / (ca.n + cb.n - i) >= 0.8),
        |edges AS (SELECT a src, b dst FROM p UNION ALL SELECT b, a FROM p),
        |cc(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, cc.r FROM cc JOIN edges e ON e.src = cc.id),
        |comp AS (SELECT id, min(r) AS component FROM cc GROUP BY id),
        |sz AS (SELECT component, count(*) AS size FROM comp GROUP BY component),
        |h AS (SELECT size, count(*) AS n_clusters FROM sz GROUP BY size),
        |allrows AS (
        |  SELECT size, n_clusters FROM h
        |  UNION ALL
        |  SELECT 1, (SELECT count(*) FROM c) - (SELECT coalesce(sum(size), 0) FROM sz))
        |SELECT CAST(size AS BIGINT) AS size, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(size * n_clusters AS BIGINT) AS n_docs,
        |  CAST((size - 1) * n_clusters AS BIGINT) AS n_removable
        |FROM allrows ORDER BY size""".stripMargin,
    "t_zipf" ->
      raw"""WITH t0 AS (
        |  SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents),
        |f AS (SELECT w, count(*) AS f FROM t0 WHERE w <> '' GROUP BY w
        |      ORDER BY f DESC, w LIMIT 50),
        |r AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS r FROM f)
        |SELECT CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(min(r * f) AS BIGINT) AS min_rf, CAST(max(r * f) AS BIGINT) AS max_rf,
        |  max(CASE WHEN r = 1 THEN w END) AS top_word,
        |  CAST(max(CASE WHEN r = 1 THEN f END) AS BIGINT) AS top_freq
        |FROM r""".stripMargin,
    "t_entity_spans" ->
      """WITH aug AS (
        |  SELECT text
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' Visit New York City today' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ' according to World Health Organization reports' ELSE '' END)
        |    || (CASE WHEN doc_id % 2 = 0 THEN ' say Hello World and again Hello World' ELSE '' END)
        |    AS text
        |  FROM documents),
        |e AS (
        |  SELECT unnest(regexp_extract_all(text, '([A-Z][a-z]+(?: [A-Z][a-z]+)+)', 1)) AS entity
        |  FROM aug)
        |SELECT entity, CAST(count(*) AS BIGINT) AS n
        |FROM e GROUP BY entity ORDER BY n DESC, entity LIMIT 20""".stripMargin,
    "p_mix_schedule" ->
      """WITH t AS (
        |  SELECT lang, CAST(sum(length(string_split_regex(text, '\s+'))) AS BIGINT) AS have,
        |    (length(lang) * 7 + ascii(substr(lang, 1, 1))) % 10 + 1 AS w
        |  FROM documents GROUP BY lang),
        |g AS (SELECT sum(have) AS total_have, sum(w) AS total_w FROM t)
        |SELECT lang, have, CAST(w AS BIGINT) AS w,
        |  CAST((2 * g.total_have * w) // g.total_w AS BIGINT) AS target,
        |  CAST(least(((2 * g.total_have * w) // g.total_w * 1000) // have, 4000) AS BIGINT) AS epochs_x1000,
        |  CAST(CASE WHEN ((2 * g.total_have * w) // g.total_w * 1000) // have > 4000
        |       THEN 1 ELSE 0 END AS BIGINT) AS capped
        |FROM t CROSS JOIN g ORDER BY lang""".stripMargin,
    "p_polite_budget" ->
      """WITH f AS (
        |  SELECT doc_id AS url, doc_id % 11 AS host, (doc_id * 31) % 1000 AS priority
        |  FROM documents),
        |caps AS (
        |  SELECT host,
        |    CASE host % 3 WHEN 0 THEN 60 // 5 WHEN 1 THEN 60 // 30 ELSE 60 // 10 END AS cap
        |  FROM (SELECT DISTINCT host FROM f)),
        |rk AS (
        |  SELECT f.url, f.host, f.priority, c.cap,
        |    row_number() OVER (PARTITION BY f.host ORDER BY f.priority DESC, f.url) AS r
        |  FROM f JOIN caps c ON f.host = c.host),
        |capped AS (SELECT url, host, priority FROM rk WHERE r <= cap),
        |sel AS (SELECT url, host, priority FROM capped ORDER BY priority DESC, url LIMIT 40)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_selected,
        |  CAST(sum(url) AS BIGINT) AS sum_url_ids,
        |  CAST(max(priority) AS BIGINT) AS max_priority
        |FROM sel GROUP BY host ORDER BY host""".stripMargin,
    "w_reciprocal" ->
      """WITH e0 AS (
        |  SELECT doc_id % 50 AS src, ((doc_id % 50) * 3 + 1) % 50 AS dst FROM documents
        |  UNION ALL SELECT 7, 22 UNION ALL SELECT 22, 7),
        |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |r AS (SELECT e.src, e.dst FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src))
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  CAST(count(*) AS BIGINT) AS n_reciprocal,
        |  CAST(sum(src + dst) AS BIGINT) AS recip_key_sum
        |FROM r""".stripMargin,
    "t_host_gini" ->
      """WITH h AS (
        |  SELECT CASE WHEN doc_id % 4 = 0 THEN 0 ELSE doc_id % 13 END AS host
        |  FROM documents),
        |c AS (SELECT host, count(*) AS c FROM h GROUP BY host),
        |r AS (SELECT host, c, row_number() OVER (ORDER BY c ASC, host ASC) AS rk FROM c),
        |a AS (SELECT count(*) AS n_hosts, sum(c) AS n_pages, sum(rk * c) AS wsum FROM r)
        |SELECT CAST(n_hosts AS BIGINT) AS n_hosts, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST((wsum * 2 - (n_hosts + 1) * n_pages) * 1000000 // (n_hosts * n_pages) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,
    "t_bpe_fertility" ->
      s"""WITH ${bpeStageCtes(8)},
        |bpmap AS (SELECT replace(s, ' ', '') AS w,
        |    len(string_split(trim(s), '  ')) AS nsub FROM bpv8),
        |bpperdoc AS (
        |  SELECT d.doc_id, CAST(coalesce(sum(m.nsub), 0) AS BIGINT) AS n_subwords
        |  FROM documents d
        |  LEFT JOIN bptok t ON t.doc_id = d.doc_id
        |  LEFT JOIN bpmap m ON m.w = t.w
        |  GROUP BY 1),
        |wper AS (SELECT doc_id, count(*) AS n_words FROM bptok GROUP BY doc_id)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(w.n_words, 0)) AS BIGINT) AS sum_words,
        |  CAST(sum(p.n_subwords) AS BIGINT) AS sum_subwords
        |FROM documents d
        |LEFT JOIN wper w ON d.doc_id = w.doc_id
        |LEFT JOIN bpperdoc p ON d.doc_id = p.doc_id
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "p_fim_transform" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i0
        |  FROM documents),
        |t1 AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |       FROM t0 WHERE w <> ''),
        |nper AS (SELECT doc_id, count(*) AS n FROM t1 GROUP BY doc_id),
        |dk AS (
        |  SELECT d.doc_id, coalesce(np.n, 0) AS n,
        |    (coalesce(np.n, 0) >= 2 AND
        |     (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|0'", 4)}) % 2 = 0) AS applies,
        |    (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|1'", 4)}) % (coalesce(np.n, 0) + 1) AS c1,
        |    (${md5PrefixSql("CAST(d.doc_id AS VARCHAR) || '|2'", 4)}) % (coalesce(np.n, 0) + 1) AS c2
        |  FROM documents d LEFT JOIN nper np ON d.doc_id = np.doc_id),
        |cuts AS (SELECT doc_id, n, applies, least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM dk),
        |segs AS (
        |  SELECT c.doc_id, c.applies, c.hi - c.lo AS n_middle,
        |    string_agg(t.w, ' ' ORDER BY t.i) AS plain,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i <= c.lo) AS pre,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i > c.lo AND t.i <= c.hi) AS mid,
        |    string_agg(t.w, ' ' ORDER BY t.i) FILTER (WHERE t.i > c.hi) AS suf
        |  FROM cuts c LEFT JOIN t1 t ON c.doc_id = t.doc_id
        |  GROUP BY c.doc_id, c.applies, c.hi - c.lo),
        |outs AS (
        |  SELECT doc_id, applies,
        |    CASE WHEN applies THEN n_middle ELSE 0 END AS n_middle,
        |    CASE WHEN applies THEN concat_ws(' ', '<fim_prefix>', nullif(coalesce(pre, ''), ''),
        |      '<fim_suffix>', nullif(coalesce(suf, ''), ''), '<fim_middle>', nullif(coalesce(mid, ''), ''))
        |    ELSE coalesce(plain, '') END AS output
        |  FROM segs)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN applies THEN 1 ELSE 0 END) AS BIGINT) AS n_fim,
        |  CAST(sum(n_middle) AS BIGINT) AS n_middle_tokens,
        |  CAST(sum(${md5PrefixSql("output", 4)}) AS BIGINT) AS sum_out_md5pfx
        |FROM outs""".stripMargin,
    "p_span_corrupt" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w,
        |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i0
        |  FROM documents),
        |t1 AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY i0) AS i
        |       FROM t0 WHERE w <> ''),
        |cellt AS (SELECT doc_id, w, i, (i - 1) // 3 AS cell FROM t1),
        |starts AS (
        |  SELECT doc_id, cell,
        |    ((${md5PrefixSql("CAST(doc_id AS VARCHAR) || '|' || CAST(cell * 3 + 1 AS VARCHAR)", 4)}) % 5 = 0) AS m
        |  FROM (SELECT DISTINCT doc_id, cell FROM cellt)),
        |ks AS (SELECT doc_id, cell,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY cell) - 1 AS k
        |       FROM starts WHERE m),
        |r AS (SELECT c.doc_id, c.w, c.i, c.cell, s.m, ks.k
        |      FROM cellt c
        |      JOIN starts s ON c.doc_id = s.doc_id AND c.cell = s.cell
        |      LEFT JOIN ks ON c.doc_id = ks.doc_id AND c.cell = ks.cell),
        |inp AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN m THEN '<extra_id_' || CAST(k AS VARCHAR) || '>' ELSE w END,
        |    ' ' ORDER BY i) AS input
        |  FROM r WHERE (NOT m) OR ((i - 1) % 3 = 0) GROUP BY doc_id),
        |tgt AS (
        |  SELECT doc_id, string_agg(
        |    CASE WHEN (i - 1) % 3 = 0 THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w ELSE w END,
        |    ' ' ORDER BY i) AS target
        |  FROM r WHERE m GROUP BY doc_id),
        |perdoc AS (
        |  SELECT dd.doc_id, coalesce(inp.input, '') AS input, coalesce(tgt.target, '') AS target,
        |    coalesce((SELECT count(*) FROM ks WHERE ks.doc_id = dd.doc_id), 0) AS n_spans,
        |    coalesce((SELECT count(*) FROM r WHERE r.doc_id = dd.doc_id AND r.m), 0) AS n_masked
        |  FROM documents dd
        |  LEFT JOIN inp ON dd.doc_id = inp.doc_id
        |  LEFT JOIN tgt ON dd.doc_id = tgt.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
        |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
        |  CAST(sum(${md5PrefixSql("input", 4)}) AS BIGINT) AS sum_input_md5pfx,
        |  CAST(sum(${md5PrefixSql("target", 4)}) AS BIGINT) AS sum_target_md5pfx
        |FROM perdoc""".stripMargin,
    "p_frontier_discovery" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT unnest(list_value(
        |    (doc_id * 7 + 1) % (2 * (SELECT n FROM nn)),
        |    (doc_id * 11 + 3) % (SELECT n FROM nn),
        |    (doc_id * 13 + 5) % (2 * (SELECT n FROM nn)))) AS dst
        |  FROM documents),
        |ind AS (SELECT dst, count(*) AS citations FROM e GROUP BY dst),
        |fr AS (
        |  SELECT dst, citations FROM ind
        |  WHERE dst NOT IN (SELECT doc_id FROM documents)
        |  ORDER BY citations DESC, dst LIMIT 20)
        |SELECT dst, CAST(citations AS BIGINT) AS citations,
        |  CAST(row_number() OVER (ORDER BY citations DESC, dst) AS BIGINT) AS rank
        |FROM fr ORDER BY rank""".stripMargin,
    "p_hard_negatives" ->
      s"""WITH ${bm25CorpusCtesSql("hn")},
        |${Seq(0 -> Seq("data", "spark"), 1 -> Seq("fast", "data"), 2 -> Seq("spark", "fast"))
          .map { case (q, ts) => bm25LegCtesSql(s"hn$q", "hn", ts, 10) }.mkString(",\n")},
        |u AS (
        |  SELECT 0 AS qid, doc, rank FROM hn0rank
        |  UNION ALL SELECT 1, doc, rank FROM hn1rank
        |  UNION ALL SELECT 2, doc, rank FROM hn2rank)
        |SELECT CAST(qid AS BIGINT) AS qid,
        |  CAST(min(CASE WHEN rank = 1 THEN doc END) AS BIGINT) AS gold_doc,
        |  CAST(sum(CASE WHEN rank > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN rank > 1 THEN doc ELSE 0 END) AS BIGINT) AS neg_id_sum
        |FROM u GROUP BY qid ORDER BY qid""".stripMargin,
    "p_corpus_report" ->
      s"""WITH b AS (
        |  SELECT doc_id, text, left(text, 4000) AS head, left(lower(text), 4000) AS lhead
        |  FROM documents),
        |${langIdDetectSql("", "b", "doc_id, text")},
        |g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |    CAST(sum(length(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT detected) AS BIGINT) AS n_langs
        |  FROM d),
        |t AS (
        |  SELECT detected AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs
        |  FROM d GROUP BY detected ORDER BY count(*) DESC, detected LIMIT 1)
        |SELECT n_docs, n_distinct_texts, n_docs - n_distinct_texts AS n_dup_docs,
        |  n_tokens, n_langs, top_lang, top_lang_docs
        |FROM g CROSS JOIN t""".stripMargin,
    "t_truncation" ->
      """WITH f AS (SELECT doc_id, doc_id % 5 AS family FROM documents),
        |t(family, state, tail) AS (VALUES
        |  (0, 'in_tag', 10), (1, 'in_comment', 16), (2, 'in_script', 10),
        |  (3, 'no_close', 0), (4, 'complete', 0))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.state) AS min_state, max(t.state) AS max_state,
        |  CAST(sum(t.tail) AS BIGINT) AS sum_tail
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "d_dom_templates" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family, doc_id % 7 AS site FROM documents),
        |t(family, path) AS (VALUES
        |  (0, 'html>body>article>h1>p'),
        |  (1, 'html>body>ul>li>li'),
        |  (2, 'html>body>div>table>tr>td'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.path) AS min_path, max(t.path) AS max_path,
        |  CAST(1 AS BIGINT) AS n_shapes,
        |  CAST(count(DISTINCT f.site) AS BIGINT) AS n_sites
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "t_lang_declared" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, declared, detected, verdict) AS (VALUES
        |  (0, 'en-us', 'en', 'agree'),
        |  (1, 'fr', 'en', 'disagree'),
        |  (2, '', 'fr', 'missing'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.declared) AS min_declared, max(t.declared) AS max_declared,
        |  min(t.detected) AS min_detected, max(t.detected) AS max_detected,
        |  min(t.verdict) AS min_verdict, max(t.verdict) AS max_verdict
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "x_warc_revisit" ->
      """WITH f AS (SELECT doc_id, doc_id % 32 AS bucket, doc_id % 5 AS key FROM documents),
        |b AS (SELECT bucket, count(*) AS n, count(DISTINCT key) AS nd FROM f GROUP BY bucket)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n) AS BIGINT) AS n_records,
        |  CAST(sum(nd) AS BIGINT) AS n_responses,
        |  CAST(sum(n - nd) AS BIGINT) AS n_revisits,
        |  CAST(sum(n - nd) AS BIGINT) AS n_resolved,
        |  CAST(sum(n) AS BIGINT) AS n_body_ok,
        |  CAST(sum(CASE WHEN n > nd THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_smaller
        |FROM b""".stripMargin,
    "t_code_blocks" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, dump, nb) AS (VALUES
        |  (0, replace('0/python/def f(x):~    return x & 1~', '~', chr(10)), 1),
        |  (1, replace('0/js/let x = 1;~  let y = 2;', '~', chr(10)), 1),
        |  (2, '', 0))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.dump) AS min_dump, max(t.dump) AS max_dump,
        |  CAST(sum(t.nb) AS BIGINT) AS sum_blocks
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "x_warc_headers" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, mime, strategy) AS (VALUES
        |  (0, 'text/html', 'etag'),
        |  (1, 'application/pdf', 'modified'),
        |  (2, 'text/plain', 'unconditional'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) * 200 AS BIGINT) AS sum_status,
        |  min(t.mime) AS min_mime, max(t.mime) AS max_mime,
        |  min(t.strategy) AS min_strategy, max(t.strategy) AS max_strategy,
        |  CAST(0 AS BIGINT) AS n_etag_drift
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "p_robots_directives" ->
      """WITH f AS (SELECT doc_id, doc_id % 3 AS family FROM documents),
        |t(family, maps, ns, delay) AS (VALUES
        |  (0, 'https://h0.com/a.xml|https://h0.com/b.xml', 2, 2),
        |  (1, 'https://h1.com/s.xml', 1, 5),
        |  (2, '', 0, -1))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  min(t.maps) AS min_maps, max(t.maps) AS max_maps,
        |  CAST(sum(t.ns) AS BIGINT) AS sum_sitemaps,
        |  CAST(min(t.delay) AS BIGINT) AS min_delay,
        |  CAST(max(t.delay) AS BIGINT) AS max_delay
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "p_pubdate_fuse" ->
      """WITH f AS (SELECT doc_id, doc_id % 4 AS family FROM documents),
        |t(family, dt, src) AS (VALUES
        |  (0, '2026-01-15', 'declared'),
        |  (1, '2026-02-16', 'time'),
        |  (2, '2026-03-17', 'url'),
        |  (3, NULL, 'none'))
        |SELECT f.family, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(t.dt) AS BIGINT) AS n_dated,
        |  min(t.dt) AS min_date, max(t.dt) AS max_date,
        |  min(t.src) AS min_src, max(t.src) AS max_src
        |FROM f JOIN t ON f.family = t.family
        |GROUP BY f.family ORDER BY f.family""".stripMargin,
    "p_holdout_split" ->
      s"""WITH b AS (
        |  SELECT doc_id,
        |    (${md5PrefixSql("CAST(doc_id AS VARCHAR)", 8)}) % 10 AS bkt
        |  FROM documents),
        |a AS (
        |  SELECT doc_id,
        |    CASE WHEN bkt < 8 THEN 'train' WHEN bkt < 9 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM a GROUP BY split ORDER BY split""".stripMargin,
    // the oracle reads the reference's own input files INDEPENDENTLY
    // (DuckDB read_text) and derives the expected md5 of the extracted
    // text: payload bytes minus a leading UTF-8 BOM (chr(65279) once
    // decoded), which is exactly the charset cascade's contract. Format
    // and status are the content-derived routing facts (all six payloads
    // ARE plain text, whatever their extension claims).
    "x_reference_parity" ->
      """SELECT parse_filename(filename) AS file, 'txt' AS format, 'ok' AS status,
        |       md5(ltrim(content, chr(65279))) AS text_md5
        |FROM read_text(['/root/reference/input_files/test.txt',
        |                '/root/reference/input_files/KMRL_demo_text.txt',
        |                '/root/reference/input_files/ocr_output.txt',
        |                '/root/reference/input_files/ocr_outut.txt',
        |                '/root/reference/input_files/sample.pdf',
        |                '/root/reference/input_files/Autonomous Vehicle Simulation project.docx'])
        |ORDER BY file""".stripMargin
  )
}
