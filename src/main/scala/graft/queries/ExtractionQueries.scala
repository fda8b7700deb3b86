package graft
package queries

import graft.functions.TextStats
import graft.functions.expressions.fingerprint64
import graft.operators.{Dedup, ExtractKernel}
import graft.queries.Shared.{pq, corpusBuildSql}
import graft.sources.Corpus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `x_*`: the north-rule extraction pipeline over the synthetic pages
  * corpus (materialized once per sf under target/graft-corpus). The
  * kernels are not SQL-expressible, so these are rows-only checks for
  * the driver — byte-identity itself is enforced by `sbt -batch test`
  * (KernelGoldenSpec / SparkE2ESpec golden joins).
  *
  * The oracles are sf-INVARIANT: the synthetic pages table is generated
  * from the scale dir (not a driver parquet), so its absolute counts are
  * not DuckDB-derivable — but the north-rule invariants are scale-free:
  * byte-identity means ZERO mismatched rows per format, and exactly-once
  * resume means ZERO missing/overlapping pages, at every sf. (Requires
  * sf >= 0.01 so every format family, including the degenerate
  * 'unsupported' slot, is populated.)
  */
object ExtractionQueries {

  val all: Seq[Query] = Seq(
    Query("x_extract_all", (s, dir) => {
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
    },
      """SELECT CAST(10 AS BIGINT) AS n_formats,
        |  CAST(0 AS BIGINT) AS n_groups_with_mismatch,
        |  CAST(0 AS BIGINT) AS n_unknown_status""".stripMargin),
    Query("x_match_rate", (s, dir) => {
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
    },
      """SELECT format, CAST(z AS BIGINT) AS n_mismatched FROM (VALUES
        |  ('csv',0),('docx',0),('html',0),('odt',0),('pdf',0),('pptx',0),
        |  ('rtf',0),('txt',0),('unsupported',0),('xlsx',0)) t(format, z)
        |ORDER BY format""".stripMargin),
    Query("x_extract_by_format", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_only_filtered,
        |  CAST(0 AS BIGINT) AS n_only_full,
        |  CAST(0 AS BIGINT) AS n_nonhtml""".stripMargin),
    Query("x_host_skew", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_host_missing,
        |  CAST(0 AS BIGINT) AS n_stat_mismatch,
        |  CAST(0 AS BIGINT) AS n_internal_bad""".stripMargin),
    Query("x_resume_antijoin", (s, dir) => {
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
    },
      "SELECT CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_overlap"),
    Query("x_json_sink", (s, dir) => {
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
    },
      """SELECT format, CAST(z AS BIGINT) AS n_roundtrip_mismatched FROM (VALUES
        |  ('csv',0),('docx',0),('html',0),('odt',0),('pdf',0),('pptx',0),
        |  ('rtf',0),('txt',0),('unsupported',0),('xlsx',0)) t(format, z)
        |ORDER BY format""".stripMargin),
    Query("x_pdf_features", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_lines_inconsistent,
        |  CAST(0 AS BIGINT) AS n_pages_without_text,
        |  CAST(1 AS BIGINT) AS any_images,
        |  CAST(1 AS BIGINT) AS any_tables,
        |  CAST(1 AS BIGINT) AS any_multipage""".stripMargin),
    Query("x_incremental", (s, dir) => {
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
        graft.operators.ExtractJob.incremental(pages, root)
        val total = graft.sources.ManifestTable.read(s, root).count()
        val pruned = graft.sources.ManifestTable.prunedRead(s, root, days.head, mid)
        val nPruned = pruned.count()
        val nPrunedOutside =
          pruned.filter(date_format($"warc_ts", "yyyy-MM-dd") > mid).count()
        Seq((visibleAfterFirst - nEarly, total - nTotal, nPruned - nEarly, nPrunedOutside))
          .toDF("n_first_visible_diff", "n_missing_after_incremental",
            "n_pruned_diff", "n_pruned_outside_range")
      } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    },
      """SELECT CAST(0 AS BIGINT) AS n_first_visible_diff,
        |  CAST(0 AS BIGINT) AS n_missing_after_incremental,
        |  CAST(0 AS BIGINT) AS n_pruned_diff,
        |  CAST(0 AS BIGINT) AS n_pruned_outside_range""".stripMargin),
    Query("x_recrawl_upsert", (s, dir) => {
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
        val seq = graft.operators.ExtractJob.upsertChanged(recrawl, root)
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_committed_diff,
        |  CAST(0 AS BIGINT) AS n_latest_diff,
        |  CAST(0 AS BIGINT) AS n_stale_changed,
        |  CAST(0 AS BIGINT) AS n_drifted,
        |  CAST(0 AS BIGINT) AS n_vacuumed_diff,
        |  CAST(0 AS BIGINT) AS n_compacted_diff""".stripMargin),
    Query("x_takedown", (s, dir) => {
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
        val seq = graft.operators.ExtractJob.upsertChanged(recrawl, root)
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_visible_diff,
        |  CAST(0 AS BIGINT) AS n_leaked,
        |  CAST(0 AS BIGINT) AS n_phys_diff,
        |  CAST(0 AS BIGINT) AS n_resurrect_commit_diff,
        |  CAST(0 AS BIGINT) AS n_after_resurrect_diff,
        |  CAST(0 AS BIGINT) AS n_resurrect_drift""".stripMargin),
    Query("x_retry_failed", (s, dir) => {
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
        val seq = graft.operators.ExtractJob.retryFailed(repaired, root)
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_retry_commit_diff,
        |  CAST(0 AS BIGINT) AS n_still_failed,
        |  CAST(0 AS BIGINT) AS n_latest_diff,
        |  CAST(0 AS BIGINT) AS n_ok_drift,
        |  CAST(0 AS BIGINT) AS n_vacuous""".stripMargin),
    Query("x_dedup_extracted", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_kept_diff,
        |  CAST(0 AS BIGINT) AS n_set_diff,
        |  CAST(1 AS BIGINT) AS has_duplicates""".stripMargin),
    Query("x_streaming", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_count_drift,
        |  CAST(0 AS BIGINT) AS n_fingerprint_drift,
        |  CAST(0 AS BIGINT) AS n_replay_rows,
        |  CAST(0 AS BIGINT) AS n_replay_fingerprint_drift,
        |  CAST(0 AS BIGINT) AS n_dedup_drift""".stripMargin),
    Query("x_stream_sessions", (s, dir) => {
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
    },
      // streamed-session totals recomputed by the batch sessionization SQL
      // (same 30-min gap, ts-only order — tie order cannot move stats);
      // drift columns pinned to zero
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
        |FROM per""".stripMargin),
    Query("x_stream_funnel", (s, dir) => {
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
    },
      // stream-stream interval join mirror: the same request/response
      // synthesis and 600 s range condition as a plain SQL range join;
      // latency via second-boundary diff (both engines floor to seconds)
      // streamed funnel totals must equal the batch funnel recurrence (the
      // q_funnel oracle) AND carry a zero drift flag vs the batch operator
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
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("x_stream_join", (s, dir) => {
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
    },
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
        |FROM sjj""".stripMargin),
    Query("x_maintenance", (s, dir) => {
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
    },
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
        |  CAST(0 AS BIGINT) AS n_fp_missing""".stripMargin),
    Query("x_resume_bucketed", (s, dir) => {
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
        graft.operators.ExtractJob.resumeBucketed(s, pagesTable, doneTable, root, 8)
        // the resume commit's own lineage: exact under task retries
        val nResumed = graft.sources.ManifestTable.latestStats(root).map(_.rows).sum
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
        Seq((nResumed - (nPages - nFirst), nDup, nMissing,
          unmarked.toLong, nExchange, 1L - smjAnti))
          .toDF("n_reprocessed", "n_dup_urls", "n_missing_urls",
            "n_unmarked_commits", "n_exchanges", "n_not_smj_anti")
      } finally {
        saved.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
        Seq(pagesTable, doneTable).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
      }
    },
      """SELECT CAST(0 AS BIGINT) AS n_reprocessed,
        |  CAST(0 AS BIGINT) AS n_dup_urls,
        |  CAST(0 AS BIGINT) AS n_missing_urls,
        |  CAST(0 AS BIGINT) AS n_unmarked_commits,
        |  CAST(0 AS BIGINT) AS n_exchanges,
        |  CAST(0 AS BIGINT) AS n_not_smj_anti""".stripMargin),
    Query("x_sql_surface", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_fn_missing,
        |  CAST(0 AS BIGINT) AS n_row_missing,
        |  CAST(0 AS BIGINT) AS n_extract_diff,
        |  CAST(0 AS BIGINT) AS n_textfn_diff,
        |  CAST(0 AS BIGINT) AS n_fp_diff,
        |  CAST(0 AS BIGINT) AS n_sniff_diff""".stripMargin),
    Query("x_warc_ingest", (s, dir) => {
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
    },
      // WARC ingest invariants: synthesized archives round-trip exactly
      """SELECT CAST(240 AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_body_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch,
        |  CAST(0 AS BIGINT) AS n_error""".stripMargin),
    Query("x_time_travel", (s, dir) => {
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
    },
      // time travel: drifts vs the documents-mod-3 mirror are constructed
      // zeros; 4 snapshots (3 appends + compaction); expired window = 1
      """SELECT CAST(4 AS BIGINT) AS n_snapshots,
        |  CAST(0 AS BIGINT) AS n_snap0_drift,
        |  CAST(0 AS BIGINT) AS n_snap1_drift,
        |  CAST(0 AS BIGINT) AS n_snap2_drift,
        |  CAST(0 AS BIGINT) AS n_after_compact_drift,
        |  CAST(1 AS BIGINT) AS n_expired,
        |  CAST(0 AS BIGINT) AS n_latest_drift""".stripMargin),
    Query("x_wet_roundtrip", (s, dir) => {
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
    },
      // WET publish/re-ingest: text identity pinned at zero drift; the row
      // count comes from the table so the oracle holds at every sf
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_text_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch
        |FROM documents""".stripMargin),
    Query("x_lake_roundtrip", (s, dir) => {
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
    },
      // lake round-trip: one all-zero row per format, n_rows sf-proof
      """SELECT format, CAST(n AS BIGINT) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_missing, CAST(0 AS BIGINT) AS n_mismatch
        |FROM (SELECT count(*) AS n FROM documents),
        |  (SELECT unnest(['csv', 'json', 'orc']) AS format)
        |ORDER BY format""".stripMargin),
    Query("x_warc_index", (s, dir) => {
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
    },
      // CDX index invariants: 361 coordinates (360 responses + warcinfo)
      // across plain / whole-gzip / per-record-gzip layouts; only the 120
      // whole-gzip records are non-seekable; 120 fetched (1-in-3 subset)
      // with zero drift; 240-record seeked split ingest over BOTH seekable
      // layouts (file ranges + gzip member ranges), byte-exact
      """SELECT CAST(361 AS BIGINT) AS n_indexed,
        |  CAST(360 AS BIGINT) AS n_responses,
        |  CAST(120 AS BIGINT) AS n_nonseekable,
        |  CAST(120 AS BIGINT) AS n_fetched,
        |  CAST(0 AS BIGINT) AS n_missing,
        |  CAST(0 AS BIGINT) AS n_extra,
        |  CAST(0 AS BIGINT) AS n_body_mismatch,
        |  CAST(0 AS BIGINT) AS n_ts_mismatch,
        |  CAST(240 AS BIGINT) AS n_split,
        |  CAST(0 AS BIGINT) AS n_split_bad""".stripMargin),
    Query("x_stream_neardup", (s, dir) => {
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
    },
      // sf-invariant zeros: streamed admission == independent batch-operator
      // composition, no near-dup leaks, exactly-once replay.
      """SELECT CAST(0 AS BIGINT) AS n_admitted_drift,
        |  CAST(0 AS BIGINT) AS id_xor_drift,
        |  CAST(0 AS BIGINT) AS n_neardup_leaked,
        |  CAST(0 AS BIGINT) AS n_replay_drift""".stripMargin),
    Query("x_warc_revisit", (s, dir) => {
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
    },
      """WITH f AS (SELECT doc_id, doc_id % 32 AS bucket, doc_id % 5 AS key FROM documents),
        |b AS (SELECT bucket, count(*) AS n, count(DISTINCT key) AS nd FROM f GROUP BY bucket)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n) AS BIGINT) AS n_records,
        |  CAST(sum(nd) AS BIGINT) AS n_responses,
        |  CAST(sum(n - nd) AS BIGINT) AS n_revisits,
        |  CAST(sum(n - nd) AS BIGINT) AS n_resolved,
        |  CAST(sum(n) AS BIGINT) AS n_body_ok,
        |  CAST(sum(CASE WHEN n > nd THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_smaller
        |FROM b""".stripMargin),
    Query("x_warc_headers", (s, dir) => {
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
    },
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
        |GROUP BY f.family ORDER BY f.family""".stripMargin),
    Query("x_corpus_snapshot", (s, dir) => {
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
    },
      // same stage semantics as p_corpus_build (shared SQL), plus the two
      // lineage literals: 4 stages committed, all 4 reused on the rerun
      s"""SELECT q.*, CAST(4 AS BIGINT) AS n_stages, CAST(4 AS BIGINT) AS n_reused_on_rerun
        |FROM ($corpusBuildSql) q
        |ORDER BY q.lang""".stripMargin),
    Query("x_reference_parity", (s, _) => {
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
    },
      // the oracle reads the reference's own input files INDEPENDENTLY
      // (DuckDB read_text) and derives the expected md5 of the extracted
      // text: payload bytes minus a leading UTF-8 BOM (chr(65279) once
      // decoded), which is exactly the charset cascade's contract. Format
      // and status are the content-derived routing facts (all six payloads
      // ARE plain text, whatever their extension claims).
      """SELECT parse_filename(filename) AS file, 'txt' AS format, 'ok' AS status,
        |       md5(ltrim(content, chr(65279))) AS text_md5
        |FROM read_text(['/root/reference/input_files/test.txt',
        |                '/root/reference/input_files/KMRL_demo_text.txt',
        |                '/root/reference/input_files/ocr_output.txt',
        |                '/root/reference/input_files/ocr_outut.txt',
        |                '/root/reference/input_files/sample.pdf',
        |                '/root/reference/input_files/Autonomous Vehicle Simulation project.docx'])
        |ORDER BY file""".stripMargin),
  )
}
