package graft.sources

import graft.functions.Codecs
import java.sql.Timestamp
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** CDX-style record index over WARC archives — the coordinates that turn
  * whole-archive reads into record-addressable random access. Common
  * Crawl ships exactly this (the cdx index: url, timestamp, filename,
  * offset, length per member) so consumers can fetch single records with
  * ranged reads instead of scanning gigabyte archives.
  *
  * Coordinate semantics are carried per row by the `seekable` column:
  *   - plain `.warc`: file offsets (the file IS the record stream) —
  *     seekable;
  *   - per-record-gzipped `.warc.gz` (Common Crawl's layout, what
  *     [[WarcReader.writeWarcRecordGz]] and [[WetSink]] write): each
  *     record's gzip MEMBER byte range in the file — seekable, because
  *     members inflate independently ([[Codecs.gzipMemberBounds]]);
  *   - whole-archive-gzipped: offsets into the DECOMPRESSED stream —
  *     NOT seekable (reading requires inflating from byte 0; route
  *     through [[fetch]], which inflates once per archive).
  * A mixed archive (members holding several records each) degrades
  * per-member: single-record members stay seekable.
  *
  * Scale shape: `index` is a map-only pass over archives ([[ArchiveScan]]
  * lists them once on the Spark driver and packs them by bytes into at most
  * `defaultParallelism` tasks → offset walk; no shuffle, no payload
  * retention — only coordinates leave the task). `fetch` joins a WANTED
  * url set against the index, groups wanted coordinates per archive (a
  * shuffle of coordinate rows, ~50 bytes each — not page bytes), and each task
  * then decodes ONLY the addressed slices of its archive. At 10^12
  * records the win is the second pass never re-parses unwanted records:
  * a 0.1% re-extract touches 0.1% of record bytes (plus the inflate,
  * until per-member gzip).
  */
object WarcIndex {

  /** Index archives matching `glob`: one row per WARC record with its
    * retrieval coordinates; `file` is the archive's Hadoop `Path.toString`.
    * Map-only; payload bytes never leave the task.
    */
  def index(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob) { (path, bytes) =>
      indexArchive(bytes).map { case (headers, off, len, seekable) =>
        (headers.getOrElse("warc-target-uri", ""),
          headers.get("warc-date").flatMap(WarcReader.parseTs).getOrElse(new Timestamp(0L)),
          headers.getOrElse("warc-type", ""),
          path, off, len, seekable)
      }
    }
      .toDF("url", "warc_ts", "rec_type", "file", "rec_offset", "rec_length", "seekable")
  }

  /** Per-record coordinate rows for one archive (see coordinate semantics
    * above). Gzipped archives are walked member-at-a-time — memory is
    * bounded by ONE inflated member, not the whole archive. Unreadable
    * envelopes fail the task (an archive silently missing from the index
    * is the outcome this tier must never produce).
    */
  private[graft] def indexArchive(
      bytes: Array[Byte]): Seq[(Map[String, String], Long, Long, Boolean)] =
    if (!Codecs.isGzip(bytes))
      WarcReader.rawRecordsWithOffsets(bytes).map { case (h, _, o, l) => (h, o, l, true) }
    else {
      val members = Codecs.gzipMemberBounds(bytes).getOrElse(
        throw new java.io.IOException("unreadable WARC archive: corrupt gzip member stream"))
      val out = Seq.newBuilder[(Map[String, String], Long, Long, Boolean)]
      var streamBase = 0L // cumulative decompressed offset, for non-seekable rows
      members.foreach { case (off, len) =>
        val slice = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + len).toInt)
        val body = Codecs.gunzip(slice, maxOut = WarcReader.MaxArchiveBytes).getOrElse(
          throw new java.io.IOException(
            s"unreadable WARC archive: member at offset $off fails to inflate or exceeds 1 GiB"))
        val recs = WarcReader.rawRecordsWithOffsets(body)
        if (recs.length == 1) out += ((recs.head._1, off, len, true))
        else recs.foreach { case (h, _, ro, rl) => out += ((h, streamBase + ro, rl, false)) }
        streamBase += body.length
      }
      out.result()
    }

  /** Decode one record at its indexed coordinates. The slice is parsed
    * standalone — `rawRecordsWithOffsets` on a slice of the stream yields
    * exactly the one record the coordinates span.
    */
  def readRecordAt(stream: Array[Byte], offset: Long, length: Long): Option[WarcReader.WarcRecord] = {
    if (offset < 0 || length <= 0 || offset > stream.length.toLong - length) return None
    val slice = java.util.Arrays.copyOfRange(stream, offset.toInt, (offset + length).toInt)
    WarcReader.parseWarc(slice).headOption
  }

  /** Record-level SPLIT ingest: read every indexed response record with
    * parallelism decoupled from the archive count — the index turns
    * whole-archive tasks into "any number of tasks", each seeking straight
    * to its records with ranged reads. This is how ONE giant archive
    * stops being a straggler: its records spread across the cluster by
    * coordinate, not by file.
    *
    * Works for every SEEKABLE row: plain `.warc` (coordinates are file
    * offsets) and per-record-gzipped `.warc.gz` (coordinates are gzip
    * member ranges; [[WarcReader.parseWarc]] sees through the member
    * envelope). Whole-archive-gzipped records are not seekable — their
    * offsets address the decompressed stream, which requires inflating
    * from byte 0 — so those rows fail loudly with a pointer to
    * [[fetch]]'s per-archive grouping.
    *
    * Each task sorts its coordinate slice by (file, offset) and reuses
    * one open handle per run of same-file rows — sequential forward
    * seeks, no handle churn. Files open through their Hadoop
    * `FileSystem`, like every other archive read.
    */
  def readSplit(spark: SparkSession, indexDf: DataFrame, numSlices: Int): DataFrame = {
    import spark.implicits._
    val conf = ArchiveScan.hadoopConf(spark)
    indexDf
      .filter(F.col("rec_type") === "response")
      .select($"file", $"rec_offset", $"rec_length", $"seekable")
      .as[(String, Long, Long, Boolean)]
      .repartition(numSlices, F.col("rec_offset")) // spread records, not files
      .mapPartitions { rows =>
        val sorted = rows.toArray.sortBy(r => (r._1, r._2))
        var open: FSDataInputStream = null
        var openFile: String = null
        // the handle must close on EVERY task exit — mid-iteration failure
        // (truncated archive, the .gz require) or a consumer that stops
        // early (LIMIT) would leak the fd across task retries if closing
        // only happened on full drain
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          if (open != null) { open.close(); open = null }
        }
        def handle(file: String): FSDataInputStream = {
          if (file != openFile) {
            if (open != null) open.close()
            val path = new Path(file)
            open = path.getFileSystem(conf.value.value).open(path)
            openFile = file
          }
          open
        }
        sorted.iterator.flatMap { case (file, off, len, seekable) =>
          require(seekable,
            s"readSplit needs seekable record coordinates (plain or per-record-gzipped " +
              s"archives); $file holds whole-archive-gzipped records — use fetch()")
          val h = handle(file)
          val buf = new Array[Byte](len.toInt)
          h.seek(off)
          h.readFully(buf)
          // parseWarc sees through a gzip member envelope, so the same
          // slice decode serves both seekable layouts
          WarcReader.parseWarc(buf).map(r => (r.url, r.warcTs, r.body, r.httpStatus, r.error))
        }
      }
      .toDF("url", "warc_ts", "html", "http_status", "ingest_error")
  }

  /** Random-access re-read: fetch ONLY the records named by `wanted`
    * (a frame with a `url` column) via their index coordinates. Wanted
    * coordinates shuffle to one task per archive; seekable rows decode
    * straight from the raw file bytes, and the archive is inflated (once,
    * lazily) only when non-seekable rows need the decompressed stream.
    * Archives are read as [[ArchiveScan]] reads them, from the `file`
    * column taken as a Hadoop `Path`.
    */
  def fetch(spark: SparkSession, indexDf: DataFrame, wanted: DataFrame): DataFrame = {
    import spark.implicits._
    val conf = ArchiveScan.hadoopConf(spark)
    val want = indexDf
      .filter(F.col("rec_type") === "response")
      .join(wanted.select("url").distinct(), Seq("url"))
      .select($"file", $"rec_offset", $"rec_length", $"seekable")
      .as[(String, Long, Long, Boolean)]
    want.groupByKey(_._1).flatMapGroups { (file, rows) =>
      val raw = ArchiveScan.readFile(new Path(file), conf.value.value)
      // fail the task, don't return an empty stream: an unreadable archive
      // would otherwise silently drop EVERY wanted record it holds
      lazy val stream = WarcReader.inflate(raw) match {
        case Left(err) => throw new java.io.IOException(s"unreadable WARC archive $file: $err")
        case Right(b)  => b
      }
      rows.flatMap { case (_, off, len, seekable) =>
        val rec =
          if (seekable) readRecordAt(raw, off, len)
          else readRecordAt(stream, off, len)
        rec.map(r => (r.url, r.warcTs, r.body))
      }
    }.toDF("url", "warc_ts", "html")
  }
}
