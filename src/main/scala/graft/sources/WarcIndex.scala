package graft.sources

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** CDX-style record index over WARC archives — the coordinates that turn
  * whole-archive reads into record-addressable random access. Common
  * Crawl ships exactly this (the cdx index: url, timestamp, filename,
  * offset, length per member) so consumers can fetch single records with
  * ranged reads instead of scanning gigabyte archives.
  *
  * The coordinates are the ones [[WarcReader.records]] hands out, and the
  * `seekable` column carries their meaning per row:
  *   - seekable: a byte range of the file that parses alone to the record
  *     — the record itself in a plain `.warc`, or the gzip member holding
  *     only this record in a per-record-gzipped `.warc.gz` (Common Crawl's
  *     layout, what [[WarcReader.writeWarcRecordGz]] and [[WetSink]]
  *     write);
  *   - not seekable: the record's range in the inflated stream, for
  *     records that share a gzip member with others (a whole-archive gzip,
  *     or members holding several records). Reading one takes a walk from
  *     byte 0; route those through [[fetch]].
  *
  * Scale shape: `index` is a map-only pass over archives ([[ArchiveScan]]
  * lists them once on the Spark driver and packs them by bytes into at most
  * `defaultParallelism` tasks → streamed record walk; no shuffle, payloads
  * skipped — only coordinates leave the task). `fetch` joins a WANTED
  * url set against the index, groups wanted coordinates per archive (a
  * shuffle of coordinate rows, ~50 bytes each — not page bytes), and each
  * task then reads ONLY the addressed ranges of its archive. At 10^12
  * records the win is the second pass never re-parses unwanted records:
  * a 0.1% re-extract of per-record-gzipped archives touches 0.1% of
  * record bytes.
  */
object WarcIndex {

  /** Index archives matching `glob`: one row per WARC record with its
    * retrieval coordinates; `file` is the archive's Hadoop `Path.toString`.
    * Map-only; payload bytes are skipped. An unreadable gzip layer fails
    * the task: an archive silently missing from the index is the outcome
    * this tier must never produce.
    */
  def index(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob) { (path, in) =>
      WarcReader.records(in, payloads = false)
        .map(r => (r.url, r.date, r.warcType, path, r.offset, r.length, r.seekable))
    }
      .toDF("url", "warc_ts", "rec_type", "file", "rec_offset", "rec_length", "seekable")
  }

  /** Decode one record at its indexed coordinates: `stream` is the file
    * for a seekable row and the inflated stream otherwise. The slice is
    * parsed standalone, and holds exactly the one record it spans.
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
    * envelope). Records sharing a gzip member are not seekable — their
    * offsets address the inflated stream, which requires a walk from
    * byte 0 — so those rows fail loudly with a pointer to [[fetch]]'s
    * per-archive grouping.
    *
    * Each task sorts its coordinate slice by (file, offset) and reuses
    * one open handle per run of same-file rows ([[ArchiveScan]]'s
    * `Handle`) — ranged reads in file order, no handle churn.
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
        val files = new ArchiveScan.Handle(conf.value.value)
        rows.toArray.sortBy(r => (r._1, r._2)).iterator.flatMap { case (file, off, len, seekable) =>
          require(seekable,
            s"readSplit needs seekable record coordinates (plain or per-record-gzipped " +
              s"archives); $file holds records that share a gzip member — use fetch()")
          readAt(files.open(file), off, len).map(r => (r.url, r.warcTs, r.body, r.httpStatus, r.error))
        }
      }
      .toDF("url", "warc_ts", "html", "http_status", "ingest_error")
  }

  /** The records in one seekable range of an open archive, either layout. */
  private def readAt(in: FSDataInputStream, offset: Long, length: Long): Seq[WarcReader.WarcRecord] = {
    val buf = new Array[Byte](length.toInt)
    in.readFully(offset, buf)
    WarcReader.parseWarc(buf)
  }

  /** Random-access re-read: fetch ONLY the records named by `wanted`
    * (a frame with a `url` column) via their index coordinates. Wanted
    * coordinates shuffle to one task per archive; seekable rows are
    * ranged reads, and the rows that are not take one streamed walk of
    * the archive, up to the last of them. Archives open as [[readSplit]]
    * opens them, from the `file` column taken as a Hadoop `Path`.
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
      val files = new ArchiveScan.Handle(conf.value.value)
      val (ranged, streamed) = rows.toSeq.partition(_._4)
      val at = streamed.map(r => (r._2, r._3)).toSet
      val last = at.map(_._1).maxOption.getOrElse(-1L)
      // the walk reads the fresh handle from byte 0, before any ranged read
      val walked = if (at.isEmpty) Iterator.empty else WarcReader.records(files.open(file))
        .takeWhile(_.offset <= last).filter(r => !r.seekable && at((r.offset, r.length))).map(WarcReader.response)
      val ranges = ranged.iterator.flatMap { case (_, off, len, _) => readAt(files.open(file), off, len).headOption }
      (walked ++ ranges).map(r => (r.url, r.warcTs, r.body)) ++ { files.close(); Iterator.empty }
    }.toDF("url", "warc_ts", "html")
  }
}
