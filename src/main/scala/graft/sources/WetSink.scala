package graft.sources

import graft.functions.Codecs
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** WET-style extracted-text sink + reader — the publishing half of the
  * crawl loop. Common Crawl ships extraction output as WET archives:
  * WARC `conversion` records whose payload is the UTF-8 plain text of
  * one page. This sink lets the extract pipeline re-publish its output
  * in the ecosystem's exchange format and re-ingest it for downstream
  * passes (dedup, LM scoring) without parquet.
  *
  * Record grammar written:
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: conversion\r\n
  * WARC-Target-URI: <url>\r\n
  * WARC-Date: <iso-8601>\r\n
  * Content-Type: text/plain\r\n
  * Content-Length: <byte length of UTF-8 text>\r\n
  * \r\n
  * <text bytes>\r\n\r\n
  * }}}
  *
  * Scale shape: `writeWet` is a foreachPartition sink — each task
  * serializes its partition into ONE archive file (gzipped as
  * concatenated per-record members, the Common Crawl layout, so each
  * record's member is a seekable [[WarcIndex]] coordinate). File names
  * are deterministic in the partition id and writes go through a
  * temp-file + atomic-move, so a retried task republishes the same
  * bytes instead of duplicating records. `readWet` streams the archives
  * back through [[ArchiveScan]] and the record walk
  * ([[WarcReader.records]]), packed by bytes into at most
  * `defaultParallelism` tasks. The Spark driver never sees row data; only
  * task-side streams.
  */
object WetSink {

  /** Serialize one conversion record (headers ASCII, body UTF-8). */
  def writeRecord(url: String, ts: Timestamp, text: String): Array[Byte] =
    WarcReader.writeRecord("conversion", url, ts, Seq("Content-Type" -> "text/plain"),
      (if (text == null) "" else text).getBytes(StandardCharsets.UTF_8))

  /** Write `df` (url, warc_ts, text) as WET archives under `outDir`,
    * one `part-NNNNN.warc.wet[.gz]` per input partition. Caller controls
    * parallelism/file count via the frame's partitioning.
    */
  def writeWet(df: DataFrame, outDir: String, gzip: Boolean = true): Unit =
    writeArchives(df.select(F.col("url"), F.col("warc_ts"), F.col("text")),
      outDir, if (gzip) ".warc.wet.gz" else ".warc.wet", gzip) { r =>
      writeRecord(r.getString(0), r.getTimestamp(1), r.getString(2))
    }

  /** Task-side archive writer: one file per partition, temp-file +
    * atomic-move, gzip as concatenated per-record members.
    */
  private def writeArchives(
      df: DataFrame, outDir: String, ext: String, gzip: Boolean)(
      rec: org.apache.spark.sql.Row => Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val pid = TaskContext.getPartitionId()
      val fname = f"part-$pid%05d$ext"
      // attempt id in the temp name: concurrent attempts (speculation,
      // retry racing a zombie) must never interleave on one stream; the
      // atomic move makes whichever finishes last win with whole bytes
      val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
      val tmp = Paths.get(outDir, s".$fname.$attempt.inprogress")
      val dst = Paths.get(outDir, fname)
      val os = new java.io.BufferedOutputStream(Files.newOutputStream(tmp))
      try {
        var any = false
        rows.foreach { r =>
          any = true
          val bytes = rec(r)
          os.write(if (gzip) Codecs.gzip(bytes) else bytes) // one member per record
        }
        os.close()
        if (any) Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        else Files.deleteIfExists(tmp) // empty partition: no archive
      } finally {
        os.close()
        Files.deleteIfExists(tmp)
      }
      ()
    }
  }

  /** Read WET archives back to (url, warc_ts, text). Archives are listed
    * once on the Spark driver and packed by bytes into at most
    * `defaultParallelism` tasks, as in `WarcReader.readWarcs`.
    */
  def readWet(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob)((_, in) => WarcReader.texts(in, "conversion"))
      .toDF("url", "warc_ts", "text")
  }

  /** Parse one WET archive, any layout: conversion records only, payload
    * decoded as UTF-8. An unreadable archive throws.
    */
  def parseWet(archive: Array[Byte]): Seq[(String, Timestamp, String)] =
    WarcReader.texts(new java.io.ByteArrayInputStream(archive), "conversion").toVector
}
