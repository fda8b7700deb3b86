package graft.sources

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** WAT-style metadata records — the third leg of the Common Crawl
  * archive triple the engine already speaks (WARC ingest, WET publish):
  * WAT files carry one WARC `metadata` record per page whose payload is
  * a JSON document of extracted metadata (title, meta tags, outlinks).
  * Downstream graph and provenance pipelines consume WAT instead of
  * re-parsing page bytes. This object serializes one record and reads
  * WAT archives; it writes no archive.
  *
  * Record grammar (mirrors [[WetSink]]'s conversion records):
  * {{{
  * WARC/1.0\r\n
  * WARC-Type: metadata\r\n
  * WARC-Target-URI: <url>\r\n
  * WARC-Date: <iso-8601>\r\n
  * Content-Type: application/json\r\n
  * Content-Length: <byte length of UTF-8 json>\r\n
  * \r\n
  * <json bytes>\r\n\r\n
  * }}}
  *
  * `readWat` streams through the shared [[ArchiveScan]] and record walk
  * ([[WarcReader.records]]). The JSON body is caller-built (to_json over
  * kernel outputs), so the record writer stays a pure serialization
  * boundary.
  */
object WatSink {

  /** Serialize one metadata record (headers ASCII, JSON body UTF-8). */
  def writeRecord(url: String, ts: Timestamp, json: String): Array[Byte] =
    WarcReader.writeRecord("metadata", url, ts, Seq("Content-Type" -> "application/json"),
      (if (json == null) "" else json).getBytes(StandardCharsets.UTF_8))

  /** Read WAT archives as (url, warc_ts, wat). Archives are listed
    * once on the Spark driver and packed by bytes into at most
    * `defaultParallelism` tasks, as in `WarcReader.readWarcs`.
    */
  def readWat(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    ArchiveScan.read(spark, glob)((_, in) => WarcReader.texts(in, "metadata"))
      .toDF("url", "warc_ts", "wat")
  }

  /** Parse one WAT archive: metadata records, UTF-8 payloads; damage throws. */
  def parseWat(archive: Array[Byte]): Seq[(String, Timestamp, String)] =
    WarcReader.texts(new java.io.ByteArrayInputStream(archive), "metadata").toVector
}
