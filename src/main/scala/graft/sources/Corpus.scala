package graft.sources

import graft.Page
import graft.fixtures.CorpusGen
import org.apache.spark.sql.{Dataset, SparkSession}

/** Materialized synthetic pages table, keyed by scale factor. The corpus is
  * generated distributed (spark.range → map over ids, no driver loop, no
  * shared state) and written to parquet ONCE per sf, then read back — so
  * extraction queries exercise the real scan path (vectorized parquet reader,
  * column pruning) instead of an in-memory LocalRelation.
  */
object Corpus {

  /** pages per unit scale factor: sf0.001→400, sf0.01→4,000, sf0.1→40,000 */
  final val PagesPerSf = 400000

  def sfOf(sfDir: String): Double = {
    val name = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf0.01")
    val idx = name.indexOf("sf")
    if (idx >= 0) {
      try name.substring(idx + 2).toDouble
      catch { case _: NumberFormatException => 0.01 }
    } else 0.01
  }

  def nPages(sfDir: String): Long = math.max(20L, math.round(sfOf(sfDir) * PagesPerSf))

  /** bump when the generator's output changes, so stale materializations
    * are never reused
    */
  final val GenVersion = 8 // v8: PDF 1.5+ /ObjStm layout on ~25% of PDFs

  def corpusPath(sfDir: String): String = {
    val name = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse("sf")
    s"/root/repo/target/graft-corpus/v$GenVersion-$name"
  }

  /** Generate the pages Dataset directly (no IO). */
  def generate(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).as[Long].map(CorpusGen.page)
  }

  /** Read the materialized corpus for a scale dir, writing it first if absent. */
  def pages(spark: SparkSession, sfDir: String): Dataset[Page] =
    materialized(spark, corpusPath(sfDir), nPages(sfDir))

  /** Benchmark corpus: [[BenchMultiplier]]x the verify corpus, so the timed extraction runs
    * long enough that fixed job overhead (~0.4 s scheduling + listing) and
    * GC noise do not mask thread-scaling (SURVEY.md §7.3 item 5).
    */
  final val BenchMultiplier = 12

  def benchPages(spark: SparkSession, sfDir: String): (Dataset[Page], Long) = {
    val n = nPages(sfDir) * BenchMultiplier
    // multiplier in the cache key: changing it must invalidate the corpus
    (materialized(spark, corpusPath(sfDir) + s"-bench-x$BenchMultiplier", n), n)
  }

  /** WARC-archive mirror of a deterministic quarter of the bench corpus
    * (cached like the parquet corpora): 64 `.warc.gz` files, whole-archive
    * gzip, HTTP-enveloped response records — the ingest-path benchmark
    * input. Returns (dir, record count); the count is stored in _SUCCESS
    * so cache hits skip the Spark job entirely.
    */
  def warcArchives(spark: SparkSession, sfDir: String): (String, Long) = {
    import org.apache.spark.sql.functions._
    val path = corpusPath(sfDir) + s"-bench-x$BenchMultiplier-warc"
    val marker = java.nio.file.Paths.get(path, "_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
      val subset = benchPages(spark, sfDir)._1
        .filter(pmod(xxhash64(col("url")), lit(4)) === 0)
        .select(col("url"), col("warc_ts"), col("html"))
        .repartition(64)
      subset.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val recs = rows.map(r =>
          (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2))).toSeq
        if (recs.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, f"crawl-$pid%05d.warc.gz"),
            graft.functions.Codecs.gzip(WarcReader.writeWarc(recs)))
        }
        ()
      }
      val n = subset.count()
      java.nio.file.Files.write(marker, n.toString.getBytes("UTF-8"))
    }
    (path, new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim.toLong)
  }

  private def materialized(spark: SparkSession, path: String, n: Long): Dataset[Page] = {
    import spark.implicits._
    val marker = new java.io.File(path, "_SUCCESS")
    if (!marker.exists()) {
      // `format` is a STORED column computed at ingest (SURVEY.md §4.2): the
      // extract-by-format dispatch predicate can then be pushed to parquet
      // row groups instead of sniffing bytes per row at query time. The
      // kernel still re-sniffs from bytes (content is the authority); the
      // stored column exists for pruning.
      val sniffUdf = org.apache.spark.sql.functions.udf(
        (b: Array[Byte]) => graft.functions.FormatSniff.sniff(b)
      )
      generate(spark, n, partitions = 64)
        .withColumn("format", sniffUdf(org.apache.spark.sql.functions.col("html")))
        .write.options(graft.Fs.ForkFreeWriteOptions).mode("overwrite").parquet(path)
    }
    spark.read.parquet(path).as[Page]
  }
}
