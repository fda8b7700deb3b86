package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table helpers for shuffle-free co-located joins (SURVEY §4.2).
  *
  * At 10^12 pages the resume anti-join's done-set is NOT broadcastable; an
  * unbucketed join shuffles BOTH sides on url every run. Writing both the
  * pages table and the committed-urls table bucketed (same column, same
  * bucket count, sorted within buckets) lets Spark plan a SortMergeJoin
  * with NO Exchange on either side — the join cost becomes a streaming
  * merge of pre-sorted buckets, amortized once at write time across every
  * subsequent resume/incremental run.
  *
  * Bucketing needs a catalog table (parquet path reads carry no bucket
  * metadata), hence saveAsTable; the session's warehouse dir is the
  * storage seam. These writes keep Hadoop's default local filesystem, which
  * without native libhadoop starts a `chmod` process per file:
  * `saveAsTable` would persist [[graft.Fs.ForkFreeWriteOptions]] into the
  * table's properties.
  */
object Bucketing {

  /** Write `df` as a bucketed, in-bucket-sorted catalog table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Append to (or create) a bucketed table with the same spec. Used by the
    * incremental done-set maintenance: each commit appends only ITS urls —
    * one new file per touched bucket — so the join-side layout is kept
    * without ever rewriting the accumulated set. Reads remain exchange-free
    * (several files per bucket cost a local merge-sort, never a shuffle).
    */
  def appendBucketed(
      df: DataFrame,
      table: String,
      bucketCol: String,
      nBuckets: Int
  ): Unit =
    df.write
      .mode(SaveMode.Append)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Shuffle-free anti-join of two tables bucketed on the same column:
    * pages not present in the done-set (the resume complement), planned as
    * an exchange-free SortMergeJoin (asserted in PlanQualitySpec).
    */
  def bucketedAntiJoin(
      spark: SparkSession,
      pagesTable: String,
      doneTable: String,
      col: String
  ): DataFrame =
    spark.table(pagesTable).join(spark.table(doneTable), Seq(col), "left_anti")
}
