package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic output sharding — the training-output "last mile". A
  * trained-on corpus must be split into a fixed number of shard files
  * whose assignment (a) is a pure function of content, so re-running the
  * pipeline (or re-running just one failed shard) reproduces byte-for-byte
  * the same membership with no RNG or partition-order dependence, and
  * (b) destroys crawl locality: consecutive pages from one host are
  * spread across shards so a data loader streaming shard files sees an
  * approximately shuffled corpus without a separate global-shuffle pass
  * (the standard web-corpus trick — content-hash sharding IS the shuffle).
  *
  * `shard_id = int(md5(key)[0..4)) mod nShards`: map-only, zero shuffle to
  * assign, uniform in expectation with Binomial(n, 1/nShards) per-shard
  * jitter (±sqrt(n) — 10^-6 relative at 10^12 rows). The 16-bit digest
  * prefix caps nShards at 65536; wider prefixes extend it but 64Ki shards
  * of a 100 TB corpus are already ~1.5 GB each.
  */
object Sharding {

  /** Adds an integer `shard_id` column derived from md5(keyCol). Pure
    * projection (no shuffle, no UDF — conv/substring/md5 are codegen'd);
    * the digest renders identically in Spark and DuckDB so shard
    * membership is oracle-checkable engine-over-engine. Assignment is
    * TOTAL: a null key shards as the empty string (md5(null) would
    * propagate null and leak rows into a tenth directory outside the
    * promised [0, nShards) layout).
    */
  def assignShards(df: DataFrame, keyCol: String, nShards: Int): DataFrame = {
    require(nShards > 0 && nShards <= 65536, s"nShards must be in [1, 65536], got $nShards")
    df.withColumn("shard_id",
      (conv(substring(md5(coalesce(col(keyCol), lit(""))), 1, 4), 16, 10)
        .cast("long") % nShards).cast("int"))
  }

  /** Writes `df` as one parquet directory per shard
    * (`<path>/shard_id=K/`): shard membership and each file's internal
    * (md5(keyCol), tieCol) order are pure functions of the data. One
    * HASH exchange on the content DIGEST is the entire data movement:
    * digest keys are uniform, so the nShards write tasks are byte-
    * balanced regardless of how the shard ids themselves hash (hashing
    * shard_id directly collides the nShards distinct ids birthday-style
    * — some tasks write two shards, others idle — and a range exchange
    * would sample-scan the whole upstream a second time to pick
    * boundaries). Each task holds a slice of every shard and the dynamic
    * partitionBy writer splits it, so a directory holds up to nShards
    * sorted files; readers get deterministic per-file order and
    * deterministic directory membership.
    */
  def writeSharded(df: DataFrame, path: String, keyCol: String, tieCol: String,
                   nShards: Int): Unit = {
    assignShards(df, keyCol, nShards)
      .repartition(nShards, md5(coalesce(col(keyCol), lit(""))))
      .sortWithinPartitions(col("shard_id"), md5(coalesce(col(keyCol), lit(""))), col(tieCol))
      .write.options(graft.Fs.ForkFreeWriteOptions).mode("overwrite")
      .partitionBy("shard_id").parquet(path)
  }
}
