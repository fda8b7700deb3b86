package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan parallelization for kernel-heavy per-row work
  * (minhash/simhash signatures, PNG encode+decode, BPE symbolization,
  * shingle explosion).
  *
  * The local bench tables arrive as ONE small parquet split, so any
  * per-row kernel downstream of the scan runs on a single core no matter
  * how many the session has — the guide's "input skew: one huge
  * unsplittable file" case (§2.5), fixed by repartitioning right after
  * the read. A production 100 TB table arrives as thousands of splits and
  * must NOT pay an extra corpus-wide shuffle, so the repartition fires
  * only when the scan exposes fewer splits than the cluster has task
  * slots. The threshold derives from `defaultParallelism` (the cluster's
  * actual slot count), never a constant tuned to one box; at scale the
  * branch is a no-op and the plan is unchanged.
  *
  * Streaming frames pass through untouched (`df.rdd` is undefined for
  * them; micro-batch inputs are already split by the source).
  */
object ScanPar {
  def apply(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots) df.repartition(slots) else df
  }
}
