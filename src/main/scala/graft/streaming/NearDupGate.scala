package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-duplicate ADMISSION gate — dedup at ingest instead of
  * re-mining the corpus: each micro-batch of documents is (1) probed
  * against the persistent MinHash band index of everything already
  * admitted, (2) deduped within itself (min-id representative per
  * verified near-dup cluster), and only the survivors — plus their band
  * rows — are appended to the store. A recrawl pipeline running this
  * gate admits each page family once, forever, across restarts.
  *
  * Storage protocol (the repo's commit discipline in miniature): every
  * batch writes its docs and band rows under deterministic
  * `docs/batch=<id>/` and `index/batch=<id>/` directories, then
  * publishes `_commits/batch-<id>` via write-then-atomic-rename — the
  * commit point. Readers list only marker-committed batch dirs, so a
  * crash between data write and marker leaves an invisible torn batch
  * that the replay OVERWRITES (the decisions are deterministic given
  * the committed store, and the torn batch was never committed — so the
  * rewrite is byte-identical). A replayed batch whose marker exists is
  * skipped outright: exactly-once end to end.
  *
  * Scale shape per batch: the probe joins batch band keys against the
  * stored index on the bucket key (never corpus×corpus — cost is
  * candidates, not history), exact-Jaccard verification touches only
  * candidate pairs, and the store grows by admitted rows only. State
  * lives in the store, not the streaming state store, so the gate
  * survives checkpoint loss and is queryable as a plain table.
  */
object NearDupGate {

  import scala.jdk.CollectionConverters._

  final val Bands = 16
  final val RowsPerBand = 2
  final val ShingleK = 3

  private def committed(root: String): Set[Long] = {
    val d = Paths.get(root, "_commits")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("batch-") => n.stripPrefix("batch-").toLong }
        .toSet
      finally s.close()
    }
  }

  /** All admitted docs (id, text) across committed batches. */
  def admittedDocs(spark: SparkSession, root: String): DataFrame =
    readCommitted(spark, root, "docs", "id BIGINT, text STRING")

  /** The stored band index (id, bucket) across committed batches. */
  def bandIndex(spark: SparkSession, root: String): DataFrame =
    readCommitted(spark, root, "index", "id BIGINT, bucket BIGINT")

  private def readCommitted(spark: SparkSession, root: String,
                            sub: String, schema: String): DataFrame = {
    val ids = committed(root)
    val dirs = ids.toSeq.sorted.map(i => s"$root/$sub/batch=$i")
      .filter(p => graft.Fs.hasParquetFiles(Paths.get(p)))
    if (dirs.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** One micro-batch through the gate; returns the number admitted (or -1
    * for a replayed, already-committed batch). Exposed for batch-mode
    * parity testing — the streaming sink calls exactly this.
    */
  def admitBatch(batch: DataFrame, root: String, batchId: Long,
                 minJaccard: Double = 0.8, maxBucket: Int = 500): Long = {
    val spark = batch.sparkSession
    if (committed(root).contains(batchId)) return -1L
    val docs = batch.select(col("id").cast("long").as("id"), col("text")).cache()
    try {
      val store = admittedDocs(spark, root).cache()
      val index = bandIndex(spark, root)
      // 1. reject batch docs near-dupping anything already admitted
      val all = store.unionByName(docs)
      val vsStore = Dedup.minhashProbeVerified(index, docs, all, "id", "text",
        ShingleK, Bands, RowsPerBand, minJaccard, maxBucket)
      // materialize: the survivor set feeds BOTH the in-batch pair mining
      // (which consumes it from several join branches) and the admitted
      // anti-join — recomputing the probe-verify chain per consumer would
      // multiply the batch cost several-fold
      val keptVsStore = docs.join(
        vsStore.select(col("b").as("id")).distinct(), Seq("id"), "left_anti")
        .localCheckpoint(true)
      // 2. in-batch near-dup clusters keep their min-id representative
      val inBatch = Dedup.minhashVerifiedPairs(keptVsStore, "id", "text",
        ShingleK, Bands, RowsPerBand, minJaccard, maxBucket)
        .localCheckpoint(true)
      val admitted = Dedup.keepRepresentatives(keptVsStore, "id", inBatch)
        .localCheckpoint(true)
      // 3. deterministic batch dirs, then the atomic marker = the commit
      admitted.write.options(graft.Fs.ForkFreeWriteOptions).mode("overwrite")
        .parquet(s"$root/docs/batch=$batchId")
      Dedup.minhashIndex(admitted, "id", "text", ShingleK, Bands, RowsPerBand)
        .write.options(graft.Fs.ForkFreeWriteOptions).mode("overwrite")
        .parquet(s"$root/index/batch=$batchId")
      val n = admitted.count()
      store.unpersist()
      val commits = Paths.get(root, "_commits")
      Files.createDirectories(commits)
      val tmp = commits.resolve(s".batch-$batchId.tmp")
      Files.writeString(tmp, s"""{"batch":$batchId,"admitted":$n}""")
      Files.move(tmp, commits.resolve(s"batch-$batchId"),
        StandardCopyOption.ATOMIC_MOVE)
      n
    } finally docs.unpersist()
  }

  /** The streaming sink: a docs stream (id, text) gated exactly-once into
    * the store at `root`.
    */
  def gate(docs: DataFrame, root: String, checkpoint: String,
           minJaccard: Double = 0.8, maxBucket: Int = 500): StreamingQuery = {
    val fn: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, id) => {
      admitBatch(batch.toDF(), root, id, minJaccard, maxBucket)
      ()
    }
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()
  }
}
