package graft

import graft.sources.ManifestTable
import graft.sources.ManifestTable.PartitionStat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The lineage a commit must record, recomputed from its committed files:
  * the per-`p_day` read-back aggregation commits ran before lineage moved
  * into the staged write, kept here as the oracle for that write.
  */
object CommitOracle {

  final case class Lineage(stats: Seq[PartitionStat], hw: Long, fp: Long)

  def lineage(spark: SparkSession, root: String, seq: Long): Lineage = {
    val dir = Paths.get(ManifestTable.dataPath(root), s"commit_seq=$seq")
    // an empty commit holds no file, so no lineage
    if (!Fs.hasParquetFiles(dir)) Lineage(Nil, 0L, 0L)
    else {
      val agg = spark.read
        .option("basePath", dir.toString)
        .parquet(dir.toString)
        .groupBy(col("p_day").cast("string").as("p_day"))
        .agg(
          count(lit(1)),
          sum(col("n_bytes_in")),
          sum(when(col("status") =!= "ok", 1L).otherwise(0L)),
          max(unix_timestamp(col("warc_ts"))),
          bit_xor(ManifestTable.RowFp))
        .collect()
      Lineage(
        agg.map(r => PartitionStat(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_.p_day).toSeq,
        agg.map(_.getLong(4)).maxOption.getOrElse(0L),
        agg.foldLeft(0L)((acc, r) => acc ^ r.getLong(5)))
    }
  }

  /** The manifest text the read-back commit path published for `l`. */
  def manifestText(seq: Long, live: Seq[Long], l: Lineage): String = {
    val parts = l.stats
      .map(s => s"""    {"p_day":"${s.p_day}","rows":${s.rows},"bytes":${s.bytes},"failures":${s.failures}}""")
      .mkString(",\n")
    s"""{
  "sequence": $seq,
  "live_commits": [${live.mkString(",")}],
  "content_fp": ${l.fp},
  "high_watermark_epoch_s": ${l.hw},
  "total_rows": ${l.stats.map(_.rows).sum},
  "total_bytes": ${l.stats.map(_.bytes).sum},
  "total_failures": ${l.stats.map(_.failures).sum},
  "partitions": [
$parts
  ]
}"""
  }

  /** Checks that `seq`, the latest commit under `root`, recorded exactly
    * the lineage its committed files hold, byte for byte, and returns it.
    */
  def check(spark: SparkSession, root: String, seq: Long): Lineage = {
    val l = lineage(spark, root, seq)
    assert(ManifestTable.snapshots(root).last == seq, s"$seq is not the latest commit")
    val want = manifestText(seq, ManifestTable.liveSeqs(root), l)
    val got = Files.readString(Paths.get(root, "_manifests", f"manifest-$seq%06d.json"))
    assert(got == want, s"manifest $seq differs from its committed files:\n$got\n--- expected ---\n$want")
    assert(ManifestTable.latestStats(root) == l.stats)
    val bad = ManifestTable.verifyIntegrity(spark, root).filterNot(_.ok)
    assert(bad.isEmpty, s"integrity: $bad")
    l
  }
}
