package graft.operators

import graft.Extracted
import graft.functions.TextStats
import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-MATERIALIZED corpus construction — the petabyte shape of
  * `p_corpus_build` (VERDICT r4 ask #6): the same five-stage pipeline
  * (quality gate → exact dedup → near-dup representatives → benchmark
  * decontamination → stratified sample), but each stage output is COMMITTED
  * through [[ManifestTable]] as its own table instead of held in
  * session-scoped caches. What that buys at 100 TB:
  *
  *  - **Crash-safe resume at stage granularity.** A stage with a published
  *    snapshot is never recomputed: [[buildSnapshotted]] checks each stage
  *    root's snapshot list before running it, so a job killed between
  *    dedup and decontam resumes by READING dedup's committed output (the
  *    atomic manifest publish is the all-or-nothing boundary — a stage
  *    killed mid-write leaves no published snapshot and reruns cleanly).
  *  - **Stage lineage.** Every stage is a table with commit history,
  *    per-commit content fingerprints ([[ManifestTable.verifyIntegrity]])
  *    and time travel ([[ManifestTable.readAsOf]]) — the dataset-card
  *    provenance chain (which docs the gate dropped, what dedup kept) is
  *    queryable forever, not lost with the session.
  *  - **Memory decoupling.** Session caches tie pipeline working set to
  *    executor storage memory; snapshots cost disk. A 100 TB gate output
  *    cannot live in cache; it can live in a table.
  *
  * Stage rows ride the engine's one lake schema ([[Extracted]]) — the same
  * move real lakehouses make (every stage output is page-shaped): url
  * carries the doc key, format the language, text the document text,
  * n_blocks the quality-gate ppm score; charset/status are fixed tags.
  * [[docsFromStage]] restores the (doc_id, text, lang) view.
  */
object CorpusBuild {

  final case class StageRun(name: String, seq: Long, reused: Boolean)

  final case class BuildResult(
      summary: DataFrame, // (lang, n_kept, n_clean, n_sampled, sum_sampled_ids)
      stages: Seq[StageRun])

  private def stageRoot(root: String, name: String) = s"$root/stage-$name"

  /** Encode a (doc_id, text, lang) frame as Extracted rows for commit. */
  private def toStage(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").cast("string").as("url"),
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("warc_ts"),
      col("lang").as("format"),
      col("text"),
      lit("utf-8").as("charset"),
      lit("ok").as("status"),
      lit(null).cast("string").as("error"),
      lit(0).as("n_blocks"),
      octet_length(col("text")).cast("long").as("n_bytes_in"))

  /** Decode a committed stage table back to the document view. */
  def docsFromStage(spark: SparkSession, root: String, name: String): DataFrame =
    ManifestTable.read(spark, stageRoot(root, name))
      .select(
        col("url").cast("long").as("doc_id"),
        col("text"),
        col("format").as("lang"))

  /** Commit `docs` as stage `name` unless a published snapshot already
    * exists (resume path). Returns the stage's latest snapshot seq and
    * whether it was reused.
    */
  private def commitStage(spark: SparkSession, root: String, name: String,
                          docs: => DataFrame): StageRun = {
    import spark.implicits._
    val sroot = stageRoot(root, name)
    val existing = ManifestTable.snapshots(sroot)
    if (existing.nonEmpty) StageRun(name, existing.max, reused = true)
    else {
      val seq = ManifestTable.commitAppend(spark, sroot, toStage(docs).as[Extracted])
      StageRun(name, seq, reused = false)
    }
  }

  /** Run (or resume) the snapshotted build under `root`. Stage semantics
    * are EXACTLY `p_corpus_build`'s: the summary frame is bit-identical to
    * the cache-composed pipeline's, which is what the driver oracle pins.
    */
  def buildSnapshotted(spark: SparkSession, docs: DataFrame, root: String): BuildResult = {
    import spark.implicits._
    val qUdf = udf((t: String) => TextStats.quality(t).score)

    val gate = commitStage(spark, root, "gate",
      docs.filter(qUdf(col("text")) >= 0.9).select(col("doc_id"), col("text"), col("lang")))
    val gated = docsFromStage(spark, root, "gate")

    val dedup = commitStage(spark, root, "dedup", {
      val exDocs = Dedup.dedupExact(gated, "doc_id", "text")
      val pairs = Dedup.minhashVerifiedPairs(
        exDocs.filter(size(split(lower(col("text")), "\\s+")) >= 3),
        "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 2, minJaccard = 0.8)
      Dedup.keepRepresentatives(exDocs, "doc_id", pairs)
        .select(col("doc_id"), col("text"), col("lang"))
    })
    val kept = docsFromStage(spark, root, "dedup")

    val decontam = commitStage(spark, root, "decontam", {
      val evalDocs = docs.filter(col("doc_id") % 41 === 0)
      Decontaminate.dropContaminated(kept, evalDocs, "doc_id", "text", k = 4, hashGrams = false)
        .select(col("doc_id"), col("text"), col("lang"))
    })
    val clean = docsFromStage(spark, root, "decontam")

    val sample = commitStage(spark, root, "sample",
      Sampling.stratifiedExact(clean, "lang", "text", "doc_id", 1, 5)
        .select(col("doc_id"), col("text"), col("lang")))
    val sampled = docsFromStage(spark, root, "sample")

    val summary = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .join(clean.groupBy(col("lang")).agg(count(lit(1)).as("n_clean")), Seq("lang"), "left")
      .join(
        sampled.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_sampled_ids")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_kept"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sum_sampled_ids"), lit(0L)).as("sum_sampled_ids"))
      .orderBy(col("lang"))

    BuildResult(summary, Seq(gate, dedup, decontam, sample))
  }
}
