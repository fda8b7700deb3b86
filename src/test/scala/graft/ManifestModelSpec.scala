package graft

import graft.operators.{ExtractJob, ExtractKernel}
import graft.sources.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Model-based test of the table lifecycle: a seeded pseudo-random sequence
  * of {upsertChanged, deleteUrls, retryFailed, compactLatest+vacuum} ops is
  * applied to BOTH the real manifest table and an in-memory url→(text,
  * status) model implementing the documented semantics (status-gated
  * supersession, tombstone absence, physical compaction as a no-op for
  * readers). After EVERY op, readLatest must equal the model exactly.
  * The per-op oracle text comes from [[ExtractKernel.extractOne]] — the
  * kernel is a pure per-row function, so the model can call it directly.
  */
class ManifestModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-model")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val corrupt = Array[Byte](0x1f, 0x8b.toByte, 7, 7, 7)

  test("40-op random lifecycle: readLatest equals the semantic model after every op") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-model").toString
    val rng = new scala.util.Random(42)
    val pool = (0 until 12).map(i => s"u/page-$i")
    var tick = 0
    def nextPage(url: String, body: Array[Byte]): Page = {
      tick += 1
      Page(url, new Timestamp(1700000000000L + tick * 86400000L), body, null, "en")
    }
    // model: url -> (text, status); absence == never committed or tombstoned
    val model = scala.collection.mutable.Map.empty[String, (String, String)]

    def applyUpsertRule(p: Page): Unit = {
      val e = ExtractKernel.extractOne(p)
      model.get(p.url) match {
        case None                                  => model(p.url) = (e.text, e.status)
        case Some((t, _)) if e.status == "ok" && e.text != t =>
          model(p.url) = (e.text, e.status)
        case _                                     => ()
      }
    }

    def check(opName: String): Unit = {
      val got = ManifestTable.readLatest(spark, root)
        .select($"url", $"text", $"status")
        .as[(String, String, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == model.toMap,
        s"divergence after $opName:\n real-only=${got.toSet -- model.toSet}\n model-only=${model.toSet -- got.toSet}")
    }

    // bootstrap: commit an initial batch so the table exists
    val init = pool.take(6).map(u => nextPage(u, s"body of $u v0".getBytes("UTF-8")))
    ManifestTable.commitAppend(spark, root, ExtractKernel.extract(init.toDS()))
    init.foreach(applyUpsertRule)
    check("bootstrap")

    for (op <- 1 to 40) {
      rng.nextInt(10) match {
        case r if r < 5 => // upsert a small batch, 1-in-5 pages corrupt
          val batch = (0 until 1 + rng.nextInt(3)).map { _ =>
            val url = pool(rng.nextInt(pool.length))
            val body =
              if (rng.nextInt(5) == 0) corrupt
              else s"body of $url v${rng.nextInt(4)}".getBytes("UTF-8")
            nextPage(url, body)
          }
          // upsertChanged requires unique urls per batch (extract contract)
          val uniq = batch.groupBy(_.url).map(_._2.head).toSeq
          ExtractJob.upsertChanged(uniq.toDS(), root)
          uniq.foreach(applyUpsertRule)
          check(s"upsert#$op")
        case r if r < 7 => // takedown 1-2 urls (possibly never-committed ones)
          val dels = (0 until 1 + rng.nextInt(2)).map(_ => pool(rng.nextInt(pool.length))).distinct
          tick += 1
          ManifestTable.deleteUrls(spark, root, dels.toDF("url"),
            new Timestamp(1700000000000L + tick * 86400000L))
          dels.foreach(model.remove)
          check(s"delete#$op")
        case r if r < 9 => // retry failures with repaired bodies
          val repaired = pool.map(u => nextPage(u, s"repaired $u".getBytes("UTF-8")))
          val failedNow = model.collect { case (u, (_, st)) if st != "ok" => u }.toSet
          ExtractJob.retryFailed(repaired.toDS(), root)
          repaired.filter(p => failedNow.contains(p.url)).foreach(applyUpsertRule)
          check(s"retry#$op")
        case _ => // physical compaction must be invisible to readers
          ManifestTable.compactLatest(spark, root)
          ManifestTable.vacuum(root)
          check(s"compact#$op")
      }
    }
    // end-state sanity: the walk must have exercised all three row fates
    assert(model.nonEmpty && model.size < pool.size,
      s"walk should leave some urls live and some deleted: ${model.size}")
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("commit-state cache survives retention and detects a vanished table (staleness probes)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cachestale").toString
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(i: Int) = Seq(
      Extracted(s"u$i", ts, "txt", s"body $i", "utf-8", "ok", null, 1, 6L)).toDS()
    (0 until 5).foreach(i => ManifestTable.commitAppend(spark, root, batch(i)))
    // retention deletes OLD manifests but keeps the latest: the cached
    // (lastSeq, live) stays valid and the next commit continues the seq
    ManifestTable.expireSnapshots(root, keepLast = 2)
    val s5 = ManifestTable.commitAppend(spark, root, batch(5))
    assert(s5 == 5L)
    assert(ManifestTable.read(spark, root).count() == 6L)
    // the whole table vanishing (external cleanup) must invalidate the
    // cache through the existence probe: the next commit rescans and
    // starts from seq 0 instead of publishing a dangling seq 6
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    val s0 = ManifestTable.commitAppend(spark, root, batch(9))
    assert(s0 == 0L, s"stale cache leaked a seq: $s0")
    assert(ManifestTable.read(spark, root).count() == 1L)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
