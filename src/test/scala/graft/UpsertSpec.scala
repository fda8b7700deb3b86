package graft

import graft.operators.{ExtractJob, ExtractKernel}
import graft.sources.{Corpus, ManifestTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Recrawl upsert tier: merge-on-read latest-wins (`readLatest`),
  * changed-only commit (`upsertChanged`), and copy-on-write collapse
  * (`compactLatest`).
  */
class UpsertSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-upsert")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpRoot(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def page(url: String, day: Int, body: String): Page =
    Page(url, Timestamp.valueOf(f"2024-01-$day%02d 00:00:00"),
      body.getBytes("UTF-8"), null, "en")

  test("readLatest resolves latest-commit-wins per url; read keeps history") {
    import spark.implicits._
    val root = tmpRoot("mor")
    try {
      val v1 = Seq(page("u/a", 1, "alpha one"), page("u/b", 1, "beta one")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      val v2 = Seq(page("u/a", 2, "alpha two")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v2))

      assert(ManifestTable.read(spark, root).count() === 3L) // append history
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url", $"text").as[(String, String)].collect().toMap
      assert(latest.size === 2)
      assert(latest("u/a").contains("alpha two"))
      assert(latest("u/b").contains("beta one"))
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("upsertChanged commits only new/changed urls; failed rows never clobber") {
    import spark.implicits._
    val root = tmpRoot("upsert")
    try {
      val v1 = Seq(page("u/a", 1, "alpha"), page("u/b", 1, "beta")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      // recrawl: u/a unchanged, u/b changed, u/c new
      val batch = Seq(
        page("u/a", 2, "alpha"),
        page("u/b", 2, "beta CHANGED"),
        page("u/c", 2, "gamma")).toDS()
      val seq = ExtractJob.upsertChanged(batch, root)
      val committed = ManifestTable.commitUrls(spark, root, seq)
        .as[String].collect().toSet
      assert(committed === Set("u/b", "u/c"), s"committed: $committed")
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url", $"text").as[(String, String)].collect().toMap
      assert(latest("u/b").contains("beta CHANGED"))
      assert(latest("u/a").contains("alpha"))
      assert(latest.size === 3)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("compactLatest collapses supersession copy-on-write; vacuum reclaims") {
    import spark.implicits._
    val root = tmpRoot("cow")
    try {
      val v1 = Seq(page("u/a", 1, "one"), page("u/b", 1, "two")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      ExtractJob.upsertChanged(
        Seq(page("u/a", 2, "one PRIME")).toDS(), root)
      ManifestTable.compactLatest(spark, root)
      assert(ManifestTable.vacuum(root).length === 2)
      // post-compaction the plain read IS the latest view
      val plain = ManifestTable.read(spark, root)
        .select($"url", $"text").as[(String, String)].collect().toMap
      assert(plain.size === 2)
      assert(plain("u/a").contains("one PRIME"))
      // and readLatest still agrees
      assert(ManifestTable.readLatest(spark, root).count() === 2L)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("a FAILED re-extraction never clobbers a previously-good row") {
    import spark.implicits._
    val root = tmpRoot("noclobber")
    try {
      val v1 = Seq(page("u/a", 1, "alpha good")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      // recrawl hits a corrupt payload: gzip magic + garbage -> non-ok
      // status with the placeholder text (never null), whose digest
      // DIFFERS from the good row's — the status gate must drop it
      val corrupt = Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3, 4)
      val batch = Seq(Page("u/a", Timestamp.valueOf("2024-01-02 00:00:00"),
        corrupt, null, "en")).toDS()
      val fresh = ExtractKernel.extract(batch)
      assert(fresh.filter($"status" === "ok").count() === 0L,
        "corrupt payload must not extract ok")
      val seq = ExtractJob.upsertChanged(batch, root)
      assert(ManifestTable.commitUrls(spark, root, seq).count() === 0L,
        "failed re-extraction of an existing url must not commit")
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url", $"text").as[(String, String)].collect().toMap
      assert(latest("u/a").contains("alpha good"))
      // but a failed NEW url still commits (failure visibility)
      val batch2 = Seq(Page("u/new", Timestamp.valueOf("2024-01-02 00:00:00"),
        corrupt, null, "en")).toDS()
      val seq2 = ExtractJob.upsertChanged(batch2, root)
      assert(ManifestTable.commitUrls(spark, root, seq2).count() === 1L)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("retryFailed heals exactly the failed urls; a still-failing retry commits nothing") {
    import spark.implicits._
    val root = tmpRoot("retry")
    try {
      val corrupt = Array[Byte](0x1f, 0x8b.toByte, 9, 9, 9)
      val v1 = Seq(page("u/good", 1, "fine text"),
        Page("u/bad", Timestamp.valueOf("2024-01-01 00:00:00"), corrupt, null, "en")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      assert(ManifestTable.readLatest(spark, root)
        .filter($"status" =!= "ok").count() === 1L)
      // retry 1: payload still corrupt -> same placeholder, nothing commits
      val seq1 = ExtractJob.retryFailed(
        Seq(Page("u/bad", Timestamp.valueOf("2024-01-02 00:00:00"), corrupt, null, "en"),
          page("u/good", 2, "fine text")).toDS(), root)
      assert(ManifestTable.commitUrls(spark, root, seq1).count() === 0L)
      // retry 2: repaired payload heals ONLY u/bad (u/good in the batch is
      // filtered out by the failed-set join, so its changed body is ignored)
      val seq2 = ExtractJob.retryFailed(
        Seq(page("u/bad", 3, "recovered body"),
          page("u/good", 3, "DIFFERENT body")).toDS(), root)
      assert(ManifestTable.commitUrls(spark, root, seq2)
        .as[String].collect().toSet === Set("u/bad"))
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url", $"status", $"text")
        .as[(String, String, String)].collect().map(r => r._1 -> r).toMap
      assert(latest("u/bad")._2 === "ok")
      assert(latest("u/bad")._3.contains("recovered body"))
      assert(latest("u/good")._3.contains("fine text"))
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("upsertChanged bootstraps a fresh table with the whole batch") {
    import spark.implicits._
    val root = tmpRoot("bootstrap")
    try {
      val seq = ExtractJob.upsertChanged(
        Seq(page("u/a", 1, "alpha"), page("u/b", 1, "beta")).toDS(), root)
      assert(ManifestTable.commitUrls(spark, root, seq).count() === 2L)
      assert(ManifestTable.readLatest(spark, root).count() === 2L)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("deleteUrls tombstones hide urls from readLatest; compactLatest removes physically") {
    import spark.implicits._
    val root = tmpRoot("takedown")
    try {
      val v1 = Seq(page("u/a", 1, "alpha"), page("u/b", 1, "beta"),
        page("u/c", 1, "gamma")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      ManifestTable.deleteUrls(spark, root, Seq("u/b").toDF("url"),
        Timestamp.valueOf("2024-01-03 00:00:00"))
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url").as[String].collect().toSet
      assert(latest === Set("u/a", "u/c"))
      // history read still shows the tombstone row (status=deleted)
      assert(ManifestTable.read(spark, root).count() === 4L)
      ManifestTable.compactLatest(spark, root)
      ManifestTable.vacuum(root)
      val plain = ManifestTable.read(spark, root).select($"url").as[String].collect().toSet
      assert(plain === Set("u/a", "u/c"), "physical removal after compaction")
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("compact and compactLatest keep readLatest's winners when ts order disagrees with commit order") {
    import spark.implicits._
    val pages = Corpus.generate(spark, 60, 4).cache()
    val root = tmpRoot("compact-winners")
    try {
      ExtractJob.extractAll(pages, root, 4) // 2025-01 rows
      val urls = pages.select($"url").as[String].collect().sorted
      // tombstones dated BEFORE the rows they delete
      ManifestTable.deleteUrls(spark, root, urls.take(7).toSeq.toDF("url"),
        Timestamp.valueOf("2024-03-01 00:00:00"))
      // an upsert dated before the row it supersedes
      val older = Page(urls(7), Timestamp.valueOf("2024-06-01 00:00:00"),
        "older recrawl".getBytes("UTF-8"), null, "en")
      ExtractJob.upsertChanged(Seq(older).toDS(), root)
      def latest() = ManifestTable.readLatest(spark, root).orderBy($"url").collect().toSeq
      val before = latest()
      assert(before.size === 53)
      assert(before.find(_.getAs[String]("url") == urls(7)).get.getAs[String]("text")
        .contains("older recrawl"))
      ManifestTable.compact(spark, root)
      assert(latest() === before, "compact changed which row wins")
      assert(ManifestTable.read(spark, root).count() === 60L, "compact keeps one row per url")
      ManifestTable.compactLatest(spark, root)
      assert(latest() === before, "compactLatest changed which row wins")
      assert(ManifestTable.read(spark, root).count() === 53L)
    } finally {
      pages.unpersist()
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("a later recrawl upsert resurrects a tombstoned url") {
    import spark.implicits._
    val root = tmpRoot("resurrect")
    try {
      val v1 = Seq(page("u/a", 1, "alpha")).toDS()
      ManifestTable.commitAppend(spark, root, ExtractKernel.extract(v1))
      ManifestTable.deleteUrls(spark, root, Seq("u/a").toDF("url"),
        Timestamp.valueOf("2024-01-02 00:00:00"))
      assert(ManifestTable.readLatest(spark, root).count() === 0L)
      // deleted url reads as absent, so the upsert treats it as NEW
      val seq = ExtractJob.upsertChanged(
        Seq(page("u/a", 3, "alpha again")).toDS(), root)
      assert(ManifestTable.commitUrls(spark, root, seq).count() === 1L)
      val latest = ManifestTable.readLatest(spark, root)
        .select($"url", $"text").as[(String, String)].collect().toMap
      assert(latest.size === 1 && latest("u/a").contains("alpha again"))
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("Redirects.resolve: exact terminals + hop counts on a 1000-hop chain; cycles throw") {
    import spark.implicits._
    // one long chain (1000 hops -> 10 doubling rounds) + a short branch
    val chain = (1 to 1000).map(i => (i.toLong, i - 1L))
    val out = graft.operators.Redirects
      .resolve(chain.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size === 1000)
    assert(out(1L) === ((0L, 1L)))
    assert(out(1000L) === ((0L, 1000L)))
    assert(out(537L) === ((0L, 537L)))
    // ANY cycle must fail loudly — including the power-of-two lengths a
    // changed-count convergence test silently accepts (self-loop converges
    // to itself at round 0, a 2-cycle at round 1)
    for (cyc <- Seq(
        Seq((1L, 1L)),                       // self-loop
        Seq((1L, 2L), (2L, 1L)),             // 2-cycle
        Seq((1L, 2L), (2L, 3L), (3L, 1L)),   // 3-cycle
        Seq((9L, 1L), (1L, 2L), (2L, 1L)))) { // chain feeding a cycle
      val e = intercept[IllegalStateException] {
        graft.operators.Redirects.resolve(cyc.toDF("src", "dst"), "src", "dst", maxIter = 6)
      }
      assert(e.getMessage.contains("cycle"), s"input $cyc must be diagnosed")
    }
    // the functional-graph contract is runtime-enforced: src with two
    // targets fails loudly instead of fanning out
    val fan = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val e2 = intercept[Exception] {
      graft.operators.Redirects.resolve(fan, "src", "dst").collect()
    }
    assert(e2.getMessage != null)
  }

  test("Revisit.changeRates counts adjacent digest changes in ts order; tiers split") {
    import spark.implicits._
    // url A: changes every visit (3 changes / 3 gaps -> hot)
    // url B: one change (1/3 -> cold); url C: single obs (ratio 0 -> cold)
    // url D: 2 changes in 4 gaps (0.5 -> warm)
    val hist = Seq(
      ("A", 1L, 10L), ("A", 2L, 11L), ("A", 3L, 12L), ("A", 4L, 13L),
      ("B", 1L, 20L), ("B", 2L, 20L), ("B", 3L, 21L), ("B", 4L, 21L),
      ("C", 1L, 30L),
      ("D", 1L, 40L), ("D", 2L, 40L), ("D", 3L, 41L), ("D", 4L, 41L), ("D", 5L, 42L)
    ).toDF("url", "t", "digest")
      .withColumn("ts", ($"t" * 86400L).cast("timestamp"))
    val out = graft.operators.Revisit
      .tiered(graft.operators.Revisit.changeRates(hist, "url", "ts", "digest"))
      .select($"url", $"n_obs", $"n_changes", $"tier")
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out("A") === (("A", 4L, 3L, "hot")))
    assert(out("B") === (("B", 4L, 1L, "cold")))
    assert(out("C") === (("C", 1L, 0L, "cold")))
    assert(out("D") === (("D", 5L, 2L, "warm")))
  }

  test("verifyIntegrity matches recorded fingerprints and flags silent data corruption") {
    import spark.implicits._
    val root = tmpRoot("integrity")
    try {
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/a", 1, "alpha"), page("u/b", 1, "beta")).toDS()))
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/c", 2, "gamma")).toDS()))
      val clean = ManifestTable.verifyIntegrity(spark, root)
      assert(clean.size === 2 && clean.forall(_.ok), s"clean table must verify: $clean")
      assert(clean.forall(_.expected.isDefined), "fresh commits must carry content_fp")

      // simulate bit rot: rewrite one commit's rows with altered text,
      // bypassing the commit protocol (same schema, same row count)
      val seqs = ManifestTable.liveSeqs(root)
      val victim = java.nio.file.Paths.get(root, "data", s"commit_seq=${seqs.head}")
      val rows = spark.read.parquet(victim.toString)
      val corrupted = rows.withColumn("text", concat($"text", lit("!")))
      val tmp = tmpRoot("integrity-rewrite")
      corrupted.write.mode("overwrite").parquet(tmp)
      graft.Fs.deleteRecursively(victim)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), victim)
      java.nio.file.Files.deleteIfExists(victim.resolve("_SUCCESS"))

      val dirty = ManifestTable.verifyIntegrity(spark, root)
      val bad = dirty.filter(!_.ok)
      assert(bad.map(_.seq) === Seq(seqs.head), s"corruption must be localized: $dirty")
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("verifyIntegrity catches duplicated rows (XOR-invisible) and vanished commits") {
    import spark.implicits._
    val root = tmpRoot("integrity2")
    try {
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/a", 1, "alpha"), page("u/b", 1, "beta")).toDS()))
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/c", 2, "gamma")).toDS()))
      val seqs = ManifestTable.liveSeqs(root)
      // duplicate every parquet file of the first commit TWICE: each row's
      // hash XORs in twice more and cancels, so the fingerprint is
      // unchanged and only the row-count comparison can see it (an ODD
      // number of extra copies would flip the fp — the even case is XOR's
      // true blind spot)
      val victim = java.nio.file.Paths.get(root, "data", s"commit_seq=${seqs.head}")
      val files = java.nio.file.Files.walk(victim)
      try {
        import scala.jdk.CollectionConverters._
        files.iterator().asScala.toList
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .foreach { p =>
            java.nio.file.Files.copy(p, p.resolveSibling("dup1-" + p.getFileName))
            java.nio.file.Files.copy(p, p.resolveSibling("dup2-" + p.getFileName))
          }
      } finally files.close()
      val dup = ManifestTable.verifyIntegrity(spark, root)
      val badDup = dup.filter(!_.ok)
      assert(badDup.map(_.seq) === Seq(seqs.head), s"duplication must be flagged: $dup")
      assert(badDup.head.expected.contains(badDup.head.actual),
        "XOR fingerprint alone must NOT see duplication (that's the row count's job)")
      assert(!badDup.head.expectedRows.contains(badDup.head.actualRows))

      // a vanished live commit reports missing instead of crashing the scan
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(root, "data", s"commit_seq=${seqs(1)}"))
      val gone = ManifestTable.verifyIntegrity(spark, root)
      assert(gone.find(_.seq == seqs(1)).exists(r => r.missing && !r.ok), s"got $gone")
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("expireSnapshots bounds time travel and reclaims unreferenced commits") {
    import spark.implicits._
    val root = tmpRoot("expire")
    try {
      // seq 1, 2: appends; seq 3: compaction (live = {3}); seq 4: append
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/a", 1, "alpha")).toDS()))
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/b", 1, "beta")).toDS()))
      ManifestTable.compactLatest(spark, root)
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/c", 1, "gamma")).toDS()))
      val seqs = ManifestTable.snapshots(root)
      assert(seqs.size === 4)

      val (expired, reclaimed) = ManifestTable.expireSnapshots(root, keepLast = 2)
      assert(expired === seqs.take(2), s"expired=$expired")
      assert(reclaimed === seqs.take(2), s"reclaimed=$reclaimed")
      // kept snapshots still read; current state intact
      assert(ManifestTable.readLatest(spark, root).count() === 3L)
      assert(ManifestTable.readAsOf(spark, root, seqs(2)).count() === 2L)
      // expired snapshot fails at manifest resolution, loudly
      val e = intercept[IllegalArgumentException] {
        ManifestTable.readAsOf(spark, root, seqs.head)
      }
      assert(e.getMessage.contains("no published snapshot"))
      // further commits proceed normally after expiry
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/d", 1, "delta")).toDS()))
      assert(ManifestTable.readLatest(spark, root).count() === 4L)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("a held commit lock makes a second writer fail loudly, and releases cleanly") {
    import spark.implicits._
    val root = tmpRoot("lock")
    try {
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/a", 1, "alpha")).toDS()))
      val lock = java.nio.file.Paths.get(root, "_manifests", ".commit.lock")
      Files.createFile(lock) // simulate a concurrent writer mid-commit
      val e = intercept[IllegalStateException] {
        ManifestTable.commitAppend(spark, root,
          ExtractKernel.extract(Seq(page("u/b", 1, "beta")).toDS()))
      }
      assert(e.getMessage.contains("concurrent commit"))
      Files.delete(lock)
      // lock gone -> commit proceeds, and the failed attempt left no trace
      ManifestTable.commitAppend(spark, root,
        ExtractKernel.extract(Seq(page("u/b", 1, "beta")).toDS()))
      assert(ManifestTable.readLatest(spark, root).count() === 2L)
    } finally graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("upsert lifecycle on the synthetic corpus: zero dup, zero drift") {
    import spark.implicits._
    val pages = Corpus.generate(spark, 120, 4).cache()
    val root = tmpRoot("upsert-corpus")
    try {
      ExtractJob.extractAll(pages, root, 4)
      val before = ManifestTable.readLatest(spark, root)
        .select($"url", $"text".as("old_text"))
      val touched = pages.filter(pmod(xxhash64($"url"), lit(4)) === 0)
      val changedUrls = touched.filter(pmod(xxhash64($"url"), lit(8)) === 0)
        .select($"url")
      val nChanged = changedUrls.count()
      assert(nChanged > 0, "synthesis must produce changed pages")
      val recrawl = touched
        .withColumn("warc_ts", ($"warc_ts".cast("long") + 86400L).cast("timestamp"))
        .withColumn("html",
          when(pmod(xxhash64($"url"), lit(8)) === 0,
            encode(concat(lit("recrawl update of "), $"url"), "UTF-8"))
            .otherwise($"html"))
        .as[Page]
      val seq = ExtractJob.upsertChanged(recrawl, root)
      assert(ManifestTable.commitUrls(spark, root, seq).count() === nChanged)
      val latest = ManifestTable.readLatest(spark, root)
      assert(latest.count() === pages.count())
      val stale = latest.join(changedUrls, "url").join(before, "url")
        .filter($"text" <=> $"old_text").count()
      assert(stale === 0L)
      val drifted = latest.join(before, "url")
        .filter(!($"text" <=> $"old_text"))
        .join(changedUrls, Seq("url"), "left_anti").count()
      assert(drifted === 0L)
    } finally {
      pages.unpersist()
      graft.Fs.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
}
