package graft

import graft.sources.ManifestTable
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** 10^4-commit soak for the manifest table (VERDICT r4 ask #7): the
  * O(this-commit) protocol claim and the EMFILE design point
  * (`util.scala`) are argued in scaladoc; this main MEASURES them at
  * commit-count scale. 10,000 real micro-batch commits (each the full
  * protocol: distributed write with observed lineage → move → publish)
  * into one table root, per-commit wall time recorded; flat latency across the
  * history = the claim, a positive slope = an O(history) leak (the
  * classic ones: manifest listing per commit, stream-id rescans, commit-
  * dir stat storms). Afterwards the read-side cost at 10^4 commit
  * directories is measured before and after [[ManifestTable.compact]] —
  * the read-amplification story 10^4 incremental commits make real.
  *
  * Output: SOAK_BENCH.json (rendered into BENCH.md by Bench):
  * per-decile mean commit latency, first/last-thousand means, p50/p99,
  * the least-squares slope in µs/commit, and the read timings.
  */
object CommitSoak {

  private def timeIt[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 10000
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-commit-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    import s.implicits._

    val root = Files.createTempDirectory("graft-soak").toString
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def batch(i: Int) = s.createDataset((0 until 10).map(j =>
      Extracted(s"https://soak.example/$i/$j", ts, "txt", s"soak batch $i row $j",
        "utf-8", "ok", null, 1, 20L)))

    // JIT/codegen warm on a throwaway root
    val warmRoot = Files.createTempDirectory("graft-soak-warm").toString
    (1 to 20).foreach(i => ManifestTable.commitAppend(s, warmRoot, batch(i)))

    val lat = new Array[Double](n)
    var i = 0
    while (i < n) {
      lat(i) = timeIt(ManifestTable.commitAppend(s, root, batch(i)))._1
      i += 1
      if (i % 1000 == 0) println(f"commit $i/$n latest=${lat(i - 1)}%.3f s")
    }

    val deciles = (0 until 10).map { d =>
      val slice = lat.slice(d * n / 10, (d + 1) * n / 10)
      slice.sum / slice.length
    }
    val sorted = lat.sorted
    val p50 = sorted(n / 2)
    val p99 = sorted(n * 99 / 100)
    val first1k = lat.take(1000).sum / 1000
    val last1k = lat.takeRight(1000).sum / 1000
    // least-squares slope of latency vs commit index, reported in µs/commit
    val xm = (n - 1) / 2.0
    val ym = lat.sum / n
    val slope = {
      var num = 0.0; var den = 0.0
      var k = 0
      while (k < n) { num += (k - xm) * (lat(k) - ym); den += (k - xm) * (k - xm); k += 1 }
      num / den * 1e6
    }

    // read amplification at 10^4 commit dirs, then compacted
    val (readRaw, rowsRaw) = timeIt(ManifestTable.read(s, root).count())
    val (compactT, _) = timeIt(ManifestTable.compact(s, root))
    val (readCompacted, rowsCompacted) = timeIt(ManifestTable.read(s, root).count())
    require(rowsRaw == rowsCompacted && rowsRaw == n.toLong * 10,
      s"soak table lost rows: $rowsRaw vs $rowsCompacted vs ${n * 10}")

    val json =
      s"""{"n_commits":$n,"rows_per_commit":10,""" +
        s""""decile_mean_sec":[${deciles.map(d => f"$d%.4f").mkString(",")}],""" +
        s""""first_1k_mean_sec":${f"$first1k%.4f"},"last_1k_mean_sec":${f"$last1k%.4f"},""" +
        s""""p50_sec":${f"$p50%.4f"},"p99_sec":${f"$p99%.4f"},""" +
        s""""slope_us_per_commit":${f"$slope%.2f"},""" +
        s""""read_at_10k_commits_sec":${f"$readRaw%.2f"},""" +
        s""""compact_sec":${f"$compactT%.2f"},""" +
        s""""read_after_compact_sec":${f"$readCompacted%.2f"}}"""
    Files.writeString(Paths.get("/root/repo/SOAK_BENCH.json"), json)
    println(json)
    try Fs.deleteRecursively(Paths.get(root))
    catch { case _: Exception => () }
    try Fs.deleteRecursively(Paths.get(warmRoot))
    catch { case _: Exception => () }
    s.stop()
  }
}
