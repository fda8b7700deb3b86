package perfbench

import graft.{Page, PageIn}
import graft.operators.{ExtractJob, ExtractKernel}
import graft.sources.{ManifestTable, WarcReader}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Everything one workload run needs. `scale` multiplies the input size
  * (1.0 for measured runs; the self-check uses a small one).
  */
final case class Ctx(spark: SparkSession, dir: Path, seed: Long, scale: Double) {
  def size(base: Long): Long = math.max(80L, (base * scale).toLong / 40 * 40)
  def parallelism: Int = spark.sparkContext.defaultParallelism
}

/** Output rows checked and, of those, rows wrong or missing. */
final case class Check(expected: Long, failed: Long) {
  def +(o: Check): Check = Check(expected + o.expected, failed + o.failed)
}

/** One workload: set-up, a timed unit run as a closed loop, and checks.
  * A traced unit opens spans around each call into a layer; an untraced
  * unit makes the same calls with no spans.
  */
trait Workload {
  /** Input pages (records, docs) one unit finishes. */
  def pagesPerUnit: Long
  /** Untimed units before measuring. Unit times keep falling long after
    * the cold first unit: much of the code runs a few times per unit (job
    * set-up, one call per file or task), so the JIT reaches it only after
    * many units. Counting units, not seconds, starts every run's
    * measurement at the same point of that curve, however busy the host.
    */
  def warmUnits: Int
  /** Writes the inputs under `dir`; timed as set-up. */
  def setup(dir: Path): Unit
  /** Opens inputs written by [[setup]], possibly by another JVM. */
  def load(dir: Path): Unit
  /** The timed unit. */
  def unit(i: Int, tr: Tracer): Unit
  /** Untimed check of unit `i`'s own output. */
  def after(i: Int): Check
  /** Deletes unit `i`'s output. */
  def discard(i: Int): Unit = ()
  /** Full check of unit `i`'s output; `corrupt` alters one output row first. */
  def finalCheck(i: Int, corrupt: Boolean): Check
  /** The span of a traced unit that covers what an untraced unit does. */
  def unitSpan(tr: Tracer, root: Span): Span = root
  /** Per-layer metrics of traced unit `i`. */
  def layers(tr: Tracer, root: Span, i: Int): Map[String, Double]
  /** Single-threaded probes, run once per traced run. */
  def probe(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "extract_commit" => new ExtractCommit(ctx, ctx.size(4000))
    case "warc_ingest"    => new WarcIngest(ctx, ctx.size(6000))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def maxOverMedian(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }

  /** Rows of `got` (url, text) that differ from `want` (url, text): missing,
    * extra, different text (by 64-bit digest), or a url committed twice.
    */
  def diffRows(got: DataFrame, want: DataFrame): Long = {
    def digests(df: DataFrame): Array[(String, Long)] = {
      import df.sparkSession.implicits._
      df.select(col("url"), xxhash64(col("text"))).as[(String, Long)].collect()
    }
    val g = digests(got)
    val w = digests(want).toMap
    val seen = g.map(_._1).toSet
    (g.length - seen.size) + g.count { case (u, d) => !w.get(u).contains(d) } + w.keySet.count(!seen(_))
  }

  /** Changes the text of the row with the smallest url. */
  def corruptOne(df: DataFrame): DataFrame = {
    val first = df.agg(min(col("url"))).head.getString(0)
    df.withColumn("text", when(col("url") === first, concat(col("text"), lit("#")))
      .otherwise(col("text")))
  }

  /** Runs a plan to the end through the no-op sink, forcing every column. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

import Workload._

/** `ExtractJob.extractAll` over a parquet pages table into a fresh
  * `ManifestTable` root: the paper's headline query.
  */
final class ExtractCommit(ctx: Ctx, n: Long) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private var pagesDir: Path = _
  private var pages: Dataset[Page] = _

  def pagesPerUnit: Long = n
  // units fall fast for about 8 units, then slowly for many more
  def warmUnits: Int = 12
  private def root(i: Int): String = ctx.dir.resolve(s"table-$i").toString

  def setup(dir: Path): Unit =
    Inputs.write(Inputs.pages(spark, Inputs.firstId(ctx.seed), n), dir.resolve("pages"))

  def load(dir: Path): Unit = {
    pagesDir = dir.resolve("pages")
    pages = Inputs.read(spark, pagesDir)
  }

  def unit(i: Int, tr: Tracer): Unit = {
    if (tr.enabled) {
      // cumulative prefixes of the same pipeline; differences are layer times
      tr.span("sources.scan")(noop(spark.read.parquet(pagesDir.toString).select("html")))
      tr.span("sources.decode")(noop(
        pages.select($"url", $"warc_ts", $"html", $"lang").as[PageIn].map(_.html.length).toDF()))
      tr.span("operators.ExtractKernel.extract")(noop(ExtractKernel.extract(pages).toDF()))
    }
    tr.span("operators.ExtractJob.extractAll")(
      ExtractJob.extractAll(pages, root(i), ctx.parallelism))
  }

  def after(i: Int): Check = Check(n, math.abs(n - ManifestTable.latestStats(root(i)).map(_.rows).sum))

  override def discard(i: Int): Unit = Inputs.deleteTree(Paths.get(root(i)))

  def finalCheck(i: Int, corrupt: Boolean): Check = {
    val got = ManifestTable.read(spark, root(i)).select("url", "text")
    Check(n, diffRows(if (corrupt) corruptOne(got) else got, pages.select("url", "text").toDF()))
  }

  override def unitSpan(tr: Tracer, root: Span): Span = tr.child(root, "operators.ExtractJob.extractAll")

  def layers(tr: Tracer, rootSpan: Span, i: Int): Map[String, Double] = {
    val scan = tr.child(rootSpan, "sources.scan").seconds
    val decode = tr.child(rootSpan, "sources.decode").seconds
    val extractSpan = tr.child(rootSpan, "operators.ExtractKernel.extract")
    val extract = extractSpan.seconds
    val whole = unitSpan(tr, rootSpan).seconds
    val ph = ManifestTable.lastCommitPhases(root(i))
    val (outBytes, files) = Inputs.treeBytes(Paths.get(root(i), "data"), ".parquet")
    val inBytes = ManifestTable.latestStats(root(i)).map(_.bytes).sum
    val kernelTasks = tr.workUnder(extractSpan).busiestStage
    Map(
      "sources.scan_s" -> scan,
      "sources.decode_s" -> (decode - scan),
      "operators.ExtractKernel.extract_s" -> (extract - decode),
      "operators.ExtractKernel.tasks" -> kernelTasks.size.toDouble,
      "operators.ExtractKernel.task_max_over_median" -> maxOverMedian(kernelTasks),
      "sources.ManifestTable.stage_s" -> (ph.stage - extract),
      "sources.ManifestTable.stats_s" -> ph.stats,
      "sources.ManifestTable.move_s" -> ph.move,
      "sources.ManifestTable.publish_s" -> ph.publish,
      "sources.ManifestTable.bytes_per_input_byte" -> outBytes.toDouble / math.max(1L, inBytes),
      "sources.ManifestTable.files" -> files.toDouble,
      "trace.unattributed_share" -> (whole - (ph.stage + ph.stats + ph.move + ph.publish)) / whole)
  }

  override def probe(): Map[String, Double] = KernelProbe.run(Inputs.firstId(ctx.seed))
}

/** Common-Crawl-layout `.warc.gz` archives (one gzip member per record,
  * archives capped by bytes) read with `WarcReader.readWarcs`, then a
  * count and a payload digest per record.
  */
final class WarcIngest(ctx: Ctx, n: Long) extends Workload {
  private val spark = ctx.spark
  private var glob: String = _
  private var archives: Seq[Path] = Seq.empty
  private var expected: Map[String, Long] = Map.empty
  private var got: Array[Row] = Array.empty

  def pagesPerUnit: Long = n
  // units level off after about 10 (8 s) as the record walk compiles
  def warmUnits: Int = 16

  def setup(dir: Path): Unit = {
    val pages = Inputs.pages(spark, Inputs.firstId(ctx.seed), n).persist()
    try {
      val out = dir.resolve("warc")
      Files.createDirectories(out)
      WarcIngest.writeArchives(pages, out.toString)
      pages.select(col("url"), xxhash64(col("html")).as("digest"))
        .write.mode("overwrite").parquet(dir.resolve("expected").toString)
    } finally pages.unpersist()
  }

  def load(dir: Path): Unit = {
    val out = dir.resolve("warc")
    glob = out.toString + "/*.warc.gz"
    val ls = Files.list(out)
    try archives = ls.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".warc.gz")).sorted.toSeq
    finally ls.close()
    expected = spark.read.parquet(dir.resolve("expected").toString).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def unit(i: Int, tr: Tracer): Unit =
    got = tr.span("sources.WarcReader.readWarcs")(
      WarcReader.readWarcs(spark, glob)
        .select(col("url"), xxhash64(col("html")), col("http_status"), col("ingest_error"))
        .collect())

  private def check(rows: Array[Row]): Check = {
    val seen = rows.map(_.getString(0)).toSet
    val bad = rows.count { r =>
      !expected.get(r.getString(0)).contains(r.getLong(1)) || r.getInt(2) != 200 || !r.isNullAt(3)
    }
    Check(n, bad + (rows.length - seen.size) + expected.keySet.count(u => !seen.contains(u)))
  }

  def after(i: Int): Check = check(got)

  def finalCheck(i: Int, corrupt: Boolean): Check =
    check(if (corrupt) got.updated(0, Row(got(0).getString(0), got(0).getLong(1) + 1,
      got(0).getInt(2), got(0).get(3))) else got)

  def layers(tr: Tracer, root: Span, i: Int): Map[String, Double] = {
    val read = tr.child(root, "sources.WarcReader.readWarcs")
    val tasks = tr.workUnder(read).busiestStage
    Map(
      "sources.WarcReader.read_s" -> read.seconds,
      "sources.WarcReader.tasks" -> tasks.size.toDouble,
      "sources.WarcReader.task_max_over_median" -> maxOverMedian(tasks))
  }

  /** Single-threaded gunzip and record walk over every archive. Both are
    * reported per inflated WARC byte; parse time is the full
    * `parseWarc` call minus the gunzip of the same archive.
    */
  override def probe(): Map[String, Double] = {
    val bytes = archives.map(p => Files.readAllBytes(p))
    def pass(): (Long, Long, Long) = bytes.foldLeft((0L, 0L, 0L)) { case ((gz, all, inflated), b) =>
      val t0 = System.nanoTime()
      val raw = graft.functions.Codecs.gunzip(b, Int.MaxValue - 16).get
      val t1 = System.nanoTime()
      WarcReader.parseWarc(b)
      val t2 = System.nanoTime()
      (gz + (t1 - t0), all + (t2 - t1), inflated + raw.length)
    }
    (1 to 2).foreach(_ => pass())
    val runs = (1 to 3).map(_ => pass())
    val gz = runs.map(_._1).sum.toDouble
    val all = runs.map(_._2).sum.toDouble
    val inflated = runs.map(_._3).sum.toDouble
    Map(
      "sources.WarcReader.gunzip_ns_per_byte" -> gz / inflated,
      "sources.WarcReader.parse_ns_per_byte" -> (all - gz) / inflated)
  }
}

object WarcIngest {
  /** Uncompressed WARC bytes per archive before a new one starts. Small
    * enough that every seed yields well over 32 archives: at Spark's
    * default `parallelPartitionDiscovery.threshold` of 32 paths the
    * listing becomes a job of its own, and a count near it made runs
    * bimodal by seed.
    */
  final val ArchiveBytes = 1L << 20

  /** Writes each input partition (a fixed id range) as archives of at most
    * [[ArchiveBytes]]; a fixed share of bodies is gzip-encoded and a
    * fixed share chunked, chosen by url.
    */
  def writeArchives(pages: Dataset[Page], out: String): Unit =
    pages.foreachPartition { (it: Iterator[Page]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var k = 0
      def flush(recs: Seq[Page]): Unit = if (recs.nonEmpty) {
        val bytes = WarcReader.writeWarcRecordGz(
          recs.map(p => (p.url, p.warc_ts, p.html)),
          gzipBody = i => Inputs.pick(recs(i.toInt).url.hashCode.toLong, 11L, 10) == 0,
          chunked = i => Inputs.pick(recs(i.toInt).url.hashCode.toLong, 13L, 5) == 0)
        Files.write(Paths.get(out, f"crawl-$pid%05d-$k%03d.warc.gz"), bytes)
        k += 1
      }
      val buf = scala.collection.mutable.ArrayBuffer.empty[Page]
      var size = 0L
      it.foreach { p =>
        if (size + p.html.length > ArchiveBytes && buf.nonEmpty) { flush(buf.toSeq); buf.clear(); size = 0L }
        buf += p
        size += p.html.length + 512
      }
      flush(buf.toSeq)
    }
}
