package graft

import graft.fixtures.CorpusGen
import graft.operators.ExtractKernel
import graft.sources.ManifestTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Optimization harness — measurement only, never the driver contract
  * (that is [[Bench]], frozen). Every Spark mode runs in one session
  * configured like Bench's (AQE on, at least 32 shuffle partitions, 48m
  * splits) so numbers are comparable. Modes:
  *
  *   time <sfDir> <query...>     bench-protocol timing (2 untimed warmups,
  *                               best of 2 timed counts, cache cleared per
  *                               query).
  *   noop <sfDir> <query...>     same protocol but timed through the noop
  *                               sink (guide §1.4): forces every column of
  *                               every row, isolates compute from count's
  *                               column pruning.
  *   explain <sfDir> <out> <q...> write .explain("formatted") of each query
  *                               to <out>/<query>.txt, or to <out>/<file>
  *                               for a `<query>:<file>` argument.
  *   trace <sfDir> <query...>    run each query once (after one warmup) and
  *                               print every Spark job it launched with its
  *                               wall time and description.
  *   jobs <sfDir> <query...>     run each query once (after one warmup) and
  *                               report how many Spark jobs + stages it
  *                               launched — the fixed-overhead census that
  *                               explains multi-second timings on KB-sized
  *                               tables.
  *   kernels                     the extraction kernels alone, no Spark:
  *                               20,000 CorpusGen pages pulled off one
  *                               shared index by 1, nproc/4 and nproc
  *                               threads (the multi-thread legs run twice),
  *                               best of 3, in MB/s of input.
  *   stress <sfDir>              the superlinear-suspect queries at sfDir
  *                               and at a 10× corpus derived from it →
  *                               STRESS_BENCH.json (see `stress`).
  *   soak [n]                    n (default 10,000) manifest commits into
  *                               one table → SOAK_BENCH.json (see `soak`).
  */
object BenchExtra {

  private def session(): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions",
        math.max(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32).toString)
      .config("spark.sql.files.maxPartitionBytes", "48m")
      .config("spark.sql.files.openCostInBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def timeIt[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private val Usage =
    "usage: BenchExtra <time|noop|trace|jobs> <sfDir> <query...> | " +
      "explain <sfDir> <outDir> <query[:file]...> | kernels | stress <sfDir> | soak [n]"

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("kernels") => kernels()
    case Seq("stress", sfDir) => withSession(stress(_, sfDir))
    case Seq("soak") => withSession(soak(_, 10000))
    case Seq("soak", n) => withSession(soak(_, n.toInt))
    case Seq(mode, sfDir, rest @ _*) if rest.nonEmpty =>
      withSession(queryModes(_, mode, sfDir, rest))
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def withSession(f: SparkSession => Unit): Unit = {
    val s = session()
    try f(s) finally s.stop()
  }

  private def queryModes(s: SparkSession, mode: String, sfDir: String,
                         args: Seq[String]): Unit = {
    sources.Corpus.pages(s, sfDir).count()
    mode match {
      case "time" | "noop" =>
        def run(name: String): Unit =
          if (mode == "time") { SparkEntry.queries(name)(s, sfDir).count(); () }
          else SparkEntry.queries(name)(s, sfDir)
            .write.format("noop").mode("overwrite").save()
        for (name <- args) {
          s.sparkContext.setJobDescription(s"warmup: $name")
          run(name); run(name)
          s.sparkContext.setJobDescription(s"timed: $name")
          val t = (1 to 2).map(_ => timeIt(run(name))).min
          s.sharedState.cacheManager.clearCache()
          println(f"QUERY_${mode.toUpperCase} $name $t%.3f")
        }
      case "explain" =>
        val outDir = Paths.get(args.head)
        Files.createDirectories(outDir)
        for (spec <- args.tail) {
          // spec = "<query>:<filename>" or just "<query>" (file <query>.txt)
          val (name, file) = spec.split(":", 2) match {
            case Array(q, f) => (q, f)
            case Array(q)    => (q, s"$q.txt")
          }
          val df = SparkEntry.queries(name)(s, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(outDir.resolve(file), plan)
          s.sharedState.cacheManager.clearCache()
          println(s"EXPLAIN_WRITTEN $name -> ${outDir.resolve(file)}")
        }
      case "trace" =>
        val sc = s.sparkContext
        for (name <- args) {
          SparkEntry.queries(name)(s, sfDir).count() // warm
          s.sharedState.cacheManager.clearCache()
          val events = new java.util.concurrent.ConcurrentLinkedQueue[String]
          val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              val desc = Option(j.properties)
                .flatMap(p => Option(p.getProperty("spark.job.description")))
                .orElse(Option(j.properties)
                  .flatMap(p => Option(p.getProperty("callSite.short"))))
                .getOrElse("?")
              starts.put(j.jobId, (System.nanoTime(), desc)); ()
            }
            override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val st = starts.remove(j.jobId)
              if (st != null) {
                val ms = (System.nanoTime() - st._1) / 1e6
                events.add(f"  job ${j.jobId}%4d ${ms}%8.1f ms  ${st._2.take(110)}"); ()
              }
            }
          }
          sc.addSparkListener(listener)
          val t = timeIt(SparkEntry.queries(name)(s, sfDir).count())
          Thread.sleep(400)
          sc.removeSparkListener(listener)
          s.sharedState.cacheManager.clearCache()
          println(f"QUERY_TRACE $name $t%.3f")
          events.forEach(e => println(e))
        }
      case "jobs" =>
        val sc = s.sparkContext
        for (name <- args) {
          SparkEntry.queries(name)(s, sfDir).count() // warm (JIT + codegen)
          s.sharedState.cacheManager.clearCache()
          val listener = new org.apache.spark.scheduler.SparkListener {
            val jobs = new java.util.concurrent.atomic.AtomicInteger
            val stages = new java.util.concurrent.atomic.AtomicInteger
            val tasks = new java.util.concurrent.atomic.AtomicInteger
            override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet(); ()
            }
            override def onStageCompleted(
                st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              stages.incrementAndGet()
              tasks.addAndGet(st.stageInfo.numTasks); ()
            }
          }
          sc.addSparkListener(listener)
          val t = timeIt(SparkEntry.queries(name)(s, sfDir).count())
          Thread.sleep(300) // let listener events drain
          sc.removeSparkListener(listener)
          s.sharedState.cacheManager.clearCache()
          println(f"QUERY_JOBS $name $t%.3f jobs=${listener.jobs.get} " +
            f"stages=${listener.stages.get} tasks=${listener.tasks.get}")
        }
      case other => throw new IllegalArgumentException(s"unknown mode $other\n$Usage")
    }
  }

  /** Wall seconds for `threads` threads to extract every page, each pulling
    * the next index off one shared counter.
    */
  private def extractOn(pages: Array[Page], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    val idx = new AtomicLong(0)
    val sink = new AtomicLong(0)
    timeIt {
      (0 until threads).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = idx.getAndIncrement()
            while (i < pages.length) {
              sink.addAndGet(ExtractKernel.extractOne(pages(i.toInt)).text.length.toLong)
              i = idx.getAndIncrement()
            }
          }
        })
      }
      pool.shutdown(); pool.awaitTermination(600, TimeUnit.SECONDS)
    }
  }

  private def kernels(): Unit = {
    val n = 20000
    val pages = (0 until n).map(i => CorpusGen.page(i.toLong)).toArray
    val bytes = pages.map(_.html.length.toLong).sum
    println(s"n=$n bytes=${bytes / 1e6}MB")
    val nproc = Runtime.getRuntime.availableProcessors
    val legs = Seq(1, nproc / 4, nproc).filter(_ >= 1).distinct
    (legs ++ legs.tail).foreach { t =>
      val times = (1 to 3).map(_ => extractOn(pages, t))
      println(f"THREADS=$t times=${times.map(x => f"$x%.2f").mkString(",")} " +
        f"best_mbps=${bytes / 1e6 / times.min}%.1f")
    }
  }

  private val StressSuspects = Seq(
    "d_clusters", "d_cluster_histogram", "w_kcore", "m_phash_neardup")

  /** Stress leg for the superlinear-suspect operators: runs each suspect
    * on `base`'s documents and on a deterministic 10× corpus derived from
    * them, and reports the measured runtime exponent log10(t10/t1) next
    * to the OUTPUT-row exponent — an operator whose runtime grows like its
    * output is output-bound (optimal for its semantics); one whose runtime
    * outgrows both input and output is the accidental quadratic this leg
    * exists to catch.
    *
    * The 10× corpus preserves the base within-copy structure exactly: ten
    * copies of the documents table, doc_id offset by a stride per copy,
    * and for copy k>0 every word whose murmur3 lands in a fixed 30% class
    * is rewritten to a copy-tagged variant. Mutation is deterministic BY
    * WORD, so two near-duplicate docs in the same copy mutate identically
    * — their within-copy Jaccard is UNCHANGED — while the same doc across
    * copies shares only the unmutated 70% (cross-copy Jaccard ≈ 0.54,
    * safely under the 0.8 near-dup gate). Near-dup pairs and duplicate
    * families therefore scale exactly 10×. `w_kcore` synthesizes its
    * graph from doc_id modulo fixed constants: its edge list grows with the
    * corpus, its node set does not. The derived corpus is cached
    * under target/graft-stress. Output: STRESS_BENCH.json (rendered into
    * BENCH.md by Bench; the `sf01`/`sf1` keys name the base and 10× legs).
    */
  private def stress(s: SparkSession, base: String): Unit = {
    import s.implicits._
    val copies = 10
    val stressDir = s"target/graft-stress/${Paths.get(base).getFileName}-x$copies"
    val marker = Paths.get(stressDir, "documents.parquet", "_SUCCESS")
    val docs = s.read.parquet(s"$base/documents.parquet")
    if (!Files.exists(marker)) {
      val stride = docs.agg(max($"doc_id")).as[Long].head() + 1
      val mutateUdf = udf { (t: String, k: Int) =>
        if (k == 0) t
        else t.split(' ').map { w =>
          val h = scala.util.hashing.MurmurHash3.stringHash(w, 42)
          if (math.floorMod(h, 10) < 3) w + "_" + k else w
        }.mkString(" ")
      }
      val scaled = (0 until copies).map { k =>
        docs.select(
          ($"doc_id" + lit(k.toLong * stride)).as("doc_id"),
          mutateUdf($"text", lit(k)).as("text"),
          $"lang", $"source")
      }.reduce(_ unionAll _)
        .withColumn("n_chars", length($"text").cast("int"))
      scaled.repartition(32).write.mode("overwrite")
        .parquet(s"$stressDir/documents.parquet")
    }
    val docs1 = docs.count()
    val docs10 = s.read.parquet(s"$stressDir/documents.parquet").count()

    val results = StressSuspects.map { q =>
      def run(dir: String): (Double, Long) = {
        val rows = SparkEntry.queries(q)(s, dir).count() // warm
        SparkEntry.queries(q)(s, dir).count()
        val t = (1 to 2).map(_ => timeIt(SparkEntry.queries(q)(s, dir).count())).min
        s.sharedState.cacheManager.clearCache()
        (t, rows)
      }
      val (t1, rows1) = run(base)
      val (t10, rows10) = run(stressDir)
      val timeExp = math.log10(t10 / t1)
      val rowsExp = math.log10(math.max(1, rows10).toDouble / math.max(1, rows1))
      println(f"STRESS $q t1=$t1%.2f t10=$t10%.2f rows1=$rows1 rows10=$rows10 " +
        f"timeExp=$timeExp%.2f rowsExp=$rowsExp%.2f")
      (q, t1, t10, rows1, rows10, timeExp, rowsExp)
    }

    val json = results.map { case (q, t1, t10, r1, r10, te, re) =>
      s""""$q":{"t_sf01_sec":${f"$t1%.2f"},"t_sf1_sec":${f"$t10%.2f"},""" +
        s""""rows_sf01":$r1,"rows_sf1":$r10,"time_exponent":${f"$te%.2f"},""" +
        s""""rows_exponent":${f"$re%.2f"}}"""
    }.mkString(s"""{"input_ratio":$copies,"docs_sf01":$docs1,"docs_sf1":$docs10,""", ",", "}")
    Files.writeString(Paths.get("STRESS_BENCH.json"), json)
    println(json)
  }

  /** Commit soak for the manifest table: the O(this-commit) protocol claim
    * and the EMFILE design point (`util.scala`) are argued in scaladoc;
    * this mode MEASURES them at commit-count scale. `n` real micro-batch
    * commits (each the full protocol: distributed write with observed
    * lineage → move → publish) into one table root, per-commit wall time
    * recorded; flat latency across the history = the claim, a positive
    * slope = an O(history) leak (the classic ones: manifest listing per
    * commit, stream-id rescans, commit-dir stat storms). Afterwards the
    * read-side cost at `n` commit directories is measured before and
    * after [[ManifestTable.compact]].
    *
    * Output: SOAK_BENCH.json (rendered into BENCH.md by Bench): per-decile
    * mean commit latency, first/last-thousand means (fewer when n < 1000),
    * p50/p99, the least-squares slope in µs/commit, and the read timings.
    */
  private def soak(s: SparkSession, n: Int): Unit = {
    require(n >= 10, s"soak needs at least 10 commits for its deciles, got $n")
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
      lat(i) = timeIt(ManifestTable.commitAppend(s, root, batch(i)))
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
    def mean(xs: Array[Double]) = xs.sum / xs.length
    val first1k = mean(lat.take(1000))
    val last1k = mean(lat.takeRight(1000))
    // least-squares slope of latency vs commit index, reported in µs/commit
    val xm = (n - 1) / 2.0
    val ym = lat.sum / n
    val slope = {
      var num = 0.0; var den = 0.0
      var k = 0
      while (k < n) { num += (k - xm) * (lat(k) - ym); den += (k - xm) * (k - xm); k += 1 }
      num / den * 1e6
    }

    // read amplification at n commit dirs, then compacted
    var rowsRaw, rowsCompacted = 0L
    val readRaw = timeIt { rowsRaw = ManifestTable.read(s, root).count() }
    val compactT = timeIt(ManifestTable.compact(s, root))
    val readCompacted = timeIt { rowsCompacted = ManifestTable.read(s, root).count() }
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
    Files.writeString(Paths.get("SOAK_BENCH.json"), json)
    println(json)
    try Fs.deleteRecursively(Paths.get(root))
    catch { case _: Exception => () }
    try Fs.deleteRecursively(Paths.get(warmRoot))
    catch { case _: Exception => () }
  }
}
