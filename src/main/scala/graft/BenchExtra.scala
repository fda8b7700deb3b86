package graft

import org.apache.spark.sql.SparkSession

/** Round-6 optimization harness — measurement only, never the driver
  * contract (that is [[Bench]], frozen). Three modes:
  *
  *   time <sfDir> <query...>     bench-protocol timing (2 untimed warmups,
  *                               best of 2 timed counts, cache cleared per
  *                               query) in a session configured EXACTLY like
  *                               Bench's (AQE on, 32 shuffle partitions,
  *                               48m splits) so numbers are comparable.
  *   noop <sfDir> <query...>     same protocol but timed through the noop
  *                               sink (guide §1.4): forces every column of
  *                               every row, isolates compute from count's
  *                               column pruning.
  *   explain <sfDir> <out> <q...> write .explain("formatted") of each query
  *                               to <out>/<query>_<tag>.txt (tag = last
  *                               arg convention handled by caller naming).
  *   jobs <sfDir> <query...>     run each query once (after one warmup) and
  *                               report how many Spark jobs + stages it
  *                               launched — the fixed-overhead census that
  *                               explains multi-second timings on KB-sized
  *                               tables.
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

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: BenchExtra <time|noop|explain|jobs> <sfDir> [outDir] <query...>")
    val mode = args(0)
    val sfDir = args(1)
    val s = session()
    sources.Corpus.pages(s, sfDir).count()
    mode match {
      case "time" | "noop" =>
        def run(name: String): Unit =
          if (mode == "time") { SparkEntry.queries(name)(s, sfDir).count(); () }
          else SparkEntry.queries(name)(s, sfDir)
            .write.format("noop").mode("overwrite").save()
        for (name <- args.drop(2)) {
          s.sparkContext.setJobDescription(s"warmup: $name")
          run(name); run(name)
          s.sparkContext.setJobDescription(s"timed: $name")
          val t = (1 to 2).map(_ => timeIt(run(name))).min
          s.sharedState.cacheManager.clearCache()
          println(f"QUERY_${mode.toUpperCase} $name $t%.3f")
        }
      case "explain" =>
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        for (spec <- args.drop(3)) {
          // spec = "<query>:<filename>" or just "<query>" (file <query>.txt)
          val (name, file) = spec.split(":", 2) match {
            case Array(q, f) => (q, f)
            case Array(q)    => (q, s"$q.txt")
          }
          val df = SparkEntry.queries(name)(s, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(file), plan)
          s.sharedState.cacheManager.clearCache()
          println(s"EXPLAIN_WRITTEN $name -> ${outDir.resolve(file)}")
        }
      case "trace" =>
        val sc = s.sparkContext
        for (name <- args.drop(2)) {
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
        for (name <- args.drop(2)) {
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
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    s.stop()
  }
}
