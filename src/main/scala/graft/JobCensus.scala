package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Counts what a block of driver code ran on Spark: the engine's one
  * `SparkListener`. Tests pin a plan's cost with it, and BenchExtra `jobs`
  * reports it per query. Job counts do not depend on host load, so they
  * guard a plan where a wall-clock timing cannot.
  */
object JobCensus {

  /** One job `body` ran: wall ms between its start and end events' own
    * timestamps, and its `spark.job.description`, else its call site
    * (`callSite.short`, else its final stage's name, which Spark takes
    * from the call site).
    */
  final case class Job(id: Int, wallMs: Long, description: String)

  /** Jobs, stages, finished tasks, shuffle bytes (read + written), tasks
    * that wrote at least one output record, spill bytes (memory + disk),
    * task GC ms, and each job in id order.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, shuffleBytes: Long, writers: Int,
      spillBytes: Long, gcMs: Long, perJob: Seq[Job])

  /** Runs `body` with `spark.job.description` set to `description`, so
    * every job it submits carries it: AQE submits its query-stage and
    * broadcast jobs from its own threads, which copy the caller's local
    * properties. The caller's description is restored after.
    */
  private val JobDescription = "spark.job.description"

  def described[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(description)
    try body finally sc.setLocalProperty(JobDescription, before)
  }

  def of(spark: SparkSession)(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val drain = "census-drain"
    val stages, drained = ConcurrentHashMap.newKeySet[Int]()
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentHashMap[Int, Job]()
    val tasks, writers = new AtomicInteger()
    val shuffle, spill, gc = new AtomicLong()
    def counted(props: java.util.Properties) =
      props == null || props.getProperty("spark.jobGroup.id") != drain
    def described(e: SparkListenerJobStart) = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobDescription)).orElse(Option(p.getProperty("callSite.short"))))
      .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
      .getOrElse("?")
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e.properties)) { started.put(e.jobId, (e.time, described(e))); () }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(started.get(e.jobId)).foreach { case (t0, d) => ended.put(e.jobId, Job(e.jobId, e.time - t0, d)) }
        drained.add(e.jobId); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (counted(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          val m = e.taskMetrics
          if (m != null) {
            shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
            spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            gc.addAndGet(m.jvmGCTime)
            if (m.outputMetrics.recordsWritten > 0) writers.incrementAndGet()
          }
          ()
        }
    }
    sc.addSparkListener(l)
    try {
      body
      // listener events arrive in order: once a marker job's end is seen,
      // every event of `body` has been seen too
      sc.setJobGroup(drain, drain)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val marker = sc.statusTracker.getJobIdsForGroup(drain).max
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!drained.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      if (!drained.contains(marker))
        throw new IllegalStateException("listener events did not drain within 30 s")
      Counts(started.size, stages.size, tasks.get, shuffle.get, writers.get, spill.get, gc.get,
        ended.values.asScala.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(l)
  }
}
