package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Counts what a block of driver code ran on Spark, for tests that pin a
  * plan's cost in jobs, stages, tasks and shuffle bytes.
  */
object JobCensus {

  final case class Counts(jobs: Int, stages: Int, tasks: Int, shuffleBytes: Long, writers: Int)

  /** Jobs, stages, finished tasks, shuffle bytes (read + written) and tasks
    * that wrote at least one output record, that `body` ran.
    */
  def of(spark: SparkSession)(body: => Unit): Counts = {
    val sc = spark.sparkContext
    val drain = "census-drain"
    val jobs, stages, drained = ConcurrentHashMap.newKeySet[Int]()
    val tasks, writers = new AtomicInteger()
    val shuffle = new AtomicLong()
    def counted(props: java.util.Properties) =
      props == null || props.getProperty("spark.jobGroup.id") != drain
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e.properties)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { drained.add(e.jobId); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (counted(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          if (e.taskMetrics != null) {
            shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
              e.taskMetrics.shuffleReadMetrics.totalBytesRead)
            if (e.taskMetrics.outputMetrics.recordsWritten > 0) writers.incrementAndGet()
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
      Counts(jobs.size, stages.size, tasks.get, shuffle.get, writers.get)
    } finally sc.removeSparkListener(l)
  }
}
