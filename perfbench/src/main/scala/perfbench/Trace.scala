package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer, recorded by the benchmark around the public
  * function it calls. Spans of one benchmark run share `run`.
  */
final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages and per-task metrics. */
final class SparkWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** task durations (ms) per stage id, for the straggler ratio */
  val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    o.taskMs.foreach { case (st, ds) => taskMs.getOrElseUpdate(st, ArrayBuffer.empty) ++= ds }
  }

  /** Task times of the stage with the most task time: the scan/kernel stage
    * of a map-only job, not a file-listing stage with many short tasks.
    */
  def busiestStage: Seq[Long] =
    if (taskMs.isEmpty) Seq.empty else taskMs.values.maxBy(_.sum).toSeq
}

/** Records spans in memory and, through a [[SparkListener]], attributes
  * every job, stage and task to the span that was open when its job was
  * submitted. When `enabled` is false, [[span]] only runs its body: the
  * untraced runs pay nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean, run: String) extends SparkListener {
  private val PropKey = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val endedJobs = ConcurrentHashMap.newKeySet[Int]()

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), run, System.nanoTime(), 0L)
      spans += s
      open = s :: open
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(PropKey, open.headOption.fold(null: String)(_.id.toString))
      }
    }

  private def workOf(spanId: Int): SparkWork = work.computeIfAbsent(spanId, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt)
    id.foreach { s =>
      e.stageIds.foreach(st => stageSpan.put(st, s))
      val w = workOf(s)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { endedJobs.add(e.jobId); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val w = workOf(s)
      w.synchronized(w.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val w = workOf(s)
      w.synchronized {
        w.tasks += 1
        if (e.taskInfo.failed) w.failedTasks += 1
        w.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Waits until the listener has seen every event posted so far: the bus
    * delivers in order, so the end of one marker job implies all earlier
    * task, stage and job events were delivered.
    */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(PropKey, null)
    sc.setJobGroup("perfbench.drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench.drain").max
    val deadline = System.nanoTime() + 30000000000L
    while (!endedJobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
    require(endedJobs.contains(marker), "listener events did not drain within 30 s")
    open.headOption.foreach(s => sc.setLocalProperty(PropKey, s.id.toString))
  }

  def all: Seq[Span] = spans.toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Spark work of a span and everything under it. */
  def workUnder(s: Span): SparkWork = {
    val out = new SparkWork
    def go(x: Span): Unit = {
      Option(work.get(x.id)).foreach(w => w.synchronized(out.add(w)))
      children(x).foreach(go)
    }
    go(s)
    out
  }

  /** Child of `s` with this name (the last one, if called more than once). */
  def child(s: Span, name: String): Span =
    children(s).filter(_.name == name).lastOption
      .getOrElse(throw new NoSuchElementException(s"no span $name under ${s.name}"))

  /** Spans as JSON lines: name, start, end, parent, run id, self time. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.run}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(this)
}
