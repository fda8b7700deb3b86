package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Largest heap occupancy seen just before a garbage collection (where
  * occupancy peaks), from the JVM's collection notifications.
  */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  @volatile private var peak = 0L
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageBeforeGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Stops listening; returns the peak in bytes. */
  def close(): Long = {
    emitters.foreach(_.removeNotificationListener(this))
    synchronized(math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed))
  }
}

/** Steal time: CPU time the hypervisor gave to other guests while this
  * machine's CPUs wanted it, summed over CPUs, from the `cpu` line of
  * `/proc/stat`. Reads 0 where the file or the field is missing.
  */
object Steal {
  private val stat = Paths.get("/proc/stat")
  private val cpus = math.max(1, Runtime.getRuntime.availableProcessors)

  private def lines: Seq[String] =
    try java.nio.file.Files.readAllLines(stat).asScala.toSeq catch { case _: java.io.IOException => Seq.empty }

  /** CPUs the steal counter sums over. */
  private val machineCpus = math.max(cpus, lines.count(_.matches("cpu[0-9]+ .*")))

  /** Cumulative steal, in CPU-seconds (the kernel counts USER_HZ = 100 ticks a second). */
  def seconds(): Double =
    lines.headOption.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)

  /** Share of the machine's CPU time stolen over `wall` seconds. */
  def share(stolen: Double, wall: Double): Double = stolen / math.max(1e-9, wall * machineCpus)
}

/** One benchmark JVM. `run.py` starts it; it prints one
  * `PERFBENCH_RESULT {json}` line.
  *
  * Roles:
  *   - `main`: set up the workload's inputs (three times when untraced,
  *     for a median set-up time), warm up, then run units as a closed loop
  *     for the time budget. Traced, untraced and traced units alternate,
  *     then the single-threaded probes run.
  *   - `leg`: load the inputs the main JVM left and run untraced units at
  *     another thread count, for the scaling ratio.
  *
  * The host is shared, and while the hypervisor runs other guests on this
  * machine's CPUs (steal time) every unit slows. The measured loop
  * therefore counts only units with less than [[MaxSteal]] steal towards
  * its time budget and reports the median of those units; it may overrun
  * its budget by at most [[MaxExtraSeconds]].
  */
object Main {
  final val MinUnits = 3
  final val MaxUnits = 200
  final val UntracedSetups = 3
  /** A unit with a larger share of the machine's CPU time stolen is not
    * counted as measured.
    */
  final val MaxSteal = 0.02
  /** Wall time a loop may add to its budget to replace units with steal. */
  final val MaxExtraSeconds = 5.0

  /** Per-layer metric names and units. A workload reports 0 for a layer it
    * does not call.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s",
    "sources.decode_s" -> "s",
    "operators.ExtractKernel.extract_s" -> "s",
    "operators.ExtractKernel.tasks" -> "count",
    "operators.ExtractKernel.task_max_over_median" -> "ratio") ++
    Seq("unwrap", "sniff", "charset").map(k => s"functions.$k.ns_per_byte" -> "ns/B") ++
    KernelProbe.Formats.map(f => s"functions.$f.ns_per_byte" -> "ns/B") ++ Seq(
    "functions.html.p99_us" -> "us",
    "functions.pdf.p99_us" -> "us",
    "functions.mb_per_s_1core" -> "MB/s",
    "sources.ManifestTable.stage_s" -> "s",
    "sources.ManifestTable.stats_s" -> "s",
    "sources.ManifestTable.move_s" -> "s",
    "sources.ManifestTable.publish_s" -> "s",
    "sources.ManifestTable.bytes_per_input_byte" -> "ratio",
    "sources.ManifestTable.files" -> "count",
    "sources.WarcReader.read_s" -> "s",
    "sources.WarcReader.parse_ns_per_byte" -> "ns/B",
    "sources.WarcReader.gunzip_ns_per_byte" -> "ns/B",
    "sources.WarcReader.tasks" -> "count",
    "sources.WarcReader.task_max_over_median" -> "ratio",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.gc_share" -> "ratio",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_share" -> "ratio",
    "trace.unattributed_share" -> "ratio")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def session(threads: Int, work: Path): SparkSession = {
    // Spark defaults for everything the engine could tune (split size,
    // shuffle partitions, AQE); only the thread count and where scratch
    // files go are set here, plus UTC so day partitions do not depend on
    // the host's zone.
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val role = a("role")
    val work = Paths.get(a("work")).toAbsolutePath
    val inputs = work.resolve("inputs")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val spark = session(a("threads").toInt, work)
    val w = Workload(a("workload"), Ctx(spark, work, a("seed").toLong, a("scale").toDouble))
    val off = new Tracer(spark.sparkContext, enabled = false, a("workload"))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    var check = Check(0, 0)
    var next = 0

    /** Closed loop: the next unit starts when the previous one ended. It
      * runs `min` units if `budget` is 0. Otherwise it runs until its units
      * with little steal add up to `budget` seconds and number at least
      * `min`, or `budget` + [[MaxExtraSeconds]] have passed, and returns the
      * times of those units or, if fewer than `min` had little steal, of the
      * half of all units with the least.
      */
    def loop(budget: Double, tr: Tracer, min: Int = MinUnits)(each: (Int, Span) => Unit): Seq[Double] = {
      val units = mutable.ArrayBuffer.empty[(Double, Double)] // (seconds, steal share)
      def clean = units.filter(_._2 < MaxSteal).map(_._1)
      val t0 = System.nanoTime()
      val cap = if (budget > 0) budget + MaxExtraSeconds else 0.0
      while (units.size < min || (units.size < MaxUnits &&
          (clean.size < min || clean.sum < budget) && (System.nanoTime() - t0) / 1e9 < cap)) {
        val i = next
        next += 1
        val s0 = Steal.seconds()
        val t = timed(tr.span("unit")(w.unit(i, tr)))
        units += t -> Steal.share(Steal.seconds() - s0, t)
        println(f"unit $i%d $t%.3f s steal ${units.last._2 * 100}%.1f%%")
        check += w.after(i)
        tr.drain()
        each(i, tr.all.filter(_.parent == -1).lastOption.orNull)
        if (i > 0) w.discard(i - 1)
      }
      if (budget == 0) units.map(_._1).toSeq
      else if (clean.size >= min) clean.toSeq
      else {
        println(s"only ${clean.size} of ${units.size} units had steal below $MaxSteal; using the least-stolen half")
        units.sortBy(_._2).take(math.max(1, (units.size + 1) / 2)).map(_._1).toSeq
      }
    }

    if (role == "main") {
      val setups = (1 to (if (traced) 1 else UntracedSetups)).map { k =>
        Inputs.deleteTree(inputs)
        val t = timed(w.setup(inputs))
        println(f"setup $k%d $t%.3f s")
        t
      }
      w.load(inputs)
      loop(0, off, min = w.warmUnits)((_, _) => ()) // warm-up: JIT, codegen, page cache
      if (!traced) {
        val times = loop(seconds, off)((_, _) => ())
        out("pages_per_s") = (w.pagesPerUnit / median(times), "1/s")
        out("setup_s") = (median(setups), "s")
      } else {
        // untraced and traced units alternate, so both sample the same
        // stretch of the run and their difference is the tracing overhead
        val tr = new Tracer(spark.sparkContext, enabled = true, s"${a("workload")}-${a("seed")}")
        val heap = new HeapPeak
        val plain = mutable.ArrayBuffer.empty[Double]
        val perUnit = mutable.ArrayBuffer.empty[Map[String, Double]]
        val t0 = System.nanoTime()
        while (perUnit.size < MinUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
          plain ++= loop(0, off, min = 1)((_, _) => ())
          loop(0, tr, min = 1) { (i, root) =>
            tr.all.filter(_.startNs >= root.startNs).foreach(s =>
              println(f"span ${s.name} ${s.seconds}%.3f s self ${tr.selfSeconds(s)}%.3f s"))
            val unitSpan = w.unitSpan(tr, root)
            val sw = tr.workUnder(unitSpan)
            perUnit += w.layers(tr, root, i) ++ Map(
              "_unit_s" -> unitSpan.seconds,
              "spark.jobs" -> sw.jobs.toDouble,
              "spark.stages" -> sw.stages.toDouble,
              "spark.tasks" -> sw.tasks.toDouble,
              "spark.failed_tasks" -> sw.failedTasks.toDouble,
              "spark.shuffle_write_bytes" -> sw.shuffleWriteBytes.toDouble,
              "spark.shuffle_read_bytes" -> sw.shuffleReadBytes.toDouble,
              "spark.spill_bytes" -> sw.spillBytes.toDouble,
              "spark.gc_share" -> sw.gcMs.toDouble / math.max(1L, sw.runMs))
          }
        }
        val heapPeakMb = heap.close() / 1e6
        tr.close()
        tr.write(work.getParent.resolve("traces").resolve(s"${a("workload")}-seed${a("seed")}.jsonl"))
        val layerMedians = perUnit.head.keys.map(k => k -> median(perUnit.map(_(k)).toSeq)).toMap
        val plainMedian = median(plain.toSeq)
        val probes = w.probe()
        val all = layerMedians ++ probes ++ Map(
          "jvm.heap_peak_mb" -> heapPeakMb,
          "trace.overhead_share" -> (layerMedians("_unit_s") - plainMedian) / plainMedian)
        PerLayer.foreach { case (k, unit) => out(k) = (all.getOrElse(k, 0.0), unit) }
        out("_pages_per_s") = (w.pagesPerUnit / plainMedian, "1/s")
      }
      val checkS = timed(check += w.finalCheck(next - 1, corrupt = a.get("corrupt").contains("1")))
      println(f"final check $checkS%.3f s")
    } else {
      w.load(inputs)
      // fewer task threads leave cores to the JIT, so it warms sooner
      loop(0, off, min = w.warmUnits / 4)((_, _) => ())
      val times = loop(seconds, off)((_, _) => ())
      out("_pages_per_s") = (w.pagesPerUnit / median(times), "1/s")
    }
    w.discard(next - 1)
    spark.stop()

    val metrics = out.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""PERFBENCH_RESULT {"attempted": ${check.expected}, "failed": ${check.failed}, "metrics": $metrics}""")
  }
}
