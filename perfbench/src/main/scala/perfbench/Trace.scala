package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One recorded span: a named interval on one thread, nested under its
  * parent span (0 = root) and tagged with the operation it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, [[span]] is a plain call; enabled,
  * it records (name, start, end, parent, operation id) per call. Spans
  * stay in memory and are written once at exit. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val opId = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Mark the calling thread as working on operation `id`. */
  def beginOp(id: Long): Unit = if (enabled) opId.set(id)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get, name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.toArray(Array.empty[Span]).toSeq

  /** Total self time (own duration minus direct children) per span name,
    * in ms. */
  def selfMs: Map[String, Double] = Tracer.selfMs(all)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }
}

/** Spark-side counters: tasks, shuffle bytes written, spill bytes, and
  * job wall time per `perfbench.tag` local property (the tag of the
  * thread that submitted the job). */
final class SparkCounters extends SparkListener {
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val jobTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val tagNs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkCounters.TagKey))).getOrElse("")
    jobTag.put(e.jobId, (tag, System.nanoTime()))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = jobTag.remove(e.jobId)
    if (started != null && started._1.nonEmpty)
      tagNs.computeIfAbsent(started._1, _ => new AtomicLong)
        .addAndGet(System.nanoTime() - started._2)
  }

  /** Wall time of finished jobs submitted under `tag`, in ms. */
  def jobMs(tag: String): Double =
    Option(tagNs.get(tag)).map(_.get / 1e6).getOrElse(0.0)
}

object SparkCounters {
  val TagKey = "perfbench.tag"
}

/** Walks executed plans (through adaptive query stages) for scan metrics. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Files the plan's file scans opened (their `numFiles` metric). */
  def filesRead(p: SparkPlan): Long =
    collect(p) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
}

/** Process-level counters (CPU, GC, JIT) and the machine's steal, sampled
  * as deltas. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  final case class Sample(wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long,
                          busyTicks: Long, stealTicks: Long)

  /** (busy, steal) ticks of all CPUs of the machine from the first line
    * of Linux's `/proc/stat`; (0, 0) where it cannot be read. Busy is
    * user + nice + system + irq + softirq; steal is the time the
    * hypervisor held a runnable virtual CPU back for other guests. */
  def hostTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case e: Exception if scala.util.control.NonFatal(e) => (0L, 0L) }

  /** Share of the runnable CPU time between two samples that the
    * hypervisor kept back (steal / (busy + steal)); 0 without steal.
    * A section that ran for `wall` seconds would have taken about
    * `wall * (1 - share)` had nothing been stolen: exactly so when the
    * section runs on one CPU at a time or on all of them alike. */
  def stealShare(a: Sample, b: Sample): Double = {
    val busy = b.busyTicks - a.busyTicks
    val steal = b.stealTicks - a.stealTicks
    if (steal <= 0 || busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }

  def sample(): Sample = {
    import scala.jdk.CollectionConverters._
    val cpu = os match {
      case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
      case _ => 0L
    }
    val (busy, steal) = hostTicks()
    Sample(System.nanoTime(), cpu,
      gcs.asScala.map(g => math.max(0L, g.getCollectionTime)).sum,
      if (jit != null && jit.isCompilationTimeMonitoringSupported)
        jit.getTotalCompilationTime else 0L, busy, steal)
  }

  /** Process costs between two samples. */
  final case class Delta(cpuMs: Double, gcMs: Double, jitMs: Double, cpuUtil: Double,
                         stealShare: Double)

  def delta(a: Sample, b: Sample): Delta = {
    val wall = math.max(1L, b.wallNs - a.wallNs).toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    Delta((b.cpuNs - a.cpuNs) / 1e6, (b.gcMs - a.gcMs).toDouble,
      (b.jitMs - a.jitMs).toDouble, (b.cpuNs - a.cpuNs) / (wall * cores),
      stealShare(a, b))
  }

  /** Used heap in MB after full collections: the least of several, so
    * objects freed by reference processing between cycles (Spark's
    * context cleaner) are not counted. */
  def liveHeapMb(): Double = {
    val r = Runtime.getRuntime
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      (r.totalMemory - r.freeMemory) / (1024.0 * 1024.0)
    }.min
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
