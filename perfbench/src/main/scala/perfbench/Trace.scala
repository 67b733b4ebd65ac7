package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-level clocks: wall, process CPU, GC and JIT time. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def wallNs: Long = System.nanoTime()
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  def heapMaxMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}

/** Work Spark did while one span was current. */
final class SpanCounters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskCpuNs = 0L
  @volatile var taskRunMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
}

/** One finished span: name, start/end (ns), parent name, project id, and
  * the work Spark attributed to it. */
final case class Span(
    name: String, parent: String, project: String,
    startNs: Long, endNs: Long, cpuNs: Long, counters: SpanCounters, rows: Long, bytes: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-owned listener: every job and task is charged to the span
  * that was current when the job started. Spans are kept in memory and
  * written out when the run ends. */
final class Tracer extends SparkListener {
  private val current = new AtomicReference[SpanCounters](null)
  private val byStage = new ConcurrentHashMap[Int, SpanCounters]()
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  /** Counts taken outside any span's time. */
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  /** Highest heap in use seen at a span's end. */
  var heapPeakMb = 0.0
  private var stack: List[String] = Nil

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = current.get()
    if (c != null) {
      c.jobs += 1
      e.stageIds.foreach(s => byStage.put(s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) c.synchronized {
      c.tasks += 1
      c.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      c.taskRunMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Time `body` as span `name`, a child of the span open around it.
    * `measure` forces the span's output and reports its (rows, bytes); it
    * runs inside the span. */
  def span[T](spark: org.apache.spark.sql.SparkSession, name: String, project: String)(
      body: => T)(measure: T => (Long, Long)): T = {
    val c = new SpanCounters
    val prev = current.getAndSet(c)
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val w0 = Clock.wallNs; val c0 = Clock.cpuNs
    try {
      val out = body
      val (rows, bytes) = measure(out)
      val w1 = Clock.wallNs; val c1 = Clock.cpuNs
      heapPeakMb = math.max(heapPeakMb, Clock.heapUsedMb)
      // listener events arrive asynchronously: let the span's jobs and
      // tasks land before the span stops collecting them
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spans += Span(name, parent, project, w0, w1, c1 - c0, c, rows, bytes)
      out
    } finally {
      stack = stack.tail
      current.set(prev)
    }
  }
}
