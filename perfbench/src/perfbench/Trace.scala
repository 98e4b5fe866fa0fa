package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for harness spans and Spark event times: epoch milliseconds
  * with nanosecond resolution, anchored once so differences are exact. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Process-level counters read at span boundaries. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** Janino compiles so far and their summed time. The histogram keeps
    * every sample until it holds 1028; past that the sum is estimated
    * from the mean. */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum = if (n == snap.size) snap.getValues.sum.toDouble else snap.getMean * n
    (n, sum)
  }

  /** Heap still live after a full collection, in MB. The pause between
    * collections lets Spark's cleaner drop blocks whose owners the first
    * collection found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** A harness span: a timed call into one layer. `parent` is -1 for a
  * top-level span. `extra` carries the counters read at its boundaries. */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startMs: Double, endMs: Double, extra: Map[String, Double]) {
  def ms: Double = endMs - startMs
}

final case class TaskRec(finishMs: Long, cpuNs: Long, inBytes: Long,
    shuffleWrite: Long, spill: Long, written: Long)

/** Listener state. Spark delivers events on its listener bus thread, so
  * every collection here is concurrent; events are attributed to harness
  * spans by their timestamps once the bus has drained. */
final class Events extends SparkListener with QueryExecutionListener {
  @volatile var detail = false
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[(Long, Long)]()
  val jobs = new ConcurrentLinkedQueue[Long]()
  /** (phase, start ms, end ms) from each finished query's planning tracker. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val markerJobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val markerSeen = new AtomicLong(0)
  private var markerNext = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.taskInfo.finishTime,
      if (detail) m.executorCpuTime else 0L,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten + m.shuffleWriteMetrics.bytesWritten +
        m.diskBytesSpilled))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stages.add((s, c))
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val marker = Option(e.properties).flatMap(p => Option(p.getProperty(Events.Marker)))
    marker match {
      case Some(m) => markerJobs.put(e.jobId, m.toLong)
      case None => if (detail) jobs.add(e.time)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)).foreach(m => markerSeen.set(m))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detail) qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs, p.endTimeMs))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Block until every event posted before now has been delivered: run a
    * one-task marker job and wait for its end event, which the shared
    * listener queue delivers after all earlier events. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markerNext += 1
    sc.setLocalProperty(Events.Marker, markerNext.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Events.Marker, null)
    val deadline = System.currentTimeMillis() + 30000
    while (markerSeen.get < markerNext && System.currentTimeMillis() < deadline)
      Thread.sleep(1)
  }
}

object Events {
  val Marker = "perfbench.marker"
}

/** Harness spans plus the listener. Spans stay in memory; everything is
  * summarized after the timed region. */
final class Recorder(spark: SparkSession) {
  val events = new Events
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  /** True inside a traced pass: spans then also read per-span counters. */
  var detail = false
  private val marks = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  spark.sparkContext.addSparkListener(events)
  spark.listenerManager.register(events)

  def setDetail(on: Boolean): Unit = { detail = on; events.detail = on }

  /** Time `body` as a span named `name`. Nested calls become children. */
  def span[T](name: String, label: String = "")(body: => T): T = {
    val parent = stack.headOption.getOrElse(-1)
    val id = spans.length
    spans += null
    stack = id :: stack
    val c0 = if (detail) counters() else Map.empty[String, Double]
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      val c1 = if (detail) counters() else Map.empty[String, Double]
      stack = stack.tail
      spans(id) = Span(id, parent, name, label, t0, t1,
        c1.map { case (k, v) => k -> (v - c0(k)) } ++ marks.remove(id).getOrElse(Map.empty))
    }
  }

  /** Attach a figure (a result size, a file count) to the open span. */
  def mark(key: String, value: Double): Unit =
    stack.headOption.foreach(id => marks(id) = marks.getOrElse(id, Map.empty) + (key -> value))

  private def counters(): Map[String, Double] = {
    val (n, ms) = Jvm.codegen
    Map("codegen.compiles" -> n.toDouble, "codegen.ms" -> ms,
      "cpu_s" -> Jvm.cpuNs / 1e9, "gc_ms" -> Jvm.gcMs.toDouble,
      "jit_ms" -> Jvm.jitMs.toDouble)
  }

  def childrenOf(s: Span): Seq[Span] = spans.iterator.filter(_.parent == s.id).toSeq
  def descendants(s: Span): Seq[Span] = {
    def under(x: Span): Boolean =
      x.parent >= 0 && (x.parent == s.id || under(spans(x.parent)))
    spans.iterator.filter(under).toSeq
  }
  def within(s: Span, name: String): Seq[Span] = descendants(s).filter(_.name == name)

  def tasksIn(s: Span): Seq[TaskRec] =
    events.tasks.asScala.filter(t => t.finishMs >= s.startMs && t.finishMs <= s.endMs + 1).toSeq
}

/** Interval arithmetic for self time and stage coverage. */
object Intervals {
  /** Total length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
