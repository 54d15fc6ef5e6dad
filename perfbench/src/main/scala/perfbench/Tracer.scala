package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters the benchmark's own SparkListener keeps for the whole session. */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val busyMs = new AtomicLong
  val schedMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val scanBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      busyMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      schedMs.addAndGet(math.max(0L, e.taskInfo.duration - overhead))
    }
  }

  def snapshot: Vector[Long] =
    Vector(jobs, stages, tasks, busyMs, schedMs, shuffleBytes, spillBytes,
      scanBytes).map(_.get)
}

/** Per-trigger phase durations of every streaming query in the session. */
final class StreamProbe extends StreamingQueryListener {
  val triggers = new AtomicLong
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      triggers.incrementAndGet()
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        sums.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v.longValue)
      }
    }

  /** Mean milliseconds per trigger of one progress phase. */
  def meanMs(phase: String): Double = {
    val n = triggers.get
    if (n == 0) 0.0 else Option(sums.get(phase)).map(_.get).getOrElse(0L).toDouble / n
  }
}

/** JVM collector time and heap peak over the timed phase. */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Spans recorded in the benchmark's own code around each call into a
  * layer, kept in memory and written out once at exit. An op is the root
  * span; its children are the facade call (construct), planning, the action
  * and the answer check. Spark counters are attributed to an op by draining
  * the listener bus at its start and end. */
final class Tracer(spark: SparkSession) {
  val probe = new SparkProbe
  val streams = new StreamProbe
  spark.sparkContext.addSparkListener(probe)
  spark.streams.addListener(streams)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1
  private var opCount = 0
  private val timedOps = mutable.Set.empty[Int]
  /** Per timed op: construct-time jobs followed by the SparkProbe deltas. */
  val opCounters = mutable.ArrayBuffer.empty[Vector[Long]]
  private var constructJobs = 0L
  /** Session-cache keys that appeared during timed ops. */
  var cacheBuilds = 0L

  private def cacheKeys: Long =
    graft.core.Catalog.cacheStats(spark).collect().length.toLong

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  def op[A](kind: String, timed: Boolean)(body: => A): A = {
    val keys0 = cacheKeys
    drain()
    val before = probe.snapshot
    currentOp = opCount
    opCount += 1
    constructJobs = 0L
    if (timed) timedOps += currentOp
    try span(kind, "bench")(body)
    finally {
      drain()
      val delta = probe.snapshot.zip(before).map { case (a, b) => a - b }
      if (timed) {
        opCounters += (constructJobs +: delta)
        cacheBuilds += cacheKeys - keys0
      }
      currentOp = -1
    }
  }

  def span[A](name: String, layer: String, countJobs: Boolean = false)
             (body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val jobs0 = if (countJobs) { drain(); probe.jobs.get } else 0L
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, currentOp, name, layer, t0, t1)
      if (countJobs) { drain(); constructJobs += probe.jobs.get - jobs0 }
    }
  }

  def spanCount: Int = spans.size

  /** Self time (duration minus the part covered by child spans) per layer,
    * summed over the spans of timed ops. */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.endNs - s.startNs)
    spans.filter(s => timedOps(s.op))
      .groupBy(_.layer)
      .map { case (layer, ss) =>
        layer -> ss.map(s => (s.endNs - s.startNs - childMs(s.id)) / 1e6).sum
      }
  }

  def timedOpCount: Int = timedOps.size

  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","layer":"${s.layer}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}
