package graft.bench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * taken from `System.nanoTime` against a fixed base so they line up with
  * Spark listener event times.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, runId: String)

/** In-memory span recorder around the benchmark's calls into the engine.
  * Spans nest by call order (single driver thread); they are kept only
  * when `keep` is set and written out with the result at the end of a run.
  */
final class Tracer(val runId: String, val keep: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var nextId = 0

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Run `body` inside a span; returns its result and its seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = nowMs
    try {
      val r = body
      val t1 = nowMs
      if (keep) spans += Span(id, parent, name, t0, t1, runId)
      (r, (t1 - t0) / 1e3)
    } finally stack = stack.tail
  }

  def all: Seq[Span] = spans.toSeq
}

/** Spark-side counters for the traced run: per-task metrics, job spans and
  * root SQL executions, each with its epoch-millisecond times so they can
  * be attributed to the benchmark's own spans by time window.
  */
final class SparkRecorder extends SparkListener {
  import SparkRecorder._

  private val tasks = ArrayBuffer[Task]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val jobs = ArrayBuffer[Interval]()
  private val execStart = scala.collection.mutable.Map[Long, Long]()
  private val execs = ArrayBuffer[Interval]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Task(t.taskInfo.finishTime, t.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStart(j.jobId) = j.time
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(s => jobs += Interval(j.jobId, s, j.time))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      // root executions only: a write's nested query executions belong to it
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        execStart(s.executionId) = s.time
      case x: SparkListenerSQLExecutionEnd =>
        execStart.remove(x.executionId)
          .foreach(s => execs += Interval(x.executionId, s, x.time))
      case _ =>
    }
  }

  def tasksIn(t0: Double, t1: Double): Seq[Task] = synchronized {
    tasks.filter(t => t.endMs >= t0 && t.endMs <= t1).toSeq
  }
  def jobsIn(t0: Double, t1: Double): Seq[Interval] = synchronized {
    jobs.filter(j => j.startMs >= t0 && j.startMs <= t1).sortBy(_.startMs).toSeq
  }
  def execsIn(t0: Double, t1: Double): Seq[Interval] = synchronized {
    execs.filter(x => x.startMs >= t0 && x.startMs <= t1).sortBy(_.startMs).toSeq
  }
}

object SparkRecorder {
  final case class Task(endMs: Long, durMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, shuffleRows: Long, spillBytes: Long)
  final case class Interval(id: Long, startMs: Long, endMs: Long)

  /** Wall milliseconds covered by the union of `intervals`. */
  def coveredMs(intervals: Seq[Interval]): Double = {
    var covered = 0L
    var end = Long.MinValue
    intervals.sortBy(_.startMs).foreach { i =>
      val s = math.max(i.startMs, end)
      if (i.endMs > s) covered += i.endMs - s
      end = math.max(end, i.endMs)
    }
    covered.toDouble
  }

  /** Block until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.graftshim.ListenerBridge.drain(sc)
}

/** `/proc/stat` CPU counters: steal and iowait shares of all CPU time
  * between two samples. Reads as zero where `/proc/stat` is absent.
  */
object HostStat {
  final case class Cpu(total: Long, iowait: Long, steal: Long) {
    def -(o: Cpu): Cpu = Cpu(total - o.total, iowait - o.iowait, steal - o.steal)
    def stealPct: Double = if (total <= 0) 0.0 else 100.0 * steal / total
    def iowaitPct: Double = if (total <= 0) 0.0 else 100.0 * iowait / total
  }

  def read(): Cpu =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice];
      // guest time is already inside user/nice
      Cpu(f.take(8).sum, f(4), f(7))
    } catch { case _: Exception => Cpu(0, 0, 0) }
}

/** Driver JVM heap in use after each garbage collection: `peakMb` is the
  * largest such reading since the last `reset`. Live data after a
  * collection, unlike raw heap use, does not depend on when the collector
  * happened to run.
  */
final class HeapMonitor {
  @volatile private var peak = 0L
  private val listener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
        .map(_.getUsed).sum
      synchronized { if (used > peak) peak = used }
    }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: javax.management.NotificationEmitter => b }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  /** Collect once more, so the peak covers the state left at the end. */
  def peakMb: Double = {
    System.gc()
    Thread.sleep(50) // notifications arrive on their own thread
    val bytes: Long = synchronized { peak }
    bytes / (1024.0 * 1024.0)
  }
  def stop(): Unit = beans.foreach(_.removeNotificationListener(listener))
}
