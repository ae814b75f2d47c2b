package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are ns on the `System.nanoTime` clock;
  * `parent` is the id of the span that caused it (0 = none) and `req`
  * the request it belongs to ("" = not attributable). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                      parent: Long, req: String)

/** In-memory span store, written once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  def add(name: String, startNs: Long, endNs: Long, parent: Long = 0,
          req: String = ""): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, name, startNs, endNs, parent, req))
    id
  }
  /** Run `body` inside a span; returns its result and its ms. */
  def timed[T](name: String, req: String = "")(body: => T): (T, Double) = {
    val s = System.nanoTime()
    val out = body
    val e = System.nanoTime()
    add(name, s, e, 0, req)
    (out, (e - s) / 1e6)
  }
  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)
}

/** One request as the server's `Perf` hook reported it: the trace
  * prefix, per-stage ms, whether the tile cache answered, and when the
  * record was completed (ns). */
final case class PerfRecord(prefix: String, stages: Seq[(String, Double)],
                            cacheHit: Boolean, endNs: Long) {
  def totalMs: Double = stages.map(_._2).sum
}

/** Captures `Perf.sink` lines in memory. Each request is served on one
  * pool thread from its first line to its "total" line, so lines are
  * grouped per thread. */
final class PerfCapture {
  private val Stage = """\[perf\] (.+) (\w+): took ([0-9.]+)ms""".r
  private val open = new java.util.concurrent.ConcurrentHashMap[Long,
    (scala.collection.mutable.ArrayBuffer[(String, Double)], Array[Boolean])]()
  val records = new ConcurrentLinkedQueue[PerfRecord]()

  def sink(line: String): Unit = {
    val now = System.nanoTime()
    val tid = Thread.currentThread().getId
    val (stages, hit) = open.computeIfAbsent(tid, _ =>
      (scala.collection.mutable.ArrayBuffer.empty[(String, Double)],
        Array(false)))
    line match {
      case Stage(prefix, "total", _) =>
        records.add(PerfRecord(prefix, stages.toList, hit(0), now))
        open.remove(tid)
      case Stage(_, stage, ms) => stages += ((stage, ms.toDouble))
      case l if l.endsWith(": cache hit") => hit(0) = true
      case _ =>
    }
  }
}

/** Spark-side accounting: jobs with their intervals, and summed task
  * metrics. Listener events arrive asynchronously; read after a drain. */
final class SparkMeter extends SparkListener {
  final case class Job(id: Int, startNs: Long, var endNs: Long)
  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val clockSkew = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleRead = new AtomicLong()
  val shuffleWrite = new AtomicLong()
  val spill = new AtomicLong()

  private def nano(ms: Long): Long = ms * 1000000L + clockSkew

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsById.put(e.jobId, Job(e.jobId, nano(e.time), -1))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.endNs = nano(e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  def jobs: Seq[Job] = jobsById.values().asScala.toSeq.sortBy(_.id)
  def reset(): Unit = {
    jobsById.clear()
    Seq(stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill)
      .foreach(_.set(0))
  }
}

/** Catalyst phase times of every executed query
  * (`QueryExecution.tracker`). */
final class PhaseMeter extends QueryExecutionListener {
  val queries = new AtomicLong()
  val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    queries.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, s) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong())
        .addAndGet(s.durationMs)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
  def ms(phase: String): Double =
    Option(phaseMs.get(phase)).map(_.get.toDouble).getOrElse(0.0)
  def reset(): Unit = { queries.set(0); phaseMs.clear() }
}

/** JVM counters over one phase: collector time and heap peak. */
final class JvmMeter {
  import java.lang.management.ManagementFactory
  private def gcMsNow: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  def start(): Unit = { gc0 = gcMsNow; heapPools.foreach(_.resetPeakUsage()) }
  def gcMs: Double = (gcMsNow - gc0).toDouble
  /** sum of per-pool peaks since start (an upper bound on the heap peak) */
  def heapPeakMb: Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Intervals {
  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
