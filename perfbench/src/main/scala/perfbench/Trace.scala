package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a timed call into a layer. `parent` is the id of the
  * enclosing span (-1 at the root) and `op` the closed-loop step it belongs
  * to (-1 during set-up). Counter fields are the listener counts at the
  * span's start and end, so per-span deltas need no time join. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long, attrs: Map[String, Double],
    jobs0: Long, jobs1: Long, stages0: Long, stages1: Long,
    tasks0: Long, tasks1: Long, heapMb: Double, liveRdds: Int, cachedBytes: Long)

final case class Job(id: Int, start: Long, var end: Long)
final case class Stage(id: Int, tasks: Int, submitted: Long, completed: Long,
    runMs: Long, shuffleRead: Long, shuffleWrite: Long)
/** One Dataset action with its Catalyst phase times; `plannedMs` is the
  * wall-clock end of its planning phase, when it started to execute. */
final case class Action(name: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, plannedMs: Long)

/** Spark-side counts collected by the benchmark's own listeners. Times are
  * wall-clock milliseconds (the listener bus reports those); spans carry
  * nanoTime, so the recorder keeps the offset between the two clocks. */
final class BenchListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val actions = mutable.ArrayBuffer.empty[Action]
  @volatile var jobCount = 0L
  @volatile var stageCount = 0L
  @volatile var taskCount = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobCount += 1
    jobs += Job(e.jobId, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageCount += 1
    taskCount += i.numTasks
    stages += Stage(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L),
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      // the listener bus may deliver this after the step has ended, so
      // the action is placed by when it ran, not by when it was reported
      actions += Action(funcName, ms("analysis"), ms("optimization"), ms("planning"),
        ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis()))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The span recorder. Off (the untraced runs, and the untraced half of a
  * traced run) it only runs the body; on, it keeps every span in memory
  * and attaches [[BenchListener]] for the duration of each traced step. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val listener = new BenchListener
  val spans = mutable.ArrayBuffer.empty[Span]
  /** nanoTime - currentTimeMillis*1e6 at start-up, to put listener wall
    * times on the span clock. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var attached = false
  var op: Int = -1
  var active = false

  private val sc: SparkContext = spark.sparkContext
  private val memBean = ManagementFactory.getMemoryMXBean

  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    attached = true
    active = true
  }

  /** Detach after draining the listener bus, so the step's late job and
    * stage events are counted before the next (untraced) step starts. */
  def detach(): Unit = if (attached) {
    org.apache.spark.BenchBus.drain(sc)
    spark.listenerManager.unregister(listener)
    sc.removeSparkListener(listener)
    attached = false
    active = false
  }

  /** Time `body` as a span called `name`; `attrs` may add counts once the
    * body has run (rows out, bytes written). */
  def span[T](name: String)(body: => T): T = span(name, (_: T) => Map.empty[String, Double])(body)

  def span[T](name: String, attrs: T => Map[String, Double])(body: => T): T = {
    if (!active) return body
    val id = nextId
    nextId += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    val (j0, s0, t0) = (listener.jobCount, listener.stageCount, listener.taskCount)
    val start = System.nanoTime()
    stack.push(id)
    val out = try body finally stack.pop()
    val end = System.nanoTime()
    val liveRdds = sc.getPersistentRDDs.size
    val cached = if (liveRdds == 0) 0L else sc.getRDDStorageInfo.map(_.memSize).sum
    spans += Span(id, parent, name, op, start, end, attrs(out),
      j0, listener.jobCount, s0, listener.stageCount, t0, listener.taskCount,
      memBean.getHeapMemoryUsage.getUsed / 1048576.0, liveRdds, cached)
    out
  }
}

/** JVM-wide counters: GC and JIT time around traced steps, and the
  * live memory at the workloads' marks. */
object JvmCounters {
  private def allGcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  /** GC time so far, less the collections [[markLive]] forced. */
  def gcMs: Long = allGcMs - markGcMs
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  private var peakLive = 0.0
  /** Time spent in [[markLive]], which the loop's wall leaves out. */
  var markNs = 0L
  private var markGcMs = 0L

  /** Collect in full and note the memory then in use: every pool, heap
    * and non-heap (metaspace, code cache). That is what the program keeps
    * live at this point, whatever the configured heap size. */
  def markLive(): Unit = {
    val t = System.nanoTime()
    val gc0 = allGcMs
    System.gc()
    markGcMs += allGcMs - gc0
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala.map { p =>
      val u = if (p.getType == MemoryType.HEAP) Option(p.getCollectionUsage) else None
      u.getOrElse(p.getUsage).getUsed
    }.sum
    peakLive = math.max(peakLive, used / 1048576.0)
    markNs += System.nanoTime() - t
  }

  /** The largest [[markLive]] reading, in MB. */
  def peakLiveMb: Double = peakLive
}
