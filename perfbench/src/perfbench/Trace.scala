package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans, recorded around the benchmark's calls into each
  * layer and written out once at exit. Off unless tracing. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long, thread: Long)

  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)
  // wall-clock anchor so listener times (epoch millis) share the axis
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** A root span: one operation of the workload. */
  def op[T](name: String)(body: => T): T =
    if (!on) body else run(name, 0L, ids.incrementAndGet())(body)

  /** A child of the calling thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else Option(current.get()) match {
      case Some((parent, op)) => run(name, parent, op)(body)
      case None               => run(name, 0L, ids.incrementAndGet())(body)
    }

  private def run[T](name: String, parent: Long, op: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val saved = current.get()
    current.set((id, op))
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, epochNs + t0, epochNs + System.nanoTime(),
        Thread.currentThread().getId))
      current.set(saved)
    }
  }

  /** A span whose times come from elsewhere (epoch millis), e.g. the
    * planner's phase tracker; its parent is resolved at exit. */
  def external(name: String, startMs: Long, endMs: Long): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), -1L, 0L, name,
      startMs * 1000000L, math.max(startMs, endMs) * 1000000L, -1L))

  /** Attach external spans to the innermost benchmark span that covers
    * them when exactly one thread issued operations (the batch client);
    * otherwise they stay roots. */
  private def resolved: Seq[Span] = {
    val all = spans.asScala.toSeq
    val (ext, own) = all.partition(_.parent == -1L)
    val threads = own.map(_.thread).distinct
    val covering = if (threads.size == 1) own.sortBy(s => s.endNs - s.startNs) else Nil
    own ++ ext.map { e =>
      covering.find(s => s.startNs <= e.startNs && e.endNs <= s.endNs) match {
        case Some(s) => e.copy(parent = s.id, op = s.op)
        case None    => e.copy(parent = 0L)
      }
    }
  }

  /** Self time per layer (name prefix): a span's duration minus the
    * part of it its children cover. */
  def layerSelfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      }.sum
      s.name.takeWhile(_ != '.') -> math.max(0L, s.endNs - s.startNs - covered) / 1e9
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Write every span as one JSON line; returns the spans written. */
  def write(path: java.io.File): Seq[Span] = {
    val all = resolved
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json(scala.collection.immutable.ListMap(
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op)))
    } finally w.close()
    all
  }
}

/** Counts and phase times over every executed query plan, fed by
  * [[PlanListener]] (installed for all sessions through the static
  * `spark.sql.queryExecutionListeners` conf). */
object PlanStats extends AdaptiveSparkPlanHelper {
  @volatile var on = false
  /** Receives every finished query execution, tracing or not. */
  @volatile var capture: QueryExecution => Unit = null
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong
  val exchanges = new AtomicLong
  val sorts = new AtomicLong
  val windows = new AtomicLong
  val broadcasts = new AtomicLong
  val fallbacks = new AtomicLong

  final case class Shape(exchanges: Int, sorts: Int, windows: Int, broadcasts: Int,
      fallbacks: Int)

  /** Operator counts of a physical plan as executed (after adaptive
    * re-planning), through query stages and subqueries. */
  def shape(plan: SparkPlan): Shape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    Shape(
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(_.isInstanceOf[SortExec]),
      nodes.count(_.isInstanceOf[WindowExec]),
      nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum)
  }

  def record(qe: QueryExecution): Unit = {
    val cap = capture
    if (cap != null) cap(qe)
    if (!on) return
    val phases = qe.tracker.phases
    def phase(name: String, into: AtomicLong): Unit = phases.get(name).foreach { p =>
      into.addAndGet(p.durationMs)
      Trace.external(s"plans.$name", p.startTimeMs, p.endTimeMs)
    }
    phase(QueryPlanningTracker.ANALYSIS, analysisMs)
    phase(QueryPlanningTracker.OPTIMIZATION, optimizationMs)
    phase(QueryPlanningTracker.PLANNING, planningMs)
    val s = shape(qe.executedPlan)
    exchanges.addAndGet(s.exchanges)
    sorts.addAndGet(s.sorts)
    windows.addAndGet(s.windows)
    broadcasts.addAndGet(s.broadcasts)
    fallbacks.addAndGet(s.fallbacks)
  }
}

class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try PlanStats.record(qe) catch { case t: Throwable => System.err.println(s"[perfbench] plan stats: $t") }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Job, stage and task totals from Spark's listener bus. */
object ExecStats extends SparkListener {
  @volatile var on = false
  val jobs = new AtomicLong
  val eagerJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val fetchWaitMs = new AtomicLong
  val spill = new AtomicLong
  val peakExecMem = new AtomicLong
  val recordsRead = new AtomicLong
  private val markerStages = ConcurrentHashMap.newKeySet[Int]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  val PhaseKey = "perfbench.phase"
  private val MarkerKey = "perfbench.marker"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(token) =>
        markerJobs.put(e.jobId, token)
        e.stageIds.foreach(markerStages.add)
      case None if on =>
        jobs.incrementAndGet()
        if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("build"))
          eagerJobs.incrementAndGet()
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(markerJobs.remove(e.jobId)).flatMap(t => Option(markers.remove(t)))
      .foreach(_.countDown())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on && !markerStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && !markerStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }

  /** Wait until the listener bus has delivered every event posted so
    * far: run a one-task marker job and wait for its end event, which
    * the (ordered) shared queue delivers after all earlier events. */
  def barrier(sc: SparkContext): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val latch = new CountDownLatch(1)
    markers.put(token, latch)
    sc.setLocalProperty(MarkerKey, token)
    try sc.runJob(sc.parallelize(Seq(1), 1), (it: Iterator[Int]) => it.size)
    finally sc.setLocalProperty(MarkerKey, null)
    if (!latch.await(30, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener barrier timed out")
  }
}

/** JVM-wide garbage collection and heap peaks over a window. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private var gc0 = 0L
  def begin(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
