package graftbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` indexes the enclosing span (-1 for a
  * root), `op` the benchmark op it belongs to.
  */
final case class SpanRec(name: String, parent: Int, op: Int,
    start: Long, var end: Long)

/** Spark engine counters summed over everything one op ran. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var outputRecords = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var cacheBytesLeft = 0L

  def addPhases(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_records" -> shuffleReadRecords,
    "fetch_wait_ms" -> fetchWaitMs, "spill_bytes" -> spillBytes,
    "peak_exec_bytes" -> peakExecBytes, "output_records" -> outputRecords,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "cache_bytes_left" -> cacheBytesLeft)
    .map { case (k, v) => k -> v.toDouble }
}

/** Spans plus a Spark listener, both inert unless active.
  *
  * The benchmark is the only client of its session, so engine events
  * are attributed by time window: [[beginOp]] and [[endOp]] each drain
  * the listener bus, so every event of an op is counted into that op
  * and nothing run between ops (output checks, cache teardown) leaks
  * into the next one. The drain runs a sentinel job and waits until
  * the listener has seen it end; the bus queue is FIFO, so every
  * earlier event has been delivered by then.
  */
final class Tracer(spark: SparkSession, available: Boolean) {

  private var enabled = false

  val spans = ArrayBuffer[SpanRec]()
  private var stack: List[Int] = Nil
  private var op = -1
  @volatile private var current: OpCounters = null
  @volatile private var drainLatch: CountDownLatch = null
  private val drainGroup = "graftbench-drain"
  private val drainJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == drainGroup) drainJobs.add(e.jobId)
      else { val c = current; if (c != null) c.synchronized(c.jobs += 1) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.remove(e.jobId)) { val l = drainLatch; if (l != null) l.countDown() }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = current
      if (c != null) c.synchronized(c.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = current
      val m = e.taskMetrics
      if (c != null && m != null) c.synchronized {
        c.tasks += 1
        if (e.reason != org.apache.spark.Success) c.taskFailures += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = current
      if (c != null) c.addPhases(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attaches (or detaches) the listeners; a no-op unless the run is
    * traced, so an untraced run carries no tracing code at all.
    */
  def setActive(on: Boolean): Unit = if (available && on != enabled) {
    enabled = on
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  /** Blocks until every engine event posted so far has been delivered. */
  private def drain(): Unit = {
    val latch = new CountDownLatch(1)
    drainLatch = latch
    val sc = spark.sparkContext
    sc.setJobGroup(drainGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def beginOp(index: Int): Unit = if (enabled) {
    drain()
    op = index
    current = new OpCounters
  }

  /** Counters of the op that just returned (null when disabled). */
  def endOp(): OpCounters = if (!enabled) null else {
    val c = current
    c.cacheBytesLeft = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    drain()
    current = null
    op = -1
    c
  }

  /** Adds planning phases of a query executed outside a Dataset action
    * (a `toRdd` run does not reach the execution listener).
    */
  def addPhases(qe: QueryExecution): Unit =
    if (enabled && current != null) current.addPhases(qe)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += SpanRec(name, stack.headOption.getOrElse(-1), op, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally { spans(id).end = System.nanoTime(); stack = stack.tail }
    }

  /** Records an interval measured through a callback seam, as a child
    * of the innermost open span.
    */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) spans += SpanRec(name, stack.headOption.getOrElse(-1), op, start, end)

  def close(): Unit = setActive(false)
}
