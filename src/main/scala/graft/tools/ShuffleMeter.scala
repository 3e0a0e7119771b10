package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Measured shuffle volume for one action (bytes/records written to
  * and read from the shuffle system, summed over every task the
  * action ran).
  */
case class ShuffleStats(writeBytes: Long, writeRecords: Long,
    readBytes: Long, readRecords: Long,
    /** Jobs that started during the measurement window WITHOUT the
      * meter's tag. Under exclusive use of the session this must be 0
      * — a nonzero value there means some of the action's own jobs
      * ran from a thread the job-group property did not reach (AQE /
      * broadcast pools) and their shuffle traffic was NOT counted.
      * Under parallel test suites sharing the session it merely
      * counts other suites' unrelated jobs, so specs on the shared
      * session must not assert on it. Exclusive callers
      * (`Dev shuffle`, benches) assert == 0 to close the attribution
      * gap loudly instead of undercounting silently. */
    untaggedConcurrentJobs: Int)

/** Measures the ACTUAL shuffle traffic of a query, to back the plan
  * assertions in PlanSpec with numbers: a plan can look right (one
  * Exchange node) and still move the whole fact table through it.
  * ShuffleBudgetSpec pins each headline query's measured volume to
  * the budget its design claims (digests-only, pruned-fact, one data
  * shuffle), so a regression that silently widens a shuffle fails a
  * test even when the plan SHAPE is unchanged.
  *
  * Mechanics: the action runs inside a uniquely-tagged job group;
  * a listener records which stages belong to the tagged jobs and
  * sums `shuffleWriteMetrics`/`shuffleReadMetrics` over exactly
  * those stages' tasks — concurrent work on the shared session (test
  * suites run in parallel in one JVM) is not attributed. Job-group
  * properties are thread-local and Spark captures them onto AQE's
  * stage-submission threads, so adaptive stage jobs stay tagged.
  * The listener bus is asynchronous but FIFO, and by the time the
  * (blocking) action returns every event is already POSTED — so
  * after the action a SENTINEL job runs under its own group, and
  * the wait is for the sentinel's JobEnd to be PROCESSED by this
  * listener: FIFO then guarantees every earlier event (all the
  * action's task metrics) has been too. No stability heuristic — a
  * bus stall at any point merely delays the sentinel observation,
  * it cannot fake it. Undercounting must be LOUD, not a smaller
  * number: a budget test reading partial stats would pass
  * spuriously — timing out before the sentinel lands throws
  * instead of returning.
  *
  * One attribution gap remains by construction: a job of the ACTION
  * submitted from a thread the job-group property never reached
  * would be excluded like any other concurrent work. Such jobs are
  * indistinguishable from unrelated traffic on a shared session, so
  * the meter cannot fail on them unilaterally — instead every job
  * that starts in the window without the tag is counted into
  * [[ShuffleStats.untaggedConcurrentJobs]], and callers that own the
  * session exclusively (`Dev shuffle`, benches) require it to be 0.
  */
object ShuffleMeter {

  def measure(spark: SparkSession)(action: => Unit): ShuffleStats = {
    val tag = s"shuffle-meter-${java.util.UUID.randomUUID()}"
    val sentinelTag = s"$tag-sentinel"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val taggedJobs = ConcurrentHashMap.newKeySet[Int]()
    val endedJobs = ConcurrentHashMap.newKeySet[Int]()
    val sentinelJobs = ConcurrentHashMap.newKeySet[Int]()
    val untaggedJobs = ConcurrentHashMap.newKeySet[Int]()
    @volatile var windowOpen = true
    @volatile var drained = false
    val wb = new AtomicLong; val wr = new AtomicLong
    val rb = new AtomicLong; val rr = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = if (e.properties == null) null
          else e.properties.getProperty("spark.jobGroup.id")
        if (tag == group) {
          taggedJobs.add(e.jobId)
          e.stageIds.foreach(id => stages.add(id))
        } else if (sentinelTag == group) {
          sentinelJobs.add(e.jobId)
        } else if (windowOpen) {
          // a job in the window that is neither ours nor the
          // sentinel: either another thread's unrelated work (fine on
          // a shared test session) or — the dangerous case — one of
          // the action's own jobs submitted from a thread the
          // job-group local property did not reach, whose metrics
          // would silently be excluded. Surfaced in the stats so
          // exclusive callers can fail loudly.
          untaggedJobs.add(e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        if (taggedJobs.contains(e.jobId)) endedJobs.add(e.jobId)
        if (sentinelJobs.contains(e.jobId)) drained = true
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stages.contains(e.stageId)) {
          wb.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          wr.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          rb.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          rr.addAndGet(m.shuffleReadMetrics.recordsRead)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(tag, "shuffle-meter measurement",
        interruptOnCancel = false)
      action
      // every action event is now posted; the sentinel's events are
      // posted strictly AFTER them, so observing its JobEnd proves
      // the action's metrics are fully summed
      spark.sparkContext.setJobGroup(sentinelTag, "shuffle-meter drain",
        interruptOnCancel = false)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(50)
      windowOpen = false
      if (!drained)
        throw new IllegalStateException(
          "listener bus did not drain within 30s — stats would " +
            "undercount, refusing to return them")
      // the sentinel proves ordered delivery drained; this catches
      // the OTHER loss mode — an overloaded bus DROPPING tagged
      // events outright (the sentinel, posted after the flood, can
      // still land while earlier metrics are gone)
      if (taggedJobs.size != endedJobs.size)
        throw new IllegalStateException(
          s"listener bus dropped events: ${endedJobs.size} of " +
            s"${taggedJobs.size} tagged jobs observed ending — stats " +
            "would undercount, refusing to return them")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    ShuffleStats(wb.get, wr.get, rb.get, rr.get, untaggedJobs.size)
  }
}
