package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.ListenerBusFlush

/** The engine's one listener-bus collector: [[Engine.session]] names it in
  * `spark.extraListeners`, so each SparkContext has exactly one, found by
  * [[QueryMetrics.of]]. It keeps the totals Bench and Probe difference
  * around a measured run, enforces `QueryLimits`' per-job-group memory
  * ceilings, and routes `qstats:` observations to [[graft.tools.QueryStats]].
  * Events arrive asynchronously: drain the bus (`ListenerBusFlush.drain`)
  * before reading the totals of a finished action.
  */
final class QueryMetrics extends SparkListener {
  import QueryMetrics._

  private val cpuNs = new AtomicLong()
  private val jobs = new AtomicLong()
  private val stages = new AtomicLong()

  /** Executor CPU, jobs started and stages completed on this context. */
  def totals: Totals = Totals(cpuNs.get(), jobs.get(), stages.get())

  // memory ceilings by job group; the job -> group and stage -> job maps
  // hold only jobs of a group with a ceiling, from job start to job end
  private val ceilings = new ConcurrentHashMap[String, Ceiling]()
  private val jobGroup = new ConcurrentHashMap[Integer, String]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  /** Charge job group `group` the largest sum, over tasks that ran at the
    * same moment, of peak execution memory + bytes spilled: the two
    * driver-visible components of what the reference's per-query memory
    * pool would have held. A long query of many small sequential tasks is
    * charged what it held at once, not its running total. `onExceed`
    * runs each time a finished task leaves the charge above `bytes`.
    * Returns the release callback. */
  def limitMemory(group: String, bytes: Long)(onExceed: () => Unit): () => Unit = {
    ceilings.put(group, new Ceiling(bytes, onExceed))
    () => ceilings.remove(group)
  }

  /** Jobs and stages held for memory accounting right now. */
  private[graft] def tracked: (Int, Int) = (jobGroup.size, stageJob.size)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && ceilings.containsKey(g)) {
      jobGroup.put(Integer.valueOf(js.jobId), g)
      js.stageIds.foreach(s => stageJob.put(Integer.valueOf(s), Integer.valueOf(js.jobId)))
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    if (jobGroup.remove(Integer.valueOf(je.jobId)) != null) {
      val it = stageJob.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.intValue == je.jobId) it.remove()
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    cpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
  }

  private def ceilingOf(stageId: Int): Ceiling = {
    val jobId = stageJob.get(Integer.valueOf(stageId))
    val g = if (jobId == null) null else jobGroup.get(jobId)
    if (g == null) null else ceilings.get(g)
  }

  override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
    val c = ceilingOf(ts.stageId)
    if (c != null) c.synchronized(c.running(ts.taskInfo.taskId) = ts.taskInfo.launchTime)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val c = ceilingOf(te.stageId)
    if (c == null) return
    val info = te.taskInfo
    val m = te.taskMetrics
    val used = c.synchronized {
      c.running.remove(info.taskId)
      if (m == null) 0L
      else {
        // alive over [launch, end), end from the executor's own span:
        // the driver may launch a core's next task before it marks this
        // one finished, and back-to-back tasks must not overlap
        val launch = info.launchTime
        val end = launch + math.max(1L,
          m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime)
        c.finished += ((launch, end, m.peakExecutionMemory + m.memoryBytesSpilled))
        // the sum over tasks alive at t only rises at a launch, so the
        // largest one this task shares in is at a launch inside its span
        val peak = c.finished.iterator.map(_._1).filter(t => t >= launch && t < end)
          .map(t => c.finished.iterator.collect { case (l, e, b) if l <= t && t < e => b }.sum)
          .max
        // a task that ended before every running task launched overlaps
        // no task that ends later
        val horizon = if (c.running.isEmpty) Long.MaxValue else c.running.values.min
        c.finished.filterInPlace(_._2 > horizon)
        peak
      }
    }
    if (used > c.bytes) c.onExceed()
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case end: SparkListenerSQLExecutionEnd =>
      ListenerBusFlush.succeeded(end)
        .foreach(qe => graft.tools.QueryStats.recordObserved(qe.observedMetrics))
    case _ => ()
  }
}

object QueryMetrics {

  final case class Totals(cpuNs: Long, jobs: Long, stages: Long)

  /** One job group's memory ceiling and its accounting, guarded by the
    * instance: launch time of each running task, and (launch, end, bytes)
    * of finished tasks that may still overlap one of them. */
  private final class Ceiling(val bytes: Long, val onExceed: () => Unit) {
    val running = scala.collection.mutable.Map.empty[Long, Long]
    val finished = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
  }

  /** The collector of `sc`; the context must come from [[Engine.session]]. */
  def of(sc: SparkContext): QueryMetrics =
    ListenerBusFlush.listeners[QueryMetrics](sc).headOption
      .getOrElse(sys.error("no QueryMetrics on this SparkContext: build it with Engine.session"))
}
