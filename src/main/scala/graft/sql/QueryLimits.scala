package graft.sql

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** Per-query resource-limit enforcement — the reference's runaway-query
  * kill (presto-main/.../execution/QueryTracker.java:173-190
  * enforceTimeLimits: `query_max_run_time` measured from the query's
  * create time, `query_max_execution_time` from execution start, both
  * failing the query with EXCEEDED_TIME_LIMIT; memory ceilings come
  * from ExceededMemoryLimitException.java:34 via the cluster memory
  * manager). On a shared cluster this is the complement of admission
  * control: resource groups bound how many queries START, limits bound
  * what an admitted query may CONSUME.
  *
  * Spark mapping: every front-door statement is tagged with its query
  * id as the Spark job group, so "fail the query" = cancel the job
  * group (interrupting running tasks) + transition the query log entry,
  * exactly the kill_query path. Time limits are a driver-side
  * ScheduledExecutor (O(1) per query, no polling). The memory ceiling
  * is best-effort by Spark's nature — executors own their memory and
  * spill rather than fail — so `query_max_total_memory` is enforced
  * from task metrics at task completion (peak execution memory +
  * spill), the closest driver-visible signal, summed over the tasks
  * that ran at the same moment; it catches runaway aggregation state
  * within one task generation rather than instantaneously.
  */
object QueryLimits {

  private final class Armed(
      val spark: SparkSession,
      val memLimit: Long) {
    // memory accounting, guarded by `this`: launch time of each running
    // task, and (launch, end, bytes) of finished tasks that may still
    // overlap one of them
    val running = scala.collection.mutable.Map.empty[Long, Long]
    val finished = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // filled after registration; guarded by `this` (disarm may race arm)
    val timers = scala.collection.mutable.ArrayBuffer.empty[ScheduledFuture[_]]
  }

  private val armed = new ConcurrentHashMap[String, Armed]()
  private val errors = new ConcurrentHashMap[String, String]()

  private lazy val scheduler = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-query-limits")
    t.setDaemon(true)
    t
  })

  /** The limit-violation error recorded for a killed query, if any —
    * the HTTP server and tests prefer this over Spark's generic
    * job-cancelled message (the reference surfaces the PrestoException
    * text, not the scheduler's). */
  def errorFor(queryId: String): Option[String] = Option(errors.get(queryId))

  /** Parse the reference's duration literal ("100ms", "1s", "2.5m",
    * "1h", "1d" — io.airlift.units.Duration shape) to millis. */
  private[graft] def parseDuration(s: String): Long = {
    val m = """\s*([0-9]*\.?[0-9]+)\s*(ns|us|ms|s|m|h|d)\s*""".r
    s match {
      case m(v, unit) =>
        val factor = unit match {
          case "ns" => 1e-6; case "us" => 1e-3; case "ms" => 1.0
          case "s" => 1e3; case "m" => 60e3; case "h" => 3600e3; case "d" => 86400e3
        }
        (v.toDouble * factor).toLong
      case _ => throw new IllegalArgumentException(s"duration is not a valid data duration string: $s")
    }
  }

  /** Parse the reference's size literal ("512kB", "100MB", "1GB" —
    * io.airlift.units.DataSize shape) to bytes. */
  private[graft] def parseBytes(s: String): Long = {
    val m = """\s*([0-9]*\.?[0-9]+)\s*(B|kB|MB|GB|TB|PB)\s*""".r
    s match {
      case m(v, unit) =>
        val factor = unit match {
          case "B" => 1L; case "kB" => 1L << 10; case "MB" => 1L << 20
          case "GB" => 1L << 30; case "TB" => 1L << 40; case "PB" => 1L << 50
        }
        (v.toDouble * factor).toLong
      case _ => throw new IllegalArgumentException(s"size is not a valid data size string: $s")
    }
  }

  /** Normalized rendering for error text, matching the reference's
    * Duration.toString ("5.00s"). */
  private def renderDuration(raw: String): String = {
    val ms = parseDuration(raw).toDouble
    val (v, u) =
      if (ms >= 86400e3) (ms / 86400e3, "d") else if (ms >= 3600e3) (ms / 3600e3, "h")
      else if (ms >= 60e3) (ms / 60e3, "m") else if (ms >= 1e3) (ms / 1e3, "s")
      else (ms, "ms")
    f"$v%.2f$u"
  }

  private def fail(queryId: String, a: Armed, message: String): Unit =
    // a == null: disarmed (query finished) between schedule and fire
    if (a != null && errors.putIfAbsent(queryId, message) == null) {
      // same kill path as CALL system.runtime.kill_query / DELETE:
      // interrupt every job in the query's group, FAIL the log entry
      a.spark.sparkContext.cancelJobGroup(queryId)
      SystemTables.failIfActive(a.spark, queryId)
    }

  /** Arm limits for a statement from its merged session properties
    * (explicit SET SESSION / client headers layered over configured
    * defaults). Returns a disarm callback; cheap no-op when none of the
    * limit properties are set. `createdMs` anchors query_max_run_time
    * (create time); execution-time starts now, like the reference. */
  def arm(spark: SparkSession, queryId: String, createdMs: Long,
      props: collection.Map[String, String]): () => Unit = {
    val runTime = props.get("query_max_run_time")
    val execTime = props.get("query_max_execution_time")
    val maxMem = props.get("query_max_total_memory").orElse(props.get("query_max_memory"))
    if (runTime.isEmpty && execTime.isEmpty && maxMem.isEmpty) return () => ()

    // register BEFORE scheduling: an already-expired deadline must kill
    // immediately, not no-op because its timer beat the registration
    val e = new Armed(spark, maxMem.map(parseBytes).getOrElse(Long.MaxValue))
    armed.put(queryId, e)
    e.synchronized {
      runTime.foreach { raw =>
        val delay = math.max(0L, createdMs + parseDuration(raw) - System.currentTimeMillis())
        e.timers += scheduler.schedule(new Runnable {
          def run(): Unit = fail(queryId, armed.get(queryId),
            // QueryTracker.java:187
            s"Query exceeded maximum time limit of ${renderDuration(raw)}")
        }, delay, TimeUnit.MILLISECONDS)
      }
      execTime.foreach { raw =>
        e.timers += scheduler.schedule(new Runnable {
          def run(): Unit = fail(queryId, armed.get(queryId),
            // QueryTracker.java:184
            s"Query exceeded the maximum execution time limit of ${renderDuration(raw)}")
        }, parseDuration(raw), TimeUnit.MILLISECONDS)
      }
    }
    if (maxMem.isDefined) installListener(spark)
    () => {
      armed.remove(queryId)
      e.synchronized(e.timers.foreach(_.cancel(false)))
    }
  }

  // ---- best-effort memory accounting (one listener per session) ----

  private val listenerInstalled =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def installListener(spark: SparkSession): Unit =
    listenerInstalled.synchronized {
      if (listenerInstalled.get(spark) == null) {
        listenerInstalled.put(spark, java.lang.Boolean.TRUE)
        spark.sparkContext.addSparkListener(new MemoryAccountant)
      }
    }

  /** Charges each query (job group) the largest sum, over tasks that ran
    * at the same moment, of peak execution memory + bytes spilled: the
    * two driver-visible components of what the reference's per-query
    * memory pool would have held. A long query of many small sequential
    * tasks is charged what it held at once, not its running total. Fires
    * the kill when that passes the armed ceiling. */
  private final class MemoryAccountant extends SparkListener {
    private val jobGroup = new ConcurrentHashMap[Integer, String]()
    private val stageJob = new ConcurrentHashMap[Integer, Integer]()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && armed.containsKey(g)) {
        jobGroup.put(Integer.valueOf(js.jobId), g)
        js.stageIds.foreach(s => stageJob.put(Integer.valueOf(s), Integer.valueOf(js.jobId)))
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      jobGroup.remove(Integer.valueOf(je.jobId))
      val it = stageJob.entrySet().iterator()
      while (it.hasNext) if (it.next().getValue.intValue == je.jobId) it.remove()
    }

    private def queryOf(stageId: Int): String = {
      val jobId = stageJob.get(Integer.valueOf(stageId))
      if (jobId == null) null else jobGroup.get(jobId)
    }

    private def limited(g: String): Armed = {
      val a = if (g == null) null else armed.get(g)
      if (a != null && a.memLimit < Long.MaxValue) a else null
    }

    override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
      val a = limited(queryOf(ts.stageId))
      if (a != null) a.synchronized(a.running(ts.taskInfo.taskId) = ts.taskInfo.launchTime)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val g = queryOf(te.stageId)
      val a = limited(g)
      if (a == null) return
      val info = te.taskInfo
      val m = te.taskMetrics
      val used = a.synchronized {
        a.running.remove(info.taskId)
        if (m == null) 0L
        else {
          // alive over [launch, end), end from the executor's own span:
          // the driver may launch a core's next task before it marks this
          // one finished, and back-to-back tasks must not overlap
          val launch = info.launchTime
          val end = launch + math.max(1L,
            m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime)
          a.finished += ((launch, end, m.peakExecutionMemory + m.memoryBytesSpilled))
          // the sum over tasks alive at t only rises at a launch, so the
          // largest one this task shares in is at a launch inside its span
          val peak = a.finished.iterator.map(_._1).filter(t => t >= launch && t < end)
            .map(t => a.finished.iterator.collect { case (l, e, b) if l <= t && t < e => b }.sum)
            .max
          // a task that ended before every running task launched overlaps
          // no task that ends later
          val horizon = if (a.running.isEmpty) Long.MaxValue else a.running.values.min
          a.finished.filterInPlace(_._2 > horizon)
          peak
        }
      }
      if (used > a.memLimit)
        // ExceededMemoryLimitException.java:34 shape
        fail(g, a, s"Query exceeded distributed total memory limit of ${a.memLimit}B")
    }
  }
}
