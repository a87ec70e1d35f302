package graft.sql

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.engine.QueryMetrics
import graft.sql.ResourceGroups.{parseDataSize, parseDuration}

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
  * group and its future jobs (interrupting running tasks) + transition
  * the query log entry,
  * exactly the kill_query path. Time limits are a driver-side
  * ScheduledExecutor (O(1) per query, no polling). The memory ceiling
  * is best-effort by Spark's nature — executors own their memory and
  * spill rather than fail — so `query_max_total_memory` is enforced
  * from task metrics at task completion (peak execution memory +
  * spill), the closest driver-visible signal, summed over the tasks
  * that ran at the same moment (`graft.engine.QueryMetrics` keeps that
  * account per job group and calls back here to kill); it catches
  * runaway aggregation state within one task generation rather than
  * instantaneously.
  */
object QueryLimits {

  private val armed = new ConcurrentHashMap[String, SparkSession]()
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

  private def fail(queryId: String, message: String): Unit = {
    val spark = armed.get(queryId)
    // null: disarmed (query finished) between schedule and fire
    if (spark != null && errors.putIfAbsent(queryId, message) == null) {
      // same kill path as CALL system.runtime.kill_query / DELETE:
      // interrupt every job in the query's group and refuse any it
      // submits later (a limit can fire before the first job), FAIL the
      // log entry
      spark.sparkContext.cancelJobGroupAndFutureJobs(queryId)
      SystemTables.failIfActive(spark, queryId)
    }
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

    // no job of the statement has started yet, so nothing can exceed
    // the ceiling before `armed` holds the query
    val release = maxMem.map(parseDataSize).map { limit =>
      QueryMetrics.of(spark.sparkContext).limitMemory(queryId, limit) { () =>
        // ExceededMemoryLimitException.java:34 shape
        fail(queryId, s"Query exceeded distributed total memory limit of ${limit}B")
      }
    }
    // register BEFORE scheduling: an already-expired deadline must kill
    // immediately, not no-op because its timer beat the registration
    armed.put(queryId, spark)
    // guarded by itself: disarm may race arm
    val timers = scala.collection.mutable.ArrayBuffer.empty[ScheduledFuture[_]]
    def killAfter(delayMs: Long, message: String): Unit = timers += scheduler.schedule(
      new Runnable { def run(): Unit = fail(queryId, message) },
      math.max(0L, delayMs), TimeUnit.MILLISECONDS)
    timers.synchronized {
      // QueryTracker.java:187 and :184
      runTime.foreach(raw => killAfter(createdMs + parseDuration(raw) - System.currentTimeMillis(),
        s"Query exceeded maximum time limit of ${renderDuration(raw)}"))
      execTime.foreach(raw => killAfter(parseDuration(raw),
        s"Query exceeded the maximum execution time limit of ${renderDuration(raw)}"))
    }
    () => {
      armed.remove(queryId)
      release.foreach(_())
      timers.synchronized(timers.foreach(_.cancel(false)))
    }
  }
}
