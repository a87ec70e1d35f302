package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.Engine
import graft.sql.{PrestoSql, StatementServer}

/** Engine-side half of the benchmark (run.py is the client side).
  *
  * Starts the engine the way a deployment does (`Engine.session` on
  * `local[N]`, `Engine.registerTables`, the `partsupp` materialization,
  * `StatementServer.start`), timing each phase, then serves commands read
  * one per line from stdin. Replies are single JSON lines on stdout
  * prefixed with `@@ ` (the engine and Spark may print other lines).
  *
  * Commands (tab-separated; SQL travels base64-encoded):
  *   catalog <llm names,comma-separated>   TPC-H texts, llm oracles, partsupp
  *   host                                  versions and heap
  *   mark                                  start a measurement window (GC, heap peak)
  *   stats                                 listener totals per job group, JVM numbers
  *   trace <0|1>                           record job/stage spans or not
  *   spans                                 return and clear recorded spans
  *   llm <name> <write 0|1>                one llm kernel call
  *   replay <b64 sql>                      in-process front-door replay
  *   quit
  */
object Agent {

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val Array(fixture, cores, outDir) = args
    val t0 = System.currentTimeMillis()
    val spark = Engine.session(s"local[$cores]")
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    val t1 = System.currentTimeMillis()
    reply(Json.obj("event" -> "phase", "name" -> "session",
      "s" -> (t1 - jvmStartMs) / 1000.0, "main_entry_s" -> (t0 - jvmStartMs) / 1000.0))
    Engine.registerTables(spark, fixture)
    val t2 = System.currentTimeMillis()
    reply(Json.obj("event" -> "phase", "name" -> "register", "s" -> (t2 - t1) / 1000.0))
    val partsuppRows = spark.table("partsupp").count()
    val t3 = System.currentTimeMillis()
    reply(Json.obj("event" -> "phase", "name" -> "partsupp", "s" -> (t3 - t2) / 1000.0,
      "rows" -> partsuppRows))
    val server = StatementServer.start(spark)
    val t4 = System.currentTimeMillis()
    reply(Json.obj("event" -> "ready", "name" -> "server_start", "s" -> (t4 - t3) / 1000.0,
      "port" -> server.port, "jvm_start_ms" -> jvmStartMs, "ready_ms" -> t4))
    new Agent(spark, fixture, outDir, collector).serve()
    server.stop()
    spark.stop()
  }

  private[perfbench] def reply(json: String): Unit = synchronized {
    val out = System.out
    out.print("@@ ")
    out.println(json)
    out.flush()
  }
}

final class Agent(spark: SparkSession, fixture: String, outDir: String, collector: Collector) {
  import Agent.reply

  private val sc = spark.sparkContext
  private lazy val allQueries = SparkEntry.modules.flatMap(_.queries).map(q => q.name -> q).toMap
  private lazy val benchQueries = SparkEntry.benchQueries
  private var seq = 0L
  private var gcAtMark = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def serve(): Unit = {
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val parts = line.split("\t", -1).toSeq
      val out =
        try handle(parts)
        catch {
          case t: Throwable =>
            Json.obj("error" -> (t.getClass.getName + ": " + String.valueOf(t.getMessage)).take(2000))
        }
      reply(out)
      line = in.readLine()
    }
  }

  private def decode(b64: String): String =
    new String(java.util.Base64.getDecoder.decode(b64), UTF_8)

  private def handle(cmd: Seq[String]): String = cmd match {
    case Seq("catalog", llmNames) => catalog(llmNames.split(',').toSeq.filter(_.nonEmpty))
    case Seq("host") =>
      Json.obj(
        "java" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version,
        "master" -> sc.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    case Seq("mark") =>
      PerfbenchBus.drain(sc)
      gcAtMark = gcMs
      heapPools.foreach(_.resetPeakUsage())
      Json.obj("ok" -> true)
    case Seq("stats") =>
      PerfbenchBus.drain(sc)
      Json.obj(
        "groups" -> Json.Raw(collector.snapshot),
        "gc_ms" -> (gcMs - gcAtMark),
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0),
        "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    case Seq("trace", on) =>
      // events already posted are delivered under the old setting
      PerfbenchBus.drain(sc)
      collector.tracing = on == "1"
      Json.obj("ok" -> true)
    case Seq("spans") =>
      PerfbenchBus.drain(sc)
      Json.obj("spans" -> Json.Raw(collector.takeSpans()))
    case Seq("llm", name, write) => llm(name, write == "1")
    case Seq("replay", b64) => replay(decode(b64))
    case other => Json.obj("error" -> s"unknown command: ${other.mkString(" ")}")
  }

  /** TPC-H statements with their oracle texts, plus the llm oracles.
    * The five partsupp consumers' oracle texts carry the partsupp
    * definition as a CTE prefix (DuckDB sees only the raw fixture); the
    * statement a client sends drops that prefix and reads the engine's
    * registered `partsupp` table instead, as the engine's own builds do. */
  private def catalog(llmNames: Seq[String]): String = {
    val oracle = SparkEntry.oracleSql
    val cte = "WITH partsupp AS (\n" +
      Engine.partsuppSelect.linesIterator.map("  " + _).mkString("\n") + ")"
    val tpch = oracle.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted.map { name =>
      val o = oracle(name)
      val stmt =
        if (o.startsWith(cte + ",\n")) "WITH " + o.stripPrefix(cte + ",\n")
        else if (o.startsWith(cte + "\n")) o.stripPrefix(cte + "\n")
        else o
      Json.obj("name" -> name, "sql" -> stmt, "oracle" -> o)
    }
    val llm = llmNames.map { name =>
      val q = allQueries.getOrElse(name, throw new NoSuchElementException(s"no query $name"))
      Json.obj("name" -> name, "oracle" -> q.oracle.orNull, "own_bench" -> q.benchBuild.isDefined)
    }
    Json.obj("tpch" -> Json.arr(tpch), "llm" -> Json.arr(llm), "partsupp" -> Engine.partsuppSelect)
  }

  /** One llm kernel call: the query's bench build (`SparkEntry.benchQueries`)
    * drained with a noop write, or with `write` written as parquet under
    * outDir/<name> for the result check. */
  private def llm(name: String, write: Boolean): String = {
    seq += 1
    val group = s"llm_${name}_$seq"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val wallNs =
      try {
        val t0 = System.nanoTime()
        val out = benchQueries(name)(spark, fixture).write.mode("overwrite")
        if (write) out.parquet(s"$outDir/$name") else out.format("noop").save()
        System.nanoTime() - t0
      } finally sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    Json.obj("group" -> group, "wall_ms" -> wallNs / 1e6,
      "stats" -> Json.Raw(collector.snapshotOf(group)))
  }

  /** Replays one statement in-process through the layers the REST path
    * uses: rewriteFull (timed alone), the front door (which rewrites
    * again and analyzes), Catalyst optimization, physical planning, and
    * the drain. Jobs run under the replay's own job group. */
  private def replay(sql: String): String = {
    seq += 1
    val group = s"replay_$seq"
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    PrestoSql.rewriteFull(sql)
    val t1 = System.nanoTime()
    val df = PrestoSql.sqlWithId(spark, sql, group, start)
    val t2 = System.nanoTime()
    val (t3, t4, t5) =
      try {
        df.queryExecution.optimizedPlan
        val t3 = System.nanoTime()
        df.queryExecution.executedPlan
        val t4 = System.nanoTime()
        df.collect()
        (t3, t4, System.nanoTime())
      } finally sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    Json.obj("group" -> group, "start_ms" -> start,
      "rewrite_ms" -> (t1 - t0) / 1e6, "front_door_ms" -> (t2 - t1) / 1e6,
      "optimize_ms" -> (t3 - t2) / 1e6, "physical_ms" -> (t4 - t3) / 1e6,
      "drain_ms" -> (t5 - t4) / 1e6, "stats" -> Json.Raw(collector.snapshotOf(group)))
  }
}

/** The benchmark's own listener: per job group (the REST query id, which
  * `PrestoSql.sqlWithId` sets) it sums jobs, stages and task metrics, and
  * while tracing is on it keeps job and stage spans in memory. */
final class Collector extends SparkListener {

  final class Agg {
    var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, inputRows = 0L
    def json: String = Json.obj("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "cpu_ns" -> cpuNs, "run_ms" -> runMs, "gc_ms" -> gcMs,
      "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
      "spill" -> spill, "input_rows" -> inputRows)
  }

  @volatile var tracing = false
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()
  private val spans = scala.collection.mutable.ArrayBuffer.empty[String]

  private def agg(group: String): Agg = aggs.computeIfAbsent(group, _ => new Agg)

  def snapshotOf(group: String): String = Option(aggs.get(group)) match {
    case Some(a) => a.synchronized(a.json)
    case None => (new Agg).json
  }

  def snapshot: String =
    "{" + aggs.asScala.toSeq.sortBy(_._1).map { case (g, a) =>
      Json.str(g) + ":" + a.synchronized(a.json)
    }.mkString(",") + "}"

  def takeSpans(): String = spans.synchronized {
    val out = spans.mkString("[", ",", "]")
    spans.clear()
    out
  }

  private def span(name: String, start: Long, end: Long, parent: String, qid: String): Unit =
    if (tracing) {
      val s = Json.obj("name" -> name, "start_ms" -> start, "end_ms" -> end,
        "parent" -> parent, "qid" -> qid)
      spans.synchronized(spans += s)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach { s => stageGroup.put(s, group); stageJob.put(s, e.jobId) }
    jobInfo.put(e.jobId, (group, e.time))
    val a = agg(group)
    a.synchronized(a.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (group, start) =>
      span(s"job ${e.jobId}", start, e.time, group, group)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = agg(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized(a.stages += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val group = stageGroup.getOrDefault(info.stageId, "")
    for (s <- info.submissionTime; c <- info.completionTime)
      span(s"stage ${info.stageId}", s, c, s"job ${stageJob.getOrDefault(info.stageId, -1)}", group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = agg(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
}

/** Minimal JSON rendering for the agent's replies. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Values: null, String, Boolean, numbers, or already-rendered JSON
    * wrapped in [[Raw]] (nested objects and arrays). */
  final case class Raw(json: String)

  def arr(items: Seq[String]): Raw = Raw(items.mkString("[", ",", "]"))

  def obj(kvs: (String, Any)*): String = kvs.map { case (k, v) =>
    str(k) + ":" + (v match {
      case null => "null"
      case s: String => str(s)
      case Raw(j) => j
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case other => other.toString
    })
  }.mkString("{", ",", "}")
}
