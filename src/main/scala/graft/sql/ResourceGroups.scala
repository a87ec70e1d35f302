package graft.sql

import org.apache.spark.sql.SparkSession

/** Resource-group admission control — the reference's query gate
  * (presto-main/.../execution/resourceGroups/InternalResourceGroup.java:
  * 96-98 hardConcurrencyLimit/maxQueuedQueries, canRunMore/canQueueMore;
  * InternalResourceGroupManager submits every query through a group;
  * QueryQueueFullException.java:30 is the rejection shape). Config is
  * the file manager's JSON (presto-resource-group-managers/.../
  * FileResourceGroupConfigurationManager.java + ResourceGroupSpec.java:
  * rootGroups with subGroups, StaticSelector.java user/source regex ->
  * group id, ResourceGroupIdTemplate `${USER}`/`${SOURCE}` expansion).
  *
  * Spark-first shape: admission is a DRIVER front-door concern — the
  * cluster's data plane never sees it, so this is a tree of counters
  * under one lock, not an operator. A query acquires a slot in its
  * selected leaf group AND every ancestor (running counts propagate up,
  * exactly the reference's recursive canRunWithinLimits); if any group
  * on the path is at its hard concurrency limit the query parks QUEUED
  * (FIFO) unless a group's queue is full, which rejects with the
  * reference's error text. Slots release on query completion and the
  * longest-waiting runnable query is promoted.
  *
  * At 100 TB this is what stands between a 1000-executor cluster and a
  * thundering herd of ad-hoc scans: the scheduler can only arbitrate
  * tasks of ADMITTED queries, so concurrency caps per tenant group are
  * enforced before planning, like the reference.
  *
  * Scheduling-policy/memory/cpu-quota fields of the config are parsed
  * and accepted but inert: Spark's own scheduler pools and unified
  * memory manager own intra-query arbitration (SURVEY §7.0 — engine
  * internals delegated to Spark built-ins).
  */
object ResourceGroups {

  /** `schedulingPolicy` per InternalResourceGroup.java / SchedulingPolicy:
    * "fair" (FIFO, the default); "query_priority" (a LEAF promotes its
    * highest session query_priority first, FIFO among equals);
    * "weighted_fair" (a PARENT arbitrates among its children by lowest
    * running/schedulingWeight ratio — the reference's
    * WeightedFairQueue pick, deterministic). The stochastic "weighted"
    * policy parses and falls back to fair — a randomized pick has no
    * deterministic contract to verify. */
  final case class GroupSpec(
      name: String,
      hardConcurrencyLimit: Int,
      maxQueued: Int,
      subGroups: Seq[GroupSpec],
      schedulingPolicy: String = "fair",
      schedulingWeight: Int = 1)

  /** Client-declared resource estimates (ResourceEstimates.java:32-34,
    * fed by the X-Presto-Resource-Estimate header: EXECUTION_TIME /
    * CPU_TIME as airlift durations, PEAK_MEMORY as an airlift data
    * size). Normalized to millis / bytes. */
  final case class ResourceEstimates(
      executionTimeMs: Option[Long] = None,
      cpuTimeMs: Option[Long] = None,
      peakMemoryBytes: Option[Long] = None)

  /** One bound pair of SelectorResourceEstimate.java's Range fields —
    * left-INclusive, right-EXclusive per the reference's comment; an
    * absent side is unbounded. */
  final case class EstimateRange(min: Option[Long] = None, max: Option[Long] = None) {
    def contains(v: Long): Boolean = min.forall(v >= _) && max.forall(v < _)
  }

  /** SelectorResourceEstimate.java:38-60 match semantics: every range
    * the selector declares must be satisfied by a PRESENT estimate of
    * that kind — a query that declared no estimate never matches an
    * estimate-constrained selector. */
  final case class SelectorResourceEstimate(
      executionTime: Option[EstimateRange] = None,
      cpuTime: Option[EstimateRange] = None,
      peakMemory: Option[EstimateRange] = None) {
    def matches(e: ResourceEstimates): Boolean =
      executionTime.forall(r => e.executionTimeMs.exists(r.contains)) &&
        cpuTime.forall(r => e.cpuTimeMs.exists(r.contains)) &&
        peakMemory.forall(r => e.peakMemoryBytes.exists(r.contains))
  }

  /** `clientTags` follows StaticSelector.java:45 subset semantics: the
    * selector matches only when EVERY configured tag is present in the
    * query's client-tag set (an untagged selector matches any query).
    * `queryType` (StaticSelector.java:43,75-80) matches the statement's
    * classified kind — SELECT / INSERT / DELETE / EXPLAIN / DESCRIBE /
    * DATA_DEFINITION per StatementUtils.java — case-insensitively; a
    * query whose type is unknown never matches a typed selector.
    * `resourceEstimate` gates on the client's declared estimates. */
  final case class Selector(
      user: Option[scala.util.matching.Regex],
      source: Option[scala.util.matching.Regex],
      group: String,
      clientTags: Seq[String] = Seq.empty,
      queryType: Option[String] = None,
      resourceEstimate: Option[SelectorResourceEstimate] = None)

  /** Airlift Duration.valueOf text ("100ms", "5m", "1.5h") → millis. */
  private[graft] def parseDuration(s: String): Long = parseAirlift(s, "duration",
    Map("ns" -> 1e-6, "us" -> 1e-3, "ms" -> 1.0, "s" -> 1e3, "m" -> 60e3, "h" -> 3600e3,
      "d" -> 86400e3))

  /** Airlift DataSize.valueOf text ("512MB", "4GB") → bytes. */
  private[graft] def parseDataSize(s: String): Long = parseAirlift(s, "data size",
    Seq("B", "kB", "MB", "GB", "TB", "PB").zipWithIndex.map { case (u, i) => u -> math.pow(1024, i) }.toMap)

  /** A decimal number and one of `units`, scaled and rounded to a whole result unit. */
  private def parseAirlift(s: String, what: String, units: Map[String, Double]): Long = {
    val m = "^\\s*([0-9]*\\.?[0-9]+)\\s*([a-zA-Z]+)\\s*$".r.findFirstMatchIn(s)
      .filter(m => units.contains(m.group(2)))
      .getOrElse(throw new IllegalArgumentException(s"Invalid $what: $s"))
    math.round(m.group(1).toDouble * units(m.group(2)))
  }

  /** Parse the X-Presto-Resource-Estimate header's k=v list
    * (HttpRequestSessionContext.parseResourceEstimate: EXECUTION_TIME /
    * CPU_TIME / PEAK_MEMORY; unknown names rejected like the
    * reference's badRequest). */
  def parseResourceEstimates(kvs: Seq[(String, String)]): ResourceEstimates =
    kvs.foldLeft(ResourceEstimates()) { case (acc, (k, v)) =>
      k.toUpperCase match {
        case "EXECUTION_TIME" => acc.copy(executionTimeMs = Some(parseDuration(v)))
        case "CPU_TIME" => acc.copy(cpuTimeMs = Some(parseDuration(v)))
        case "PEAK_MEMORY" => acc.copy(peakMemoryBytes = Some(parseDataSize(v)))
        case other =>
          throw new IllegalArgumentException(s"Unsupported resource name $other")
      }
    }

  final case class Config(rootGroups: Seq[GroupSpec], selectors: Seq[Selector])

  /** Runtime counters of one concrete (template-expanded) group. `spec`
    * is a var: a hot reload re-points live groups at their new limits
    * in place, counters intact (the reference's
    * configureChangedGroups — DbResourceGroupConfigurationManager
    * reconfigures existing InternalResourceGroups rather than
    * recreating them). Reads/writes under the manager lock. */
  private final class GroupState(val id: String, var spec: GroupSpec) {
    var running: Int = 0
    var queued: Int = 0
  }

  private final class Waiter(val path: Seq[GroupState],
      val priority: Int, val seq: Long) {
    val latch = new java.util.concurrent.CountDownLatch(1)
    // Lifecycle under the manager lock: QUEUED (in the deque, queued
    // counters held) -> PROMOTED (running counters held, off the deque)
    // or DISABLED (manager torn down; counters died with it). The
    // awaiting thread consults this after the latch to know what it
    // owns — and, on interrupt, what it must give back.
    var state: Int = Waiter.Queued
  }
  private object Waiter {
    val Queued = 0; val Promoted = 1; val Disabled = 2
  }

  private final class Manager(@volatile var config: Config) {
    val lock = new Object
    val states = scala.collection.mutable.Map.empty[String, GroupState]
    val waiters = new java.util.ArrayDeque[Waiter]()
    var seqCounter: Long = 0L
  }

  /** An admitted query's slot; `release()` exactly once — from ANY
    * thread (a reaper or error handler releasing on behalf of a parked
    * worker must still clear the owner's reentrancy marker, or that
    * pooled thread would bypass admission control forever). */
  final class Permit private[ResourceGroups] (
      mgr: Option[Manager], path: Seq[GroupState]) {
    val groupId: Option[String] = path.lastOption.map(_.id)
    private val owner = Thread.currentThread()
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) mgr.foreach { m =>
        // value-keyed remove: clears the OWNER's marker no matter which
        // thread calls release, and never clobbers a marker the owner
        // has since re-pointed at a different manager
        holders.remove(owner, m)
        m.lock.synchronized {
          path.foreach(_.running -= 1)
          promoteLocked(m)
        }
      }
  }

  // Reentrancy: the HTTP worker acquires for the statement's whole
  // lifetime and then drives PrestoSql.sqlWithId on the same thread —
  // the inner front-door acquire must not take a second slot (instant
  // self-deadlock at hardConcurrencyLimit 1). Keyed per (thread ->
  // manager), NOT a bare thread flag: a permit held against one
  // SparkSession's manager must not disable admission for a different
  // configured session on the same thread, and off-thread release must
  // be able to clear the owner's entry.
  private val holders =
    new java.util.concurrent.ConcurrentHashMap[Thread, Manager]()

  private val managers =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Manager]())

  // ---- configuration ----

  /** Install a group tree + selectors for `spark` from the reference's
    * JSON config file shape. Replaces any previous configuration. */
  def configure(spark: SparkSession, jsonPath: String): Unit =
    configure(spark, parseConfig(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(jsonPath)),
        java.nio.charset.StandardCharsets.UTF_8)))

  def configure(spark: SparkSession, config: Config): Unit =
    managers.put(spark, new Manager(config))

  /** HOT reload (DbResourceGroupConfigurationManager.load semantics,
    * DbResourceGroupConfigurationManager.java:193-247): swap selectors
    * and group limits WITHOUT a restart and WITHOUT dropping live
    * counters. Every instantiated group whose template survives is
    * re-pointed at its new spec in place (running/queued intact — the
    * reference reconfigures existing InternalResourceGroups, it never
    * recreates them); groups whose template was deleted are dropped if
    * idle and frozen (old limits, no new routing — selectors no longer
    * name them) while draining otherwise; raised concurrency limits
    * promote parked waiters immediately. Falls back to configure()
    * when no manager is installed. */
  def reconfigure(spark: SparkSession, config: Config): Unit = {
    val m = managers.get(spark)
    if (m == null) { configure(spark, config); return }
    m.lock.synchronized {
      m.config = config
      val dead = Seq.newBuilder[String]
      m.states.foreach { case (id, st) =>
        specForId(config, id) match {
          case Some(sp) => st.spec = sp
          case None => if (st.running == 0 && st.queued == 0) dead += id
        }
      }
      dead.result().foreach(m.states.remove)
      promoteLocked(m)
    }
  }

  /** Resolve a concrete instantiated group id against a (possibly new)
    * config tree: a segment matches its spec by exact name or by being
    * an expansion of a `${USER}`/`${SOURCE}` template at that level
    * (exact wins — mirrors pathFor's resolution order). */
  private def specForId(config: Config, id: String): Option[GroupSpec] = {
    var specs = config.rootGroups
    var found: Option[GroupSpec] = None
    id.split('.').foreach { seg =>
      specs.find(_.name == seg).orElse(specs.find(_.name.contains("${"))) match {
        case Some(s) => found = Some(s); specs = s.subGroups
        case None => return None
      }
    }
    found
  }

  /** File-based hot reload: installs the config at `jsonPath` and polls
    * its mtime (default every second — the reference's
    * configExecutor.scheduleWithFixedDelay(this::load, 1, 1, SECONDS)),
    * re-parsing and [[reconfigure]]-ing on change. A malformed edit
    * keeps the previous configuration running (the reference logs the
    * load error and retains the last good spec). Returns a handle that
    * stops the watcher; the daemon thread never outlives it. */
  def watch(spark: SparkSession, jsonPath: String,
      intervalMs: Long = 1000L): AutoCloseable = {
    configure(spark, jsonPath)
    val p = java.nio.file.Paths.get(jsonPath)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var lastStamp =
      try java.nio.file.Files.getLastModifiedTime(p).toMillis catch { case _: Throwable => 0L }
    val t = new Thread(() => {
      while (!stop.get()) {
        try {
          Thread.sleep(intervalMs)
          val stamp = java.nio.file.Files.getLastModifiedTime(p).toMillis
          if (stamp != lastStamp) {
            lastStamp = stamp
            reconfigure(spark, parseConfig(new String(
              java.nio.file.Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8)))
          }
        } catch {
          case _: InterruptedException => // stop() interrupting the sleep
          case t: Throwable => // malformed edit or transient IO: keep last good config
            System.err.println(s"[resource-groups] reload of $jsonPath failed: ${t.getMessage}")
        }
      }
    }, s"graft-rg-watch-${p.getFileName}")
    t.setDaemon(true)
    t.start()
    () => { stop.set(true); t.interrupt() }
  }

  /** Remove admission control (the default: every query runs at once).
    * Parked waiters are drained and admitted as no-op permits — tearing
    * down the config must never leave a thread blocked forever on a
    * latch nobody will count down. */
  def disable(spark: SparkSession): Unit = {
    val m = managers.remove(spark)
    if (m != null) m.lock.synchronized {
      val it = m.waiters.iterator()
      while (it.hasNext) {
        val w = it.next()
        it.remove()
        w.state = Waiter.Disabled
        w.latch.countDown()
      }
    }
  }

  def enabled(spark: SparkSession): Boolean = managers.get(spark) != null

  private[graft] def parseConfig(jsonText: String): Config = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(jsonText)
    def groups(node: com.fasterxml.jackson.databind.JsonNode): Seq[GroupSpec] =
      if (node == null) Seq.empty
      else {
        val b = Seq.newBuilder[GroupSpec]
        node.forEach { g =>
          // maxRunning is the spec's legacy alias for hardConcurrencyLimit
          val hard =
            if (g.has("hardConcurrencyLimit")) g.get("hardConcurrencyLimit").asInt()
            else if (g.has("maxRunning")) g.get("maxRunning").asInt()
            else Int.MaxValue
          b += GroupSpec(
            name = g.get("name").asText(),
            hardConcurrencyLimit = hard,
            maxQueued = if (g.has("maxQueued")) g.get("maxQueued").asInt() else Int.MaxValue,
            subGroups = groups(g.get("subGroups")),
            schedulingPolicy =
              if (g.has("schedulingPolicy")) g.get("schedulingPolicy").asText() else "fair",
            schedulingWeight =
              if (g.has("schedulingWeight")) g.get("schedulingWeight").asInt() else 1)
        }
        b.result()
      }
    val sels = Seq.newBuilder[Selector]
    Option(root.get("selectors")).foreach(_.forEach { s =>
      val tags = Option(s.get("clientTags")).map { arr =>
        val b = Seq.newBuilder[String]
        arr.forEach(t => b += t.asText())
        b.result()
      }.getOrElse(Seq.empty)
      def range(n: com.fasterxml.jackson.databind.JsonNode,
          parse: String => Long): EstimateRange =
        EstimateRange(
          min = Option(n.get("min")).map(x => parse(x.asText())),
          max = Option(n.get("max")).map(x => parse(x.asText())))
      val est = Option(s.get("resourceEstimate")).map { n =>
        SelectorResourceEstimate(
          executionTime = Option(n.get("executionTime")).map(range(_, parseDuration)),
          cpuTime = Option(n.get("cpuTime")).map(range(_, parseDuration)),
          peakMemory = Option(n.get("peakMemory")).map(range(_, parseDataSize)))
      }
      sels += Selector(
        user = Option(s.get("user")).map(_.asText().r),
        source = Option(s.get("source")).map(_.asText().r),
        group = s.get("group").asText(),
        clientTags = tags,
        queryType = Option(s.get("queryType")).map(_.asText()),
        resourceEstimate = est)
    })
    Config(groups(root.get("rootGroups")), sels.result())
  }

  /** Classify a statement into the reference's QueryType enum
    * (StatementUtils.java:66-114, QueryType.java): SELECT (queries),
    * INSERT (INSERT + CTAS), DELETE, EXPLAIN, DESCRIBE (SHOW family,
    * DESCRIBE INPUT/OUTPUT), DATA_DEFINITION (DDL, session control,
    * transaction control, PREPARE/DEALLOCATE). None when the text
    * matches no known statement kind — a typed selector then never
    * matches, exactly the reference's getQueryType().orElse("") path. */
  def queryTypeOf(sql: String): Option[String] =
    queryTypeOf(sql, _ => None)

  /** As [[queryTypeOf]], resolving `EXECUTE name` through the caller's
    * prepared-statement map (the reference classifies the parsed AST,
    * where Execute resolves to its prepared statement's kind). */
  def queryTypeOf(sql: String, prepared: String => Option[String]): Option[String] = {
    // strip leading comments first: dbt/ORM clients routinely prefix
    // statements with `-- model x` / `/* hints */`, which the
    // reference's AST-based classification never sees
    var t = sql
    var stripped = true
    while (stripped) {
      val s0 = t.trim
      t =
        if (s0.startsWith("--")) s0.dropWhile(_ != '\n')
        else if (s0.startsWith("/*")) {
          val end = s0.indexOf("*/")
          if (end >= 0) s0.substring(end + 2) else ""
        } else s0
      stripped = t != s0
    }
    val up = t.trim.toUpperCase(java.util.Locale.ROOT)
    def starts(k: String) = up.startsWith(k)
    if (starts("EXECUTE")) {
      val name = up.stripPrefix("EXECUTE").trim
        .takeWhile(c => c.isLetterOrDigit || c == '_').toLowerCase
      return prepared(name).flatMap(queryTypeOf(_, _ => None))
    }
    if (starts("SELECT") || starts("WITH") || starts("VALUES") ||
      starts("TABLE ") || starts("(")) Some("SELECT")
    else if (starts("EXPLAIN")) Some("EXPLAIN")
    else if (starts("INSERT")) Some("INSERT")
    else if (starts("CREATE TABLE") &&
      "(?s)\\bAS\\b\\s*\\(?\\s*(SELECT|WITH|VALUES|TABLE)\\b".r.findFirstIn(up).isDefined)
      Some("INSERT") // CreateTableAsSelect -> INSERT (StatementUtils.java:74)
    else if (starts("DELETE")) Some("DELETE")
    else if (starts("SHOW") || starts("DESCRIBE") || starts("DESC ")) Some("DESCRIBE")
    else if (starts("CREATE") || starts("DROP") || starts("ALTER") ||
      starts("USE ") || starts("USE\n") || starts("SET ") || starts("RESET") ||
      starts("START TRANSACTION") || starts("COMMIT") || starts("ROLLBACK") ||
      starts("CALL") || starts("GRANT") || starts("REVOKE") ||
      starts("PREPARE") || starts("DEALLOCATE")) Some("DATA_DEFINITION")
    else None
  }

  // ---- selection (StaticSelector.java semantics: first match wins) ----

  /** Resolve (user, source, clientTags) to a concrete dotted group id,
    * expanding `${USER}`/`${SOURCE}` template segments. None = no
    * selector matched (the reference rejects the query; so do we). */
  private[graft] def selectGroup(config: Config, user: String, source: String,
      clientTags: Seq[String] = Seq.empty, queryType: Option[String] = None,
      estimates: ResourceEstimates = ResourceEstimates()): Option[String] =
    config.selectors.collectFirst {
      case s if s.user.forall(_.matches(user)) && s.source.forall(_.matches(source)) &&
          s.clientTags.forall(clientTags.contains) &&
          s.queryType.forall(_.equalsIgnoreCase(queryType.getOrElse(""))) &&
          s.resourceEstimate.forall(_.matches(estimates)) =>
        s.group.replace("${USER}", user).replace("${SOURCE}", source)
    }

  /** Concrete group states along the path root..leaf for a dotted id,
    * instantiating template (`${USER}`/`${SOURCE}`) groups on demand.
    * Throws if the id names no configured group. */
  private def pathFor(m: Manager, id: String, user: String, source: String): Seq[GroupState] = {
    val segs = id.split('.').toSeq
    var specs = m.config.rootGroups
    var prefix = List.empty[String]
    val path = Seq.newBuilder[GroupState]
    segs.foreach { seg =>
      val spec = specs.find(_.name == seg)
        .orElse(specs.find(s => s.name.replace("${USER}", user)
          .replace("${SOURCE}", source) == seg))
        .getOrElse(throw new IllegalArgumentException(
          s"No resource group configured for '$id' (missing segment '$seg')"))
      prefix = seg :: prefix
      val concrete = prefix.reverse.mkString(".")
      path += m.states.getOrElseUpdate(concrete, new GroupState(concrete, spec))
      specs = spec.subGroups
    }
    path.result()
  }

  private def canRunLocked(path: Seq[GroupState]): Boolean =
    path.forall(g => g.running < g.spec.hardConcurrencyLimit)

  /** Promote runnable waiters until none are eligible. Selection order
    * (SchedulingPolicy semantics): the oldest eligible waiter names the
    * contended spot. If its LEAF group's policy is query_priority, the
    * highest-priority eligible waiter of that leaf wins (FIFO among
    * equals) — the reference's per-group priority queue. If its PARENT
    * group's policy is weighted_fair, eligible waiters of sibling
    * leaves compete by LOWEST leaf running/schedulingWeight ratio (FIFO
    * among ties) — the reference's WeightedFairQueue arbitration among
    * subgroups. Otherwise FIFO. */
  private def promoteLocked(m: Manager): Unit = {
    import scala.jdk.CollectionConverters._
    var progressed = true
    while (progressed) {
      progressed = false
      val eligible = m.waiters.iterator().asScala.filter(w => canRunLocked(w.path)).toSeq
      if (eligible.nonEmpty) {
        val oldest = eligible.head
        val leaf = oldest.path.last
        val parent = if (oldest.path.length >= 2) Some(oldest.path(oldest.path.length - 2)) else None
        val pick =
          if (leaf.spec.schedulingPolicy == "query_priority")
            eligible.filter(_.path.last eq leaf).maxBy(w => (w.priority, -w.seq))
          else parent match {
            case Some(p) if p.spec.schedulingPolicy == "weighted_fair" =>
              eligible
                .filter(w => w.path.length >= 2 && (w.path(w.path.length - 2) eq p))
                .minBy { w =>
                  val l = w.path.last
                  (l.running.toDouble / math.max(1, l.spec.schedulingWeight), w.seq.toDouble)
                }
            case _ => oldest
          }
        pick.path.foreach { g => g.running += 1 }
        pick.path.foreach { g => g.queued -= 1 }
        m.waiters.remove(pick)
        pick.state = Waiter.Promoted
        pick.latch.countDown()
        progressed = true
      }
    }
  }

  /** Admit a query: returns when a slot is held on every group along
    * the selected path. `onQueued` fires once if the query has to wait
    * (the caller surfaces the QUEUED state). Throws the reference's
    * queue-full error when any group's queue is at maxQueued, and an
    * unknown-group error when no selector matches.
    *
    * When no configuration is installed this is free: a no-op permit. */
  def acquire(spark: SparkSession, user: String, source: String,
      onQueued: () => Unit = () => (), priority: Int = 1,
      clientTags: Seq[String] = Seq.empty, queryType: Option[String] = None,
      estimates: ResourceEstimates = ResourceEstimates()): Permit = {
    val m = managers.get(spark)
    if (m == null || (holders.get(Thread.currentThread()) eq m))
      return new Permit(None, Seq.empty)
    val groupId = selectGroup(m.config, user, source, clientTags, queryType, estimates)
      .getOrElse(throw new IllegalArgumentException(
        s"Query did not match any selector (user '$user', source '$source')"))
    val waiter = m.lock.synchronized {
      val path = pathFor(m, groupId, user, source)
      if (canRunLocked(path)) {
        path.foreach(_.running += 1)
        holders.put(Thread.currentThread(), m)
        return new Permit(Some(m), path)
      }
      path.find(g => g.queued >= g.spec.maxQueued).foreach { g =>
        // QueryQueueFullException.java:30
        throw new IllegalStateException(s"""Too many queued queries for "${g.id}"""")
      }
      path.foreach(_.queued += 1)
      m.seqCounter += 1
      val w = new Waiter(path, priority, m.seqCounter)
      m.waiters.addLast(w)
      w
    }
    // Abnormal exit while queued (interrupted await — a cancel/reaper
    // unparking us — or an onQueued callback failure) must give back
    // exactly what this waiter holds at that instant: its queue slot if
    // still QUEUED, or the running slots if a racing promoteLocked
    // already handed them over before the interrupt landed. Without the
    // rollback every such exit permanently shrinks maxQueued headroom
    // or leaks a running slot (both observed as spurious rejections).
    try {
      onQueued()
      waiter.latch.await()
    } catch {
      case t: Throwable =>
        m.lock.synchronized {
          waiter.state match {
            case Waiter.Queued =>
              m.waiters.remove(waiter)
              waiter.path.foreach(_.queued -= 1)
            case Waiter.Promoted =>
              waiter.path.foreach(_.running -= 1)
              promoteLocked(m)
            case _ => // Disabled: manager torn down, counters are gone
          }
        }
        throw t
    }
    if (waiter.state == Waiter.Disabled) return new Permit(None, Seq.empty)
    holders.put(Thread.currentThread(), m)
    new Permit(Some(m), waiter.path)
  }

  /** (groupId, running, queued, hardConcurrencyLimit, maxQueued) rows —
    * observability for system.runtime-style introspection and specs. */
  def snapshot(spark: SparkSession): Seq[(String, Int, Int, Int, Int)] =
    snapshotDetail(spark).map(r =>
      (r.groupId, r.running, r.queued, r.hardConcurrencyLimit, r.maxQueued))

  /** Full per-group rows for system.runtime.resource_groups (the
    * reference's ResourceGroupInfo shape: state + limits + policy). */
  final case class GroupRow(groupId: String, running: Int, queued: Int,
      hardConcurrencyLimit: Int, maxQueued: Int,
      schedulingPolicy: String, schedulingWeight: Int)

  def snapshotDetail(spark: SparkSession): Seq[GroupRow] = {
    val m = managers.get(spark)
    if (m == null) Seq.empty
    else m.lock.synchronized {
      m.states.values.toSeq.sortBy(_.id).map(g =>
        GroupRow(g.id, g.running, g.queued, g.spec.hardConcurrencyLimit,
          g.spec.maxQueued, g.spec.schedulingPolicy, g.spec.schedulingWeight))
    }
  }

  /** The reference's ResourceGroupInfo document
    * (server/ResourceGroupInfo.java:32-52) for one INSTANTIATED group,
    * as served by GET /v1/resourceGroupState/{id}
    * (server/ResourceGroupStateInfoResource.java:39-70 →
    * InternalResourceGroup.getFullInfo:157-179). `state` follows
    * InternalResourceGroup.getState:227-238 (CAN_RUN while a run slot
    * is free, else CAN_QUEUE while a queue slot is free, else FULL);
    * `subGroups` are the instantiated children with live work
    * (running+queued > 0), SUMMARY-shaped — no grandchildren — exactly
    * the getFullInfo filter; `numEligibleSubGroups` counts children
    * with waiters. This engine has no per-group memory accounting
    * (Spark's unified memory manager owns the heap), so
    * softMemoryLimit reports the JVM max heap and memoryUsage 0 —
    * the single-pool analog of the reference's general-pool split. */
  final case class GroupInfo(
      segments: Seq[String], state: String, schedulingPolicy: String,
      schedulingWeight: Int, softMemoryLimitBytes: Long,
      softConcurrencyLimit: Int, hardConcurrencyLimit: Int,
      maxQueuedQueries: Int, memoryUsageBytes: Long,
      numQueuedQueries: Int, numRunningQueries: Int,
      numEligibleSubGroups: Int, subGroups: Seq[GroupInfo])

  /** None when no manager is installed or the dotted id names no
    * instantiated group (the resource maps both to 404, mirroring the
    * manager's checkArgument(groups.containsKey(id))). */
  def groupInfo(spark: SparkSession, segments: Seq[String]): Option[GroupInfo] = {
    val m = managers.get(spark)
    if (m == null || segments.isEmpty) None
    else m.lock.synchronized {
      val id = segments.mkString(".")
      m.states.get(id).map { g =>
        val prefix = id + "."
        val children = m.states.values.toSeq
          .filter(c => c.id.startsWith(prefix) && !c.id.drop(prefix.length).contains('.'))
          .sortBy(_.id)
        def stateOf(s: GroupState): String =
          if (s.running < s.spec.hardConcurrencyLimit) "CAN_RUN"
          else if (s.queued < s.spec.maxQueued) "CAN_QUEUE"
          else "FULL"
        def eligibleChildren(s: GroupState): Int = {
          val p = s.id + "."
          m.states.values.count(c =>
            c.id.startsWith(p) && !c.id.drop(p.length).contains('.') && c.queued > 0)
        }
        def info(s: GroupState, subs: Seq[GroupInfo]): GroupInfo =
          GroupInfo(s.id.split('.').toSeq, stateOf(s),
            s.spec.schedulingPolicy.toUpperCase(java.util.Locale.ROOT),
            s.spec.schedulingWeight, Runtime.getRuntime.maxMemory(),
            s.spec.hardConcurrencyLimit, s.spec.hardConcurrencyLimit,
            s.spec.maxQueued, 0L, s.queued, s.running,
            eligibleChildren(s), subs)
        info(g, children.filter(c => c.running + c.queued > 0)
          .map(c => info(c, Seq.empty)))
      }
    }
  }
}
