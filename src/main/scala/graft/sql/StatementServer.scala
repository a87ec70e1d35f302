package graft.sql

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Loopback HTTP statement protocol — the reference's client front door
  * (presto-main/.../server/protocol/StatementResource.java:84 `@Path
  * "/v1/statement"`, createQuery :130, paged GET :166; the client loop
  * lives in presto-client StatementClient). Every real client (CLI,
  * JDBC) drives this three-verb loop:
  *
  *   POST /v1/statement            body = SQL  -> { id, nextUri, stats }
  *   GET  /v1/statement/{id}/{tok}             -> { columns, data, nextUri?, stats }
  *   DELETE /v1/statement/{id}/{tok}           -> cancel (job-group kill)
  *
  * A response WITHOUT nextUri is the protocol's end-of-results signal;
  * the client polls nextUri until then.
  *
  * Session state is client-carried, exactly the reference's wire
  * contract (PrestoHeaders.java:26-37): requests may bring
  * `X-Presto-Session: k=v,...`, `X-Presto-Prepared-Statement:
  * name=urlencoded-sql,...` and `X-Presto-Transaction-Id: id`; the
  * server overlays them for the statement, and answers state-changing
  * statements (SET/RESET SESSION, PREPARE/DEALLOCATE, START
  * TRANSACTION/COMMIT/ROLLBACK) with `X-Presto-Set-Session` /
  * `X-Presto-Clear-Session` / `X-Presto-Added-Prepare` /
  * `X-Presto-Deallocated-Prepare` / `X-Presto-Started-Transaction-Id` /
  * `X-Presto-Clear-Transaction-Id` for the client to fold into its next
  * request — the loop every JDBC/CLI client drives after its first
  * query. See [[PrestoSql.clientStatement]] for the overlay semantics. Cancellation and failure
  * surface in system.runtime.queries exactly like direct front-door
  * statements because submission rides [[PrestoSql.sqlWithId]] — same
  * query ids, same job group, same log.
  *
  * Execution/backpressure model (the scale story): each query runs on
  * ONE worker thread that owns all Spark actions — it drives
  * `toLocalIterator()` (one partition materialized at a time, never a
  * whole-result collect) and hands fixed-size pages to a BOUNDED queue
  * (capacity 16). A slow client therefore stalls the worker at ~16
  * pages of buffered rows, not at the full result set — the driver's
  * memory for a 100 TB result drain is O(pageSize x 16). GET handlers
  * never touch Spark: they only poll the queue, so the job-group
  * thread-local stays on the worker and DELETE's job-group cancel
  * interrupts the real execution. A GET parks on the queue holding only
  * the query's poll lock (one GET of a query at a time), never the query
  * monitor, so DELETE and the kill verbs never wait behind a parked poll.
  * A page with the end marker already queued behind it is the last one:
  * it goes out without a nextUri, saving the client a round trip.
  *
  * Concurrency between workers: the statement's synchronous part
  * (analysis, and eager execution of INSERT / SHOW / DESCRIBE / DDL)
  * runs in [[PrestoSql.clientStatement]]'s client-state window.
  * Headerless reads and INSERT INTO appends share it, so a point lookup
  * never queues behind another client's INSERT; appends commit one at a
  * time, and a read of a catalog table waits out a commit in progress.
  * Statements that carry or change client state hold it exclusively.
  * The drain (`toLocalIterator`) runs outside the window.
  *
  * JSON is hand-rendered: the envelope is small and flat, and keeping
  * the server dependency-free matters more than a mapper.
  */
object StatementServer {

  private val PageRows = 1024
  private val PageQueueCap = 16

  private sealed trait Slot
  private final case class PageSlot(rows: Seq[Seq[Any]]) extends Slot
  private case object EndSlot extends Slot

  private final class QueryExec(val id: String, val sqlText: String,
      val headerProps: Seq[(String, String)],
      val headerStmts: Seq[(String, String)],
      val headerTxn: Option[String],
      val source: String,
      val user: String,
      val headerCatalog: Option[String],
      val headerSchema: Option[String],
      val clientTags: Seq[String] = Seq.empty,
      val clientInfo: Option[String] = None,
      val traceToken: Option[String] = None,
      val queryType: Option[String] = None,
      val estimates: ResourceGroups.ResourceEstimates = ResourceGroups.ResourceEstimates(),
      val clientCapabilities: Seq[String] = Seq.empty) {
    val state = new AtomicReference[String]("QUEUED")
    // Worker thread while the query is live — cancel() interrupts it so
    // a QUEUED waiter parked inside ResourceGroups.acquire unparks
    // immediately (rolling back its queue slot) instead of being
    // promoted later and executing a statement the user already
    // cancelled. Guarded by `this` against the finished-worker/recycled-
    // thread race.
    var workerThread: Thread = null
    // Client-liveness heartbeat (the reference's Query.getLastHeartbeat,
    // updated on every poll) — the abandonment reaper's input.
    @volatile var lastHeartbeat: Long = System.currentTimeMillis()
    @volatile var columns: Seq[(String, String)] = Seq.empty
    @volatile var error: Option[String] = None
    /** StandardErrorCode NAME when the failure came from an admin verb
      * or cancel (ADMINISTRATIVELY_KILLED / ADMINISTRATIVELY_PREEMPTED /
      * USER_CANCELED) — the race witness QueryResource.failQuery checks. */
    @volatile var errorName: Option[String] = None
    /** Concrete resource group this query was admitted under (None when
      * admission control is off) — feeds /v1/queryState and
      * /v1/resourceGroupState runningQueries. */
    @volatile var resourceGroup: Option[String] = None
    val pages = new ArrayBlockingQueue[Slot](PageQueueCap)
    // Sequential-token contract with single-step retry: the client may
    // re-GET the token it just fetched (its POST/GET response may have
    // been lost) and gets the identical page back (StatementResource's
    // last-result caching).
    @volatile var nextToken: Long = 0L
    @volatile var lastServed: Option[(Long, String)] = None
    @volatile var done: Boolean = false
    // DELETE poison flag: the worker re-checks it before every blocking
    // queue hand-off, so a cancelled query's worker exits promptly
    // instead of re-parking on slots nobody will drain.
    @volatile var cancelled: Boolean = false
    @volatile var workerFinished: Boolean = false
    // Statement-caused session-state changes, diffed against the
    // client-supplied header overlay — rendered as the response headers
    // the client accumulates (reference StatementClient.processResponse).
    @volatile var setSession: Seq[(String, String)] = Seq.empty
    @volatile var clearSession: Seq[String] = Seq.empty
    @volatile var addedPrepare: Seq[(String, String)] = Seq.empty
    @volatile var deallocatedPrepare: Seq[String] = Seq.empty
    @volatile var startedTxn: Option[String] = None
    @volatile var clearTxn: Boolean = false
    @volatile var setCatalog: Option[String] = None
    @volatile var setSchema: Option[String] = None
    // Held by a GET across its queue poll instead of the query monitor:
    // it keeps two GETs of one token from both taking a page, and leaves
    // the monitor free for doCancel.
    val pollLock = new Object
  }

  final class Server private[StatementServer] (
      spark: SparkSession, http: HttpServer, val port: Int,
      clientTimeoutMs: Long) {
    private[StatementServer] val queries = new ConcurrentHashMap[String, QueryExec]()
    private[StatementServer] val pool = Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-statement-worker")
      t.setDaemon(true)
      t
    })
    private[StatementServer] def session: SparkSession = spark

    // Abandonment reaper (QueryTracker.java:247-269 failAbandonedQueries
    // + :273-276 isAbandoned): a client that stops polling — no GET, no
    // DELETE — must not park its worker at the page-queue cap forever
    // while it HOLDS its resource-group slot; under a concurrency-1
    // group that is permanent starvation. Sweep cadence is a fraction
    // of the timeout so detection lags by at most ~timeout/4.
    private[StatementServer] val reaper =
      Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-statement-reaper")
        t.setDaemon(true)
        t
      })
    reaper.scheduleWithFixedDelay(() => {
      val horizon = System.currentTimeMillis() - clientTimeoutMs
      queries.values().forEach { q =>
        if (!q.done && !q.workerFinished && q.lastHeartbeat < horizon)
          doCancel(this, q,
            // QueryTracker.java:259 error shape
            s"Query ${q.id} has not been accessed since ${new java.sql.Timestamp(q.lastHeartbeat)}: currentTime ${new java.sql.Timestamp(System.currentTimeMillis())}")
      }
    }, math.max(1, clientTimeoutMs / 4), math.max(1, clientTimeoutMs / 4),
      TimeUnit.MILLISECONDS)

    def baseUri: String = s"http://127.0.0.1:$port"

    // ---- monitoring-surface state (ServerInfoResource.java:55 startTime,
    // GracefulShutdownHandler; ClusterStatsResource totals) ----
    private[StatementServer] val startNanos = System.nanoTime()
    private[StatementServer] val shuttingDown = new java.util.concurrent.atomic.AtomicBoolean(false)
    // Cumulative rows served through the statement protocol — the
    // front door's honest analog of the reference coordinator's
    // consumed-input counters (we meter what crosses the wire; the
    // reference meters what the scans read).
    private[StatementServer] val rowsServed = new java.util.concurrent.atomic.AtomicLong(0L)
    private[StatementServer] val bytesServed = new java.util.concurrent.atomic.AtomicLong(0L)

    def isShuttingDown: Boolean = shuttingDown.get()

    // ---- password authentication (PasswordAuthenticatorManager role:
    // once an authenticator is set, the statement endpoint REQUIRES
    // Basic credentials; the authenticated principal then rides the
    // existing identity path) ----
    @volatile private[StatementServer] var authenticator
      : Option[PasswordAuth.Authenticator] = None

    /** Install (or clear) the password authenticator — the
      * PasswordAuthenticatorManager.setRequired + factory wiring. */
    def setPasswordAuthenticator(a: Option[PasswordAuth.Authenticator]): Unit =
      authenticator = a

    /** True once the query's worker thread has fully exited (pages
      * drained or cancel observed) — the DELETE-hygiene observable. */
    def workerFinished(id: String): Boolean =
      Option(queries.get(id)).forall(_.workerFinished)

    def stop(): Unit = {
      http.stop(0)
      reaper.shutdownNow()
      pool.shutdownNow()
      ()
    }
  }

  /** Bind a loopback server for `spark` on `port` (0 = ephemeral; the
    * bound port is known at create time, before start).
    * `clientTimeoutMs` = how long a live query may go without a client
    * poll before the reaper cancels it (the reference's
    * query.client.timeout, default 5 min). */
  def start(spark: SparkSession, port: Int = 0,
      clientTimeoutMs: Long = 5 * 60 * 1000L): Server = {
    // TCP_NODELAY on accepted sockets: the JDK server writes the headers
    // and the body as two segments, and without it every response waits
    // ~40 ms for the client's delayed ACK (Nagle). The JDK reads this
    // property once, when the first server is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val bound = new Server(spark, http, http.getAddress.getPort, clientTimeoutMs)
    http.createContext("/v1/statement", (ex: HttpExchange) => handle(bound, ex))
    http.createContext("/v1/query", (ex: HttpExchange) => handleQueryInfo(bound, ex))
    // Ops/monitoring surface (the endpoints the reference web UI, load
    // balancers and health checks poll): ServerInfoResource (/v1/info,
    // /v1/info/state, /v1/info/coordinator), StatusResource
    // (/v1/status), ClusterStatsResource (/v1/cluster), NodeResource
    // (/v1/node, /v1/node/failed), QueryStateInfoResource
    // (/v1/queryState).
    http.createContext("/v1/info", (ex: HttpExchange) => handleInfo(bound, ex))
    http.createContext("/v1/status", (ex: HttpExchange) => handleStatus(bound, ex))
    http.createContext("/v1/cluster", (ex: HttpExchange) => handleCluster(bound, ex))
    http.createContext("/v1/node", (ex: HttpExchange) => handleNode(bound, ex))
    http.createContext("/v1/queryState", (ex: HttpExchange) => handleQueryState(bound, ex))
    // round-14 coordinator tail: ResourceGroupStateInfoResource
    // (/v1/resourceGroupState/{id}) and MemoryResource (/v1/memory);
    // /v1/cluster/memory + /v1/cluster/workerMemory dispatch inside
    // handleCluster, PUT {id}/killed|preempted inside handleQueryInfo.
    http.createContext("/v1/resourceGroupState",
      (ex: HttpExchange) => handleResourceGroupState(bound, ex))
    http.createContext("/v1/memory", (ex: HttpExchange) => handleMemory(bound, ex))
    // round-15: TaskResource's read-only observability slice (tasks =
    // live Spark stages; the data-plane verbs adjudicate 405).
    http.createContext("/v1/task", (ex: HttpExchange) => handleTask(bound, ex))
    http.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-statement-http")
      t.setDaemon(true)
      t
    }))
    http.start()
    bound
  }

  // ---- request routing ----

  /** AuthenticationFilter.doFilter analog — the reference binds the
    * filter to the WHOLE servlet (AuthenticationFilter.java:61-106), not
    * just /v1/statement, so once a password authenticator is installed
    * EVERY /v1 context authenticates before its handler runs: an
    * anonymous caller must not read another query's SQL text via
    * /v1/query, nor kill/preempt via the admin verbs, nor walk
    * /v1/queryState//v1/cluster//v1/memory//v1/resourceGroupState.
    * Returns the principal (None = response already written, caller
    * must abandon the exchange). No authenticator installed = open, the
    * reference's !request.isSecure()/empty-authenticators passthrough. */
  private def authGate(server: Server, ex: HttpExchange): Either[Unit, Option[String]] =
    server.authenticator match {
      case None => Right(None)
      case Some(auth) =>
        PasswordAuth.authenticate(auth,
          Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
          case Left(fail) =>
            fail.challenge.foreach(c =>
              ex.getResponseHeaders.set("WWW-Authenticate", c))
            respond(ex, 401,
              fail.message.map(m => s"""{"error":${jsonString(m)}}""").getOrElse(""))
            Left(())
          case Right(principal) =>
            ex.setAttribute("graft.principal", principal)
            Right(Some(principal))
        }
    }

  private def handle(server: Server, ex: HttpExchange): Unit =
    try {
      // when a password authenticator is installed, every
      // statement-protocol request authenticates first; failures are
      // 401s carrying the Basic challenge/message. The principal-match
      // rule (QuerySessionSupplier.java:63 checkCanSetUser): an explicit
      // X-Presto-User must equal the authenticated principal —
      // impersonation is denied (403); an absent user header inherits
      // the principal.
      authGate(server, ex) match {
        case Left(()) => return
        case Right(principalOpt) =>
          principalOpt.foreach { principal =>
            val hdrUser = Option(ex.getRequestHeaders.getFirst("X-Presto-User"))
            if (hdrUser.exists(_ != principal)) {
              respond(ex, 403, s"""{"error":${jsonString(
                s"Access Denied: Authenticated user $principal cannot become user ${hdrUser.get}")}}""")
              return
            }
          }
      }
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/statement")
      (ex.getRequestMethod, path.split('/').filter(_.nonEmpty).toSeq) match {
        case ("POST", Seq()) => submit(server, ex)
        case ("GET", Seq(id, tok)) => page(server, ex, id, tok.toLong)
        case ("DELETE", Seq(id, _)) => cancel(server, ex, id)
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** `k=v[,k2=v2]` request-header lists (X-Presto-Session /
    * X-Presto-Prepared-Statement). Values are URL-encoded on the wire
    * (the reference client urlEncodes prepared SQL, which contains
    * commas and equals signs); decode after the first '='. Repeated
    * headers concatenate. */
  private def kvHeader(ex: HttpExchange, name: String): Seq[(String, String)] = {
    val vs = ex.getRequestHeaders.get(name)
    if (vs == null) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      vs.asScala.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k.trim -> java.net.URLDecoder.decode(v.trim, UTF_8))
          case _ => None
        }
      }
    }
  }

  private def submit(server: Server, ex: HttpExchange): Unit = {
    // GracefulShutdownHandler semantics: once SHUTTING_DOWN, in-flight
    // queries drain but new work is refused.
    if (server.shuttingDown.get()) {
      respond(ex, 503, """{"error":"Server is shutting down"}"""); return
    }
    val sqlText = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
    if (sqlText.isEmpty) { respond(ex, 400, """{"error":"empty statement"}"""); return }
    val created = System.currentTimeMillis()
    val id = SystemTables.newQueryId(created)
    // X-Presto-Time-Zone / X-Presto-Language (PrestoHeaders.java:23-24;
    // QuerySessionSupplier builds the session zone/locale from them) ride
    // the session-property overlay as time_zone_id / language — the zone
    // maps onto spark.sql.session.timeZone for this statement's window
    // (so current_time / AT TIME ZONE render in the CLIENT's zone), the
    // locale is recorded session state. Header-derived entries are
    // PREPENDED so an explicit X-Presto-Session key still wins.
    val localeProps =
      Option(ex.getRequestHeaders.getFirst("X-Presto-Time-Zone"))
        .map { z =>
          // validate BEFORE the overlay applies it to the live conf — a
          // bogus zone must fail the request, not dirty shared state
          // (reference: TimeZoneKey.getTimeZoneKey throws for unknown
          // ids). SHORT_IDS keeps legacy three-letter zones (EST,
          // EST5EDT...) accepted, matching both Spark's getZoneId and
          // the reference's zone-key table. A bad header is a CLIENT
          // error: 400 like the empty-statement path, not the generic
          // 500 handler (the reference's PrestoServerException maps
          // header validation to 4xx).
          try java.time.ZoneId.of(z, java.time.ZoneId.SHORT_IDS)
          catch { case _: Exception =>
            respond(ex, 400,
              s"""{"error":${jsonString(s"Unknown time zone: $z")}}""")
            return }
          "time_zone_id" -> z
        }.toSeq ++
      Option(ex.getRequestHeaders.getFirst("X-Presto-Language"))
        .map("language" -> _).toSeq
    val q = new QueryExec(id, sqlText,
      headerProps = localeProps ++ kvHeader(ex, "X-Presto-Session"),
      headerStmts = kvHeader(ex, "X-Presto-Prepared-Statement"),
      headerTxn = Option(ex.getRequestHeaders.getFirst("X-Presto-Transaction-Id")),
      // source = the client's X-Presto-Source header (StatementResource
      // reads the same), default "http"; also the resource-group
      // selector input
      source = Option(ex.getRequestHeaders.getFirst("X-Presto-Source")).getOrElse("http"),
      // user = the client's identity, mandatory on the reference's wire
      // (PrestoHeaders.java:25 X-Presto-User; QuerySessionSupplier
      // builds the session from it) — drives ${USER} resource groups,
      // per-user session defaults, and GRANT enforcement for this
      // statement. Absent header falls back to the server session's
      // principal (the pre-r11 single-tenant behavior).
      user = Option(ex.getRequestHeaders.getFirst("X-Presto-User"))
        // Basic-authenticated requests without an explicit user header
        // act as their authenticated principal (the filter has already
        // enforced the principal-match rule when the header is present)
        .orElse(Option(ex.getAttribute("graft.principal")).map(_.toString))
        .getOrElse(AccessControl.principal(server.session)),
      // catalog/schema context (PrestoHeaders.java:20-21); USE answers
      // Set-Catalog/Set-Schema for the client to echo back here
      headerCatalog = Option(ex.getRequestHeaders.getFirst("X-Presto-Catalog")),
      headerSchema = Option(ex.getRequestHeaders.getFirst("X-Presto-Schema")),
      // client tags (PrestoHeaders.java:39, comma-separated set) route
      // resource-group selection (StaticSelector.java subset match) and
      // land in the query log; trace token / client info
      // (PrestoHeaders.java:25,38) are recorded observability — the
      // hooks distributed tracing reads off system.runtime.queries.
      clientTags = Option(ex.getRequestHeaders.getFirst("X-Presto-Client-Tags"))
        .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      clientInfo = Option(ex.getRequestHeaders.getFirst("X-Presto-Client-Info")),
      traceToken = Option(ex.getRequestHeaders.getFirst("X-Presto-Trace-Token")),
      // queryType classified from the statement text (StatementUtils
      // .java mapping; EXECUTE resolves through the request's prepared-
      // statement headers, then the server session's prepared map) +
      // X-Presto-Resource-Estimate (PrestoHeaders.java:41, k=v list:
      // EXECUTION_TIME/CPU_TIME/PEAK_MEMORY) both feed StaticSelector
      // matching; a malformed estimate is a client error (the
      // reference's badRequest), caught below as 400.
      queryType = ResourceGroups.queryTypeOf(sqlText, name =>
        kvHeader(ex, "X-Presto-Prepared-Statement")
          .collectFirst { case (n, s) if n.equalsIgnoreCase(name) => s }
          .orElse(PrestoSql.preparedStatement(server.session, name))),
      estimates =
        try ResourceGroups.parseResourceEstimates(
          kvHeader(ex, "X-Presto-Resource-Estimate"))
        catch { case e: IllegalArgumentException =>
          respond(ex, 400, s"""{"error":${jsonString(e.getMessage)}}""")
          return },
      // X-Presto-Client-Capabilities (PrestoHeaders.java:40): a comma
      // set recorded on the session like the reference's
      // HttpRequestSessionContext.parseClientCapabilities — surfaced in
      // system.runtime.queries; the known set is {PATH} and unknown
      // names are carried, not rejected (the reference stores the raw
      // set too).
      clientCapabilities =
        Option(ex.getRequestHeaders.getFirst("X-Presto-Client-Capabilities"))
          .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
    server.queries.put(id, q)
    // visible in system.runtime.queries from submission on, like the
    // reference's QUEUED state
    SystemTables.record(server.session, id, sqlText, "QUEUED", created, q.source, q.user,
      clientTags = q.clientTags, clientInfo = q.clientInfo, traceToken = q.traceToken,
      queryType = q.queryType, clientCapabilities = q.clientCapabilities)
    server.pool.execute(() => run(server, q, created))
    respond(ex, 200, envelope(server, q, data = Seq.empty, includeNext = true))
  }

  private def run(server: Server, q: QueryExec, created: Long): Unit = {
    // Bounded hand-off that re-checks the DELETE poison flag: a worker
    // whose client vanished parks at most 100 ms per check instead of
    // forever (post-cancel, GETs serve EndSlot without draining the
    // queue, so an unconditional put could never unblock).
    def putSlot(s: Slot): Boolean = {
      while (!q.cancelled) {
        if (q.pages.offer(s, 100, TimeUnit.MILLISECONDS)) return true
      }
      false
    }
    var restore: () => Unit = () => ()
    // Resource-group admission: stays QUEUED (already recorded at
    // submit) until the group frees a slot; the permit spans the whole
    // drain so concurrency counts cover execution, not just planning.
    // Queue-full rejection takes the ordinary FAILED path below.
    var permit: Option[ResourceGroups.Permit] = None
    q.synchronized { q.workerThread = Thread.currentThread() }
    try {
      // merged query_priority (client header over per-user defaults)
      // drives promotion order in query_priority-scheduled groups
      val priority = q.headerProps
        .collectFirst { case (k, v) if k.equalsIgnoreCase("query_priority") => v }
        .orElse(SessionDefaults.defaultsFor(server.session, q.user, q.source)
          .collectFirst { case ("query_priority", v) => v })
        .flatMap(_.toIntOption).getOrElse(1)
      permit = Some(ResourceGroups.acquire(server.session, q.user, q.source,
        priority = priority, clientTags = q.clientTags,
        queryType = q.queryType, estimates = q.estimates))
      q.resourceGroup = permit.flatMap(_.groupId)
      // a DELETE that landed while we were QUEUED interrupted the parked
      // acquire (rolling back the queue slot); if the promotion RACED the
      // interrupt, the slot is ours — bail before the statement executes
      // anything (a cancelled INSERT must never mutate data)
      if (q.cancelled) throw new InterruptedException("Query was canceled by user")
      q.state.set("RUNNING")
      SystemTables.updateState(server.session, q.id, "RUNNING")
      val st = PrestoSql.clientStatement(server.session, q.sqlText, q.id,
        created, q.headerProps, q.headerStmts, q.headerTxn, q.source, q.user,
        q.headerCatalog, q.headerSchema)
      restore = st.restore
      q.setSession = st.setSession
      q.clearSession = st.clearSession
      q.addedPrepare = st.addedPrepare
      q.deallocatedPrepare = st.deallocatedPrepare
      q.startedTxn = st.startedTransactionId
      q.clearTxn = st.clearTransactionId
      q.setCatalog = st.setCatalog
      q.setSchema = st.setSchema
      val df = st.df
      q.columns = df.schema.fields.toSeq.map(f => (f.name, prestoTypeName(f.dataType)))
      val it = df.toLocalIterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      var alive = true
      while (alive && !q.cancelled && it.hasNext) {
        buf += it.next().toSeq
        if (buf.length >= PageRows) {
          alive = putSlot(PageSlot(buf.toSeq)) // blocks at cap: client backpressure
          buf.clear()
        }
      }
      if (q.cancelled) throw new InterruptedException("Query was canceled by user")
      if (buf.nonEmpty) putSlot(PageSlot(buf.toSeq))
      putSlot(EndSlot)
      // Terminal transition under the query lock: an admin kill racing
      // natural completion must not flip FINISHED->FAILED (doCancel
      // re-checks state inside the same lock); conversely a kill that
      // already recorded FAILED must not be overwritten to FINISHED here.
      val finished = q.synchronized {
        if (q.state.get() == "FAILED") false else { q.state.set("FINISHED"); true }
      }
      if (finished) SystemTables.updateState(server.session, q.id, "FINISHED")
    } catch {
      case t: Throwable =>
        // a DELETE-initiated job-group cancel lands here too; the
        // reference reports user cancellation as a FAILED query. A
        // limit-enforcement kill surfaces its own PrestoException-shaped
        // text, not Spark's generic cancelled-job message. Under the
        // query lock: doCancel's first-error-wins check-then-act races
        // this assignment otherwise; state moves inside the same lock so
        // a FINISHED query (exception thrown post-completion) is never
        // demoted.
        q.synchronized {
          q.error = q.error.orElse(QueryLimits.errorFor(q.id))
            .orElse(Some(Option(t.getMessage).getOrElse(t.toString)))
          if (q.state.get() != "FINISHED") q.state.set("FAILED")
        }
        SystemTables.updateState(server.session, q.id, "FAILED")
        q.pages.clear()
        while (!q.cancelled && !q.pages.offer(EndSlot)) q.pages.clear()
    } finally {
      // release the slot BEFORE restore(): restore may take the
      // exclusive client-state lock, and a statement waiting on our slot
      // must never be gated on that
      permit.foreach(_.release())
      restore()
      q.synchronized {
        q.workerThread = null
        // swallow a cancel()-interrupt that landed after the work was
        // done — this pooled thread must not carry the flag into its
        // next task
        Thread.interrupted()
        q.workerFinished = true
      }
    }
  }

  private def page(server: Server, ex: HttpExchange, id: String, token: Long): Unit = {
    val q = server.queries.get(id)
    if (q == null) { respond(ex, 404, """{"error":"unknown query"}"""); return }
    q.lastHeartbeat = System.currentTimeMillis()
    val (code, body) = q.pollLock.synchronized {
      q.lastServed match {
        case Some((t, body)) if t == token => (200, body)
        case _ if token != q.nextToken =>
          (410, """{"error":"token is gone (sequential access only)"}""")
        case _ =>
          // Poll briefly; an empty page with the SAME nextUri token tells
          // the client to come back (reference: partial results + nextUri).
          val slot =
            if (q.done) EndSlot
            else Option(q.pages.poll(100, TimeUnit.MILLISECONDS)).getOrElse(PageSlot(Seq.empty))
          slot match {
            case EndSlot =>
              q.done = true
              (200, envelope(server, q, Seq.empty, includeNext = false))
            case PageSlot(rows) if rows.isEmpty =>
              (200, envelope(server, q, rows, includeNext = true))
            case PageSlot(rows) =>
              // the end marker already queued behind this page: fold it in
              val last = q.pages.peek() == EndSlot && q.pages.poll() == EndSlot
              if (last) q.done = true
              q.nextToken = token + 1
              val body = envelope(server, q, rows, includeNext = !last)
              q.lastServed = Some((token, body))
              (200, body)
          }
      }
    }
    // after the poll: the worker sets the statement's effects before it
    // queues the first page, so the page that ends the results has them
    stateHeaders(ex, q)
    respond(ex, code, body)
  }

  private def cancel(server: Server, ex: HttpExchange, id: String): Unit = {
    val q = server.queries.get(id)
    if (q == null) { respond(ex, 404, """{"error":"unknown query"}"""); return }
    doCancel(server, q, "Query was canceled by user")
    respond(ex, 204, "")
  }

  /** The infoUri target — the reference's QueryResource
    * (server/QueryResource.java: GET /v1/query/{queryId} returns query
    * info, DELETE cancels, PUT {queryId}/killed and {queryId}/preempted
    * fail the query with an administrative error carrying the caller's
    * message, QueryResource.java:93-130: 410 GONE for an unknown id,
    * 409 CONFLICT when the query already finished — or when the verb
    * lost the completion race and some other error landed first — and
    * 200 only when THIS verb's error code is the one recorded). A
    * compact info document: id, state, the SQL text, user/source
    * identity, and the error (+ StandardErrorCode name) if failed. */
  private def handleQueryInfo(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      val segs = ex.getRequestURI.getPath.stripPrefix("/v1/query")
        .split('/').filter(_.nonEmpty).toSeq
      (ex.getRequestMethod, segs) match {
        case ("PUT", Seq(id, verb)) if verb == "killed" || verb == "preempted" =>
          val q = server.queries.get(id)
          if (q == null) { respond(ex, 410, ""); return }
          // KillQueryProcedure.createKillQueryException:90-98 message text
          val msg = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
          val head = if (verb == "killed") "Query killed. " else "Query preempted. "
          val text = head + (if (msg.isEmpty) "No message provided." else s"Message: $msg")
          val code =
            if (verb == "killed") "ADMINISTRATIVELY_KILLED" else "ADMINISTRATIVELY_PREEMPTED"
          // the reference's failQuery 409s on ANY terminal state — and a
          // query whose results are fully produced is FINISHED even while
          // the client is still mid-drain (q.done only flips once the
          // EndSlot is consumed), so check the state machine too
          val st = q.state.get()
          if (q.done || st == "FINISHED" || st == "FAILED") { respond(ex, 409, ""); return }
          // doCancel reports whether THIS call recorded the terminal
          // error (assignment + comparison under the query lock — two
          // racing admin verbs can't both see 200 or swap texts)
          if (doCancel(server, q, text, code)) respond(ex, 200, "")
          else respond(ex, 409, "")
        case (_, Seq()) => respond(ex, 404, """{"error":"unknown query"}""")
        case (method, Seq(id, _*)) =>
          val q = server.queries.get(id)
          if (q == null) { respond(ex, 404, """{"error":"unknown query"}"""); return }
          method match {
            case "DELETE" =>
              doCancel(server, q, "Query was canceled by user")
              respond(ex, 204, "")
            case _ =>
              val sb = new StringBuilder(256)
              sb.append("{\"queryId\":").append(jsonString(q.id))
              sb.append(",\"state\":").append(jsonString(q.state.get()))
              sb.append(",\"query\":").append(jsonString(q.sqlText))
              sb.append(",\"session\":{\"user\":").append(jsonString(q.user))
                .append(",\"source\":").append(jsonString(q.source)).append('}')
              q.resourceGroup.foreach(g =>
                sb.append(",\"resourceGroupId\":[")
                  .append(g.split('.').map(jsonString).mkString(",")).append(']'))
              q.error.foreach(e =>
                sb.append(",\"errorMessage\":").append(jsonString(e)))
              q.errorName.foreach(n =>
                sb.append(",\"errorCode\":{\"name\":").append(jsonString(n)).append('}'))
              sb.append('}')
              respond(ex, 200, sb.toString)
          }
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  // ---- ops/monitoring endpoints ----

  private val EngineVersion = "graft-0.14"
  private val Environment = "graft"

  private def uptimeJson(server: Server): String = {
    val ms = (System.nanoTime() - server.startNanos) / 1e6
    // airlift Duration renders as "<value><unit>" with two decimals
    jsonString(f"$ms%.2fms")
  }

  /** ServerInfoResource.java — GET /v1/info (ServerInfo document),
    * GET/PUT /v1/info/state (NodeState; PUT SHUTTING_DOWN starts a
    * graceful drain, PUT ACTIVE/INACTIVE is a 400 invalid transition),
    * GET /v1/info/coordinator (200 when coordinator — the load-balancer
    * probe; this single-JVM engine is always the coordinator).
    */
  private def handleInfo(server: Server, ex: HttpExchange): Unit =
    try {
      // read-only health probes are exempt from the auth gate: the
      // reference skips authentication entirely on non-secure requests
      // (AuthenticationFilter.java:68-71) and load-balancer/liveness
      // checks hit GET /v1/info without credentials. The mutating PUT
      // /v1/info/state (graceful-drain verb) still authenticates —
      // stricter than the reference's plain-HTTP behavior, deliberately.
      if (ex.getRequestMethod != "GET" && authGate(server, ex).isLeft) return
      val sub = ex.getRequestURI.getPath.stripPrefix("/v1/info")
        .split('/').filter(_.nonEmpty).toSeq
      (ex.getRequestMethod, sub) match {
        case ("GET", Seq()) =>
          respond(ex, 200,
            s"""{"nodeVersion":{"version":${jsonString(EngineVersion)}},""" +
            s""""environment":${jsonString(Environment)},"coordinator":true,""" +
            s""""starting":false,"uptime":${uptimeJson(server)}}""")
        case ("GET", Seq("state")) =>
          val st = if (server.shuttingDown.get()) "SHUTTING_DOWN" else "ACTIVE"
          respond(ex, 200, jsonString(st))
        case ("PUT", Seq("state")) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
            .trim.stripPrefix("\"").stripSuffix("\"")
          body match {
            case "SHUTTING_DOWN" =>
              server.shuttingDown.set(true)
              respond(ex, 200, "OK")
            case "ACTIVE" | "INACTIVE" =>
              respond(ex, 400, s"Invalid state transition to $body")
            case other =>
              respond(ex, 400, s"Invalid state $other")
          }
        case ("GET", Seq("coordinator")) => respond(ex, 200, "")
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** StatusResource.java — GET /v1/status: the NodeStatus document
    * (node identity + live JVM/OS gauges) every worker exposes and the
    * UI's node page reads. Gauges are real MXBean reads.
    */
  private def handleStatus(server: Server, ex: HttpExchange): Unit =
    try {
      // health probe: exempt from authGate like GET /v1/info (the
      // reference skips auth on non-secure requests; Trino's equivalent
      // resources are public) — read-only MXBean gauges, no query data
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val (procLoad, sysLoad) = os match {
        case x: com.sun.management.OperatingSystemMXBean =>
          (x.getProcessCpuLoad, x.getCpuLoad)
        case _ => (0.0, 0.0)
      }
      val heap = mem.getHeapMemoryUsage
      val nonHeap = mem.getNonHeapMemoryUsage
      respond(ex, 200,
        s"""{"nodeId":${jsonString(s"graft-${server.port}")},""" +
        s""""nodeVersion":{"version":${jsonString(EngineVersion)}},""" +
        s""""environment":${jsonString(Environment)},"coordinator":true,""" +
        s""""uptime":${uptimeJson(server)},""" +
        s""""externalAddress":"127.0.0.1","internalAddress":"127.0.0.1",""" +
        s""""processors":${Runtime.getRuntime.availableProcessors},""" +
        s""""processCpuLoad":$procLoad,"systemCpuLoad":$sysLoad,""" +
        s""""heapUsed":${heap.getUsed},"heapAvailable":${heap.getMax},""" +
        s""""nonHeapUsed":${nonHeap.getUsed}}""")
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** ClusterStatsResource.java — GET /v1/cluster: the dashboard
    * headline counters. Query-state counts come from the live registry;
    * worker/driver gauges from Spark's status tracker; rows/bytes are
    * the statement protocol's cumulative served totals (what crosses
    * the wire — the single-JVM analog of the reference coordinator's
    * consumed-input counters), CPU is the process CPU clock.
    */
  private def handleCluster(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      ex.getRequestURI.getPath.stripPrefix("/v1/cluster")
          .split('/').filter(_.nonEmpty).toSeq match {
        case Seq() => () // fall through to the stats document below
        case Seq("memory") =>
          // ClusterStatsResource.java:99-105 — the cluster-wide pool map
          // (ClusterMemoryManager.getMemoryPoolInfo): one general pool
          // in a single-JVM engine
          respond(ex, 200, s"""{"general":${memoryPoolInfoJson()}}""")
          return
        case Seq("workerMemory") =>
          // ClusterStatsResource.java:107-113 — per-worker MemoryInfo
          // keyed by node id (ClusterMemoryManager.getWorkerMemoryInfo)
          respond(ex, 200,
            s"""{${jsonString(s"graft-${server.port}")}:${memoryInfoJson()}}""")
          return
        case _ =>
          respond(ex, 404, """{"error":"not found"}"""); return
      }
      var running = 0L; var queued = 0L
      server.queries.values().forEach { q =>
        q.state.get() match {
          case "RUNNING" => running += 1
          case "QUEUED" => queued += 1
          case _ =>
        }
      }
      val tracker = server.session.sparkContext.statusTracker
      val workers = tracker.getExecutorInfos.length.toLong
      val drivers = tracker.getActiveJobIds().length.toLong
      val cpuSecs = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case x: com.sun.management.OperatingSystemMXBean => x.getProcessCpuTime / 1e9
        case _ => 0.0
      }
      respond(ex, 200,
        s"""{"runningQueries":$running,"blockedQueries":0,""" +
        s""""queuedQueries":$queued,"activeWorkers":$workers,""" +
        s""""runningDrivers":$drivers,"reservedMemory":0.0,""" +
        s""""totalInputRows":${server.rowsServed.get()},""" +
        s""""totalInputBytes":${server.bytesServed.get()},""" +
        s""""totalCpuTimeSecs":${cpuSecs.toLong}}""")
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** NodeResource.java — GET /v1/node lists OTHER nodes known to the
    * heartbeat failure detector and /v1/node/failed the failed subset;
    * a single-JVM coordinator has no remote nodes, so both are [] (the
    * reference coordinator with no workers answers the same).
    */
  private def handleNode(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      respond(ex, 200, "[]")
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** Airlift DataSize.toString rendering ("%.2f%s" in the most succinct
    * unit) — the shape MemoryInfo/ResourceGroupInfo DataSize fields
    * serialize to. */
  private def succinctDataSize(bytes: Long): String = {
    val units = Seq(("PB", 1L << 50), ("TB", 1L << 40), ("GB", 1L << 30),
      ("MB", 1L << 20), ("kB", 1L << 10))
    units.find(bytes >= _._2) match {
      case Some((u, f)) => f"${bytes.toDouble / f}%.2f$u"
      case None => f"${bytes.toDouble}%.2fB"
    }
  }

  /** MemoryPoolInfo document (spi/memory/MemoryPoolInfo.java:27-43).
    * The single general pool maps to the JVM heap: maxBytes = heap max,
    * reservedBytes = live heap use. Per-query reservation maps are
    * empty — Spark's unified memory manager does the per-operator
    * accounting internally and doesn't attribute heap to queries; the
    * keys exist so clients parsing the reference shape find them. */
  private def memoryPoolInfoJson(): String = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    s"""{"maxBytes":${heap.getMax},"reservedBytes":${heap.getUsed},""" +
    s""""reservedRevocableBytes":0,"queryMemoryReservations":{},""" +
    s""""queryMemoryAllocations":{},"queryMemoryRevocableReservations":{}}"""
  }

  /** MemoryInfo document (memory/MemoryInfo.java:28-50): total node
    * memory + the pool map. */
  private def memoryInfoJson(): String = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    s"""{"totalNodeMemory":${jsonString(succinctDataSize(heap.getMax))},""" +
    s""""pools":{"general":${memoryPoolInfoJson()}}}"""
  }

  /** MemoryResource.java — the worker memory endpoint: POST /v1/memory
    * accepts a pool-assignment document and answers MemoryInfo
    * (:50-57; assignments are meaningless in a single-JVM engine and
    * ignored), GET /v1/memory/{poolId} answers that pool's
    * MemoryPoolInfo or 404 (:60-76 — only `general` exists here; the
    * reference 404s absent reserved/system pools the same way). A bare
    * GET answers MemoryInfo too (ext — symmetric with POST). */
  private def handleMemory(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      val sub = ex.getRequestURI.getPath.stripPrefix("/v1/memory")
        .split('/').filter(_.nonEmpty).toSeq
      (ex.getRequestMethod, sub) match {
        case ("GET", Seq()) | ("POST", Seq()) => respond(ex, 200, memoryInfoJson())
        case ("GET", Seq("general")) => respond(ex, 200, memoryPoolInfoJson())
        case ("GET", Seq(_)) => respond(ex, 404, "")
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** One QueryStateInfo document (server/QueryStateInfo.java:33-44) —
    * shared by /v1/queryState and resourceGroupState runningQueries. */
  private def queryStateInfoJson(q: QueryExec): String = {
    val sb = new StringBuilder(128)
    sb.append("{\"queryId\":").append(jsonString(q.id))
      .append(",\"queryState\":").append(jsonString(q.state.get()))
    q.resourceGroup.foreach(g =>
      sb.append(",\"resourceGroupId\":[")
        .append(g.split('.').map(jsonString).mkString(",")).append(']'))
    sb.append(",\"user\":").append(jsonString(q.user))
      .append(",\"query\":").append(jsonString(q.sqlText))
      .append('}')
    sb.toString
  }

  /** ResourceGroupInfo JSON (server/ResourceGroupInfo.java:32-52): id
    * serializes as its segment list (ResourceGroupId @JsonValue),
    * DataSize fields as airlift strings, subGroups summary-shaped,
    * runningQueries only on the full (top-level) document. */
  private def groupInfoJson(server: Server, gi: ResourceGroups.GroupInfo,
      full: Boolean): String = {
    val sb = new StringBuilder(256)
    sb.append("{\"id\":[").append(gi.segments.map(jsonString).mkString(",")).append(']')
      .append(",\"state\":").append(jsonString(gi.state))
      .append(",\"schedulingPolicy\":").append(jsonString(gi.schedulingPolicy))
      .append(",\"schedulingWeight\":").append(gi.schedulingWeight)
      .append(",\"softMemoryLimit\":")
      .append(jsonString(succinctDataSize(gi.softMemoryLimitBytes)))
      .append(",\"softConcurrencyLimit\":").append(gi.softConcurrencyLimit)
      .append(",\"hardConcurrencyLimit\":").append(gi.hardConcurrencyLimit)
      .append(",\"maxQueuedQueries\":").append(gi.maxQueuedQueries)
      .append(",\"memoryUsage\":")
      .append(jsonString(succinctDataSize(gi.memoryUsageBytes)))
      .append(",\"numQueuedQueries\":").append(gi.numQueuedQueries)
      .append(",\"numRunningQueries\":").append(gi.numRunningQueries)
      .append(",\"numEligibleSubGroups\":").append(gi.numEligibleSubGroups)
    if (full) {
      sb.append(",\"subGroups\":[")
        .append(gi.subGroups.map(groupInfoJson(server, _, full = false)).mkString(","))
        .append(']')
      val gid = gi.segments.mkString(".")
      val rq = Seq.newBuilder[String]
      server.queries.values().forEach { q =>
        if (q.state.get() == "RUNNING" && q.resourceGroup.contains(gid))
          rq += queryStateInfoJson(q)
      }
      sb.append(",\"runningQueries\":[").append(rq.result().mkString(",")).append(']')
    }
    sb.append('}')
    sb.toString
  }

  /** ResourceGroupStateInfoResource.java:39-70 — GET
    * /v1/resourceGroupState/{id}: the group's full ResourceGroupInfo
    * (live queue/run counts, active subgroup summaries, running
    * queries — what the web UI's group pane polls). The id is
    * /-separated, URL-encoded per segment (@Encoded + urlDecode); an
    * empty id or a group that was never instantiated is 404
    * (NoSuchElementException → NOT_FOUND). */
  private def handleResourceGroupState(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      val segs = ex.getRequestURI.getRawPath.stripPrefix("/v1/resourceGroupState")
        .split('/').filter(_.nonEmpty).toSeq
        .map(s => java.net.URLDecoder.decode(s, "UTF-8"))
      if (segs.isEmpty) { respond(ex, 404, """{"error":"not found"}"""); return }
      ResourceGroups.groupInfo(server.session, segs) match {
        case Some(gi) => respond(ex, 200, groupInfoJson(server, gi, full = true))
        case None => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** TaskResource.java (`@Path "/v1/task"`) — the READ-ONLY
    * observability slice of the worker task surface: GET /v1/task (all
    * TaskInfo), GET /v1/task/{id} and GET /v1/task/{id}/status. Tasks
    * here are Spark STAGES off the live status tracker — the same
    * adjudication as system.runtime.tasks (a Presto task = stage x
    * node; this engine's stage runs on the one "driver" node). The
    * data-plane verbs (POST createOrUpdateTask, DELETE abort, the
    * results buffer protocol at {id}/results/{bufferId}/{token}) ARE
    * Spark's executor/shuffle machinery and answer 405 with that
    * adjudication, completing the last reference REST family.
    */
  private def handleTask(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      val segs = ex.getRequestURI.getPath.stripPrefix("/v1/task")
        .split('/').filter(_.nonEmpty).toSeq
      if (ex.getRequestMethod != "GET") {
        respond(ex, 405, """{"error":"task data plane is engine-internal: """ +
          """tasks are Spark stages; updates/results ride Spark's scheduler and shuffle"}""")
        return
      }
      val tracker = server.session.sparkContext.statusTracker
      def taskJson(id: Int, statusOnly: Boolean): Option[String] =
        tracker.getStageInfo(id).map { s =>
          val taskId = s"stage-$id.${s.currentAttemptId}"
          // completed-first: a stage that succeeded after per-task
          // retries has numFailedTasks > 0 AND numCompletedTasks >=
          // numTasks — it is FINISHED, not FAILED
          val state =
            if (s.numActiveTasks == 0 && s.numCompletedTasks >= s.numTasks) "FINISHED"
            else if (s.numFailedTasks > 0 && s.numActiveTasks == 0) "FAILED"
            else "RUNNING"
          val status = s"""{"taskId":${jsonString(taskId)},"state":${jsonString(state)},""" +
            s""""self":${jsonString(s"${server.baseUri}/v1/task/$id")},""" +
            s""""nodeId":"driver","queuedPartitionedDrivers":0,""" +
            s""""runningPartitionedDrivers":${s.numActiveTasks}}"""
          if (statusOnly) status
          else s"""{"taskId":${jsonString(taskId)},"taskStatus":$status,""" +
            s""""lastHeartbeat":${jsonString(java.time.Instant.now.toString)},""" +
            s""""stats":{"totalDrivers":${s.numTasks},""" +
            s""""queuedDrivers":${math.max(0, s.numTasks - s.numActiveTasks - s.numCompletedTasks - s.numFailedTasks)},""" +
            s""""runningDrivers":${s.numActiveTasks},""" +
            s""""completedDrivers":${s.numCompletedTasks},""" +
            s""""failedDrivers":${s.numFailedTasks}},"needsPlan":false}"""
        }
      segs match {
        case Seq() =>
          val docs = tracker.getActiveStageIds.toSeq.sorted
            .flatMap(id => taskJson(id, statusOnly = false))
          respond(ex, 200, docs.mkString("[", ",", "]"))
        case Seq(id) =>
          idOf(id).flatMap(taskJson(_, statusOnly = false)) match {
            case Some(doc) => respond(ex, 200, doc)
            case None => respond(ex, 404, """{"error":"unknown task"}""")
          }
        case Seq(id, "status") =>
          idOf(id).flatMap(taskJson(_, statusOnly = true)) match {
            case Some(doc) => respond(ex, 200, doc)
            case None => respond(ex, 404, """{"error":"unknown task"}""")
          }
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** Accept both the bare stage id ("7") and the rendered task id
    * ("stage-7.0"). */
  private def idOf(seg: String): Option[Int] = {
    val core = seg.stripPrefix("stage-").takeWhile(_ != '.')
    core.toIntOption
  }

  /** QueryStateInfoResource.java — GET /v1/queryState[?user=u]: one
    * compact state document per non-finished query (the admission/
    * debugging view: who is queued, who is running, under which
    * resource group).
    */
  private def handleQueryState(server: Server, ex: HttpExchange): Unit =
    try {
      if (authGate(server, ex).isLeft) return
      val userFilter = Option(ex.getRequestURI.getQuery)
        .flatMap(_.split('&').find(_.startsWith("user=")).map(_.stripPrefix("user=")))
      val sb = new StringBuilder("[")
      var first = true
      server.queries.values().forEach { q =>
        val st = q.state.get()
        if (st == "QUEUED" || st == "RUNNING") {
          if (userFilter.forall(_ == q.user)) {
            if (!first) sb.append(',')
            first = false
            sb.append(queryStateInfoJson(q))
          }
        }
      }
      sb.append(']')
      respond(ex, 200, sb.toString)
    } catch {
      case t: Throwable =>
        respond(ex, 500, s"""{"error":${jsonString(Option(t.getMessage).getOrElse(t.toString))}}""")
    } finally ex.close()

  /** Shared kill path: explicit DELETE, the admin killed/preempted
    * verbs, and the abandonment reaper. First terminal error wins —
    * `errorName` records whose, so the admin verbs can detect a lost
    * completion race (QueryResource.failQuery's errorCode check).
    * Returns whether THIS call's error was the one recorded: the
    * check-then-act on error/errorName runs under the query lock, so
    * two racing verbs can never interleave a mismatched message/code
    * pair or both claim the win. */
  private def doCancel(server: Server, q: QueryExec, reason: String,
      errorName: String = "USER_CANCELED"): Boolean = {
    // Terminal transition is atomic with the worker's FINISHED set (same
    // lock): a kill that loses the completion race sees FINISHED here and
    // reports won=false (handleQueryInfo then 409s, the reference
    // failQuery contract) instead of demoting a completed query.
    val (finishedAlready, won) = q.synchronized {
      if (q.state.get() == "FINISHED") (true, false)
      else {
        q.state.set("FAILED")
        val first = q.error.isEmpty
        if (first) { q.error = Some(reason); q.errorName = Some(errorName) }
        (false, first)
      }
    }
    // job-group cancel + FAILED in the log — skipped when the query
    // already finished (nothing to cancel; the log must not read FAILED
    // for a query whose server state is FINISHED)
    if (!finishedAlready) SystemTables.killQuery(server.session, q.id)
    q.done = true
    // poison first, then drain: the worker re-checks `cancelled` before
    // every bounded-queue hand-off, so it can never re-park after this
    // (a single clear() alone left it blocked forever once it refilled
    // the 16 slots from already-fetched rows)
    q.cancelled = true
    q.pages.clear()
    // unpark a worker that is still QUEUED inside ResourceGroups.acquire
    // (the job-group cancel can't reach it — no job exists yet): the
    // interrupt makes acquire roll back the queue slot and the worker
    // exit without ever executing the statement. Guarded against the
    // finished-worker race so a recycled pool thread is never hit.
    q.synchronized {
      if (q.workerThread != null) q.workerThread.interrupt()
    }
    won
  }

  // ---- response rendering ----

  private def envelope(server: Server, q: QueryExec, data: Seq[Seq[Any]],
      includeNext: Boolean): String = {
    if (data.nonEmpty) server.rowsServed.addAndGet(data.size.toLong)
    val sb = new StringBuilder(256)
    sb.append("{\"id\":").append(jsonString(q.id))
    sb.append(",\"infoUri\":").append(jsonString(s"${server.baseUri}/v1/query/${q.id}"))
    if (includeNext && !q.done)
      sb.append(",\"nextUri\":")
        .append(jsonString(s"${server.baseUri}/v1/statement/${q.id}/${q.nextToken}"))
    if (q.columns.nonEmpty) {
      sb.append(",\"columns\":[")
      sb.append(q.columns.map { case (n, t) =>
        s"""{"name":${jsonString(n)},"type":${jsonString(t)}}"""
      }.mkString(","))
      sb.append(']')
    }
    if (data.nonEmpty) {
      sb.append(",\"data\":[")
      var first = true
      data.foreach { row =>
        if (!first) sb.append(',')
        first = false
        sb.append(row.map(jsonValue).mkString("[", ",", "]"))
      }
      sb.append(']')
    }
    q.error.foreach { e =>
      sb.append(",\"error\":{\"message\":").append(jsonString(e)).append('}')
    }
    sb.append(",\"stats\":{\"state\":").append(jsonString(q.state.get())).append("}}")
    val out = sb.toString
    if (data.nonEmpty) server.bytesServed.addAndGet(out.length.toLong)
    out
  }

  /** Attach the statement's session-state effects as the reference's
    * response headers (PrestoHeaders.java:27-37; the client loop folds
    * these into the state it echoes back on subsequent requests). */
  private def stateHeaders(ex: HttpExchange, q: QueryExec): Unit = {
    val h = ex.getResponseHeaders
    def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)
    q.setSession.foreach { case (k, v) => h.add("X-Presto-Set-Session", s"$k=${enc(v)}") }
    q.clearSession.foreach(k => h.add("X-Presto-Clear-Session", k))
    q.addedPrepare.foreach { case (n, s) => h.add("X-Presto-Added-Prepare", s"$n=${enc(s)}") }
    q.deallocatedPrepare.foreach(n => h.add("X-Presto-Deallocated-Prepare", n))
    q.startedTxn.foreach(id => h.add("X-Presto-Started-Transaction-Id", id))
    if (q.clearTxn) h.add("X-Presto-Clear-Transaction-Id", "true")
    q.setCatalog.foreach(c => h.add("X-Presto-Set-Catalog", c))
    q.setSchema.foreach(s => h.add("X-Presto-Set-Schema", s))
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (code == 204) ex.sendResponseHeaders(code, -1)
    else { ex.sendResponseHeaders(code, bytes.length.toLong); ex.getResponseBody.write(bytes) }
  }

  /** Spark type -> reference client type name (ClientTypeSignature):
    * same rendering the metadata family already pins in
    * [[Metadata.prestoType]]. */
  private[sql] def prestoTypeName(dt: DataType): String = graft.sql.Metadata.prestoType(dt)

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => jsonString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) jsonString(d.toString) else d.toString
    case f: Float => jsonValue(f.toDouble)
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d: java.sql.Date => jsonString(d.toString)
    case t: java.sql.Timestamp => jsonString(t.toString)
    case b: Array[Byte] => jsonString(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] => seq.map(jsonValue).mkString("[", ",", "]")
    case arr: Array[_] => arr.map(jsonValue).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, mv) => s"${jsonString(String.valueOf(k))}:${jsonValue(mv)}" }
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(jsonValue).mkString("[", ",", "]")
    case other => jsonString(String.valueOf(other))
  }

  private def jsonString(s: String): String = {
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
    sb.append('"')
    sb.toString
  }
}
