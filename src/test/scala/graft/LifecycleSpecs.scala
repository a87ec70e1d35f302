package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sql.{AccessControl, PrestoSql, ResourceGroups, SessionDefaults}

/** Query-lifecycle semantics: per-request identity (X-Presto-User →
  * QuerySessionSupplier), abandonment reaping (QueryTracker.java:
  * 247-276), queued-query cancellation, admission-control counter
  * integrity under abnormal exits, and per-query limit enforcement
  * (QueryTracker.java:173-190). These are the multi-tenant guarantees:
  * on a shared cluster every one of these is a liveness or isolation
  * property, not a convenience.
  */
class LifecycleSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def json(body: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)

  private def httpSend(method: String, uri: String, body: Option[String] = None,
      headers: Seq[(String, String)] = Seq.empty): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(uri))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val req = (method match {
      case "POST" => b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.get))
      case "PUT" => b.PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body.get))
      case "DELETE" => b.DELETE()
      case _ => b.GET()
    }).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** POST + drain to completion; returns data rows. Throws the
    * envelope's error message if the query fails. */
  private def httpQuery(base: String, sql: String,
      headers: Seq[(String, String)] = Seq.empty)
      : Seq[com.fasterxml.jackson.databind.JsonNode] =
    httpQueryH(base, sql, headers)._1

  /** As httpQuery, also accumulating X-Presto-* response headers. */
  private def httpQueryH(base: String, sql: String,
      headers: Seq[(String, String)] = Seq.empty)
      : (Seq[com.fasterxml.jackson.databind.JsonNode], Map[String, Seq[String]]) = {
    import scala.jdk.CollectionConverters._
    val client = java.net.http.HttpClient.newHttpClient()
    def send(method: String, uri: String, body: Option[String]) = {
      var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(uri))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      client.send((method match {
        case "POST" => b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.get))
        case _ => b.GET()
      }).build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
    var hdrs = Map.empty[String, Seq[String]]
    var resp = send("POST", s"$base/v1/statement", Some(sql))
    var spins = 0
    var done = false
    while (!done && spins < 600) {
      resp.headers().map().asScala.foreach { case (k, vs) =>
        if (k.toLowerCase.startsWith("x-presto-"))
          hdrs = hdrs.updated(k.toLowerCase,
            hdrs.getOrElse(k.toLowerCase, Seq.empty) ++ vs.asScala)
      }
      val node = json(resp.body())
      if (node.has("error"))
        throw new RuntimeException(node.get("error").get("message").asText())
      if (node.has("data")) node.get("data").forEach(r => rows += r)
      if (node.has("nextUri")) {
        resp = send("GET", node.get("nextUri").asText(), None)
        spins += 1
      } else done = true
    }
    assert(done, "statement did not finish draining")
    (rows.toSeq, hdrs)
  }

  private def logState(id: String): String = PrestoSql.sql(spark,
    s"SELECT state FROM system.runtime.queries WHERE query_id = '$id'")
    .head().getString(0)

  // ---- X-Presto-User: per-request identity end to end ----

  test("HTTP identity: X-Presto-User lands users in their ${USER} groups, defaults, and grants") {
    // per-user template groups (StaticSelector.java user regex +
    // ResourceGroupIdTemplate) — spec's own probes (user admin) ride adhoc
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("global", 100, 100, Seq(
          ResourceGroups.GroupSpec("${USER}", 10, 10, Nil))),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(Some("alice|bob".r), None, "global.${USER}"),
        ResourceGroups.Selector(None, None, "adhoc"))))
    // per-user session defaults (FileSessionPropertyManager match specs)
    SessionDefaults.configure(spark, Seq(
      SessionDefaults.MatchSpec(Some("alice".r), None, Seq("query_priority" -> "3")),
      SessionDefaults.MatchSpec(Some("bob".r), None, Seq("query_priority" -> "7"))))
    // ACL: only alice may create/write acl_target (GrantTask semantics)
    PrestoSql.sql(spark, "GRANT SELECT, INSERT ON acl_target TO alice")
    val server = graft.sql.StatementServer.start(spark)
    try {
      def asUser(u: String) = Seq("X-Presto-User" -> u)
      // defaults are per-user from the wire
      val aliceShow = httpQuery(server.baseUri, "SHOW SESSION", asUser("alice"))
        .map(r => r.get(0).asText() -> r.get(1).asText()).toMap
      val bobShow = httpQuery(server.baseUri, "SHOW SESSION", asUser("bob"))
        .map(r => r.get(0).asText() -> r.get(1).asText()).toMap
      assert(aliceShow.get("query_priority") == Some("3"), s"alice defaults: $aliceShow")
      assert(bobShow.get("query_priority") == Some("7"), s"bob defaults: $bobShow")
      // both users' template groups were instantiated by their statements
      val groups = ResourceGroups.snapshot(spark).map(_._1).toSet
      assert(groups.contains("global.alice") && groups.contains("global.bob"),
        s"per-user groups must exist after each user's statement: $groups")
      // the query log records the wire identity
      val users = PrestoSql.sql(spark,
        "SELECT DISTINCT user FROM system.runtime.queries WHERE query = 'SHOW SESSION'")
        .collect().map(_.getString(0)).toSet
      assert(Set("alice", "bob").subsetOf(users), s"log users: $users")
      // grants: alice's write is allowed, bob's is Access Denied
      httpQuery(server.baseUri, "CREATE TABLE acl_target AS SELECT 1 AS x", asUser("alice"))
      try {
        val denied = intercept[RuntimeException](httpQuery(server.baseUri,
          "CREATE TABLE acl_target AS SELECT 2 AS x", asUser("bob")))
        assert(denied.getMessage.contains("Access Denied"), denied.getMessage)
        // and bob cannot read it either (SELECT not granted)
        val deniedRead = intercept[RuntimeException](httpQuery(server.baseUri,
          "SELECT x FROM acl_target", asUser("bob")))
        assert(deniedRead.getMessage.contains("Access Denied"), deniedRead.getMessage)
        assert(httpQuery(server.baseUri, "SELECT x FROM acl_target", asUser("alice"))
          .head.get(0).asInt() == 1)
      } finally PrestoSql.sql(spark, "DROP TABLE IF EXISTS acl_target")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
      SessionDefaults.disable(spark)
      AccessControl.clear()
    }
  }

  // ---- abandonment reaper (QueryTracker.failAbandonedQueries) ----

  test("abandoned client: reaper cancels the query and frees its resource-group slot") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("limited", 1, 10, Nil),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(None, Some("http".r), "limited"),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark, clientTimeoutMs = 500)
    try {
      spark.range(200000).selectExpr("id AS k").createOrReplaceTempView("reap_rows")
      // q1: fetch ONE page, then vanish (no GET, no DELETE) — its worker
      // parks at the 16-page cap holding the concurrency-1 slot
      val (_, b1) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM reap_rows"))
      val id1 = json(b1).get("id").asText()
      httpSend("GET", s"${server.baseUri}/v1/statement/$id1/0")
      // q2 queues behind the abandoned slot; without the reaper this
      // starves forever (VERDICT r10 `weak`)
      val (_, b2) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT 42 AS x"))
      val id2 = json(b2).get("id").asText()
      // q2's client keeps polling (heartbeats) like a real client loop —
      // only the VANISHED client's query may be reaped
      val deadline = System.currentTimeMillis() + 20000
      var done2 = false
      while (!done2 && System.currentTimeMillis() < deadline) {
        val node = json(httpSend("GET", s"${server.baseUri}/v1/statement/$id2/0")._2)
        done2 = node.has("data") || !node.has("nextUri")
        if (!done2) Thread.sleep(100)
      }
      while (logState(id2) != "FINISHED" && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(done2 && logState(id2) == "FINISHED",
        s"queued query must be admitted after the abandoned client is reaped: ${logState(id2)}")
      assert(logState(id1) == "FAILED", "abandoned query must be FAILED")
      // the reaper's error carries the reference's abandonment shape —
      // follow nextUri past any cached pre-failure page to the terminal
      // envelope
      var e1 = json(httpSend("GET", s"${server.baseUri}/v1/statement/$id1/0")._2)
      var hops = 0
      while (!e1.has("error") && e1.has("nextUri") && hops < 20) {
        e1 = json(httpSend("GET", e1.get("nextUri").asText())._2)
        hops += 1
      }
      assert(e1.has("error") &&
        e1.get("error").get("message").asText().contains("has not been accessed since"),
        s"abandonment error text (QueryTracker.java:259): $e1")
      // worker fully exited — no parked thread retains the permit
      assert(server.workerFinished(id1))
      assert(ResourceGroups.snapshot(spark).forall { case (_, running, queued, _, _) =>
        running == 0 && queued == 0 }, s"counters drained: ${ResourceGroups.snapshot(spark)}")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  // ---- cancel while QUEUED: waiter removed, statement never executes ----

  test("DELETE on a QUEUED query removes the waiter and never executes the statement") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("limited", 1, 1, Nil),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(None, Some("http".r), "limited"),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark)
    try {
      spark.range(100000).selectExpr("id AS k").createOrReplaceTempView("cq_rows")
      // q1 holds the slot mid-drain (no GETs)
      val (_, b1) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM cq_rows"))
      val id1 = json(b1).get("id").asText()
      // q2: an eager SIDE-EFFECTING statement, parked QUEUED
      val (_, b2) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("CREATE TABLE cancelled_ctas AS SELECT 1 AS x"))
      val id2 = json(b2).get("id").asText()
      var spins = 0
      while (logState(id2) != "QUEUED" && spins < 100) { Thread.sleep(50); spins += 1 }
      assert(logState(id2) == "QUEUED")
      // cancel it while parked: the waiter must come OFF the deque (its
      // maxQueued=1 slot frees) and the CTAS must never run (ADVICE r10:
      // promote-after-cancel executed user-cancelled DML)
      httpSend("DELETE", s"${server.baseUri}/v1/statement/$id2/0")
      val deadline = System.currentTimeMillis() + 10000
      while (!server.workerFinished(id2) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(server.workerFinished(id2), "cancelled queued worker must exit promptly")
      assert(logState(id2) == "FAILED")
      // queue headroom restored: a third query can park (maxQueued=1)
      val (_, b3) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT 7 AS x"))
      val id3 = json(b3).get("id").asText()
      Thread.sleep(300)
      assert(logState(id3) == "QUEUED",
        s"queue slot must be reusable after queued-cancel, got ${logState(id3)}")
      // drain q1 -> q3 promotes; the cancelled CTAS never materialized
      var uri = s"${server.baseUri}/v1/statement/$id1/0"
      while (uri != null) {
        val node = json(httpSend("GET", uri)._2)
        uri = if (node.has("nextUri")) node.get("nextUri").asText() else null
      }
      val d3 = System.currentTimeMillis() + 20000
      while (logState(id3) != "FINISHED" && System.currentTimeMillis() < d3)
        Thread.sleep(100)
      assert(logState(id3) == "FINISHED")
      assert(!spark.catalog.tableExists("cancelled_ctas"),
        "user-cancelled CTAS must never mutate data")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
      PrestoSql.sql(spark, "DROP TABLE IF EXISTS cancelled_ctas")
    }
  }

  // ---- counter integrity under abnormal exits ----

  test("resource groups: off-thread release clears the owner's reentrancy marker") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(ResourceGroups.GroupSpec("only", 1, 10, Nil)),
      selectors = Seq(ResourceGroups.Selector(None, None, "only"))))
    try {
      @volatile var secondTookRealSlot = false
      @volatile var failure: Throwable = null
      val t = new Thread(() => {
        try {
          val p1 = ResourceGroups.acquire(spark, "u", "s")
          // a reaper/error-handler releases on the owner's behalf from
          // another thread
          val releaser = new Thread(() => p1.release())
          releaser.start(); releaser.join()
          // the owner thread's next acquire must be REAL (take the slot
          // again), not a bypass no-op left by a stale thread flag
          val p2 = ResourceGroups.acquire(spark, "u", "s")
          secondTookRealSlot = ResourceGroups.snapshot(spark)
            .exists { case (g, running, _, _, _) => g == "only" && running == 1 }
          p2.release()
        } catch { case th: Throwable => failure = th }
      })
      t.start(); t.join(10000)
      assert(failure == null, s"$failure")
      assert(secondTookRealSlot,
        "acquire after off-thread release must re-enter admission control (r10 VERDICT)")
      assert(ResourceGroups.snapshot(spark)
        .forall { case (_, r, q, _, _) => r == 0 && q == 0 })
    } finally ResourceGroups.disable(spark)
  }

  test("resource groups: interrupted waiter rolls back queue counters and deque entry") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(ResourceGroups.GroupSpec("only", 1, 1, Nil)),
      selectors = Seq(ResourceGroups.Selector(None, None, "only"))))
    try {
      val p1 = ResourceGroups.acquire(spark, "u", "s")
      @volatile var interrupted = false
      val t2 = new Thread(() => {
        try ResourceGroups.acquire(spark, "u", "s")
        catch { case _: InterruptedException => interrupted = true }
      })
      t2.start()
      var spins = 0
      while (spins < 100 && !ResourceGroups.snapshot(spark)
          .exists { case (g, _, q, _, _) => g == "only" && q == 1 }) {
        Thread.sleep(20); spins += 1
      }
      t2.interrupt(); t2.join(5000)
      assert(interrupted, "parked waiter must observe the interrupt")
      // counters rolled back: queued back to 0, so a FRESH waiter fits
      // within maxQueued=1 (pre-fix each leak shrank headroom forever)
      assert(ResourceGroups.snapshot(spark)
        .exists { case (g, r, q, _, _) => g == "only" && r == 1 && q == 0 },
        s"rollback: ${ResourceGroups.snapshot(spark)}")
      @volatile var admitted = false
      val t3 = new Thread(() => {
        val p = ResourceGroups.acquire(spark, "u", "s"); admitted = true; p.release()
      })
      t3.start()
      Thread.sleep(200)
      p1.release() // frees the slot -> t3 promotes (not rejected queue-full)
      t3.join(5000)
      assert(admitted, "fresh waiter must queue within restored maxQueued headroom and promote")
    } finally ResourceGroups.disable(spark)
  }

  test("resource groups: disable() drains parked waiters instead of stranding them") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(ResourceGroups.GroupSpec("only", 1, 10, Nil)),
      selectors = Seq(ResourceGroups.Selector(None, None, "only"))))
    val p1 = ResourceGroups.acquire(spark, "u", "s")
    @volatile var released = false
    val t2 = new Thread(() => {
      val p = ResourceGroups.acquire(spark, "u", "s"); released = true; p.release()
    })
    t2.start()
    Thread.sleep(200)
    ResourceGroups.disable(spark) // tear down config with a waiter parked
    t2.join(5000)
    assert(released, "disable() must unblock parked waiters (no-op permit)")
    p1.release()
  }

  test("resource groups: query_priority scheduling promotes the highest-priority waiter first") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(ResourceGroups.GroupSpec("prio", 1, 10, Nil,
        schedulingPolicy = "query_priority")),
      selectors = Seq(ResourceGroups.Selector(None, None, "prio"))))
    try {
      val p1 = ResourceGroups.acquire(spark, "u", "s")
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def waiter(name: String, prio: Int): Thread = {
        val t = new Thread(() => {
          val p = ResourceGroups.acquire(spark, "u", "s", priority = prio)
          order.add(name)
          Thread.sleep(50)
          p.release()
        })
        t.start(); t
      }
      def queuedCount(): Int = ResourceGroups.snapshot(spark)
        .collectFirst { case ("prio", _, q, _, _) => q }.getOrElse(0)
      // enqueue low first, then high — FIFO would promote low first;
      // query_priority (SchedulingPolicy) must pick high
      val tLow = waiter("low", 1)
      var spins = 0
      while (queuedCount() < 1 && spins < 100) { Thread.sleep(20); spins += 1 }
      val tHigh = waiter("high", 10)
      while (queuedCount() < 2 && spins < 200) { Thread.sleep(20); spins += 1 }
      p1.release()
      tLow.join(10000); tHigh.join(10000)
      assert(order.toArray.toSeq == Seq("high", "low"),
        s"query_priority group must promote by priority, got ${order.toArray.toSeq}")
    } finally ResourceGroups.disable(spark)
  }

  test("resource groups: weighted_fair parent promotes the child with the lowest running/weight") {
    // root limit 3, children a (weight 1) and b (weight 3) — the
    // reference's WeightedFairQueue picks the subgroup with the lowest
    // running/weight ratio when a slot frees
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(ResourceGroups.GroupSpec("wf", 3, 10, Seq(
        ResourceGroups.GroupSpec("a", 3, 10, Nil, schedulingWeight = 1),
        ResourceGroups.GroupSpec("b", 3, 10, Nil, schedulingWeight = 3)),
        schedulingPolicy = "weighted_fair")),
      selectors = Seq(
        ResourceGroups.Selector(None, Some("src_a".r), "wf.a"),
        ResourceGroups.Selector(None, Some("src_b".r), "wf.b"))))
    try {
      // occupy the root with one slot in a and two in b — each on its
      // OWN thread (same-thread acquires are reentrant no-ops by design)
      def hold(source: String): (java.util.concurrent.CountDownLatch, Thread) = {
        val release = new java.util.concurrent.CountDownLatch(1)
        val held = new java.util.concurrent.CountDownLatch(1)
        val t = new Thread(() => {
          val p = ResourceGroups.acquire(spark, "u", source)
          held.countDown()
          release.await()
          p.release()
        })
        t.start(); held.await()
        (release, t)
      }
      val (pa, tha) = hold("src_a")
      val (pb1, thb1) = hold("src_b")
      val (pb2, thb2) = hold("src_b")
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def park(name: String, source: String): Thread = {
        val t = new Thread(() => {
          val p = ResourceGroups.acquire(spark, "u", source)
          order.add(name); Thread.sleep(20); p.release()
        })
        t.start(); t
      }
      def queuedTotal(): Int = ResourceGroups.snapshot(spark)
        .collectFirst { case ("wf", _, q, _, _) => q }.getOrElse(0)
      // a's waiter queues FIRST (older), then b's
      val ta = park("a", "src_a")
      var spins = 0
      while (queuedTotal() < 1 && spins < 100) { Thread.sleep(20); spins += 1 }
      val tb = park("b", "src_b")
      while (queuedTotal() < 2 && spins < 200) { Thread.sleep(20); spins += 1 }
      // free one b slot: ratios are a: 1/1 = 1.0, b: 1/3 = 0.33 — the
      // WEIGHTED pick must promote b's waiter despite a's being older
      pb1.countDown(); thb1.join(5000)
      tb.join(10000)
      assert(order.toArray.toSeq.headOption.contains("b"),
        s"weighted_fair must promote the under-served child first: ${order.toArray.toSeq}")
      pb2.countDown(); pa.countDown()
      thb2.join(5000); tha.join(5000)
      ta.join(10000)
      assert(order.toArray.toSeq == Seq("b", "a"))
    } finally ResourceGroups.disable(spark)
  }

  test("catalog/schema headers: X-Presto-Schema scopes the statement; USE answers Set-Catalog/Set-Schema") {
    spark.sql("CREATE DATABASE IF NOT EXISTS http_sch")
    val server = graft.sql.StatementServer.start(spark)
    try {
      val before = spark.catalog.currentDatabase
      // the header schema scopes name resolution for THIS request
      val scoped = httpQuery(server.baseUri, "SELECT current_database() AS db",
        Seq("X-Presto-Schema" -> "http_sch"))
      assert(scoped.head.get(0).asText() == "http_sch", s"header schema must bind: $scoped")
      // a bare request is unaffected (state lives with the client)
      val bare = httpQuery(server.baseUri, "SELECT current_database() AS db")
      assert(bare.head.get(0).asText() == before)
      // USE answers Set-Catalog/Set-Schema (StatementResource.java:216-217)
      val (_, h) = httpQueryH(server.baseUri, "USE graft.http_sch")
      assert(h.get("x-presto-set-catalog").exists(_.contains("graft")), s"$h")
      assert(h.get("x-presto-set-schema").exists(_.contains("http_sch")), s"$h")
      // and the server-side current database reverted after the drain
      assert(spark.catalog.currentDatabase == before,
        "USE over the wire must not leave server-side schema state")
      // an unknown catalog is the reference's error
      val bad = intercept[RuntimeException](httpQuery(server.baseUri,
        "SELECT 1", Seq("X-Presto-Catalog" -> "nope")))
      assert(bad.getMessage.contains("Catalog does not exist"), bad.getMessage)
    } finally {
      server.stop()
      spark.sql("DROP DATABASE IF EXISTS http_sch")
    }
  }

  test("CURRENT_USER binds the per-request identity (DesugarCurrentUser)") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      val rows = httpQuery(server.baseUri,
        "SELECT current_user AS u, 'current_user' AS lit",
        Seq("X-Presto-User" -> "dave"))
      assert(rows.head.get(0).asText() == "dave",
        s"current_user must bind the X-Presto-User identity: $rows")
      assert(rows.head.get(1).asText() == "current_user",
        "quoted 'current_user' literal must survive the rewrite")
    } finally server.stop()
  }

  // ---- per-query limit enforcement (QueryTracker.enforceTimeLimits) ----

  test("query_max_run_time kills a runaway query with the reference's error text") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      // a whole and a fractional Airlift duration
      for ((limit, shown) <- Seq("1s" -> "1.00s", "1.5s" -> "1.50s")) {
        // count (not sum): an ANSI long-sum overflow must not beat the
        // timer to the error slot
        val (_, b) = httpSend("POST", s"${server.baseUri}/v1/statement",
          Some("SELECT count(xxhash64(a.id + b.id)) AS n " +
            "FROM range(30000000) a CROSS JOIN range(30000000) b"),
          Seq("X-Presto-Session" -> s"query_max_run_time=$limit"))
        val id = json(b).get("id").asText()
        var err = ""
        val deadline = System.currentTimeMillis() + 60000
        while (err.isEmpty && System.currentTimeMillis() < deadline) {
          val node = json(httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")._2)
          if (node.has("error")) err = node.get("error").get("message").asText()
          else Thread.sleep(200)
        }
        // QueryTracker.java:187
        assert(err == s"Query exceeded maximum time limit of $shown", s"got: $err")
        assert(logState(id) == "FAILED")
      }
    } finally server.stop()
  }

  test("query_max_execution_time kills from execution start with its own error text") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      val (_, b) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT count(xxhash64(a.id * b.id)) AS n " +
          "FROM range(30000000) a CROSS JOIN range(30000000) b"),
        Seq("X-Presto-Session" -> "query_max_execution_time=1s"))
      val id = json(b).get("id").asText()
      var err = ""
      val deadline = System.currentTimeMillis() + 60000
      while (err.isEmpty && System.currentTimeMillis() < deadline) {
        val node = json(httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")._2)
        if (node.has("error")) err = node.get("error").get("message").asText()
        else Thread.sleep(200)
      }
      // QueryTracker.java:184
      assert(err == "Query exceeded the maximum execution time limit of 1.00s", s"got: $err")
    } finally server.stop()
  }

  test("query_max_total_memory kills a query whose tasks exceed the ceiling") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      // any real agg task's peak memory clears a 1-byte ceiling on the
      // first completed task. 64 slices ensure MANY tasks remain queued
      // when the first ones finish — the async listener-bus kill must
      // land mid-query, not race a 4-task job that completes first.
      val (_, b) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT id % 1000 AS g, count(*) AS n " +
          "FROM range(0, 2000000000, 1, 64) GROUP BY id % 1000"),
        Seq("X-Presto-Session" -> "query_max_total_memory=1B"))
      val id = json(b).get("id").asText()
      var err = ""
      val deadline = System.currentTimeMillis() + 60000
      while (err.isEmpty && System.currentTimeMillis() < deadline) {
        val node = json(httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")._2)
        if (node.has("error")) err = node.get("error").get("message").asText()
        else Thread.sleep(200)
      }
      // ExceededMemoryLimitException.java:34 shape
      assert(err == "Query exceeded distributed total memory limit of 1B", s"got: $err")
      assert(logState(id) == "FAILED")
    } finally server.stop()
  }

  test("query_max_total_memory charges tasks running together, not the sum over all tasks") {
    // 64 aggregation slices run at most `cores` at a time: the summed peak
    // memory of all tasks passes a ceiling that no set of tasks running at
    // one moment reaches, so the query must complete.
    val sql = "SELECT id % 1000 AS g, count(*) AS n " +
      "FROM range(0, 64000000, 1, 64) GROUP BY id % 1000"
    val perTask = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val probe = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          perTask.add(m.peakExecutionMemory + m.memoryBytesSpilled))
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      assert(spark.sql(sql).collect().length == 1000)
      // the listener bus is asynchronous: wait until the last task lands
      val deadline = System.currentTimeMillis() + 30000
      var seen = -1
      while (perTask.size != seen && System.currentTimeMillis() < deadline) {
        seen = perTask.size
        Thread.sleep(500)
      }
    } finally spark.sparkContext.removeSparkListener(probe)
    import scala.jdk.CollectionConverters._
    val bytes = perTask.asScala.map(_.longValue).toSeq
    val cores = spark.sparkContext.defaultParallelism
    val ceiling = 2L * cores * bytes.max
    assert(bytes.sum > ceiling,
      s"precondition: ${bytes.size} tasks sum to ${bytes.sum}B, not above the ${ceiling}B ceiling")
    val server = graft.sql.StatementServer.start(spark)
    try {
      val rows = httpQuery(server.baseUri, sql,
        Seq("X-Presto-Session" -> s"query_max_total_memory=${ceiling}B"))
      assert(rows.length == 1000)
    } finally server.stop()
  }

  test("QueryMetrics: one collector per context; Bench's cpu is its stages' CPU, counted once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.graft.ListenerBusFlush
    import graft.engine.QueryMetrics
    val again = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    val sc = spark.sparkContext
    assert(again.sparkContext eq sc)
    assert(ListenerBusFlush.listeners[QueryMetrics](sc).size == 1)
    val stageCpuNs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val probe = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        stageCpuNs.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
      }
    }
    ListenerBusFlush.drain(sc)
    sc.addSparkListener(probe)
    val run =
      try Bench.once(again, "")((s, _) =>
        s.range(0, 4000000, 1, 8).selectExpr("id % 97 AS k").groupBy("k").count())
      finally sc.removeSparkListener(probe)
    assert(run.stages >= 2 && run.cpu > 0, s"$run")
    assert(run.cpu == stageCpuNs.get() / 1e9, s"$run vs ${stageCpuNs.get()} ns")
    assert((run.jobs, run.stages) == ((jobs.get(), stages.get())), s"$run")

    // armed statements leave no job or stage behind in the collector
    val server = graft.sql.StatementServer.start(spark)
    try {
      for (_ <- 1 to 2) {
        val rows = httpQuery(server.baseUri,
          "SELECT id % 10 AS g, count(*) AS n FROM range(0, 1000000, 1, 8) GROUP BY id % 10",
          Seq("X-Presto-Session" -> "query_max_total_memory=1TB"))
        assert(rows.length == 10)
      }
    } finally server.stop()
    ListenerBusFlush.drain(sc)
    assert(QueryMetrics.of(sc).tracked == ((0, 0)))
  }

  // ---- concurrent protocol clients: header/session-state isolation ----

  test("concurrent clients: one client's session state never leaks into another's headers") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      spark.range(100000).selectExpr("id AS k").createOrReplaceTempView("iso_rows")
      // client A: long drain, carrying its own session overlay
      val (_, ba) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM iso_rows"),
        Seq("X-Presto-Session" -> "hash_partition_count=7"))
      val idA = json(ba).get("id").asText()
      // while A's overlay window is live (worker parked mid-drain),
      // client B executes a state-changing statement
      Thread.sleep(300)
      val client = java.net.http.HttpClient.newHttpClient()
      val reqB = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${server.baseUri}/v1/statement"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          "SET SESSION query_priority = '5'")).build()
      var respB = client.send(reqB, java.net.http.HttpResponse.BodyHandlers.ofString())
      val bHdrs = scala.collection.mutable.ArrayBuffer.empty[String]
      var spins = 0
      var uriB = Option(json(respB.body())).filter(_.has("nextUri"))
        .map(_.get("nextUri").asText())
      import scala.jdk.CollectionConverters._
      def collectHdrs(r: java.net.http.HttpResponse[String]): Unit =
        r.headers().map().asScala.foreach { case (k, vs) =>
          if (k.equalsIgnoreCase("x-presto-set-session")) bHdrs ++= vs.asScala
        }
      collectHdrs(respB)
      while (uriB.isDefined && spins < 200) {
        respB = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(uriB.get)).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        collectHdrs(respB)
        uriB = Option(json(respB.body())).filter(_.has("nextUri"))
          .map(_.get("nextUri").asText())
        spins += 1
      }
      // B's headers carry exactly B's own effect — never A's overlay
      // (pre-r11 the diff-against-shared-maps could emit A's
      // hash_partition_count here, permanently corrupting B's session)
      assert(bHdrs.exists(_.startsWith("query_priority=")), s"B's own SET: $bHdrs")
      assert(!bHdrs.exists(_.contains("hash_partition_count")),
        s"A's header overlay must not leak into B's Set-Session: $bHdrs")
      // drain A fully so its restore runs
      var uriA = s"${server.baseUri}/v1/statement/$idA/0"
      while (uriA != null) {
        val node = json(httpSend("GET", uriA)._2)
        uriA = if (node.has("nextUri")) node.get("nextUri").asText() else null
      }
      // after both statements: a bare client sees NO residue of either
      val rows = httpQuery(server.baseUri, "SHOW SESSION").map(_.get(0).asText())
      assert(!rows.contains("hash_partition_count") && !rows.contains("query_priority"),
        s"server-side session must carry no client residue: $rows")
    } finally server.stop()
  }

  test("infoUri endpoint: GET /v1/query/{id} serves query info; DELETE cancels") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      spark.range(100000).selectExpr("id AS k").createOrReplaceTempView("info_rows")
      val (_, b) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM info_rows"), Seq("X-Presto-User" -> "carol"))
      val post = json(b)
      val id = post.get("id").asText()
      val infoUri = post.get("infoUri").asText()
      // QueryResource.java: GET returns the query document
      val info = json(httpSend("GET", infoUri)._2)
      assert(info.get("queryId").asText() == id)
      assert(info.get("query").asText() == "SELECT k FROM info_rows")
      assert(info.get("session").get("user").asText() == "carol")
      // DELETE on the info URI cancels like the statement DELETE
      assert(httpSend("DELETE", infoUri)._1 == 204)
      val deadline = System.currentTimeMillis() + 15000
      while (!server.workerFinished(id) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(server.workerFinished(id))
      val after = json(httpSend("GET", infoUri)._2)
      assert(after.get("state").asText() == "FAILED")
      assert(after.has("errorMessage"))
    } finally server.stop()
  }

  // ---- admission observability through the front door ----

  test("system.runtime.resource_groups shows a QUEUED query's live counters") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("limited", 1, 10, Nil),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(None, Some("http".r), "limited"),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark)
    try {
      spark.range(100000).selectExpr("id AS k").createOrReplaceTempView("obs_rows")
      val (_, b1) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM obs_rows"))
      val id1 = json(b1).get("id").asText()
      val (_, b2) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT 1 AS x"))
      val id2 = json(b2).get("id").asText()
      var spins = 0
      while (logState(id2) != "QUEUED" && spins < 100) { Thread.sleep(50); spins += 1 }
      // ResourceGroupInfo surface: running/queued per group via SQL
      val row = PrestoSql.sql(spark,
        "SELECT running, queued, hard_concurrency_limit, max_queued " +
          "FROM system.runtime.resource_groups WHERE group_id = 'limited'")
        .head()
      assert((row.getInt(0), row.getInt(1), row.getInt(2), row.getInt(3)) == ((1, 1, 1, 10)),
        s"live group row: $row")
      // drain q1 so q2 completes and the suite leaves nothing parked
      var uri = s"${server.baseUri}/v1/statement/$id1/0"
      while (uri != null) {
        val node = json(httpSend("GET", uri)._2)
        uri = if (node.has("nextUri")) node.get("nextUri").asText() else null
      }
      val deadline = System.currentTimeMillis() + 20000
      while (logState(id2) != "FINISHED" && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(logState(id2) == "FINISHED")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  test("resource groups hot reload: a config-file edit re-points live limits and promotes parked waiters, no restart") {
    // DbResourceGroupConfigurationManager.load() semantics: the watcher
    // re-reads the file, existing instantiated groups keep their
    // counters but take the new limits, and a raised concurrency limit
    // admits parked waiters immediately.
    def cfg(limit: Int) =
      s"""{"rootGroups":[{"name":"global","hardConcurrencyLimit":$limit,"maxQueued":10}],
         | "selectors":[{"group":"global"}]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_rg_reload", ".json")
    java.nio.file.Files.write(f, cfg(1).getBytes("UTF-8"))
    val handle = ResourceGroups.watch(spark, f.toString, intervalMs = 100)
    val server = graft.sql.StatementServer.start(spark)
    try {
      // occupy the single slot, park a second acquire on another thread
      val p1 = ResourceGroups.acquire(spark, "alice", "cli")
      val admitted = new java.util.concurrent.CountDownLatch(1)
      @volatile var p2: ResourceGroups.Permit = null
      val t2 = new Thread(() => {
        p2 = ResourceGroups.acquire(spark, "bob", "cli")
        admitted.countDown()
      })
      t2.start()
      val qDl = System.currentTimeMillis() + 10000
      def row() = PrestoSql.sql(spark,
        "SELECT running, queued, hard_concurrency_limit " +
          "FROM system.runtime.resource_groups WHERE group_id = 'global'").head()
      while ({ val r = row(); r.getInt(1) != 1 } && System.currentTimeMillis() < qDl)
        Thread.sleep(50)
      assert((row().getInt(0), row().getInt(1), row().getInt(2)) == ((1, 1, 1)),
        "one running, one queued, limit 1 before the edit")
      val before = json(httpSend("GET",
        s"${server.baseUri}/v1/resourceGroupState/global")._2)
      assert(before.get("hardConcurrencyLimit").asInt() == 1)
      // EDIT the file (mtime bumped explicitly — same-millisecond writes
      // are invisible to a stamp poll) and wait for the watcher
      java.nio.file.Files.write(f, cfg(3).getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
      assert(admitted.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "raising the limit must promote the parked waiter without any release")
      val after = row()
      assert((after.getInt(0), after.getInt(1), after.getInt(2)) == ((2, 0, 3)),
        s"post-reload: counters intact, limit re-pointed in place: $after")
      val rest = json(httpSend("GET",
        s"${server.baseUri}/v1/resourceGroupState/global")._2)
      assert(rest.get("hardConcurrencyLimit").asInt() == 3 &&
        rest.get("numRunningQueries").asInt() == 2,
        "REST surface reflects the reloaded limits without a restart")
      p1.release(); if (p2 != null) p2.release()
      t2.join(5000)
    } finally {
      handle.close()
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  // ---- X-Presto-Time-Zone: the session zone over the wire ----

  test("HTTP time zone: concurrent clients with different zone headers get their own renderings") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      // zone-sensitive statement: epoch rendered in the session zone
      val sql = "SELECT CAST(from_unixtime(0) AS VARCHAR) AS t"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // CONCURRENT submissions: each statement's plan bakes in its own
      // client zone (analysis under the overlay window), so overlapping
      // drains cannot leak one client's zone into the other's rows
      val fTokyo = Future(httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "Asia/Tokyo")))
      val fNy = Future(httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "America/New_York")))
      val tokyo = Await.result(fTokyo, 60.seconds).head.get(0).asText()
      val ny = Await.result(fNy, 60.seconds).head.get(0).asText()
      assert(tokyo == "1970-01-01 09:00:00", s"Tokyo rendering: $tokyo")
      assert(ny == "1969-12-31 19:00:00", s"New York rendering: $ny")
      // the server session's zone is untouched after both statements
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      val utc = httpQuery(server.baseUri, sql).head.get(0).asText()
      assert(utc == "1970-01-01 00:00:00", s"headerless rendering: $utc")
      // SHOW SESSION surfaces the client zone for the statement's window
      val shown = httpQuery(server.baseUri, "SHOW SESSION",
        Seq("X-Presto-Time-Zone" -> "Asia/Tokyo"))
        .map(r => r.get(0).asText() -> r.get(1).asText()).toMap
      assert(shown.get("time_zone_id") == Some("Asia/Tokyo"), s"SHOW SESSION: $shown")
      // X-Presto-Language is recorded session state the same way
      val lang = httpQuery(server.baseUri, "SHOW SESSION",
        Seq("X-Presto-Language" -> "fr-FR"))
        .map(r => r.get(0).asText() -> r.get(1).asText()).toMap
      assert(lang.get("language") == Some("fr-FR"), s"SHOW SESSION: $lang")
      // a client echoing the zone BOTH ways (header + X-Presto-Session,
      // the protocol loop after a SET) must push ONE overlay entry —
      // the restore must still reach the server default afterwards
      val both = httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "Asia/Tokyo",
          "X-Presto-Session" -> "time_zone_id=Asia/Tokyo")).head.get(0).asText()
      assert(both == "1970-01-01 09:00:00", s"doubled-zone rendering: $both")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "doubled zone key must not leave a ghost overlay")
      // legacy short ids are accepted (reference TimeZoneKey table)
      httpQuery(server.baseUri, "SELECT 1 AS z", Seq("X-Presto-Time-Zone" -> "EST"))
      // an invalid zone smuggled through X-Presto-Session (bypassing
      // the header validation) fails the request AND leaves no residue
      val bad = intercept[RuntimeException](httpQuery(server.baseUri, sql,
        Seq("X-Presto-Session" -> "time_zone_id=Not/AZone")))
      assert(bad.getMessage != null)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "failed overlay must roll back the conf")
      val after = httpQuery(server.baseUri, sql).head.get(0).asText()
      assert(after == "1970-01-01 00:00:00", s"post-failure rendering: $after")
    } finally server.stop()
  }

  test("HTTP header overlay: invalid catalog/schema rolls back a valid zone overlay; bad zone header is a 400") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      val sql = "SELECT CAST(from_unixtime(0) AS VARCHAR) AS t"
      val dbBefore = spark.catalog.currentDatabase
      // valid time-zone overlay + invalid schema: the request must fail
      // AND the pushed zone conf must be rolled back. Pre-fix, the schema
      // require() ran after the overlay push but outside both rollback
      // paths, permanently leaking spark.sql.session.timeZone and a ghost
      // overlayStacks entry (ADVICE r12, high).
      intercept[RuntimeException](httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "Asia/Tokyo",
          "X-Presto-Schema" -> "no_such_schema_xyz")))
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "failed schema validation must roll back the zone overlay")
      assert(spark.catalog.currentDatabase == dbBefore)
      // same for an invalid catalog
      intercept[RuntimeException](httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "Asia/Tokyo",
          "X-Presto-Catalog" -> "no_such_catalog")))
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "failed catalog validation must roll back the zone overlay")
      // no ghost stack entry: a later overlay statement still renders in
      // its own zone and restores the server default afterwards
      val ny = httpQuery(server.baseUri, sql,
        Seq("X-Presto-Time-Zone" -> "America/New_York")).head.get(0).asText()
      assert(ny == "1969-12-31 19:00:00", s"post-failure overlay rendering: $ny")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "post-failure overlay must restore the server default, not a ghost")
      // an unparseable zone HEADER is a client error: 400 (like the
      // empty-statement path), never the generic 500 handler
      val (st, body) = httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT 1"), Seq("X-Presto-Time-Zone" -> "Not/AZone"))
      assert(st == 400, s"bad zone header must be a 400, got $st: $body")
      assert(body.contains("Unknown time zone"))
    } finally server.stop()
  }

  // ---- X-Presto-Client-Tags: tag-routed admission + observability ----

  test("HTTP client tags: tag-bearing requests land in tag-selected groups; untagged fall through") {
    // StaticSelector.java:45 subset semantics: the etl-tagged selector
    // only matches queries carrying ALL its tags
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("etl", 10, 10, Nil),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(None, None, "etl", clientTags = Seq("etl", "nightly")),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark)
    try {
      // unique statement texts: the suite-shared query log keeps every
      // test's statements, so lookups must not collide across tests
      httpQuery(server.baseUri, "SELECT 41 AS tagq",
        Seq("X-Presto-Client-Tags" -> "nightly, etl",
          "X-Presto-Client-Info" -> "airflow-dag-7",
          "X-Presto-Trace-Token" -> "trace-abc-123"))
      // a partially-tagged request does NOT match the subset selector
      httpQuery(server.baseUri, "SELECT 42 AS tagq",
        Seq("X-Presto-Client-Tags" -> "etl"))
      httpQuery(server.baseUri, "SELECT 43 AS tagq")
      val groups = ResourceGroups.snapshot(spark).map(_._1).toSet
      assert(groups.contains("etl"), s"tagged query must instantiate etl: $groups")
      // only the fully-tagged query went to etl; the rest fell through
      val log = PrestoSql.sql(spark,
        """SELECT query, array_join(client_tags, ','), client_info, trace_token
          |FROM system.runtime.queries
          |WHERE query LIKE 'SELECT 4_ AS tagq'""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      val tagged = log.find(_._1 == "SELECT 41 AS tagq").get
      assert(tagged._2 == "nightly,etl" && tagged._3 == "airflow-dag-7" &&
        tagged._4 == "trace-abc-123", s"recorded wire metadata: $tagged")
      val partial = log.find(_._1 == "SELECT 42 AS tagq").get
      assert(partial._2 == "etl" && partial._3 == null && partial._4 == null,
        s"partial tags recorded, no info/token: $partial")
      assert(log.find(_._1 == "SELECT 43 AS tagq").get._2 == "",
        "untagged query records an empty tag set")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  // ---- queryType / resource-estimate selectors + client capabilities ----

  test("resource groups: queryType and resource-estimate selectors route; capabilities are recorded") {
    // StaticSelector.java:43-80: queryType matches the classified
    // statement kind, SelectorResourceEstimate gates on the client's
    // X-Presto-Resource-Estimate declarations (left-inclusive,
    // right-exclusive ranges; an estimate-less query never matches).
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("etl_writes", 10, 10, Nil),
        ResourceGroups.GroupSpec("big", 10, 10, Nil),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(None, None, "etl_writes", queryType = Some("INSERT")),
        ResourceGroups.Selector(None, None, "big",
          resourceEstimate = Some(ResourceGroups.SelectorResourceEstimate(
            executionTime = Some(ResourceGroups.EstimateRange(
              min = Some(ResourceGroups.parseDuration("5m")), max = None))))),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark)
    try {
      PrestoSql.sql(spark, "CREATE TABLE qt_probe_t AS SELECT 1 AS a")
      try {
        // same user, same source: the INSERT routes to etl_writes, the
        // SELECT falls through to adhoc (ops teams' DML-vs-read split)
        httpQuery(server.baseUri, "INSERT INTO qt_probe_t SELECT 2 AS a")
        httpQuery(server.baseUri, "SELECT 61 AS qtq")
        // a long-estimate SELECT routes to big via the estimate selector
        httpQuery(server.baseUri, "SELECT 62 AS qtq",
          Seq("X-Presto-Resource-Estimate" -> "EXECUTION_TIME=10m",
            "X-Presto-Client-Capabilities" -> "PATH"))
        val groups = ResourceGroups.snapshot(spark).map(_._1).toSet
        assert(groups.contains("etl_writes"), s"INSERT must instantiate etl_writes: $groups")
        assert(groups.contains("big"), s"estimated query must instantiate big: $groups")
        // a sub-range estimate does NOT match (right-exclusive range
        // logic: 10m >= 5m matched above; 30s < 5m falls through)
        httpQuery(server.baseUri, "SELECT 63 AS qtq",
          Seq("X-Presto-Resource-Estimate" -> "EXECUTION_TIME=30s"))
        // query_type + client_capabilities are queryable observability
        val log = PrestoSql.sql(spark,
          """SELECT query, query_type, array_join(client_capabilities, ',')
            |FROM system.runtime.queries
            |WHERE query LIKE 'SELECT 6_ AS qtq' OR query LIKE 'INSERT INTO qt_probe_t%'
            |""".stripMargin)
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        assert(log.find(_._1.startsWith("INSERT")).get._2 == "INSERT")
        val cap = log.find(_._1 == "SELECT 62 AS qtq").get
        assert(cap._2 == "SELECT" && cap._3 == "PATH", s"capabilities row: $cap")
        // malformed estimate header is a 400 client error
        val (st, body) = httpSend("POST", s"${server.baseUri}/v1/statement",
          Some("SELECT 64 AS qtq"),
          Seq("X-Presto-Resource-Estimate" -> "WALL_TIME=5m"))
        assert(st == 400, s"unknown estimate name must be a 400, got $st: $body")
        // classification is comment-proof (dbt/ORM clients prefix SQL)
        // and resolves EXECUTE through the prepared statement
        assert(ResourceGroups.queryTypeOf(
          "-- dbt model x\n/* hint */ INSERT INTO t SELECT 1") == Some("INSERT"))
        assert(ResourceGroups.queryTypeOf("CREATE TABLE t2 AS SELECT 1") == Some("INSERT"))
        assert(ResourceGroups.queryTypeOf("CREATE TABLE t2 (a INT)") == Some("DATA_DEFINITION"))
        assert(ResourceGroups.queryTypeOf("EXECUTE myq",
          name => if (name == "myq") Some("DELETE FROM t") else None) == Some("DELETE"))
        // the EMBEDDED front door routes typed selectors identically to
        // HTTP — the same INSERT must land in etl_writes, not fall
        // through to the catch-all
        PrestoSql.sql(spark, "INSERT INTO qt_probe_t SELECT 3 AS a")
        val etlRuns = ResourceGroups.snapshot(spark)
          .collectFirst { case ("etl_writes", _, _, _, _) => true }
        assert(etlRuns.contains(true), "embedded INSERT must instantiate etl_writes")
      } finally PrestoSql.sql(spark, "DROP TABLE qt_probe_t")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  test("monitoring surface: /v1/info, /v1/status, /v1/cluster, /v1/node, /v1/queryState") {
    val server = graft.sql.StatementServer.start(spark)
    val base = server.baseUri
    try {
      // ServerInfo document (ServerInfoResource.getInfo)
      val (ic, ib) = httpSend("GET", s"$base/v1/info")
      assert(ic == 200)
      val info = json(ib)
      assert(info.get("nodeVersion").get("version").asText().nonEmpty)
      assert(info.get("coordinator").asBoolean() && !info.get("starting").asBoolean())
      assert(info.get("uptime").asText().endsWith("ms"))
      // state: ACTIVE; load-balancer probe answers 200
      assert(httpSend("GET", s"$base/v1/info/state")._2.contains("ACTIVE"))
      assert(httpSend("GET", s"$base/v1/info/coordinator")._1 == 200)
      // NodeStatus gauges are live reads
      val st = json(httpSend("GET", s"$base/v1/status")._2)
      assert(st.get("processors").asInt() > 0 && st.get("heapUsed").asLong() > 0)
      assert(st.get("nodeId").asText().nonEmpty)
      // node lists: single-JVM coordinator has no remote nodes
      assert(httpSend("GET", s"$base/v1/node")._2 == "[]")
      assert(httpSend("GET", s"$base/v1/node/failed")._2 == "[]")
      // cluster stats move when a statement is served
      val before = json(httpSend("GET", s"$base/v1/cluster")._2)
      val rows = httpQuery(base, "SELECT 1 AS one")
      assert(rows.nonEmpty)
      val after = json(httpSend("GET", s"$base/v1/cluster")._2)
      assert(after.get("totalInputRows").asLong() > before.get("totalInputRows").asLong())
      assert(after.get("totalInputBytes").asLong() > before.get("totalInputBytes").asLong())
      assert(after.get("runningQueries").asLong() >= 0 && after.get("activeWorkers").asLong() >= 1)
      // queryState: nothing queued/running once drained
      assert(httpSend("GET", s"$base/v1/queryState")._2 == "[]")
      // invalid state transitions are 400s (ServerInfoResource.updateState)
      assert(httpSend("PUT", s"$base/v1/info/state", Some("\"ACTIVE\""))._1 == 400)
      assert(httpSend("PUT", s"$base/v1/info/state", Some("\"NONSENSE\""))._1 == 400)
      // graceful drain: SHUTTING_DOWN flips state and refuses new work
      assert(httpSend("PUT", s"$base/v1/info/state", Some("\"SHUTTING_DOWN\""))._1 == 200)
      assert(httpSend("GET", s"$base/v1/info/state")._2.contains("SHUTTING_DOWN"))
      val (sc, sb2) = httpSend("POST", s"$base/v1/statement", Some("SELECT 1"),
        Seq("X-Presto-User" -> "u"))
      assert(sc == 503 && sb2.contains("shutting down"))
    } finally server.stop()
  }

  test("coordinator REST tail: /v1/resourceGroupState, /v1/memory, cluster memory, killed/preempted") {
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("global", 10, 10, Seq(
          ResourceGroups.GroupSpec("sub", 5, 5, Nil))),
        ResourceGroups.GroupSpec("adhoc", Int.MaxValue, Int.MaxValue, Nil)),
      selectors = Seq(
        ResourceGroups.Selector(Some("alice".r), None, "global.sub"),
        ResourceGroups.Selector(None, None, "adhoc"))))
    val server = graft.sql.StatementServer.start(spark)
    val base = server.baseUri
    try {
      spark.range(500000).selectExpr("id AS k").createOrReplaceTempView("rg_rows")
      // park a RUNNING query in global.sub (one page fetched, worker
      // blocks at the page-queue cap holding its admission slot)
      def serverState(id: String): String =
        json(httpSend("GET", s"$base/v1/query/$id")._2).get("state").asText()
      def park(): String = {
        val (_, b) = httpSend("POST", s"$base/v1/statement",
          Some("SELECT k FROM rg_rows"), Seq("X-Presto-User" -> "alice"))
        val id = json(b).get("id").asText()
        // poll page 0 until DATA arrives: the worker is then provably
        // inside the drain loop and parks at the 16-page cap (kills
        // landing mid-planning would race the front door's completion
        // record in the query log)
        var spins = 0
        var gotData = false
        while (!gotData && spins < 200) {
          val n = json(httpSend("GET", s"$base/v1/statement/$id/0")._2)
          gotData = n.has("data") && n.get("data").size() > 0
          if (!gotData) { Thread.sleep(50); spins += 1 }
        }
        assert(gotData && serverState(id) == "RUNNING",
          s"query must be RUNNING with data flowing: ${serverState(id)}")
        id
      }
      val id1 = park()
      // ResourceGroupStateInfoResource: full info of an inner node —
      // live counts, FAIR policy name, active-subgroup summary
      val (gc, gb) = httpSend("GET", s"$base/v1/resourceGroupState/global")
      assert(gc == 200)
      val gi = json(gb)
      assert(gi.get("id").get(0).asText() == "global")
      assert(gi.get("state").asText() == "CAN_RUN")
      assert(gi.get("schedulingPolicy").asText() == "FAIR")
      assert(gi.get("numRunningQueries").asInt() == 1)
      assert(gi.get("maxQueuedQueries").asInt() == 10)
      assert(gi.get("softMemoryLimit").asText().nonEmpty)
      val subs = gi.get("subGroups")
      assert(subs.size() == 1, s"one active subgroup: $subs")
      assert(subs.get(0).get("id").get(1).asText() == "sub")
      assert(subs.get(0).get("numRunningQueries").asInt() == 1)
      // leaf: the running query's QueryStateInfo appears
      val li = json(httpSend("GET", s"$base/v1/resourceGroupState/global/sub")._2)
      val rq = li.get("runningQueries")
      assert(rq.size() == 1 && rq.get(0).get("queryId").asText() == id1)
      assert(rq.get(0).get("resourceGroupId").get(1).asText() == "sub")
      // /v1/queryState now carries resourceGroupId
      val qs = json(httpSend("GET", s"$base/v1/queryState?user=alice")._2)
      assert(qs.size() == 1 && qs.get(0).get("resourceGroupId").get(0).asText() == "global")
      // unknown / never-instantiated / empty ids are 404
      assert(httpSend("GET", s"$base/v1/resourceGroupState/nosuch")._1 == 404)
      assert(httpSend("GET", s"$base/v1/resourceGroupState/adhoc")._1 == 404)
      assert(httpSend("GET", s"$base/v1/resourceGroupState")._1 == 404)
      // MemoryResource: MemoryInfo + general pool; absent pools are 404
      val mi = json(httpSend("GET", s"$base/v1/memory")._2)
      assert(mi.get("totalNodeMemory").asText().nonEmpty)
      assert(mi.get("pools").get("general").get("maxBytes").asLong() > 0)
      val gp = json(httpSend("GET", s"$base/v1/memory/general")._2)
      assert(gp.get("reservedBytes").asLong() > 0)
      assert(gp.get("queryMemoryReservations").isObject)
      assert(httpSend("GET", s"$base/v1/memory/reserved")._1 == 404)
      // ClusterStatsResource memory subresources
      val cm = json(httpSend("GET", s"$base/v1/cluster/memory")._2)
      assert(cm.get("general").get("maxBytes").asLong() > 0)
      val wm = json(httpSend("GET", s"$base/v1/cluster/workerMemory")._2)
      val worker = wm.fields().next()
      assert(worker.getKey.startsWith("graft-"))
      assert(worker.getValue.get("pools").get("general").get("maxBytes").asLong() > 0)
      assert(httpSend("GET", s"$base/v1/cluster/bogus")._1 == 404)
      // PUT {id}/killed: fails the query with ADMINISTRATIVELY_KILLED
      // and the caller's message (KillQueryProcedure text shape)
      assert(httpSend("PUT", s"$base/v1/query/$id1/killed", Some("cost cap"))._1 == 200)
      assert(serverState(id1) == "FAILED")
      val logDl = System.currentTimeMillis() + 10000
      while (logState(id1) != "FAILED" && System.currentTimeMillis() < logDl)
        Thread.sleep(100)
      assert(logState(id1) == "FAILED")
      val qi = json(httpSend("GET", s"$base/v1/query/$id1")._2)
      assert(qi.get("errorMessage").asText() == "Query killed. Message: cost cap")
      assert(qi.get("errorCode").get("name").asText() == "ADMINISTRATIVELY_KILLED")
      // on an already-done query the verb is a 409 CONFLICT; unknown 410
      assert(httpSend("PUT", s"$base/v1/query/$id1/killed", Some("again"))._1 == 409)
      assert(httpSend("PUT", s"$base/v1/query/nope/killed", Some("x"))._1 == 410)
      // preempted verb, empty message -> "No message provided."
      val id2 = park()
      assert(httpSend("PUT", s"$base/v1/query/$id2/preempted", Some(""))._1 == 200)
      val qi2 = json(httpSend("GET", s"$base/v1/query/$id2")._2)
      assert(qi2.get("errorMessage").asText() == "Query preempted. No message provided.")
      assert(qi2.get("errorCode").get("name").asText() == "ADMINISTRATIVELY_PREEMPTED")
      // admin-failed workers exit and release their admission slots
      val deadline = System.currentTimeMillis() + 10000
      while (!(server.workerFinished(id1) && server.workerFinished(id2)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(server.workerFinished(id1) && server.workerFinished(id2))
      assert(ResourceGroups.snapshot(spark).forall { case (_, r, q, _, _) => r == 0 && q == 0 },
        s"counters drained: ${ResourceGroups.snapshot(spark)}")
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
    }
  }

  test("task observability: /v1/task lists live stages, serves {id} and {id}/status, 405s the data plane") {
    val server = graft.sql.StatementServer.start(spark)
    val base = server.baseUri
    try {
      // idle tracker: an empty task list, unknown ids 404
      val (c0, b0) = httpSend("GET", s"$base/v1/task")
      assert(c0 == 200 && b0 == "[]", s"idle task list: $c0 $b0")
      assert(httpSend("GET", s"$base/v1/task/999999")._1 == 404)
      assert(httpSend("GET", s"$base/v1/task/999999/status")._1 == 404)
      // the data plane (POST update, DELETE abort, results buffers) IS
      // Spark's scheduler/shuffle — adjudicated 405, never 500
      assert(httpSend("POST", s"$base/v1/task/1", Some("{}"))._1 == 405)
      assert(httpSend("DELETE", s"$base/v1/task/1")._1 == 405)
      // drive a real stage and read it through the endpoint while live
      val done = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        try spark.range(64).repartition(8).foreachPartition {
          (_: Iterator[java.lang.Long]) => Thread.sleep(1500)
        } finally done.countDown()
      })
      t.start()
      var listed: Option[com.fasterxml.jackson.databind.JsonNode] = None
      val deadline = System.currentTimeMillis() + 20000
      while (listed.isEmpty && System.currentTimeMillis() < deadline) {
        val arr = json(httpSend("GET", s"$base/v1/task")._2)
        if (arr.size() > 0) listed = Some(arr.get(0))
        else Thread.sleep(50)
      }
      assert(listed.nonEmpty, "a live stage must appear in /v1/task")
      val doc = listed.get
      val taskId = doc.get("taskId").asText()
      assert(taskId.startsWith("stage-"), s"taskId shape: $taskId")
      assert(doc.get("taskStatus").get("state").asText() == "RUNNING")
      assert(doc.get("stats").get("totalDrivers").asLong() > 0)
      // both the bare stage id and the rendered task id resolve
      val (cs, bs) = httpSend("GET", s"$base/v1/task/$taskId/status")
      assert(cs == 200 && json(bs).get("taskId").asText() == taskId, s"$cs $bs")
      val bare = taskId.stripPrefix("stage-").takeWhile(_ != '.')
      assert(httpSend("GET", s"$base/v1/task/$bare")._1 == 200)
      done.await(30, java.util.concurrent.TimeUnit.SECONDS)
      t.join(5000)
    } finally server.stop()
  }

  test("password authenticator: Basic challenge, malformed credentials, principal feeds groups and grants") {
    import graft.sql.PasswordAuth
    ResourceGroups.configure(spark, ResourceGroups.Config(
      rootGroups = Seq(
        ResourceGroups.GroupSpec("global", 100, 100, Seq(
          ResourceGroups.GroupSpec("${USER}", 10, 10, Nil)))),
      selectors = Seq(ResourceGroups.Selector(None, None, "global.${USER}"))))
    PrestoSql.sql(spark, "GRANT SELECT, INSERT ON pw_target TO carol")
    val pwFile = java.nio.file.Files.createTempFile("graft_pw", ".txt")
    java.nio.file.Files.write(pwFile,
      (s"carol:${PasswordAuth.sha256Hex("carolpw")}\n" +
        "# comment line\n\n" +
        s"dave:${PasswordAuth.sha256Hex("davepw")}\n").getBytes("UTF-8"))
    // a credential line whose hash is not even-length lowercase hex is
    // rejected at LOAD (malformed line), never deferred to verify time
    // where hexBytes would turn a login attempt into a 500
    for (bad <- Seq("eve:nothex!!", "eve:abc", "eve:pbkdf2:1000:xyz:aabb")) {
      val badFile = java.nio.file.Files.createTempFile("graft_pw_bad", ".txt")
      java.nio.file.Files.write(badFile, s"$bad\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException](PasswordAuth.fromFile(badFile.toString))
      java.nio.file.Files.delete(badFile)
    }
    val server = graft.sql.StatementServer.start(spark)
    server.setPasswordAuthenticator(Some(PasswordAuth.fromFile(pwFile.toString)))
    val base = server.baseUri
    try {
      def basic(u: String, p: String) = "Basic " + java.util.Base64.getEncoder
        .encodeToString(s"$u:$p".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      def sendRaw(auth: Option[String], extra: Seq[(String, String)] = Seq.empty)
          : java.net.http.HttpResponse[String] = {
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/v1/statement"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString("SELECT 1 AS one"))
        auth.foreach(a => b = b.header("Authorization", a))
        extra.foreach { case (k, v) => b = b.header(k, v) }
        java.net.http.HttpClient.newHttpClient()
          .send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      }
      // no credentials: 401 with the RFC 7617 Basic challenge
      val r0 = sendRaw(None)
      assert(r0.statusCode() == 401)
      assert(r0.headers().firstValue("WWW-Authenticate").orElse("") == "Basic realm=\"Presto\"",
        s"challenge: ${r0.headers().map()}")
      // wrong scheme is a challenge too
      assert(sendRaw(Some("Bearer xyz")).statusCode() == 401)
      // wrong password: 401 with the access-denied message AND challenge
      val r1 = sendRaw(Some(basic("carol", "wrong")))
      assert(r1.statusCode() == 401 && r1.body().contains("Access Denied: Invalid credentials"))
      assert(r1.headers().firstValue("WWW-Authenticate").isPresent)
      // unknown user: same denial (no user-existence oracle)
      assert(sendRaw(Some(basic("mallory", "x"))).statusCode() == 401)
      // invalid base64 / missing password part: the reference's texts
      val r2 = sendRaw(Some("Basic !!!not-base64!!!"))
      assert(r2.statusCode() == 401 && r2.body().contains("Invalid base64 encoded credentials"))
      val r3 = sendRaw(Some("Basic " + java.util.Base64.getEncoder
        .encodeToString("carol".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))))
      assert(r3.statusCode() == 401 && r3.body().contains("Malformed decoded credentials"))
      // impersonation: authenticated carol cannot become dave (403)
      val r4 = sendRaw(Some(basic("carol", "carolpw")), Seq("X-Presto-User" -> "dave"))
      assert(r4.statusCode() == 403 && r4.body().contains("cannot become user dave"))
      // right password: the statement runs AS the principal — lands in
      // carol's ${USER} group and the query log records carol
      val creds = Seq("Authorization" -> basic("carol", "carolpw"))
      assert(httpQuery(base, "SELECT 1 AS one", creds).head.get(0).asInt() == 1)
      val groups = ResourceGroups.snapshot(spark).map(_._1).toSet
      assert(groups.contains("global.carol"), s"principal group must exist: $groups")
      val users = PrestoSql.sql(spark,
        "SELECT DISTINCT user FROM system.runtime.queries WHERE query = 'SELECT 1 AS one'")
        .collect().map(_.getString(0)).toSet
      assert(users.contains("carol"), s"log users: $users")
      // grants enforce against the authenticated principal: carol may
      // create/read pw_target, dave is denied
      httpQuery(base, "CREATE TABLE pw_target AS SELECT 7 AS x", creds)
      try {
        assert(httpQuery(base, "SELECT x FROM pw_target", creds).head.get(0).asInt() == 7)
        val dave = Seq("Authorization" -> basic("dave", "davepw"))
        val denied = intercept[RuntimeException](
          httpQuery(base, "SELECT x FROM pw_target", dave))
        assert(denied.getMessage.contains("Access Denied"), denied.getMessage)
      } finally PrestoSql.sql(spark, "DROP TABLE IF EXISTS pw_target")
      // salted PBKDF2 credential line (user:pbkdf2:<iter>:<salt>:<hash>)
      // authenticates the same way — and a wrong password still denies
      java.nio.file.Files.write(pwFile,
        s"\nerin:${PasswordAuth.Pbkdf2.line("erin", "erinpw", 10000).split(":", 2)(1)}\n"
          .getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
      server.setPasswordAuthenticator(Some(PasswordAuth.fromFile(pwFile.toString)))
      assert(httpQuery(base, "SELECT 2 AS two",
        Seq("Authorization" -> basic("erin", "erinpw"))).head.get(0).asInt() == 2)
      assert(sendRaw(Some(basic("erin", "wrong"))).statusCode() == 401)
      // the filter binds to the WHOLE /v1 surface (reference
      // AuthenticationFilter is servlet-wide): with auth installed,
      // anonymous callers cannot read query info/SQL, walk the ops
      // endpoints, or use the admin verbs
      val carolH = Seq("Authorization" -> basic("carol", "carolpw"))
      for (p <- Seq("/v1/queryState", "/v1/cluster", "/v1/cluster/memory",
          "/v1/memory", "/v1/node",
          "/v1/resourceGroupState/global")) {
        assert(httpSend("GET", s"$base$p")._1 == 401, s"anonymous GET $p must 401")
        assert(httpSend("GET", s"$base$p", headers = carolH)._1 == 200,
          s"authenticated GET $p must pass")
      }
      // read-only health probes stay open (the reference skips auth on
      // non-secure requests entirely, AuthenticationFilter.java:68-71;
      // load balancers probe /v1/info uncredentialed) — but the mutating
      // drain verb PUT /v1/info/state still authenticates
      for (p <- Seq("/v1/info", "/v1/status", "/v1/info/state", "/v1/info/coordinator")) {
        assert(httpSend("GET", s"$base$p")._1 == 200, s"anonymous GET $p is a health probe")
      }
      assert(httpSend("PUT", s"$base/v1/info/state", Some("\"SHUTTING_DOWN\""))._1 == 401,
        "anonymous PUT /v1/info/state (drain) must 401")
      assert(httpSend("PUT", s"$base/v1/query/any/killed", Some("x"))._1 == 401)
      // FINISHED-but-undrained query: the admin verb 409s (reference
      // failQuery rejects ANY terminal state; q.done alone is not the
      // terminal witness — it only flips when the client eats EndSlot)
      val undrained = json(httpSend("POST", s"$base/v1/statement",
        Some("SELECT 3 AS three"), carolH)._2).get("id").asText()
      val finDl = System.currentTimeMillis() + 10000
      def infoState() = json(httpSend("GET", s"$base/v1/query/$undrained",
        headers = carolH)._2).get("state").asText()
      while (infoState() != "FINISHED" && System.currentTimeMillis() < finDl)
        Thread.sleep(50)
      assert(infoState() == "FINISHED")
      assert(httpSend("PUT", s"$base/v1/query/$undrained/killed", Some("late"),
        carolH)._1 == 409, "killed on a FINISHED (mid-drain) query must 409")
      assert(infoState() == "FINISHED", "the lost verb must not flip FINISHED to FAILED")
      // clearing the authenticator reopens unauthenticated access
      server.setPasswordAuthenticator(None)
      assert(sendRaw(None).statusCode() == 200)
    } finally {
      server.stop()
      ResourceGroups.disable(spark)
      AccessControl.clear()
      java.nio.file.Files.deleteIfExists(pwFile)
    }
  }

  // ---- the shared client-state window: reads beside appends ----

  /** Registers `park_gate(x)`: counts `entered` down, then waits on
    * `gate` — a task that stays running until the spec opens the gate. */
  private def installGate(): Unit = {
    LifecycleSpecs.gate = new java.util.concurrent.CountDownLatch(1)
    LifecycleSpecs.entered = new java.util.concurrent.CountDownLatch(1)
    spark.udf.register("park_gate", (x: Long) => {
      LifecycleSpecs.entered.countDown()
      LifecycleSpecs.gate.await()
      x
    })
  }

  /** Follow a POSTed statement's pages from token 0 to the end. */
  private def drain(base: String, id: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
    var uri = s"$base/v1/statement/$id/0"
    while (uri != null) {
      val node = json(httpSend("GET", uri)._2)
      if (node.has("error"))
        throw new RuntimeException(node.get("error").get("message").asText())
      if (node.has("data")) node.get("data").forEach(r => rows += r)
      uri = if (node.has("nextUri")) node.get("nextUri").asText() else null
    }
    rows.toSeq
  }

  test("shared window: reads do not queue behind an INSERT; client state and appends do") {
    val server = graft.sql.StatementServer.start(spark)
    val root = java.nio.file.Files.createTempDirectory("fx_rows").toFile
    val dir = new java.io.File(root, "p").toString
    installGate()
    try {
      spark.range(50).selectExpr("id AS k").write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("fx_rows")
      PrestoSql.sql(spark, "DROP TABLE IF EXISTS append_t")
      PrestoSql.sql(spark, "CREATE TABLE append_t (x BIGINT) USING parquet")
      def post(sql: String, headers: Seq[(String, String)] = Seq.empty): String =
        json(httpSend("POST", s"${server.baseUri}/v1/statement", Some(sql), headers)._2)
          .get("id").asText()
      // the INSERT parks inside its write job, holding the append lock
      val insert = post("INSERT INTO append_t SELECT park_gate(id) FROM range(0, 3, 1, 1)")
      assert(LifecycleSpecs.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the INSERT's task must start")
      // a headerless read of a fixture view completes while the INSERT is
      // parked (sent first: a waiting exclusive statement holds back new
      // shared ones, so that writers are not starved)
      @volatile var fixtureRows: Seq[Long] = Seq.empty
      val reader = new Thread(() =>
        fixtureRows = httpQuery(server.baseUri, "SELECT count(*) AS n FROM fx_rows")
          .map(_.get(0).asLong()))
      reader.start(); reader.join(60000)
      assert(fixtureRows == Seq(50L), "a fixture read must not wait on the parked INSERT")
      val readT = post("SELECT count(*) AS n FROM append_t")
      val insert2 = post("INSERT INTO append_t SELECT id FROM range(0, 2, 1, 1)")
      val withHeader = post("SELECT 1 AS one", Seq("X-Presto-Session" -> "hash_partition_count=4"))
      Thread.sleep(1000)
      Seq(insert, readT, withHeader, insert2).foreach { id =>
        assert(!server.workerFinished(id) && logState(id) != "FINISHED",
          s"$id must stay blocked while the INSERT is parked")
      }
      LifecycleSpecs.gate.countDown()
      drain(server.baseUri, insert)
      val n = drain(server.baseUri, readT).head.get(0).asLong()
      assert(n == 3 || n == 5, s"a read of the target sees whole batches only: $n")
      assert(drain(server.baseUri, withHeader).head.get(0).asInt() == 1)
      drain(server.baseUri, insert2)
      assert(httpQuery(server.baseUri, "SELECT count(*) FROM append_t").head.get(0).asLong() == 5)
    } finally {
      LifecycleSpecs.gate.countDown()
      server.stop()
      PrestoSql.sql(spark, "DROP TABLE IF EXISTS append_t")
      org.apache.commons.io.FileUtils.deleteQuietly(root)
    }
  }

  test("shared window: INSERT batches are atomic under concurrent count(*) reads") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      PrestoSql.sql(spark, "DROP TABLE IF EXISTS atomic_t")
      PrestoSql.sql(spark, "CREATE TABLE atomic_t (x BIGINT) USING parquet")
      // batch b holds 1000 + b rows over 4 files; a partial batch is no prefix sum
      val k = 8
      val prefix = (0 to k).map(b => (1 to b).map(1000L + _).sum)
      val committed = new java.util.concurrent.atomic.AtomicInteger(0)
      val started = new java.util.concurrent.atomic.AtomicInteger(0)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Int)]()
      @volatile var writing = true
      val readers = (1 to 2).map { _ =>
        val t = new Thread(() =>
          while (writing) {
            val lo = committed.get()
            val n = httpQuery(server.baseUri, "SELECT count(*) AS n FROM atomic_t")
              .head.get(0).asLong()
            seen.add((lo, n, started.get()))
          })
        t.start(); t
      }
      try (1 to k).foreach { b =>
        started.set(b)
        httpQuery(server.baseUri,
          s"INSERT INTO atomic_t SELECT id FROM range(0, ${1000 + b}, 1, 4)")
        committed.set(b)
      } finally {
        writing = false
        readers.foreach(_.join(60000))
      }
      import scala.jdk.CollectionConverters._
      val reads = seen.asScala.toSeq
      assert(reads.nonEmpty)
      reads.foreach { case (lo, n, hi) =>
        assert(prefix.contains(n), s"count $n is not a prefix sum of whole batches")
        assert(n >= prefix(lo), s"a read sent after batch $lo committed saw only $n rows")
        assert(n <= prefix(hi), s"a read saw $n rows before batch ${hi + 1} was sent")
      }
      assert(httpQuery(server.baseUri, "SELECT count(*) FROM atomic_t")
        .head.get(0).asLong() == prefix(k))
    } finally {
      server.stop()
      PrestoSql.sql(spark, "DROP TABLE IF EXISTS atomic_t")
    }
  }

  // ---- protocol latency: the GET poll, the last page, Nagle ----

  test("HTTP cancel: a DELETE returns before another connection's parked GET does") {
    val server = graft.sql.StatementServer.start(spark)
    installGate()
    try {
      // the GET parks up to 100 ms on an empty page queue; an attempt
      // counts when the GET really parked through a whole poll
      var checked = 0
      var attempt = 0
      while (checked == 0 && attempt < 8) {
        attempt += 1
        val id = json(httpSend("POST", s"${server.baseUri}/v1/statement",
          Some("SELECT park_gate(id) AS x FROM range(0, 1, 1, 1)"))._2).get("id").asText()
        @volatile var getStart = 0L
        @volatile var getEnd = 0L
        val getter = new Thread(() => {
          getStart = System.nanoTime()
          httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")
          getEnd = System.nanoTime()
        })
        getter.start()
        Thread.sleep(40)
        val (code, _) = httpSend("DELETE", s"${server.baseUri}/v1/statement/$id/0")
        val deleteEnd = System.nanoTime()
        getter.join(10000)
        assert(code == 204)
        if (getEnd - getStart >= 90L * 1000 * 1000) {
          // sent ~40 ms into the ~100 ms poll: done well before it ends
          assert(getEnd - deleteEnd > 20L * 1000 * 1000,
            s"DELETE must not wait behind the parked GET (attempt $attempt)")
          checked += 1
        }
      }
      assert(checked == 1, "no attempt parked a GET before its DELETE")
    } finally {
      LifecycleSpecs.gate.countDown()
      server.stop()
    }
  }

  test("HTTP last page carries the end of results; its re-GET is identical") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      spark.range(10).selectExpr("id AS k").createOrReplaceTempView("fold_rows")
      val id = json(httpSend("POST", s"${server.baseUri}/v1/statement",
        Some("SELECT k FROM fold_rows ORDER BY k"))._2).get("id").asText()
      val deadline = System.currentTimeMillis() + 30000
      while (!server.workerFinished(id) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val (_, body) = httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")
      val node = json(body)
      assert(node.get("data").size() == 10 && !node.has("nextUri"),
        s"the only page must end the results: $body")
      assert(httpSend("GET", s"${server.baseUri}/v1/statement/$id/0")._2 == body,
        "a re-GET of the last token must return the identical body")
    } finally server.stop()
  }

  test("HTTP responses do not stall on Nagle: sequential GET /v1/info on loopback") {
    val server = graft.sql.StatementServer.start(spark)
    try {
      val client = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${server.baseUri}/v1/info")).GET().build()
      val ms = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median round trip ${ms(10)} ms (a Nagle stall is >= 40 ms): $ms")
    } finally server.stop()
  }
}

object LifecycleSpecs {
  // read by the park_gate UDF inside executor tasks (same JVM in local mode)
  @volatile var gate = new java.util.concurrent.CountDownLatch(0)
  @volatile var entered = new java.util.concurrent.CountDownLatch(0)
}
