package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusFlush

import graft.engine.QueryMetrics

/** Benchmark harness (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are fully materialized through a noop datasource write —
  * `count()` would let Spark prune projections and undercount the work
  * (the reference's benchmarks drain full pages through the operator,
  * presto-benchmark/.../AbstractOperatorBenchmark.java).
  *
  * Methodology (round 6): every query runs twice — one full first pass,
  * then a full second pass — and reports the min wall time of the two,
  * alongside the executor CPU time of the min run and the first-pass wall
  * time (`t1`). Reporting CPU next to wall makes a contaminated run
  * self-diagnosing: host-level stalls inflate wall but not CPU, so
  * wall≫cpu on a shuffle-free scan means the box was busy, not the code.
  * (Earlier rounds retried only the >3s tail; totals are therefore not
  * directly comparable to r5-and-before single-pass numbers.)
  *
  * Round 16: isolated retimes run in a FORKED fresh JVM started with this
  * JVM's own flags (heap included). A same-JVM retime after 343 queries
  * of heap churn at a large SPARK_DRIVER_MEM manufactured phantom
  * regressions (r15: kn_trigram "isolated"
  * 37.96 s/521.5 CPU in-JVM vs 4.66 s/13.2 CPU fresh-JVM) — the child's
  * -Xmx and per-retime driver GC time are published in the artifact so
  * heap-state artifacts are visible rather than inferred.
  */
object Bench {

  /** Host steal accounting (/proc/stat cpu line, field 8 = steal
    * jiffies): the box shows multi-minute whole-host stall windows, and
    * without this the published wall numbers are unattributable — a
    * 107-vs-81s run-to-run discrepancy must be readable from the
    * artifact alone (r7 judge). steal_pct is the host-wide share of
    * jiffies stolen during the query's window.
    */
  private def procStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  /** Cumulative stop-the-world GC time of THIS (driver) JVM in ms. */
  private def gcNowMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Session on the benchmark agent's exact configuration, fixtures
    * registered and the lineitem footers/pages warmed (untimed). */
  private[graft] def start(sfDir: String): SparkSession = {
    val spark = graft.engine.Engine.session(s"local[${graft.engine.Engine.cores}]")
    graft.engine.Engine.registerTables(spark, sfDir)
    spark.table("lineitem").write.format("noop").mode("overwrite").save()
    spark
  }

  final case class Run(wall: Double, cpu: Double, stealPct: Double, gcMs: Long,
      compiles: Long, compileMs: Long, jobs: Long, stages: Long, bcastReused: Long) {
    /** The JSON fields the isolated child prints and BENCH_FULL carries. */
    def fields: String = s""""wall":${r3(wall)},"cpu":${r3(cpu)},"steal_pct":${r3(stealPct)},""" +
      s""""gc_ms":$gcMs,"compiles":$compiles,"compile_ms":$compileMs,"jobs":$jobs,"stages":$stages,""" +
      s""""bcast_reused":$bcastReused"""
  }

  private val failed = Run(-1.0, -1.0, 0.0, 0L, 0L, 0L, 0L, 0L, 0L)

  /** Generated classes compiled by Janino in this JVM so far (driver and
    * local tasks alike; a compiled-class cache hit does not count), and
    * the time spent compiling them in ns. */
  private def compilesNow(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** One measured run. cpu (immune to host stalls), jobs, stages and
    * bcastReused (broadcasts served from the context's cache, so a warm
    * run reads as one) come from the context's [[QueryMetrics]], the bus
    * drained on both sides of the window so stage events land in the
    * right query. gcMs = driver-JVM stop-the-world GC time inside the
    * window; compiles/compileMs = generated classes compiled inside the
    * window and the time that took.
    */
  private[graft] def once(spark: SparkSession, sfDir: String)(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
    val metrics = QueryMetrics.of(spark.sparkContext)
    ListenerBusFlush.drain(spark.sparkContext)
    val m0 = metrics.totals
    val (st0, tot0) = procStat()
    val g0 = gcNowMs()
    val (k0, kNs0) = compilesNow()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    val (k1, kNs1) = compilesNow()
    val g1 = gcNowMs()
    val (st1, tot1) = procStat()
    ListenerBusFlush.drain(spark.sparkContext)
    val m1 = metrics.totals
    val stealPct =
      if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
    Run(wall, (m1.cpuNs - m0.cpuNs) / 1e9, stealPct, g1 - g0, k1 - k0,
      (kNs1 - kNs0) / 1000000L, m1.jobs - m0.jobs, m1.stages - m0.stages,
      m1.bcastReused - m0.bcastReused)
  }

  private def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** The host a run measured, as JSON fields: the cores the master uses,
    * the processors the JVM sees, its heap limit, JDK and Spark versions. */
  private def hostJson: String =
    s""""cpus":${graft.engine.Engine.cores},"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""java_version":"${System.getProperty("java.version")}","spark_version":"${org.apache.spark.SPARK_VERSION}""""

  def main(args: Array[String]): Unit =
    sys.env.get("SPARK_GRAFT_BENCH_ISOLATED") match {
      case Some(names) => isolatedChild(names.split(",").filter(_.nonEmpty).toSeq)
      case None        => suiteMain()
    }

  // ---------------------------------------------------------------------
  // Child mode: fresh-JVM isolated retimes. Invoked by the parent suite in
  // a forked process with the parent's JVM flags; runs ONLY the named
  // queries (one untimed warm pass + two measured, min-of-2 — measuring
  // the code, not cold JIT) and prints one JSON line the parent parses.
  // ---------------------------------------------------------------------
  private def isolatedChild(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = start(sfDir)
    val xmxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val out = names.flatMap { name =>
      SparkEntry.benchQueries.get(name).map { fn =>
        val best =
          try {
            once(spark, sfDir)(fn) // warm (untimed)
            val a = once(spark, sfDir)(fn)
            val b = once(spark, sfDir)(fn)
            if (b.wall < a.wall) b else a
          } catch { case e: Throwable =>
            System.err.println(s"[bench-isolated] $name failed: ${e.getMessage}")
            failed
          }
        "\"" + name + "\":{" + best.fields + "}"
      }
    }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"isolated_child":true,"xmx_mb":$xmxMb,"queries":$out}""")
    System.out.flush()
  }

  /** Fork a fresh JVM with this JVM's flags (heap, code cache,
    * --add-opens) running `isolatedChild` over `names`; the child
    * inherits the environment, so it sizes its master by the same cores.
    * Returns per-query runs plus the child's -Xmx (MB), or None if the
    * fork could not run (parent then publishes isolated_forked=false and
    * no isolated numbers — a missing number is honest; a same-JVM number
    * after a 343-query heap can be a 20x phantom, r15 verdict).
    */
  private def forkIsolated(names: Seq[String], sfDir: String)
      : Option[(Long, Map[String, Run])] =
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = (Seq(javaBin) ++ jvmFlags ++ Seq(
        "-cp", System.getProperty("java.class.path"), "graft.Bench")).toList
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_ISOLATED", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val stdout = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val ok = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES) && p.exitValue() == 0
      if (!ok) { p.destroyForcibly(); None }
      else {
        val line = stdout.linesIterator.toSeq.reverse
          .find(_.startsWith("{\"isolated_child\""))
        line.map { l =>
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(l)
          val xmxMb = node.path("xmx_mb").asLong(-1L)
          val qs = node.path("queries").fields().asScala.map { e =>
            val v = e.getValue
            e.getKey -> Run(v.path("wall").asDouble(-1.0), v.path("cpu").asDouble(-1.0),
              v.path("steal_pct").asDouble(0.0), v.path("gc_ms").asLong(0L),
              v.path("compiles").asLong(0L), v.path("compile_ms").asLong(0L),
              v.path("jobs").asLong(0L), v.path("stages").asLong(0L),
              v.path("bcast_reused").asLong(0L))
          }.toMap
          (xmxMb, qs)
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] isolated fork failed: ${e.getMessage}"); None }

  // ---------------------------------------------------------------------
  // Parent mode: the full suite.
  // ---------------------------------------------------------------------
  private def suiteMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Prewarm: session + parquet footers + function registry (excluded
    // from measured time, like the reference's prewarm runs in
    // presto-benchto-benchmarks tpch.yaml). The sketch queries also get
    // one unmeasured pass: their TypedImperativeAggregate inner loops
    // are the most JIT-sensitive code in the suite, and r2→r3 showed
    // 3-5x run-order jitter on exactly this group until compiled.
    // Dev convenience mirroring Verify: SPARK_GRAFT_BENCH_ONLY=prefix1,prefix2
    // times only matching queries (the driver never sets it).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)

    val spark = start(sfDir)
    // Sketch prewarm only when a sketch query will actually be timed:
    // on a filtered probe run (e.g. the ×100 scale probes) these four
    // unmeasured passes were the dominant UNTIMED cost — minutes of
    // sketch aggregation over a corpus whose sketches are never timed.
    // Driver runs (no filter) are unchanged.
    Seq("sketch_hll_merge", "sketch_qdigest", "sketch_setdigest_jaccard", "sketch_heavy_hitters")
      .filter(q => only.forall(_.exists(q.startsWith)))
      .foreach { q =>
        try SparkEntry.benchQueries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    var sinceGc = 0

    def measured(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Run = {
      sinceGc += 1
      if (sinceGc >= 25) { System.gc(); sinceGc = 0 } // JMH-style: bound generated-class buildup
      // A failed query must not masquerade as a (fast) timing: recorded as
      // -1 and listed under "failures", excluded from totals.
      try once(spark, sfDir)(fn)
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); failed }
    }
    val queries = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val (runSteal0, runTot0) = procStat()
    val firstPass = queries.map { case (name, fn) => (name, fn, measured(name, fn)) }
    // Second full pass AFTER the whole suite, min of the two runs per query:
    // the stall windows this box exhibits span several consecutive queries,
    // so an immediate retry lands in the same window — a retry minutes
    // later does not. Keeping the retried run's CPU+steal paired with its wall.
    val results = firstPass.map { case (name, fn, r1) =>
      val best =
        if (r1.wall < 0) r1
        else {
          val r2 = try once(spark, sfDir)(fn)
            catch { case _: Throwable => failed.copy(wall = Double.MaxValue) }
          if (r2.wall < r1.wall) r2 else r1
        }
      (name, best, r1.wall)
    }
    // Third, ISOLATED re-time of the slowest tail — in a FRESH FORKED JVM
    // (r16; see forkIsolated). The in-suite
    // numbers for cheap queries read 4-15x inflated under code-cache
    // pressure + steal, and r15 proved the former same-JVM retime can
    // itself be poisoned by post-suite heap state at a large
    // SPARK_DRIVER_MEM (kn_trigram 37.96s/521 CPU in-JVM vs 4.66s/13.2
    // fresh). Published per query so slow-tail regressions are
    // attributable from the JSON.
    // r14 self-adjudication widening: any query whose min-of-2 wall is
    // >2x its wall in the PREVIOUS committed BENCH_FULL.json (same sf,
    // same nproc, +0.2 s absolute floor so millisecond-noise queries
    // don't churn) also gets an isolated retime, and the trigger list is
    // published — a contention-inflated run then carries isolated numbers
    // for every inflated query, not just the 10 slowest, so no reader
    // has to adjudicate by hand. A baseline from a host with another
    // processor count (or one that does not say) is not compared: its
    // walls would flag the host change, not inflation.
    val prevWalls: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get("BENCH_FULL.json")
        if (!java.nio.file.Files.exists(p)) Map.empty
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(java.nio.file.Files.readAllBytes(p))
          if (node.path("sf").asText() != sfDir ||
              node.path("nproc").asInt(-1) != Runtime.getRuntime.availableProcessors) Map.empty
          else {
            import scala.jdk.CollectionConverters._
            node.path("queries").fields().asScala
              .map(e => e.getKey -> e.getValue.path("wall").asDouble(-1.0))
              .filter(_._2 > 0).toMap
          }
        }
      } catch { case _: Throwable => Map.empty }
    val inflated = results.collect {
      case (name, r, _) if r.wall >= 0 &&
        prevWalls.get(name).exists(pw => r.wall > 2.0 * pw && r.wall - pw > 0.2) => name
    }.toSet
    val slowest = results.filter(_._2.wall >= 0).sortBy(-_._2.wall).take(10).map(_._1).toSet ++ inflated

    // Stop the parent's Spark BEFORE forking the isolated child: one
    // Spark JVM at a time on this box (the parent's local threads
    // would contend with — and so contaminate — the child's retimes).
    spark.stop()
    System.gc()
    val retimeNames = results.collect {
      case (name, r, _) if r.wall >= 0 && slowest.contains(name) => name }
    val forked = forkIsolated(retimeNames.sorted, sfDir)
    val isolated: Map[String, Run] = forked.map(_._2).getOrElse(Map.empty)
    val isolatedXmxMb = forked.map(_._1).getOrElse(-1L)

    val (runSteal1, runTot1) = procStat()
    val runStealPct =
      if (runTot1 > runTot0) 100.0 * (runSteal1 - runSteal0) / (runTot1 - runTot0) else 0.0
    val wallTotal = results.collect { case (_, r, _) if r.wall >= 0 => r.wall }.sum
    val cpuTotal = results.collect { case (_, r, _) if r.wall >= 0 => r.cpu }.sum
    val failures = results.collect { case (k, r, _) if r.wall < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")

    // Full per-query detail goes to a file: the driver captures only the
    // last ~2000 chars of stdout, so the printed line must stay compact
    // (190+ timing objects would overflow and leave the line unparseable).
    val fullQs = results.map { case (k, r, t1) =>
      val iso = isolated.get(k).map(i =>
        ",\"isolated\":" + r3(i.wall) + ",\"isolated_cpu\":" + r3(i.cpu) +
          ",\"isolated_steal_pct\":" + r3(i.stealPct) +
          ",\"isolated_gc_ms\":" + i.gcMs + ",\"isolated_compiles\":" + i.compiles +
          ",\"isolated_compile_ms\":" + i.compileMs).getOrElse("")
      // Algorithm-internal counters (LSH candidate counts, bucket
      // occupancies, ...) recorded by the query build via QueryStats:
      // the falsifiability channel for scale claims.
      val extra = graft.tools.QueryStats.snapshot(k).map { case (sk, sv) =>
        ",\"" + sk + "\":" + sv
      }.mkString
      "\"" + k + "\":{" + r.fields + ",\"t1\":" + r3(t1) + iso + extra + "}"
    }.mkString("{", ",", "}")
    val inflatedJson = inflated.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${r3(wallTotal)},"cpu":${r3(cpuTotal)},"unit":"sec","n_queries":${results.size},"steal_pct":${r3(runStealPct)},$hostJson,"methodology":"min-of-2 wall per query, second pass after full suite; cpu = executorCpuTime of the min run; steal_pct = percent (0-100) of host /proc/stat jiffies stolen during the window, same unit per-query and total; gc_ms = driver-JVM STW GC ms inside the window; compiles/compile_ms = generated classes Janino compiled inside the window and the ms it took (a compiled-class cache hit is not counted); jobs/stages = Spark jobs started and stages completed inside the window; bcast_reused = broadcast relations served from the context's cross-statement cache inside the window, so a min run that is a warm-cache run says so; 10 slowest re-timed as isolated in a FORKED fresh JVM at isolated_xmx_mb (warm pass + min-of-2), plus every query whose wall is >2x its wall in the previous committed BENCH_FULL of the same sf and nproc (listed in retimed_inflated)","isolated_forked":${forked.isDefined},"isolated_xmx_mb":$isolatedXmxMb,"retimed_inflated":$inflatedJson,"queries":$fullQs,"failures":$failures,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // Compact stdout line: headline TPC-H queries by name, everything else
    // rolled up into per-module prefixes sums.
    val headline = results.filter { case (k, r, _) => r.wall >= 0 && k.matches("^q\\d+_.*") }
      .map { case (k, r, _) => "\"" + k.split('_').head + "\":" + r3(r.wall) }
    val groups = results.filter { case (k, r, _) => r.wall >= 0 && !k.matches("^q\\d+_.*") }
      .groupBy(_._1.split('_').head).toSeq.sortBy(_._1)
      .map { case (g, rs) => "\"" + g + "\":" + r3(rs.map(_._2.wall).sum) }
    val qs = (headline ++ groups).mkString("{", ",", "}")
    // The driver parses the LAST line of captured stdout: Spark is already
    // stopped (before the fork), so nothing can log after the JSON. Print
    // last, flush, and exit without further output.
    println(s"""{"metric":"total","value":${r3(wallTotal)},"cpu":${r3(cpuTotal)},"unit":"sec","n_queries":${results.size},"steal_pct":${r3(runStealPct)},$hostJson,"queries":$qs,"failures":$failures,"sf":"$sfDir","detail":"BENCH_FULL.json"}""")
    System.out.flush()
  }
}
