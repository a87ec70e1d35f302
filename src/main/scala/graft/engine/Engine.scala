package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory + catalog bootstrap for the graft engine.
  *
  * Mirrors the role of the reference's LocalQueryRunner bootstrap
  * (presto-tests/.../LocalQueryRunner: catalog registration + session
  * defaults) but Spark-native: one `SparkSession` with AQE + CBO enabled,
  * UTC session time zone, and the driver's parquet fixtures registered as
  * temp views.
  *
  * Scale notes (100 TB discipline): nothing here caches or collects; table
  * registration is metadata-only (parquet footer reads). Shuffle
  * partitioning defaults to 32 with AQE coalescing (a real cluster would
  * size it to cores × executors).
  */
object Engine {

  /** Materialization pin for iterative / multi-reader frames — the
    * engine-wide seam between the two checkpoint durabilities:
    *
    *   - default: `localCheckpoint()` — eager, executor-local block
    *     storage, lineage truncated. The right call at local[32] (zero
    *     filesystem traffic) and the plan-stability workhorse (an
    *     iterative loop's plan otherwise doubles per round and a cached
    *     CTE's copy-out would leak InMemoryRelations into bench passes).
    *     The trade: on a REAL cluster an executor loss mid-query loses
    *     blocks that cannot be recomputed — the query fails and restarts.
    *   - `graft.checkpoint.reliable=true`: `checkpoint()` against the
    *     reliable checkpoint dir (`graft.checkpoint.dir`, default
    *     tmp/graft_checkpoints — point it at DFS on a cluster). Survives
    *     executor loss: long-running jobs recompute from checkpoint
    *     files instead of failing. Costs a filesystem write per pin.
    *
    * Every long-job path in the engine pins through here, so the swap is
    * one session conf — results are identical under both modes
    * (spec-pinned on the KN trigram LM).
    */
  def pin[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = ds.sparkSession
    if (spark.conf.getOption("graft.checkpoint.reliable").exists(_.toBoolean)) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          spark.conf.getOption("graft.checkpoint.dir").getOrElse("tmp/graft_checkpoints"))
      ds.checkpoint()
    } else ds.localCheckpoint()
  }

  /** `.pinned()` postfix form of [[Engine.pin]] — import `Engine.PinOps`. */
  implicit class PinOps[T](private val ds: org.apache.spark.sql.Dataset[T]) extends AnyVal {
    def pinned(): org.apache.spark.sql.Dataset[T] = pin(ds)
  }

  /** Fixture tables the driver generates (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical synthesized `partsupp` stand-in (the fixture has no
    * partsupp table; the reference's Q2/Q9/Q11/Q16/Q20 need one —
    * presto-benchto-benchmarks/.../tpch/q11.sql scans a real partsupp).
    * DISTINCT (l_partkey, l_suppkey) from lineitem joined to part, with a
    * deterministic supplycost from p_retailprice (5%..14% by key-mix) and
    * a deterministic availqty. ps_costunits keeps an exact BIGINT cost so
    * Q11's HAVING threshold is integer-exact in both engines.
    *
    * This text is the single source of truth: Spark materializes it ONCE
    * per fixture dir as a cached table (below); the DuckDB oracle replays
    * the same text as a CTE prefix (TpchQueries.partsuppCte). Previously
    * it was inlined as a CTE into all five queries, paying a full
    * lineitem-wide distinct-shuffle per query — at 100 TB that is five
    * redundant shuffles of the biggest table for what is logically one
    * base table.
    *
    * ps_supplycost is cast through DOUBLE before the /10000.0: without
    * the cast, bigint / literal-decimal is DECIMAL in both engines, and
    * decimal aggregation takes Spark's boxed (object-hash) path — a
    * measured ~20x CPU + GC-storm penalty on Q2's min-per-partkey at
    * sf0.1 (5-10 CPU-s for a 590k-row aggregate that costs 0.25 CPU-s
    * over double). Both engines do the identical IEEE double division,
    * so oracle values are unchanged.
    */
  val partsuppSelect: String =
    """SELECT ps_partkey, ps_suppkey,
      |  CAST(round(p_retailprice * 100) AS BIGINT)
      |    * (5 + (ps_partkey * 31 + ps_suppkey) % 10) AS ps_costunits,
      |  CAST(CAST(round(p_retailprice * 100) AS BIGINT)
      |    * (5 + (ps_partkey * 31 + ps_suppkey) % 10) AS DOUBLE) / 10000.0 AS ps_supplycost,
      |  CAST((ps_partkey * 37 + ps_suppkey * 13) % 9000 + 1000 AS INT) AS ps_availqty
      |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |      FROM lineitem) ps
      |JOIN part ON p_partkey = ps_partkey""".stripMargin

  /** Local cores every entry point sizes its master by: `SPARK_GRAFT_CPUS`
    * if set, else the JVM's available processors. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder in the engine: every main and the benchmark
    * agent get their session here. It loads [[GraftExtensions]], which
    * installs the graft functions and optimizer rule into this session and
    * every `newSession()` made from it, and names [[QueryMetrics]] in
    * `spark.extraListeners`, so a new SparkContext gets the one collector
    * behind Bench's and Probe's counters, QueryLimits' memory ceilings and
    * QueryStats' observations. `overrides`
    * apply last, so a test configuration (forced spill, AQE off) is this
    * configuration with exactly the named changes. Core SparkConf keys in
    * `overrides` take effect only when no SparkContext is running yet
    * (getOrCreate). */
  def session(master: String, shufflePartitions: Int = 32,
      overrides: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Keep compute-dense but byte-light shuffles parallel: the default
      // 1MB floor coalesces a 3MB candidate-pair exchange to 3 tasks and
      // serializes the (expensive) downstream verify.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      // The bypass-merge shuffle writer opens one file PER REDUCE
      // PARTITION per map task whenever reducers <= 200; the sort path
      // writes one spill-merged file. File open/mmap cost dominates
      // small-shuffle CPU on this box (stack-sampled: open0/map0 ~60%
      // of a 32x32 shuffle's cycles; ~30% CPU off q21 and the
      // orderkey group-by with the sort path). A 1000-executor job has
      // reducers >> 200 so bypass never applies there — threshold=1
      // simply gives local runs the same writer big clusters use.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // Whole-stage codegen silently skips plans with > maxFields total
      // fields (default 100) and the operator falls back to interpreted
      // eval. The 64-permutation MinHash aggregate (64 min() functions +
      // key) tripped this: measured 89 CPU-s interpreted vs ~6 codegen'd
      // for the same sf1 signature build. 256 keeps the guard for truly
      // wide schemas while letting every kernel this engine plans stay
      // inside codegen.
      .config("spark.sql.codegen.maxFields", "256")
      // Janino's compiled-class cache is one per JVM, sized by the first
      // session that generates code (a static conf). The 22 TPC-H texts
      // compile about 320 classes at sf0.1; the default 100 entries
      // evicted all of them when the texts ran in rotation, so every warm
      // pass recompiled 300-328 classes (12-20 ms each, about 14 per
      // statement) and took 16.9-21.9 s against 11.5-13.2 s with 1000
      // entries, which recompiled 0-7, all in q2, whose generated code
      // varies with AQE's stage order (4 cores, 2g heap). Metaspace after
      // GC read 164-166 MB either way.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.extraListeners", classOf[QueryMetrics].getName)
    overrides.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // Remember which fixture dir each session has registered so per-query
  // re-registration is a no-op (avoids re-reading parquet footers for
  // every one of the ~dozens of Verify queries). Keyed on session
  // identity (weak) — hashCode collisions would skip registration.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every fixture table under `dir` as a temp view. Idempotent
    * per (session, dir).
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    if (registered.get(spark) != dir) {
      // Fixture generations differ on events.ts: older drivers wrote
      // TIMESTAMP(NANOS) (which the vectorized reader rejects — read
      // nanos as long and restore micros), newer ones write
      // timestamp[us] directly. Handle both by sniffing the read type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      tableNames.foreach { t =>
        val p = s"$dir/$t.parquet"
        if (new java.io.File(p).exists()) {
          val df0 = spark.read.parquet(p)
          val df =
            if (t == "events" &&
                df0.schema("ts").dataType == org.apache.spark.sql.types.LongType)
              df0.withColumn("ts",
                org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
            else df0
          df.createOrReplaceTempView(t)
        }
      }
      // Register the synthesized partsupp once per fixture dir — the
      // analog of the reference's CTAS for a base table it reads many
      // times. The cache is LAZY (no eager count): sessions that never
      // touch partsupp — LLM-only runs, streaming specs — skip the
      // lineitem-wide distinct shuffle entirely; the first consumer
      // materializes it and the other four scan the cache. At sf0.1 this
      // is ~0.5M narrow rows; at 100 TB it would be a bucketed CTAS to
      // the warehouse instead of a memory cache — same plan shape.
      // Guarded on its inputs: partial fixture dirs (each base table is
      // registered only if its parquet exists) must not fail registration
      // for every module because the partsupp stand-in can't be built.
      if (spark.catalog.tableExists("lineitem") && spark.catalog.tableExists("part")) {
        if (spark.catalog.tableExists("partsupp")) {
          try spark.catalog.uncacheTable("partsupp")
          catch { case scala.util.control.NonFatal(_) => () }
        }
        // Cache HASH-PARTITIONED BY ps_partkey — the bucketed-CTAS layout.
        // InMemoryRelation preserves the cached plan's outputPartitioning,
        // so every downstream group-by/join keyed on ps_partkey (Q2's
        // min-per-partkey, Q11's value rollup, the part joins) is
        // exchange-free; partitioning on the leading key also satisfies
        // clustering on (ps_partkey, ps_suppkey) supersets. 8 partitions
        // ~= 2-17 MB each across the fixture SFs; a warehouse deployment
        // would size by target bytes exactly as for any bucketed table.
        spark.sql(partsuppSelect)
          .repartition(8, org.apache.spark.sql.functions.col("ps_partkey"))
          .createOrReplaceTempView("partsupp")
        spark.catalog.cacheTable("partsupp")
      }
      registered.put(spark, dir)
    }
  }
}
