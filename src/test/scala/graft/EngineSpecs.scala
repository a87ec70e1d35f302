package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level specs — the analog of the reference's LocalQueryRunner
  * corpus (presto-tests/.../AbstractTestQueries.java drives every §2
  * feature through a single-JVM runner; SURVEY §5.1/§5.3).
  *
  * 1. every declared query executes at sf0.001 (DuckDB hash-matching is
  *    the driver's t2 gate; here we gate execution + schema sanity),
  * 2. plan-shape assertions: filter pushdown reaches the parquet scan,
  *    dimension joins broadcast, no shuffle for scan-only plans — the
  *    100 TB discipline checks.
  */
class EngineSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    graft.engine.Engine.registerTables(spark, sfDir)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // Queries whose result is legitimately empty at sf0.001.
  private val mayBeEmpty = Set("llm_dedup_ngram_jaccard", "join_anti", "q18_large_volume_customer", "setop_except", "q22_global_sales_opportunity", "q7_volume_shipping")

  SparkEntry.modules.flatMap(_.queries).foreach { q =>
    test(s"query ${q.name} executes with sane schema") {
      val df = q.run(spark, sfDir)
      val schema = df.schema
      assert(schema.nonEmpty, "schema must not be empty")
      assert(schema.fieldNames.map(_.toLowerCase).distinct.length == schema.size,
        s"duplicate column names: ${schema.fieldNames.mkString(",")}")
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("oracle map only names declared queries and every query is declared once") {
    val names = SparkEntry.modules.flatMap(_.queries).map(_.name)
    assert(names.distinct.length == names.length, "duplicate query names")
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("hand-plan gate: a same-SQL query with a bench build is a hand plan") {
    val literal = graft.queries.Q.sameSql("probe_same_sql", "SELECT 1 AS x")
    assert(!literal.isHandPlan)
    assert(literal.withBench((s, _) => s.range(1).toDF("x")).isHandPlan)
    assert(!graft.queries.Q.noOracle("probe_no_oracle")((s, _) => s.range(1).toDF()).isHandPlan)
    assert(SparkEntry.handPlanQueries ==
      SparkEntry.modules.flatMap(_.queries).filter(_.isHandPlan).map(_.name).sorted)
  }

  // Hand plans whose build Catalyst optimizes to the plan of their own
  // oracle text, kept because the build exercises something that text
  // does not.
  private val samePlanKept = Map(
    "sql_prepare_execute" -> "builds through PrestoSql PREPARE/EXECUTE/DEALLOCATE",
    "sql_current_user" -> "builds through PrestoSql's current_user binding",
    "func_json_casts" -> "constant-answer oracle; Spark folds the JSON functions under test",
    "func_array_algebra" -> "constant-answer oracle; Spark folds the array functions under test",
    "func_geometry3" -> "builds through SpatialJoinOps")

  test("no hand plan optimizes to the plan of its own oracle SQL (Q.sameSql instead)") {
    import graft.queries._
    // Five modules are left out for time: at sf0.001 their builders took
    // 135 s together (Llm, Tpcds, Curation, Source, TextIndex), against 82 s
    // for the 16 listed here, and a census of their hand plans found none
    // planning like its oracle SQL (ROADMAP item 4).
    val modules = Seq(TpchQueries, AggQueries, WindowQueries, JoinQueries, SetOpQueries,
      ShapeQueries, EventQueries, MiscQueries, FuncQueries, GeoQueries, graft.sql.DdlQueries,
      MlQueries, SketchQueries, MetaQueries, graft.llm.PipelineQueries, graft.llm.MultimodalQueries)
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.fields.toSeq.map(f => f.name -> f.dataType)
    val samePlan = modules.flatMap(_.queries).filter(q => q.oracle.isDefined && !q.isSameSql)
      .filter { q =>
        val built = q.run(spark, sfDir)
        scala.util.Try {
          val oracle = spark.sql(q.oracle.get)
          shape(oracle) == shape(built) &&
            oracle.queryExecution.optimizedPlan.sameResult(built.queryExecution.optimizedPlan)
        }.getOrElse(false)
      }.map(_.name).toSet
    val duplicates = (samePlan -- samePlanKept.keySet).toSeq.sorted
    assert(duplicates.isEmpty,
      s"${duplicates.size} hand plans plan exactly like their oracle SQL: ${duplicates.mkString(", ")}")
    val stale = (samePlanKept.keySet -- samePlan).toSeq.sorted
    assert(stale.isEmpty, s"kept queries no longer plan like their oracle SQL: ${stale.mkString(", ")}")
  }

  test("bitwise_and_agg / bitwise_or_agg are Spark's bit_and / bit_or") {
    def agg(and: String, or: String) = spark.sql(
      s"SELECT n_regionkey, $and(n_nationkey) AS band, $or(n_nationkey) AS bor FROM nation GROUP BY n_regionkey")
    val presto = agg("bitwise_and_agg", "bitwise_or_agg")
    val native = agg("bit_and", "bit_or")
    assert(presto.queryExecution.optimizedPlan.sameResult(native.queryExecution.optimizedPlan))
    assert(presto.collect().toSet == native.collect().toSet)
  }

  test("ds_channel_overlap keys are NOT NULL in every fixture") {
    // Its hand plan groups by (o_custkey, l_partkey) where the oracle FULL
    // JOINs on them: the two agree only while neither key is ever NULL.
    val dirs = Option(new java.io.File("/root/testdata").listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("sf") &&
        Seq("orders", "lineitem").forall(t => new java.io.File(d, s"$t.parquet").exists()))
    assert(dirs.nonEmpty, "no fixture dir with orders and lineitem")
    dirs.foreach { d =>
      Seq("orders" -> "o_custkey", "lineitem" -> "l_partkey").foreach { case (t, c) =>
        val nulls = spark.read.parquet(s"$d/$t.parquet")
          .where(org.apache.spark.sql.functions.col(c).isNull).count()
        assert(nulls == 0, s"${d.getName}/$t.$c has $nulls NULLs")
      }
    }
  }

  test("one session factory: src/main builds sessions only in Engine.session") {
    import scala.jdk.CollectionConverters._
    val hits = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
          .collect { case (line, i) if line.contains("SparkSession.builder()") => s"$p:${i + 1}" }
      }
    assert(hits.size == 1 && hits.head.contains("graft/engine/Engine.scala"),
      s"expected one SparkSession.builder() (Engine.session), found: ${hits.mkString(", ")}")
  }

  test("a newSession() child resolves graft functions and runs the graft rule, uninstalled") {
    // GraftExtensions equips every session Engine.session makes, children
    // included: no install call, the child's own time zone, and the rule
    // in the child's optimizer.
    val child = spark.newSession()
    child.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val r = child.sql(
      """SELECT strpos('graft', 'a') AS p, wilson_interval_lower(3, 10, 1.96D) AS w,
        |       current_timezone() AS tz""".stripMargin).head()
    assert(r.getInt(0) == 3)
    assert(math.abs(r.getDouble(1) - 0.10778928748621182) < 1e-12)
    assert(r.getString(2) == "America/Los_Angeles")
    assert(child.sql("SELECT wilson_interval_lower(3, 10, 1.96D)").columns.head ==
      "wilson_interval_lower(3, 10, 1.96)")
    val values = "FROM VALUES (1.0D), (2.0D), (3.0D) AS t(x)"
    assert(child.sql(s"SELECT reduce_sumsq(x) $values").head().getDouble(0) == 14.0)
    assert(child.sql(s"SELECT reduce_sumsq(x) OVER (ORDER BY x) $values ORDER BY x")
      .collect().map(_.getDouble(0)).toSeq == Seq(1.0, 5.0, 14.0))
    assert(spark.sql("SELECT current_timezone()").head().getString(0) == "UTC")
    assert(child.sessionState.optimizer.batches.flatMap(_.rules).map(_.ruleName)
      .contains("graft.plans.KeyPredicatePropagation"))
  }

  test("PlanDeterminism accepts a plan diff only as one consistent gid renumbering") {
    import graft.tools.PlanDeterminism.sameModuloGid
    // Two canonicalized plannings of agg_distinct that numbered its two
    // distinct groups differently (taken from a real sweep): the gid
    // values swap in Expand and FILTER, and the group columns swap order
    // in every list that carries gid.
    def plan(filters: (Int, Int), rows: String, cols: String, partitions: Int = 4,
        top: String = "HashAggregate"): String =
      s"""$top(keys=[], functions=[count(l_partkey#xL), count(l_suppkey#xL)], output=[n_parts#xL, n_supps#xL])
         |+- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=x]
         |   +- HashAggregate(keys=[], functions=[partial_count(l_partkey#xL) FILTER (WHERE (gid#x = ${filters._1})), partial_count(l_suppkey#xL) FILTER (WHERE (gid#x = ${filters._2}))], output=[count#xL, count#xL])
         |      +- HashAggregate(keys=[$cols, gid#x], functions=[], output=[$cols, gid#x])
         |         +- Exchange hashpartitioning($cols, gid#x, $partitions), ENSURE_REQUIREMENTS, [plan_id=x]
         |            +- Expand [$rows], [$cols, gid#x]
         |               +- FileScan parquet [l_partkey#xL,l_suppkey#xL] Batched: true, DataFilters: [], Format: Parquet, Location: x""".stripMargin
    val (pk, sk) = ("l_partkey#xL, l_suppkey#xL", "l_suppkey#xL, l_partkey#xL")
    val a = plan((1, 2), "[l_partkey#xL, null, 1], [null, l_suppkey#xL, 2]", pk)
    val b = plan((2, 1), "[l_suppkey#xL, null, 1], [null, l_partkey#xL, 2]", sk)
    assert(sameModuloGid(a, b), "the two real plannings")
    assert(!sameModuloGid(a, plan((2, 1), "[l_suppkey#xL, null, 1], [null, l_partkey#xL, 2]", sk, partitions = 8)),
      "a changed literal beside the renumbering")
    assert(!sameModuloGid(a, plan((2, 1), "[l_partkey#xL, null, 1], [null, l_suppkey#xL, 2]", pk)),
      "renumbered in FILTER only")
    assert(!sameModuloGid(a, plan((1, 2), "[l_suppkey#xL, null, 1], [null, l_partkey#xL, 2]", sk)),
      "renumbered in Expand only")
    assert(!sameModuloGid(a, plan((2, 1), "[l_suppkey#xL, null, 1], [null, l_partkey#xL, 2]", sk, top = "SortAggregate")),
      "a changed operator beside the renumbering")
    assert(!sameModuloGid(a, plan((1, 2), "[l_partkey#xL, null, 1], [null, l_suppkey#xL, 2]", pk, partitions = 8)),
      "a changed literal alone")
    assert(!sameModuloGid("Project [a#x]", "Project [b#x]"), "no gid at all")
  }

  test("a second pass over the 22 TPC-H texts reuses the first pass's generated classes") {
    // The compiled-class cache is one per JVM and sized by the first
    // session that generates code, so the passes run in a fresh JVM whose
    // first session is Engine.session, whatever ran in this one before.
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"), "graft.CodegenPasses", sfDir)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    assert(p.waitFor() == 0, s"child exited ${p.exitValue()}:\n${out.takeRight(4000)}")
    val counts = out.linesIterator.collectFirst {
      case l if l.startsWith("codegen-passes ") =>
        l.stripPrefix("codegen-passes ").split(' ').map(_.split('=')).map(kv => kv(0) -> kv(1).toLong).toMap
    }.getOrElse(fail(s"no codegen-passes line:\n${out.takeRight(4000)}"))
    val (cold, warm) = (counts("cold"), counts("warm"))
    assert(cold >= 100, s"the first pass compiled only $cold classes")
    assert(warm * 20 <= cold, s"the second pass compiled $warm classes against $cold in the first")
  }

  // ---- keyed statements compile once per shape (BindComparisonLiterals) ----

  private def compiled(body: => Unit): Long = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def drain(text: String): Unit =
    graft.sql.PrestoSql.sql(spark, text).toLocalIterator().forEachRemaining(_ => ())

  private lazy val orderKeys: IndexedSeq[Long] =
    spark.sql("SELECT o_orderkey FROM orders ORDER BY 1").collect().map(_.getLong(0)).toIndexedSeq

  // ingest_mixed's keyed statements (perfbench/workloads.py)
  private def ordersByKey(k: Long): String =
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
      s"FROM orders WHERE o_orderkey = $k"
  private def nationJoinAgg(k: Int): String =
    "SELECT n_name, count(*) AS customers, sum(c_acctbal) AS balance " +
      s"FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_nationkey = $k GROUP BY n_name"
  private def insertBatch(lo: Long, hi: Long): String =
    "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, " +
      s"l_discount, l_shipdate FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi"

  test("a keyed statement compiles on its first key only, with AQE and without") {
    val nationKeys = spark.sql("SELECT DISTINCT c_nationkey FROM customer ORDER BY 1")
      .collect().map(_.getInt(0)).toIndexedSeq
    assert(nationKeys.size >= 20)
    // disjoint keys per mode where the domain allows, so no key repeats a
    // text the other mode compiled
    val runs = for ((aqe, m) <- Seq("true", "false").zipWithIndex) yield {
      val shapes = Seq[(String, Int => String)](
        "orders_by_key" -> (i => ordersByKey(orderKeys(100 + 20 * m + i))),
        "nation_join_agg" -> (i => nationJoinAgg(nationKeys((nationKeys.size - 20) * m + i))),
        "insert batch" -> (i => insertBatch(orderKeys(200 + 40 * m + 2 * i), orderKeys(300 + 40 * m + 2 * i))))
      try {
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        shapes.map { case (name, text) =>
          (s"$name, adaptive $aqe", (0 until 20).map(i => compiled(drain(text(i)))))
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val report = runs.flatten.map { case (shape, perKey) => s"$shape: classes compiled per key ${perKey.mkString(" ")}" }
    report.foreach(info(_))
    val keysAfterTheFirstCompileNoMore = runs.flatten.forall { case (_, n) => n.tail.sum <= n.head }
    assert(keysAfterTheFirstCompileNoMore, report.mkString("\n"))
  }

  test("EXECUTE ... USING a second value compiles no class") {
    graft.sql.PrestoSql.sql(spark,
      "PREPARE bound_spec FROM SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = ?")
    drain(s"EXECUTE bound_spec USING ${orderKeys(11)}")
    val second = compiled(drain(s"EXECUTE bound_spec USING ${orderKeys(12)}"))
    assert(second == 0, s"the second EXECUTE compiled $second classes")
  }

  test("bound comparison literals leave scan filters and foldable arguments literal, and evaluate interpreted") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import org.apache.spark.sql.types.LongType
    import graft.plans.BoundValue
    def scanAndFilter(p: SparkPlan) =
      (p.collectFirst { case s: FileSourceScanExec => s }.getOrElse(fail(s"no scan:\n$p")),
        p.collectFirst { case f: FilterExec => f }.getOrElse(fail(s"no filter:\n$p")))
    val k = orderKeys(321)
    val lookup = "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice " +
      s"FROM lineitem WHERE l_orderkey = $k"

    // the filter reads a bound value; the scan's data and pushed filters keep the literal
    val (scan, filter) = scanAndFilter(executedPlan(graft.sql.PrestoSql.sql(spark, lookup)))
    assert(filter.condition.exists(_ == BoundValue(k, LongType)), filter.condition)
    val unbound = filter.condition.transform { case BoundValue(v, t) => Literal(v, t) }
    assert(filter.condition.toString == unbound.toString && filter.condition.sql == unbound.sql,
      "prints as the literal did")
    assert(scan.dataFilters.exists(_.exists(_ == Literal(k))) &&
      !scan.dataFilters.exists(_.exists(_.isInstanceOf[BoundValue])), scan.dataFilters)
    assert(scan.metadata("PushedFilters") == s"[IsNotNull(l_orderkey), EqualTo(l_orderkey,$k)]")

    // row-group pruning still applies: over a copy of lineitem in small
    // row groups, the scan reads exactly the groups whose statistics admit k
    val dir = java.nio.file.Files.createTempDirectory("bound_rg").toString + "/t"
    spark.table("lineitem").repartition(1).sortWithinPartitions("l_orderkey")
      .write.option("parquet.block.size", "16384").parquet(dir)
    val conf = spark.sessionState.newHadoopConf()
    val groups = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val st = b.getColumns.asScala.find(_.getPath.toDotString == "l_orderkey").get.getStatistics
        (st.genericGetMin.asInstanceOf[Long], st.genericGetMax.asInstanceOf[Long], b.getRowCount)
      } finally r.close()
    }
    val admitted = groups.collect { case (lo, hi, n) if lo <= k && k <= hi => n }.sum
    assert(groups.size > 1 && admitted < groups.map(_._3).sum, s"row groups $groups")
    spark.read.parquet(dir).createOrReplaceTempView("lineitem_row_groups")
    val rgDf = graft.sql.PrestoSql.sql(spark, lookup.replace("FROM lineitem", "FROM lineitem_row_groups"))
    val (rgScan, _) = scanAndFilter(executedPlan(rgDf))
    assert(rgScan.metrics("numOutputRows").value == admitted)

    // a LIKE pattern beside the bound key stays a literal
    val like = "SELECT c_custkey, c_name FROM customer WHERE c_custkey = 123 AND c_name LIKE 'Customer#00000012%'"
    val (_, likeFilter) = scanAndFilter(executedPlan(graft.sql.PrestoSql.sql(spark, like)))
    assert(likeFilter.condition.exists(_ == BoundValue(123L, LongType)), likeFilter.condition)
    assert(likeFilter.condition.exists {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString.startsWith("Customer#00000012")
      case _ => false
    }, likeFilter.condition)

    // interpreted evaluation (eval) returns the rows generated code does
    val texts = Seq(lookup, like, ordersByKey(orderKeys(5)), nationJoinAgg(7),
      insertBatch(orderKeys(40), orderKeys(90)))
    def rows() = texts.map(t => graft.sql.PrestoSql.sql(spark, t).collect().map(_.toString).sorted.toSeq)
    val generated = rows()
    assert(generated.forall(_.nonEmpty))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      assert(rows() == generated, "without whole-stage codegen")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      assert(rows() == generated, "interpreted")
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  // ---- plan-shape assertions (scale discipline) ----

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q6 filter is pushed down to the parquet scan") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
    val scanLine = planString(df)
    assert(scanLine.contains("PushedFilters: ["), "expected pushdown metadata on scan")
    assert(scanLine.contains("IsNotNull(l_shipdate)") || scanLine.contains("GreaterThanOrEqual(l_shipdate"),
      s"expected shipdate filter pushed to scan")
  }

  test("q6 reads only the columns it needs") {
    val df = SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
    val s = planString(df)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"),
      "projected columns must be read")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"unused columns must be pruned: $readSchema")
  }

  test("dimension join broadcasts the small side") {
    val df = SparkEntry.queries("join_inner_dims")(spark, sfDir)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "nation/region joins must broadcast, not shuffle")
  }

  test("scan-only projection plans contain no shuffle") {
    import org.apache.spark.sql.functions._
    val df = spark.table("lineitem").select("l_orderkey", "l_quantity")
      .filter(col("l_quantity") > 10)
    val plan = executedPlan(df)
    def hasShuffle(p: SparkPlan): Boolean =
      p.isInstanceOf[ShuffleExchangeExec] || p.children.exists(hasShuffle)
    assert(!hasShuffle(plan), "pure scan+filter+project must not shuffle")
  }

  test("whole-stage codegen covers the q1 aggregation") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    val df = SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    val plan = executedPlan(df)
    // AQE wraps finished stages in leaf QueryStageExec nodes; descend
    // into their materialized plans too.
    def hasCodegen(p: SparkPlan): Boolean = p match {
      case _: WholeStageCodegenExec => true
      case q: QueryStageExec => hasCodegen(q.plan)
      case other => other.children.exists(hasCodegen)
    }
    assert(hasCodegen(plan), "agg pipeline should run inside whole-stage codegen")
  }

  test("TPC-DS-shaped plans: rollup is one Expand+shuffle, topk fast path, broadcast dims, single-scan buckets") {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def countNodes(p: SparkPlan)(pred: SparkPlan => Boolean): Int = {
      val self = if (pred(p)) 1 else 0
      self + (p match {
        case q: QueryStageExec => countNodes(q.plan)(pred)
        case other => other.children.map(countNodes(_)(pred)).sum
      })
    }
    // q67 shape: the 4-level rollup must plan as ONE Expand feeding ONE
    // aggregate shuffle (not one agg per level), and rk <= 5 must hit
    // the WindowGroupLimit fast path.
    val rollup = SparkEntry.queries("ds_rollup_topk")(spark, sfDir)
    val rollupStr = planString(rollup)
    assert(countNodes(executedPlan(rollup))(_.nodeName.contains("Expand")) == 1,
      "rollup must plan one Expand")
    assert(rollupStr.contains("WindowGroupLimit"),
      "rank()<=5 over the rollup should trigger WindowGroupLimit")
    // q72 shape: part/customer/nation ride broadcast joins; only the
    // fact-fact join and the agg shuffle.
    val multiway = SparkEntry.queries("ds_date_multiway")(spark, sfDir)
    assert(countNodes(executedPlan(multiway))(_.nodeName.contains("BroadcastHashJoin")) >= 3,
      "part/customer/nation must broadcast")
    // q47 shape: window partitions on p_brand (real key), no global window.
    val mavg = SparkEntry.queries("ds_moving_avg")(spark, sfDir)
    executedPlan(mavg).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        assert(w.partitionSpec.nonEmpty, "moving-average window must partition")
    }
    // q88 shape: eight band counts from ONE scan of lineitem.
    val buckets = SparkEntry.queries("ds_channel_buckets")(spark, sfDir)
    assert(countNodes(executedPlan(buckets))(_.nodeName.contains("Scan")) == 1,
      "multi-band counts must come from a single scan")
    // q76 shape: partial aggregation must sit BELOW the Union (one
    // final agg shuffle regardless of channel count).
    val union = SparkEntry.queries("ds_channel_union")(spark, sfDir)
    assert(countNodes(executedPlan(union))(
        _.nodeName.contains("ShuffleExchange")) <= 1,
      "channel union must aggregate with one shuffle")
    // q34 shape: the per-order count agg and the orders join share the
    // l_orderkey hash distribution -> at most the two key exchanges
    // (lineitem + orders), never a third for the join; customer rides a
    // broadcast.
    val band = SparkEntry.queries("ds_ticket_band")(spark, sfDir)
    val bandPlan = executedPlan(band)
    assert(countNodes(bandPlan)(_.nodeName.contains("ShuffleExchange")) <= 2,
      "per-order agg must reuse its partitioning for the orders join")
    assert(countNodes(bandPlan)(_.nodeName.contains("BroadcastHashJoin")) >= 1,
      "customer must broadcast")
    // q72 stress shape: fact-to-fact (lineitem-orders, then the derived
    // per-(part,month) inventory aggregate) with promo LEFT JOIN — every
    // inequality must ride as a post-join filter on an equi-join, never
    // a nested-loop join condition; part/promo broadcast.
    val invGap = SparkEntry.queries("ds_inventory_gap")(spark, sfDir)
    val invStr = planString(invGap)
    assert(!invStr.contains("CartesianProduct") &&
      !invStr.contains("BroadcastNestedLoop"),
      "inventory-gap inequalities must not degrade any join to NLJ")
    assert(countNodes(executedPlan(invGap))(_.nodeName.contains("BroadcastHashJoin")) >= 2,
      "part and promo must broadcast")
    // q95 shape: both EXISTS chains must plan as LEFT-SEMI joins (no
    // fact duplication from an IN-to-inner rewrite).
    val reach = planString(SparkEntry.queries("ds_reachability_semi")(spark, sfDir))
    assert("LeftSemi".r.findAllIn(reach).size >= 2,
      "reachability EXISTS chain must plan as semi-joins")
    assert(!reach.contains("CartesianProduct"), "no cartesian in the semi chain")
    // q38 shape: INTERSECT must aggregate-distinct then semi-join, not
    // explode through inner joins.
    val inter = planString(SparkEntry.queries("ds_channel_intersect")(spark, sfDir))
    assert(inter.contains("LeftSemi"), "INTERSECT plans as semi-joins over distinct inputs")
  }

  test("TPC-DS round-15 shapes: single-scan probe, ExistenceJoin OR, broadcast stars, no cartesians") {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def countNodes(p: SparkPlan)(pred: SparkPlan => Boolean): Int = {
      val self = if (pred(p)) 1 else 0
      self + (p match {
        case q: QueryStageExec => countNodes(q.plan)(pred)
        case other => other.children.map(countNodes(_)(pred)).sum
      })
    }
    // q9 shape: the 15 scalar subqueries fold into ONE pass — lineitem
    // must be scanned exactly once (the only other scan is the 1-row
    // region dim).
    val probe = executedPlan(SparkEntry.queries("ds_case_bucket_probe")(spark, sfDir))
    assert(countNodes(probe)(p =>
        p.nodeName.contains("Scan") && p.toString.contains("lineitem")) == 1,
      "all five banded probes must come from one lineitem scan")
    // q93 shape: the compound-key returns join stays an equi hash join,
    // the reason dim broadcasts, nothing degrades to a cartesian.
    val rec = SparkEntry.queries("ds_returns_reconcile")(spark, sfDir)
    val recStr = planString(rec)
    assert(!recStr.contains("CartesianProduct") && !recStr.contains("BroadcastNestedLoop"),
      "returns reconciliation must stay equi-join only")
    assert(countNodes(executedPlan(rec))(_.nodeName.contains("BroadcastHashJoin")) >= 1,
      "the reason dim must broadcast")
    // q78 shape: three channel aggregates (one agg exchange each on the
    // compound key), no cartesian anywhere.
    val ratio = SparkEntry.queries("ds_three_channel_ratio")(spark, sfDir)
    val ratioStr = planString(ratio)
    assert(!ratioStr.contains("CartesianProduct") && !ratioStr.contains("BroadcastNestedLoop"))
    assert(countNodes(executedPlan(ratio))(_.nodeName.contains("HashAggregate")) >= 6,
      "three channels must each partial+final aggregate")
    // q1 shape: both correlated scalar aggregates decorrelate to
    // equi-joined aggregates over the CTE — never a nested loop.
    val aar = planString(SparkEntry.queries("ds_above_avg_returns")(spark, sfDir))
    assert(!aar.contains("CartesianProduct") && !aar.contains("BroadcastNestedLoop"),
      "correlated scalar aggs must decorrelate to equi-joins")
    // q10/q35 shape: the OR-of-EXISTS must plan as ExistenceJoins whose
    // boolean outputs feed the filter (no row-duplicating IN rewrite).
    val any = planString(SparkEntry.queries("ds_exists_any_channel")(spark, sfDir))
    assert(any.contains("ExistenceJoin"),
      "disjunctive EXISTS must plan as ExistenceJoin")
    assert(!any.contains("CartesianProduct"))
    // q58 parity + q64 double self-join star: dims broadcast, no
    // cartesian; each q64 self-join side prunes its own year.
    val parity = planString(SparkEntry.queries("ds_channel_parity")(spark, sfDir))
    assert(!parity.contains("CartesianProduct") && !parity.contains("BroadcastNestedLoop"))
    val star = SparkEntry.queries("ds_double_self_join_star")(spark, sfDir)
    val starStr = planString(star)
    assert(!starStr.contains("CartesianProduct") && !starStr.contains("BroadcastNestedLoop"))
    assert(countNodes(executedPlan(star))(_.nodeName.contains("BroadcastHashJoin")) >= 6,
      "the star dims must broadcast on both self-join sides")
    // q31 share-of-growth: the SHIPPED literal SQL re-scans the fact six
    // times (Presto inlines WITH; so does Spark) — the cache-pinned plan
    // aggregates ONCE and six readers hit the InMemoryRelation.
    val (inner, caches) = graft.queries.TpcdsShapeQueries.shareOfGrowthPlan(spark)
    try {
      val s = planString(inner)
      assert("InMemoryTableScan|TableCacheQueryStage".r.findAllIn(s).size >= 6,
        "sales must materialize once and feed all six aliases from cache")
      assert(!s.contains("CartesianProduct"))
    } finally caches.foreach(_.unpersist())
  }

  test("TPC-DS round-16 shapes: rank-join fast path, semi+anti chain, distinct-probe single scan, hierarchy rollup, full-outer P&L") {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def countNodes(p: SparkPlan)(pred: SparkPlan => Boolean): Int = {
      val self = if (pred(p)) 1 else 0
      self + (p match {
        case q: QueryStageExec => countNodes(q.plan)(pred)
        case other => other.children.map(countNodes(_)(pred)).sum
      })
    }
    // q44: both rank windows must hit the window-group-limit fast path
    // (rk <= 10 prunes per-partition BEFORE the single-partition sort,
    // so the global window never materializes the item aggregate), and
    // both part lookups broadcast.
    val bw = SparkEntry.queries("ds_best_worst_rank_join")(spark, sfDir)
    val bwStr = planString(bw)
    assert(bwStr.contains("WindowGroupLimit"),
      "rank<=10 must prune per-partition before the global window")
    assert(!bwStr.contains("CartesianProduct") && !bwStr.contains("BroadcastNestedLoop"))
    assert(countNodes(executedPlan(bw))(_.nodeName.contains("BroadcastHashJoin")) >= 2,
      "both part name lookups must broadcast")
    // q16/q94: the EXISTS chain is semi, the NOT EXISTS is ANTI — both
    // equi hash joins, no row duplication, no nested loop.
    val sac = planString(SparkEntry.queries("ds_semi_anti_chain")(spark, sfDir))
    assert(sac.contains("LeftSemi"), "EXISTS must plan as a left-semi join")
    assert(sac.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    assert(!sac.contains("CartesianProduct") && !sac.contains("BroadcastNestedLoop"))
    // q28: the folded band/distinct probe reads lineitem ONCE (the
    // distinct rewrite Expands that one scan; it must not re-scan per
    // band or per aggregate).
    val bdp = executedPlan(SparkEntry.queries("ds_band_distinct_probe")(spark, sfDir))
    assert(countNodes(bdp)(p =>
        p.nodeName.contains("Scan") && p.toString.contains("lineitem")) == 1,
      "all four bands x three aggregates must come from one lineitem scan")
    assert(countNodes(bdp)(_.nodeName.contains("Expand")) >= 1,
      "mixed distinct aggregates rewrite through Expand")
    // q66: the 12-month pivot is ONE scan + ONE aggregate (partials
    // below the exchange), supplier broadcasts.
    val cmp = executedPlan(SparkEntry.queries("ds_carrier_month_pivot")(spark, sfDir))
    assert(countNodes(cmp)(p =>
        p.nodeName.contains("Scan") && p.toString.contains("lineitem")) == 1,
      "the wide pivot must stay a single fact pass")
    assert(countNodes(cmp)(_.nodeName.contains("BroadcastHashJoin")) >= 1,
      "supplier must broadcast")
    // q36/q70/q86: one Expand (the rollup), then rank within the
    // hierarchy — no second fact scan for the subtotal levels.
    val hr = executedPlan(SparkEntry.queries("ds_hierarchy_rank")(spark, sfDir))
    assert(countNodes(hr)(_.nodeName.contains("Expand")) == 1,
      "ROLLUP must be one Expand, not one aggregation pass per level")
    assert(countNodes(hr)(p =>
        p.nodeName.contains("Scan") && p.toString.contains("lineitem")) == 1)
    // q5/q77/q80: the P&L join is a true FULL OUTER equi-join over the
    // two channel aggregates, then ONE rollup Expand; never a cartesian.
    val pnl = SparkEntry.queries("ds_channel_profit_rollup")(spark, sfDir)
    val pnlStr = planString(pnl)
    assert(pnlStr.contains("FullOuter"), "sales/returns must full-outer join")
    assert(!pnlStr.contains("CartesianProduct") && !pnlStr.contains("BroadcastNestedLoop"))
    assert(countNodes(executedPlan(pnl))(_.nodeName.contains("Expand")) == 1)
    // q6: the category-average threshold frame is dimension-only —
    // it must BROADCAST into the fact (with part/customer/nation),
    // never shuffle the fact against it.
    val cp = SparkEntry.queries("ds_category_premium")(spark, sfDir)
    assert(!planString(cp).contains("CartesianProduct"))
    assert(countNodes(executedPlan(cp))(_.nodeName.contains("BroadcastHashJoin")) >= 3,
      "part, the type-average frame, and nation must broadcast")
    // q32/q92: the fact-vs-own-aggregate threshold join stays equi.
    val ed = planString(SparkEntry.queries("ds_excess_discount")(spark, sfDir))
    assert(!ed.contains("CartesianProduct") && !ed.contains("BroadcastNestedLoop"))
  }

  test("reliable-checkpoint knob: graft.checkpoint.reliable swaps every pin to DFS-backed checkpoints, results identical") {
    // The localCheckpoint idiom trades recomputability for plan
    // stability: executor-local blocks are gone if an executor dies
    // mid-query (fine at local[32], a query-restart on a cluster).
    // Engine.pin is the one seam all long-job paths go through;
    // graft.checkpoint.reliable=true swaps in reliable checkpoint()
    // files under graft.checkpoint.dir. Contract: bit-identical results
    // under both modes, and reliable mode actually writes rdd
    // checkpoint files.
    val ckDir = "tmp/graft_checkpoints_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckDir))
    def render(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
      rows.map(_.toString).sorted.toSeq
    val q = SparkEntry.queries("llm_kn_trigram_lm")
    val local = render(q(spark, sfDir).collect())
    spark.conf.set("graft.checkpoint.reliable", "true")
    spark.conf.set("graft.checkpoint.dir", ckDir)
    try {
      val reliable = render(q(spark, sfDir).collect())
      assert(reliable == local,
        "KN trigram LM must be bit-identical under reliable checkpointing")
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(ckDir)))
      val files = org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(ckDir), null, true)
      assert(!files.isEmpty, "reliable mode must write checkpoint files")
    } finally {
      spark.conf.unset("graft.checkpoint.reliable")
      spark.conf.unset("graft.checkpoint.dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckDir))
    }
  }

  test("key-predicate propagation reaches the fact scan under a decorrelated LATERAL") {
    // Spark's own constraint inference stops at the decorrelation's
    // null-safe domain join, so the outer `o_orderkey <= 2000` used to
    // leave the lineitem aggregate scanning EVERY row (48.9 CPU-s at
    // sf1 for a 2000-key answer). KeyPredicatePropagation carries
    // key-only predicates across equi-join conjuncts; the pushed
    // predicate must reach the lineitem parquet scan, and the result
    // must be row-identical with the rule disabled.
    val sql =
      """SELECT o.o_orderkey, t.mq, t.lines
        |FROM orders o,
        |LATERAL (SELECT max(l_quantity) AS mq, CAST(count(*) AS BIGINT) AS lines
        |         FROM lineitem WHERE l_orderkey = o.o_orderkey) t
        |WHERE o.o_orderkey <= 2000""".stripMargin
    val withRule = spark.sql(sql)
    val planText = planString(withRule)
    val lineitemScan = planText.linesIterator
      .filter(l => l.contains("lineitem.parquet") && l.contains("PushedFilters"))
      .mkString("\n")
    assert(lineitemScan.contains("LessThanOrEqual(l_orderkey,2000)"),
      s"outer key predicate must reach the fact scan:\n$lineitemScan")
    val expect = withRule.orderBy("o_orderkey").collect().toSeq
    try {
      spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.KeyPredicatePropagation")
      val baseline = spark.sql(sql).orderBy("o_orderkey").collect().toSeq
      assert(expect == baseline, "propagation must not change any row")
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("key-predicate propagation never collects filters below a null-extending outer join") {
    // Adversarial soundness shape (VERDICT r9 weak): the top join's
    // conjunct is null-safe (`<=>`, null keys DO match), and the only
    // key filter on the right side sits BELOW the null-supplying side
    // of a LEFT OUTER join — so null-extended rk rows bypassed it. An
    // unsound rule propagates `rk <= 2` as `a <= 2` onto the left and
    // drops the a=null row that must match the null-extended rk.
    // Parquet-backed relations: LocalRelations would be constant-folded
    // by ConvertToLocalRelation before the rule ever sees the filter.
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kpp").toString
    Seq[Option[Int]](Some(1), Some(2), Some(3), None).toDF("a").write.parquet(s"$dir/t")
    Seq(10, 20, 99).toDF("p").write.parquet(s"$dir/probe")
    Seq((10, 1), (20, 2), (30, 3)).toDF("p2", "rk").write.parquet(s"$dir/keysrc")
    val t = spark.read.parquet(s"$dir/t")
    val probe = spark.read.parquet(s"$dir/probe")
    val keysrc = spark.read.parquet(s"$dir/keysrc")
    // inner: (10,1), (20,2), (99,null) — rk null-extended for p=99
    val inner = probe.join(keysrc.filter($"rk" <= 2), $"p" === $"p2", "left_outer")
      .select($"p", $"rk")
    val top = t.join(inner, $"a" <=> $"rk").select($"a", $"p")
    assert(!top.queryExecution.optimizedPlan.toString.contains("a#23 <= 2") &&
      !"Filter.*\\ba#\\d+ <= 2".r.findFirstIn(top.queryExecution.optimizedPlan.toString).isDefined,
      "no filter may be propagated onto the null-safe side")
    val rows = top.collect().map(r => (Option(r.get(0)), r.getInt(1))).toSet
    assert(rows == Set((Some(1), 10), (Some(2), 20), (None, 99)),
      s"null-safe match against the null-extended row must survive propagation: $rows")
    // And the safe direction still works: the same filter behind an
    // INNER join below keeps propagating onto the other side.
    val inner2 = probe.join(keysrc.filter($"rk" <= 2), $"p" === $"p2", "inner")
      .select($"p", $"rk")
    val top2 = t.join(inner2, $"a" === $"rk").select($"a", $"p")
    assert("\\ba#\\d+ <= 2".r.findFirstIn(top2.queryExecution.optimizedPlan.toString).isDefined,
      "inner-join descent must still propagate the key filter")
    assert(top2.collect().length == 2)
  }

  test("top-k per group uses the WindowGroupLimit fast path") {
    // the reference's TopNRowNumberOperator; Spark >= 3.5 InferWindowGroupLimit
    val df = SparkEntry.queries("win_topk_per_group")(spark, sfDir)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("WindowGroupLimit"),
      "row_number()<=k filter should trigger WindowGroupLimit, not full-partition sort")
  }

  test("ANN paths recover every planted neighbor with sublinear work") {
    // The raw corpus has no true near neighbors, so the planted slice is
    // the recall that means something: 10 planted near-duplicates per
    // query (cos ~0.98) must be recovered through each index, without
    // degenerating to a full scan.
    for (name <- Seq("llm_knn_lsh", "llm_knn_ivf")) {
      val r = SparkEntry.queries(name)(spark, sfDir).head()
      assert(r.getBoolean(0), s"$name planted recall not perfect")
      assert(r.getBoolean(1), s"$name candidate/scan fraction not sublinear")
    }
  }

  test("train/val/test split: pure per-doc function, strata fractions near 80/10/10") {
    val census = SparkEntry.queries("llm_train_val_split")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val langs = census.keys.map(_._1).toSet
    for (l <- langs) {
      val n = Seq("train", "val", "test").map(sp => census.getOrElse((l, sp), 0L)).sum
      val tr = census.getOrElse((l, "train"), 0L).toDouble / n
      if (n >= 100) assert(tr > 0.65 && tr < 0.95, s"lang $l train fraction $tr off 0.8")
    }
    // purity: the assignment is a function of doc_id alone — recomputing
    // the census over a HALF of the corpus must give a sub-census (no
    // doc changes split when the rest of the corpus changes)
    val s2 = spark.newSession()
    graft.engine.Engine.registerTables(s2, sfDir)
    s2.table("documents").filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
      .createOrReplaceTempView("documents")
    val half = SparkEntry.queries("llm_train_val_split")(s2, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    for (((l, sp), n) <- half)
      assert(n <= census.getOrElse((l, sp), 0L),
        s"half-corpus census exceeds full census for ($l,$sp)")
  }

  test("ivfpq: planted recall through probed residual codes, sublinear scan, 32x compression") {
    // All four published contract columns (see llm_knn_ivfpq): planted
    // neighbors survive coarse probe + residual-PQ ADC + exact rerank,
    // the ADC scan touches only probed lists (<30% of pairs), code rows
    // are 8 subspace codes vs 64 floats (32x), and raw embeddings are
    // read only for the bounded rerank set.
    val r = SparkEntry.queries("llm_knn_ivfpq")(spark, sfDir).head()
    assert(r.getBoolean(0), "ivfpq planted recall not perfect")
    assert(r.getBoolean(1), "ivfpq ADC scan not sublinear")
    assert(r.getBoolean(2), "ivfpq compression below 32x")
    assert(r.getBoolean(3), "ivfpq exact-read fraction not bounded")
  }

  test("ds_order_returns: the multi-supplier CTE materializes once; filters stay semi joins") {
    // q95's ws_wh contract: the expensive distinct-supplier aggregate is
    // referenced twice (plain IN + re-joined with returns) but must be
    // computed once. The two-reader property is pinned on the INNER
    // cache-backed plan; the shipped query wraps it in the copy-out
    // (localCheckpoint + unpersist) so no cache outlives the statement.
    val (inner, caches) = graft.queries.TpcdsShapeQueries.orderReturnsPlan(spark)
    try {
      val s = planString(inner)
      // the distinct-supplier agg is cached: both consumers must read the
      // InMemoryRelation, not recompute the fact aggregate (Spark's CTE
      // inliner would otherwise run it twice — see the query's Scaladoc)
      assert("InMemoryTableScan|TableCacheQueryStage".r.findAllIn(s).size >= 2,
        "multi_supp must be materialized once and read twice from cache")
      assert("LeftSemi".r.findAllIn(s).size >= 2, "both IN filters should be semi joins")
      assert(!s.contains("CartesianProduct"))
    } finally caches.foreach(_.unpersist())
    // bench honesty: the SHIPPED query copies results out — the frame it
    // returns is a checkpoint scan with no live InMemoryRelation, so a
    // second build/run (the bench's min-of-2 pass) cannot read a prior
    // pass's warm cache
    val shipped = SparkEntry.queries("ds_order_returns")(spark, sfDir)
    val ss = planString(shipped)
    assert(!ss.contains("InMemoryTableScan") && !ss.contains("TableCacheQueryStage"),
      "shipped query must copy results out of the cache-backed plan")
    assert(shipped.count() > 0)
  }

  test("mm_scene_cut: cuts reproduce the closed-form scene boundaries exactly") {
    val rows = SparkEntry.queries("mm_scene_cut")(spark, sfDir)
      .select("doc_id", "frame_idx", "psum", "is_cut", "scene_no").collect()
    def psum(id: Long, scene: Long): Long = {
      val w = (id % 13 + 4).toInt; val h = (id % 11 + 3).toInt
      val key = id + 1000L * scene
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) sum += (key + 7L * x + 13L * y) % 256
      sum
    }
    assert(rows.nonEmpty)
    var cuts = 0
    rows.foreach { r =>
      val id = r.getLong(0); val f = r.getInt(1)
      val sceneLen = (id % 3 + 3).toInt
      val scene = f / sceneLen
      assert(r.getLong(2) == psum(id, scene), s"decoded sum drifted at ($id, $f)")
      val expectCut = f > 0 && psum(id, scene) != psum(id, (f - 1) / sceneLen)
      assert(r.getBoolean(3) == expectCut, s"cut flag wrong at ($id, $f)")
      if (expectCut) cuts += 1
    }
    assert(cuts > 0, "fixture must contain scene boundaries")
  }

  test("video dedup: planted trim/re-edit variants pair at their closed-form Jaccard, no all-pairs plan") {
    val df = SparkEntry.queries("mm_video_dedup")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // planted overlaps: J(orig, trim) = J(orig, edit) = 4/6; J(trim, edit)
    // = 3/7 ≈ 0.429 ≥ 0.4 — trim/edit DO pass the candidate threshold, but
    // best-match selection (4/6 beats 3/7) keeps each variant paired with
    // orig; 3/7 can still surface as a reported best Jaccard when orig is
    // the probe, hence both values are tolerated below.
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == 5L, s"every variant holds 5 distinct scenes, doc $id")
      if (!r.isNullAt(3)) {
        val j = r.getDouble(4)
        assert(math.abs(j - 4.0 / 6.0) < 1e-6 || math.abs(j - 3.0 / 7.0) < 1e-6,
          s"unexpected Jaccard $j for doc $id")
      }
    }
    // the orig/trim/edit triple of each class pairs up above threshold:
    // every group has a best match (4/6 >= 0.4 for all three variants)
    assert(rows.forall(r => !r.isNullAt(3)),
      "every planted variant must find a near-dup partner")
    // different classes never pair (dims differ -> signatures disjoint):
    // partner group must be the same class mod 29
    rows.foreach { r =>
      assert(r.getLong(3) % 29 == r.getLong(0) % 29,
        s"cross-class pairing for doc ${r.getLong(0)}")
    }
    val s = planString(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      "video dedup must pair through the signature join, never all pairs")
  }

  test("video dedup: a hot shared scene is df-capped out of pairing, candidates stay bounded") {
    val s = spark
    import s.implicits._
    // 62 videos ALL carrying one ubiquitous scene (sig 999 — the black
    // frame / title card / shared intro of a crawl) plus 5 scenes of
    // their own; videos 61 and 62 additionally share 4 REAL scenes.
    // Without the stop-scene cap, sig 999 alone would put C(62,2) = 1891
    // candidate pairs on one join key (the Σc² scale-killer); with it
    // (df 62 > max(10, 10% of 62) = 10) pairing sees only the genuine
    // overlap: exactly ONE candidate pair.
    val rows =
      (1L to 60L).flatMap(g => (0L until 5L).map(i => (g, g * 100 + i)) :+ ((g, 999L))) ++
      Seq((61L, 7001L), (61L, 7002L), (61L, 7003L), (61L, 7004L), (61L, 6100L), (61L, 999L),
          (62L, 7001L), (62L, 7002L), (62L, 7003L), (62L, 7004L), (62L, 6200L), (62L, 999L))
    val repSets = rows.toDF("gmin", "sig")
    val cand = graft.llm.MultimodalQueries.videoCandidatePairs(repSets, nVideos = 62L).collect()
    assert(cand.length == 1, s"hot scene must not generate candidate pairs, got ${cand.length}")
    val c = cand.head
    assert(c.getAs[Long]("ga") == 61L && c.getAs[Long]("gb") == 62L)
    assert(c.getAs[Long]("ni") == 4L, "intersection counts only surviving signatures")
    assert(c.getAs[Long]("na") == 5L && c.getAs[Long]("nb") == 5L,
      "Jaccard denominators use the CAPPED set sizes")
    // end-to-end: capped Jaccard 4/(5+5-4) = 2/3 pairs 61<->62; n_scenes
    // stays the UNcapped per-video count (describes the video, not the
    // pairing graph); nobody pairs through the hot scene alone
    val out = graft.llm.MultimodalQueries
      .videoDedupFromSets(repSets.toDF("doc_id", "sig"), 62L).collect()
    assert(out.length == 62)
    out.foreach { r =>
      assert(r.getLong(1) == 6L, s"n_scenes must stay uncapped for doc ${r.getLong(0)}")
      if (r.getLong(0) >= 61L) {
        assert(!r.isNullAt(3) && math.abs(r.getDouble(4) - 2.0 / 3.0) < 1e-6,
          s"real near-dup must survive the cap: doc ${r.getLong(0)}")
      } else assert(r.isNullAt(3),
        s"doc ${r.getLong(0)} must not pair through the hot scene")
    }
  }

  test("incremental dedup: every pair straddles the batch split; agrees with the full self-join") {
    val rows = SparkEntry.queries("llm_dedup_incremental")(spark, sfDir).collect()
    assert(rows.nonEmpty, "fixture must contain cross-split near-dups")
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 7, s"new_doc must be in the batch slice: ${r.getLong(0)}")
      assert(r.getLong(1) % 10 != 7, s"dup_of must be in the existing corpus: ${r.getLong(1)}")
      assert(r.getDouble(5) >= 0.5 - 1e-9)
    }
    // consistency with the full self-join: the incremental result is
    // EXACTLY the J>=0.5 pairs of the complete pairwise relation that
    // straddle the split (no pair invented, none lost)
    val full = SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, sfDir)
    // ngram_jaccard publishes J>=0.8 only; recompute the J>=0.5 side via
    // the incremental output itself against a reversed-role run: the
    // pair set must be symmetric in content, so instead assert subset
    // against the 0.8 relation: every full-relation straddling pair at
    // J>=0.8 appears in the incremental result
    val straddling08 = full.collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        if (a % 10 == 7 && b % 10 != 7) Some((a, b))
        else if (b % 10 == 7 && a % 10 != 7) Some((b, a))
        else None
      }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(straddling08.subsetOf(got),
      s"incremental run must recover every straddling J>=0.8 pair: missing ${straddling08 -- got}")
  }

  test("audio dedup: volume variants collapse by decoded content signature; classes never cross") {
    val rows = SparkEntry.queries("mm_audio_dedup")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      // the decode-derived signature must equal the closed form: the
      // zero-crossing count recovers the fundamental period exactly
      val period = 2 * (id % 7 + 2)
      val periods = 100 + id % 9
      assert(r.getLong(2) == period, s"decoded period for doc $id")
      assert(r.getLong(1) == period * periods, s"decoded n_samples for doc $id")
      assert(r.getLong(3) == (id % 100 + 50) * 100, s"decoded peak for doc $id")
      // canonical = lowest doc id sharing (period, periods) — i.e. the
      // same recording at ANY volume; peak plays no part in the key
      val content = r.getLong(4)
      assert(content % 7 == id % 7 && content % 9 == id % 9 && content <= id,
        s"content group must be volume-invariant and canonical-min: doc $id -> $content")
      if (content != id) assert(!r.isNullAt(6) && r.getLong(6) == content)
      else assert(r.isNullAt(6), s"canonical doc $id must not be its own dup")
    }
    // real collapse happened: at least one group holds >1 volume level
    assert(rows.exists(_.getLong(5) > 1),
      "fixture must contain volume variants of the same content")
  }

  test("perceptual image dedup: hot band bucket is occupancy-capped; real near pair survives via other bands") {
    val s = spark
    import s.implicits._
    // 42 representatives ALL sharing band 0 = 0x1234 (flat/banal imagery
    // at crawl scale) — without the cap that one bucket yields C(42,2)
    // = 861 candidate pairs; with it (occupancy 42 > max(10, 10% of 42)
    // = 10) the bucket is dropped. Reps 100/101 are a REAL near pair
    // (1 bit apart, in band 3) whose bands 1 and 2 also agree — the
    // pair must survive through those non-hot buckets.
    val rows = (0 until 40).map(i =>
      ((2000L + i) | ((3000L + i) << 16), 0x1234L | ((1000L + i) << 16), i.toLong)) ++
      Seq((0xBBBBL | (1L << 16), 0x1234L | (0xAAAAL << 16), 100L),
          (0xBBBBL | (3L << 16), 0x1234L | (0xAAAAL << 16), 101L))
    val reps = rows.toDF("psig_hi", "psig_lo", "rep_doc")
    val cand = graft.llm.MultimodalQueries.perceptualBandCandidates(reps, 42L).collect()
    assert(cand.length == 2,
      s"hot band must be capped out of pairing, got ${cand.length} candidates")
    assert(cand.forall(r => Set(100L, 101L).contains(r.getAs[Long]("rep2"))),
      "surviving candidates must be the planted near pair (both directions)")
  }

  test("perceptual image dedup: dHash invariances hold, occlusion flips <=2 bits, no all-pairs plan") {
    val df = SparkEntry.queries("mm_image_dedup_perceptual")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byDoc = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    var nearSeen = 0
    byDoc.keys.groupBy(_ % 37).foreach { case (_, ids) =>
      val base = ids.filter(_ % 4 == 0)
      if (base.nonEmpty) {
        val s0 = byDoc(base.head)
        // brightness (+16) and 2x pixel-replication resize leave the
        // decoded dHash EXACTLY unchanged — the invariances the
        // signature is designed around
        ids.filter(_ % 4 <= 2).foreach(id =>
          assert(byDoc(id) == s0, s"variant signature drifted for doc $id"))
        // the occlusion variant touches one grid cell = at most two
        // adjacent comparisons, so banding recall is 1 by pigeonhole
        ids.filter(_ % 4 == 3).foreach { id =>
          val (h, l) = byDoc(id)
          val d = java.lang.Long.bitCount(h ^ s0._1) + java.lang.Long.bitCount(l ^ s0._2)
          assert(d <= 2, s"occlusion must flip at most 2 dHash bits, got $d for doc $id")
          if (d >= 1) nearSeen += 1
        }
      }
    }
    assert(nearSeen > 0, "fixture must contain >=1-bit occluded near-dups")
    // every reported near match is a verified 1..3-bit neighbor
    rows.filter(r => !r.isNullAt(5)).foreach { r =>
      val d = r.getLong(6)
      assert(d >= 1 && d <= 3, s"near_hamming out of band: $d")
    }
    assert(rows.exists(r => !r.isNullAt(5)), "near-dup pairs must be reported")
    // candidate generation is banded (hash join on (band, value)) —
    // never an all-pairs join
    val s = planString(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      "perceptual dedup must never form an all-pairs join")
  }

  test("bigram LM: per-doc position count is exact and the model beats the unigram LM") {
    import org.apache.spark.sql.functions.{avg, col, size, split}
    val bi = SparkEntry.queries("llm_bigram_lm")(spark, sfDir)
      .withColumnRenamed("bigram_nll", "nll")
    val words = spark.table("documents").select(col("doc_id"),
      (size(split(col("text"), " ", -1)) - 1).cast("long").as("expect"))
    assert(bi.join(words, "doc_id").filter(col("n_bigrams") =!= col("expect")).count() == 0,
      "n_bigrams must be word count - 1")
    assert(bi.filter(col("nll") <= 0).count() == 0, "NLL must be positive")
    // a bigram model conditioned on context must fit its own corpus
    // better than the unigram model on average
    val uniMean = SparkEntry.queries("llm_surprise")(spark, sfDir)
      .agg(avg("surprise")).head().getDouble(0)
    val biMean = bi.agg(avg("nll")).head().getDouble(0)
    assert(biMean < uniMean, s"bigram NLL $biMean should beat unigram $uniMean")
  }

  test("OCR-shape text extraction: glyph font injective, pixels-only round-trip, one-agg dedup plan") {
    import graft.llm.MultimodalQueries
    import org.apache.spark.sql.functions.col
    // the glyph table must be injective or pixel->char recovery is lossy
    val pats = MultimodalQueries.Glyphs.values.map(_.mkString).toSeq
    assert(pats.distinct.size == pats.size, "glyph bit patterns must be distinct")
    // round-trip through the REAL PNG codec recovers the text from
    // pixels alone — including the O-vs-0 distinction
    for (t <- Seq("DOC0", "DOC49", "D1C0", "OO00", "9876543210"))
      assert(MultimodalQueries.extractTextFromPng(MultimodalQueries.encodeTextPng(t)) == t)
    // a flipped pixel is a detected extraction failure, not a silent
    // wrong character
    val png = MultimodalQueries.encodeTextPng("DOC7")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    img.setRGB(2, 2, 0x123456) // corrupt one glyph pixel ambiguously
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    intercept[Exception](MultimodalQueries.extractTextFromPng(out.toByteArray))
    // dedup output: every doc lands in exactly one group keyed by its
    // extracted text; group sizes sum to the corpus; plan carries no
    // join (render -> decode -> ONE hash agg)
    val df = SparkEntry.queries("mm_text_extract_dedup")(spark, sfDir)
    val nDocs = spark.table("documents").count()
    val agg = df.agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(agg == nDocs, s"group sizes must sum to corpus: $agg vs $nDocs")
    assert(df.filter(col("text_extracted").rlike("^DOC[0-9]+$")).count() == df.count())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), s"dedup must be one agg, no join:\n$plan")
  }

  test("KN trigram LM: closed-form smoothed probabilities on planted n-grams; beats the bigram LM") {
    import org.apache.spark.sql.functions.{avg, col}
    // Planted corpus: doc1 "a b c a b c" (trigrams abc, bca, cab, abc),
    // doc2 "a b d". Model counts: c3 = {abc:2, bca:1, cab:1, abd:1};
    // ctx(a,b) = (ctot 3, n1p 2); cont2 types (b,c),(c,a),(a,b),(b,d)
    // all cc=1; mid(b) = (mtot 2, nfol 2); every N1+(.w3) = 1; bt = 4.
    // With D = 3/4 the interpolated-KN closed forms are exact rationals:
    //   P2(c|b) = (1/4)/2 + (3/4)(2/2)(1/4)      = 5/16
    //   P(c|a,b) = (5/4)/3 + ((3/4)(2)/3)(5/16)  = 55/96
    //   P(a|b,c) = 1/4 + (3/4)(7/16)             = 37/64  (= P(b|c,a))
    //   P(d|a,b) = (1/4)/3 + (1/2)(5/16)         = 23/96
    val s = spark.newSession()
    graft.engine.Engine.registerTables(s, sfDir)
    import s.implicits._
    Seq((1L, "a b c a b c"), (2L, "a b d")).toDF("doc_id", "text")
      .createOrReplaceTempView("documents")
    val out = SparkEntry.queries("llm_kn_trigram_lm")(s, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val d1 = r6((2 * -math.log(55.0 / 96) + 2 * -math.log(37.0 / 64)) / 4)
    val d2 = r6(-math.log(23.0 / 96))
    assert(out(1L)._1 == 4L && out(2L)._1 == 1L, s"trigram position counts: $out")
    assert(math.abs(out(1L)._2 - d1) < 2e-6, s"doc1 expected $d1 got ${out(1L)._2}")
    assert(math.abs(out(2L)._2 - d2) < 2e-6, s"doc2 expected $d2 got ${out(2L)._2}")
    // corpus-wide on the real fixture: a KN trigram model conditioned on
    // two words of context must fit its own corpus better than the
    // Jelinek-Mercer bigram LM (the model it supersedes in the CCNet
    // quality-filter role)
    val kn = SparkEntry.queries("llm_kn_trigram_lm")(spark, sfDir)
      .select(col("doc_id"), col("kn_nll"))
    val bi = SparkEntry.queries("llm_bigram_lm")(spark, sfDir)
      .select(col("doc_id"), col("bigram_nll"))
    val both = kn.join(bi, "doc_id")
      .agg(avg("kn_nll").as("k"), avg("bigram_nll").as("b")).head()
    assert(both.getDouble(0) < both.getDouble(1),
      s"KN trigram NLL ${both.getDouble(0)} should beat bigram ${both.getDouble(1)}")
  }

  test("modified Kneser-Ney: held-out corpus NLL beats single-discount KN; discounts validated or fall back") {
    import org.apache.spark.sql.functions.{col, sum => ssum}
    // Chen & Goodman 1998's claim, checkable because the query scores
    // BOTH estimators on the same held-out split: per-count-level
    // discounts fit held-out text at least as well as the single
    // D=0.75. (On training text the inequality reverses — discounting
    // only moves mass off attested counts — which is why the query
    // scores a held-out split, like the CCNet wiki-LM-scores-crawl
    // setup it models.)
    val out = SparkEntry.queries("llm_kn_modified_lm")(spark, sfDir)
    val w = out.agg(
      (ssum(col("n_trigrams") * col("mkn_nll")) / ssum(col("n_trigrams"))).as("mkn"),
      (ssum(col("n_trigrams") * col("kn_nll")) / ssum(col("n_trigrams"))).as("kn")).head()
    val (mkn, kn) = (w.getDouble(0), w.getDouble(1))
    assert(mkn <= kn,
      s"modified-KN held-out NLL $mkn must not exceed interpolated-KN $kn")
    assert(mkn > 0 && java.lang.Double.isFinite(mkn) && java.lang.Double.isFinite(kn),
      "every held-out probability must be strictly positive (full backoff chain)")
    // KenLM's discount validation: a degenerate count-of-counts (the
    // lmplz BadDiscountException precondition) must select the
    // --discount_fallback defaults, not produce a negative discount.
    // Reproduce with a corpus whose trigram counts are all equal (n1=0).
    val s = spark.newSession()
    graft.engine.Engine.registerTables(s, sfDir)
    import s.implicits._
    Seq((1L, "x y z x y z"), (5L, "x y z")).toDF("doc_id", "text")
      .createOrReplaceTempView("documents")
    // train = doc 1 (counts {xyz:2, yzx:1, zxy:1} -> n2=1, n3=0 -> invalid)
    // test = doc 5; with fallback D1=0.5: P(z|x,y) = (2-1.0)/2 + ((0.5+1.0+0)/2)*P2
    // the exact value matters less than: finite, positive, and NOT NaN
    val r = SparkEntry.queries("llm_kn_modified_lm")(s, sfDir).collect()
    assert(r.length == 1 && r(0).getLong(1) == 1L)
    assert(java.lang.Double.isFinite(r(0).getDouble(2)) && r(0).getDouble(2) > 0,
      s"fallback discounts must keep probabilities positive: ${r.toSeq}")
  }

  test("anomaly z-score: BigInt replay confirms every per-type count exactly") {
    import org.apache.spark.sql.functions.{col, round => sround}
    val got = SparkEntry.queries("ev_anomaly_zscore")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val rows = spark.table("events")
      .select(col("event_type"), sround(col("value") * 100).cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for ((t, vs) <- byType) {
      val n = BigInt(vs.length); val s = vs.map(BigInt(_)).sum
      val q9 = 9 * vs.map(v => BigInt(v) * v).sum
      val rhs = n * q9 - (3 * s) * (3 * s)
      val anomalies = vs.count(v => { val d = BigInt(v) * n - s; d * d > rhs })
      val maxDev = vs.map(v => (BigInt(v) * n - s).abs).max
      assert(got(t)._1 == vs.length && got(t)._2 == anomalies && got(t)._3 == maxDev,
        s"type $t: got ${got(t)}, want (${vs.length}, $anomalies, $maxDev)")
      assert(anomalies > 0 && anomalies < vs.length, s"type $t: need mixed outcomes")
    }
  }

  test("sq8 quantization: planted recall, 4x compression, bounded reads and error") {
    // All four published contract columns (see llm_knn_sq8): exact
    // planted-neighbor recovery through the byte codes, codes within
    // [0,255] (one byte/dim = 4x vs float32), raw embeddings touched
    // only for candidates, and |dequant - x| <= 1/255 on every element.
    val r = SparkEntry.queries("llm_knn_sq8")(spark, sfDir).head()
    assert(r.getBoolean(0), "sq8 planted recall not perfect")
    assert(r.getBoolean(1), "sq8 codes escape one-byte range")
    assert(r.getBoolean(2), "sq8 exact-read fraction not sublinear")
    assert(r.getBoolean(3), "sq8 reconstruction error exceeds 1/255")
  }

  test("ds_frequent_buyers: CTE filters apply as broadcast semi joins, never a cartesian") {
    // q23 contract: the frequent-parts and best-customers sets are
    // selective — they must reach the fact as broadcast LeftSemi hash
    // joins (shuffling the fact on their account would dominate at
    // scale), and the 0.5*max spend threshold is a scalar subquery,
    // not a join.
    val df = SparkEntry.queries("ds_frequent_buyers")(spark, sfDir)
    val s = planString(df)
    val semis = "LeftSemi".r.findAllIn(s).size
    assert(semis >= 2, s"expected both IN-subqueries as semi joins, saw $semis")
    assert("BroadcastHashJoin.*LeftSemi".r.findFirstIn(s).isDefined,
      "semi joins should broadcast their selective build sides")
    assert(!s.contains("CartesianProduct"), "no cartesian in the q23 shape")
  }

  test("embedding dedup splits oversized clustered buckets and bounds candidates") {
    // Adversarial fixture for the occupancy cap: a 400-member cluster
    // around one direction (pairwise cos ~0.95 — similar enough to share
    // sign bits, not near-dups) plus 1600 uniform vectors. Without the
    // cap the cluster forms one >128 bucket per band and contributes
    // ~80k candidate pairs; with the 12-extra-bit split its buckets
    // shatter and the candidate count recorded in QueryStats must drop
    // well below the unsplit cluster-pair count. This is the scale
    // contract behind the r8 sf1 superlinearity fix.
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 64
    val raw = Array.fill(dim)(rnd.nextGaussian())
    val nrm = math.sqrt(raw.map(x => x * x).sum)
    // Unit-length center + 0.07-sigma noise -> pairwise cos ~0.87:
    // similar enough to share sign bits (one hot bucket per band), far
    // enough that the extra split bits disagree and shatter it. An
    // unnormalized center would make the cluster near-exact dups
    // (cos ~0.995), which the split correctly KEEPS together.
    val center = raw.map(x => (x / nrm).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0 until 400).map { i =>
        (i.toLong, center.map(c => c + 0.07f * rnd.nextGaussian().toFloat))
      } ++ (400 until 2000).map { i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))
      }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.llm.LlmQueries.embeddingNearDupPairs(
      spark, emb, tau = 0.4, statsName = "spec_clustered_dedup")
    out.write.format("noop").mode("overwrite").save()
    val stats = graft.tools.QueryStats.snapshot("spec_clustered_dedup").toMap
    assert(stats("max_occupancy_presplit") > 128,
      s"cluster must form an oversized bucket, got ${stats("max_occupancy_presplit")}")
    assert(stats("max_occupancy") < stats("max_occupancy_presplit"),
      "split must reduce max occupancy")
    val clusterPairs = 400L * 399 / 2 * 4 // all-pairs x 4 bands if unsplit
    assert(stats("candidate_pairs") < clusterPairs / 2,
      s"split must bound candidates, got ${stats("candidate_pairs")} vs unsplit ~$clusterPairs")
  }

  test("embedding dedup recovers planted near-exact duplicates") {
    // Recall contract at the similarity production dedup targets: 50
    // planted pairs at cos >= ~0.999 (per-bit collision p ~ 0.99 ->
    // >=99.9% chance of colliding in at least one band even with the
    // split bits in the key) in a 2000-vector uniform corpus. Banding
    // recall at the fixture's tau=0.4 is intentionally partial (the
    // oracle pins banded semantics); THIS is the recall that matters.
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val base = (0 until 1950).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val planted = (0 until 50).flatMap { i =>
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val dup = v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      Seq((10000L + 2 * i, v), (10001L + 2 * i, dup))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val found = graft.llm.LlmQueries.embeddingNearDupPairs(
        spark, emb, tau = 0.9, statsName = "spec_planted_dedup")
      .filter(org.apache.spark.sql.functions.col("vec_a") >= 10000 &&
        org.apache.spark.sql.functions.col("vec_b") ===
          org.apache.spark.sql.functions.col("vec_a") + 1)
      .count()
    assert(found >= 45, s"planted near-exact dup recall $found/50 below 0.9")
  }

  test("benchmark windows partition on a real key (no global/low-card windows)") {
    // A window with an empty PARTITION BY funnels the whole input through
    // one task; a 3-value key through 3. Since r7, NO win_ query is
    // exempt: win_ntile_dist now runs the distributed bucket-rank
    // formulation (the single-partition baseline survives only as the
    // result-identity cross-check below).
    import org.apache.spark.sql.execution.window.WindowExec
    val lowCardKeys = Set("l_returnflag", "l_linestatus", "o_orderstatus",
      "o_orderpriority", "r_name", "n_name")
    SparkEntry.modules.flatMap(_.queries).filter(q => q.name.startsWith("win_"))
      .foreach { q =>
        val plan = executedPlan(q.run(spark, sfDir))
        plan.collect { case w: WindowExec => w }.foreach { w =>
          assert(w.partitionSpec.nonEmpty,
            s"${q.name}: WindowExec with empty partitionSpec (global sort at scale)")
          val keys = w.partitionSpec.flatMap(_.references.map(_.name.toLowerCase))
          assert(!keys.forall(lowCardKeys), // sub-hundred-distinct keys starve parallelism
            s"${q.name}: window partitions only on low-cardinality key(s) ${keys.mkString(",")}")
        }
      }
  }

  test("distributed global rank is row-identical to the single-partition window baseline") {
    // The textbook Window.orderBy formulation is the semantic ground
    // truth but a one-task bottleneck at scale; it lives only here, as
    // the cross-check that the bucket-rank restatement serving
    // win_ntile_dist / win_rank_global_scalable is EXACTLY it.
    val scalable = graft.queries.WindowQueries.globalRankScalable(spark)
      .orderBy("c_custkey").collect()
    val baseline = graft.queries.WindowQueries.globalRankBaseline(spark)
      .orderBy("c_custkey").collect()
    assert(scalable.length == baseline.length && scalable.length > 0)
    scalable.zip(baseline).foreach { case (a, b) =>
      assert(a == b, s"distributed rank diverges from window baseline: $a vs $b")
    }
  }

  test("native cosine_similarity expression stays inside codegen and matches HOF math") {
    import org.apache.spark.sql.functions._
    val df = spark.table("embeddings").limit(50).select(
      graft.functions.Fns.cosineSim(col("embedding"), col("embedding")).as("self_sim"),
      (graft.functions.Fns.dot(col("embedding"), col("embedding")) /
        (graft.functions.Fns.l2norm(col("embedding")) * graft.functions.Fns.l2norm(col("embedding"))))
        .as("hof_sim"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "native and HOF cosine must be bit-equal")
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-6, "self-similarity ~ 1")
    }
    // expression must not be CodegenFallback (HOFs are) — verify by name
    // appearing under a WholeStageCodegen span in the formatted plan
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(formatted.contains("cosine_similarity"))
  }

  test("JDBC source pushes the filter, prunes the column, fans out 4 splits") {
    import org.apache.spark.sql.functions._
    graft.sources.JdbcOps.writeTable(
      spark.table("supplier").select("s_suppkey", "s_nationkey", "s_acctbal"),
      "graft_jdbc_spec")
    val bounds = spark.table("supplier").agg(min("s_suppkey"), max("s_suppkey")).head()
    val df = graft.sources.JdbcOps.readPartitioned(
        spark, "graft_jdbc_spec", "s_suppkey", bounds.getLong(0), bounds.getLong(1), 4)
      .filter(col("s_acctbal") > 5000.0)
      .select("s_suppkey", "s_acctbal")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
    }.getOrElse(fail("no JDBC row scan in plan"))
    // predicate compiled into the remote WHERE clause, not a Spark Filter
    assert(scan.metadata("PushedFilters").contains("s_acctbal"),
      s"filter not pushed: ${scan.metadata("PushedFilters")}")
    // unused s_nationkey pruned out of the remote SELECT list
    assert(!scan.output.map(_.name).contains("s_nationkey"),
      s"column not pruned: ${scan.output.map(_.name)}")
    // split fan-out: one RDD partition per key-range slice
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 JDBC splits, got ${df.rdd.getNumPartitions}")
    // and the data read through the connector is the parquet data
    val viaJdbc = df.agg(count(lit(1)), sum("s_suppkey")).head()
    val viaParquet = spark.table("supplier").filter(col("s_acctbal") > 5000.0)
      .agg(count(lit(1)), sum("s_suppkey")).head()
    assert(viaJdbc == viaParquet)
  }

  test("index join: null probe keys dropped (inner semantics), boundary keys match, non-integral key rejected") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    graft.sources.JdbcOps.writeTable(
      Seq((0L, "zero"), (1L, "one"), (Long.MaxValue, "max"), (Long.MinValue, "min"))
        .toDF("k", "name"), "graft_idx_null_spec")
    val probe = Seq(
      (Some(0L), "a"), (None, "b"), (Some(Long.MaxValue), "c"),
      (Some(Long.MinValue), "d"), (None, "e"), (Some(42L), "f"))
      .toDF("k", "tag")
    val out = graft.sources.JdbcOps.indexLookupJoin(
      spark, probe, "k", "graft_idx_null_spec", "k", Seq("name"), batchSize = 2)
    val got = out.select("tag", "name").as[(String, String)].collect().toSet
    // nulls (b, e) and the unmatched key (f) drop; boundary keys round-trip
    assert(got == Set(("a", "zero"), ("c", "max"), ("d", "min")), got)
    intercept[IllegalArgumentException] {
      graft.sources.JdbcOps.indexLookupJoin(
        spark, probe.select(col("tag"), col("k").cast("string").as("k")),
        "k", "graft_idx_null_spec", "k", Seq("name"))
    }
  }

  test("local-file connector: timestamp bound prunes whole files; parse is lossless") {
    import graft.sources.LocalFileOps
    graft.engine.Engine.registerTables(spark, "/root/testdata/sf0.001")
    val dir = "tmp/graft_localfile_spec"
    LocalFileOps.writeHttpLogs(spark, dir)
    val all = LocalFileOps.plannedLogFiles(dir, None)
    assert(all.size >= 6, s"expected ~8 bucket files, got ${all.size}") // 8 3h buckets (sparse fixtures may skip one)
    // 06:00 bound: every file except (possibly) the one containing the
    // boundary and later ones is pruned — strictly fewer files, and
    // never a file whose successor still starts before the bound
    val bound = java.time.OffsetDateTime.parse("1995-01-01T06:00:00+00:00")
    val kept = LocalFileOps.plannedLogFiles(dir, Some(bound))
    assert(kept.size < all.size && kept.nonEmpty)
    // pruning is sound: the kept files contain every matching row
    val full = LocalFileOps.readHttpRequestLog(spark, dir)
      .filter(org.apache.spark.sql.functions.col("timestamp") >=
        org.apache.spark.sql.functions.lit("1995-01-01 06:00:00").cast("timestamp"))
    val pruned = LocalFileOps.readHttpRequestLog(spark, dir, minTs = Some(bound))
      .filter(org.apache.spark.sql.functions.col("timestamp") >=
        org.apache.spark.sql.functions.lit("1995-01-01 06:00:00").cast("timestamp"))
    assert(full.count() == pruned.count() && full.count() > 0)
    // schema matches LocalFileTables.java ordering incl. injected server_address
    assert(pruned.columns.toSeq == "server_address" +: LocalFileOps.FileColumns)
    // lossless typed parse: response codes only from the derivation set
    val codes = pruned.select("response_code").distinct().collect().map(_.getLong(0)).toSet
    assert(codes.subsetOf(Set(200L, 404L, 500L)))
  }

  test("record log: offset predicate prunes segments from metadata; csv/raw decoders round-trip") {
    import graft.sources.RecordLog
    import org.apache.spark.sql.functions._
    val dir = "tmp/graft_recordlog_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // 2 partitions x 1000 offsets, 250 per segment -> 8 segment files
    (0 until 2).foreach { p =>
      val recs = (0L until 1000L).map { off =>
        val v = off * 2 + p
        val raw = java.nio.ByteBuffer.allocate(12).putInt(v.toInt).putLong(v * 10).array()
        (off, null: Array[Byte], raw)
      }
      RecordLog.writePartition(dir, "t", p, recs, 250)
    }
    assert(RecordLog.plannedSegments(dir, "t") == 8)
    // [100, 299] intersects segments 0-249 and 250-499 only: 4 of 8 survive
    assert(RecordLog.plannedSegments(dir, "t", 100, 299) == 4,
      "segment pruning must drop disjoint ranges without reading them")
    val scanned = RecordLog.readTopic(spark, dir, "t", 100, 299)
    assert(scanned.count() == 400) // exact record-level filter: 200 x 2 partitions
    assert(scanned.agg(min("_partition_offset"), max("_partition_offset")).head() ==
      org.apache.spark.sql.Row(100L, 299L))
    // raw decoder: big-endian INT at [0,4), LONG at [4,12)
    val raw = RecordLog.decodeRaw(scanned,
      Seq(("v", "0:4:INT"), ("v10", "4:12:LONG")))
    assert(raw.filter(col("v10") =!= col("v") * 10).count() == 0)
    assert(raw.filter(col("_partition_id") === 0 && col("_partition_offset") === 100)
      .head().getAs[Long]("v") == 200L)
    // csv decoder: positional mapping with casts
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val csvRecs = (0L until 10L).map(i =>
      (i, null: Array[Byte], s"$i,name$i,${i * 1.5}".getBytes("UTF-8")))
    RecordLog.writePartition(dir, "c", 0, csvRecs, 100)
    val csv = RecordLog.decodeCsv(RecordLog.readTopic(spark, dir, "c"),
      Seq(("id", 0, "BIGINT"), ("name", 1, "STRING"), ("score", 2, "DOUBLE")))
    val r7 = csv.filter(col("id") === 7).head()
    assert(r7.getAs[String]("name") == "name7" && r7.getAs[Double]("score") == 10.5)
    // avro decoder: schema-embedded data-file payloads, nested path,
    // null payload -> null columns (not a crash)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val schemaJson =
      """{"type":"record","name":"m","fields":[{"name":"v","type":"long"},
        |{"name":"s","type":"string"},
        |{"name":"d","type":{"type":"record","name":"n","fields":[{"name":"w","type":"double"}]}}]}""".stripMargin
    val avroRecs = (0L until 5L).map { i =>
      val payload = RecordLog.avroDataFile(schemaJson) { rec =>
        rec.put("v", i * 3)
        rec.put("s", s"s$i")
        val d = new org.apache.avro.generic.GenericData.Record(
          graft.sources.AvroSchemas.parse(schemaJson).getField("d").schema())
        d.put("w", i * 0.5)
        rec.put("d", d)
      }
      (i, null: Array[Byte], payload)
    } :+ ((5L, null: Array[Byte], null: Array[Byte]))
    RecordLog.writePartition(dir, "a", 0, avroRecs, 100)
    val avro = RecordLog.decodeAvro(RecordLog.readTopic(spark, dir, "a"),
      schemaJson, Seq(("v", "v", "LONG"), ("s", "s", "STRING"), ("w", "d/w", "DOUBLE")))
    val r3 = avro.filter(col("_partition_offset") === 3).head()
    assert(r3.getAs[Long]("v") == 9L && r3.getAs[String]("s") == "s3" &&
      r3.getAs[Double]("w") == 1.5)
    assert(avro.filter(col("_partition_offset") === 5)
      .select("v", "s", "w").head().anyNull)
    // Single-parse contract (r8 finding: one UDF per field re-parsed the
    // container M times per row): a full materialization of all 3
    // extracted fields over 5 non-null payloads must open exactly 5
    // DataFileStreams, not 15. local-mode executors share the JVM, so
    // the static counter observes every decode.
    val before = RecordLog.avroContainerDecodes.get()
    avro.select("v", "s", "w").collect()
    val decodes = RecordLog.avroContainerDecodes.get() - before
    assert(decodes == 5L, s"expected one container decode per non-null row (5), got $decodes")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("json temporal decoders: five dataFormats round-trip; malformed values raise the reference error") {
    import graft.sources.RecordLog
    import org.apache.spark.sql.functions._
    val dir = "tmp/graft_recordlog_time_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // epoch 1700000000 = 2023-11-14T22:13:20Z; offset 3 adds 3 s
    val good = (0L until 5L).map { i =>
      val sec = 1700000000L + i
      val inst = java.time.Instant.ofEpochSecond(sec)
      val utc = java.time.ZoneOffset.UTC
      def f(p: String) = java.time.format.DateTimeFormatter
        .ofPattern(p, java.util.Locale.ENGLISH).withZone(utc).format(inst)
      val payload =
        s"""{"t_iso":"${f("yyyy-MM-dd'T'HH:mm:ss")}","t_rfc":"${f("EEE MMM dd HH:mm:ss Z yyyy")}",""" +
        s""""t_sec":$sec,"t_ms":${sec * 1000},"t_custom":"${f("yyyy/MM/dd HH:mm:ss")}"}"""
      (i, null: Array[Byte], payload.getBytes("UTF-8"))
    } :+ ((5L, null: Array[Byte], """{"t_sec":42}""".getBytes("UTF-8"))) // others missing -> NULL
    RecordLog.writePartition(dir, "tt", 0, good, 100)
    val fields = Seq(
      ("t_iso", "t_iso", "iso8601", ""),
      ("t_rfc", "t_rfc", "rfc2822", ""),
      ("t_sec", "t_sec", "seconds-since-epoch", ""),
      ("t_ms", "t_ms", "milliseconds-since-epoch", ""),
      ("t_custom", "t_custom", "custom-date-time", "yyyy/MM/dd HH:mm:ss"))
    val dec = RecordLog.decodeJsonTime(RecordLog.readTopic(spark, dir, "tt"), fields)
    // all five formats recover the identical instant on every full row
    assert(dec.filter(col("_partition_offset") < 5)
      .filter(col("t_iso") =!= col("t_rfc") || col("t_iso") =!= col("t_sec") ||
        col("t_iso") =!= col("t_ms") || col("t_iso") =!= col("t_custom")).count() == 0)
    val r3 = dec.filter(col("_partition_offset") === 3)
      .select(col("t_iso").cast("string")).head().getString(0)
    assert(r3 == "2023-11-14 22:13:23", s"offset-3 instant: $r3")
    // missing nodes are NULL (FieldValueProvider.isNull), present ones decode
    val r5 = dec.filter(col("_partition_offset") === 5).head()
    assert(r5.isNullAt(r5.fieldIndex("t_iso")) && !r5.isNullAt(r5.fieldIndex("t_sec")))
    // malformed present value: DECODER_CONVERSION_NOT_SUPPORTED text,
    // not a silent NULL (the engine/oracle-divergence trap)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    RecordLog.writePartition(dir, "tb", 0,
      Seq((0L, null: Array[Byte], """{"t_iso":"not a date"}""".getBytes("UTF-8"))), 100)
    val bad = RecordLog.decodeJsonTime(RecordLog.readTopic(spark, dir, "tb"),
      Seq(("t_iso", "t_iso", "iso8601", "")))
    val err = intercept[Exception](bad.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains(
      "could not parse value 'not a date' as 'timestamp' for column 't_iso'")),
      s"reference error text expected, got: ${messages(err)}")
    // custom-date-time without a format hint is rejected at build time
    val noHint = intercept[IllegalArgumentException](
      RecordLog.decodeJsonTime(RecordLog.readTopic(spark, dir, "tb"),
        Seq(("t_iso", "t_iso", "custom-date-time", ""))))
    assert(noHint.getMessage.contains("format hint not defined"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("json temporal decoders: reference TIMESTAMP vectors verbatim (offset ignored for iso8601, applied for rfc2822)") {
    import graft.sources.RecordLog
    import org.apache.spark.sql.functions._
    val dir = "tmp/graft_recordlog_time_vec"
    def run(format: String, jsonValue: String): Either[Seq[String], Option[String]] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      RecordLog.writePartition(dir, "v", 0,
        Seq((0L, null: Array[Byte], s"""{"t":$jsonValue}""".getBytes("UTF-8"))), 100)
      val dec = RecordLog.decodeJsonTime(RecordLog.readTopic(spark, dir, "v"),
        Seq(("t", "t", format, "")))
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      try Right(Option(dec.select(col("t").cast("string")).head().getString(0)))
      catch { case e: Exception => Left(messages(e)) }
    }
    def decodes(format: String, jsonValue: String, utcText: String): Unit = {
      val got = run(format, jsonValue)
      assert(got == Right(Some(utcText)), s"$format $jsonValue: $got")
    }
    def raises(format: String, jsonValue: String, errText: String): Unit = {
      val got = run(format, jsonValue)
      assert(got.isLeft && got.swap.toOption.get.exists(_.contains(errText)),
        s"$format $jsonValue expected '$errText', got $got")
    }
    // TestISO8601JsonFieldDecoder.java:35-37 — TIMESTAMP 1519032011000 for
    // the zone-free, Z-suffixed AND +10:00-suffixed forms alike (the
    // reference reads EPOCH_DAY+MILLI_OF_DAY only; offset parsed-and-ignored)
    decodes("iso8601", "\"2018-02-19T09:20:11\"", "2018-02-19 09:20:11")
    decodes("iso8601", "\"2018-02-19T09:20:11Z\"", "2018-02-19 09:20:11")
    decodes("iso8601", "\"2018-02-19T09:20:11+10:00\"", "2018-02-19 09:20:11")
    // ISO_DATE_TIME also accepts minute precision, wide fractions (millis
    // kept — MILLI_OF_DAY), offset-with-seconds, and a [zone] suffix
    decodes("iso8601", "\"2018-02-19T09:20\"", "2018-02-19 09:20:00")
    decodes("iso8601", "\"2018-02-19T09:20:11.123456789\"", "2018-02-19 09:20:11.123")
    decodes("iso8601", "\"2018-02-19T09:20:11.5Z\"", "2018-02-19 09:20:11.5")
    decodes("iso8601", "\"2018-02-19T09:20:11+01:00[Europe/Paris]\"", "2018-02-19 09:20:11")
    // the [zone] suffix is independent of the offset in ISO_DATE_TIME's
    // grammar: legal after the literal Z and with no offset at all
    decodes("iso8601", "\"2018-02-19T09:20:11Z[UTC]\"", "2018-02-19 09:20:11")
    decodes("iso8601", "\"2018-02-19T09:20:11[Europe/Paris]\"", "2018-02-19 09:20:11")
    // TestISO8601JsonFieldDecoder.java:63-66 — invalid TIMESTAMP inputs,
    // reference error texts byte-for-byte
    raises("iso8601", "1", "could not parse value '1' as 'timestamp' for column 't'")
    raises("iso8601", "{}", "could not parse non-value node as 'timestamp' for column 't'")
    raises("iso8601", "\"a\"", "could not parse value 'a' as 'timestamp' for column 't'")
    // date-only / time-only are NOT ISO_DATE_TIME (need date+time)
    raises("iso8601", "\"2018-02-19\"", "could not parse value '2018-02-19' as 'timestamp' for column 't'")
    raises("iso8601", "\"09:20:11Z\"", "could not parse value '09:20:11Z' as 'timestamp' for column 't'")
    // fraction is only legal after seconds (ISO_LOCAL_TIME grammar)
    raises("iso8601", "\"2018-02-19T09:20.5\"", "could not parse value '2018-02-19T09:20.5' as 'timestamp' for column 't'")

    // TestRFC2822JsonFieldDecoder.java:38-41 — literal Z zone token and a
    // +02:00 offset that IS applied (15:15:19+02:00 == 13:15:19 UTC)
    decodes("rfc2822", "\"Fri Feb 09 13:15:19 Z 2018\"", "2018-02-09 13:15:19")
    decodes("rfc2822", "\"Fri Feb 09 15:15:19 +02:00 2018\"", "2018-02-09 13:15:19")
    decodes("rfc2822", "\"Fri Feb 09 15:15:19 +0200 2018\"", "2018-02-09 13:15:19")
    // TestRFC2822JsonFieldDecoder.java:56-66 — every invalid shape raises
    raises("rfc2822", "{}", "could not parse non-value node as 'timestamp' for column 't'")
    raises("rfc2822", "\"a\"", "could not parse value 'a' as 'timestamp' for column 't'")
    raises("rfc2822", "2018", "could not parse value '2018' as 'timestamp' for column 't'")
    raises("rfc2822", "\"Mon Feb 12 13:15:16 Z\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Mon Feb 12 13:15:16 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Mon Feb 12 Z 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Mon Feb 13:15:16 Z 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Mon 12 13:15:16 Z 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Feb 12 13:15:16 Z 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Fri Feb 09 13:15:19 Europe/Warsaw 2018\"", "as 'timestamp' for column 't'")
    raises("rfc2822", "\"Fri Feb 09 13:15:19 EST 2018\"", "as 'timestamp' for column 't'")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("doc store: projection pushdown length-skips unrequested subtrees; filters reject in-cursor") {
    import graft.sources.DocStore
    val dir = "/tmp/graft_docstore_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    // 60 docs: 3 small meta fields + one payload subdocument ~50x the
    // projected data volume
    val docs = (0 until 60).map { i =>
      Seq[(String, Any)](
        "k" -> i.toLong,
        "meta" -> Seq[(String, Any)]("ck" -> (i * 7).toLong, "name" -> s"doc-$i"),
        "payload" -> Seq[(String, Any)]((0 until 20).map(j =>
          s"f$j" -> ("x" * 40 + j.toString)): _*))
    }
    DocStore.writeCollection(dir, "c", docs, docsPerSegment = 25)
    assert(DocStore.plannedSplits(dir, "c") == 3, "ceil(60/25) segment splits")
    val d0 = DocStore.fieldsDecoded.get()
    val s0 = DocStore.bytesSkipped.get()
    val r0 = DocStore.docsRejected.get()
    val rows = DocStore.readCollection(spark, dir, "c",
        projection = Seq(("k", "k", "BIGINT"), ("ck", "meta.ck", "BIGINT")),
        filters = Seq(DocStore.Pred("k", ">=", 10L)))
      .collect()
    assert(rows.length == 50)
    assert(rows.map(_.getLong(1)).sum == (10 until 60).map(_ * 7).sum)
    // pushdown contracts: exactly the 2 requested fields decode per doc
    // (payload and meta.name never do), the payload subtree's bytes are
    // length-skipped wholesale, and the k<10 docs die in the cursor.
    val decoded = DocStore.fieldsDecoded.get() - d0
    val skipped = DocStore.bytesSkipped.get() - s0
    val rejected = DocStore.docsRejected.get() - r0
    assert(decoded == 120, s"2 fields x 60 docs must decode, got $decoded")
    // each payload: 20 fields x (~41-42 chars + bson string overhead) > 800 bytes
    assert(skipped > 60L * 800, s"payload subtrees must be skipped by length, got $skipped")
    assert(rejected == 10, s"filter must reject 10 docs in-cursor, got $rejected")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("bucketed tables join co-located: no shuffle on either side") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS graft_b_li")
    spark.sql("DROP TABLE IF EXISTS graft_b_ord")
    spark.table("lineitem").select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("graft_b_li")
    spark.table("orders").select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("graft_b_ord")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
      val joined = spark.table("graft_b_li")
        .join(spark.table("graft_b_ord"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      val plan = executedPlan(joined)
      def shuffles(p: SparkPlan): Int = {
        val self = if (p.isInstanceOf[ShuffleExchangeExec]) 1 else 0
        self + (p match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => shuffles(q.plan)
          case other => other.children.map(shuffles).sum
        })
      }
      // join itself must be exchange-free (bucket co-location); the only
      // permissible shuffle would be none at all here since the groupBy
      // key equals the bucket key.
      assert(shuffles(plan) == 0, s"expected co-located join+agg without shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_b_li")
      spark.sql("DROP TABLE IF EXISTS graft_b_ord")
    }
  }

  test("salted aggregation matches direct groupBy (skew mitigation)") {
    import org.apache.spark.sql.functions._
    val direct = spark.table("lineitem").groupBy(col("l_returnflag").as("__key"))
      .agg(sum("l_quantity").as("total"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = graft.operators.SkewOps
      .saltedSumCount(spark.table("lineitem"), col("l_returnflag"), col("l_quantity"), buckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    // doubles: compare with tolerance via map lookup
    assert(direct.map(_._1) == salted.map(_._1))
    val dm = direct.map(t => t._1 -> (t._2, t._3)).toMap
    salted.foreach { case (k, tot, cnt) =>
      assert(math.abs(dm(k)._1 - tot) / dm(k)._1 < 1e-12)
      assert(dm(k)._2 == cnt)
    }
  }

  test("cosine_similarity errors on dimension mismatch instead of truncating") {
    import org.apache.spark.sql.functions._
    val thrown = intercept[Exception] {
      spark.sql("SELECT cosine_similarity(array(1.0D,2.0D,3.0D), array(1.0D,2.0D))").collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: rootMessages(e.getCause))
    assert(rootMessages(thrown).exists(m => m != null && m.contains("dimension mismatch")))
  }

  test("try_eval returns NULL for errors and propagates child NULLs") {
    val r = spark.sql(
      """SELECT try_eval(CAST(1 AS INT)/0) AS a,
        |       try_eval(CAST(NULL AS INT)) AS b,
        |       try_eval(40 + 2) AS c""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getInt(2) == 42)
  }

  test("sketch scalar UDFs are null-safe") {
    val r = spark.sql(
      """SELECT hll_cardinality(CAST(NULL AS BINARY)) AS a,
        |       jaccard_index(CAST(NULL AS BINARY), CAST(NULL AS BINARY)) AS b,
        |       qdigest_value_at(CAST(NULL AS BINARY), 0.5) AS c""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("generic salted aggregation decomposition matches direct aggregation") {
    import org.apache.spark.sql.functions._
    val direct = spark.table("orders").groupBy(col("o_orderstatus").as("__key"))
      .agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val salted = graft.operators.SkewOps.salted(
        spark.table("orders"), col("o_orderstatus"), buckets = 8)(
        Seq(min("o_totalprice").as("pmn"), max("o_totalprice").as("pmx")),
        Seq(min("pmn").as("mn"), max("pmx").as("mx")))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(direct == salted)
  }

  test("minhash signature helpers estimate jaccard") {
    import org.apache.spark.sql.functions._
    import graft.functions.Fns
    val df = spark.sql("SELECT array('a','b','c','d','e','f','g','h') AS s1, array('a','b','c','d','e','f','x','y') AS s2")
      .select(
        Fns.minhashJaccard(Fns.minhashSignature(col("s1"), 128), Fns.minhashSignature(col("s1"), 128)).as("self"),
        Fns.minhashJaccard(Fns.minhashSignature(col("s1"), 128), Fns.minhashSignature(col("s2"), 128)).as("near"))
      .head()
    assert(df.getDouble(0) == 1.0)
    // true jaccard = 6/10 = 0.6; 128 perms => sigma ~ 0.043
    assert(math.abs(df.getDouble(1) - 0.6) < 0.2)
  }

  test("hll sketch survives the partial/final shuffle split") {
    // group-by forces partial aggregation -> serialize -> shuffle ->
    // final merge; estimate must still be within tolerance.
    val est = spark.sql(
      """SELECT hll_cardinality(merge_hll(sk)) AS est FROM
        |  (SELECT approx_set(l_partkey) AS sk FROM lineitem GROUP BY l_orderkey % 16)""".stripMargin)
      .head().getLong(0)
    val exact = spark.sql("SELECT count(DISTINCT l_partkey) FROM lineitem").head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est=$est exact=$exact")
  }

  test("connected components converge on a long chain in O(log d) rounds") {
    // A 64-hop chain: plain min-label propagation needs 64 rounds (and
    // silently mis-converges under a 20-round cap); pointer jumping
    // must finish well inside it and label every node with the minimum.
    val s = spark
    import s.implicits._
    val chain = (0L until 64L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val (labels, rounds) = graft.operators.ConnectedComponents.minLabelWithStats(chain)
    val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 64)
    assert(rows.forall(_._2 == 0L), s"every chain node must label 0, got ${rows.filter(_._2 != 0L).take(5).mkString(",")}")
    assert(rounds <= 12, s"pointer jumping must converge in O(log 64) rounds, took $rounds")

    // two disjoint components keep distinct labels
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = graft.operators.ConnectedComponents.minLabel(two)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("connected components free per-round checkpoint blocks (no storage leak)") {
    // Round-5 regression pin: a CC call must leave at most ONE persisted
    // RDD behind (the final label checkpoint its output reads), not
    // O(rounds) dead ones — leaked checkpoint blocks build storage
    // pressure that evicts the session's shared caches.
    // Race-free form: check ONLY the RDD ids this CC call created (it
    // reports them) against getPersistentRDDs — diffing the global set
    // flakes when a concurrent suite persists on the shared SparkContext.
    val s = spark
    import s.implicits._
    val created = scala.collection.mutable.ArrayBuffer.empty[Int]
    val chain = (0L until 64L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val (labels, rounds) =
      graft.operators.ConnectedComponents.minLabelTracked(chain, 20, created)
    labels.count() // consume like a caller would
    val finalIds = labels.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val survivors = created.toSet.intersect(s.sparkContext.getPersistentRDDs.keySet)
    assert(rounds >= 3, s"need a multi-round run to make the pin meaningful, got $rounds")
    assert(created.size >= rounds, s"tracker must see one checkpoint per round, got ${created.size}")
    assert(survivors.subsetOf(finalIds),
      s"CC left persisted RDDs besides the final label checkpoint: ${survivors -- finalIds} (rounds=$rounds)")
    assert(survivors.size <= 1, s"CC leaked ${survivors.size} persisted RDDs (rounds=$rounds)")
  }

  test("q15 top supplier is stable across shuffle partitioning (no float-equality join)") {
    // The TPC-H textbook q15 joins on total_revenue = (SELECT max(...)) —
    // exact float equality between two evaluations of the same CTE, which
    // partial-agg ordering can break at higher parallelism. The rank-based
    // restatement must return the identical top-1 at 1 and 32 partitions.
    val q15 = SparkEntry.queries("q15_top_supplier")
    def run(parts: Int): Seq[(Long, String)] = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts)
      graft.engine.Engine.registerTables(s, sfDir)
      q15(s, sfDir).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    }
    val at1 = run(1)
    val at32 = run(32)
    assert(at1.size == 1, s"q15 must return exactly the top supplier, got ${at1.size} rows")
    assert(at1 == at32, s"top supplier changed with partitioning: $at1 vs $at32")
  }

  test("salted aggregation is retry-deterministic (content-hash salt, no mono-id)") {
    // A salt derived from monotonically_increasing_id/spark_partition_id
    // changes on task retry, making the salted plan nondeterministic
    // exactly when a 1000-executor run needs it stable. Pin: the plan
    // contains no nondeterministic id source and two runs agree exactly.
    import org.apache.spark.sql.functions.col
    val df = spark.table("lineitem")
    val salted = graft.operators.SkewOps
      .saltedSumCount(df, col("l_returnflag"), col("l_quantity"), buckets = 8)
    val analyzed = salted.queryExecution.analyzed
    assert(analyzed.expressions.forall(_.collectFirst {
      case e if e.prettyName == "monotonically_increasing_id" => e
      case e if e.prettyName == "spark_partition_id" => e
    }.isEmpty) && !analyzed.toString.contains("monotonically_increasing_id"),
      "salt must not depend on nondeterministic row/partition ids")
    def snap() = salted.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
    val (a, b) = (snap(), snap())
    assert(a.map(x => (x._1, x._3)) == b.map(x => (x._1, x._3)),
      "salted group keys/counts must be identical across executions")
    a.zip(b).foreach { case ((_, ta, _), (_, tb, _)) =>
      assert(math.abs(ta - tb) <= 1e-6 * math.max(1.0, math.abs(ta)),
        s"salted totals drifted across executions: $ta vs $tb")
    }
  }

  test("winnowing fingerprints detect partial overlap that whole-doc md5 misses") {
    // The local-fingerprint guarantee (Schleimer et al.): two documents
    // sharing a long-enough substring share at least one selected
    // (pos-independent) fingerprint hash, even when the rest differs —
    // md5-style whole-doc hashing shares nothing.
    // An isolated child session: temp views are per-session, so swapping
    // `documents` here cannot disturb suites sharing the global session
    // (sbt runs suites in parallel on one SparkContext).
    val s = spark.newSession()
    graft.engine.Engine.registerTables(s, sfDir) // mark registered, then swap
    import s.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, s"intro text alpha beta $shared and then some trailing words"),
      (2L, s"completely different preamble $shared closing remarks here"),
      (3L, "no overlap with anything else in this corpus at all whatsoever")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val fp = SparkEntry.queries("llm_fingerprint_winnow")(s, sfDir)
      .select("doc_id", "fp").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val common12 = fp(1L).intersect(fp(2L))
    assert(common12.nonEmpty, "docs sharing a 70-char substring must share a fingerprint")
    assert(fp(3L).intersect(fp(1L) ++ fp(2L)).isEmpty ||
      fp(3L).intersect(fp(1L) ++ fp(2L)).size < common12.size,
      "unrelated doc must not share more fingerprints than the true overlap")
  }

  test("sorted-neighborhood dedup: planted dups recovered, no single-partition window, linear candidates") {
    val s = spark.newSession()
    graft.engine.Engine.registerTables(s, sfDir)
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val docs = Seq(
      (1L, base),                            // original
      (2L, base),                            // exact dup of 1 (equal sig)
      (3L, base.replace(" xi", " omega")),   // near dup of 1 (last word off:
                                             // 1 of 10 shingles differs, J=9/11)
      (4L, "completely unrelated text about rivers mountains and weather patterns today " +
        "with many additional words that share nothing at all with the planted corpus"),
      (5L, "second unrelated document discussing cooking recipes ovens and ingredients " +
        "entirely disjoint vocabulary from every other planted document here")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents")
    val (cands, confirmed, nSigs, nEqualStar) = graft.llm.LlmQueries.snmPipeline(s)
    val candSet = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // equal-sig pair (1,2) guaranteed; near-dup (1,3) within Hamming 8 of
    // a 1-word change and adjacent among 4 distinct sigs
    assert(candSet.contains((1L, 2L)), s"equal-sig pair missing from $candSet")
    assert(candSet.contains((1L, 3L)) || candSet.contains((2L, 3L)),
      s"near-dup pair missing from $candSet")
    assert(candSet.size <= nSigs * 16 + nEqualStar, "candidate bound violated")
    val conf = confirmed.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(conf.contains((1L, 2L)) && conf((1L, 2L)) == 1.0, s"exact dup not confirmed: $conf")
    assert(conf.keys.exists { case (a, b) => Set(a, b).contains(3L) },
      "near dup not confirmed")
    assert(!conf.keys.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty },
      s"unrelated docs must not confirm: $conf")
    // scale shape: the neighbor window partitions by the sig prefix —
    // no single-partition exchange anywhere in candidate generation
    val plan = cands.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"SNM must not funnel through one partition:\n$plan")
  }

  test("as-of join picks the at-or-before right row with one shuffle") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "c1"), (1L, 25L, "c2"), (2L, 5L, "c3"), (1L, 8L, "c4"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 8L, "a"), (1L, 20L, "b"), (2L, 9L, "c"))
      .toDF("k", "t", "v")
    val out = graft.operators.AsOfJoinOps.asofJoin(left, right, "k", "t", "t")
    val got = out.collect().map(r => (r.getString(2), Option(r.getString(3)))).toSet
    assert(got == Set(
      ("c1", Some("a")),   // latest right at t<=10 is (8,a)
      ("c2", Some("b")),   // latest right at t<=25 is (20,b)
      ("c3", None),        // no right row at t<=5 for k=2
      ("c4", Some("a")))) // tie: right row AT t=8 is visible (<= semantics)

    // one hash exchange total: union both sides, shuffle once on the key
    // (count distinct plan ids — AQE prints the tree twice)
    val exchanges = "Exchange hashpartitioning.*?plan_id=(\\d+)".r
      .findAllMatchIn(out.queryExecution.executedPlan.toString)
      .map(_.group(1)).toSet.size
    assert(exchanges == 1, s"as-of join must shuffle exactly once, got $exchanges")
  }

  test("as-of join carries NULL payload fields and keeps multi-column rows intact") {
    val s = spark
    import s.implicits._
    // right row at t=20 has v1=NULL: the match must still be that row
    // (v1=NULL, v2=20), not a stitch of (8,"a",10) and (20,NULL,20).
    val left = Seq((1L, 25L, "c")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, 8L, Option("a"), Option(10L)),
      (1L, 20L, Option.empty[String], Option(20L))
    ).toDF("k", "t", "v1", "v2")
    val out = graft.operators.AsOfJoinOps.asofJoin(left, right, "k", "t", "t")
      .select("tag", "v1", "v2").collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "c")
    assert(out(0).isNullAt(1), "matched row's NULL payload must propagate, not fall back to an older row")
    assert(out(0).getLong(2) == 20L)
  }

  test("binned range join matches the theta join with a hash-join plan") {
    import org.apache.spark.sql.functions._
    val theta = spark.table("supplier")
      .join(spark.table("customer"),
        col("c_acctbal").between(col("s_acctbal") - 50, col("s_acctbal") + 50))
      .select("s_suppkey", "c_custkey")
    val binned = graft.operators.RangeJoinOps.bandJoin(
      spark.table("supplier"), spark.table("customer"),
      "s_acctbal", "c_acctbal", 50.0)
      .select("s_suppkey", "c_custkey")
    assert(binned.count() == theta.count())
    assert(binned.exceptAll(theta).isEmpty && theta.exceptAll(binned).isEmpty)
    val plan = binned.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"binned range join must be an equi (hash/merge) join, got:\n$plan")
  }

  test("z-order layout prunes 2-D range predicates that one-dim sort cannot") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    try {
      val src = spark.table("lineitem").select("l_partkey", "l_suppkey", "l_quantity")
      // one-dimensional layout: clustered on partkey only
      src.repartitionByRange(16, col("l_partkey"))
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(s"$base/linear")
      graft.operators.ZOrderOps.writeZOrdered(src, s"$base/zorder",
        "l_partkey", "l_suppkey", 16)

      val linear = spark.read.parquet(s"$base/linear")
      val zord = spark.read.parquet(s"$base/zorder")
      assert(zord.count() == src.count()) // layout loses nothing

      // predicate on the SECOND dimension only: partkey-sorted files all
      // contain every suppkey; z-ordered files are min/max boxes in both
      // dimensions, so most skip the range entirely.
      val bounds = src.agg(min("l_suppkey"), max("l_suppkey")).head()
      val lo = bounds.getLong(0)
      val pred = col("l_suppkey") === lo
      val nLinear = graft.operators.ZOrderOps.filesTouched(linear, pred)
      val nZorder = graft.operators.ZOrderOps.filesTouched(zord, pred)
      assert(linear.filter(pred).count() == zord.filter(pred).count())
      assert(nZorder < nLinear,
        s"z-order must localize the 2nd dimension: z=$nZorder linear=$nLinear")
      assert(nZorder <= 8, s"suppkey point predicate should land in few z-files, got $nZorder")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }

  test("bucketed tables make the orderkey join and aggregate shuffle-free") {
    import org.apache.spark.sql.functions._
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.operators.BucketOps.writeBucketed(
        spark.table("lineitem").select("l_orderkey", "l_extendedprice"),
        "graft_spec_bkt_li", "l_orderkey", 4)
      graft.operators.BucketOps.writeBucketed(
        spark.table("orders").select("o_orderkey", "o_totalprice"),
        "graft_spec_bkt_or", "o_orderkey", 4)

      val joined = spark.table("graft_spec_bkt_li")
        .join(spark.table("graft_spec_bkt_or"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(graft.operators.BucketOps.isShuffleFree(spark, joined),
        s"bucketed join must plan no shuffle exchange:\n$plan")

      // same distribution satisfies the aggregate too
      val agg = spark.table("graft_spec_bkt_li")
        .groupBy("l_orderkey").agg(sum("l_extendedprice"))
      assert(graft.operators.BucketOps.isShuffleFree(spark, agg),
        "groupBy on the bucket key must plan no shuffle exchange")

      // layout must not change results
      val flat = spark.table("lineitem")
        .join(spark.table("orders"), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() == flat)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_spec_bkt_li")
      spark.sql("DROP TABLE IF EXISTS graft_spec_bkt_or")
    }
  }

  test("copy-on-write DELETE rewrites only touched files; untouched files keep their bytes") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_delete_spec_").toString
    try {
      // range-clustered layout: a key-range predicate touches one file
      spark.table("orders").repartitionByRange(4, col("o_orderkey"))
        .write.mode("overwrite").parquet(dir)
      def listing() = new java.io.File(dir).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
      val beforeFiles = listing()
      val total = spark.read.parquet(dir).count()
      val toGo = spark.read.parquet(dir).filter(col("o_orderkey") <= 10).count()
      assert(toGo > 0, "fixture must contain matching rows")

      val stats = graft.operators.DeleteOps.deleteWhere(spark, dir, col("o_orderkey") <= 10)
      assert(stats.filesTotal == 4)
      assert(stats.filesRewritten == 1, s"range predicate must touch 1 of 4 files, got ${stats.filesRewritten}")
      assert(stats.rowsDeleted == toGo)
      assert(spark.read.parquet(dir).count() == total - toGo)
      assert(spark.read.parquet(dir).filter(col("o_orderkey") <= 10).count() == 0)

      // the three untouched files survive byte-identical (same name+mtime)
      val afterFiles = listing()
      val survivors = beforeFiles.keySet.intersect(afterFiles.keySet)
      assert(survivors.size == 3)
      survivors.foreach(k => assert(beforeFiles(k) == afterFiles(k)))

      // no-match delete is a metadata-only no-op
      val noop = graft.operators.DeleteOps.deleteWhere(spark, dir, col("o_orderkey") < 0)
      assert(noop.filesRewritten == 0 && noop.rowsDeleted == 0)
      assert(listing() == afterFiles)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("spatial grid join = brute-force pairs, planned as an equi-join") {
    import org.apache.spark.sql.functions._
    // SpatialJoinOps: the 3x3 neighbor expansion must lose no pair and
    // duplicate no pair, and the plan must be a hash/merge equi-join on
    // cell keys — NOT a cartesian/broadcast-nested-loop product (which
    // is what a naive distance theta-join plans as, and what cannot
    // scale past a single node's row product).
    val pts = spark.table("customer").select(col("c_custkey"),
      (col("c_custkey") * 7919 % 10000 / 100.0).as("px"),
      (col("c_custkey") * 104729 % 10000 / 100.0).as("py"))
    val sites = spark.table("supplier").select(col("s_suppkey"),
      (col("s_suppkey") * 15485863 % 10000 / 100.0).as("sx"),
      (col("s_suppkey") * 32452843 % 10000 / 100.0).as("sy"))
    val grid = graft.operators.SpatialJoinOps
      .distanceJoin(pts, "px", "py", sites, "sx", "sy", 1.5)
      .select("c_custkey", "s_suppkey")
    val brute = pts.crossJoin(sites)
      .filter(graft.operators.SpatialJoinOps.stDistance(
        col("px"), col("py"), col("sx"), col("sy")) <= 1.5)
      .select("c_custkey", "s_suppkey")
    assert(grid.count() == grid.distinct().count(), "grid join emitted a duplicate pair")
    assert(grid.exceptAll(brute).isEmpty && brute.exceptAll(grid).isEmpty,
      "grid join pair set differs from brute force")
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"spatial join planned as a product:\n$plan")
  }

  test("spatial contains/intersects joins = brute-force pairs, duplicate-free, equi-join plans") {
    import org.apache.spark.sql.functions._
    // containsJoin: box replicated per covered cell, point hashed to one
    // cell; intersectsJoin: report-cell refine emits each overlapping
    // pair exactly once with no distinct(). Both must plan as hash/merge
    // equi-joins on the cell key, never a product.
    val contains = SparkEntry.queries("join_spatial_contains")(spark, sfDir)
    val intersects = SparkEntry.queries("join_spatial_intersects")(spark, sfDir)

    def boxes(tbl: String, key: String, m1: Long, m2: Long, wMod: Int, hMod: Int, base: Double) = {
      val cx = col(key) * m1 % 9000 / 100.0 + 5
      val cy = col(key) * m2 % 9000 / 100.0 + 5
      val hw = (col(key) % wMod) / 2.0 + base
      val hh = (col(key) % hMod) / 2.0 + base
      spark.table(tbl).select(col(key),
        (cx - hw).as(s"${key}_xmin"), (cy - hh).as(s"${key}_ymin"),
        (cx + hw).as(s"${key}_xmax"), (cy + hh).as(s"${key}_ymax"))
    }
    val sb = boxes("supplier", "s_suppkey", 7127L, 48611L, 8, 5, 1.0)
    val pb = boxes("part", "p_partkey", 32452867L, 49979687L, 6, 7, 0.5)
    val pts = spark.table("customer").select(col("c_custkey"),
      (col("c_custkey") * 7919 % 10000 / 100.0).as("px"),
      (col("c_custkey") * 104729 % 10000 / 100.0).as("py"))

    val bruteContains = sb.crossJoin(pts)
      .filter(col("px") >= col("s_suppkey_xmin") && col("px") <= col("s_suppkey_xmax") &&
        col("py") >= col("s_suppkey_ymin") && col("py") <= col("s_suppkey_ymax"))
      .select("s_suppkey", "c_custkey")
    assert(contains.count() == contains.distinct().count(), "containsJoin emitted a duplicate pair")
    assert(contains.exceptAll(bruteContains).isEmpty && bruteContains.exceptAll(contains).isEmpty,
      "containsJoin pair set differs from brute force")

    val bruteIntersects = pb.crossJoin(sb)
      .filter(col("p_partkey_xmin") <= col("s_suppkey_xmax") &&
        col("s_suppkey_xmin") <= col("p_partkey_xmax") &&
        col("p_partkey_ymin") <= col("s_suppkey_ymax") &&
        col("s_suppkey_ymin") <= col("p_partkey_ymax"))
      .select("p_partkey", "s_suppkey")
    assert(intersects.count() == intersects.distinct().count(), "intersectsJoin emitted a duplicate pair")
    assert(intersects.exceptAll(bruteIntersects).isEmpty && bruteIntersects.exceptAll(intersects).isEmpty,
      "intersectsJoin pair set differs from brute force")

    Seq(contains, intersects).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"spatial box join planned as a product:\n$plan")
    }
  }

  test("polygon contains join = brute-force pairs, ray-cast parses WKT, equi-join plan") {
    import org.apache.spark.sql.functions._
    // containsPolygonJoin: WKT ring parsed back to vertices, envelope
    // grid-binned, ray-cast refine on cell-local candidates only. Must
    // match the brute-force diamond test exactly and plan as an
    // equi-join on the cell key, never a product.
    val poly = SparkEntry.queries("join_spatial_polygon")(spark, sfDir)
    val cx = col("s_suppkey") * 13 % 35 + 2
    val cy = col("s_suppkey") * 29 % 35 + 2
    val r = col("s_suppkey") % 3 + 2
    val centers = spark.table("supplier").select(col("s_suppkey"), cx.as("cx"), cy.as("cy"), r.as("r"))
    val pts = spark.table("customer").select(col("c_custkey"),
      (col("c_custkey") * 7 % 320 / 8.0 + 0.0625).as("px"),
      (col("c_custkey") * 11 % 320 / 8.0 + 0.03125).as("py"))
    val brute = centers.crossJoin(pts)
      .filter(abs(col("px") - col("cx")) + abs(col("py") - col("cy")) < col("r"))
      .select("s_suppkey", "c_custkey")
    assert(poly.exceptAll(brute).isEmpty && brute.exceptAll(poly).isEmpty,
      "polygon grid join pair set differs from brute force")
    assert(poly.count() > 0, "fixture must produce at least one contained point")
    val plan = poly.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"polygon join planned as a product:\n$plan")
    // concave ring sanity: ray casting is not convex-only — an L-shape
    // excludes the notch corner but keeps the inner arm
    val ring = graft.operators.SpatialJoinOps.parsePolygonWkt(
      lit("POLYGON ((0 0, 4 0, 4 4, 2 4, 2 2, 0 2, 0 0))"))
    val row = spark.range(1).select(
      graft.operators.SpatialJoinOps.pointInPolygon(ring, lit(3.0), lit(3.0)).as("arm"),
      graft.operators.SpatialJoinOps.pointInPolygon(ring, lit(1.0), lit(3.0)).as("notch"),
      graft.operators.SpatialJoinOps.pointInPolygon(ring, lit(1.0), lit(1.0)).as("body")).head()
    assert(row.getBoolean(0) && !row.getBoolean(1) && row.getBoolean(2))
  }

  test("heaviest queries survive forced sort-based aggregation fallback (spill confidence)") {
    // The reference re-runs its corpus with spill forced
    // (TestDistributedSpilledQueries.java, SURVEY §5.2). Spark's analog
    // knob for the ObjectHashAggregate path — where every custom
    // TypedImperativeAggregate (HLL, qdigest, setdigest, histogram,
    // heavy-hitters) lives — is the sort-based fallback threshold: at 1,
    // the in-memory hash map is abandoned after a single group and the
    // aggregation completes through the sort-merge (spill) path,
    // exercising buffer serialize/merge exactly as memory pressure
    // would. Results must be identical to the default-config run.
    val conf = spark.sessionState.conf
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = conf.getConfString(key, "128")
    val heavy = Seq("sketch_hll_merge", "sketch_qdigest_merge", "sketch_setdigest_merge",
      "agg_map_union", "sketch_heavy_hitters", "agg_numeric_histogram")
    try {
      val expected = heavy.map(q => SparkEntry.queries(q)(spark, sfDir).collect().toSeq)
      conf.setConfString(key, "1")
      heavy.zip(expected).foreach { case (q, exp) =>
        val got = SparkEntry.queries(q)(spark, sfDir).collect().toSeq
        assert(got.map(_.toString).sorted == exp.map(_.toString).sorted,
          s"$q changed results under forced sort-based aggregation fallback")
      }
    } finally conf.setConfString(key, prev)
  }

  test("sequence packing: bins never overflow, offsets are contiguous, order preserved") {
    import org.apache.spark.sql.functions._
    val packed = SparkEntry.queries("llm_sequence_pack")(spark, sfDir)
    // a bin's docs tile it exactly: each doc starts where the previous
    // ended, and no bin exceeds capacity unless a single doc does
    val viol = packed
      .withColumn("prev_end", lag(col("tok_offset") + col("n_tokens"), 1, 0L)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("source", "seq_id").orderBy("doc_id")))
      .filter(col("tok_offset") =!= col("prev_end") ||
        (col("tok_offset") + col("n_tokens") > 512 && col("tok_offset") =!= 0))
      .count()
    assert(viol == 0, "packing produced a gap, overlap, or overflow")
    // every document lands in exactly one bin
    assert(packed.count() == spark.table("documents").count())
    // bin ids are dense per source: max(seq_id)+1 distinct bins
    val perSrc = packed.groupBy("source")
      .agg(max("seq_id").as("mx"), countDistinct("seq_id").as("nd"))
      .filter(col("nd") =!= col("mx") + 1).count()
    assert(perSrc == 0, "bin ids not dense per source")
  }

  test("token-budget select: distributed prefix sum is partition-count invariant and prefix-exact") {
    import org.apache.spark.sql.functions._
    val q = SparkEntry.queries("llm_token_budget_select")
    val base = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
    // the same selection must come out of a 1-partition run (where the
    // prefix sum is trivially exact) and the default multi-partition run
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val single = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
      assert(single == base, "kept set depends on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // prefix property: the kept set is exactly the window-cumsum prefix
    val t = spark.table("documents").select(
      col("doc_id").cast("long").as("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
      (col("n_chars") * 1.0 / size(split(col("text"), " ", -1))).as("score"))
    val budget = 0.25 * t.agg(sum("n_tok")).head().getLong(0)
    val expected = t
      .withColumn("cum", sum("n_tok").over(org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("cum") <= budget)
      .select(col("doc_id"), col("n_tok"), round(col("score"), 6).as("score"))
      .collect().map(_.toString).sorted.toSeq
    assert(base == expected, "distributed prefix sum disagrees with the single-window oracle")
  }

  test("mixture sample: deterministic, subset, and rates follow the temperature formula") {
    import org.apache.spark.sql.functions._
    val q = SparkEntry.queries("llm_mixture_sample")
    val a = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
    val b = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
    assert(a == b, "hash Bernoulli must be reproducible")
    // empirical keep fraction per source tracks the published rate
    val got = q(spark, sfDir)
    val joined = spark.table("documents").groupBy("source").agg(count(lit(1)).as("n"))
      .join(got.groupBy("source").agg(count(lit(1)).as("k"),
        first("keep_rate").as("r")), Seq("source"))
      .collect()
    joined.foreach { row =>
      val n = row.getLong(1).toDouble; val k = row.getLong(2).toDouble
      val r = row.getDouble(3)
      assert(math.abs(k / n - r) <= 4.0 * math.sqrt(r * (1 - r) / n) + 0.02,
        s"source ${row.getString(0)}: kept ${k / n} vs rate $r")
    }
  }

  test("bloom decontamination: exact result, and the bloom prunes most training grams") {
    import org.apache.spark.sql.functions._
    // result identity with the exact semi-join procedure
    val exact = SparkEntry.queries("llm_decontaminate")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val bloomed = SparkEntry.queries("llm_decontam_bloom")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(bloomed == exact, "bloom path must be output-identical to the exact path")
    // selectivity contract: with 1% FPP, non-matching training grams
    // survive the map-side filter at ~1% — the pruned fraction must be
    // large for the scale story to hold (loose bound: >50%)
    val spark2 = spark
    import spark2.implicits._
    val grams = spark.table("documents")
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        (0 to w.length - 13).map(i => (id, w.slice(i, i + 13).mkString("_"))).distinct
      }.toDF("doc_id", "g")
    val ev = grams.filter($"doc_id" % 20 === 0).select("g").distinct()
    val train = grams.filter($"doc_id" % 20 =!= 0)
    val nEval = ev.count()
    val bloom = ev.stat.bloomFilter("g", math.max(1000L, nEval), 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val mc = udf((s: String) => bc.value.mightContainString(s))
    val total = train.count().toDouble
    val kept = train.filter(mc($"g")).count().toDouble
    val trueHits = train.join(ev, "g").count().toDouble
    assert(kept < 0.5 * total, f"bloom kept ${kept / total}%.2f of training grams")
    assert(kept >= trueHits, "bloom must never drop a true hit")
  }

  test("every rank-then-filter query keeps its WindowGroupLimit pushdown (VERDICT r16 item 3)") {
    // These queries rank over a single (or near-single) partition and
    // keep rk <= K: correctness at 100 TB rests on Spark's
    // InferWindowGroupLimit pruning each upstream partition to ~K rows
    // before the single-partition merge (the TopNRowNumberOperator
    // analog). r16 relied on this implicitly; this spec turns a future
    // conf change or rewrite that drops the fast path into a failing
    // test instead of a silent full-partition sort.
    val topK = Seq("ds_rollup_topk", "ds_wide_rollup_rank",
      "ds_best_worst_rank_join", "ds_hierarchy_rank", "ds_yoy_growth",
      "win_topk_per_group")
    for (q <- topK) {
      val s = planString(SparkEntry.queries(q)(spark, sfDir))
      assert(s.contains("WindowGroupLimit"),
        s"$q: rank()<=K filter should plan a WindowGroupLimit below the window")
    }
    // ds_return_ratio_rank filters on an OR of two ranks —
    // InferWindowGroupLimit cannot prune for either window alone (a row
    // may survive via the other rank). That is safe ONLY because the
    // window input is the dimension-bounded (channel, item % 1000)
    // aggregate: assert the windows consume an aggregate, not the fact.
    val rrr = SparkEntry.queries("ds_return_ratio_rank")(spark, sfDir)
    val rrrPlan = executedPlan(rrr)
    def firstWindowChild(p: org.apache.spark.sql.execution.SparkPlan): Option[String] = {
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      p match {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          Some(w.child.toString)
        case q: QueryStageExec => firstWindowChild(q.plan)
        case other => other.children.flatMap(firstWindowChild).headOption
      }
    }
    val below = firstWindowChild(rrrPlan)
    assert(below.exists(_.contains("HashAggregate")),
      "ds_return_ratio_rank's windows must rank the bounded (channel,item) aggregate, not fact rows")
  }

  test("ds_yoy_growth: self-joined spend CTE reuses one exchange; rank rides WindowGroupLimit") {
    val df = SparkEntry.queries("ds_yoy_growth")(spark, sfDir)
    val s = planString(df)
    // the (cust, yr) aggregate must be materialized once — the second
    // side of the self-join reads the SAME shuffle (q4/q11's CTE-reuse
    // contract; without it the fact aggregates twice)
    assert(s.contains("ReusedExchange") || s.contains("ReusedQueryStage"),
      "spend self-join should reuse the aggregate exchange, not recompute it")
    // global top-20 must prune per-partition before the single-partition
    // rank merge (TopNRowNumberOperator analog)
    assert(s.contains("WindowGroupLimit"),
      "rank()<=20 should trigger WindowGroupLimit")
  }
}

/** The two passes of the EngineSpecs codegen-cache spec, run in a fresh
  * JVM: the 22 TPC-H statement texts as a client sends them (the oracle
  * text with the partsupp CTE dropped, so it reads the registered
  * `partsupp`) through PrestoSql, once in name order and once shuffled.
  * Prints `codegen-passes cold=<classes compiled> warm=<classes compiled>`.
  */
object CodegenPasses {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    graft.engine.Engine.registerTables(spark, args(0))
    val cte = "WITH partsupp AS (\n" +
      graft.engine.Engine.partsuppSelect.linesIterator.map("  " + _).mkString("\n") + ")"
    val texts = SparkEntry.oracleSql.filter(_._1.matches("q\\d+_.*")).toSeq.sortBy(_._1).map {
      case (_, o) =>
        if (o.startsWith(cte + ",\n")) "WITH " + o.stripPrefix(cte + ",\n")
        else o.stripPrefix(cte + "\n")
    }
    require(texts.size == 22 && !texts.exists(_.contains("WITH partsupp AS")),
      "expected 22 TPC-H texts, none defining partsupp")
    def pass(order: Seq[String]): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      order.foreach(t => graft.sql.PrestoSql.sql(spark, t).toLocalIterator().forEachRemaining(_ => ()))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val cold = pass(texts)
    val warm = pass(new scala.util.Random(5).shuffle(texts))
    spark.stop()
    println(s"codegen-passes cold=$cold warm=$warm")
  }
}
