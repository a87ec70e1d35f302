package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.QuantileSketch
import graft.sql.PrestoSql

/** Unit specs for the quantile sketch, the Presto-dialect rewriter, and
  * the native cosine expression.
  */
class SketchAndSqlSpecs extends AnyFunSuite {

  test("quantile sketch accuracy and mergeability") {
    val rnd = new scala.util.Random(42)
    val xs = Array.fill(100000)(rnd.nextDouble() * 1000)
    // build in two halves, merge
    def build(part: Array[Double]): QuantileSketch.Sketch = {
      val sorted = part.sorted
      QuantileSketch.mergeSorted(QuantileSketch.empty,
        QuantileSketch.Sketch(sorted, Array.fill(sorted.length)(1L)))
    }
    val merged = QuantileSketch.mergeSorted(build(xs.take(50000)), build(xs.drop(50000)))
    val sorted = xs.sorted
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val est = QuantileSketch.valueAtQuantile(merged, q)
      val exact = sorted(((xs.length - 1) * q).toInt)
      assert(math.abs(est - exact) / exact < 0.05, s"q=$q est=$est exact=$exact")
    }
    assert(merged.n <= QuantileSketch.K)
    assert(merged.totalWeight == xs.length)
  }

  test("quantile sketch serialization round-trips") {
    val s = QuantileSketch.mergeSorted(QuantileSketch.empty,
      QuantileSketch.Sketch(Array(1.0, 2.0, 3.0), Array(1L, 2L, 1L)))
    val back = QuantileSketch.fromBytes(QuantileSketch.toBytes(s))
    assert(back.values.toSeq == s.values.toSeq && back.weights.toSeq == s.weights.toSeq)
  }

  test("quantile sketch empty behavior") {
    assert(QuantileSketch.valueAtQuantile(QuantileSketch.empty, 0.5).isNaN)
  }

  test("presto dialect rewrites") {
    assert(PrestoSql.rewrite("SELECT date_add('day', 3, ts) FROM t") ==
      "SELECT timestampadd(DAY, 3, ts) FROM t")
    assert(PrestoSql.rewrite("SELECT date_diff('hour', a, b) FROM t") ==
      "SELECT timestampdiff(HOUR, a, b) FROM t")
    assert(PrestoSql.rewrite("SELECT CAST(x AS VARCHAR) FROM t") ==
      "SELECT CAST(x AS STRING) FROM t")
    // non-targets unchanged
    assert(PrestoSql.rewrite("SELECT CAST(x AS VARCHAR(10)) FROM t") ==
      "SELECT CAST(x AS VARCHAR(10)) FROM t")
    assert(PrestoSql.rewrite("SELECT x || y FROM t") == "SELECT x || y FROM t")
    // rewrites must not fire inside string literals
    assert(PrestoSql.rewrite("SELECT 'CAST(x AS VARCHAR)' AS s") ==
      "SELECT 'CAST(x AS VARCHAR)' AS s")
    assert(PrestoSql.rewrite("SELECT 'date_add(''day'', 1, x)' AS s") ==
      "SELECT 'date_add(''day'', 1, x)' AS s")
    assert(PrestoSql.rewrite("SELECT date_add('day', 1, ts), 'AS VARCHAR)' FROM t") ==
      "SELECT timestampadd(DAY, 1, ts), 'AS VARCHAR)' FROM t")
  }

  test("AT TIME ZONE operator desugars to at_timezone (DesugarAtTimeZoneRewriter)") {
    assert(PrestoSql.rewriteFull("SELECT ts AT TIME ZONE 'Asia/Tokyo' FROM t") ==
      "SELECT at_timezone(ts, 'Asia/Tokyo') FROM t")
    assert(PrestoSql.rewriteFull(
      "SELECT TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'UTC'") ==
      "SELECT at_timezone(TIMESTAMP '2020-01-01 00:00:00', 'UTC')")
    assert(PrestoSql.rewriteFull("SELECT max(ts) AT TIME ZONE zone_col FROM t") ==
      "SELECT at_timezone(max(ts), zone_col) FROM t")
    // inside string literals: untouched
    assert(PrestoSql.rewriteFull("SELECT 'x AT TIME ZONE y' AS s FROM t") ==
      "SELECT 'x AT TIME ZONE y' AS s FROM t")
    // end-to-end through the front door: Tokyo wall clock of a UTC instant
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    // at_timezone renders ISO_OFFSET_DATE_TIME in the target zone
    val r = PrestoSql.sql(spark,
      "SELECT TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'Asia/Tokyo' AS t")
      .head().getString(0)
    assert(r.startsWith("2020-01-01T09:00:00"), r)
  }

  test("DECIMAL 'x' literals rewrite to exact-precision casts (Decimals.parse)") {
    assert(PrestoSql.rewriteFull("SELECT DECIMAL '1.23' AS d") ==
      "SELECT CAST('1.23' AS DECIMAL(3,2)) AS d")
    // leading integer zeros do not count toward precision (Decimals.java:115)
    assert(PrestoSql.rewriteFull("SELECT DECIMAL '-0.05'") ==
      "SELECT CAST('-0.05' AS DECIMAL(2,2))")
    assert(PrestoSql.rewriteFull("SELECT DECIMAL '0'") ==
      "SELECT CAST('0' AS DECIMAL(1,0))")
    assert(PrestoSql.rewriteFull("SELECT DECIMAL '123'") ==
      "SELECT CAST('123' AS DECIMAL(3,0))")
    assert(PrestoSql.rewriteFull("SELECT DECIMAL '.5'") ==
      "SELECT CAST('.5' AS DECIMAL(1,1))")
    // not fired on the type name in CASTs or inside string literals
    assert(PrestoSql.rewriteFull("SELECT CAST(x AS DECIMAL(10,2)) FROM t") ==
      "SELECT CAST(x AS DECIMAL(10,2)) FROM t")
    assert(PrestoSql.rewriteFull("SELECT 'DECIMAL ''1.2''' AS s") ==
      "SELECT 'DECIMAL ''1.2''' AS s")
  }

  test("ARRAY[..] constructors and 1-based [] subscripts (ArraySubscriptOperator)") {
    assert(PrestoSql.rewriteFull("SELECT ARRAY[1, 2, 3]") ==
      "SELECT array(1, 2, 3)")
    // subscript -> presto_subscript (1-based arrays, by-key maps,
    // reference ERROR semantics on bad access)
    assert(PrestoSql.rewriteFull("SELECT arr[1] FROM t") ==
      "SELECT presto_subscript(arr, 1) FROM t")
    assert(PrestoSql.rewriteFull("SELECT m['k'] FROM t") ==
      "SELECT presto_subscript(m, 'k') FROM t")
    // chains + nesting: f(x)[1], a[1][2], a[b[1]]
    assert(PrestoSql.rewriteFull("SELECT split(s, ',')[2] FROM t") ==
      "SELECT presto_subscript(split(s, ','), 2) FROM t")
    assert(PrestoSql.rewriteFull("SELECT a[1][2] FROM t") ==
      "SELECT presto_subscript(presto_subscript(a, 1), 2) FROM t")
    assert(PrestoSql.rewriteFull("SELECT a[b[1]] FROM t") ==
      "SELECT presto_subscript(a, presto_subscript(b, 1)) FROM t")
    // constructor + immediate subscript
    assert(PrestoSql.rewriteFull("SELECT ARRAY[10, 20][1]") ==
      "SELECT presto_subscript(array(10, 20), 1)")
    // literals untouched
    assert(PrestoSql.rewriteFull("SELECT 'a[1]' AS s, x FROM t") ==
      "SELECT 'a[1]' AS s, x FROM t")
    // end to end: Presto 1-based indexing through the front door
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    assert(PrestoSql.sql(spark, "SELECT ARRAY[7, 8, 9][1] AS v").head().getInt(0) == 7)
    assert(PrestoSql.sql(spark,
      "SELECT map_from_arrays(ARRAY['a', 'b'], ARRAY[1, 2])['b'] AS v").head().getInt(0) == 2)
    // reference ERROR semantics (ArraySubscriptOperator/MapSubscriptOperator;
    // r8 ADVICE: element_at returned NULL for negative and missing-key):
    def failsWith(q: String, msg: String): Unit = {
      val e = intercept[Exception](PrestoSql.sql(spark, q).collect())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains(msg)), s"$q: ${e.getMessage}")
    }
    failsWith("SELECT ARRAY[1, 2][9] AS v", "Array subscript must be less than or equal")
    failsWith("SELECT ARRAY[1, 2][0] AS v", "SQL array indices start at 1")
    failsWith("SELECT ARRAY[1, 2][-1] AS v", "Array subscript is negative")
    failsWith("SELECT map_from_arrays(ARRAY['a'], ARRAY[1])['zz'] AS v", "Key not present in map")
    // TRY(..) turns the reference's subscript errors into NULL, like TRY()
    assert(PrestoSql.sql(spark, "SELECT TRY(ARRAY[1, 2][9]) AS v").head().isNullAt(0))
    // NULL container / NULL index stay null-in-null-out
    assert(PrestoSql.sql(spark,
      "SELECT (CAST(NULL AS ARRAY<INT>))[1] AS v").head().isNullAt(0))
    // bigint-keyed map with an integer-literal subscript (runtime coercion)
    assert(PrestoSql.sql(spark,
      "SELECT map_from_arrays(ARRAY[CAST(10 AS BIGINT)], ARRAY[5])[10] AS v").head().getInt(0) == 5)
  }

  test("zoned TIMESTAMP literals construct packed tstz values") {
    assert(PrestoSql.rewriteFull("SELECT TIMESTAMP '2020-01-01 00:00:00 Asia/Tokyo'") ==
      "SELECT with_timezone(TIMESTAMP '2020-01-01 00:00:00', 'Asia/Tokyo')")
    assert(PrestoSql.rewriteFull("SELECT TIMESTAMP '2020-01-01 00:00:00 +05:30'") ==
      "SELECT with_timezone(TIMESTAMP '2020-01-01 00:00:00', '+05:30')")
    // plain timestamps untouched
    assert(PrestoSql.rewriteFull("SELECT TIMESTAMP '2020-01-01 00:00:00'") ==
      "SELECT TIMESTAMP '2020-01-01 00:00:00'")
    // end to end: the carried zone reads back out of the packed value
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val r = PrestoSql.sql(spark,
      "SELECT tz_zone(TIMESTAMP '2020-06-01 12:00:00 Asia/Tokyo') AS z, " +
        "tz_timezone_hour(TIMESTAMP '2020-06-01 12:00:00 Asia/Tokyo') AS h").head()
    assert(r.getString(0) == "Asia/Tokyo" && r.getLong(1) == 9L)
  }

  test("Presto type syntax in CASTs: ARRAY(T)/MAP(K,V)/ROW(n T) -> Spark DDL types") {
    assert(PrestoSql.rewriteFull("SELECT CAST(a AS ARRAY(BIGINT)) FROM t") ==
      "SELECT CAST(a AS ARRAY<BIGINT>) FROM t")
    assert(PrestoSql.rewriteFull("SELECT CAST(m AS MAP(VARCHAR, BIGINT)) FROM t") ==
      "SELECT CAST(m AS MAP<STRING, BIGINT>) FROM t")
    assert(PrestoSql.rewriteFull("SELECT CAST(r AS ROW(a BIGINT, b ARRAY(DOUBLE))) FROM t") ==
      "SELECT CAST(r AS STRUCT<a: BIGINT, b: ARRAY<DOUBLE>>) FROM t")
    assert(PrestoSql.rewriteFull("SELECT CAST(x AS MAP(VARCHAR, ARRAY(VARCHAR)))") ==
      "SELECT CAST(x AS MAP<STRING, ARRAY<STRING>>)")
    // untouched: literals and non-type uses
    assert(PrestoSql.rewriteFull("SELECT 'AS ARRAY(x)' AS s FROM t") ==
      "SELECT 'AS ARRAY(x)' AS s FROM t")
    // end to end through the front door
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val r = PrestoSql.sql(spark,
      "SELECT CAST(ARRAY[1, 2] AS ARRAY(VARCHAR))[2] AS v").head()
    assert(r.getString(0) == "2")
  }

  test("ROW constructor and LIMIT ALL") {
    assert(PrestoSql.rewriteFull("SELECT * FROM t LIMIT ALL").trim ==
      "SELECT * FROM t")
    // LIMIT ALL must not swallow `x > ALL (...)` or literals
    assert(PrestoSql.rewriteFull("SELECT 'LIMIT ALL' AS s FROM t") ==
      "SELECT 'LIMIT ALL' AS s FROM t")
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val r = PrestoSql.sql(spark, "SELECT ROW(1, 'a').col2 AS f").head()
    assert(r.getString(0) == "a")
    assert(PrestoSql.sql(spark, "SELECT 42 AS v LIMIT ALL").head().getInt(0) == 42)
  }

  test("quantified comparison rewrites (ALL/ANY/SOME)") {
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x > ALL (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x > (SELECT max(__graft_qc) FROM (SELECT v FROM u) AS __graft_q(__graft_qc))")
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x <= all (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x <= (SELECT min(__graft_qc) FROM (SELECT v FROM u) AS __graft_q(__graft_qc))")
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x < ANY (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x < (SELECT max(__graft_qc) FROM (SELECT v FROM u) AS __graft_q(__graft_qc))")
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x > SOME (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x > (SELECT min(__graft_qc) FROM (SELECT v FROM u) AS __graft_q(__graft_qc))")
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x = ANY (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x IN (SELECT v FROM u)")
    assert(PrestoSql.rewriteFull("SELECT * FROM t WHERE x <> ALL (SELECT v FROM u)") ==
      "SELECT * FROM t WHERE x NOT IN (SELECT v FROM u)")
    // nested parens + a quoted ')' inside the subquery must not confuse
    // the matcher
    assert(PrestoSql.rewriteFull(
      "SELECT 1 WHERE x > ALL (SELECT f(v, ')') FROM (SELECT 1 v) q)") ==
      "SELECT 1 WHERE x > (SELECT max(__graft_qc) FROM (SELECT f(v, ')') FROM (SELECT 1 v) q) AS __graft_q(__graft_qc))")
    // ALL used as an identifier / inside literals stays untouched
    assert(PrestoSql.rewriteFull("SELECT 'x > ALL (v)' AS s FROM t") ==
      "SELECT 'x > ALL (v)' AS s FROM t")
    // unsupported forms fail loudly rather than silently misrewriting
    intercept[IllegalArgumentException] {
      PrestoSql.rewriteFull("SELECT * FROM t WHERE x = ALL (SELECT v FROM u)")
    }
  }

  test("PREPARE/EXECUTE/DEALLOCATE bind positional parameters per QueryPreparer") {
    // Shared session (getOrCreate) — deliberately NOT stopped.
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    PrestoSql.sql(spark,
      "PREPARE p1 FROM SELECT x + ? AS a, concat(s, ?) AS b, '?' AS lit FROM (VALUES (1, 'v')) AS t(x, s) WHERE x < ?")
    val row = PrestoSql.sql(spark, "EXECUTE p1 USING 41, 'w', 10").head()
    assert(row.getInt(0) == 42)
    assert(row.getString(1) == "vw")
    assert(row.getString(2) == "?", "a ? inside a string literal is NOT a parameter")
    // wrong arity either way -> clear error, like the reference's
    // "Incorrect number of parameters"
    intercept[IllegalArgumentException](PrestoSql.sql(spark, "EXECUTE p1 USING 1"))
    intercept[IllegalArgumentException](PrestoSql.sql(spark, "EXECUTE p1 USING 1, 'a', 2, 3"))
    // USING args may themselves contain commas inside parens/strings
    PrestoSql.sql(spark, "PREPARE p2 FROM SELECT ? AS v")
    assert(PrestoSql.sql(spark, "EXECUTE p2 USING concat('a,b', ',c')").head().getString(0) == "a,b,c")
    // names are case-insensitive; DEALLOCATE drops the statement
    PrestoSql.sql(spark, "DEALLOCATE PREPARE P1")
    intercept[IllegalArgumentException](PrestoSql.sql(spark, "EXECUTE p1 USING 1, 'a', 2"))
    // statements are per-session: a sibling session cannot see p2
    intercept[IllegalArgumentException](PrestoSql.sql(spark.newSession(), "EXECUTE p2 USING 1"))
  }

  test("SET SESSION join_distribution_type round-trips the broadcast threshold") {
    // r6 advisor: PARTITIONED -> AUTOMATIC must land back on the
    // session's ORIGINAL threshold, not a hardcoded default — and RESET
    // must do the same.
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val original = spark.conf.get(key)
    PrestoSql.sql(spark, "SET SESSION join_distribution_type = 'PARTITIONED'")
    assert(spark.conf.get(key) == "-1", "PARTITIONED must disable broadcast")
    PrestoSql.sql(spark, "SET SESSION join_distribution_type = 'AUTOMATIC'")
    assert(spark.conf.get(key) == original,
      s"AUTOMATIC must restore the pre-SET threshold $original, got ${spark.conf.get(key)}")
    // and a fresh AUTOMATIC with nothing saved is a no-op
    PrestoSql.sql(spark, "SET SESSION join_distribution_type = 'BROADCAST'")
    assert(spark.conf.get(key) == original)
    PrestoSql.sql(spark, "SET SESSION join_distribution_type = 'PARTITIONED'")
    PrestoSql.sql(spark, "RESET SESSION join_distribution_type")
    assert(spark.conf.get(key) == original, "RESET must restore the saved conf")
  }

  test("EXPLAIN ANALYZE front door returns a runtime-metric-annotated plan") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val plan = PrestoSql.sql(spark,
      "EXPLAIN ANALYZE SELECT x, count(*) AS n FROM (VALUES (1), (1), (2)) AS t(x) GROUP BY x")
      .head().getString(0)
    assert(plan.matches("(?s).*\\[rows: \\d+\\].*"), s"no runtime rows in:\n$plan")
    assert(plan.contains("[rows: 2]"), s"root aggregate must report 2 groups:\n$plan")
    // plain EXPLAIN still passes through to Spark untouched
    val classic = PrestoSql.sql(spark, "EXPLAIN SELECT 1").head().getString(0)
    assert(classic.contains("Physical Plan"))
  }

  test("char(n) SQL functions: cast pads/truncates, padded comparison") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    val row = PrestoSql.sql(spark,
      """SELECT char_cast('ab', 4) AS c4, char_cast('abcde', 3) AS t3,
        |  char_eq(char_cast('ab', 4), char_cast('ab', 9)) AS eq,
        |  char_lt(char_cast('ab', 4), char_cast('ac', 2)) AS lt""".stripMargin).head()
    assert(row.getString(0) == "ab  ")
    assert(row.getString(1) == "abc")
    assert(row.getBoolean(2) && row.getBoolean(3))
  }

  test("presto-dialect SQL runs end-to-end through the front door") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    try {
      val row = PrestoSql.sql(spark,
        """SELECT
          |  TRY(1/0) AS t_null,
          |  TRY(CAST('5' AS INTEGER)) AS t_five,
          |  day_of_week(TIMESTAMP '2024-01-01 00:00:00') AS dow_mon,
          |  dow(TIMESTAMP '2024-01-07 00:00:00') AS dow_sun,
          |  day_of_year(TIMESTAMP '2024-02-01 00:00:00') AS doy,
          |  week(TIMESTAMP '2024-01-04 00:00:00') AS w,
          |  strpos('hello world', 'world') AS p,
          |  to_iso8601(TIMESTAMP '2024-03-01 12:30:45') AS iso,
          |  CAST(from_iso8601_timestamp('2024-03-01T12:30:45') AS STRING) AS parsed,
          |  date_add('hour', 2, TIMESTAMP '2024-01-01 00:00:00') AS plus2h""".stripMargin).head()
      assert(row.isNullAt(0))
      assert(row.getInt(1) == 5)
      assert(row.getInt(2) == 1)  // 2024-01-01 is a Monday -> ISO 1
      assert(row.getInt(3) == 7)  // 2024-01-07 is a Sunday -> ISO 7
      assert(row.getInt(4) == 32)
      assert(row.getInt(5) == 1)
      assert(row.getInt(6) == 7)
      assert(row.getString(7) == "2024-03-01T12:30:45.000Z")
      assert(row.getString(8) == "2024-03-01 12:30:45")
      assert(row.getTimestamp(9).toString == "2024-01-01 02:00:00.0")
    } finally spark.stop()
  }

  test("GraftExtensions injects functions at session build time") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val sim = spark.sql(
        "SELECT cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS s").head().getDouble(0)
      assert(math.abs(sim - 1.0) < 1e-12)
      val card = spark.sql(
        "SELECT length(approx_set(x)) AS l FROM VALUES (1), (2), (3) AS t(x)").head().getInt(0)
      assert(card == graft.functions.Hll.M)
      // a UDF-backed name and a UDAF come through the same injection
      val upper = spark.sql("SELECT wilson_interval_upper(3, 10, 1.96D) AS u").head().getDouble(0)
      assert(math.abs(upper - 0.6032267800204347) < 1e-12)
      val sumsq = spark.sql(
        "SELECT reduce_sumsq(x) AS s FROM VALUES (1.0D), (2.0D), (3.0D) AS t(x)").head().getDouble(0)
      assert(sumsq == 14.0)
    } finally spark.stop()
  }

  test("multimap_from_entries preserves key first-appearance and value entry order") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    try {
      val json = spark.sql(
        """SELECT to_json(multimap_from_entries(
          |  array(struct('b','1'), struct('a','2'), struct('b','3')))) AS m""".stripMargin)
        .head().getString(0)
      assert(json == """{"b":["1","3"],"a":["2"]}""")
    } finally spark.stop()
  }

  test("merge_set_digest of partitioned digests equals the direct digest") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    try {
      spark.range(0, 10000).selectExpr("id", "id % 7 AS g")
        .createOrReplaceTempView("sdm_t")
      val j = spark.sql(
        """WITH per AS (SELECT g, make_set_digest(id) AS d FROM sdm_t GROUP BY g)
          |SELECT jaccard_index((SELECT merge_set_digest(d) FROM per),
          |                     (SELECT make_set_digest(id) FROM sdm_t)) AS j""".stripMargin)
        .head().getDouble(0)
      assert(j == 1.0)
    } finally spark.stop()
  }

  test("values_at_quantiles matches per-quantile extraction on one sketch") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    try {
      spark.range(0, 50000).selectExpr("CAST(id AS DOUBLE) AS x")
        .createOrReplaceTempView("vaq_t")
      val r = spark.sql(
        """SELECT values_at_quantiles(qdigest_agg(x), array(0.1D, 0.5D, 0.9D)) AS vs,
          |       qdigest_value_at(qdigest_agg(x), 0.5D) AS v50
          |FROM vaq_t""".stripMargin).head()
      val vs = r.getSeq[Double](0)
      assert(vs.length == 3)
      assert(vs(1) == r.getDouble(1))            // batch path == scalar path
      assert(vs(0) <= vs(1) && vs(1) <= vs(2))   // monotone in q
      assert(math.abs(vs(1) - 25000.0) / 25000.0 < 0.02)
    } finally spark.stop()
  }

  test("mysql date pattern translation") {
    import graft.functions.ScalarFunctions._
    assert(translateMysqlPattern("%Y-%m-%d") == "uuuu-MM-dd")
    assert(translateMysqlPattern("%d/%m/%Y %H:%i") == "dd/MM/uuuu HH:mm")
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("1997-05-13T14:30:00Z"))
    assert(dateFormatMysql(ts, "%Y-%m-%d %H:%i:%s") == "1997-05-13 14:30:00")
    assert(dateParseMysql("1997-05-13 14:30:00", "%Y-%m-%d %H:%i:%s") == ts)
    assert(dateParseMysql("1997-05-13", "%Y-%m-%d") ==
      java.sql.Timestamp.from(java.time.Instant.parse("1997-05-13T00:00:00Z")))
    // adjacent literal letters must render as one quoted run, not a'b
    assert(dateFormatMysql(ts, "%H hrs") == "14 hrs")
    // Presto defaults unspecified fields (month/day -> 1)
    assert(dateParseMysql("1997-05", "%Y-%m") ==
      java.sql.Timestamp.from(java.time.Instant.parse("1997-05-01T00:00:00Z")))
    assert(dateParseMysql("2020", "%Y") ==
      java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z")))
  }

  test("approx_most_frequent: Presto signature (buckets, value, capacity) maps onto Misra-Gries") {
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    import spark.implicits._
    (1 to 100).map(i => if (i <= 60) "a" else if (i <= 90) "b" else s"c$i")
      .toDF("v").createOrReplaceTempView("amf_t")
    // capacity (100) sizes the summary -> error <= n/capacity = 1;
    // buckets (4) only truncates the output (r7 advice)
    val m = spark.sql("SELECT approx_most_frequent(4, v, 100) FROM amf_t")
      .head().getMap[String, Long](0)
    assert(m.size <= 4, m)
    assert(m.contains("a") && m("a") >= 59, m)
    assert(m.contains("b") && m("b") >= 29, m)
    // two-arg form sizes by buckets: weaker N/4 bound still holds
    val m2 = spark.sql("SELECT approx_heavy_hitters(v, 4) FROM amf_t")
      .head().getMap[String, Long](0)
    assert(m2.contains("a") && m2("a") >= 35, m2)
    intercept[Exception](
      spark.sql("SELECT approx_most_frequent(50, v, 4) FROM amf_t").head())
  }

  // ---- AccessControl (GRANT/REVOKE) edges ----

  test("access control: revoked SELECT raises on the next front-door query; writes need INSERT/DELETE") {
    import graft.sql.{AccessControl, PrestoSql}
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    import spark.implicits._
    try {
      Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("acl_t")
      spark.sql("DROP TABLE IF EXISTS acl_managed")
      spark.sql("CREATE TABLE acl_managed USING PARQUET AS SELECT * FROM acl_t")
      PrestoSql.sql(spark, "GRANT SELECT, INSERT ON acl_managed TO eve")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION eve")
      assert(PrestoSql.sql(spark, "SELECT count(*) AS c FROM acl_managed").head().getLong(0) == 2)
      // INSERT granted -> allowed; the inserted row is visible
      PrestoSql.sql(spark, "INSERT INTO acl_managed VALUES (3, 'c')")
      // DELETE not granted -> denied at plan time
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "DELETE FROM acl_managed WHERE k = 1"))
      // revoke SELECT: the very next front-door read must raise
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION admin")
      PrestoSql.sql(spark, "REVOKE SELECT ON acl_managed FROM eve")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION eve")
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "SELECT * FROM acl_managed"))
      // unmanaged tables stay allow-all for everyone
      assert(PrestoSql.sql(spark, "SELECT count(*) AS c FROM acl_t").head().getLong(0) == 2)
      // grant-option delegation is not implied by a plain grant
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "GRANT SELECT ON acl_managed TO mallory"))
    } finally {
      AccessControl.setPrincipal(spark, "admin")
      AccessControl.clear()
      spark.sql("DROP TABLE IF EXISTS acl_managed")
    }
  }

  test("access control: schema-qualified grants do not leak across schemas; CTAS/CREATE VIEW are writes") {
    import graft.sql.{AccessControl, PrestoSql}
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    try {
      spark.sql("CREATE DATABASE IF NOT EXISTS acl_a")
      spark.sql("CREATE DATABASE IF NOT EXISTS acl_b")
      spark.sql("DROP TABLE IF EXISTS acl_a.t")
      spark.sql("DROP TABLE IF EXISTS acl_b.t")
      spark.sql("CREATE TABLE acl_a.t USING PARQUET AS SELECT 1 AS k")
      spark.sql("CREATE TABLE acl_b.t USING PARQUET AS SELECT 2 AS k")
      // Managing acl_a.t must NOT protect (or expose) acl_b.t: the
      // pre-r9 last-part keying collapsed both onto "t".
      PrestoSql.sql(spark, "GRANT SELECT ON acl_a.t TO carol")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION carol")
      assert(PrestoSql.sql(spark, "SELECT k FROM acl_a.t").head().getInt(0) == 1)
      assert(PrestoSql.sql(spark, "SELECT k FROM acl_b.t").head().getInt(0) == 2,
        "acl_b.t is unmanaged and must stay allow-all")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION dave")
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "SELECT k FROM acl_a.t"))
      assert(PrestoSql.sql(spark, "SELECT k FROM acl_b.t").head().getInt(0) == 2)
      // A bare name resolves against the current schema, so the grant
      // written as acl_a.t governs `t` only under USE acl_a.
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION admin")
      PrestoSql.sql(spark, "USE acl_a")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION carol")
      assert(PrestoSql.sql(spark, "SELECT k FROM t").head().getInt(0) == 1)
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION dave")
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "SELECT k FROM t"))
      // CTAS / CREATE VIEW target an ACL-managed name -> INSERT-equivalent
      // write check (CreateTableTask.java's CREATE privilege check).
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION admin")
      spark.sql("DROP TABLE IF EXISTS acl_a.ctas_tgt")
      PrestoSql.sql(spark, "REVOKE INSERT ON acl_a.ctas_tgt FROM nobody") // enters managed mode
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION carol")
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "CREATE TABLE acl_a.ctas_tgt USING PARQUET AS SELECT k FROM acl_a.t"))
      intercept[AccessControl.AccessDeniedException](
        PrestoSql.sql(spark, "CREATE VIEW acl_a.ctas_tgt AS SELECT k FROM acl_a.t"))
      // ... and a grantee with INSERT may CTAS it.
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION admin")
      PrestoSql.sql(spark, "GRANT INSERT ON acl_a.ctas_tgt TO carol")
      PrestoSql.sql(spark, "SET SESSION AUTHORIZATION carol")
      PrestoSql.sql(spark, "CREATE TABLE acl_a.ctas_tgt USING PARQUET AS SELECT k FROM acl_a.t")
      assert(spark.table("acl_a.ctas_tgt").count() == 1)
    } finally {
      AccessControl.setPrincipal(spark, "admin")
      AccessControl.clear()
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP DATABASE IF EXISTS acl_a CASCADE")
      spark.sql("DROP DATABASE IF EXISTS acl_b CASCADE")
    }
  }

  // ---- TransactionOps protocol edges ----

  test("transactions: nesting rejected, stray commit rejected, rollback cleans staging") {
    import graft.operators.TransactionOps
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    import spark.implicits._
    val root = "tmp/txn_spec_table"
    try {
      TransactionOps.createTable(spark, root, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
      // stray COMMIT with no open txn
      intercept[IllegalStateException](TransactionOps.commit(spark))
      TransactionOps.begin(spark)
      intercept[IllegalArgumentException](TransactionOps.begin(spark)) // nested
      TransactionOps.insertInto(spark, root, Seq((4, "d")).toDF("k", "v"))
      // staged manifest exists on disk but pointer still says v0
      val staged = new java.io.File(root).listFiles().count(f =>
        f.isFile && f.getName.startsWith("manifest-v"))
      assert(staged == 2)
      assert(TransactionOps.read(spark, root).count() == 4)
      assert(TransactionOps.readCommitted(spark, root).count() == 3)
      TransactionOps.rollback(spark)
      val after = new java.io.File(root).listFiles().count(f =>
        f.isFile && f.getName.startsWith("manifest-v"))
      assert(after == 1, "rollback must delete the staged manifest")
      assert(TransactionOps.read(spark, root).count() == 3)
      // repeatable reads: snapshot pinned at first touch survives an
      // external commit until this txn ends
      TransactionOps.begin(spark)
      assert(TransactionOps.read(spark, root).count() == 3) // pins snapshot
      val other = spark.newSession()
      TransactionOps.insertInto(other, root, Seq((9, "z")).toDF("k", "v"))
      assert(TransactionOps.read(spark, root).count() == 3, "snapshot must not see external commit")
      assert(TransactionOps.readCommitted(spark, root).count() == 4)
      // read-only txn commits cleanly even after the external write
      TransactionOps.commit(spark)
      assert(TransactionOps.read(spark, root).count() == 4)
    } finally {
      TransactionOps.rollback(spark)
      TransactionOps.dropTable(root)
    }
  }

  test("transactions: INSERT writes O(delta) bytes and shares parent files; vacuum reclaims") {
    import graft.operators.TransactionOps
    val spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = "tmp/txn_delta_bytes"
    def dataBytes(): Long = {
      def rec(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(rec).sum
      rec(new java.io.File(root, "data"))
    }
    def dataFiles(): Set[String] = {
      def rec(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(rec)
      rec(new java.io.File(root, "data")).map(_.getAbsolutePath).toSet
    }
    try {
      // 50k-row base table, then a 1-row INSERT: the new version must cost
      // one small file set, not a table rewrite.
      val base = spark.range(50000).select(
        col("id").as("k"), concat(lit("padpadpadpadpad-"), col("id")).as("v"))
      TransactionOps.createTable(spark, root, base)
      val bytesV0 = dataBytes()
      val filesV0 = dataFiles()
      TransactionOps.insertInto(spark, root, Seq((-1L, "tiny")).toDF("k", "v"))
      val delta = dataBytes() - bytesV0
      assert(delta > 0 && delta < bytesV0 / 4,
        s"INSERT must write O(delta) bytes: wrote $delta on a $bytesV0-byte table")
      assert(filesV0.subsetOf(dataFiles()),
        "parent data files must be shared, not rewritten")
      assert(TransactionOps.read(spark, root).count() == 50001)
      // file-pruned DELETE: predicate hits only the 1-row fileset, so the
      // base files survive byte-identical.
      TransactionOps.deleteWhere(spark, root, col("k") === -1L)
      assert(filesV0.subsetOf(dataFiles()),
        "DELETE must not rewrite files without matching rows")
      assert(TransactionOps.read(spark, root).count() == 50000)
      // time travel + vacuum
      assert(TransactionOps.versions(root) == Seq(0, 1, 2))
      assert(TransactionOps.readAt(spark, root, 1).count() == 50001)
      TransactionOps.vacuum(root)
      assert(TransactionOps.versions(root) == Seq(2))
      assert(TransactionOps.read(spark, root).count() == 50000)
    } finally {
      TransactionOps.dropTable(root)
    }
  }
}
