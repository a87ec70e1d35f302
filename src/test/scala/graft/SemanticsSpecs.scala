package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession

/** SURVEY §7.4 semantic-risk register, pinned as executable facts. Each
  * test states the reference's behavior (presto-spi Chars.java,
  * DateTimeEncoding.java, JsonExtract.java, ArraySubscriptOperator) and
  * asserts what THIS engine does — a pass is either parity or a
  * documented, deliberate divergence, never an unknown.
  */
class SemanticsSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String): Any = spark.sql(sql).head().get(0)

  // ---- subscripts & strict mode (ArraySubscriptOperator.java,
  //      MapSubscriptOperator.java: 1-based, errors on bad access) ----

  test("element_at is 1-based like the reference's subscript") {
    assert(one("SELECT element_at(array(10, 20, 30), 1)") == 10)
    assert(one("SELECT element_at(array(10, 20, 30), 3)") == 30)
    // negative = from the end (both engines)
    assert(one("SELECT element_at(array(10, 20, 30), -1)") == 30)
  }

  test("ANSI mode: out-of-bounds subscript errors (parity with reference)") {
    // Presto: ARRAY[..][9] -> "Array subscript out of bounds". Spark 4
    // ANSI (our default): element_at past the end throws too; try_element_at
    // is the opt-out, mirroring TRY(..) in the reference.
    assertThrows[Exception](spark.sql("SELECT element_at(array(1, 2), 9)").collect())
    assert(one("SELECT try_element_at(array(1, 2), 9)") == null)
  }

  test("DOCUMENTED DIVERGENCE: bare [n] subscript is 0-based in RAW Spark SQL") {
    // Presto arr[1] is the FIRST element; Spark's arr[1] is the SECOND
    // and arr[0] the first. The PrestoSql front door rewrites every
    // bracket subscript to presto_subscript (1-based, reference error
    // semantics) — this pin documents what a caller bypassing the front
    // door and using spark.sql directly gets.
    assert(one("SELECT array(10, 20, 30)[1]") == 20)
  }

  test("map missing-key: element_at returns NULL; strict access via assertion") {
    // Presto map[k] errors on a missing key ("Key not present in map");
    // Spark's element_at is the lenient form (NULL) even under ANSI, and
    // raw-Spark map[k] behaves the same. The front door's bracket
    // rewrite (presto_subscript) carries the strict reference
    // semantics; this pins the lenient raw-Spark forms.
    assert(one("SELECT element_at(map('a', 1), 'zz')") == null)
    assert(one("SELECT map('a', 1)['zz']") == null)
    assertThrows[Exception](
      spark.sql("SELECT assert_true(map_contains_key(map('a', 1), 'zz'), 'Key not present')")
        .collect())
  }

  test("map subscript stays in whole-stage codegen over table-backed columns") {
    // The map branch of PrestoSubscript.doGenCode boxes a possibly-
    // primitive key via an (Object) cast and unboxes the result via
    // ($javaType)(($boxed)$out). Constant-foldable literals never reach
    // that generated code, so this drives it through a real table-backed
    // map column — string->string, int->int (primitive key AND primitive
    // value), and string->array — with codegen fallback DISABLED: if
    // Janino rejected the casts, the query would throw instead of
    // silently de-compiling the whole stage to interpreted.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    import strict.implicits._
    // through parquet: a local Seq relation would be constant-collapsed
    // by ConvertToLocalRelation and never reach generated code
    val dir = java.nio.file.Files.createTempDirectory("graft-subscript").toString
    Seq(
      (Map("a" -> "x", "b" -> "y"), Map(1 -> 10, 2 -> 20), Map("k" -> Seq(7, 8))),
      (Map("b" -> "z"), Map(2 -> 22), Map("k" -> Seq(9)))
    ).toDF("ms", "mi", "ma").write.mode("overwrite").parquet(dir)
    strict.read.parquet(dir).createOrReplaceTempView("graft_subscript_maps")
    val rows = strict.sql(
      """SELECT presto_subscript(ms, 'b') AS s,
        |       presto_subscript(mi, 2) AS i,
        |       presto_subscript(presto_subscript(ma, 'k'), 1) AS a
        |FROM graft_subscript_maps ORDER BY i""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq(("y", 20, 7), ("z", 22, 9)))
    // and the plan actually runs under WholeStageCodegen (the spans exist)
    val plan = strict.sql(
      "SELECT presto_subscript(mi, 2) FROM graft_subscript_maps")
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the plan string
    assert(plan.contains("*(1) Project"), s"no codegen span in:\n$plan")
  }

  // ---- char(n) trailing-space semantics (presto-spi Chars.java:
  //      padded comparison; padSpaces on cast) ----

  test("char(n) comparisons ignore trailing pad spaces (parity)") {
    spark.sql("DROP TABLE IF EXISTS graft_chars")
    spark.sql("CREATE TABLE graft_chars (c CHAR(5), v VARCHAR(5)) USING PARQUET")
    spark.sql("INSERT INTO graft_chars VALUES ('ab', 'ab'), ('cd   ', 'cd')")
    // Spark pads CHAR(5) on write and (by default, readSideCharPadding)
    // on read; a CHAR(5) column compared to the unpadded literal matches —
    // the same observable behavior as the reference's padded comparison.
    assert(spark.sql("SELECT count(*) FROM graft_chars WHERE c = 'ab'").head().getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft_chars WHERE c = 'cd'").head().getLong(0) == 1L)
    // length() sees the padded width for CHAR, the raw width for VARCHAR
    assert(one("SELECT length(c) FROM graft_chars WHERE v = 'ab'") == 5)
    assert(one("SELECT length(v) FROM graft_chars WHERE v = 'ab'") == 2)
    spark.sql("DROP TABLE graft_chars")
  }

  test("char(n) value model: cast truncates+pads, cross-width compare, length = n") {
    // Fns.charCast/charEq/charLt model the reference's char(n) as its
    // space-padded rendering (Chars.padSpaces): CAST truncates to n and
    // pads; comparisons pad both sides to the wider length; length() of
    // a char(n) value is n. Spark's CAST(x AS CHAR(n)) outside DDL is a
    // plain string cast, hence the explicit helpers.
    import org.apache.spark.sql.functions._
    import graft.functions.Fns
    val df = spark.range(1).select(
      Fns.charCast(lit("ab"), 4).as("c4"),
      Fns.charCast(lit("abcde"), 3).as("trunc3"),
      length(Fns.charCast(lit("ab"), 4)).as("len4"),
      Fns.charEq(Fns.charCast(lit("ab"), 4), Fns.charCast(lit("ab"), 9)).as("eq49"),
      Fns.charEq(Fns.charCast(lit("ab"), 4), lit("ab")).as("eq_varchar_trimmed"),
      Fns.charLt(Fns.charCast(lit("ab"), 4), Fns.charCast(lit("ac"), 2)).as("lt"))
      .head()
    assert(df.getString(0) == "ab  ")
    assert(df.getString(1) == "abc")
    assert(df.getInt(2) == 4)
    assert(df.getBoolean(3), "char(4) 'ab' must equal char(9) 'ab' (padded compare)")
    // charEq pads the varchar side too — matching the reference's
    // char-to-char coercion, NOT its char-vs-varchar comparison (there
    // Presto pads the char side into varchar space and 'ab  ' != 'ab';
    // model that case with a plain ===, as misc_char_padding does).
    assert(df.getBoolean(4))
    assert(df.getBoolean(5), "'ab' < 'ac' must survive padding")
    // DOCUMENTED DELTA: padded comparison vs rtrim-comparison disagree
    // only for control chars below 0x20 — 'a' char(2) vs 'a\t' char(2):
    // padded 'a ' > 'a\t' (the reference's answer), rtrim would say <.
    val ctl = spark.range(1).select(
      Fns.charLt(Fns.charCast(lit("a"), 2), Fns.charCast(lit("a\t"), 2)).as("lt")).head()
    assert(!ctl.getBoolean(0), "padded compare: 'a ' > 'a\\t' like the reference")
  }

  test("decimal(38) arithmetic errors on true overflow (parity with reference)") {
    // UnscaledDecimal128Arithmetic throws on overflow past 38 digits;
    // Spark ANSI (our default) raises ARITHMETIC_OVERFLOW; DuckDB errors
    // too — pinned here because an error result is not oracle-comparable.
    val max38 = "9" * 38
    assertThrows[Exception](
      spark.sql(s"SELECT CAST('$max38' AS DECIMAL(38,0)) + CAST(1 AS DECIMAL(38,0))").collect())
    assertThrows[Exception](
      spark.sql(s"SELECT CAST('$max38' AS DECIMAL(38,0)) * CAST(10 AS DECIMAL(38,0))").collect())
    // in-range p=38 arithmetic is exact (misc_decimal2 pins it vs DuckDB)
    assert(one("SELECT CAST(CAST(1234.56 AS DECIMAL(38,2)) * CAST(1000000000 AS DECIMAL(38,0)) AS STRING)")
      == "1234560000000.00")
  }

  test("DOCUMENTED DIVERGENCE: varchar(n) length is enforced on write, not on cast") {
    // Presto CAST('abcdef' AS VARCHAR(3)) truncates to 'abc'. Spark's
    // cast treats varchar(n) as plain string (no-op on length); the
    // limit only bites on INSERT into a varchar(n) column, where ANSI
    // raises EXCEED_LIMIT_LENGTH instead of truncating. The portable
    // truncating spelling is substring.
    assert(one("SELECT CAST('abcdef' AS VARCHAR(3))").toString == "abcdef")
    spark.sql("DROP TABLE IF EXISTS graft_vc")
    spark.sql("CREATE TABLE graft_vc (v VARCHAR(3)) USING PARQUET")
    assertThrows[Exception](spark.sql("INSERT INTO graft_vc VALUES ('abcdef')"))
    spark.sql("DROP TABLE graft_vc")
    assert(one("SELECT substring('abcdef', 1, 3)").toString == "abc")
  }

  // ---- timestamp with time zone (DateTimeEncoding.java packs a zone id;
  //      Spark has no such value type — SURVEY's stance: UTC-normalize) ----

  test("tz-carrying timestamps are UTC-normalized, zone applied on render") {
    // The engine runs with session tz UTC (Engine.session). A zoned input
    // collapses to the same instant; rendering in a zone is explicit via
    // from_utc_timestamp — semantics of the reference's AT TIME ZONE.
    assert(one("SELECT CAST(TIMESTAMP '2024-03-10 01:30:00+02:00' AS STRING)").toString
      == "2024-03-09 23:30:00")
    assert(one("SELECT CAST(from_utc_timestamp(TIMESTAMP '2024-03-09 23:30:00', 'America/New_York') AS STRING)").toString
      == "2024-03-09 18:30:00")
    // DST boundary: 2024-03-10 07:30 UTC is 03:30 EDT (skipped hour handled)
    assert(one("SELECT CAST(from_utc_timestamp(TIMESTAMP '2024-03-10 07:30:00', 'America/New_York') AS STRING)").toString
      == "2024-03-10 03:30:00")
  }

  // ---- JSONPath dialect (JsonExtract.java implements a limited
  //      dot/bracket dialect; Spark's get_json_object is the same
  //      subset) ----

  test("JSONPath: dot, bracket, and array-index paths agree with the reference subset") {
    val doc = """{"store": {"book": [{"title": "a", "price": 1}, {"title": "b"}], "tag x": 7}}"""
    assert(one(s"SELECT get_json_object('$doc', '$$.store.book[0].title')").toString == "a")
    assert(one(s"SELECT get_json_object('$doc', '$$.store.book[1].title')").toString == "b")
    assert(one(s"SELECT get_json_object('$doc', \"$$.store['tag x']\")").toString == "7")
    // missing path -> NULL in both engines (json_extract returns NULL)
    assert(one(s"SELECT get_json_object('$doc', '$$.store.missing')") == null)
    // scalar extraction unquotes (the reference's json_extract_scalar)
    assert(one(s"SELECT get_json_object('$doc', '$$.store.book[0].price')").toString == "1")
  }

  test("DOCUMENTED DIVERGENCE: recursive descent $..x is unsupported (NULL, not error)") {
    val doc = """{"a": {"b": 1}}"""
    assert(one(s"SELECT get_json_object('$doc', '$$..b')") == null)
  }

  // ---- decimal division/rounding (UnscaledDecimal128Arithmetic.java
  //      HALF_UP; Spark Decimal divide rounds HALF_UP at result scale) ----

  test("decimal division rounds HALF_UP at the result scale (parity)") {
    // 1/3 at DECIMAL(10,2)/DECIMAL(10,2): Spark result scale is
    // max(6, s1 + p2 + 1) = 13 -> 0.0769230769231 truncated to result
    // precision; the .5 boundary case pins the rounding MODE:
    assert(one("SELECT CAST(CAST(1.05 AS DECIMAL(10,2)) / CAST(2 AS DECIMAL(10,0)) AS DECIMAL(10,2))").toString
      == "0.53") // 0.525 -> HALF_UP -> 0.53 (banker's rounding would give 0.52)
    assert(one("SELECT CAST(CAST(2.5 AS DECIMAL(10,1)) AS DECIMAL(10,0))").toString == "3")
  }

  // ---- Unicode codepoint semantics (StringFunctions.java operates on
  //      code POINTS; Java Strings are UTF-16 code UNITS — the classic
  //      divergence risk for astral-plane characters) ----

  test("length/substr/reverse count codepoints, not UTF-16 units (parity)") {
    // U+1D11E MUSICAL SYMBOL G CLEF is 2 UTF-16 units, 1 codepoint, 4 UTF-8 bytes
    val clef = "𝄞"
    assert(one(s"SELECT length('a${clef}b')") == 3)
    assert(one(s"SELECT substr('a${clef}b', 2, 1)").toString == clef)
    assert(one(s"SELECT reverse('a${clef}b')").toString == s"b${clef}a")
    assert(one(s"SELECT octet_length(encode('$clef', 'UTF-8'))") == 4)
    // codepoint() (Presto name, registered alias) returns the scalar value
    assert(one("SELECT codepoint('A')") == 65)
  }
}
