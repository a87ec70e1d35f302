package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Specs for the round-8 Presto-name parity wave (PrestoNames.scala):
  * the SQL spellings the oracle queries can't fully pin — struct Bing
  * tiles, geometry_to_bing_tiles, json_parse error behavior, HMAC
  * vectors (RFC 2202 / 4231), sketch-name aliases, normalization forms.
  */
class PrestoNamesSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[2]", shufflePartitions = 2)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").head().get(0)

  test("bing_tile struct constructors and accessors (TestBingTileFunctions.java:79-123)") {
    // quadkey round-trip through the struct signatures
    assert(one("bing_tile_quadkey(bing_tile(21845, 13506, 15))") == "123030123010121")
    val r = spark.sql(
      "SELECT bing_tile_coordinates(bing_tile('123030123010121')).x AS x, " +
        "bing_tile_coordinates(bing_tile('123030123010121')).y AS y, " +
        "bing_tile_zoom_level(bing_tile('123030123010121')) AS z").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == (21845, 13506, 15))
    // bing_tile_at reference vector (TestBingTileFunctions.java:102-105)
    assert(one("bing_tile_quadkey(bing_tile_at(30.12, 60.0, 15))") == "123030123010121")
    // invalid quadkey digit / zoom guards raise
    intercept[Exception](one("bing_tile('1230301230101219')"))
    intercept[Exception](one("bing_tile(0, 0, 24)"))
  }

  test("bing_tile_polygon renders the tile envelope") {
    // zoom-1 tile (0,0): lng [-180, 0], lat [0, 85.05112878]
    val wkt = one("bing_tile_polygon(bing_tile(0, 0, 1))").toString
    assert(wkt.startsWith("POLYGON ((-180"))
    val area = one(s"st_wkt_area('${wkt}')").asInstanceOf[Double]
    assert(math.abs(area - 180.0 * 85.05112877980659) < 1e-6)
  }

  test("geometry_to_bing_tiles covers the envelope") {
    // a polygon strictly inside one zoom-10 tile -> exactly that tile,
    // and it equals the tile of its interior point
    val tiles = spark.sql(
      "SELECT geometry_to_bing_tiles('POLYGON ((60.001 30.001, 60.002 30.001, " +
        "60.002 30.002, 60.001 30.002, 60.001 30.001))', 10) AS t").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(tiles.length == 1)
    val at = spark.sql("SELECT bing_tile_at(30.0015, 60.0015, 10) AS t").head()
      .getStruct(0)
    assert(tiles.head.getInt(0) == at.getInt(0) && tiles.head.getInt(1) == at.getInt(1))
    // a band spanning several tiles: count = grid cover of the envelope
    val many = spark.sql(
      "SELECT cardinality(geometry_to_bing_tiles('LINESTRING (0.1 0.1, 3.0 0.1)', 8)) AS n")
      .head().getInt(0)
    assert(many >= 2) // ~1.4 deg/tile at z=8 -> 3-degree span covers >= 2
  }

  test("json_parse canonicalizes and rejects malformed input") {
    assert(one("""json_parse('{"a": 1, "b": [1, 2]}')""") == """{"a":1,"b":[1,2]}""")
    assert(one("""json_format(json_parse('[1,  2,3 ]'))""") == "[1,2,3]")
    intercept[Exception](one("""json_parse('{"a": }')"""))
  }

  test("hmac_sha512 matches RFC 4231 test case 2") {
    assert(one("to_hex(hmac_sha512(to_utf8('Jefe'), to_utf8('what do ya want for nothing?')))") ==
      "164B7A7BFCF819E2E395FBE73B56E0A387BD64222E831FD610270CD7EA2505549758BF75C05A994A6D034F65F8F0E6FDCAEAB1A34D4A6B4B636E070A38BCE737")
  }

  test("merge and value_at_quantile aliases resolve to the typed spellings") {
    val ss = spark; import ss.implicits._
    val df = (1 to 1000).toDF("x")
    df.createOrReplaceTempView("mv")
    val est = spark.sql(
      "SELECT hll_cardinality(merge(sk)) AS c FROM " +
        "(SELECT approx_set(x) AS sk FROM mv GROUP BY x % 7)").head().getLong(0)
    assert(math.abs(est - 1000) < 50)
    val med = spark.sql(
      "SELECT value_at_quantile(qdigest_agg(CAST(x AS DOUBLE)), 0.5) AS m FROM mv")
      .head().getDouble(0)
    assert(math.abs(med - 500.0) < 25.0)
  }

  test("geometric_mean is exp(avg(ln)) with null skipping") {
    val ss = spark; import ss.implicits._
    Seq(Some(2.0), Some(8.0), None).toDF("x").createOrReplaceTempView("gm")
    val v = spark.sql("SELECT geometric_mean(x) AS g FROM gm").head().getDouble(0)
    assert(math.abs(v - 4.0) < 1e-12)
  }

  test("normalize supports the four Unicode forms") {
    val composed = "é" // é
    val decomposed = "é"
    assert(one(s"normalize('$decomposed')") == composed) // NFC default
    assert(one(s"normalize('$decomposed', 'NFC')") == composed)
    assert(one(s"normalize('$composed', 'NFD')") == decomposed)
    assert(one("normalize('ﬁ', 'NFKC')") == "fi") // ligature fi
  }

  test("ngrams over arrays") {
    assert(one("ngrams(array('a','b','c'), 2)").asInstanceOf[scala.collection.Seq[_]]
      .map(_.asInstanceOf[scala.collection.Seq[_]].mkString("_")) == Seq("a_b", "b_c"))
    assert(one("cardinality(ngrams(array('a'), 3))") == 0)
  }

  test("url extraction edges: missing port/parameter are null") {
    assert(one("url_extract_port('https://example.com/x')") == null)
    assert(one("url_extract_parameter('https://example.com/x?a=1', 'b')") == null)
    assert(one("url_extract_fragment('https://example.com/x#sec')") == "sec")
  }

  test("localtime renders HH:mm:ss.SSS (no TIME type - documented delta)") {
    assert(one("localtime()").toString.matches("\\d{2}:\\d{2}:\\d{2}\\.\\d{3}"))
    // Presto's grammar allows the bare keyword; the front door adds ()
    assert(spark.sql(graft.sql.PrestoSql.rewriteFull("SELECT localtime AS v"))
      .head().get(0).toString.matches("\\d{2}:\\d{2}:\\d{2}\\.\\d{3}"))
    // and does NOT touch localtimestamp or string literals
    assert(graft.sql.PrestoSql.rewriteFull("SELECT localtimestamp, 'localtime x'")
      == "SELECT localtimestamp, 'localtime x'")
  }

  test("geometry_union_agg of no non-null inputs is null; union is order-independent") {
    val ss = spark; import ss.implicits._
    Seq.empty[Option[String]].toDF("g").createOrReplaceTempView("ge")
    assert(spark.sql("SELECT geometry_union_agg(g) AS u FROM ge").head().get(0) == null)
    val sq = Seq(
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
      "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))").toDF("g")
    sq.createOrReplaceTempView("g2")
    val a = spark.sql("SELECT round(st_wkt_area(geometry_union_agg(g)), 6) AS a FROM g2")
      .head().getDouble(0)
    assert(math.abs(a - 6.0) < 1e-5)
  }

  test("histogram/map_agg/multimap_agg aggregate with distinct-key-bounded buffers") {
    val ss = spark; import ss.implicits._
    // 8 partitions force real partial/final serialization round-trips
    (1 to 1000).map(i => (i % 7, s"v$i")).toDF("k", "v").repartition(8)
      .createOrReplaceTempView("mk")
    val h = spark.sql("SELECT histogram(k) AS h FROM mk").head()
      .getMap[Int, Long](0)
    assert(h.size == 7 && h.values.sum == 1000)
    assert(h(0) == 142 && h(1) == 143) // 1000 rows over k = i % 7
    val mm = spark.sql("SELECT multimap_agg(k, v) AS m FROM mk").head()
      .getMap[Int, scala.collection.Seq[String]](0)
    assert(mm.size == 7 && mm.values.map(_.size).sum == 1000)
    assert(mm(3).toSet.contains("v3") && mm(3).forall(s => (s.drop(1).toInt - 3) % 7 == 0))
    // map_agg keeps one value per key; null keys are skipped
    Seq((Some(1), "a"), (Some(1), "b"), (None, "x"), (Some(2), "c"))
      .toDF("k", "v").createOrReplaceTempView("ma")
    val m = spark.sql("SELECT map_agg(k, v) AS m FROM ma").head()
      .getMap[Int, String](0)
    assert(m.keySet == Set(1, 2) && m(2) == "c" && Set("a", "b").contains(m(1)))
    // empty input -> NULL map (reference returns NULL, not empty map)
    assert(spark.sql("SELECT map_agg(k, v) AS m FROM ma WHERE k > 99").head().get(0) == null)
  }

  test("regexp_split / zip / day_of_month aliases") {
    assert(one("regexp_split('a1b22c', '[0-9]+')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", "c"))
    // trailing empty strings preserved (regexp.rst)
    assert(one("regexp_split('a.b.', '\\\\.')")
      .asInstanceOf[scala.collection.Seq[String]] == Seq("a", "b", ""))
    assert(one("cardinality(zip(array(1, 2), array('a', 'b')))") == 2)
    assert(one("day_of_month(DATE'2024-03-15')") == 15)
  }

  test("sha256/sha512/to_utf8/from_utf8/base64 compose as varbinary codecs") {
    assert(one("from_utf8(from_base64(to_base64(to_utf8('hello'))))") == "hello")
    assert(one("to_hex(sha256(to_utf8('abc')))") ==
      "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD")
  }
}
