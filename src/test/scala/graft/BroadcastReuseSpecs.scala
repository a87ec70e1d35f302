package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBusFlush
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.QueryMetrics
import graft.plans.BroadcastReuse

/** Cross-statement broadcast reuse (graft.plans.BroadcastReuse): a
  * files-only broadcast is built once per SparkContext and served to
  * later statements, keyed by its canonical plan and its scans' file
  * listings. Each spec's reference answer comes from the same text with
  * broadcast joins off (`spark.sql.autoBroadcastJoinThreshold=-1`), a
  * plan that builds no broadcast at all; doubles compare at 12
  * significant digits, as the oracle check does, since that plan sums in
  * another order.
  */
class BroadcastReuseSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    graft.engine.Engine.registerTables(spark, sfDir)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cache: BroadcastReuse.Cache = QueryMetrics.of(spark.sparkContext).broadcasts

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  /** The rows of `df()`, and how many broadcasts it built into the cache
    * and took from it. */
  private def counted(df: () => DataFrame): (Seq[String], Int, Long) = {
    val (n0, r0) = (cache.size, cache.reused)
    val out = rows(df())
    (out, cache.size - n0, cache.reused - r0)
  }

  private def withoutBroadcast[T](body: => T): T = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a repeated q4 and q21 answer as without broadcasts on the hit, with AQE on and off") {
    for (aqe <- Seq("true", "false"); name <- Seq("q4_order_priority", "q21_waiting_supplier")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val query = () => SparkEntry.benchQueries(name)(spark, sfDir)
        val expected = withoutBroadcast(rows(query()))
        assert(expected.nonEmpty, s"$name returned no rows")
        val first = counted(query)
        val again = counted(query)
        assert(again._2 == 0 && again._3 > 0,
          s"$name, adaptive $aqe: the repeat built ${again._2} and reused ${again._3}")
        assert(first._1 == expected && again._1 == expected, s"$name, adaptive $aqe")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("nation_join_agg with two keys keeps two entries and answers each key") {
    // perfbench's ingest_mixed statement (perfbench/workloads.py)
    def text(k: Int) = "SELECT n_name, count(*) AS customers, sum(c_acctbal) AS balance " +
      s"FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_nationkey = $k GROUP BY n_name"
    val keys = Seq(3, 17)
    val expected = withoutBroadcast(keys.map(k => rows(spark.sql(text(k)))))
    val built = keys.map(k => counted(() => spark.sql(text(k))))
    val hits = keys.map(k => counted(() => spark.sql(text(k))))
    assert(built.map(_._2) == Seq(1, 1), s"each key builds its own entry: $built")
    assert(hits.map(b => (b._2, b._3)) == Seq((0, 1), (0, 1)), s"each repeat reuses its own: $hits")
    assert(built.map(_._1) == expected && hits.map(_._1) == expected)
    assert(expected.distinct.size == 2, s"the two keys must answer differently: $expected")
  }

  test("an INSERT into a table a cached broadcast reads changes the next statement's answer") {
    val dir = java.nio.file.Files.createTempDirectory("bcast-reuse").toFile
    new java.io.File(dir, "dim").mkdir()
    try {
      spark.range(0, 20000).selectExpr("id % 50 AS f", "id AS v")
        .write.parquet(s"$dir/fact")
      spark.read.parquet(s"$dir/fact").createOrReplaceTempView("br_fact")
      spark.sql("DROP TABLE IF EXISTS br_dim")
      spark.sql("CREATE TABLE br_dim (k BIGINT, w BIGINT) USING parquet " +
        s"LOCATION '${dir.toURI}dim'")
      spark.sql("INSERT INTO br_dim SELECT id, id * 10 FROM range(0, 50, 2)")
      val text = "SELECT count(*) AS n, sum(v * w) AS s FROM br_fact JOIN br_dim ON f = k"
      def answer() = counted(() => spark.sql(text))

      val built = answer()
      val hit = answer()
      assert((built._2, hit._2, hit._3) == ((1, 0, 1L)), s"build $built, then hit $hit")
      assert(hit._1 == built._1)
      spark.sql("INSERT INTO br_dim VALUES (1, 7)")
      val after = answer()
      assert(after._2 == 1 && after._3 == 0, s"the INSERT's new file keys a new entry: $after")
      assert(after._1 != built._1, "the inserted row must change the answer")
      assert(after._1 == withoutBroadcast(rows(spark.sql(text))))
    } finally {
      spark.sql("DROP TABLE IF EXISTS br_dim")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("the LRU keeps its summed dataSize within Spark's storage region") {
    // 0.6 x (2 GiB - 300 MB) x 0.5: the protected storage region of a 2g heap
    val twoGb = 2048L * 1024 * 1024
    assert(BroadcastReuse.budget(twoGb, 0.6, 0.5) == ((twoGb - 300L * 1024 * 1024) * 0.3).toLong)
    assert(BroadcastReuse.budget(twoGb, 0.6, 0.5) / (1 << 20) == 524)
    assert(BroadcastReuse.budget(200L * 1024 * 1024, 0.6, 0.5) == 0)

    val lru = new BroadcastReuse.Cache(budget = 100)
    def key(i: Int) = BroadcastReuse.Key(null, Seq((s"f$i", i.toLong, 0L)))
    def entry(bytes: Long) = BroadcastReuse.Entry(null, bytes, 1)
    val sizes = Seq(40L, 30L, 50L, 20L, 100L, 10L, 101L, 60L)
    for ((bytes, i) <- sizes.zipWithIndex) {
      if (i == 3) assert(lru.lookup(key(1)).isDefined) // 1 becomes most recent
      lru.put(key(i), entry(bytes))
      assert(lru.bytes <= lru.budget, s"after putting $bytes bytes: ${lru.bytes}")
      val held = sizes.indices.filter(j => lru.lookup(key(j)).isDefined)
      assert(held.map(sizes).sum == lru.bytes && held.size == lru.size)
    }
    // a 101-byte build exceeds the whole budget and is not kept
    assert(lru.lookup(key(6)).isEmpty)
  }

  test("a stopped and rebuilt SparkContext rebuilds its broadcasts") {
    val query = () => SparkEntry.benchQueries("q4_order_priority")(spark, sfDir)
    counted(query)
    assert(cache.size > 0)
    val old = QueryMetrics.of(spark.sparkContext)
    spark.stop()
    assert(old.broadcasts.size == 0, "a stopped context's cache must be dropped")
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
    graft.engine.Engine.registerTables(spark, sfDir)
    assert(ListenerBusFlush.listeners[QueryMetrics](spark.sparkContext).head ne old)
    val (out, built, reused) = counted(query)
    assert(built > 0 && reused == 0, s"the new context built $built and reused $reused")
    assert(out == withoutBroadcast(rows(query())))
  }
}
