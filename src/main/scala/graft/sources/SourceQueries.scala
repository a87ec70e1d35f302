package graft.sources

import org.apache.spark.sql.functions._
import graft.queries.{Q, QueryModule}

/** Source/sink format coverage (SURVEY §2.1): the reference's Hive
  * connector reads ORC/Parquet/RCFile/text (presto-orc/.../OrcReader.java,
  * presto-parquet, GenericHiveRecordCursor.java); writers via
  * ConnectorPageSink (TableWriterOperator.java:58). Spark equivalents are
  * spark.read/write.{parquet,orc,csv,json}; the blackhole connector
  * (presto-blackhole) maps to the noop datasource, presto-memory to temp
  * views. Avro is omitted (spark-avro module not on this classpath).
  *
  * Each roundtrip writes the nation table to a temp dir in the target
  * format, reads it back, and checks full-fidelity equality
  * (order-independent hash via xxhash64 xor); result is a deterministic
  * property the oracle states literally.
  */
object SourceQueries extends QueryModule {

  // The avro datasource classes ship inside spark-sql on this build but
  // are not service-registered, so the lookup needs the class name.
  private def fmtName(fmt: String): String =
    if (fmt == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else fmt

  private def roundtrip(s: org.apache.spark.sql.SparkSession, fmt: String): (Long, Long, Boolean) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$fmt").toString
    val src = s.table("nation")
    val w = src.write.mode("overwrite")
    (if (fmt == "csv") w.option("header", "true") else w).format(fmtName(fmt)).save(dir)
    val r = s.read.format(fmtName(fmt))
    val back = (fmt match {
      case "csv" => r.option("header", "true").option("inferSchema", "true")
      case _ => r
    }).load(dir)
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
    def sig(df: org.apache.spark.sql.DataFrame): Long =
      df.select(xxhash64(col("n_nationkey"), col("n_name"), col("n_regionkey")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
    val res = (src.count(), back.count(), sig(src) == sig(back))
    // best-effort cleanup
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    } catch { case scala.util.control.NonFatal(_) => () }
    res
  }

  def queries: Seq[Q] = Seq(
    Q("src_roundtrip_parquet",
      """SELECT 25 AS n_src, 25 AS n_back, true AS fidelity""".stripMargin) { (s, _) =>
      import s.implicits._
      val (a, b, ok) = roundtrip(s, "parquet")
      Seq((a, b, ok)).toDF("n_src", "n_back", "fidelity")
    },
    Q("src_roundtrip_orc",
      """SELECT 25 AS n_src, 25 AS n_back, true AS fidelity""".stripMargin) { (s, _) =>
      import s.implicits._
      val (a, b, ok) = roundtrip(s, "orc")
      Seq((a, b, ok)).toDF("n_src", "n_back", "fidelity")
    },
    Q("src_roundtrip_csv",
      """SELECT 25 AS n_src, 25 AS n_back, true AS fidelity""".stripMargin) { (s, _) =>
      import s.implicits._
      val (a, b, ok) = roundtrip(s, "csv")
      Seq((a, b, ok)).toDF("n_src", "n_back", "fidelity")
    },
    Q("src_roundtrip_json",
      """SELECT 25 AS n_src, 25 AS n_back, true AS fidelity""".stripMargin) { (s, _) =>
      import s.implicits._
      val (a, b, ok) = roundtrip(s, "json")
      Seq((a, b, ok)).toDF("n_src", "n_back", "fidelity")
    },
    // Avro (presto-hive reads Avro tables) — Spark 4 bundles the avro
    // datasource in spark-sql, closing the round-1 documented gap.
    Q("src_roundtrip_avro",
      """SELECT 25 AS n_src, 25 AS n_back, true AS fidelity""".stripMargin) { (s, _) =>
      import s.implicits._
      val (a, b, ok) = roundtrip(s, "avro")
      Seq((a, b, ok)).toDF("n_src", "n_back", "fidelity")
    },
    // blackhole-connector analog: full scan into the noop sink.
    Q("src_noop_sink",
      """SELECT true AS sink_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      s.table("lineitem").write.format("noop").mode("overwrite").save()
      Seq(true).toDF("sink_ok")
    },

    // Embedded JDBC connector (presto-base-jdbc): fixture slice CTAS'd
    // into in-JVM Derby, read back through spark.read.jdbc, aggregated.
    // The oracle recomputes the same aggregate from the parquet table —
    // the connector must be full-fidelity. (JdbcOps scaladoc: only the
    // URL distinguishes this from a networked RDBMS.)
    // Kept as a hand plan: the build reads through the JDBC connector; the oracle text reads parquet.
    Q("src_jdbc_roundtrip",
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey""".stripMargin) { (s, _) =>
      JdbcOps.writeTable(
        s.table("nation").select("n_nationkey", "n_name", "n_regionkey"),
        "graft_jdbc_nation")
      JdbcOps.readTable(s, "graft_jdbc_nation")
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n"), sum("n_nationkey").cast("long").as("key_sum"))
    },

    // JDBC predicate pushdown + split fan-out: the filter must reach the
    // remote WHERE clause (PushedFilters on the JDBCRelation scan — the
    // analog of BaseJdbcClient.buildSql's TupleDomain), the unused
    // column must be pruned from the remote SELECT, and the read fans
    // out over 4 key-range splits. EngineSpecs pins the plan; here the
    // oracle pins the values.
    // Kept as a hand plan: the build reads through the JDBC connector; the oracle text reads parquet.
    Q("src_jdbc_pushdown",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
        |  CAST(min(s_acctbal) AS DOUBLE) AS min_bal
        |FROM supplier WHERE s_acctbal > 5000.0""".stripMargin) { (s, _) =>
      JdbcOps.writeTable(
        s.table("supplier").select("s_suppkey", "s_nationkey", "s_acctbal"),
        "graft_jdbc_supplier")
      val bounds = s.table("supplier")
        .agg(min("s_suppkey"), max("s_suppkey")).head()
      JdbcOps.readPartitioned(s, "graft_jdbc_supplier", "s_suppkey",
          bounds.getLong(0), bounds.getLong(1), 4)
        .filter(col("s_acctbal") > 5000.0)
        .agg(count(lit(1)).as("n"),
          sum("s_suppkey").cast("long").as("key_sum"),
          min("s_acctbal").cast("double").as("min_bal"))
    },

    // Index join (IndexJoinOptimizer.java:69 / index/IndexLoader.java):
    // the probe side streams key batches against the Derby b-tree index
    // instead of scanning + shuffling the indexed table — no scan of
    // the index side, probe partitioning preserved. The oracle is the
    // equivalent plain join: lookup semantics must equal join semantics
    // (inner, fan-out per match).
    // Kept as a hand plan: the build probes the Derby index; the oracle text is a plain join.
    Q("src_index_join",
      """SELECT o_orderkey, o_custkey, c_name,
        |  CAST(c_acctbal AS DOUBLE) AS c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey <= 2000""".stripMargin) { (s, _) =>
      JdbcOps.writeTable(
        s.table("customer").select("c_custkey", "c_name", "c_acctbal"),
        "graft_jdbc_idx_customer")
      JdbcOps.createIndex("graft_jdbc_idx_customer", "c_custkey")
      val probe = s.table("orders")
        .filter(col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_custkey")
      JdbcOps.indexLookupJoin(s, probe, "o_custkey",
          "graft_jdbc_idx_customer", "c_custkey", Seq("c_name", "c_acctbal"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"))
    },

    // Bucketed (hash-clustered) storage — presto-hive HiveBucketing.java.
    // Both join sides written bucketed on the join key; the join itself
    // is then shuffle-free (EngineSpecs pins the no-Exchange plan). The
    // oracle recomputes the same aggregate from the flat tables: layout
    // must not change results.
    // Kept as a hand plan: the build writes and joins bucketed tables; the oracle text reads the flat ones.
    Q("src_bucketed_join",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, _) =>
      graft.operators.BucketOps.writeBucketed(
        s.table("lineitem").select("l_orderkey", "l_extendedprice"),
        "graft_bkt_lineitem", "l_orderkey", 8)
      graft.operators.BucketOps.writeBucketed(
        s.table("orders").select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", "o_orderkey", 8)
      s.table("graft_bkt_lineitem")
        .join(s.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }.withBench { (s, _) =>
      // Decimated clone: bench the bucketed-write + shuffle-free-join
      // pipeline at cost proportional to the operation, not a full
      // second copy of lineitem (same policy as ddl_delete).
      graft.operators.BucketOps.writeBucketed(
        s.table("lineitem").filter(col("l_orderkey") % 8 === 0)
          .select("l_orderkey", "l_extendedprice"),
        "graft_bkt_lineitem_b", "l_orderkey", 8)
      graft.operators.BucketOps.writeBucketed(
        s.table("orders").filter(col("o_orderkey") % 8 === 0)
          .select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders_b", "o_orderkey", 8)
      s.table("graft_bkt_lineitem_b")
        .join(s.table("graft_bkt_orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },

    // Z-order (Morton) layout — multi-dimensional clustering (ZOrderOps).
    // Contract: re-layout loses no rows, a 2nd-dimension predicate
    // returns identical rows on both layouts, and the z-ordered layout
    // localizes that predicate to fewer files than the 1-D sort (which
    // cannot prune the second dimension at all).
    Q("src_zorder_pruning",
      """SELECT true AS counts_equal, true AS pred_equal, true AS zorder_prunes""".stripMargin) { (s, _) =>
      import s.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_zq_").toString
      try {
        val src = s.table("lineitem").select("l_partkey", "l_suppkey", "l_quantity")
        src.repartitionByRange(16, col("l_partkey")).sortWithinPartitions("l_partkey")
          .write.mode("overwrite").parquet(s"$base/linear")
        graft.operators.ZOrderOps.writeZOrdered(src, s"$base/zorder",
          "l_partkey", "l_suppkey", 16)
        val linear = s.read.parquet(s"$base/linear")
        val zord = s.read.parquet(s"$base/zorder")
        val lo = src.agg(min("l_suppkey")).head().getLong(0)
        val pred = col("l_suppkey") === lo
        val countsEqual = zord.count() == src.count()
        val predEqual = linear.filter(pred).count() == zord.filter(pred).count()
        val prunes = graft.operators.ZOrderOps.filesTouched(zord, pred) <
          graft.operators.ZOrderOps.filesTouched(linear, pred)
        Seq((countsEqual, predEqual, prunes))
          .toDF("counts_equal", "pred_equal", "zorder_prunes")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    }.withBench { (s, _) =>
      import s.implicits._
      // Bench the z-order write itself on a decimated clone.
      val base = java.nio.file.Files.createTempDirectory("graft_zqb_").toString
      try {
        val src = s.table("lineitem").filter(col("l_orderkey") % 8 === 0)
          .select("l_partkey", "l_suppkey", "l_quantity")
        graft.operators.ZOrderOps.writeZOrdered(src, s"$base/zorder",
          "l_partkey", "l_suppkey", 16)
        val lo = src.agg(min("l_suppkey")).head().getLong(0)
        Seq((s.read.parquet(s"$base/zorder").count(),
          graft.operators.ZOrderOps.filesTouched(
            s.read.parquet(s"$base/zorder"), col("l_suppkey") === lo)))
          .toDF("n_rows", "files_touched")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      }
    },

    // Hive-style partition layout + static partition pruning — the
    // reference's TupleDomain pushdown into partitioned Hive tables
    // (PickTableLayout.java, HivePageSourceProvider). Writing
    // date-partitioned parquet and filtering on the partition column
    // must plan as PartitionFilters (directories skipped, not scanned);
    // the aggregate over the surviving partition matches the oracle's
    // recomputation from the unpartitioned source. Decimal sum keeps
    // the check order-independent.
    Q("src_partition_pruning",
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  true AS pruned
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)""".stripMargin) { (s, _) =>
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_part_").toString
      try {
        s.table("events").withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(dir)
        val part = s.read.parquet(dir)
        val d0 = s.table("events").agg(min(to_date(col("ts")))).head().getDate(0)
        val q = part.filter(col("event_date") === lit(d0))
        val plan = q.queryExecution.executedPlan.toString
        val pruned = plan.contains("PartitionFilters: [") &&
          plan.contains("event_date")
        val row = q.agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total")).head()
        Seq((row.getLong(0), row.getDouble(1), pruned)).toDF("n", "total", "pruned")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }.withBench { (s, _) =>
      import s.implicits._
      // Bench the partitioned write + pruned read on a decimated clone
      // (same policy as ddl_delete: setup cost proportional to the op).
      val dir = java.nio.file.Files.createTempDirectory("graft_partb_").toString
      try {
        s.table("events").filter(col("event_id") % 8 === 0)
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(dir)
        val part = s.read.parquet(dir)
        val d0 = part.agg(min("event_date")).head().getDate(0)
        Seq(part.filter(col("event_date") === lit(d0)).count()).toDF("n")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    },

    // Dynamic partition pruning — Spark's runtime answer to the
    // reference's per-split TupleDomain pruning: the selective dim
    // filter ("busiest 3 days") becomes a runtime subquery that skips
    // fact partitions before scanning them (plan shows
    // `dynamicpruning` on the partition column). At 100 TB this is THE
    // mechanism that keeps star-schema joins from scanning every date
    // partition of the fact table.
    // Spark runs the oracle text to other rows: its dayofweek numbers
    // Sunday 1, DuckDB's 0, so on Spark the text finds no Sundays (n = 0).
    Q("src_dynamic_partition_pruning",
      """WITH dim AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events),
        |sundays AS (SELECT event_date FROM dim WHERE dayofweek(event_date) = 0)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  true AS dpp
        |FROM events JOIN sundays ON CAST(ts AS DATE) = sundays.event_date""".stripMargin) { (s, _) =>
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
      try {
        s.table("events").withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(dir)
        val fact = s.read.parquet(dir)
        // date dim with a selective attribute filter (Sundays): exactly
        // the shape Spark's DPP heuristic recognizes — the dim filter
        // becomes a runtime subquery pruning fact partitions.
        // (Spark dayofweek: Sunday=1; DuckDB dayofweek: Sunday=0.)
        val sundays = fact.select("event_date").distinct()
          .filter(dayofweek(col("event_date")) === 1)
        val q = fact.join(sundays, "event_date")
        val dpp = q.queryExecution.executedPlan.toString.contains("dynamicpruning")
        val row = q.agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total")).head()
        Seq((row.getLong(0), row.getDouble(1), dpp)).toDF("n", "total", "dpp")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }.withBench { (s, _) =>
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_dppb_").toString
      try {
        s.table("events").filter(col("event_id") % 8 === 0)
          .withColumn("event_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("event_date").parquet(dir)
        val fact = s.read.parquet(dir)
        val sundays = fact.select("event_date").distinct()
          .filter(dayofweek(col("event_date")) === 1)
        Seq(fact.join(sundays, "event_date").count()).toDF("n")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    },

    // Record-decoder connector (Kafka analog; KafkaRecordSet.java:53,
    // presto-record-decoder JsonRowDecoder slash paths): a segmented
    // file-backed offset log built from the 4000 lowest orderkeys
    // (partition = o_orderkey % 4, offset = per-partition row_number),
    // JSON payloads with a nested field, scanned with an offset-range
    // predicate [100, 299] that prunes whole segments from metadata
    // (EngineSpecs pins the split count) and filters records exactly.
    // The oracle recomputes the same log coordinates with window
    // functions over orders.
    // Kept as a hand plan: the build scans the segmented offset log; the oracle text reads orders.
    Q("src_kafka_decoder",
      """WITH base AS (SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 4000),
        |log AS (SELECT o_orderkey % 4 AS p,
        |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) - 1 AS off,
        |    o_orderkey AS k, o_custkey AS ck FROM base)
        |SELECT CAST(p AS BIGINT) AS partition_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(ck) AS BIGINT) AS cust_sum,
        |  CAST(min(off) AS BIGINT) AS min_off, CAST(max(off) AS BIGINT) AS max_off
        |FROM log WHERE off BETWEEN 100 AND 299
        |GROUP BY p ORDER BY partition_id""".stripMargin) { (s, _) =>
      val dir = "tmp/graft_recordlog"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      // bounded fixture construction (4000 rows to the driver, the
      // "broker side"; the scan/decode below is fully distributed)
      val slice = s.table("orders").select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey").limit(4000).collect()
      (0 until 4).foreach { p =>
        val recs = slice.filter(_.getLong(0) % 4 == p).sortBy(_.getLong(0))
          .zipWithIndex.map { case (r, i) =>
            val k = r.getLong(0); val c = r.getLong(1)
            val key = java.nio.ByteBuffer.allocate(8).putLong(k).array()
            (i.toLong, key, s"""{"k":$k,"d":{"ck":$c}}""".getBytes("UTF-8"))
          }.toSeq
        RecordLog.writePartition(dir, "orders", p, recs, 250)
      }
      val scanned = RecordLog.readTopic(s, dir, "orders", offsetMin = 100, offsetMax = 299)
      RecordLog.decodeJson(scanned,
          Seq(("k", "k", "BIGINT"), ("ck", "d/ck", "BIGINT")))
        .groupBy(col("_partition_id").as("partition_id"))
        .agg(count(lit(1)).as("n"), sum("k").as("key_sum"), sum("ck").as("cust_sum"),
          min("_partition_offset").as("min_off"), max("_partition_offset").as("max_off"))
        .orderBy("partition_id")
    },

    // Temporal json field decoders (JsonRowDecoderFactory.java:65-78
    // dataFormat dispatch -> ISO8601/RFC2822/SecondsSinceEpoch/
    // MillisecondsSinceEpoch/CustomDateTime JsonFieldDecoders): the
    // same log fixture, but every payload carries ONE instant
    // (1700000000 + o_orderkey seconds) rendered five ways — ISO text,
    // the reference's "EEE MMM dd HH:mm:ss Z yyyy" shape, integral
    // seconds, integral millis, and a custom yyyy/MM/dd pattern. All
    // five decode through decodeJsonTime's codegen'd expressions;
    // n_consistent pins that every format recovered the identical
    // TIMESTAMP on every row. The oracle recomputes the instant from
    // orderkey arithmetic alone (make_timestamp micros — zone-free on
    // both engines; sessions run UTC).
    Q("src_kafka_decoder_time",
      """WITH base AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 4000),
        |log AS (SELECT o_orderkey % 4 AS p,
        |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) - 1 AS off,
        |    make_timestamp((1700000000 + o_orderkey) * 1000000) AS ts FROM base)
        |SELECT CAST(p AS BIGINT) AS partition_id, CAST(count(*) AS BIGINT) AS n,
        |  min(ts) AS min_ts, max(ts) AS max_ts,
        |  CAST(count(*) AS BIGINT) AS n_consistent
        |FROM log WHERE off BETWEEN 50 AND 249
        |GROUP BY p ORDER BY partition_id""".stripMargin) { (s, _) =>
      val dir = "tmp/graft_recordlog_time"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val utc = java.time.ZoneOffset.UTC
      val fIso = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(utc)
      val fRfc = java.time.format.DateTimeFormatter
        .ofPattern("EEE MMM dd HH:mm:ss Z yyyy", java.util.Locale.ENGLISH).withZone(utc)
      val fRfcZ = java.time.format.DateTimeFormatter
        .ofPattern("EEE MMM dd HH:mm:ss 'Z' yyyy", java.util.Locale.ENGLISH).withZone(utc)
      val fRfcColon = java.time.format.DateTimeFormatter
        .ofPattern("EEE MMM dd HH:mm:ss XXX yyyy", java.util.Locale.ENGLISH)
        .withZone(java.time.ZoneOffset.ofHours(2))
      val fCustom = java.time.format.DateTimeFormatter
        .ofPattern("yyyy/MM/dd HH:mm:ss").withZone(utc)
      val slice = s.table("orders").select("o_orderkey")
        .orderBy("o_orderkey").limit(4000).collect()
      (0 until 4).foreach { p =>
        val recs = slice.filter(_.getLong(0) % 4 == p).sortBy(_.getLong(0))
          .zipWithIndex.map { case (r, i) =>
            val k = r.getLong(0)
            val sec = 1700000000L + k
            val inst = java.time.Instant.ofEpochSecond(sec)
            val key = java.nio.ByteBuffer.allocate(8).putLong(k).array()
            // rotate the reference's accepted zone shapes through the
            // corpus: iso offsets are parsed-and-IGNORED for TIMESTAMP
            // (TestISO8601JsonFieldDecoder.java:35-37 — same local text,
            // any suffix, same instant), rfc2822 offsets are APPLIED
            // (literal Z / compact +0000 / colon +02:00 with the local
            // time shifted accordingly, TestRFC2822JsonFieldDecoder.java:
            // 38-41) — all rows must still agree with the epoch columns.
            val isoSuffix = k % 3 match {
              case 0 => ""; case 1 => "Z"; case _ => "+10:00"
            }
            val rfcText = k % 3 match {
              case 0 => fRfc.format(inst)
              case 1 => fRfcZ.format(inst)
              case _ => fRfcColon.format(inst)
            }
            val payload =
              s"""{"t_iso":"${fIso.format(inst)}$isoSuffix","t_rfc":"$rfcText",""" +
              s""""t_isof":"${fIso.format(inst)}.250$isoSuffix",""" +
              s""""t_sec":$sec,"t_ms":${sec * 1000L},""" +
              s""""t_custom":"${fCustom.format(inst)}"}"""
            (i.toLong, key, payload.getBytes("UTF-8"))
          }.toSeq
        RecordLog.writePartition(dir, "orders_time", p, recs, 250)
      }
      val scanned = RecordLog.readTopic(s, dir, "orders_time", offsetMin = 50, offsetMax = 249)
      val decoded = RecordLog.decodeJsonTime(scanned, Seq(
        ("t_iso", "t_iso", "iso8601", ""),
        ("t_rfc", "t_rfc", "rfc2822", ""),
        ("t_isof", "t_isof", "iso8601", ""),
        ("t_sec", "t_sec", "seconds-since-epoch", ""),
        ("t_ms", "t_ms", "milliseconds-since-epoch", ""),
        ("t_custom", "t_custom", "custom-date-time", "yyyy/MM/dd HH:mm:ss")))
      decoded
        .withColumn("consistent",
          col("t_iso") === col("t_rfc") && col("t_iso") === col("t_sec") &&
          col("t_iso") === col("t_ms") && col("t_iso") === col("t_custom") &&
          col("t_isof") === col("t_iso") + expr("INTERVAL '0.25' SECOND"))
        .groupBy(col("_partition_id").as("partition_id"))
        .agg(count(lit(1)).as("n"), min("t_iso").as("min_ts"), max("t_ms").as("max_ts"),
          sum(when(col("consistent"), 1L).otherwise(0L)).as("n_consistent"))
        .orderBy("partition_id")
    },

    // Avro record decoder (AvroRowDecoder.java:59-66 — each payload is a
    // schema-embedded Avro DATA FILE read through DataFileStream /
    // GenericDatumReader): same log-coordinate fixture as
    // src_kafka_decoder but avro-container payloads with a nested
    // record, scanned over the complementary offset range [0, 99].
    // Logical temporal types ride the same container (r16): ts is a
    // long annotated timestamp-millis, tus the SAME instant +0.25 s as
    // timestamp-micros, day an int annotated date — decoded to
    // TIMESTAMP/TIMESTAMP/DATE columns; n_consistent pins the
    // micros-vs-millis unit handling row by row (a unit bug zeroes it).
    Q("src_kafka_avro",
      """WITH base AS (SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 4000),
        |log AS (SELECT o_orderkey % 4 AS p,
        |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) - 1 AS off,
        |    o_orderkey AS k, o_custkey AS ck FROM base)
        |SELECT CAST(p AS BIGINT) AS partition_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS key_sum, CAST(sum(ck) AS BIGINT) AS cust_sum,
        |  CAST(max(off) AS BIGINT) AS max_off,
        |  min(epoch_ms(800000000000 + k * 1000)) AS min_ts,
        |  max(epoch_ms(800000000000 + k * 1000) + INTERVAL '0.25' SECOND) AS max_ts,
        |  max(CAST(DATE '1970-01-01' + CAST(k % 20000 AS INTEGER) AS TIMESTAMP)) AS max_day,
        |  CAST(count(*) AS BIGINT) AS n_consistent
        |FROM log WHERE off <= 99
        |GROUP BY p ORDER BY partition_id""".stripMargin) { (s, _) =>
      val dir = "tmp/graft_recordlog_avro"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val schemaJson =
        """{"type":"record","name":"msg","fields":[
          |  {"name":"k","type":"long"},
          |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
          |  {"name":"tus","type":{"type":"long","logicalType":"timestamp-micros"}},
          |  {"name":"day","type":{"type":"int","logicalType":"date"}},
          |  {"name":"d","type":{"type":"record","name":"dim","fields":[
          |    {"name":"ck","type":"long"}]}}]}""".stripMargin
      val slice = s.table("orders").select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey").limit(4000).collect()
      (0 until 4).foreach { p =>
        val recs = slice.filter(_.getLong(0) % 4 == p).sortBy(_.getLong(0))
          .zipWithIndex.map { case (r, i) =>
            val payload = RecordLog.avroDataFile(schemaJson) { rec =>
              val k = r.getLong(0)
              rec.put("k", k)
              val ms = 800000000000L + k * 1000L
              rec.put("ts", ms)                       // millis-unit long
              rec.put("tus", ms * 1000L + 250000L)    // micros-unit long, +0.25 s
              rec.put("day", (k % 20000L).toInt)      // epoch days
              val d = new org.apache.avro.generic.GenericData.Record(
                graft.sources.AvroSchemas.parse(schemaJson).getField("d").schema())
              d.put("ck", r.getLong(1))
              rec.put("d", d)
            }
            (i.toLong, null: Array[Byte], payload)
          }.toSeq
        RecordLog.writePartition(dir, "orders", p, recs, 250)
      }
      val scanned = RecordLog.readTopic(s, dir, "orders", offsetMin = 0, offsetMax = 99)
      RecordLog.decodeAvro(scanned, schemaJson,
          Seq(("k", "k", "LONG"), ("ck", "d/ck", "LONG"),
            ("t_ms", "ts", "TIMESTAMP"), ("t_us", "tus", "TIMESTAMP"),
            ("d_day", "day", "DATE")))
        .withColumn("consistent",
          col("t_us") === col("t_ms") + expr("INTERVAL '0.25' SECOND"))
        .groupBy(col("_partition_id").as("partition_id"))
        .agg(count(lit(1)).as("n"), sum("k").as("key_sum"), sum("ck").as("cust_sum"),
          max("_partition_offset").as("max_off"),
          min("t_ms").as("min_ts"), max("t_us").as("max_ts"),
          // projected as midnight TIMESTAMP: DuckDB DATEs come back to
          // the comparator as datetime64 anyway, and no oracle query
          // emits a raw DATE column (pandas dtype split); the DateType
          // decode itself is exercised by the max over decoded days
          max("d_day").cast("timestamp").as("max_day"),
          sum(when(col("consistent"), 1L).otherwise(0L)).as("n_consistent"))
        .orderBy("partition_id")
    },

    // Document-store connector slice (DocStore; presto-mongodb
    // MongoSession.buildQuery/buildProjection): BSON-layout documents
    // with a deliberately OVERSIZED unrequested subtree — the cursor
    // reads k / meta.ck / meta.pr by trie walk, length-skips the
    // payload subdocument wholesale, and applies the meta.ck range
    // predicate before any row materializes. The oracle replays the
    // derivation from orders; the pushdown mechanics (skip bytes,
    // decoded-field counts, cursor-level rejection) are spec-pinned in
    // EngineSpecs.
    // Kept as a hand plan: the build reads through the document-store cursor; the oracle text reads orders.
    Q("src_docstore_projection",
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |              FROM orders ORDER BY o_orderkey LIMIT 3000)
        |SELECT CAST(o_orderkey % 8 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS ck_sum,
        |  CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS price_c
        |FROM base WHERE o_custkey % 5 >= 2
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      val dir = "tmp/graft_docstore"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val slice = s.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey").limit(3000).collect()
      val docs = slice.toSeq.map { r =>
        Seq[(String, Any)](
          "k" -> r.getLong(0),
          "meta" -> Seq[(String, Any)]("ck" -> r.getLong(1), "pr" -> r.getDouble(2),
            "ckm" -> r.getLong(1) % 5),
          // the subtree projection pushdown must SKIP, not decode
          "payload" -> Seq[(String, Any)]((0 until 16).map(i =>
            s"f$i" -> s"junk-${r.getLong(0)}-$i" * 4): _*))
      }
      DocStore.writeCollection(dir, "orders", docs, docsPerSegment = 500)
      DocStore.readCollection(s, dir, "orders",
          projection = Seq(("k", "k", "BIGINT"), ("ck", "meta.ck", "BIGINT"),
            ("pr", "meta.pr", "DOUBLE")),
          filters = Seq(DocStore.Pred("meta.ckm", ">=", 2L)))
        .groupBy((col("k") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("ck").as("ck_sum"),
          round(sum("pr") * 100).cast("long").as("price_c"))
        .orderBy("bucket")
    },

    // presto-local-file connector slice (LocalFileOps): http_request_log
    // over a directory of tab-separated, time-ordered log files —
    // LocalFileTables.java:113-128 schema, LocalFileRecordCursor.java
    // tab splitter + ISO offset timestamps + first-record file skip
    // (done at plan time here). Content derives from `orders`, so the
    // oracle replays the derivation straight from parquet; the 06:00
    // lower bound prunes the first two 3-hour-bucket files (spec-pinned)
    // and the row filter finishes the job.
    // Kept as a hand plan: the build reads the local-file connector; the oracle text reads orders.
    Q("src_local_file_log",
      """SELECT CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
        |            WHEN 2 THEN 'PUT' ELSE 'DELETE' END AS method,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS resp_bytes,
        |  CAST(sum(CASE WHEN o_orderkey % 10 IN (7, 8) THEN 1 ELSE 0 END) AS BIGINT) AS not_found
        |FROM orders WHERE (o_orderkey * 7919) % 86400 >= 21600
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val logDir = s"/tmp/graft_localfile_${new java.io.File(dir).getName}"
      LocalFileOps.writeHttpLogs(s, logDir)
      localFileLogRead(s, logDir)
    }.withBench { (s, dir) =>
      // Bench times the CONNECTOR READ (split planning + file pruning +
      // tab parse), not the fixture-log generation: regenerate only when
      // the per-sfDir log directory hasn't been built yet (marker sits
      // OUTSIDE logDir so the reader's file listing never sees it).
      val logDir = s"/tmp/graft_localfile_${new java.io.File(dir).getName}"
      val marker = new java.io.File(logDir + ".complete")
      if (!marker.exists()) {
        LocalFileOps.writeHttpLogs(s, logDir)
        marker.createNewFile()
      }
      localFileLogRead(s, logDir)
    })

  private def localFileLogRead(s: org.apache.spark.sql.SparkSession,
      logDir: String): org.apache.spark.sql.DataFrame = {
    val bound = java.time.OffsetDateTime.parse("1995-01-01T06:00:00+00:00")
    LocalFileOps.readHttpRequestLog(s, logDir, minTs = Some(bound))
      .filter(col("timestamp") >= lit("1995-01-01 06:00:00").cast("timestamp"))
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n"),
        sum("response_size").as("resp_bytes"),
        sum(when(col("response_code") === 404, 1).otherwise(0)).as("not_found"))
  }
}
