package graft.queries

import org.apache.spark.sql.functions._

/** Sketch aggregates (SURVEY §2.4 sketches): approx_distinct, HLL
  * approx_set/merge/cardinality, SetDigest jaccard, approx_percentile,
  * checksum. Sketch estimates are engine-specific, so DuckDB cannot
  * hash-match raw values; instead each query asserts the sketch's
  * *contract* (tolerance vs exact, mergeability, order-independence) and
  * returns booleans the oracle states as literals. The exact values
  * backing each boolean are computed in the same Spark job.
  *
  * Reference: ApproximateCountDistinctAggregation.java:43,
  * ApproximateSetAggregation.java, MergeHyperLogLogAggregation.java,
  * HyperLogLogFunctions.java, setdigest/SetDigestFunctions.java,
  * ApproximateLongPercentileAggregations.java,
  * ChecksumAggregationFunction.java:47.
  */
object SketchQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    // approx_distinct (Spark HLL++) within 5% of exact on two columns.
    Q("sketch_approx_distinct",
      """SELECT true AS parts_ok, true AS orders_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val r = s.table("lineitem").agg(
        approx_count_distinct("l_partkey").as("apx_p"),
        countDistinct("l_partkey").as("ex_p"),
        approx_count_distinct("l_orderkey").as("apx_o"),
        countDistinct("l_orderkey").as("ex_o")).head()
      // Spark's default rsd is 0.05 — test at 3 sigma so the contract
      // check isn't a coin flip at small cardinalities.
      def ok(a: Long, e: Long): Boolean = math.abs(a - e).toDouble / e < 0.15
      Seq((ok(r.getLong(0), r.getLong(1)), ok(r.getLong(2), r.getLong(3))))
        .toDF("parts_ok", "orders_ok")
    }.withBench { (s, _) =>
      s.table("lineitem").agg(
        approx_count_distinct("l_partkey").as("apx_p"),
        approx_count_distinct("l_orderkey").as("apx_o"))
    },

    // Custom HLL: accuracy + mergeability. Merging per-group sketches
    // must yield the same registers as one global sketch (register-max is
    // associative/commutative), and both estimates must be within 5%.
    Q("sketch_hll_merge",
      """SELECT true AS accuracy_ok, true AS merge_consistent""".stripMargin) { (s, _) =>
      import s.implicits._
      val global = s.sql(
        "SELECT hll_cardinality(approx_set(l_partkey)) AS est FROM lineitem").head().getLong(0)
      val merged = s.sql(
        """SELECT hll_cardinality(merge_hll(sk)) AS est FROM
          |  (SELECT approx_set(l_partkey) AS sk FROM lineitem GROUP BY l_returnflag)""".stripMargin)
        .head().getLong(0)
      val exact = s.table("lineitem").agg(countDistinct("l_partkey")).head().getLong(0)
      Seq((math.abs(global - exact).toDouble / exact < 0.05, global == merged))
        .toDF("accuracy_ok", "merge_consistent")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT hll_cardinality(merge_hll(sk)) AS est FROM
          |  (SELECT approx_set(l_partkey) AS sk FROM lineitem GROUP BY l_returnflag)""".stripMargin)
    },

    // SetDigest bottom-k jaccard vs the exact Jaccard of two part-key
    // sets (A = qty<25 is a subset of B = qty<30 => J = |A|/|B|).
    Q("sketch_setdigest_jaccard",
      """SELECT true AS jaccard_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val est = s.sql(
        """SELECT jaccard_index(
          |  (SELECT make_set_digest(l_partkey) FROM lineitem WHERE l_quantity < 25),
          |  (SELECT make_set_digest(l_partkey) FROM lineitem WHERE l_quantity < 30)) AS j""".stripMargin)
        .head().getDouble(0)
      val exact = s.sql(
        """SELECT CAST(count(DISTINCT CASE WHEN a AND b THEN k END) AS DOUBLE)
          |     / count(DISTINCT CASE WHEN a OR b THEN k END) AS j
          |FROM (SELECT l_partkey AS k, l_quantity < 25 AS a, l_quantity < 30 AS b FROM lineitem)""".stripMargin)
        .head().getDouble(0)
      Seq(math.abs(est - exact) < 0.15).toDF("jaccard_ok")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT jaccard_index(
          |  (SELECT make_set_digest(l_partkey) FROM lineitem WHERE l_quantity < 25),
          |  (SELECT make_set_digest(l_partkey) FROM lineitem WHERE l_quantity < 30)) AS j""".stripMargin)
    },

    // SetDigest scalar tail — SetDigestFunctions.java:47-104:
    // set_digest_cardinality, intersection_cardinality, hash_counts.
    // Contract: on sub-k sets the digest is exact (intersection and
    // per-hash occurrence counts are equalities, not estimates); on a
    // saturated digest the KMV cardinality lands within 15% of exact.
    Q("sketch_setdigest_intersect",
      """SELECT true AS exact_inter_ok, true AS exact_card_ok,
        |  true AS hash_counts_ok, true AS kmv_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val r = s.sql(
        """WITH dc AS (SELECT make_set_digest(c_nationkey) AS dg FROM customer),
          |     dn AS (SELECT make_set_digest(n_nationkey) AS dg FROM nation WHERE n_nationkey < 10),
          |     dl AS (SELECT make_set_digest(l_partkey) AS dg FROM lineitem)
          |SELECT
          |  intersection_cardinality(dc.dg, dn.dg) AS inter,
          |  set_digest_cardinality(dc.dg) AS card,
          |  aggregate(map_values(hash_counts(dc.dg)),
          |    0L, (acc, x) -> acc + CAST(x AS BIGINT)) AS occ_sum,
          |  set_digest_cardinality(dl.dg) AS kmv
          |FROM dc, dn, dl""".stripMargin).head()
      val exactInter = s.sql(
        "SELECT count(DISTINCT c_nationkey) FROM customer WHERE c_nationkey < 10")
        .head().getLong(0)
      val exactNations = s.sql("SELECT count(DISTINCT c_nationkey) FROM customer")
        .head().getLong(0)
      val nCustomers = s.table("customer").count()
      val exactParts = s.sql("SELECT count(DISTINCT l_partkey) FROM lineitem")
        .head().getLong(0)
      Seq((r.getLong(0) == exactInter, r.getLong(1) == exactNations,
        r.getLong(2) == nCustomers,
        math.abs(r.getLong(3).toDouble - exactParts) / exactParts < 0.15))
        .toDF("exact_inter_ok", "exact_card_ok", "hash_counts_ok", "kmv_ok")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT
          |  intersection_cardinality(
          |    (SELECT make_set_digest(c_nationkey) FROM customer),
          |    (SELECT make_set_digest(n_nationkey) FROM nation WHERE n_nationkey < 10)) AS inter,
          |  set_digest_cardinality(
          |    (SELECT make_set_digest(l_partkey) FROM lineitem)) AS kmv""".stripMargin)
    },

    // approx_percentile within 1% of the exact quantiles.
    Q("sketch_approx_percentile",
      """SELECT true AS p50_ok, true AS p95_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val r = s.sql(
        """SELECT
          |  approx_percentile(o_totalprice, 0.5, 10000) AS ap50,
          |  approx_percentile(o_totalprice, 0.95, 10000) AS ap95,
          |  percentile(o_totalprice, 0.5) AS ex50,
          |  percentile(o_totalprice, 0.95) AS ex95
          |FROM orders""".stripMargin).head()
      def ok(a: Double, e: Double): Boolean = math.abs(a - e) / e < 0.01
      Seq((ok(r.getDouble(0), r.getDouble(2)), ok(r.getDouble(1), r.getDouble(3))))
        .toDF("p50_ok", "p95_ok")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT approx_percentile(o_totalprice, 0.5, 10000) AS ap50,
          |       approx_percentile(o_totalprice, 0.95, 10000) AS ap95
          |FROM orders""".stripMargin)
    },

    // Custom mergeable quantile sketch (qdigest role): per-group sketches
    // merged must answer within 2% of exact quantiles.
    Q("sketch_qdigest",
      """SELECT true AS p50_ok, true AS p90_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val merged = s.sql(
        """SELECT qdigest_value_at(qdigest_agg(l_extendedprice), 0.5) AS q50,
          |       qdigest_value_at(qdigest_agg(l_extendedprice), 0.9) AS q90
          |FROM lineitem""".stripMargin).head()
      val exact = s.sql(
        "SELECT percentile(l_extendedprice, 0.5), percentile(l_extendedprice, 0.9) FROM lineitem").head()
      def ok(a: Double, e: Double) = math.abs(a - e) / e < 0.02
      Seq((ok(merged.getDouble(0), exact.getDouble(0)), ok(merged.getDouble(1), exact.getDouble(1))))
        .toDF("p50_ok", "p90_ok")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT qdigest_value_at(qdigest_agg(l_extendedprice), 0.5) AS q50,
          |       qdigest_value_at(qdigest_agg(l_extendedprice), 0.9) AS q90
          |FROM lineitem""".stripMargin)
    },

    // Misra-Gries heavy hitters contract: every token with true
    // frequency > N/k must survive the sketch (the MG guarantee), and
    // the sketch holds at most k-1 counters.
    Q("sketch_heavy_hitters",
      """SELECT true AS contains_all_heavy, true AS bounded""".stripMargin) { (s, _) =>
      import s.implicits._
      val k = 50
      val words = s.table("documents")
        .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
      words.createOrReplaceTempView("graft_words")
      val sketch = s.sql(s"SELECT approx_heavy_hitters(w, $k) AS hh FROM graft_words")
        .head().getMap[String, Long](0)
      val n = words.count()
      val exactHeavy = words.groupBy("w").agg(count(lit(1)).as("c"))
        .filter(col("c") > n / k).collect().map(_.getString(0)).toSet
      val keys = sketch.keys.toSet
      Seq((exactHeavy.subsetOf(keys), keys.size <= k - 1))
        .toDF("contains_all_heavy", "bounded")
    }.withBench { (s, _) =>
      s.table("documents")
        .select(explode(split(col("text"), " ")).as("w")).filter(col("w") =!= "")
        .createOrReplaceTempView("graft_words_bench")
      s.sql("SELECT approx_heavy_hitters(w, 50) AS hh FROM graft_words_bench")
        .selectExpr("CAST(cardinality(hh) AS BIGINT) AS n_counters")
    },

    // checksum: order-independent (xor of xxhash64) — same result no
    // matter how the input is partitioned/ordered, and sensitive to any
    // changed row.
    Q("sketch_checksum",
      """SELECT true AS order_independent, true AS change_sensitive""".stripMargin) { (s, _) =>
      import s.implicits._
      s.table("lineitem").orderBy(col("l_extendedprice").desc)
        .createOrReplaceTempView("lineitem_reordered")
      val a = s.sql("SELECT checksum(l_orderkey * 31 + l_linenumber) AS c FROM lineitem")
        .head().getLong(0)
      val b = s.sql("SELECT checksum(l_orderkey * 31 + l_linenumber) AS c FROM lineitem_reordered")
        .head().getLong(0)
      val c = s.sql("SELECT checksum(l_orderkey * 31 + l_linenumber + 1) AS c FROM lineitem")
        .head().getLong(0)
      Seq((a == b, a != c)).toDF("order_independent", "change_sensitive")
    }.withBench { (s, _) =>
      s.sql("SELECT checksum(l_orderkey * 31 + l_linenumber) AS c FROM lineitem")
    },

    // values_at_quantiles — QuantileDigestFunctions.java:99: batch
    // quantile extraction from one merged sketch, each within 2% of the
    // exact percentile (the qdigest contract).
    Q("sketch_values_at_quantiles",
      """SELECT true AS q25_ok, true AS q50_ok, true AS q75_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val vs = s.sql(
        """SELECT values_at_quantiles(qdigest_agg(l_extendedprice),
          |                           array(0.25D, 0.5D, 0.75D)) AS vs
          |FROM lineitem""".stripMargin).head().getSeq[Double](0)
      val exact = s.sql(
        """SELECT percentile(l_extendedprice, 0.25), percentile(l_extendedprice, 0.5),
          |       percentile(l_extendedprice, 0.75) FROM lineitem""".stripMargin).head()
      def ok(i: Int) = math.abs(vs(i) - exact.getDouble(i)) / exact.getDouble(i) < 0.02
      Seq((ok(0), ok(1), ok(2))).toDF("q25_ok", "q50_ok", "q75_ok")
    }.withBench { (s, _) =>
      s.sql(
        """SELECT values_at_quantiles(qdigest_agg(l_extendedprice),
          |                           array(0.25D, 0.5D, 0.75D)) AS vs
          |FROM lineitem""".stripMargin)
        .selectExpr("vs[0] AS q25", "vs[1] AS q50", "vs[2] AS q75")
    },

    // qdigest_merge — merge(qdigest) re-aggregation
    // (QuantileDigestAggregationFunction.java): per-supplier sketches
    // re-merged must answer within 2% of exact, same contract as the
    // direct path. Also covers the array form of approx_percentile
    // (ApproximateLongPercentileArrayAggregations.java) via Spark's
    // native percentile_approx over an array of percentages.
    Q("sketch_qdigest_merge",
      """SELECT true AS q50_ok, true AS q90_ok, true AS arr_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val merged = s.sql(
        """WITH per AS (SELECT l_suppkey, qdigest_agg(l_extendedprice) AS d
          |             FROM lineitem GROUP BY l_suppkey)
          |SELECT qdigest_value_at(qdigest_merge(d), 0.5) AS q50,
          |       qdigest_value_at(qdigest_merge(d), 0.9) AS q90
          |FROM per""".stripMargin).head()
      val arr = s.sql(
        "SELECT approx_percentile(l_extendedprice, array(0.5D, 0.9D), 10000) FROM lineitem")
        .head().getSeq[Double](0)
      val exact = s.sql(
        "SELECT percentile(l_extendedprice, 0.5), percentile(l_extendedprice, 0.9) FROM lineitem").head()
      def ok(a: Double, e: Double) = math.abs(a - e) / e < 0.02
      Seq((ok(merged.getDouble(0), exact.getDouble(0)),
        ok(merged.getDouble(1), exact.getDouble(1)),
        ok(arr(0), exact.getDouble(0)) && ok(arr(1), exact.getDouble(1))))
        .toDF("q50_ok", "q90_ok", "arr_ok")
    }.withBench { (s, _) =>
      s.sql(
        """WITH per AS (SELECT l_suppkey, qdigest_agg(l_extendedprice) AS d
          |             FROM lineitem GROUP BY l_suppkey)
          |SELECT qdigest_value_at(qdigest_merge(d), 0.5) AS q50,
          |       qdigest_value_at(qdigest_merge(d), 0.9) AS q90
          |FROM per""".stripMargin)
    },

    // merge_set_digest — MergeSetDigestAggregation.java:34. Bottom-k is
    // EXACT under merge (bottom-k of a union of bottom-ks = bottom-k of
    // the union), so re-merging per-supplier digests must reproduce the
    // direct whole-table digest bit-for-bit: jaccard == 1.0.
    Q("sketch_setdigest_merge",
      """SELECT CAST(1.0 AS DOUBLE) AS merged_vs_direct""".stripMargin) { (s, _) =>
      s.sql(
        """WITH per AS (SELECT l_suppkey, make_set_digest(l_partkey) AS d
          |             FROM lineitem GROUP BY l_suppkey)
          |SELECT jaccard_index(
          |  (SELECT merge_set_digest(d) FROM per),
          |  (SELECT make_set_digest(l_partkey) FROM lineitem)) AS merged_vs_direct""".stripMargin)
    })
}
