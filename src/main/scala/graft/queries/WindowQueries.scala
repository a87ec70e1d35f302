package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window function coverage (SURVEY §2.5): one physical operator in the
  * reference (operator/WindowOperator.java:47) evaluating ranking /
  * analytic / aggregate functions over ROWS and RANGE frames
  * (operator/window/FrameInfo.java:25-45), plus the top-k fast path
  * (TopNRowNumberOperator.java:38, WindowFilterPushDown.java).
  *
  * Spark: Window.partitionBy.orderBy with rows/rangeBetween — each window
  * is one shuffle on the partition keys then a per-partition sort. The
  * top-k query relies on Catalyst's InferWindowGroupLimit to avoid
  * materializing full partitions at scale.
  *
  * Determinism: every ORDER BY that feeds row_number/ntile/lead/lag ends
  * in a unique key so both engines agree.
  */
object WindowQueries extends QueryModule {

  /** Distributed global ntile(4)/percent_rank/cume_dist: 63
    * approx_percentile cutoffs split the value space into 64 range
    * buckets, exact per-bucket counts become rank offsets (a 64-row
    * broadcast join), and within-bucket row_number + offset is the exact
    * global rank. Two O(buckets) driver actions, no single-task global
    * sort — the scale-safe replacement for `Window.orderBy(...)` (which
    * survives only as a result-identity cross-check in WindowSpecs).
    */
  private[graft] def globalRankScalable(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val cust = s.table("customer").select(col("c_custkey"), col("c_acctbal"))
    val nBuckets = 64
    val fractions = array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)
    val cuts = cust.agg(percentile_approx(col("c_acctbal"), fractions, lit(10000)))
      .head().getSeq[Double](0)
    // Bucket by value range: count of cutoffs strictly below the key.
    val bucketCol = cuts.map(c => (col("c_acctbal") > lit(c)).cast("int"))
      .reduce(_ + _)
    val bucketed = cust.withColumn("bucket", bucketCol)
    val countsRows = bucketed.groupBy("bucket").count().collect()
    val counts = countsRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val offsets = (0 until nBuckets).scanLeft(0L)((acc, b) => acc + counts.getOrElse(b, 0L))
    val offsetDf = s.createDataFrame(
      s.sparkContext.parallelize((0 until nBuckets).map(b => org.apache.spark.sql.Row(b, offsets(b))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("offset", org.apache.spark.sql.types.LongType))))
    val wLocal = Window.partitionBy("bucket").orderBy("c_acctbal", "c_custkey")
    val base = n / 4
    val rem = n % 4
    val ranked = bucketed.join(broadcast(offsetDf), "bucket")
      .withColumn("rk", row_number().over(wLocal).cast("long") + col("offset"))
    ranked.select(col("c_custkey"),
      when(col("rk") <= lit(rem * (base + 1)),
        ceil(col("rk") / lit((base + 1).toDouble)))
        .otherwise(lit(rem) + ceil((col("rk") - lit(rem * (base + 1))) / lit(base.toDouble)))
        .cast("long").as("quartile"),
      (when(lit(n) > 1, (col("rk") - 1) / lit((n - 1).toDouble)).otherwise(lit(0.0)))
        .as("pct_rank"),
      (col("rk") / lit(n.toDouble)).as("cd"))
  }

  /** The textbook single-partition formulation — NOT part of the query
    * surface (it would funnel the table through one task at 100 TB);
    * exists solely so WindowSpecs can pin result-identity against
    * globalRankScalable.
    */
  private[graft] def globalRankBaseline(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val w = Window.orderBy("c_acctbal", "c_custkey")
    s.table("customer").select(col("c_custkey"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cd"))
  }

  def queries: Seq[Q] = Seq(

    Q.sameSql("win_ranking",
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber, l_quantity) AS BIGINT) AS rn,
        |  CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS BIGINT) AS drnk
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin),

    Q.sameSql("win_running_sum",
      """SELECT l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin),

    // RANGE frame over a timestamp with an interval bound — FrameInfo
    // RANGE + bounded PRECEDING. Value-based frame => deterministic
    // under date ties.
    Q.sameSql("win_range_interval",
      """SELECT o_orderkey,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW) AS rolling_90d
        |FROM orders""".stripMargin),

    // Numeric RANGE frame (value-based bounds on a numeric sort key) —
    // the other FrameInfo RANGE variant beside the interval one. The
    // partition key is o_custkey (high cardinality): a 3-value key like
    // o_orderstatus funnels the whole table through 3 tasks at scale.
    Q.sameSql("win_range_numeric",
      """SELECT o_orderkey,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000.0 PRECEDING AND CURRENT ROW) AS near_total
        |FROM orders""".stripMargin),

    Q.sameSql("win_lead_lag",
      """SELECT o_orderkey,
        |  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice, 1, -1.0) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders""".stripMargin),

    // Global ntile/percent_rank/cume_dist — served by the DISTRIBUTED
    // formulation (globalRankScalable below). The textbook
    // single-partition `Window.orderBy(...)` baseline lives only in
    // WindowSpecs as a result-identity cross-check: it would funnel the
    // whole table through ONE task at scale, and keeping it out of the
    // query surface means a copy-pasting user gets the scalable plan.
    Q("win_ntile_dist",
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cd
        |FROM customer""".stripMargin) { (s, _) => globalRankScalable(s) },

    // Same oracle, same plan — kept as a second entry so the name the
    // r5/r6 rounds shipped under remains addressable.
    Q("win_rank_global_scalable",
      """SELECT c_custkey,
        |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cd
        |FROM customer""".stripMargin) { (s, _) => globalRankScalable(s) },

    Q.sameSql("win_first_last_nth",
      """SELECT s_suppkey,
        |  first_value(s_name) OVER w AS first_name,
        |  last_value(s_name) OVER w AS last_name,
        |  nth_value(s_name, 2) OVER w AS second_name
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),

    // Top-k per group: row_number <= k filter — the reference's
    // TopNRowNumberOperator fast path; Spark's InferWindowGroupLimit.
    Q.sameSql("win_topk_per_group",
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    // Whole-partition aggregate window (no ORDER BY => full frame) and a
    // sliding ROWS frame — AggregateWindowFunction.java.
    Q("win_partition_agg",
      """SELECT l_orderkey, l_linenumber,
        |  avg(l_extendedprice) OVER (PARTITION BY l_orderkey) AS order_avg_price,
        |  CAST(count(*) OVER (PARTITION BY l_orderkey) AS BIGINT) AS order_lines,
        |  min(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS neighborhood_min
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin) { (s, _) =>
      val full = Window.partitionBy("l_orderkey")
      val slide = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity").rowsBetween(-1, 1)
      s.table("lineitem").filter(col("l_orderkey") <= 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          avg("l_extendedprice").over(full).as("order_avg_price"),
          count(lit(1)).over(full).as("order_lines"),
          min("l_quantity").over(slide).as("neighborhood_min"))
    })
}
