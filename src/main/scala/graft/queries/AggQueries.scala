package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Aggregation coverage (SURVEY §2.4): global + hash agg, DISTINCT
  * aggregates, FILTER clause, GROUPING SETS / ROLLUP / CUBE + grouping(),
  * min_by/max_by, statistics aggs, bool aggs, sorted array_agg.
  *
  * Reference: operator/AggregationOperator.java:35,
  * HashAggregationOperator.java:47, GroupIdOperator.java:32,
  * MarkDistinctOperator.java:35, aggregation/MinMaxByAggregations,
  * VarianceAggregation.java, CentralMomentsAggregation.java.
  *
  * Spark handles partial/final split + spill; DISTINCT via Catalyst
  * RewriteDistinctAggregates (= the reference's MarkDistinct machinery).
  */
object AggQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    Q.sameSql("agg_global",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  sum(l_quantity) AS sum_qty,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  avg(l_extendedprice) AS avg_price,
        |  min(l_shipdate) AS min_ship,
        |  max(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin),

    Q.sameSql("agg_distinct",
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |FROM lineitem""".stripMargin),

    // Mixed distinct + plain aggregates per group — the reference's
    // OptimizeMixedDistinctAggregations path.
    Q.sameSql("agg_mixed_distinct",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // FILTER clause on aggregate arguments — ImplementFilteredAggregations.
    Q.sameSql("agg_filter_clause",
      """SELECT l_linestatus,
        |  sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS qty_returned,
        |  sum(l_quantity) FILTER (WHERE l_returnflag <> 'R') AS qty_kept,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted
        |FROM lineitem GROUP BY l_linestatus""".stripMargin),

    Q.sameSql("agg_having",
      """SELECT l_partkey, sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY l_partkey HAVING sum(l_quantity) > 100""".stripMargin),

    Q.sameSql("agg_rollup",
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    Q.sameSql("agg_cube",
      """SELECT o_orderstatus, o_orderpriority, sum(o_totalprice) AS total,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin),

    // GROUPING SETS + grouping() marker — GroupIdOperator.java:32,
    // GroupingOperationRewriter.java.
    Q.sameSql("agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))""".stripMargin),

    // min_by / max_by — minmaxby/ MaxByAggregationFunction (DuckDB:
    // arg_*). The ordering key embeds c_custkey so ties on the 2-decimal
    // balance break deterministically in both engines (cents step 1e7
    // dominates the <1e7 custkey).
    Q("agg_minmax_by",
      """SELECT arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS richest,
        |  arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS poorest,
        |  max(c_acctbal) AS max_bal, min(c_acctbal) AS min_bal
        |FROM customer""".stripMargin) { (s, _) =>
      val tieKey = round(col("c_acctbal") * 100).cast("long") * 10000000L + col("c_custkey")
      s.table("customer").agg(
        max_by(col("c_name"), tieKey).as("richest"),
        min_by(col("c_name"), tieKey).as("poorest"),
        max("c_acctbal").as("max_bal"),
        min("c_acctbal").as("min_bal"))
    },

    // Statistics aggregates — VarianceAggregation.java,
    // DoubleCovarianceAggregation.java, DoubleCorrelationAggregation.java.
    Q.sameSql("agg_stats",
      """SELECT var_samp(l_quantity) AS vs, var_pop(l_quantity) AS vp,
        |  stddev_samp(l_quantity) AS ss, stddev_pop(l_quantity) AS sp,
        |  corr(l_quantity, l_extendedprice) AS c,
        |  covar_samp(l_quantity, l_extendedprice) AS cvs,
        |  covar_pop(l_quantity, l_extendedprice) AS cvp
        |FROM lineitem""".stripMargin),

    // Linear regression aggregates — DoubleRegressionAggregation.java
    // (regr_slope/regr_intercept); per-group over the returnflag split.
    // Rounded to 6 decimals on both sides: the two engines' summation
    // orders differ at ~1e-13 relative, past the comparator's tolerance.
    Q.sameSql("agg_regr",
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Interval aggregation — IntervalYearToMonthSum/AverageAggregation,
    // IntervalDayToSecondSum/AverageAggregation. Real ANSI interval
    // values ride Spark's sum/avg; outputs convert to total months /
    // seconds since DuckDB cannot aggregate intervals. The YM value is
    // constant per group so its avg is exact (month division rounding
    // is engine-specific); the DT path exercises fractional-micros avg,
    // whose floor-composition (micros -> seconds) matches integer
    // division.
    Q("agg_interval",
      """SELECT o_orderpriority,
        |  CAST(sum(length(o_orderpriority) % 5) AS BIGINT) AS ym_sum_months,
        |  CAST(min(length(o_orderpriority) % 5) AS BIGINT) AS ym_avg_months,
        |  CAST(sum(o_orderkey % 90) AS BIGINT) AS ds_sum_secs,
        |  CAST(sum(o_orderkey % 90) // count(*) AS BIGINT) AS ds_avg_secs
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, _) =>
      s.table("orders").groupBy("o_orderpriority").agg(
        expr("CAST(sum(make_ym_interval(0, CAST(length(o_orderpriority) % 5 AS INT))) AS BIGINT)")
          .as("ym_sum_months"),
        expr("CAST(avg(make_ym_interval(0, CAST(length(o_orderpriority) % 5 AS INT))) AS BIGINT)")
          .as("ym_avg_months"),
        expr("CAST(sum(make_dt_interval(0, 0, 0, CAST(o_orderkey % 90 AS DOUBLE))) AS BIGINT)")
          .as("ds_sum_secs"),
        expr("CAST(avg(make_dt_interval(0, 0, 0, CAST(o_orderkey % 90 AS DOUBLE))) AS BIGINT)")
          .as("ds_avg_secs"))
    },

    // skewness / kurtosis — CentralMomentsAggregation.java. Spark computes
    // population moments (g1, excess g2); DuckDB's builtins use sample
    // formulas, so the oracle computes the population moments explicitly.
    // Outputs are rounded to 6 decimals in BOTH engines: skew of this
    // near-symmetric data is ~1e-4, where 12-significant-digit hash
    // agreement would demand 1e-16 — beyond what two different moment
    // summation orders can guarantee.
    Q("agg_skew_kurt",
      """WITH m AS (SELECT avg(l_quantity) AS mu, CAST(count(*) AS DOUBLE) AS n FROM lineitem)
        |SELECT
        |  round((sum(pow(l_quantity - mu, 3)) / any_value(n)) / pow(sum(pow(l_quantity - mu, 2)) / any_value(n), 1.5), 6) AS skew,
        |  round((sum(pow(l_quantity - mu, 4)) / any_value(n)) / pow(sum(pow(l_quantity - mu, 2)) / any_value(n), 2.0) - 3.0, 6) AS kurt
        |FROM lineitem, m""".stripMargin) { (s, _) =>
      s.table("lineitem").agg(
        round(skewness(col("l_quantity")), 6).as("skew"),
        round(kurtosis(col("l_quantity")), 6).as("kurt"))
    },

    Q.sameSql("agg_bool",
      """SELECT l_returnflag,
        |  bool_and(l_discount <= 0.1) AS all_small_disc,
        |  bool_or(l_quantity >= 49) AS any_big_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // count_if — CountIfAggregation.java.
    Q.sameSql("agg_count_if",
      """SELECT o_orderstatus,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big
        |FROM orders GROUP BY o_orderstatus""".stripMargin),

    // Sorted array_agg — arrayagg/ + PruneOrderByInAggregation; Spark
    // expresses ORDER BY inside agg as sort_array(collect_list(...)).
    // Rendered joined as CSV: the verifier's pandas bridge cannot sort
    // ndarray-valued columns, so array outputs ship as strings.
    Q("agg_array_sorted",
      """SELECT l_orderkey,
        |  array_to_string(array_agg(l_linenumber ORDER BY l_linenumber), ',') AS line_numbers
        |FROM lineitem WHERE l_orderkey <= 200 GROUP BY l_orderkey""".stripMargin) { (s, _) =>
      s.table("lineitem").filter(col("l_orderkey") <= 200)
        .groupBy("l_orderkey")
        .agg(array_join(transform(sort_array(collect_list("l_linenumber")),
          x => x.cast("string")), ",").as("line_numbers"))
    },

    // min(x,n)/max(x,n) multi-value variants — MinNAggregationFunction via
    // TypedHeap; Spark expresses them as slice(sort_array(collect_list)).
    // Elements are prices rendered as integer cents so the string compare
    // is float-format-independent.
    Q("agg_min_max_n",
      """SELECT l_returnflag,
        |  array_to_string(list_transform((list_sort(array_agg(l_extendedprice)))[1:5],
        |    x -> CAST(round(x * 100) AS BIGINT)), ',') AS min5_price,
        |  array_to_string(list_transform((list_sort(array_agg(l_extendedprice), 'DESC'))[1:5],
        |    x -> CAST(round(x * 100) AS BIGINT)), ',') AS max5_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      def cents(c: Column): Column = round(c * 100).cast("long").cast("string")
      s.table("lineitem").groupBy("l_returnflag").agg(
        array_join(transform(slice(sort_array(collect_list("l_extendedprice")), 1, 5), cents _), ",")
          .as("min5_price"),
        array_join(transform(slice(sort_array(collect_list("l_extendedprice"), asc = false), 1, 5), cents _), ",")
          .as("max5_price"))
    },

    // map_agg(k, v) — MapAggregationFunction.java:48, since r8 a real
    // aggregate function (GenericMapAggs: distinct-key-bounded buffer,
    // map-side combine) instead of a map_from_entries(collect_list)
    // composition whose partial state was the ROW LIST. Rendered as
    // sorted "k=v" strings so the compare is map-order-independent.
    Q("agg_map_agg",
      """SELECT array_to_string(list_sort(list_transform(map_entries(map_from_entries(
        |    array_agg({'k': c_custkey, 'v': c_name}))), e -> CAST(e.key AS VARCHAR) || '=' || e.value)), ',') AS kv
        |FROM customer WHERE c_custkey <= 20""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT array_join(array_sort(transform(map_entries(map_agg(c_custkey, c_name)),
          |    e -> concat(CAST(e.key AS STRING), '=', e.value))), ',') AS kv
          |FROM customer WHERE c_custkey <= 20""".stripMargin)
    },

    // map_union(map) — MapUnionAggregation.java:46. Per-flag maps with
    // disjoint keys union into one map; rendered as sorted "k=v" strings
    // (the comparator cannot hash raw maps).
    Q("agg_map_union",
      """SELECT string_agg(k || '=' || CAST(cnt AS VARCHAR), ',' ORDER BY k) AS kv
        |FROM (SELECT l_returnflag || '-' || l_linestatus AS k,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM lineitem GROUP BY 1)""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT array_join(array_sort(transform(map_entries(map_union(m)),
          |    e -> concat(e.key, '=', CAST(e.value AS STRING)))), ',') AS kv
          |FROM (SELECT l_returnflag,
          |        map_from_entries(collect_list(
          |          struct(concat(l_returnflag, '-', l_linestatus), cnt))) AS m
          |      FROM (SELECT l_returnflag, l_linestatus, count(*) AS cnt
          |            FROM lineitem GROUP BY 1, 2)
          |      GROUP BY l_returnflag)""".stripMargin)
    },

    // numeric_histogram(buckets, x) — NumericHistogram.java:36. With
    // distinct(l_quantity) <= buckets the Ben-Haim/Tom-Tov sketch is
    // exact (no centroid merges), so the value->weight map hash-matches
    // an exact per-value count; the merging regime is spec-tested.
    Q("agg_numeric_histogram",
      """SELECT l_returnflag,
        |  string_agg(lpad(CAST(CAST(q AS INT) AS VARCHAR), 2, '0') || ':' ||
        |    CAST(CAST(c AS INT) AS VARCHAR), ',' ORDER BY q) AS hist
        |FROM (SELECT l_returnflag, l_quantity AS q, count(*) AS c
        |      FROM lineitem GROUP BY 1, 2)
        |GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      s.sql(
        """SELECT l_returnflag,
          |  array_join(array_sort(transform(map_entries(numeric_histogram(60, l_quantity)),
          |    e -> concat(lpad(CAST(CAST(e.key AS INT) AS STRING), 2, '0'), ':',
          |                CAST(CAST(e.value AS INT) AS STRING)))), ',') AS hist
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    },

    // histogram(x) — histogram/Histogram.java:48: value -> occurrence map,
    // rendered as sorted "value:count" strings.
    Q("agg_histogram",
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list_transform(map_entries(histogram(CAST(l_quantity AS INT))),
        |    e -> lpad(CAST(e.key AS VARCHAR), 2, '0') || ':' || CAST(e.value AS VARCHAR))), ',') AS qty_histogram
        |FROM lineitem WHERE l_quantity <= 5 GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      // r8: the real histogram() aggregate (GenericMapAggs) replaces the
      // two-level group-by composition — one shuffle instead of two, and
      // the partial state is the value->count map itself.
      s.sql(
        """SELECT l_returnflag,
          |  array_join(array_sort(transform(map_entries(histogram(CAST(l_quantity AS INT))),
          |    e -> concat(lpad(CAST(e.key AS STRING), 2, '0'), ':', CAST(e.value AS STRING)))), ',') AS qty_histogram
          |FROM lineitem WHERE l_quantity <= 5 GROUP BY l_returnflag""".stripMargin)
    },

    // multimap_agg(k, v) -> map k -> array<v> — multimapagg/; rendered as
    // "k=[v1|v2|...]" rows (one per key) for order-independent compare.
    Q("agg_multimap",
      """SELECT c_mktsegment, c_nationkey AS nk,
        |  array_to_string(list_sort(array_agg(c_name)), '|') AS members
        |FROM customer GROUP BY c_mktsegment, c_nationkey""".stripMargin) { (s, _) =>
      // r8: the real multimap_agg() aggregate (GenericMapAggs), grouped
      // by segment so the shuffle stays parallel (the map key carries
      // the nation sub-grouping). element_at pulls each key's list back
      // out, proving key routing; sorted render keeps the compare
      // order-independent.
      s.sql(
        """SELECT c_mktsegment, nk, array_join(array_sort(element_at(mm, nk)), '|') AS members
          |FROM (SELECT c_mktsegment, multimap_agg(c_nationkey, c_name) AS mm
          |      FROM customer GROUP BY c_mktsegment)
          |LATERAL VIEW explode(map_keys(mm)) AS nk""".stripMargin)
    },

    // reduce_agg(input, init, lambda) — ReduceAggregationFunction.java.
    // Implemented as a typed Aggregator[IN,BUF,OUT] (TypedAggregators):
    // constant-size buffer per group, safe for unbounded groups —
    // unlike a collect_list composition. Quantities are small integers,
    // so the double sum is exact regardless of merge order.
    Q("agg_reduce",
      """SELECT l_returnflag, sum(l_quantity * l_quantity) AS sum_sq
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, _) =>
      s.sql("SELECT l_returnflag, reduce_sumsq(l_quantity) AS sum_sq FROM lineitem GROUP BY l_returnflag")
    },

    // geometric_mean — reference aggregation/GeometricMeanAggregations.
    Q.sameSql("agg_geometric_mean",
      """SELECT l_returnflag, exp(avg(ln(l_quantity))) AS geo_mean_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // bit_and / bit_or — Spark's native aggregates (partial/final,
    // constant buffers) behind the reference's bitwise_and_agg /
    // bitwise_or_agg (BitwiseAndAggregation.java:38,
    // BitwiseOrAggregation.java:38), which FunctionRegistry aliases onto
    // them (EngineSpecs pins the alias); bit_xor rides along (same family
    // as the checksum path).
    Q.sameSql("agg_bitwise",
      """SELECT n_regionkey,
        |  bit_and(n_nationkey) AS band,
        |  bit_or(n_nationkey) AS bor,
        |  bit_xor(n_nationkey) AS bxor
        |FROM nation GROUP BY n_regionkey""".stripMargin))
}
