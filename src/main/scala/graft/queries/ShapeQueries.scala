package graft.queries

import org.apache.spark.sql.functions._

/** Other relational shapes (SURVEY §2.8): VALUES, UNNEST (+ordinality),
  * correlated/scalar subqueries, CTEs, CASE/COALESCE/NULLIF/TRY_CAST,
  * DISTINCT, TABLESAMPLE, AssignUniqueId.
  *
  * Reference: operator/ValuesOperator.java:27, UnnestOperator.java:35,
  * EnforceSingleRowOperator.java:29, plan/SampleNode.java,
  * AssignUniqueIdOperator.java:29, TryFunction/TryCastFunction.
  */
object ShapeQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    Q.sameSql("shape_values",
      """SELECT id, name, CAST(val AS DOUBLE) AS val
        |FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, NULL, NULL)) AS t(id, name, val)""".stripMargin),

    // UNNEST: explode the split word array — UnnestOperator/ArrayUnnester.
    Q("shape_unnest_wordcount",
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> ''
        |GROUP BY word
        |ORDER BY cnt DESC, word
        |LIMIT 20""".stripMargin) { (s, _) =>
      s.table("documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },

    // Multi-array UNNEST(a, b) — positional zip, shorter side padded
    // with NULL (UnnestOperator over multiple channels). Spark:
    // arrays_zip + explode reproduces the exact padding semantics.
    Q("shape_unnest_multi",
      """SELECT p_partkey, nw, tw
        |FROM (SELECT p_partkey,
        |        unnest(string_split(p_name, ' ')) AS nw,
        |        unnest(string_split(p_type, ' ')) AS tw
        |      FROM part WHERE p_partkey <= 200) t""".stripMargin) { (s, _) =>
      s.table("part").filter(col("p_partkey") <= 200)
        .select(col("p_partkey"),
          explode(arrays_zip(split(col("p_name"), " ").as("nw"),
            split(col("p_type"), " ").as("tw"))).as("z"))
        .select(col("p_partkey"), col("z.nw").as("nw"), col("z.tw").as("tw"))
    },

    // UNNEST WITH ORDINALITY -> posexplode (0-based pos in both sides;
    // DuckDB 1.0 lacks WITH ORDINALITY, so the oracle zips parallel
    // unnests of the value and its generate_subscripts index).
    Q("shape_unnest_ordinality",
      """SELECT doc_id,
        |  CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos,
        |  unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 10""".stripMargin) { (s, _) =>
      s.table("documents").filter(col("doc_id") < 10)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    },

    // Scalar subquery (EnforceSingleRow) in SELECT and WHERE.
    Q.sameSql("shape_scalar_subquery",
      """SELECT o_orderkey, o_totalprice,
        |  o_totalprice - (SELECT avg(o_totalprice) FROM orders) AS delta_from_avg
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5""".stripMargin),

    // Correlated EXISTS — decorrelated to a semi join by Catalyst exactly
    // like the reference's TransformExistsApplyToLateralNode chain.
    Q.sameSql("shape_exists_correlated",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin),

    // Correlated scalar-aggregate subquery.
    Q.sameSql("shape_correlated_scalar",
      """SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT 2 * avg(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin),

    // Explicit SQL LATERAL join — plan/LateralJoinNode.java (Spark >=3.2
    // LATERAL subquery; identical text on both engines).
    Q.sameSql("shape_lateral_join",
      """SELECT o.o_orderkey, t.mq, t.lines
        |FROM orders o,
        |LATERAL (SELECT max(l_quantity) AS mq, CAST(count(*) AS BIGINT) AS lines
        |         FROM lineitem WHERE l_orderkey = o.o_orderkey) t
        |WHERE o.o_orderkey <= 2000""".stripMargin),

    Q.sameSql("shape_cte",
      """WITH nation_avg AS (
        |  SELECT c_nationkey AS nk, avg(c_acctbal) AS avg_bal FROM customer GROUP BY c_nationkey)
        |SELECT c_custkey, c_acctbal, avg_bal
        |FROM customer JOIN nation_avg ON c_nationkey = nk
        |WHERE c_acctbal > avg_bal * 1.8""".stripMargin),

    // CASE / COALESCE / NULLIF / TRY_CAST — conditional surface.
    Q.sameSql("shape_conditionals",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'large'
        |       WHEN o_totalprice > 100000 THEN 'medium'
        |       ELSE 'small' END AS size_class,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
        |  try_cast(o_orderpriority AS INT) AS prio_as_int
        |FROM orders WHERE o_orderkey <= 30000""".stripMargin),

    Q.sameSql("shape_distinct",
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""".stripMargin),

    // DistinctLimit — deterministic form (distinct -> order -> limit).
    Q.sameSql("shape_distinct_limit",
      """SELECT l_partkey FROM lineitem GROUP BY l_partkey ORDER BY l_partkey LIMIT 50""".stripMargin),

    // TABLESAMPLE BERNOULLI (SampleNode) — cross-engine nondeterministic,
    // so the oracle checks the statistical property instead of rows.
    Q("shape_sample_property",
      """SELECT true AS fraction_ok""".stripMargin) { (s, _) =>
      import s.implicits._
      val total = s.table("lineitem").count().toDouble
      val sampled = s.table("lineitem").sample(withReplacement = false, 0.1, seed = 42).count().toDouble
      Seq(sampled / total > 0.05 && sampled / total < 0.15).toDF("fraction_ok")
    },

    // AssignUniqueId — monotonically_increasing_id must be unique across
    // partitions; property-checked (ids are partition-dependent values).
    Q("shape_unique_id_property",
      """SELECT true AS ids_unique""".stripMargin) { (s, _) =>
      import s.implicits._
      val df = s.table("lineitem").withColumn("uid", monotonically_increasing_id())
      // r16: row count from the bare table (parquet metadata count-star;
      // the previous df.count() re-ran the id projection because the
      // non-deterministic column blocks pruning) — one full scan+project
      // saved; the distinct pass is the actual property under test.
      val n = s.table("lineitem").count()
      val d = df.select("uid").distinct().count()
      Seq(n == d).toDF("ids_unique")
    },

    // Recursive CTE — EXTENSION BEYOND THE REFERENCE: SqlBase.g4 carries
    // the RECURSIVE token but the analyzer rejects it (SURVEY §2.8);
    // Spark >= 4.0 executes it natively (UnionLoop). Ancestor walk over
    // an implicit binary-tree hierarchy (parent = id DIV 2): per doc,
    // its depth and the sum of ancestor ids — results only a genuine
    // iterative fixpoint can produce. DuckDB replays the identical
    // recursion.
    Q("shape_recursive_cte",
      """WITH RECURSIVE walk AS (
        |  SELECT doc_id, doc_id AS cur, 0 AS steps FROM documents
        |  UNION ALL
        |  SELECT doc_id, cur // 2 AS cur, steps + 1 FROM walk WHERE cur > 0)
        |SELECT doc_id, CAST(max(steps) AS BIGINT) AS depth,
        |  CAST(sum(cur) AS BIGINT) AS ancestor_sum
        |FROM walk GROUP BY doc_id""".stripMargin) { (s, _) =>
      s.sql(
        """WITH RECURSIVE walk AS (
          |  SELECT doc_id, doc_id AS cur, 0 AS steps FROM documents
          |  UNION ALL
          |  SELECT doc_id, cur DIV 2 AS cur, steps + 1 FROM walk WHERE cur > 0)
          |SELECT doc_id, CAST(max(steps) AS BIGINT) AS depth,
          |  CAST(sum(cur) AS BIGINT) AS ancestor_sum
          |FROM walk GROUP BY doc_id""".stripMargin)
    })
}
