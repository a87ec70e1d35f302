package graft.queries

import org.apache.spark.sql.functions._

/** ML plugin queries (presto-ml; SURVEY §2.9 "ML plugin"): the
  * learn/classify/regress SQL surface over deterministic synthetic
  * features derived from customer keys.
  *
  * Oracle strategy: model *training* is not SQL-expressible, so each
  * query is a CONTRACT with a closed-form answer the oracle can state
  * exactly:
  *  - the classifier trains and predicts on linearly-separable data
  *    with a margin (the band |f| <= 0.95 around the true separator is
  *    excluded, and f lands on a 0.1 grid so no value falls within fp
  *    noise of the 0.95 cut) — training accuracy must be exactly 100%;
  *  - the regressor fits exactly-linear data y = 1 + 2*x1 + 3*x2 — the
  *    normal-equation solution reproduces y to fp noise, so
  *    round(max|err|, 6) = 0.
  * Feature values derive from c_custkey with identical arithmetic on
  * both sides, so filters/counts match bit-for-bit.
  */
object MlQueries extends QueryModule {

  private val featSql = Seq(
    "((c_custkey * 7) % 100) / 10.0 AS x1",
    "((c_custkey * 13) % 100) / 10.0 AS x2")

  def queries: Seq[Q] = Seq(

    Q("ml_learn_classify",
      """WITH pts AS (
        |  SELECT c_custkey,
        |         ((c_custkey * 7) % 100) / 10.0 AS x1,
        |         ((c_custkey * 13) % 100) / 10.0 AS x2
        |  FROM customer),
        |lab AS (
        |  SELECT c_custkey, x1, x2,
        |         CASE WHEN 2*x1 + 3*x2 - 25 > 0.95 THEN 1 ELSE 0 END AS label
        |  FROM pts WHERE abs(2*x1 + 3*x2 - 25) > 0.95)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(*) AS BIGINT) AS n_correct,
        |       concat('Accuracy: ', count(*), '/', count(*), ' (100.00%)') AS summary
        |FROM lab""".stripMargin) { (s, _) =>
      val lab = s.table("customer")
        .selectExpr(Seq("c_custkey") ++ featSql: _*)
        .filter(expr("abs(2*x1 + 3*x2 - 25) > 0.95"))
        .withColumn("label", expr("CASE WHEN 2*x1 + 3*x2 - 25 > 0.95 THEN 1 ELSE 0 END"))
      val model = lab.agg(expr("learn_classifier(label, features(x1, x2))").as("model"))
      val scored = lab.crossJoin(broadcast(model))
        .withColumn("pred", expr("classify(features(x1, x2), model)"))
      scored.agg(
        count(lit(1)).as("n_total"),
        count(when(col("pred") === col("label"), 1)).as("n_correct"),
        expr("evaluate_classifier_predictions(label, pred)").as("summary"))
    },

    Q("ml_learn_regress",
      """WITH pts AS (
        |  SELECT c_custkey,
        |         ((c_custkey * 7) % 100) / 10.0 AS x1,
        |         ((c_custkey * 13) % 100) / 10.0 AS x2
        |  FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(0 AS DOUBLE) AS max_err
        |FROM pts""".stripMargin) { (s, _) =>
      val pts = s.table("customer")
        .selectExpr(Seq("c_custkey") ++ featSql: _*)
        .withColumn("y", expr("1 + 2*x1 + 3*x2"))
      val model = pts.agg(expr("learn_regressor(y, features(x1, x2))").as("model"))
      val scored = pts.crossJoin(broadcast(model))
        .withColumn("err", abs(expr("regress(features(x1, x2), model)") - col("y")))
      scored.agg(
        count(lit(1)).as("n_total"),
        round(max(col("err")), 6).as("max_err"))
    },

    // Multiclass (one-vs-rest) — the reference reaches >2 classes
    // through libsvm's own OvR; here learn_classifier detects >2
    // distinct labels and trains an "mlc:" argmax-of-heads model.
    // Three well-separated clusters (centers (0,0), (10,0), (0,10),
    // jitter <= 1.5 in each coordinate, center distance 10) are
    // linearly separable with a wide margin -> accuracy exactly 100%.
    Q("ml_learn_multiclass",
      """WITH pts AS (
        |  SELECT c_custkey, c_custkey % 3 AS label,
        |         CAST(c_custkey % 3 = 1 AS INT) * 10 + ((c_custkey * 7) % 30) / 20.0 AS x1,
        |         CAST(c_custkey % 3 = 2 AS INT) * 10 + ((c_custkey * 13) % 30) / 20.0 AS x2
        |  FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(*) AS BIGINT) AS n_correct
        |FROM pts""".stripMargin) { (s, _) =>
      val pts = s.table("customer").selectExpr(
        "c_custkey", "c_custkey % 3 AS label",
        "CAST(c_custkey % 3 = 1 AS INT) * 10 + ((c_custkey * 7) % 30) / 20.0 AS x1",
        "CAST(c_custkey % 3 = 2 AS INT) * 10 + ((c_custkey * 13) % 30) / 20.0 AS x2")
      val model = pts.agg(expr("learn_classifier(label, features(x1, x2))").as("model"))
      val scored = pts.crossJoin(broadcast(model))
        .withColumn("pred", expr("classify(features(x1, x2), model)"))
      scored.agg(
        count(lit(1)).as("n_total"),
        count(when(col("pred") === col("label"), 1)).as("n_correct"))
    },

    // libsvm kernel surface: RBF via random Fourier features
    // (LearnLibSvmClassifierAggregation.java, LibSvmUtils.java:31-96;
    // MlFunctions scaladoc for the RFF construction). Contract: a disk-
    // vs-ring labeling in [-1,1]^2 (inside r^2 < 0.35 -> 1, outside
    // r^2 > 0.65 -> 0, the annulus in between excluded) is NOT linearly
    // separable — the linear kernel must misclassify a material
    // fraction — while the RBF model must reach exactly 100% on the
    // same points. Both branches train on the same deterministic
    // key-derived grid, so the oracle states both outcomes exactly.
    Q("ml_learn_libsvm_rbf",
      """WITH pts AS (
        |  SELECT c_custkey,
        |         ((c_custkey * 7919) % 201 - 100) / 100.0 AS x1,
        |         ((c_custkey * 104729) % 201 - 100) / 100.0 AS x2
        |  FROM customer),
        |lab AS (
        |  SELECT x1, x2, CASE WHEN x1*x1 + x2*x2 < 0.35 THEN 1 ELSE 0 END AS label
        |  FROM pts
        |  WHERE x1*x1 + x2*x2 < 0.35 OR x1*x1 + x2*x2 > 0.65)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       true AS rbf_all_correct,
        |       true AS linear_imperfect
        |FROM lab""".stripMargin) { (s, _) =>
      val lab = s.table("customer")
        .selectExpr(
          "((c_custkey * 7919) % 201 - 100) / 100.0 AS x1",
          "((c_custkey * 104729) % 201 - 100) / 100.0 AS x2")
        .filter(expr("x1*x1 + x2*x2 < 0.35 OR x1*x1 + x2*x2 > 0.65"))
        .withColumn("label", expr("CASE WHEN x1*x1 + x2*x2 < 0.35 THEN 1 ELSE 0 END"))
      val models = lab.agg(
        expr("learn_libsvm_classifier(label, features(x1, x2), 'kernel=rbf,gamma=4')").as("rbf"),
        expr("learn_libsvm_classifier(label, features(x1, x2), 'kernel=linear')").as("lin"))
      val scored = lab.crossJoin(broadcast(models))
        .withColumn("p_rbf", expr("classify(features(x1, x2), rbf)"))
        .withColumn("p_lin", expr("classify(features(x1, x2), lin)"))
      scored.agg(
        count(lit(1)).as("n_total"),
        (count(when(col("p_rbf") === col("label"), 1)) === count(lit(1)))
          .as("rbf_all_correct"),
        (count(when(col("p_lin") === col("label"), 1)) < count(lit(1)))
          .as("linear_imperfect"))
    },

    // kernel=poly degree=2: the exact quadratic expansion must fit a
    // quadratic target to fp precision (normal equations over
    // [x1, x2, x1^2, x2^2, x1*x2] — the poly-2 kernel's feature space).
    Q("ml_learn_libsvm_poly",
      """WITH pts AS (
        |  SELECT ((c_custkey * 7) % 100) / 10.0 AS x1,
        |         ((c_custkey * 13) % 100) / 10.0 AS x2
        |  FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(0 AS DOUBLE) AS max_err
        |FROM pts""".stripMargin) { (s, _) =>
      val pts = s.table("customer")
        .selectExpr(
          "((c_custkey * 7) % 100) / 10.0 AS x1",
          "((c_custkey * 13) % 100) / 10.0 AS x2")
        .withColumn("y", expr("1 + 2*x1 - x2 + 3*x1*x1 + 2*x1*x2 + 0.5*x2*x2"))
      val model = pts.agg(
        expr("learn_libsvm_regressor(y, features(x1, x2), 'kernel=poly,degree=2')").as("model"))
      val scored = pts.crossJoin(broadcast(model))
        .withColumn("err", abs(expr("regress(features(x1, x2), model)") - col("y")))
      scored.agg(
        count(lit(1)).as("n_total"),
        round(max(col("err")), 6).as("max_err"))
    },

    // kernel=sigmoid and kernel=poly degree=3 via Nystrom landmark
    // features (Williams & Seeger 2001; spectrum flip for tanh's
    // indefiniteness — both kernels previously raised). Planted 1-D
    // target sign(x^3 - x) has THREE decision boundaries: a quadratic
    // feature space supports at most two sign changes, so poly-2 CANNOT
    // be exact while the cubic landmark features are, and the shifted
    // tanh units get >= 95%. Margin 0.1 off the roots keeps every
    // boundary decision deterministic across SFs.
    Q("ml_learn_libsvm_nystrom",
      """WITH pts AS (
        |  SELECT ((c_custkey * 7919) % 401 - 200) / 100.0 AS x FROM customer),
        |lab AS (
        |  SELECT x, CASE WHEN x*x*x - x > 0 THEN 1 ELSE 0 END AS label
        |  FROM pts WHERE abs(x*x*x - x) > 0.1)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |       true AS poly3_all_correct,
        |       true AS sigmoid_strong,
        |       true AS poly2_imperfect
        |FROM lab""".stripMargin) { (s, _) =>
      val lab = s.table("customer")
        .selectExpr("((c_custkey * 7919) % 401 - 200) / 100.0 AS x")
        .filter(expr("abs(x*x*x - x) > 0.1"))
        .withColumn("label", expr("CASE WHEN x*x*x - x > 0 THEN 1 ELSE 0 END"))
      val models = lab.agg(
        expr("learn_libsvm_classifier(label, features(x), 'kernel=poly,degree=3,gamma=1,coef0=1')")
          .as("p3"),
        expr("learn_libsvm_classifier(label, features(x), 'kernel=sigmoid,gamma=2')").as("sig"),
        expr("learn_libsvm_classifier(label, features(x), 'kernel=poly,degree=2,gamma=1,coef0=1')")
          .as("p2"))
      val scored = lab.crossJoin(broadcast(models))
        .withColumn("h3", expr("classify(features(x), p3)"))
        .withColumn("hs", expr("classify(features(x), sig)"))
        .withColumn("h2", expr("classify(features(x), p2)"))
      scored.agg(
        count(lit(1)).as("n_total"),
        (count(when(col("h3") === col("label"), 1)) === count(lit(1)))
          .as("poly3_all_correct"),
        (count(when(col("hs") === col("label"), 1)).cast("double") / count(lit(1)) >= 0.95)
          .as("sigmoid_strong"),
        (count(when(col("h2") === col("label"), 1)) < count(lit(1)))
          .as("poly2_imperfect"))
    })
}
