package graft.queries

import org.apache.spark.sql.functions._

/** Time-window analytics over the `events` table. The reference is
  * batch-only (SURVEY §2.10 — Kafka is a snapshot table,
  * presto-kafka/.../KafkaRecordSet.java:53), so these are batch
  * equivalents of the streaming shapes: tumbling windows, gap
  * sessionization, JSON payload extraction, pivots.
  *
  * At 100 TB: the tumbling agg is a single hash agg on
  * (window, event_type); sessionization shuffles once on user_id then
  * sorts within partitions — both scale linearly with no driver state.
  */
object EventQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    // Tumbling 1-hour window — Spark's window() aligns to the epoch, same
    // as date_trunc('hour').
    Q("ev_tumbling_hourly",
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  sum(value) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, _) =>
      s.table("events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n_events"), col("total_value"))
    },

    // Gap-based sessionization (30-min inactivity) via lag + running sum —
    // the classic window-function sessionization; identical SQL runs on
    // both engines.
    Q.sameSql("ev_sessionize",
      """WITH flags AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, event_id,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flags)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_id""".stripMargin),

    Q("ev_json_payload",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY event_type""".stripMargin) { (s, _) =>
      s.table("events").groupBy("event_type").agg(
        sum(get_json_object(col("props"), "$.k").cast("int")).cast("long").as("sum_k"),
        count(lit(1)).as("cnt"))
    },

    // Pivot as conditional aggregation (neither the reference nor ANSI
    // has PIVOT; the DataFrame `pivot` ran no faster at sf0.1).
    Q.sameSql("ev_pivot_type_counts",
      """SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin),

    // Multi-step funnel: signup -> first click after signup -> first
    // purchase after that click; per-stage user counts. Identical SQL
    // runs on both engines (FILTER + correlated stage joins).
    Q.sameSql("ev_funnel",
      """WITH s AS (
        |  SELECT user_id, min(ts) FILTER (WHERE event_type = 'signup') AS signup_ts
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS click_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.signup_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        |  GROUP BY e.user_id)
        |SELECT
        |  CAST((SELECT count(*) FROM s WHERE signup_ts IS NOT NULL) AS BIGINT) AS n_signup,
        |  CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after,
        |  CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after""".stripMargin),

    // Cohort retention: users grouped by first-seen day; how many were
    // active again 1-7 days later. Pure relational (two aggs + join).
    Q.sameSql("ev_retention",
      """WITH first_seen AS (
        |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events)
        |SELECT cohort_day,
        |  CAST(count(DISTINCT f.user_id) AS BIGINT) AS cohort_size,
        |  CAST(count(DISTINCT CASE WHEN a.day > f.cohort_day
        |       AND a.day <= f.cohort_day + INTERVAL 7 DAY THEN a.user_id END) AS BIGINT) AS retained_7d
        |FROM first_seen f LEFT JOIN activity a ON f.user_id = a.user_id
        |GROUP BY cohort_day""".stripMargin),

    // Daily active users + value stats — the dashboard-style rollup.
    Q.sameSql("ev_daily_stats",
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  avg(value) AS avg_value,
        |  max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin),

    // Batch twin of StreamingOps.viewClickAttribution (the watermarked
    // stream-stream interval join): every click attributed to same-user
    // views in the preceding 30 minutes. The identical transform runs
    // on readStream inputs (StreamingSpecs pins stream==batch).
    Q("ev_view_click_attribution",
      """SELECT CAST(c.user_id AS BIGINT) AS user_id,
        |  CAST(count(*) AS BIGINT) AS attributed,
        |  CAST(round(sum(c.value), 4) AS DOUBLE) AS attr_value
        |FROM events c JOIN events v
        |  ON v.user_id = c.user_id
        |  AND c.event_type = 'click' AND v.event_type = 'view'
        |  AND v.ts <= c.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        |GROUP BY 1""".stripMargin) { (s, _) =>
      graft.streaming.StreamingOps.viewClickAttribution(s.table("events"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("attributed"),
          round(sum("c_value"), 4).cast("double").as("attr_value"))
    },

    // LEFT OUTER interval attribution in batch — the same
    // viewClickAttributionOuter operator the streaming spec drives:
    // every view emits, converted ones once per in-window click,
    // unconverted ones with NULL click columns (what the pipeline bills
    // as unconverted impressions). Same one-shuffle interval-join shape
    // as ev_view_click_attribution plus NULL-extension.
    Q("ev_unconverted_attribution",
      """SELECT v.user_id, v.ts AS v_ts, c.ts AS c_ts, c.value AS c_value
        |FROM events v LEFT JOIN events c
        |  ON c.user_id = v.user_id AND c.event_type = 'click'
        |  AND v.ts <= c.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
        |WHERE v.event_type = 'view'""".stripMargin) { (s, _) =>
      graft.streaming.StreamingOps.viewClickAttributionOuter(s.table("events"))
    },

    // Native session_window sessionization (the Structured-Streaming
    // merging-window primitive, run here in batch; its streaming twin is
    // spec-driven through a MemoryStream in StreamingSpecs). Semantics
    // differ from ev_sessionize at the exact boundary: session_window
    // merges iff gap < 30min STRICTLY, so the oracle's new-session
    // condition is >= (not >), and the emitted end is last-ts + gap.
    Q("ev_session_window",
      """WITH flags AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM sessions GROUP BY user_id, sid""".stripMargin) { (s, _) =>
      graft.streaming.StreamingOps
        .sessionWindowStats(s.table("events"), streaming = false)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 4).as("total_value"))
    },

    // Per-type z-score anomaly flagging (the metric-outlier sweep of an
    // event pipeline) with an INTEGER-EXACT boundary: an event is
    // anomalous iff (v - mean)^2 > 9*var_pop, tested as
    // (v*n - s)^2 > n*(9*sum(v^2)) - (3s)^2 on cent-scaled values with
    // EVERY multiplication performed in DECIMAL (operands cast to
    // DECIMAL(19,0) BEFORE multiplying; product TYPES resolve to
    // DECIMAL(38,0) identically in Spark and DuckDB) — no BIGINT product
    // ever forms, so the boundary cannot silently wrap on hot-valued
    // event sets the way v*v or v*n in 64-bit would, and no float ever
    // touches the comparison (the repo's ds-shape determinism policy).
    // Known residual divergence: on a genuine 38-digit OVERFLOW Spark
    // (non-ANSI) yields NULL (event counts non-anomalous) while DuckDB
    // throws; that needs ~1e19 scaled deviation, far beyond cent-scaled
    // event values (|v| ≤ ~1e7 here), so it cannot fire on this data —
    // documented rather than guarded to keep the hot path branch-free.
    // Plan: one stats agg per type (5 rows, broadcast back), flagging
    // is a codegen'd map-side CASE — two scans, zero wide shuffles.
    Q.sameSql("ev_anomaly_zscore",
      """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v FROM events),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s,
        |        sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS q
        |      FROM c GROUP BY event_type),
        |d AS (SELECT c.event_type, n,
        |        CAST(c.v AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
        |          - CAST(s AS DECIMAL(19,0)) AS dev,
        |        CAST(n AS DECIMAL(19,0)) * (CAST(9 AS DECIMAL(19,0)) * q)
        |          - (CAST(3 AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
        |            * (CAST(3 AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS rhs
        |      FROM c JOIN g USING (event_type))
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN dev * dev > rhs THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |  CAST(max(abs(dev)) AS BIGINT) AS max_dev_scaled
        |FROM d GROUP BY event_type""".stripMargin))
}
