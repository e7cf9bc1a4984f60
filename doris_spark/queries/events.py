"""Event-stream analytics: time windows, sessionization, funnel/retention/
sequence-match, ASOF join, JSON extraction, UNIQUE-key upsert semantics.

Reference analogs: window_funnel/retention/sequence_match UDAFs
(be/src/exprs/aggregate/aggregate_function_window_funnel_v2.h,
aggregate_function_retention.h, aggregate_function_sequence_match.h),
ASOF join (be/src/exec/operator/join/asof_left_inner_join_impl.cpp),
UNIQUE_KEYS merge-on-read (fe/.../catalog/KeysType.java:28), JSON functions
(be/src/exprs/function/function_jsonb.cpp).

These run as batch here; the same plans run under Structured Streaming with
readStream + watermark (doris_spark.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doris_spark.operators.asof import asof_join
from doris_spark.operators.funnel import (
    retention,
    sequence_count,
    sequence_match,
    sequence_match_gaps,
    window_funnel,
)
from doris_spark.operators.table_models import unique_key_view
from doris_spark.queries import query, sql_query
from doris_spark.session import load_tables

# DuckDB reads events.ts as TIMESTAMP_NS; truncate to micros exactly like
# the Spark-side read path (floor division) so both engines see equal values.
_TS = "make_timestamp(epoch_ns(ts) // 1000)"


@query(
    "ev_tumbling",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', {_TS}) AS window_start,
       event_type,
       count(*) AS cnt,
       sum(value) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (F.window). In streaming mode this exact
    plan runs incrementally with a watermark."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "total_value")
        .orderBy("window_start", "event_type")
    )


@query(
    "ev_sliding",
    oracle=f"""
WITH shifted AS (
  SELECT e.*, time_bucket(INTERVAL '30 minutes', {_TS}) - k * INTERVAL '30 minutes'
           AS window_start
  FROM events e, (VALUES (0), (1)) AS s(k)
)
SELECT window_start, count(*) AS cnt, sum(value) AS total_value
FROM shifted
WHERE {_TS} >= window_start
  AND {_TS} <  window_start + INTERVAL '1 hour'
GROUP BY window_start
ORDER BY window_start
""",
)
def ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide): each event lands in 2 windows."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "cnt", "total_value")
        .orderBy("window_start")
    )


@query(
    "ev_session",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, {_TS} AS uts, value,
         CASE WHEN {_TS} - lag({_TS}) OVER (PARTITION BY user_id ORDER BY {_TS}, event_id)
                   > INTERVAL '30 minutes' OR
                   lag({_TS}) OVER (PARTITION BY user_id ORDER BY {_TS}, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY uts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id, min(uts) AS session_start, count(*) AS n_events, sum(value) AS total_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def ev_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (30-minute gap). Batch uses the gaps-and-islands plan
    (lag + cumulative sum — two window passes over one shuffle on user_id);
    the streaming variant uses F.session_window natively. The islands plan
    is used here because F.session_window's batch output carries only
    (start, end), and this shape also oracle-checks the lag/cumsum path."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gap = F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    with_flag = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800.0), 1).otherwise(0),
    )
    numbered = with_flag.withColumn("session_id", F.sum("is_new").over(wrun))
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    )


@query(
    "ev_funnel",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(s1.t1) AS t1, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND {_TS} > s1.t1
    AND {_TS} <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min({_TS}) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND {_TS} > s2.t2
    AND {_TS} <= s2.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
)
SELECT level, count(*) AS n_users FROM (
  SELECT s1.user_id,
         CASE WHEN s3.user_id IS NOT NULL THEN 3
              WHEN s2.user_id IS NOT NULL THEN 2
              ELSE 1 END AS level
  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id
) lv
GROUP BY level ORDER BY level
""",
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel('signup'→'view'→'purchase', 24h): distribution of
    funnel depth across users."""
    ev = load_tables(spark, sf_dir)["events"]
    lv = window_funnel(
        ev, "user_id", "ts", "event_type",
        steps=["signup", "view", "purchase"], window_seconds=24 * 3600,
    )
    return (
        lv.groupBy("level").agg(F.count(F.lit(1)).alias("n_users")).orderBy("level")
    )


@query(
    "ev_retention",
    oracle=f"""
WITH flags AS (
  SELECT user_id,
         max(CASE WHEN CAST({_TS} AS DATE) = DATE '2024-01-01' THEN 1 ELSE 0 END) AS c0,
         max(CASE WHEN CAST({_TS} AS DATE) = DATE '2024-01-02' THEN 1 ELSE 0 END) AS c1,
         max(CASE WHEN CAST({_TS} AS DATE) = DATE '2024-01-07' THEN 1 ELSE 0 END) AS c2
  FROM events GROUP BY user_id
)
SELECT sum(c0) AS day0, sum(c0 * c1) AS day1, sum(c0 * c2) AS day7
FROM flags
""",
)
def ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retention(day0, day1, day7) rolled up to cohort counts."""
    ev = load_tables(spark, sf_dir)["events"]
    d = F.to_date("ts")
    r = retention(
        ev,
        "user_id",
        [
            d == F.lit("2024-01-01").cast("date"),
            d == F.lit("2024-01-02").cast("date"),
            d == F.lit("2024-01-07").cast("date"),
        ],
    )
    return r.agg(
        F.sum(F.col("r")[0]).alias("day0"),
        F.sum(F.col("r")[1]).alias("day1"),
        F.sum(F.col("r")[2]).alias("day7"),
    )


@query(
    "ev_sequence_match",
    oracle=f"""
WITH m1 AS (
  SELECT user_id, min({_TS}) AS t FROM events WHERE event_type = 'signup' GROUP BY user_id
), m2 AS (
  SELECT e.user_id, min({_TS}) AS t
  FROM events e JOIN m1 ON e.user_id = m1.user_id
  WHERE e.event_type = 'purchase' AND {_TS} > m1.t
  GROUP BY e.user_id
), m3 AS (
  SELECT e.user_id
  FROM events e JOIN m2 ON e.user_id = m2.user_id
  WHERE e.event_type = 'error' AND {_TS} > m2.t
  GROUP BY e.user_id
)
SELECT count(*) AS n_matched FROM m3
""",
)
def ev_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence_match('(?1).*(?2).*(?3)', signup→purchase→error): count of
    users whose event stream matches the ordered pattern."""
    ev = load_tables(spark, sf_dir)["events"]
    m = sequence_match(
        ev,
        "user_id",
        "ts",
        [
            F.col("event_type") == "signup",
            F.col("event_type") == "purchase",
            F.col("event_type") == "error",
        ],
    )
    return m.agg(F.count(F.lit(1)).alias("n_matched"))


@query(
    "ev_sequence_match_gap",
    # Same set-DP in DuckDB: union step-1 times with candidates, running
    # min over a strictly-earlier RANGE frame, gap test in micros.
    oracle=f"""
WITH s1 AS (
  SELECT DISTINCT user_id, {_TS} AS t FROM events WHERE event_type = 'signup'
), u AS (
  SELECT user_id, 0 AS is_cand, epoch_us(t) AS us FROM s1
  UNION ALL
  SELECT user_id, 1 AS is_cand, epoch_us({_TS}) AS us
  FROM events WHERE event_type = 'purchase'
), scan AS (
  SELECT user_id, is_cand, us,
         min(CASE WHEN is_cand = 0 THEN us END) OVER (
           PARTITION BY user_id ORDER BY us
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mn
  FROM u
)
SELECT user_id, true AS matched
FROM scan
WHERE is_cand = 1 AND mn IS NOT NULL AND us - mn >= 3600000000
GROUP BY user_id
ORDER BY user_id
""",
)
def ev_sequence_match_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence_match('(?1)(?t>=3600)(?2)', signup→purchase at least an
    hour later): exact set-DP (operators/funnel.sequence_match_gaps) —
    greedy earliest-match is wrong for time-bounded patterns, so both
    sides run the same window DP."""
    ev = load_tables(spark, sf_dir)["events"]
    m = sequence_match_gaps(
        ev,
        "user_id",
        "ts",
        [F.col("event_type") == "signup", F.col("event_type") == "purchase"],
        [(">=", 3600)],
    )
    return m.select(F.col("user").alias("user_id"), "matched").orderBy("user_id")


@query(
    "ev_sequence_count",
    # Same greedy fold, recomputed in DuckDB: state = count*(k+1)+stage over
    # the per-user time-ordered bitmask list (list_reduce has no init arg, so
    # a 0 is prepended as the seed element).
    oracle=f"""
WITH marked AS (
  SELECT user_id,
         {_TS} AS ts2,
         (CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END
          | CASE WHEN event_type = 'purchase' THEN 2 ELSE 0 END) AS m
  FROM events
), ue AS (
  SELECT user_id, list(m ORDER BY ts2, m) AS evs
  FROM marked WHERE m > 0 GROUP BY user_id
)
SELECT user_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), evs),
            (s, e) -> CASE WHEN ((e >> CAST(s % 3 AS INT)) & 1) = 1
                      THEN CASE WHEN s % 3 = 1 THEN s - (s % 3) + 3 ELSE s + 1 END
                      ELSE s END) // 3 AS BIGINT) AS n_matches
FROM ue
ORDER BY user_id
""",
)
def ev_sequence_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequence_count('(?1).*(?2)', signup→purchase): per-user count of
    non-overlapping signup→purchase chains (greedy scan; Doris
    aggregate_function_sequence_match.h COUNT mode)."""
    ev = load_tables(spark, sf_dir)["events"]
    out = sequence_count(
        ev,
        "user_id",
        "ts",
        [F.col("event_type") == "signup", F.col("event_type") == "purchase"],
    )
    return out.select(F.col("user").alias("user_id"), "n_matches").orderBy("user_id")


@query(
    "ev_asof",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, event_id, {_TS} AS pts, value
  FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, {_TS} AS vts, max(value) AS vvalue
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, {_TS}
)
SELECT p.user_id, p.event_id, p.value AS purchase_value,
       v.vts AS view_ts, v.vvalue AS view_value
FROM purchases p
ASOF JOIN views v ON p.user_id = v.user_id AND v.vts <= p.pts
ORDER BY p.user_id, p.event_id
""",
)
def ev_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF join: each purchase matched to the user's most recent view at or
    before it (Doris ASOF INNER; custom union+window operator — one shuffle,
    no range explosion)."""
    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("pts"), "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("value").alias("vvalue"))
    )
    joined = asof_join(
        purchases, views, on=["user_id"], left_ts="pts", right_ts="vts",
        direction="backward", how="inner",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.col("value").alias("purchase_value"),
        F.col("r_vts").alias("view_ts"),
        F.col("r_vvalue").alias("view_value"),
    ).orderBy("user_id", "event_id")


@query(
    "ev_asof_sql",
    oracle=f"""
WITH purchases AS (
  SELECT user_id, event_id, {_TS} AS pts, value
  FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, {_TS} AS vts, max(value) AS vvalue
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, {_TS}
)
SELECT p.user_id, p.event_id, p.value AS purchase_value,
       v.vts AS view_ts, v.vvalue AS view_value
FROM purchases p
ASOF JOIN views v ON p.user_id = v.user_id AND v.vts <= p.pts
ORDER BY p.user_id, p.event_id
""",
)
def ev_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface of the ASOF join: Doris `ASOF INNER JOIN ...
    MATCH_CONDITION(...) ON ...` syntax (DorisParser.g4:1467) run
    verbatim through Engine.sql — plans/asof_sql.py rewrites it to the
    same union+window pick plan as the DataFrame operator
    (operators/asof.py): one shuffle on the equality keys plus an
    equi-join back, no BroadcastNestedLoopJoin, linear in input. Runs
    FULL-SIZE (the r4 0.5% bench slice is gone with the lateral plan).
    Oracle: DuckDB's native ASOF JOIN."""
    from doris_spark.engine import Engine

    eng = Engine(spark)
    ev = load_tables(spark, sf_dir)["events"]
    ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("pts"), "value"
    ).createOrReplaceTempView("__asof_purchases")
    (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").alias("vts"))
        .agg(F.max("value").alias("vvalue"))
        .createOrReplaceTempView("__asof_views")
    )
    return eng.sql(
        """
        SELECT p.user_id, p.event_id, p.value AS purchase_value,
               v.vts AS view_ts, v.vvalue AS view_value
        FROM __asof_purchases p
        ASOF INNER JOIN __asof_views v
            MATCH_CONDITION(p.pts >= v.vts)
            ON p.user_id = v.user_id
        ORDER BY p.user_id, p.event_id
        """
    )


sql_query(
    "ev_json",
    """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
       count(*) AS cnt,
       sum(value) AS total_value,
       max(json_extract_string(props, '$.k')) AS max_k_str
FROM events
GROUP BY 1
ORDER BY 1
""",
)


@query(
    "ev_unique_upsert",
    oracle=f"""
SELECT user_id, event_type, uts AS last_ts, value AS last_value
FROM (
  SELECT user_id, event_type, {_TS} AS uts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY {_TS} DESC, event_id DESC) AS rn
  FROM events
) x
WHERE rn = 1
ORDER BY user_id, event_type
""",
)
def ev_unique_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIQUE_KEYS merge-on-read view: key=(user_id, event_type),
    sequence=ts (tiebreak event_id) — latest version wins
    (KeysType.java:28; sequence column semantics)."""
    ev = load_tables(spark, sf_dir)["events"]
    v = unique_key_view(
        ev, keys=["user_id", "event_type"], sequence_col="ts", tiebreak=["event_id"]
    )
    return v.select(
        "user_id",
        "event_type",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id", "event_type")


@query(
    "ev_funnel_default",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(s1.t1) AS t1, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND {_TS} >= s1.t1
    AND {_TS} <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min({_TS}) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND {_TS} >= s2.t2
    AND {_TS} <= s2.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
)
SELECT level, count(*) AS n_users FROM (
  SELECT s1.user_id,
         CASE WHEN s3.user_id IS NOT NULL THEN 3
              WHEN s2.user_id IS NOT NULL THEN 2
              ELSE 1 END AS level
  FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          LEFT JOIN s3 ON s1.user_id = s3.user_id
) lv
GROUP BY level ORDER BY level
""",
)
def ev_funnel_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel in 'default' mode (same-timestamp events may advance
    the funnel) — contrast with ev_funnel's strict 'increase' mode; the
    two oracles differ only in > vs >=."""
    ev = load_tables(spark, sf_dir)["events"]
    lv = window_funnel(
        ev, "user_id", "ts", "event_type",
        steps=["signup", "view", "purchase"], window_seconds=24 * 3600,
        mode="default",
    )
    return (
        lv.groupBy("level").agg(F.count(F.lit(1)).alias("n_users")).orderBy("level")
    )


@query(
    "ev_funnel_dedup",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(s1.t1) AS t1, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND {_TS} > s1.t1
    AND {_TS} <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s2ok AS (
  SELECT s2.* FROM s2
  WHERE NOT EXISTS (
    SELECT 1 FROM events r
    WHERE r.user_id = s2.user_id AND r.event_type = 'signup'
      AND {_TS.replace('(ts)', '(r.ts)')} > s2.t1 AND {_TS.replace('(ts)', '(r.ts)')} < s2.t2)
), s3 AS (
  SELECT e.user_id, min(s2ok.t2) AS t2, min({_TS}) AS t3
  FROM events e JOIN s2ok ON e.user_id = s2ok.user_id
  WHERE e.event_type = 'purchase' AND {_TS} > s2ok.t2
    AND {_TS} <= s2ok.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s3ok AS (
  SELECT s3.* FROM s3
  WHERE NOT EXISTS (
    SELECT 1 FROM events r
    WHERE r.user_id = s3.user_id AND r.event_type IN ('signup', 'view')
      AND {_TS.replace('(ts)', '(r.ts)')} > s3.t2 AND {_TS.replace('(ts)', '(r.ts)')} < s3.t3)
)
SELECT level, count(*) AS n_users FROM (
  SELECT s1.user_id,
         CASE WHEN s3ok.user_id IS NOT NULL THEN 3
              WHEN s2ok.user_id IS NOT NULL THEN 2
              ELSE 1 END AS level
  FROM s1 LEFT JOIN s2ok ON s1.user_id = s2ok.user_id
          LEFT JOIN s3ok ON s1.user_id = s3ok.user_id
) lv
GROUP BY level ORDER BY level
""",
)
def ev_funnel_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel in 'deduplication' mode: strict-increase chain that
    stops when an already-matched step type recurs strictly between the
    current match and the candidate next match (Doris window_funnel
    dedup mode, aggregate_function_window_funnel_v2.h). Oracle adds one
    NOT EXISTS repeat-check per advancement to the increase-mode chain."""
    ev = load_tables(spark, sf_dir)["events"]
    lv = window_funnel(
        ev, "user_id", "ts", "event_type",
        steps=["signup", "view", "purchase"], window_seconds=24 * 3600,
        mode="deduplication",
    )
    return (
        lv.groupBy("level").agg(F.count(F.lit(1)).alias("n_users")).orderBy("level")
    )


@query(
    "ev_funnel_fixed",
    oracle=f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(s1.t1) AS t1, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND {_TS} > s1.t1
    AND {_TS} <= s1.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s2ok AS (
  SELECT s2.* FROM s2
  WHERE NOT EXISTS (
    SELECT 1 FROM events r
    WHERE r.user_id = s2.user_id AND r.event_type IN ('signup', 'purchase')
      AND {_TS.replace('(ts)', '(r.ts)')} > s2.t1 AND {_TS.replace('(ts)', '(r.ts)')} < s2.t2)
), s3 AS (
  SELECT e.user_id, min(s2ok.t2) AS t2, min({_TS}) AS t3
  FROM events e JOIN s2ok ON e.user_id = s2ok.user_id
  WHERE e.event_type = 'purchase' AND {_TS} > s2ok.t2
    AND {_TS} <= s2ok.t1 + INTERVAL '24 hours'
  GROUP BY e.user_id
), s3ok AS (
  SELECT s3.* FROM s3
  WHERE NOT EXISTS (
    SELECT 1 FROM events r
    WHERE r.user_id = s3.user_id AND r.event_type IN ('signup', 'view')
      AND {_TS.replace('(ts)', '(r.ts)')} > s3.t2 AND {_TS.replace('(ts)', '(r.ts)')} < s3.t3)
)
SELECT level, count(*) AS n_users FROM (
  SELECT s1.user_id,
         CASE WHEN s3ok.user_id IS NOT NULL THEN 3
              WHEN s2ok.user_id IS NOT NULL THEN 2
              ELSE 1 END AS level
  FROM s1 LEFT JOIN s2ok ON s1.user_id = s2ok.user_id
          LEFT JOIN s3ok ON s1.user_id = s3ok.user_id
) lv
GROUP BY level ORDER BY level
""",
)
def ev_funnel_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window_funnel in 'fixed' mode: strict-increase chain that stops
    when any funnel-step event other than the expected next step occurs
    strictly between consecutive matches (non-step events interleave
    freely). Oracle: per-advancement NOT EXISTS over the off-sequence
    step types."""
    ev = load_tables(spark, sf_dir)["events"]
    lv = window_funnel(
        ev, "user_id", "ts", "event_type",
        steps=["signup", "view", "purchase"], window_seconds=24 * 3600,
        mode="fixed",
    )
    return (
        lv.groupBy("level").agg(F.count(F.lit(1)).alias("n_users")).orderBy("level")
    )


@query(
    "ev_orthogonal_bitmap",
    oracle="""
SELECT
  (SELECT count(DISTINCT e1.user_id) FROM events e1
   WHERE e1.event_type = 'click'
     AND EXISTS (SELECT 1 FROM events e2
                 WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase'))
    AS and_count,
  (SELECT count(DISTINCT user_id) FROM events
   WHERE event_type IN ('click', 'purchase')) AS or_count,
  (SELECT count(DISTINCT e1.user_id) FROM events e1
   WHERE e1.event_type = 'click'
     AND NOT EXISTS (SELECT 1 FROM events e2
                     WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase'))
    AS andnot_count
""",
)
def ev_orthogonal_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orthogonal_bitmap_intersect_count / union_count / andnot
    (orthogonal_bitmap_* family, be/src/exprs/aggregate/): audience
    overlap between event types via per-type user bitmaps. The partial
    conditional bitmap_agg is exactly the orthogonal scheme — per-bucket
    bitmaps built in parallel, tiny final merge.

    Intentional divergence on degenerate input (ADVICE r11): the old
    per-type groupBy + crossJoin produced ZERO rows when either event
    type was absent; this ungrouped aggregate returns ONE row with empty
    bitmaps / zero counts — the Doris aggregate-without-GROUP-BY shape.
    Fixture data always has both types, so the oracle sees no difference."""
    from doris_spark.functions import sketches as SK

    ev = load_tables(spark, sf_dir)["events"]
    # Both type bitmaps from ONE scan+aggregate: collect_set skips the
    # NULLs the when() produces, so each conditional bitmap_agg holds
    # exactly its type's users — no per-type slices, no cross join
    # (Catalyst planned the grouped aggregate once per crossJoin side).
    both = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .agg(
            SK.bitmap_agg(F.when(F.col("event_type") == "click", F.col("user_id")))
            .alias("bm_click"),
            SK.bitmap_agg(F.when(F.col("event_type") == "purchase", F.col("user_id")))
            .alias("bm_buy"),
        )
    )
    return both.select(
        SK.bitmap_count(SK.bitmap_and("bm_click", "bm_buy")).alias("and_count"),
        SK.bitmap_count(SK.bitmap_or("bm_click", "bm_buy")).alias("or_count"),
        SK.bitmap_count(SK.bitmap_andnot("bm_click", "bm_buy")).alias("andnot_count"),
    )
