"""ClickBench-shaped analytics suite over the events/documents fixtures.

The reference ships a ClickBench harness (tools/clickbench-tools/,
regression-test/pipeline/performance/run-clickbench.sh gates in
BASELINE.md); these are the same query shapes — full-scan counts,
filtered aggregates, NDV, top-K by traffic, time bucketing, JSON
property extraction, substring search — adapted to the driver's events
and documents tables. Each is a single declarative statement so
Catalyst plans the scan pruning/partial aggregation; the parquet scan
should show 1-3 column ReadSchema on every one of these. A query
registered with `sql_query` is its oracle text run through Engine.sql; the
others keep a DataFrame builder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doris_spark.queries import query, sql_query
from doris_spark.session import load_tables


@query("cb_count", oracle="SELECT count(*) AS n FROM events")
def cb_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return ev.agg(F.count("*").alias("n"))


@query(
    "cb_filtered_agg",
    oracle="""
SELECT count(*) AS n, round(sum(value), 4) AS sv, round(avg(value), 6) AS av
FROM events WHERE event_type = 'click'
""",
)
def cb_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return ev.filter(F.col("event_type") == "click").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sv"),
        F.round(F.avg("value"), 6).alias("av"),
    )


@query("cb_ndv_users", oracle="SELECT count(DISTINCT user_id) AS u FROM events")
def cb_ndv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return ev.agg(F.countDistinct("user_id").alias("u"))


@query(
    "cb_minmax_ts",
    oracle="""
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS mn,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS mx FROM events
""",
)
def cb_minmax_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return ev.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("mn"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("mx"),
    )


@query(
    "cb_by_type",
    oracle="""
SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY n DESC, event_type
""",
)
def cb_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type")
    )


@query(
    "cb_top_users",
    oracle="""
SELECT user_id, count(*) AS n, round(sum(value), 4) AS sv
FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
""",
)
def cb_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv"))
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


@query(
    "cb_value_quantiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def cb_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .orderBy("event_type")
    )


@query(
    "cb_hourly",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS h, count(*) AS n,
       count(DISTINCT user_id) AS u
FROM events GROUP BY date_trunc('hour', ts) ORDER BY h LIMIT 24
""",
)
def cb_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("ht"))
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("u"))
        .select(
            F.date_format("ht", "yyyy-MM-dd HH:mm:ss").alias("h"), "n", "u"
        )
        .orderBy("h")
        .limit(24)
    )


@query(
    "cb_json_prop",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS kb,
       count(*) AS n
FROM events
WHERE json_extract(props, '$.k') IS NOT NULL
GROUP BY kb ORDER BY kb
""",
)
def cb_json_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("kb")
        )
        .filter(F.col("kb").isNotNull())
        .groupBy("kb")
        .agg(F.count("*").alias("n"))
        .orderBy("kb")
    )


@query(
    "cb_substring_search",
    oracle="""
SELECT lang, count(*) AS n
FROM documents WHERE text LIKE '%merge%'
GROUP BY lang ORDER BY n DESC, lang
""",
)
def cb_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.filter(F.col("text").contains("merge"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "lang")
    )


@query(
    "cb_sum_count_avg",
    oracle="""
SELECT round(sum(value), 4) AS sv, count(*) AS c, round(avg(value), 8) AS av
FROM events
""",
)
def cb_sum_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q2 shape (queries.sql:20): three aggregates in one
    full-scan pass — single partial+final aggregate, 1-column scan."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.agg(
        F.round(F.sum("value"), 4).alias("sv"),
        F.count(F.lit(1)).alias("c"),
        F.round(F.avg("value"), 8).alias("av"),
    )


@query(
    "cb_grouped_multi_agg",
    oracle="""
SELECT event_type, round(sum(value), 4) AS sv, count(*) AS c,
       count(DISTINCT user_id) AS u
FROM events
GROUP BY event_type ORDER BY c DESC, event_type
""",
)
def cb_grouped_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q9 shape (queries.sql:26): per-group sum/count/NDV in
    one aggregate (distinct handled by Expand, still one shuffle set)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.sum("value"), 4).alias("sv"),
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("user_id").alias("u"),
        )
        .orderBy(F.desc("c"), "event_type")
    )


@query(
    "cb_two_key_topk",
    oracle="""
SELECT user_id, event_type, count(*) AS c
FROM events
GROUP BY user_id, event_type
ORDER BY c DESC, user_id, event_type LIMIT 10
""",
)
def cb_two_key_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q16 shape (queries.sql:33): two-key heavy-hitter —
    high-cardinality groupBy then TopK (TakeOrderedAndProject, no full
    sort)."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "user_id", "event_type")
        .limit(10)
    )


@query(
    "cb_minute_group",
    oracle="""
SELECT user_id, minute(ts) AS m, count(*) AS c
FROM events
GROUP BY user_id, minute(ts)
ORDER BY c DESC, user_id, m LIMIT 10
""",
)
def cb_minute_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q18 shape (queries.sql:35): per-(user, minute) counts
    with TopK."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id", F.minute("ts").alias("m"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "user_id", "m")
        .limit(10)
    )


sql_query(
    "cb_point_lookup",
    "SELECT user_id, count(*) AS c FROM events WHERE user_id = 42 GROUP BY user_id",
)


@query(
    "cb_like_min_text",
    oracle="""
SELECT lang, min(text) AS min_text, count(*) AS c
FROM documents
WHERE text LIKE '%merge%'
GROUP BY lang ORDER BY c DESC, lang LIMIT 10
""",
)
def cb_like_min_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q21 shape (queries.sql:38): substring filter + MIN of
    a wide string column per group."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.filter(F.col("text").like("%merge%"))
        .groupBy("lang")
        .agg(F.min("text").alias("min_text"), F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "lang")
        .limit(10)
    )


sql_query(
    "cb_scan_order_by_ts",
    """
SELECT event_id, user_id, event_type
FROM events
WHERE event_type = 'purchase'
ORDER BY ts, event_id LIMIT 10
""",
)


@query(
    "cb_having_avg_len",
    oracle="""
SELECT source, round(avg(length(text)), 6) AS l, count(*) AS c
FROM documents
WHERE text <> ''
GROUP BY source HAVING count(*) > 10
ORDER BY l DESC, source LIMIT 25
""",
)
def cb_having_avg_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q27 shape (queries.sql:44): avg(length(str)) per group
    with a HAVING count threshold."""
    d = load_tables(spark, sf_dir)["documents"]
    return (
        d.filter(F.col("text") != "")
        .groupBy("source")
        .agg(
            F.round(F.avg(F.length("text")), 6).alias("l"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("c") > 10)
        .orderBy(F.desc("l"), "source")
        .limit(25)
    )


@query(
    "cb_regex_key_agg",
    oracle="""
SELECT regexp_replace(text, '^(\\w+)\\s.*$', '\\1') AS k,
       round(avg(length(text)), 6) AS l, count(*) AS c, min(text) AS mn
FROM documents
WHERE text <> ''
GROUP BY k HAVING count(*) > 20
ORDER BY l DESC, k LIMIT 25
""",
)
def cb_regex_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q28 shape (queries.sql:45): REGEXP_REPLACE-derived
    grouping key with aggregates and HAVING (the Referer-host query)."""
    d = load_tables(spark, sf_dir)["documents"]
    k = F.regexp_replace("text", r"^(\w+)\s.*$", "$1")
    return (
        d.filter(F.col("text") != "")
        .groupBy(k.alias("k"))
        .agg(
            F.round(F.avg(F.length("text")), 6).alias("l"),
            F.count(F.lit(1)).alias("c"),
            F.min("text").alias("mn"),
        )
        .filter(F.col("c") > 20)
        .orderBy(F.desc("l"), "k")
        .limit(25)
    )


sql_query(
    "cb_sum_expr_batch",
    """
SELECT round(sum(value), 4) AS s0, round(sum(value + 1), 4) AS s1,
       round(sum(value + 2), 4) AS s2, round(sum(value + 3), 4) AS s3,
       round(sum(value + 4), 4) AS s4
FROM events
""",
)


@query(
    "cb_group_offset_page",
    oracle="""
SELECT user_id % 1000 AS ub, count(*) AS pv
FROM events
WHERE event_type <> 'view'
GROUP BY user_id % 1000
ORDER BY pv DESC, ub LIMIT 10 OFFSET 100
""",
)
def cb_group_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q39-42 shape (queries.sql:49-52): grouped pageview
    counts paged with LIMIT ... OFFSET."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("event_type") != "view")
        .groupBy((F.col("user_id") % 1000).alias("ub"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .orderBy(F.desc("pv"), "ub")
        .offset(100)
        .limit(10)
    )


@query(
    "cb_minute_series",
    oracle="""
SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:00') AS m,
       count(*) AS pv
FROM events
WHERE event_type = 'click'
GROUP BY date_trunc('minute', ts)
ORDER BY m LIMIT 10 OFFSET 50
""",
)
def cb_minute_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q43 shape (queries.sql:53): per-minute time series
    via DATE_FORMAT with LIMIT/OFFSET paging."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("minute", "ts").alias("mt"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .select(F.date_format("mt", "yyyy-MM-dd HH:mm:00").alias("m"), "pv")
        .orderBy("m")
        .offset(50)
        .limit(10)
    )


# --------------------------------------------------------------------------
# Round-5 additions: the remaining ClickBench shapes
# (tools/clickbench-tools/sql/queries.sql Q3, Q10/11, Q22, Q26, Q30, Q32,
# Q35, Q38) mapped onto the events/documents fixtures.
# --------------------------------------------------------------------------


@query(
    "cb_avg_key",
    oracle="SELECT round(avg(user_id), 6) AS a FROM events",
)
def cb_avg_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q3 shape (queries.sql:21): AVG over a raw key column —
    pure single-column scan, partial+final average."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.agg(F.round(F.avg("user_id"), 6).alias("a"))


@query(
    "cb_nonempty_two_key_ndv",
    oracle="""
SELECT lang, source, count(DISTINCT doc_id) AS u
FROM documents WHERE lang <> ''
GROUP BY lang, source ORDER BY u DESC, lang, source LIMIT 10
""",
)
def cb_nonempty_two_key_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q10/Q11 shape (queries.sql:28-29): non-empty filter,
    one- then two-key grouping with an NDV aggregate and top-10."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.filter(F.col("lang") != "")
        .groupBy("lang", "source")
        .agg(F.countDistinct("doc_id").alias("u"))
        .orderBy(F.desc("u"), "lang", "source")
        .limit(10)
    )


@query(
    "cb_multi_like_ndv",
    oracle="""
SELECT lang, min(text) AS first_text, count(*) AS c, count(DISTINCT doc_id) AS u
FROM documents
WHERE text LIKE '%data%' AND text NOT LIKE '%merge%' AND lang <> ''
GROUP BY lang ORDER BY c DESC, lang LIMIT 10
""",
)
def cb_multi_like_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q22 shape (queries.sql:40): positive + negative LIKE
    filters with MIN(string) and NDV per group — both LIKEs evaluate in
    the scan stage before any shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.filter(F.col("text").contains("data")
                    & ~F.col("text").contains("merge")
                    & (F.col("lang") != ""))
        .groupBy("lang")
        .agg(F.min("text").alias("first_text"),
             F.count(F.lit(1)).alias("c"),
             F.countDistinct("doc_id").alias("u"))
        .orderBy(F.desc("c"), "lang")
        .limit(10)
    )


sql_query(
    "cb_order_two_cols",
    """
SELECT ts, event_type FROM events
WHERE event_type <> ''
ORDER BY ts, event_type LIMIT 10
""",
)


@query(
    "cb_ip_sum_avg",
    oracle="""
SELECT event_type, user_id, count(*) AS c,
       sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS hi,
       round(avg(value), 6) AS av
FROM events WHERE props <> ''
GROUP BY event_type, user_id
ORDER BY c DESC, event_type, user_id LIMIT 10
""",
)
def cb_ip_sum_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q30 shape (queries.sql:48): (engine, ip)-style two-key
    grouping with count + conditional sum + avg, top-10 heavy hitters."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("props") != "")
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).cast("long").alias("hi"),
            F.round(F.avg("value"), 6).alias("av"),
        )
        .orderBy(F.desc("c"), "event_type", "user_id")
        .limit(10)
    )


@query(
    "cb_two_key_heavy",
    oracle="""
SELECT event_id, user_id, count(*) AS c,
       round(sum(value), 4) AS sv
FROM events
GROUP BY event_id, user_id
ORDER BY c DESC, event_id, user_id LIMIT 10
""",
)
def cb_two_key_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q32 shape (queries.sql:50): grouping on a near-unique
    key pair — the suite's worst-case shuffle (every row is its own
    group). Partial aggregation can't reduce it; the plan's cost IS the
    exchange, which is the point of the benchmark entry. Top-10 still
    avoids a full sort via TakeOrderedAndProject."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 4).alias("sv"))
        .orderBy(F.desc("c"), "event_id", "user_id")
        .limit(10)
    )


sql_query(
    "cb_derived_keys",
    """
SELECT user_id AS u, user_id - 1 AS u1, user_id - 2 AS u2, user_id - 3 AS u3,
       count(*) AS c
FROM events
GROUP BY user_id, user_id - 1, user_id - 2, user_id - 3
ORDER BY c DESC, u LIMIT 10
""",
)


@query(
    "cb_window_dims",
    oracle="""
SELECT CAST(round(value, -1) AS BIGINT) AS w, length(props) AS h, count(*) AS pv
FROM events
WHERE event_type = 'click' AND ts >= TIMESTAMP '2024-01-07 00:00:00'
  AND ts <= TIMESTAMP '2024-01-21 00:00:00'
GROUP BY w, h ORDER BY pv DESC, w, h LIMIT 10
""",
)
def cb_window_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q38 shape (queries.sql:59): pageviews per client
    window geometry under a compound filter — derived dimension pair,
    filters all pushed to the scan, top-10."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter((F.col("event_type") == "click")
                  & (F.col("ts") >= F.lit("2024-01-07 00:00:00").cast("timestamp"))
                  & (F.col("ts") <= F.lit("2024-01-21 00:00:00").cast("timestamp")))
        .groupBy(
            F.round(F.col("value"), -1).cast("bigint").alias("w"),
            F.length("props").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("pv"))
        .orderBy(F.desc("pv"), "w", "h")
        .limit(10)
    )


@query(
    "cb_ndv_phrases",
    oracle="SELECT count(DISTINCT source) AS s, count(DISTINCT lang) AS l FROM documents",
)
def cb_ndv_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q5 shape (queries.sql:23): NDV over a string column
    (SearchPhrase analog) — partial distinct before the exchange."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.agg(
        F.countDistinct("source").alias("s"),
        F.countDistinct("lang").alias("l"),
    )


sql_query(
    "cb_phrase_topk",
    """
SELECT source, count(*) AS c FROM documents
WHERE source <> '' GROUP BY source
ORDER BY c DESC, source LIMIT 10
""",
)


sql_query(
    "cb_count_like",
    "SELECT count(*) AS n FROM documents WHERE text LIKE '%google%' OR text LIKE '%spark%'",
)


@query(
    "cb_nonzero_group_order_agg",
    oracle="""
SELECT user_id % 10 AS ub, count(*) AS c FROM events
WHERE value > 0.5 GROUP BY user_id % 10 ORDER BY c DESC, ub
""",
)
def cb_nonzero_group_order_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q7 shape (queries.sql:25): nonzero filter, group on the
    filtered key, ORDER BY the aggregate itself with NO limit — the full
    grouped result streams out sorted."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("value") > 0.5)
        .groupBy((F.col("user_id") % 10).alias("ub"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "ub")
    )


@query(
    "cb_region_multi_ndv",
    oracle="""
SELECT user_id % 100 AS region, round(sum(value), 4) AS sv, count(*) AS c,
       round(avg(value), 6) AS av, count(DISTINCT user_id) AS u
FROM events GROUP BY user_id % 100 ORDER BY c DESC, region LIMIT 10
""",
)
def cb_region_multi_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q10 shape (queries.sql:27): four aggregates including an
    NDV in one grouped pass, top-10 by count — Catalyst plans the distinct
    via expand + two-phase agg, one shuffle on the group key."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy((F.col("user_id") % 100).alias("region"))
        .agg(
            F.round(F.sum("value"), 4).alias("sv"),
            F.count(F.lit(1)).alias("c"),
            F.round(F.avg("value"), 6).alias("av"),
            F.countDistinct("user_id").alias("u"),
        )
        .orderBy(F.desc("c"), "region")
        .limit(10)
    )


@query(
    "cb_phrase_user_ndv",
    oracle="""
SELECT event_type, count(DISTINCT user_id) AS u FROM events
WHERE event_type <> '' GROUP BY event_type ORDER BY u DESC, event_type LIMIT 10
""",
)
def cb_phrase_user_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q14 shape (queries.sql:31): non-empty string key, NDV of
    users per key, top-10 by the NDV."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("event_type") != "")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .orderBy(F.desc("u"), "event_type")
        .limit(10)
    )


sql_query(
    "cb_user_phrase_bare_count",
    """
SELECT user_id, event_type, count(*) AS c FROM events
GROUP BY user_id, event_type ORDER BY c DESC, user_id, event_type LIMIT 10
""",
)


@query(
    "cb_wide_row_topn",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS tss, user_id,
       event_type, round(value, 6) AS v, props
FROM events WHERE props LIKE '%"k"%'
ORDER BY ts, event_id LIMIT 10
""",
)
def cb_wide_row_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q24 shape (queries.sql:41): SELECT * under a substring
    filter, ordered by time, LIMIT 10 — TakeOrderedAndProject carries the
    full row width through the top-N heap instead of a global sort."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(F.col("props").contains('"k"'))
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("tss"),
            "user_id",
            "event_type",
            F.round("value", 6).alias("v"),
            "props",
        )
        .orderBy("tss", "event_id")
        .limit(10)
    )


@query(
    "cb_const_key_group",
    oracle="""
SELECT 1 AS one, event_type, count(*) AS c FROM events
GROUP BY 1, event_type ORDER BY c DESC, event_type LIMIT 10
""",
)
def cb_const_key_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q35 shape (queries.sql:52): a constant grouping key
    alongside a real one (GROUP BY 1, URL) — the literal folds away, the
    plan groups only on the live key."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.lit(1).alias("one"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "event_type")
        .limit(10)
    )


sql_query(
    "cb_dated_topk_offset",
    """
SELECT event_type, count(*) AS pv FROM events
WHERE ts >= '2024-01-02' AND ts < '2024-01-05'
  AND value > 0.1 AND user_id % 2 = 0 AND event_type <> ''
GROUP BY event_type ORDER BY pv DESC, event_type LIMIT 5 OFFSET 2
""",
)


sql_query(
    "cb_case_src_dst",
    """
SELECT doc_id % 5 AS src_kind,
       CASE WHEN doc_id % 5 = 0 THEN source ELSE '' END AS src,
       lang AS dst, count(*) AS pv
FROM documents
GROUP BY doc_id % 5, CASE WHEN doc_id % 5 = 0 THEN source ELSE '' END, lang
ORDER BY pv DESC, src_kind, src, dst LIMIT 10 OFFSET 5
""",
)


@query(
    "cb_inlist_point",
    oracle="""
SELECT CAST(ts AS DATE) AS d, count(*) AS pv FROM events
WHERE user_id % 7 IN (1, 6)
  AND (user_id * 2654435761) % 1000 < 40
GROUP BY CAST(ts AS DATE) ORDER BY pv DESC, d LIMIT 10
""",
)
def cb_inlist_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q41 shape (queries.sql:58): IN-list + hash-point
    predicates (TraficSourceID IN (-1,6) AND RefererHash = const) over a
    dated group — both predicates push to the scan; Knuth-multiplicative
    arithmetic stands in for the stored hash column."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter(
            (F.col("user_id") % 7).isin(1, 6)
            & ((F.col("user_id") * 2654435761) % 1000 < 40)
        )
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("pv"))
        .orderBy(F.desc("pv"), "d")
        .limit(10)
    )


@query(
    "cb_minute_fmt_offset",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d %H:%M:00') AS m, count(*) AS pv FROM events
WHERE ts >= '2024-01-02' AND ts < '2024-01-03'
GROUP BY strftime(ts, '%Y-%m-%d %H:%M:00') ORDER BY m LIMIT 10 OFFSET 100
""",
)
def cb_minute_fmt_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickBench Q42 shape (queries.sql:60): DATE_FORMAT minute buckets,
    grouped AND ordered by the formatted string, paged with OFFSET."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.filter((F.col("ts") >= "2024-01-02") & (F.col("ts") < "2024-01-03"))
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd HH:mm:00").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("pv"))
        .orderBy("m")
        .offset(100)
        .limit(10)
    )
