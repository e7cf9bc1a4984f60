"""Driver-gate queries exercising the registered Doris-name SQL functions
(doris_spark/functions/registry.py) end-to-end, through Engine.sql or
spark.sql, with a DuckDB oracle recomputing each semantic independently."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from doris_spark.queries import query, sql_query
from doris_spark.session import register_views


sql_query(
    "doris_fn_matrix",
    """
SELECT o_orderkey,
       years_add(o_orderdate, 1)                              AS plus1y,
       months_diff(o_orderdate, TIMESTAMP '1995-01-01 00:00:00') AS mdiff,
       month_ceil(o_orderdate)                                AS mceil,
       truncate(o_totalprice, 1)                              AS trunc1,
       strcmp(o_orderstatus, 'O')                             AS sc,
       to_days(CAST(o_orderdate AS DATE))                     AS td,
       ipv4_num_to_string(o_orderkey * 65536)                 AS ip,
       yearweek(o_orderdate)                                  AS yw,
       null_or_empty(o_orderpriority)                         AS noe
FROM orders
WHERE o_orderkey < 200
""",
    oracle="""
SELECT o_orderkey,
       o_orderdate + INTERVAL 1 YEAR AS plus1y,
       (year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 1)
         - CASE WHEN day(o_orderdate) < 1 THEN 1 ELSE 0 END AS mdiff,
       CASE WHEN o_orderdate = CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
            THEN o_orderdate
            ELSE CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) + INTERVAL 1 MONTH
       END AS mceil,
       CASE WHEN o_totalprice >= 0
            THEN floor(o_totalprice * 10) / 10
            ELSE ceil(o_totalprice * 10) / 10 END AS trunc1,
       CASE WHEN o_orderstatus < 'O' THEN -1
            WHEN o_orderstatus > 'O' THEN 1 ELSE 0 END AS sc,
       datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS td,
       concat_ws('.',
         CAST((o_orderkey * 65536 >> 24) & 255 AS VARCHAR),
         CAST((o_orderkey * 65536 >> 16) & 255 AS VARCHAR),
         CAST((o_orderkey * 65536 >> 8) & 255 AS VARCHAR),
         CAST(o_orderkey * 65536 & 255 AS VARCHAR)) AS ip,
       CASE WHEN dayofyear(o_orderdate)
              >= 1 + (7 - dayofweek(date_trunc('year', o_orderdate))) % 7
            THEN year(o_orderdate) * 100
                 + (dayofyear(o_orderdate)
                    - (1 + (7 - dayofweek(date_trunc('year', o_orderdate))) % 7)) // 7 + 1
            ELSE (year(o_orderdate) - 1) * 100
                 + (dayofyear(CAST((year(o_orderdate) - 1) || '-12-31' AS DATE))
                    - (1 + (7 - dayofweek(CAST((year(o_orderdate) - 1) || '-01-01' AS DATE))) % 7)) // 7 + 1
       END AS yw,
       CASE WHEN o_orderpriority = '' OR o_orderpriority IS NULL
            THEN true ELSE false END AS noe
FROM orders
WHERE o_orderkey < 200
""",
)


sql_query(
    "ip_fns",
    """
WITH ips AS (
  SELECT c_custkey, (c_custkey * 2654435761) % 4294967296 AS n
  FROM customer WHERE c_custkey < 200
)
SELECT c_custkey, n,
       ipv4_num_to_string(n)                         AS ip,
       ipv4_string_to_num(ipv4_num_to_string(n))     AS roundtrip,
       is_ipv4_string(ipv4_num_to_string(n))         AS valid,
       is_ipv4_string('999.1.1.1')                   AS invalid,
       is_ip_address_in_range(ipv4_num_to_string(n), '10.0.0.0/8')  AS in_10_8,
       is_ip_address_in_range(ipv4_num_to_string(n), '160.0.0.0/4') AS in_a0_4
FROM ips ORDER BY c_custkey
""",
    oracle="""
WITH ips AS (
  SELECT c_custkey, (c_custkey * 2654435761) % 4294967296 AS n
  FROM customer WHERE c_custkey < 200
)
SELECT c_custkey, n,
       CAST((n >> 24) & 255 AS VARCHAR) || '.' || CAST((n >> 16) & 255 AS VARCHAR)
         || '.' || CAST((n >> 8) & 255 AS VARCHAR) || '.' || CAST(n & 255 AS VARCHAR)
         AS ip,
       n AS roundtrip,
       true AS valid,
       false AS invalid,
       ((n >> 24) & 255) = 10 AS in_10_8,
       ((n >> 28)) = (CAST(160 AS BIGINT) >> 4) AS in_a0_4
FROM ips ORDER BY c_custkey
""",
)


_MASK_DUCK = ("regexp_replace(regexp_replace(regexp_replace({c}, '[A-Z]', 'X', 'g'), "
              "'[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')")


# URL family (function_string_url.cpp: protocol/domain/domain_without_www/
# top_level_domain/extract_url_parameter) and mask family (mask/
# mask_first_n/mask_last_n) over synthesized URLs; the oracle derives
# every expected value from the construction.
sql_query(
    "url_mask_fns",
    """
WITH u AS (
  SELECT c_custkey, c_name,
         concat('https://www.', lower(c_mktsegment), '.example.com/p?id=',
                CAST(c_custkey AS STRING), '&seg=', lower(c_mktsegment),
                '#frag') AS url
  FROM customer WHERE c_custkey < 200
)
SELECT c_custkey,
       protocol(url)                        AS proto,
       domain(url)                          AS dom,
       domain_without_www(url)              AS dom_no_www,
       top_level_domain(url)                AS tld,
       extract_url_parameter(url, 'id')     AS id_param,
       extract_url_parameter(url, 'seg')    AS seg_param,
       mask(c_name)                         AS masked,
       mask_first_n(c_name, 4)              AS mask4,
       mask_last_n(c_name, 3)               AS mask_last3
FROM u ORDER BY c_custkey
""",
    oracle=f"""
WITH u AS (
  SELECT c_custkey, c_name,
         'https://www.' || lower(c_mktsegment) || '.example.com/p?id='
           || CAST(c_custkey AS VARCHAR) || '&seg=' || lower(c_mktsegment)
           || '#frag' AS url,
         lower(c_mktsegment) AS seg
  FROM customer WHERE c_custkey < 200
)
SELECT c_custkey,
       'https'                      AS proto,
       'www.' || seg || '.example.com' AS dom,
       seg || '.example.com'        AS dom_no_www,
       'com'                        AS tld,
       CAST(c_custkey AS VARCHAR)   AS id_param,
       seg                          AS seg_param,
       {_MASK_DUCK.format(c='c_name')} AS masked,
       {_MASK_DUCK.format(c="substr(c_name, 1, 4)")} || substr(c_name, 5) AS mask4,
       substr(c_name, 1, greatest(length(c_name) - 3, 0))
         || {_MASK_DUCK.format(c="substr(c_name, greatest(length(c_name) - 3, 0) + 1)")}
         AS mask_last3
FROM u ORDER BY c_custkey
""",
)


# convert_tz (IANA zones incl. half-hour offsets and DST edges — events
# span a March DST switch), the MySQL date_format tokens, dayname/monthname
# and unix_timestamp: the date/time string surface of SURVEY §2.8, in
# Doris's spelling. Doris names days and months in full (`Monday`,
# `January`), so the oracle formats with DuckDB's `%A`/`%B`.
sql_query(
    "tz_datefmt_fns",
    """
SELECT event_id,
       convert_tz(ts, 'UTC', 'America/New_York') AS ny,
       convert_tz(ts, 'UTC', 'Asia/Tokyo')       AS tokyo,
       convert_tz(ts, 'Asia/Kolkata', 'UTC')     AS from_ist,
       date_format(ts, '%Y-%m-%d %H:%i:%s')      AS fmt_full,
       date_format(ts, '%d/%m/%Y')               AS fmt_dmy,
       dayname(ts)                               AS dname,
       monthname(ts)                             AS mname,
       unix_timestamp(ts)                        AS unix_ts
FROM events WHERE event_id < 100 ORDER BY event_id
""",
    oracle="""
WITH t AS (
  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts
  FROM events WHERE event_id < 100
)
SELECT event_id,
       (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York' AS ny,
       (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo'       AS tokyo,
       (ts AT TIME ZONE 'Asia/Kolkata') AT TIME ZONE 'UTC'     AS from_ist,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt_full,
       strftime(ts, '%d/%m/%Y')          AS fmt_dmy,
       strftime(ts, '%A')                AS dname,
       strftime(ts, '%B')                AS mname,
       CAST(floor(epoch(ts)) AS BIGINT)  AS unix_ts
FROM t ORDER BY event_id
""",
)


@query(
    "fn_stragglers",
    # Each semantic recomputed independently in DuckDB: strpos per needle,
    # explicit regexp alternation, the 3-element enumerate-uniq closed form,
    # DuckDB's native damerau_levenshtein (same unrestricted variant), and
    # json_extract presence.
    oracle="""
SELECT c_custkey,
       array_to_string(list_transform(['Customer', '00', 'zzz'],
                                      n -> strpos(c_name, n)), ',') AS msap,
       (regexp_matches(c_name, '0$') OR regexp_matches(c_name, '5$')) AS mma,
       array_to_string(list_value(1,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 2 ELSE 1 END,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 3 ELSE 2 END), ',') AS enu,
       damerau_levenshtein(c_mktsegment, 'BUILDINGS') AS dl,
       json_extract(concat('{"seg": "', c_mktsegment, '"}'), '$.seg') IS NOT NULL AS jep
FROM customer
WHERE c_custkey < 500
ORDER BY c_custkey
""",
)
def fn_stragglers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 straggler functions end-to-end through spark.sql:
    multi_search_all_positions / multi_match_any
    (be/src/exprs/function/function_multi_match.cpp), array_enumerate_uniq,
    damerau_levenshtein (function_levenshtein.cpp; pandas-UDF DP kernel),
    json_exists_path (function_jsonb.cpp)."""
    text = """
        SELECT c_custkey,
               array_join(multi_search_all_positions(
                 c_name, array('Customer', '00', 'zzz')), ',')                    AS msap,
               multi_match_any(c_name, array('0$', '5$'))                         AS mma,
               array_join(array_enumerate_uniq(
                 array(c_mktsegment, 'BUILDING', c_mktsegment)), ',')             AS enu,
               damerau_levenshtein(c_mktsegment, 'BUILDINGS')                     AS dl,
               json_exists_path(concat('{"seg": "', c_mktsegment, '"}'), '$.seg') AS jep
        FROM customer
        WHERE c_custkey < 500
        ORDER BY c_custkey
        """
    register_views(spark, sf_dir, text)
    return spark.sql(text)


@query(
    "dict_lookup",
    oracle="""
SELECT n.n_name AS nation_name, count(*) AS n_customers,
       sum(c.c_acctbal) AS total_bal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def dict_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doris dictionary lookup (function_dict_get.cpp): nation is
    materialized as an inline literal-map dictionary (dict_get_expr), so the
    customer aggregation runs with ZERO joins — the lookup is a pure
    whole-stage-codegen expression, the Spark analog of Doris's
    BE-replicated dictionary hash table."""
    from pyspark.sql import functions as F

    from doris_spark.functions.dicts import dict_get_expr
    from doris_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    name_of = dict_get_expr(t["nation"], "n_nationkey", "n_name", F.col("c_nationkey"))
    return (
        t["customer"]
        .select(name_of.alias("nation_name"), "c_acctbal")
        .groupBy("nation_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum("c_acctbal").alias("total_bal"))
        .orderBy("nation_name")
    )
