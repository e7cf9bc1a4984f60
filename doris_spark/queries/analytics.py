"""Window functions, grouping sets, set operations, statistical aggregates,
scalar-function matrices — the §2.4/2.5/2.6/2.7/2.8 operator surface.

Reference analogs: analytic sink (be/src/exec/operator/analytic_sink_operator.h),
repeat operator for GROUPING SETS (be/src/exec/operator/repeat_operator.h:60),
set ops (be/src/exec/operator/set_sink_operator.h:71), partition-topn
(be/src/exec/operator/partition_sort_sink_operator.h:70), aggregate registry
(fe/.../catalog/BuiltinAggregateFunctions.java), scalar registry
(fe/.../catalog/BuiltinScalarFunctions.java).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from doris_spark.functions.dicts import nation_geo_exprs
from doris_spark.queries import query, sql_query
from doris_spark.session import load_tables


# ---------------------------------------------------------------- windows

@query(
    "win_running",
    oracle="""
SELECT o_custkey, o_orderkey, rn, running_total, prev_price, next_price
FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER w AS rn,
         sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total,
         lag(o_totalprice)  OVER w AS prev_price,
         lead(o_totalprice) OVER w AS next_price
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) x
WHERE o_custkey < 50
""",
)
def win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.sum("o_totalprice").over(wf).alias("running_total"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .filter(F.col("o_custkey") < 50)
    )


@query(
    "win_rank",
    oracle="""
SELECT c_custkey, c_mktsegment,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist()    OVER w AS cdist,
       ntile(4)       OVER w AS quartile,
       first_value(c_custkey) OVER w AS top_cust,
       nth_value(c_custkey, 2) OVER w AS second_cust
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w).alias("top_cust"),
        F.nth_value("c_custkey", 2).over(w).alias("second_cust"),
    )


sql_query(
    "win_topn",
    """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) ranked
WHERE rn <= 3
""",
)


@query(
    "win_frames",
    oracle="""
SELECT l_orderkey, l_linenumber,
       sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS qty_3row,
       min(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_min,
       max(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS max_ahead,
       avg(l_quantity) OVER (PARTITION BY l_orderkey) AS avg_order
FROM lineitem
WHERE l_orderkey < 100
""",
)
def win_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"].filter(F.col("l_orderkey") < 100)
    base = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(base.rowsBetween(-1, 1)).alias("qty_3row"),
        F.min("l_quantity").over(base.rowsBetween(Window.unboundedPreceding, 0)).alias("run_min"),
        F.max("l_quantity").over(base.rowsBetween(0, Window.unboundedFollowing)).alias("max_ahead"),
        F.avg("l_quantity").over(Window.partitionBy("l_orderkey")).alias("avg_order"),
    )


# ------------------------------------------------- grouping sets / rollup

sql_query(
    "agg_rollup",
    """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       sum(l_quantity) AS sum_qty, count(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)


sql_query(
    "agg_cube",
    """
SELECT l_returnflag, l_linestatus,
       grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
       sum(l_extendedprice) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)


sql_query(
    "agg_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt, sum(o_totalprice) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority
""",
)


# ------------------------------------------------------------------ setops

sql_query(
    "setops_mix",
    """
WITH y96 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'),
     y97 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
               AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
     y98 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
               AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00')
SELECT 'both_96_97' AS tag, count(*) AS cnt FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97) a
UNION ALL
SELECT 'only_96' AS tag, count(*) AS cnt FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97) b
UNION ALL
SELECT 'any_union' AS tag, count(*) AS cnt
FROM (SELECT * FROM y96 UNION SELECT * FROM y97 UNION SELECT * FROM y98) c
""",
)


@query(
    "setops_intersect_except_all",
    oracle="""
SELECT l_suppkey, count(*) AS cnt FROM (
  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
  INTERSECT ALL
  SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
) x GROUP BY l_suppkey ORDER BY l_suppkey
""",
)
def setops_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    return (
        r.intersectAll(a)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("l_suppkey")
    )


# -------------------------------------------------------- distinct / stats

@query(
    "distinct_multi",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_suppkey)  AS nd_supp,
       count(DISTINCT l_partkey)  AS nd_part,
       sum(DISTINCT l_quantity)   AS sd_qty,
       count(*)                   AS cnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one query — Catalyst plans the Expand
    rewrite (Doris analog: SplitMultiDistinctStrategy.java)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.countDistinct("l_partkey").alias("nd_part"),
            F.sum_distinct(F.col("l_quantity")).alias("sd_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


sql_query(
    "stats_agg",
    """
SELECT l_returnflag,
       corr(l_quantity, l_extendedprice)       AS corr_qp,
       covar_pop(l_quantity, l_extendedprice)  AS covp,
       covar_samp(l_quantity, l_extendedprice) AS covs,
       stddev_pop(l_quantity)  AS sdp,
       stddev_samp(l_quantity) AS sds,
       var_pop(l_quantity)     AS vp,
       var_samp(l_quantity)    AS vs,
       regr_slope(l_extendedprice, l_quantity)     AS rslope,
       regr_intercept(l_extendedprice, l_quantity) AS rint,
       regr_r2(l_extendedprice, l_quantity)        AS rr2,
       regr_count(l_extendedprice, l_quantity)     AS rcnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)


@query(
    "percentile_agg",
    oracle="""
SELECT l_linestatus,
       quantile_cont(l_quantity, 0.5)  AS p50,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.75) AS q75,
       quantile_disc(l_quantity, 0.9)  AS p90_disc,
       min(l_quantity) AS qmin, max(l_quantity) AS qmax
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (Doris percentile/percentile_array; the reference's
    percentile_approx maps to F.percentile_approx — not oracle-checked since
    sketches differ)."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.percentile("l_quantity", 0.5).alias("p50"),
            # percentile_array surface: one pass computes the array, then
            # scalar projections (driver canonicalizer can't sort arrays)
            F.element_at(F.percentile("l_quantity", [0.25, 0.5, 0.75]), 1).alias("q25"),
            F.element_at(F.percentile("l_quantity", [0.25, 0.5, 0.75]), 3).alias("q75"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)").alias("p90_disc"),
            F.min("l_quantity").alias("qmin"),
            F.max("l_quantity").alias("qmax"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "skew_kurt",
    oracle="""
WITH src AS (
  SELECT l_returnflag, l_extendedprice * l_quantity AS v FROM lineitem
), m AS (
  SELECT l_returnflag, avg(v) AS mu FROM src GROUP BY l_returnflag
)
SELECT m.l_returnflag,
       round(avg(pow(v - mu, 3)) / pow(avg(pow(v - mu, 2)), 1.5), 6) AS skew,
       round(avg(pow(v - mu, 4)) / pow(avg(pow(v - mu, 2)), 2) - 3.0, 6) AS kurt
FROM src JOIN m ON src.l_returnflag = m.l_returnflag
GROUP BY m.l_returnflag
ORDER BY m.l_returnflag
""",
)
def skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's skewness/kurtosis are population (g1 / excess g2) statistics;
    DuckDB's builtins are sample-adjusted, so the oracle computes the
    population moments explicitly. Both sides round to 6 decimals — the
    one-pass (Spark) vs two-pass (oracle) moment accumulation differs in
    the last few ulps."""
    li = load_tables(spark, sf_dir)["lineitem"]
    v = F.col("l_extendedprice") * F.col("l_quantity")
    return (
        li.select("l_returnflag", v.alias("v"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.skewness("v"), 6).alias("skew"),
            F.round(F.kurtosis("v"), 6).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "collect_agg",
    oracle="""
SELECT n_name,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
       string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS seg_concat,
       count(*) AS cnt
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set/array_agg + group_concat (Doris group_concat →
    sorted array_join for deterministic output)."""
    t = load_tables(spark, sf_dir)
    seg_set = F.array_sort(F.collect_set("c_mktsegment"))
    return (
        t["customer"]
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(
            # collect_set exercised; serialized for the driver canonicalizer
            F.array_join(seg_set, ",").alias("segments"),
            F.array_join(seg_set, "|").alias("seg_concat"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------- null-aware anti join

sql_query(
    "null_aware_anti",
    """
SELECT count(*) AS cnt FROM customer
WHERE c_nationkey NOT IN (
  SELECT CASE WHEN s_acctbal < 1000 THEN NULL ELSE s_nationkey END
  FROM supplier
)
""",
)


# ----------------------------------------------------------- CTE reuse

@query(
    "cte_reuse",
    oracle="""
WITH nation_rev AS (
  SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT a.n_name, a.rev,
       a.rev / (SELECT sum(rev) FROM nation_rev) AS share,
       a.rev - (SELECT avg(rev) FROM nation_rev) AS vs_avg
FROM nation_rev a
ORDER BY a.rev DESC, a.n_name
""",
)
def cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-consumer CTE (Doris LogicalCTEProducer/Consumer; BE
    multi_cast_data_streamer.h). Spark: compute once, reuse the DataFrame —
    Catalyst reuses the exchange; scalar aggregates broadcast."""
    t = load_tables(spark, sf_dir)
    nation_rev = (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("n_name", nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))[0])
        .filter(F.col("n_name").isNotNull())
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    # Scalar consumers as a GLOBAL window over the 25-row aggregate
    # (r12): one single-partition pass computes total+avg and the
    # projection together, so the aggregate subtree has ONE consumer
    # again (checkpoint dropped) — the agg + BroadcastExchange +
    # crossJoin shape cost two extra jobs. Scale-correct because it is
    # bounded (<=25 nations at every SF); unbounded inputs must keep the
    # broadcast-scalar shape.
    w = Window.partitionBy()
    return (
        nation_rev.select(
            "n_name",
            "rev",
            (F.col("rev") / F.sum("rev").over(w)).alias("share"),
            (F.col("rev") - F.avg("rev").over(w)).alias("vs_avg"),
        )
        .orderBy(F.desc("rev"), "n_name")
    )


# --------------------------------------------------- scalar function matrix

sql_query(
    "scalar_string_fns",
    """
SELECT c_custkey,
       upper(c_name)                             AS up,
       lower(c_mktsegment)                       AS lo,
       substr(c_name, 10, 5)                     AS sub,
       length(c_name)                            AS len,
       concat(c_name, '#', c_mktsegment)         AS cat,
       lpad(CAST(c_custkey AS VARCHAR), 8, '0')  AS padded,
       replace(c_name, 'Customer', 'Cust')       AS repl,
       reverse(c_mktsegment)                     AS rev,
       split_part(c_name, '#', 2)                AS spart,
       instr(c_name, '#')                        AS pos,
       trim(concat('  ', c_mktsegment, '  '))    AS trimmed,
       left(c_name, 4)                           AS l4,
       right(c_name, 4)                          AS r4,
       repeat(substr(c_mktsegment, 1, 1), 3)     AS rep,
       translate(c_mktsegment, 'AEIOU', 'aeiou') AS trans,
       levenshtein(c_mktsegment, 'BUILDING')     AS lev,
       md5(c_name)                               AS h,
       contains(c_name, '#00')                   AS has00,
       starts_with(c_name, 'Customer')           AS sw,
       ends_with(c_name, '0')                    AS ew
FROM customer
WHERE c_custkey < 100
""",
)


sql_query(
    "scalar_math_fns",
    """
SELECT p_partkey,
       abs(p_retailprice - 1000)        AS a,
       round(p_retailprice, 1)          AS r1,
       CAST(ceil(p_retailprice) AS BIGINT)  AS ce,
       CAST(floor(p_retailprice) AS BIGINT) AS fl,
       sqrt(p_retailprice)              AS sq,
       cbrt(p_retailprice)              AS cb,
       ln(p_retailprice)                AS lns,
       log10(p_retailprice)             AS l10,
       log2(p_retailprice)              AS l2,
       exp(p_size / 50.0)               AS ex,
       pow(p_size, 2)                   AS p2,
       (p_partkey % 7)                  AS md,
       CAST(sign(p_retailprice - 1000) AS DOUBLE) AS sg,
       greatest(p_size, 25)             AS gr,
       least(p_size, 25)                AS le,
       sin(p_size)                      AS sn,
       cos(p_size)                      AS cs,
       atan2(p_size, 10)                AS at2,
       degrees(p_size / 100.0)          AS dg,
       radians(p_size * 1.0)            AS rd,
       pi()                             AS pival
FROM part WHERE p_partkey < 100
""",
)


@query(
    "scalar_date_fns",
    oracle="""
SELECT o_orderkey,
       year(o_orderdate)                     AS y,
       month(o_orderdate)                    AS m,
       day(o_orderdate)                      AS d,
       quarter(o_orderdate)                  AS q,
       weekofyear(o_orderdate)               AS woy,
       dayofweek(o_orderdate) + 1            AS dow,
       dayofyear(o_orderdate)                AS doy,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mstart,
       CAST(date_trunc('year', o_orderdate)  AS TIMESTAMP) AS ystart,
       o_orderdate + INTERVAL 30 DAY         AS plus30,
       o_orderdate - INTERVAL 1 MONTH        AS minus1m,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS eom,
       datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
       CAST(epoch(o_orderdate) AS BIGINT)    AS unixts,
       strftime(o_orderdate, '%Y-%m-%d')     AS fmt,
       CAST(o_orderdate AS DATE)             AS as_date
FROM orders WHERE o_orderkey < 100
""",
)
def scalar_date_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time matrix. Engine deltas handled in the oracle: DuckDB
    dayofweek is 0-based (Spark 1-based = Sunday first); DuckDB datediff
    takes a unit."""
    o = load_tables(spark, sf_dir)["orders"].filter(F.col("o_orderkey") < 100)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.weekofyear("o_orderdate").alias("woy"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_trunc("month", "o_orderdate").alias("mstart"),
        F.date_trunc("year", "o_orderdate").alias("ystart"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("plus30"),
        (F.col("o_orderdate") - F.expr("INTERVAL 1 MONTH")).alias("minus1m"),
        F.last_day("o_orderdate").alias("eom"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias("days_since"),
        F.unix_timestamp("o_orderdate").alias("unixts"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("fmt"),
        F.to_date("o_orderdate").alias("as_date"),
    )


sql_query(
    "scalar_conditional_fns",
    """
SELECT s_suppkey,
       CASE WHEN s_acctbal > 5000 THEN 'rich'
            WHEN s_acctbal > 0 THEN 'ok' ELSE 'neg' END AS bal_class,
       if(s_acctbal > 0, 'pos', 'nonpos')      AS ifx,
       coalesce(nullif(s_name, s_name), s_name) AS coal,
       nullif(s_nationkey, 0)                   AS nif,
       ifnull(nullif(s_nationkey, s_nationkey), -1) AS inull,
       greatest(s_acctbal, 0.0)                 AS g0,
       least(s_acctbal, 0.0)                    AS l0,
       (s_acctbal IS NULL)                      AS isn,
       (s_acctbal IS NOT NULL)                  AS isnn
FROM supplier
""",
)


@query(
    "scalar_regexp_fns",
    oracle="""
SELECT p_partkey,
       regexp_matches(p_name, 'w.dget')                   AS is_widget,
       regexp_extract(p_name, '[a-z]+')                   AS first_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g')        AS devowel,
       (p_name LIKE '%bolt%')                             AS like_bolt,
       (p_name LIKE 'c%')                                 AS like_c,
       (p_name NOT LIKE '%widget')                        AS notlike,
       len(regexp_split_to_array(p_name, ' '))            AS nwords
FROM part WHERE p_partkey < 100
""",
)
def scalar_regexp_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir)["part"].filter(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.col("p_name").rlike("w.dget").alias("is_widget"),
        F.regexp_extract("p_name", "[a-z]+", 0).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devowel"),
        F.col("p_name").like("%bolt%").alias("like_bolt"),
        F.col("p_name").like("c%").alias("like_c"),
        (~F.col("p_name").like("%widget")).alias("notlike"),
        F.size(F.split(F.col("p_name"), " ")).alias("nwords"),
    )


# ------------------------------------------------------- NULL edge matrix

# Aggregates over an empty set and over all-NULL input (Doris
# AdjustAggregateNullableForEmptySet.java; sum0 vs sum), and the signs of
# integer division and modulo. Doris `div` is DuckDB `//`.
sql_query(
    "null_edge_aggs",
    """
SELECT
  (SELECT sum(l_quantity)   FROM lineitem WHERE 1 = 0) AS sum_empty,
  (SELECT count(*)          FROM lineitem WHERE 1 = 0) AS cnt_empty,
  (SELECT avg(l_quantity)   FROM lineitem WHERE 1 = 0) AS avg_empty,
  (SELECT max(l_quantity)   FROM lineitem WHERE 1 = 0) AS max_empty,
  sum(nullif(l_quantity, l_quantity))                  AS sum_all_null,
  count(nullif(l_quantity, l_quantity))                AS cnt_all_null,
  avg(CASE WHEN l_orderkey % 2 = 0 THEN l_quantity END) AS avg_half_null,
  coalesce(sum(nullif(l_quantity, l_quantity)), 0.0)   AS sum0_analog,
  CAST(7 / 2 AS DOUBLE)                                AS int_div_slash,
  7 div 2                                              AS int_div_kw,
  (-7) % 3                                             AS mod_neg
FROM lineitem
""",
    oracle="""
SELECT
  (SELECT sum(l_quantity)   FROM lineitem WHERE 1 = 0) AS sum_empty,
  (SELECT count(*)          FROM lineitem WHERE 1 = 0) AS cnt_empty,
  (SELECT avg(l_quantity)   FROM lineitem WHERE 1 = 0) AS avg_empty,
  (SELECT max(l_quantity)   FROM lineitem WHERE 1 = 0) AS max_empty,
  sum(nullif(l_quantity, l_quantity))                  AS sum_all_null,
  count(nullif(l_quantity, l_quantity))                AS cnt_all_null,
  avg(CASE WHEN l_orderkey % 2 = 0 THEN l_quantity END) AS avg_half_null,
  coalesce(sum(nullif(l_quantity, l_quantity)), 0.0)   AS sum0_analog,
  CAST(7 / 2 AS DOUBLE)                                AS int_div_slash,
  7 // 2                                               AS int_div_kw,
  (-7) % 3                                             AS mod_neg
FROM lineitem
""",
)


@query(
    "null_edge_groupby",
    oracle="""
SELECT nullif(l_returnflag, 'R') AS flag_or_null,
       count(*) AS cnt,
       count(nullif(l_linestatus, 'F')) AS non_f_cnt,
       max(nullif(l_quantity, l_quantity)) AS all_null_max
FROM lineitem
GROUP BY 1
ORDER BY flag_or_null NULLS FIRST
""",
)
def null_edge_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL group keys: rows with NULL key form ONE group (SQL semantics
    both engines share); count skips NULLs, count(*) does not."""
    li = load_tables(spark, sf_dir)["lineitem"]
    return (
        li.groupBy(F.nullif(F.col("l_returnflag"), F.lit("R")).alias("flag_or_null"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count(F.nullif(F.col("l_linestatus"), F.lit("F"))).alias("non_f_cnt"),
            F.max(F.nullif(F.col("l_quantity"), F.col("l_quantity"))).alias("all_null_max"),
        )
        .orderBy(F.col("flag_or_null").asc_nulls_first())
    )


sql_query(
    "win_range_frames",
    """
SELECT * FROM (
  SELECT o_orderkey,
         round(CAST(sum(o_totalprice) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
           AS near_price_sum,
         count(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
           AS cnt_30d
  FROM orders
) x WHERE o_orderkey < 500 ORDER BY o_orderkey
""",
)
