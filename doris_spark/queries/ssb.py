"""Star Schema Benchmark (SSB) suite adapted to the fixture schema.

The reference ships a full SSB harness (tools/ssb-tools/ssb-queries/
q1.1-q4.3, gated in regression-test/pipeline/performance/run-ssb.sh);
these reproduce all 13 query shapes on the TPC-H-ish fixtures:

- lineorder  := lineitem JOIN orders (l_orderkey = o_orderkey)
- d_year     := year(o_orderdate)      (the dates dim, derived)
- lo_revenue := l_extendedprice * (1 - l_discount)
- lo_supplycost := l_extendedprice * (0.4 + 0.05*((l_partkey*7 +
  l_suppkey) % 10))   (same deterministic hash family as _partsupp)
- p_category := p_type; p_mfgr analog := p_type membership
- regions/nations through supplier/customer -> nation -> region
- city := n_name || '_' || (key % 5)   (fixture has no city column)

A query registered with `sql_query` is its oracle text run through
Engine.sql, planned by Catalyst. Scale notes for the DataFrame builders
kept here: each is the canonical SSB plan — fact scan with
pushed-down dim filters, BROADCAST dimension joins (nation/region/part/
supplier are bounded), one partial+final aggregate, ORDER BY on the
grouped keys. No shuffle beyond the group-by; the date dim is derived
from the fact column so there is no date join at all (strictly better
than the reference's).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from doris_spark.queries import query, sql_query, year_between
from doris_spark.session import load_tables

_REV = "l_extendedprice * (1 - l_discount)"
_SUPPLYCOST = "l_extendedprice * (0.4 + 0.05 * ((l_partkey * 7 + l_suppkey) % 10))"
_LINEORDER = f"""
  SELECT l.*, o.o_custkey, o.o_orderdate, year(o.o_orderdate) AS d_year,
         month(o.o_orderdate) AS d_month, weekofyear(o.o_orderdate) AS d_week,
         {_REV} AS lo_revenue, {_SUPPLYCOST} AS lo_supplycost
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


def _lineorder(t) -> DataFrame:
    li, o = t["lineitem"], t["orders"]
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("d_year", F.year("o_orderdate"))
        .withColumn("d_month", F.month("o_orderdate"))
        .withColumn("d_week", F.weekofyear("o_orderdate"))
        .withColumn("lo_revenue", F.expr(_REV))
        .withColumn("lo_supplycost", F.expr(_SUPPLYCOST))
    )


def _supp_geo(spark, sf_dir, t) -> DataFrame:
    # nation/region are BOUNDED dims: resolved via literal-map dictionary
    # lookups (functions/dicts.nation_geo_exprs, the Doris dict_get tier)
    # instead of two broadcast joins — two fewer BroadcastExchange builds
    # per query, identical inner-join semantics via the NOT NULL filter.
    from doris_spark.functions.dicts import nation_geo_exprs

    n_name, r_name = nation_geo_exprs(spark, sf_dir, F.col("s_nationkey"))
    return (
        t["supplier"]
        .select(
            "s_suppkey",
            n_name.alias("s_nation"),
            r_name.alias("s_region"),
            F.concat_ws("_", n_name, (F.col("s_suppkey") % 5).cast("string")).alias("s_city"),
        )
        .filter(F.col("s_nation").isNotNull() & F.col("s_region").isNotNull())
    )


def _cust_geo(spark, sf_dir, t) -> DataFrame:
    from doris_spark.functions.dicts import nation_geo_exprs

    n_name, r_name = nation_geo_exprs(spark, sf_dir, F.col("c_nationkey"))
    return (
        t["customer"]
        .select(
            "c_custkey",
            n_name.alias("c_nation"),
            r_name.alias("c_region"),
            F.concat_ws("_", n_name, (F.col("c_custkey") % 5).cast("string")).alias("c_city"),
        )
        .filter(F.col("c_nation").isNotNull() & F.col("c_region").isNotNull())
    )


_SUPP_GEO_SQL = """
  SELECT s_suppkey, n_name AS s_nation, r_name AS s_region,
         n_name || '_' || CAST(s_suppkey % 5 AS VARCHAR) AS s_city
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
"""
_CUST_GEO_SQL = """
  SELECT c_custkey, n_name AS c_nation, r_name AS c_region,
         n_name || '_' || CAST(c_custkey % 5 AS VARCHAR) AS c_city
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
"""


# ------------------------------------------------------------- flight 1

@query(
    "ssb_q1_1",
    oracle=f"""
WITH lineorder AS ({_LINEORDER})
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineorder
WHERE d_year = 1995 AND l_discount BETWEEN 0.01 AND 0.03 AND l_quantity < 25
""",
)
def ssb_q1_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q1.1 (tools/ssb-tools/ssb-queries/q1.1.sql): one-year discount
    revenue probe. Filters push to the fact scan; the orders join is the
    only shuffle."""
    lo = _lineorder(load_tables(spark, sf_dir))
    return lo.filter(
        year_between("o_orderdate", 1995)
        & F.col("l_discount").between(0.01, 0.03)
        & (F.col("l_quantity") < 25)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


sql_query(
    "ssb_q1_2",
    f"""
WITH lineorder AS ({_LINEORDER})
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineorder
WHERE d_year = 1996 AND d_month = 1
  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity BETWEEN 26 AND 35
""",
)


@query(
    "ssb_q1_3",
    oracle=f"""
WITH lineorder AS ({_LINEORDER})
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineorder
WHERE d_year = 1996 AND d_week = 6
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity BETWEEN 26 AND 35
""",
)
def ssb_q1_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q1.3: one-week probe (weeknuminyear filter)."""
    lo = _lineorder(load_tables(spark, sf_dir))
    # exact ISO-week predicate kept; redundant year range added purely
    # for parquet row-group skipping (guide §6)
    return lo.filter(
        year_between("o_orderdate", 1996)
        & (F.col("d_year") == 1996) & (F.col("d_week") == 6)
        & F.col("l_discount").between(0.05, 0.07)
        & F.col("l_quantity").between(26, 35)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


# ------------------------------------------------------------- flight 2

def _flight2(spark, sf_dir, part_pred, part_pred_sql):
    t = load_tables(spark, sf_dir)
    lo = _lineorder(t)
    sg = _supp_geo(spark, sf_dir, t)
    out = (
        lo.join(F.broadcast(t["part"].filter(part_pred)), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sg.filter(F.col("s_region") == "AMERICA")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("d_year", "p_brand")
        .agg(F.round(F.sum("lo_revenue"), 2).alias("revenue"))
        .orderBy("d_year", "p_brand")
    )
    return out


def _flight2_sql(part_pred_sql):
    return f"""
WITH lineorder AS ({_LINEORDER}), sg AS ({_SUPP_GEO_SQL})
SELECT d_year, p_brand, round(sum(lo_revenue), 2) AS revenue
FROM lineorder
JOIN part ON l_partkey = p_partkey
JOIN sg ON l_suppkey = s_suppkey
WHERE {part_pred_sql} AND s_region = 'AMERICA'
GROUP BY d_year, p_brand
ORDER BY d_year, p_brand
"""


@query("ssb_q2_1", oracle=_flight2_sql("p_type = 'ECONOMY'"))
def ssb_q2_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q2.1: revenue per (year, brand), one part category, one
    supplier region. Both dims broadcast."""
    return _flight2(spark, sf_dir, F.col("p_type") == "ECONOMY", None)


@query("ssb_q2_2", oracle=_flight2_sql("p_brand BETWEEN 'Brand#21' AND 'Brand#24'"))
def ssb_q2_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q2.2: brand-range filter."""
    return _flight2(
        spark, sf_dir, F.col("p_brand").between("Brand#21", "Brand#24"), None
    )


@query("ssb_q2_3", oracle=_flight2_sql("p_brand = 'Brand#3'"))
def ssb_q2_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q2.3: single-brand probe."""
    return _flight2(spark, sf_dir, F.col("p_brand") == "Brand#3", None)


# ------------------------------------------------------------- flight 3

def _flight3(spark, sf_dir, cg_col, sg_col, cg_pred, sg_pred, years, order_rev=True):
    t = load_tables(spark, sf_dir)
    lo = _lineorder(t)
    cg = _cust_geo(spark, sf_dir, t).filter(cg_pred)
    sg = _supp_geo(spark, sf_dir, t).filter(sg_pred)
    out = (
        lo.filter(year_between("o_orderdate", years[0], years[1]))
        .join(cg, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sg), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(cg_col, sg_col, "d_year")
        .agg(F.round(F.sum("lo_revenue"), 2).alias("revenue"))
    )
    if order_rev:
        out = out.orderBy(F.asc("d_year"), F.desc("revenue"), cg_col, sg_col)
    return out


def _flight3_sql(cg_col, sg_col, cg_pred, sg_pred, years):
    return f"""
WITH lineorder AS ({_LINEORDER}), cg AS ({_CUST_GEO_SQL}), sg AS ({_SUPP_GEO_SQL})
SELECT {cg_col}, {sg_col}, d_year, round(sum(lo_revenue), 2) AS revenue
FROM lineorder
JOIN cg ON o_custkey = c_custkey
JOIN sg ON l_suppkey = s_suppkey
WHERE {cg_pred} AND {sg_pred} AND d_year BETWEEN {years[0]} AND {years[1]}
GROUP BY {cg_col}, {sg_col}, d_year
ORDER BY d_year ASC, revenue DESC, {cg_col}, {sg_col}
"""


@query("ssb_q3_1", oracle=_flight3_sql(
    "c_nation", "s_nation", "c_region = 'ASIA'", "s_region = 'ASIA'", (1995, 1998)))
def ssb_q3_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q3.1: intra-region (ASIA) trade volume per nation pair/year."""
    return _flight3(
        spark, sf_dir, "c_nation", "s_nation",
        F.col("c_region") == "ASIA", F.col("s_region") == "ASIA", (1995, 1998),
    )


@query("ssb_q3_2", oracle=_flight3_sql(
    "c_city", "s_city", "c_nation = 'NATION_7'", "s_nation = 'NATION_7'", (1995, 1998)))
def ssb_q3_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q3.2: city-pair volume within one nation."""
    return _flight3(
        spark, sf_dir, "c_city", "s_city",
        F.col("c_nation") == "NATION_7", F.col("s_nation") == "NATION_7", (1995, 1998),
    )


@query("ssb_q3_3", oracle=_flight3_sql(
    "c_city", "s_city",
    "c_city IN ('NATION_7_1', 'NATION_7_2')",
    "s_city IN ('NATION_7_1', 'NATION_7_2')", (1995, 1998)))
def ssb_q3_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q3.3: two specific cities."""
    cities = ["NATION_7_1", "NATION_7_2"]
    return _flight3(
        spark, sf_dir, "c_city", "s_city",
        F.col("c_city").isin(cities), F.col("s_city").isin(cities), (1995, 1998),
    )


@query("ssb_q3_4", oracle=_flight3_sql(
    "c_city", "s_city",
    "c_city IN ('NATION_7_1', 'NATION_7_2')",
    "s_city IN ('NATION_7_1', 'NATION_7_2')", (1997, 1997)))
def ssb_q3_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q3.4: two cities, one month-ish slice (year 1997 here)."""
    cities = ["NATION_7_1", "NATION_7_2"]
    return _flight3(
        spark, sf_dir, "c_city", "s_city",
        F.col("c_city").isin(cities), F.col("s_city").isin(cities), (1997, 1997),
    )


# ------------------------------------------------------------- flight 4

@query("ssb_q4_1", oracle=f"""
WITH lineorder AS ({_LINEORDER}), cg AS ({_CUST_GEO_SQL}), sg AS ({_SUPP_GEO_SQL})
SELECT d_year, c_nation, round(sum(lo_revenue - lo_supplycost), 2) AS profit
FROM lineorder
JOIN cg ON o_custkey = c_custkey
JOIN sg ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND p_type IN ('ECONOMY', 'STANDARD')
GROUP BY d_year, c_nation
ORDER BY d_year, c_nation
""")
def ssb_q4_1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q4.1: profit by (year, customer nation) across two part
    'manufacturers' (p_type classes on the fixture)."""
    t = load_tables(spark, sf_dir)
    lo = _lineorder(t)
    cg = _cust_geo(spark, sf_dir, t).filter(F.col("c_region") == "AMERICA")
    sg = _supp_geo(spark, sf_dir, t).filter(F.col("s_region") == "AMERICA")
    p = t["part"].filter(F.col("p_type").isin("ECONOMY", "STANDARD"))
    return (
        lo.join(cg, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sg), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("d_year", "c_nation")
        .agg(F.round(F.sum(F.col("lo_revenue") - F.col("lo_supplycost")), 2).alias("profit"))
        .orderBy("d_year", "c_nation")
    )


@query("ssb_q4_2", oracle=f"""
WITH lineorder AS ({_LINEORDER}), cg AS ({_CUST_GEO_SQL}), sg AS ({_SUPP_GEO_SQL})
SELECT d_year, s_nation, p_type,
       round(sum(lo_revenue - lo_supplycost), 2) AS profit
FROM lineorder
JOIN cg ON o_custkey = c_custkey
JOIN sg ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE c_region = 'AMERICA' AND s_region = 'AMERICA'
  AND d_year IN (1997, 1998) AND p_type IN ('ECONOMY', 'STANDARD')
GROUP BY d_year, s_nation, p_type
ORDER BY d_year, s_nation, p_type
""")
def ssb_q4_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q4.2: q4.1 drilled into (supplier nation, part category) for
    two years."""
    t = load_tables(spark, sf_dir)
    lo = _lineorder(t).filter(year_between("o_orderdate", 1997, 1998))
    cg = _cust_geo(spark, sf_dir, t).filter(F.col("c_region") == "AMERICA")
    sg = _supp_geo(spark, sf_dir, t).filter(F.col("s_region") == "AMERICA")
    p = t["part"].filter(F.col("p_type").isin("ECONOMY", "STANDARD"))
    return (
        lo.join(cg, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sg), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("d_year", "s_nation", "p_type")
        .agg(F.round(F.sum(F.col("lo_revenue") - F.col("lo_supplycost")), 2).alias("profit"))
        .orderBy("d_year", "s_nation", "p_type")
    )


@query("ssb_q4_3", oracle=f"""
WITH lineorder AS ({_LINEORDER}), cg AS ({_CUST_GEO_SQL}), sg AS ({_SUPP_GEO_SQL})
SELECT d_year, s_city, p_brand,
       round(sum(lo_revenue - lo_supplycost), 2) AS profit
FROM lineorder
JOIN cg ON o_custkey = c_custkey
JOIN sg ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE s_nation = 'NATION_7' AND d_year IN (1997, 1998)
  AND p_type = 'ECONOMY'
GROUP BY d_year, s_city, p_brand
ORDER BY d_year, s_city, p_brand
""")
def ssb_q4_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSB q4.3: finest drill — (year, supplier city, brand) profit."""
    t = load_tables(spark, sf_dir)
    lo = _lineorder(t).filter(year_between("o_orderdate", 1997, 1998))
    cg = _cust_geo(spark, sf_dir, t)
    sg = _supp_geo(spark, sf_dir, t).filter(F.col("s_nation") == "NATION_7")
    p = t["part"].filter(F.col("p_type") == "ECONOMY")
    return (
        lo.join(cg, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sg), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("d_year", "s_city", "p_brand")
        .agg(F.round(F.sum(F.col("lo_revenue") - F.col("lo_supplycost")), 2).alias("profit"))
        .orderBy("d_year", "s_city", "p_brand")
    )
